package perfbench

import scala.language.implicitConversions

/** Minimal JSON values for the harness's raw output file. */
object Json {
  sealed trait Value { def render: String }
  final case class Num(v: Double) extends Value {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else java.lang.Double.toString(v)
  }
  final case class Str(v: String) extends Value {
    def render: String = {
      val sb = new StringBuilder("\"")
      v.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
      sb.result()
    }
  }
  final case class Bool(v: Boolean) extends Value { def render: String = v.toString }
  final case class Arr(vs: Value*) extends Value {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kvs: (String, Value)*) extends Value {
    def render: String =
      kvs.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }

  implicit def fromInt(v: Int): Value = Num(v.toDouble)
  implicit def fromLong(v: Long): Value = Num(v.toDouble)
  implicit def fromDouble(v: Double): Value = Num(v)
  implicit def fromString(v: String): Value = Str(v)
  implicit def fromBoolean(v: Boolean): Value = Bool(v)
  implicit def fromDoubles(vs: Seq[Double]): Value = Arr(vs.map(Num(_)): _*)
}
