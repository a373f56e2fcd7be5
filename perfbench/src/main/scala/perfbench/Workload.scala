package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkEntry

/** One timed call: op name, latency, whether it succeeded, and the
  * persisted-RDD count it left behind (before the cache is cleared). */
final case class Sample(name: String, ms: Double, ok: Boolean, persisted: Int,
                        rows: Int = 0)

trait Workload {
  def ops: Seq[String]
  /** Fresh inputs for set-up `k` (1-based; 0 is the `local[1]` baseline).
    * Untimed. */
  def prepare(k: Int): Unit
  /** Untimed warm and staging work on a fresh session: everything before
    * the first timed op. Returns the seconds spent in `SparkEntry` build
    * and execute calls (0 for a workload that makes none). */
  def setup(spark: SparkSession, k: Int): Double
  /** One timed pass; samples in run order. */
  def pass(spark: SparkSession, index: Int): Seq[Sample]
  /** Correctness outputs for run.py, plus any failures found in the JVM. */
  def check(spark: SparkSession): Json.Obj
  /** Workload-specific facts reported once per run. */
  def report(spark: SparkSession): Json.Obj = Json.Obj()
  /** Stop whatever the workload keeps running on `spark`. */
  def release(spark: SparkSession): Unit = ()
}

object Workload {
  /** Time `body` as one op: a root span, with the op's Spark jobs tagged by
    * a job group named after the root span id. */
  def timedOp(spark: SparkSession, rec: Recorder, name: String)(body: => Unit): Sample = {
    val t0 = System.nanoTime()
    val ok =
      try {
        rec.root("client", name) {
          if (rec.active)
            spark.sparkContext.setJobGroup(rec.currentOp.toString, name)
          try body finally if (rec.active) spark.sparkContext.clearJobGroup()
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    Sample(name, ms, ok, spark.sparkContext.getPersistentRDDs.size)
  }
}

/** Named `SparkEntry` queries over generated tables, in a seeded order per
  * pass. Each op builds through `SparkEntry.queries` and writes to `noop`.
  *
  * Outputs are checked during set-up, outside the timed passes: the first
  * set-up writes the oracle-backed outputs for the DuckDB check and keeps
  * the rows of the ops without an oracle; the last set-up, in another
  * session on another copy of the inputs, must return the same rows. */
final class QueryWorkload(conf: Harness.Conf, rec: Recorder) extends Workload {
  val ops: Seq[String] = conf.ops
  private var dir: String = _
  private val outDir = new File("check").getAbsolutePath
  private val oracle = mutable.ArrayBuffer.empty[(String, Json.Value)]
  private val firstRows = mutable.Map.empty[String, Seq[org.apache.spark.sql.Row]]
  private val failures = mutable.ArrayBuffer.empty[Json.Value]

  def prepare(k: Int): Unit = dir = Harness.freshCopy(conf.data, s"d$k")

  private def runOp(spark: SparkSession, name: String,
                    sink: DataFrame => Unit = Harness.noop): Sample = {
    val s = Workload.timedOp(spark, rec, name) {
      val df = rec.span("entry", "build") { SparkEntry.queries(name)(spark, dir) }
      rec.built(df)
      rec.span("driver", "execute") { sink(df) }
    }
    Harness.clearCaches(spark)
    s
  }

  def setup(spark: SparkSession, k: Int): Double = {
    conf.tables.foreach(t => Harness.noop(graft.Tables.load(spark, dir, t)))
    ops.map { name =>
      val sink: DataFrame => Unit = (SparkEntry.oracleSql.get(name), k) match {
        case (Some(sql), 1) => df =>
          df.write.mode("overwrite").parquet(s"$outDir/$name")
          oracle += name -> Json.Str(sql)
        case (None, 1) => df => firstRows(name) = df.collect().toSeq
        case (None, last) if last == conf.setups => df =>
          val rows = df.collect().toSeq
          if (rows.isEmpty || !firstRows.get(name).contains(rows))
            failures += Json.Str(s"$name: output empty or different in another set-up")
        case _ => Harness.noop
      }
      val s = runOp(spark, name, sink)
      if (!s.ok) failures += Json.Str(s"$name: warm call failed in set-up $k")
      s.ms / 1e3
    }.sum
  }

  def pass(spark: SparkSession, index: Int): Seq[Sample] = {
    val order = new scala.util.Random(conf.seed * 7919L + index).shuffle(ops)
    order.map(runOp(spark, _))
  }

  def check(spark: SparkSession): Json.Obj =
    Json.Obj("kind" -> "queries", "dir" -> outDir, "data" -> conf.data,
      "oracle" -> Json.Obj(oracle.toSeq: _*), "failures" -> Json.Arr(failures.toSeq: _*),
      "checked" -> ops.size)
}

/** The Debezium CDC landing job: Kafka-shaped profile changes through
  * Bronze → Silver → equality-delete apply into a TxTable, one epoch at a
  * time, with a head read and a keyed catalog read after each commit, and a
  * change-feed read, a time-travel read, a retention delete (deletion
  * vectors) and an eq-delete fold once per pass.
  *
  * Every set-up (re)starts the landing job on the same table: a new session
  * and a new streaming query, then one warm pass. The table's log therefore
  * keeps growing over the whole run, across checkpoint boundaries. */
final class CdcWorkload(conf: Harness.Conf, rec: Recorder) extends Workload {
  import CdcWorkload._

  val ops: Seq[String] = Seq("epoch", "head_read", "catalog_read", "changes",
    "time_travel", "retention_delete", "fold")

  private val topic = graft.stream.Pipelines.Topics("profiles")
  // epoch 0 is the initial snapshot (streamed like a Debezium snapshot
  // phase); epochs 1.. are the change stream
  private lazy val stream: IndexedSeq[Seq[String]] = generate(conf.seed)

  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var feed: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)] = _
  private var nextEpoch = 0
  private var lastVersion = 0L
  private var columns: Seq[String] = Nil
  private val deletes = mutable.ArrayBuffer.empty[(Int, String)]
  // (files read, live files) of each traced catalog read
  private val scans = mutable.ArrayBuffer.empty[(Long, Int)]

  private val dir = new File("cdc").getAbsolutePath
  private val path = s"$dir/t"
  private val failures = mutable.ArrayBuffer.empty[Json.Value]

  def prepare(k: Int): Unit = ()

  def setup(spark: SparkSession, k: Int): Double = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tag = if (k == 0) "l1" else s"d$k"
    feed = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val silver = graft.stream.Pipelines.silverCustomer(
      graft.stream.Pipelines.bronze(feed.toDF().toDF("value", "topic"))("profiles"))
    if (columns.isEmpty) {
      columns = silver.columns.toSeq
      graft.ops.TxTable.create(spark, path, silver.schema, key = "customer_id",
        nBuckets = Buckets)
    }
    query = graft.stream.Pipelines.cdcApplyEq(silver, path, "customer_id",
      s"$dir/ckpt_$tag", appId = s"perfbench-$tag", nBuckets = Buckets).start()
    pass(spark, -1).filterNot(_.ok).foreach(s =>
      failures += Json.Str(s"${s.name}: warm call failed in set-up $k"))
    0.0
  }

  private def op(spark: SparkSession, name: String, rows: Int = 0)(body: => Unit): Sample =
    Workload.timedOp(spark, rec, name)(body).copy(rows = rows)

  private def epoch(spark: SparkSession): Seq[Sample] = {
    val e = nextEpoch
    require(e < stream.size, s"generated change stream exhausted at epoch $e")
    val rows = stream(e).map(v => (v, topic))
    nextEpoch += 1
    val fed = op(spark, "epoch", rows.size) {
      feed.addData(rows)
      rec.span("stream", "process_all_available") { query.processAllAvailable() }
      lastVersion = rec.span("txtable", "snapshot") {
        graft.ops.TxTable.snapshot(spark, path).version
      }
    }
    val head = op(spark, "head_read") {
      val df = rec.span("txtable", "read") { graft.ops.TxTable.read(spark, path) }
      rec.built(df)
      rec.span("driver", "execute") { Harness.noop(df) }
    }
    val key = f"CUST${customerOf(conf.seed, e, 0)}%05d"
    var df: DataFrame = null
    val keyed = op(spark, "catalog_read") {
      df = rec.span("sources", "catalog_build") {
        spark.table(s"txspj.`$path`").filter(col("customer_id") === key)
      }
      rec.built(df)
      rec.span("driver", "execute") { df.collect() }
    }
    if (rec.active && keyed.ok)
      scans += Recorder.filesRead(df.queryExecution.executedPlan).getOrElse(0L) ->
        graft.ops.TxTable.snapshot(spark, path).entries.size
    Seq(fed, head, keyed)
  }

  /** EpochsPerPass epochs with their reads, then the history reads, the
    * retention delete and the fold. */
  def pass(spark: SparkSession, index: Int): Seq[Sample] = {
    val epochs = (1 to EpochsPerPass).flatMap(_ => epoch(spark))
    val v = lastVersion
    val history = Seq(
      op(spark, "changes") {
        val (df, _) = rec.span("txtable", "changes_since") {
          graft.ops.TxTable.changesSince(spark, path, math.max(0L, v - HistoryVersions))
        }
        rec.built(df)
        rec.span("driver", "execute") { Harness.noop(df) }
      },
      op(spark, "time_travel") {
        val df = rec.span("txtable", "read_version") {
          graft.ops.TxTable.read(spark, path, Some(math.max(0L, v - HistoryVersions)))
        }
        rec.built(df)
        rec.span("driver", "execute") { Harness.noop(df) }
      })
    val last = nextEpoch - 1
    val cutoff = timestampOf(math.max(0, last - RetentionEpochs), 0)
    val maintenance = Seq(
      op(spark, "retention_delete") {
        rec.span("txtable", "delete_where_mor") {
          graft.ops.TxTable.deleteWhereMor(spark, path,
            col("event_time") < lit(cutoff).cast("timestamp"))
        }
      },
      op(spark, "fold") {
        rec.span("txtable", "fold_eq_deletes") { graft.ops.TxTable.foldEqDeletes(spark, path) }
      })
    deletes += last -> cutoff
    epochs ++ history ++ maintenance
  }

  /** The final table through both read paths: the head read, and a keyed
    * catalog read of the last epoch's customers. */
  def check(spark: SparkSession): Json.Obj = {
    val outDir = new File("check").getAbsolutePath
    val keys = (0 until RowsPerEpoch).map(t => f"CUST${customerOf(conf.seed, nextEpoch - 1, t)}%05d")
    try {
      graft.ops.TxTable.read(spark, path).select(columns.map(col): _*)
        .write.mode("overwrite").parquet(s"$outDir/cdc_final")
      spark.table(s"txspj.`$path`").filter(col("customer_id").isin(keys: _*))
        .select(columns.map(col): _*).write.mode("overwrite").parquet(s"$outDir/cdc_catalog")
    } catch { case e: Exception => failures += Json.Str(s"final read: $e") }
    val epochs = (0 until nextEpoch).map(e => Json.Arr(stream(e).map(Json.Str): _*))
    Json.Obj("kind" -> "cdc", "dir" -> outDir, "epochs" -> Json.Arr(epochs: _*),
      "deletes" -> Json.Arr(deletes.toSeq.map { case (e, c) => Json.Arr(e, c) }: _*),
      "keys" -> Json.Arr(keys.map(Json.Str): _*),
      "failures" -> Json.Arr(failures.toSeq: _*), "checked" -> 2)
  }

  override def report(spark: SparkSession): Json.Obj = {
    val snap = graft.ops.TxTable.snapshot(spark, path)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(path))
    val logBytes = files.filter(_.getPath.contains("/_txlog/")).map(_.length).sum
    Json.Obj("versions" -> snap.version, "live_files" -> snap.entries.size,
      "log_bytes" -> logBytes, "table_bytes" -> files.map(_.length).sum,
      "live_rows" -> graft.ops.TxTable.read(spark, path).count(),
      "epochs" -> nextEpoch,
      "scans" -> Json.Arr(scans.toSeq.map { case (f, l) => Json.Arr(f, l) }: _*))
  }

  override def release(spark: SparkSession): Unit =
    if (query != null) { query.stop(); query = null }
}

object CdcWorkload {
  val Population = 400
  val InitialRows = 200
  val RowsPerEpoch = 40
  val EpochsPerPass = 1
  /** How far back (in versions) the change-feed and time-travel reads go. */
  val HistoryVersions = 5
  val RetentionEpochs = 6
  val Buckets = 8
  /** Generated epochs; a run consumes as many as its time allows. */
  val MaxEpochs = 1000

  private val baseMillis = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Event second (from the base) of row `t` in epoch `e`: increasing over
    * the whole stream, so no row is late for the watermark. */
  def secondOf(e: Int, t: Int): Long =
    if (e == 0) t - InitialRows else (e - 1).toLong * RowsPerEpoch + t

  def timestampOf(e: Int, t: Int): String =
    new java.sql.Timestamp(baseMillis + secondOf(e, t) * 1000L).toString.takeWhile(_ != '.')

  /** Customer index of row `t` in epoch `e`: distinct within an epoch. */
  def customerOf(seed: Long, e: Int, t: Int): Int = permutation(seed, e)(t)

  private def permutation(seed: Long, e: Int): Vector[Int] =
    new scala.util.Random(seed * 1000003L + e).shuffle((0 until Population).toVector)

  /** The seeded change stream as Kafka wire values, epoch by epoch.
    * ChurnDataGen supplies the rows (including its dirty and duplicate
    * rows); ids are remapped onto the bounded population and event times
    * onto the stream's clock. */
  def generate(seed: Long): IndexedSeq[Seq[String]] =
    (0 until MaxEpochs).map { e =>
      val n = if (e == 0) InitialRows else RowsPerEpoch
      val perm = permutation(seed, e)
      val batch = graft.gen.ChurnDataGen.generate(n, seed * 7L + e)
      batch.profiles.map { p =>
        val t = ((p.event_time.getTime - baseMillis) / 1000L).toInt
        graft.gen.ChurnDataGen.profileJson(p.copy(
          customer_id = f"CUST${perm(t)}%05d",
          event_time = new java.sql.Timestamp(baseMillis + secondOf(e, t) * 1000L)))
      }
    }
}
