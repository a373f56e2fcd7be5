package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: one workload, closed loop, one client thread.
  *
  * It measures and writes raw samples to `--out` (JSON); run.py turns them
  * into metrics and runs the DuckDB correctness checks. Each run sets up
  * `--setups` times (a fresh session and fresh inputs each time), then runs
  * `--passes` timed passes. The traced run makes half of them untraced and
  * half traced, then repeats the workload at `local[1]` for the
  * parallel-speedup baseline.
  *
  * Usage: Harness --workload W --seed N --passes P --trace 0|1
  *                --data DIR --out FILE --cores C --setups K
  *                --ops OP,... --tables T,...   (SparkEntry query workloads)
  */
object Harness {

  final case class Conf(workload: String, seed: Long, passes: Int,
                        trace: Boolean, data: String, out: String,
                        cores: Int, setups: Int, ops: Seq[String], tables: Seq[String])

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("passes").toInt.max(1),
      m("trace") == "1", m("data"), m("out"), m("cores").toInt,
      m("setups").toInt.max(2), m("ops").split(",").toSeq.filter(_.nonEmpty),
      m("tables").split(",").toSeq.filter(_.nonEmpty))
  }

  def newSession(master: String, shufflePartitions: Int): SparkSession = {
    val cwd = new File(".").getAbsoluteFile.getParentFile
    val spark = graft.Sessions.tuned(SparkSession.builder())
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(cwd, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(cwd, "spark-warehouse").toString)
      // the TxTable catalog, registered the way a deployment's defaults would
      .config("spark.sql.catalog.txspj", classOf[graft.sources.TxTableCatalog].getName)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Copy of the generated inputs under a fresh name, so each setup stages
    * its own artifacts (the engine memoizes staging per input directory). */
  def freshCopy(base: String, tag: String): String = {
    val dst = new File(s"data_$tag").getAbsoluteFile
    val src = Paths.get(base)
    Files.walk(src).forEach { p =>
      val q = dst.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
    dst.toString
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** `count` timed passes. */
  private def passes(spark: SparkSession, wl: Workload, count: Int,
                     first: Int): Seq[Json.Obj] = {
    val out = mutable.ArrayBuffer.empty[Json.Obj]
    while (out.size < count) {
      val (c0, g0, t0) = (cpuSeconds(), gcMillis(), System.nanoTime())
      val samples = wl.pass(spark, first + out.size)
      val wall = (System.nanoTime() - t0) / 1e9
      out += Json.Obj("wall_s" -> wall, "cpu_s" -> (cpuSeconds() - c0),
        "gc_ms" -> (gcMillis() - g0),
        "ops" -> Json.Arr(samples.map(s => Json.Arr(s.name, s.ms, s.ok, s.persisted, s.rows)): _*))
    }
    out.toSeq
  }

  /** Heap in use after a full collection: the least of five, since a
    * reading can include what background threads allocated since the last
    * collection, and references one collection releases are freed by the
    * next. */
  private def liveHeapMb(): Double = {
    val bean = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      bean.getHeapMemoryUsage.getUsed
    }.min / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val rec = new Recorder(conf.trace)
    val wl: Workload =
      if (conf.workload == "txtable_cdc") new CdcWorkload(conf, rec)
      else new QueryWorkload(conf, rec)
    val master = s"local[${conf.cores}]"
    val result = mutable.ArrayBuffer.empty[(String, Json.Value)]
    result += "workload" -> conf.workload
    result += "seed" -> conf.seed
    result += "cores" -> conf.cores
    result += "ops" -> Json.Arr(wl.ops.map(Json.Str): _*)

    // wall seconds of each phase of the run, for the report line
    val phases = mutable.ArrayBuffer.empty[(String, Json.Value)]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases += name -> (System.nanoTime() - t0) / 1e9
    }

    // ---- set-up: session, table footers, untimed warm + staging calls
    val setups = mutable.ArrayBuffer.empty[Double]
    val stages = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    phase("setups") {
      for (k <- 1 to conf.setups) {
        if (spark != null) { wl.release(spark); spark.stop() }
        wl.prepare(k)
        // the first set-up counts from JVM start
        val t0 = if (k == 1) jvmStartMs else System.currentTimeMillis()
        spark = newSession(master, conf.cores)
        stages += wl.setup(spark, k)
        setups += (System.currentTimeMillis() - t0) / 1e3
      }
    }
    result += "setup_s" -> setups.toSeq
    result += "stage_s" -> stages.toSeq

    val timed = phase("passes") {
      if (!conf.trace) {
        passes(spark, wl, conf.passes, first = 0)
      } else {
        val half = (conf.passes / 2).max(1)
        val untraced = passes(spark, wl, half, first = 0)
        result += "untraced_passes" -> Json.Arr(untraced: _*)
        rec.attach(spark)
        rec.active = true
        val traced = passes(spark, wl, half, first = untraced.size)
        rec.active = false
        traced
      }
    }
    result += "passes" -> Json.Arr(timed: _*)
    result += "live_heap_mb" -> phase("heap")(liveHeapMb())

    phase("check") {
      result += "check" -> wl.check(spark)
      result += "workload_data" -> wl.report(spark)
      wl.release(spark)
      spark.stop()
    }

    if (conf.trace) phase("local1") {
      result += "trace" -> rec.toJson
      // single-thread baseline: same workload, fresh inputs, local[1]
      wl.prepare(0)
      val one = newSession("local[1]", 1)
      wl.setup(one, 0)
      val base = passes(one, wl, 1, first = 0)
      result += "local1_passes" -> Json.Arr(base: _*)
      wl.release(one)
      one.stop()
    }
    result += "phases_s" -> Json.Obj(phases.toSeq: _*)

    val w = new java.io.PrintWriter(conf.out, "UTF-8")
    try w.println(Json.Obj(result.toSeq: _*).render) finally w.close()
  }
}
