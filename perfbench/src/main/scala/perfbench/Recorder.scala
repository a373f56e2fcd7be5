package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call made by the harness. `op` is the id of the root span the
  * call belongs to (a root's `op` is its own id); `parent` is 0 for roots. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, startNs: Long, endNs: Long)

/** Span recorder and listener bundle for the traced run.
  *
  * Spans come from the harness's own calls into each layer and are kept in
  * memory until the run ends. Listener events (Spark jobs and stages,
  * Catalyst phases, streaming progress) are stored raw with their
  * wall-clock times; run.py places them under spans by time containment,
  * which is exact here because the load is one closed-loop client thread.
  * While inactive, `root`/`span` only evaluate their body. */
final class Recorder(val enabled: Boolean) {
  /** Spans are recorded only while active (the traced passes). */
  @volatile var active = false

  // every time is in ns since this anchor; listener epoch-ms times map
  // onto the same axis
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - anchorNs
  def msToNs(epochMs: Long): Long = (epochMs - anchorMs) * 1000000L

  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[Json.Obj]()
  val stages = new ConcurrentLinkedQueue[Json.Obj]()
  val queries = new ConcurrentLinkedQueue[Json.Obj]()
  val progress = new ConcurrentLinkedQueue[Json.Obj]()

  private def timed[T](layer: String, name: String, root: Boolean)(body: => T): T =
    if (!active) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val (parent, op) =
        if (root || outer.isEmpty) (0L, id) else (outer.head._1, outer.head._2)
      stack.set((id, op) :: outer)
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, op, layer, name, t0, now()))
        stack.set(outer)
      }
    }

  /** A root span: one op or one epoch. */
  def root[T](layer: String, name: String)(body: => T): T =
    timed(layer, name, root = true)(body)

  /** Id of the innermost open root span on this thread (0 outside one). */
  def currentOp: Long = stack.get().headOption.fold(0L)(_._2)

  /** A child span of the innermost open span on this thread. */
  def span[T](layer: String, name: String)(body: => T): T =
    timed(layer, name, root = false)(body)

  // ---- listeners -------------------------------------------------------

  private final class StageAcc {
    var runMs = 0L; var deserMs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var inBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val stageAcc = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobs.add(Json.Obj("id" -> js.jobId, "start_ns" -> msToNs(js.time),
        "stages" -> js.stageInfos.size,
        "group" -> Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse[String]("")))
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs.add(Json.Obj("id" -> je.jobId, "end_ns" -> msToNs(je.time)))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val a = stageAcc.computeIfAbsent(te.stageId, _ => new StageAcc)
        a.synchronized {
          a.runMs += m.executorRunTime
          a.deserMs += m.executorDeserializeTime
          a.gcMs += m.jvmGCTime
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.inBytes += m.inputMetrics.bytesRead
          a.durations += te.taskInfo.duration
        }
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      val a = Option(stageAcc.remove(info.stageId)).getOrElse(new StageAcc)
      val d = a.durations.sorted
      val median = if (d.isEmpty) 0L else d(d.length / 2)
      stages.add(Json.Obj("id" -> info.stageId, "tasks" -> d.length,
        "end_ns" -> msToNs(info.completionTime.getOrElse(System.currentTimeMillis())),
        "run_ms" -> a.runMs, "deser_ms" -> a.deserMs, "gc_ms" -> a.gcMs,
        "shuffle_write_bytes" -> a.shufW, "shuffle_read_bytes" -> a.shufR,
        "input_bytes" -> a.inBytes, "task_max_ms" -> d.lastOption.getOrElse[Long](0L),
        "task_median_ms" -> median))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(funcName, qe)
  }

  private def phases(funcName: String, qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases
    def phase(p: String): Json.Obj = ps.get(p).fold(Json.Obj()) { s =>
      Json.Obj("start_ns" -> msToNs(s.startTimeMs), "end_ns" -> msToNs(s.endTimeMs))
    }
    queries.add(Json.Obj("func" -> funcName, "analysis" -> phase("analysis"),
      "optimization" -> phase("optimization"), "planning" -> phase("planning")))
  }

  /** Catalyst phases of a DataFrame the harness built: its eager analysis
    * runs inside the build call, outside any action the listener sees. */
  def built(df: org.apache.spark.sql.DataFrame): Unit =
    if (active) phases("build", df.queryExecution)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val durs = p.durationMs.asScala.map { case (k, v) => k -> Json.Num(v.toDouble) }
      val st = p.stateOperators
      progress.add(Json.Obj("batch" -> p.batchId, "start_ns" -> msToNs(start),
        "rows" -> p.numInputRows, "durations" -> Json.Obj(durs.toSeq: _*),
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum))
    }
  }

  /** Register the listener bundle on a session (no-op when disabled).
    * Events still queued on the listener bus are delivered when the
    * session stops, so the bundle stays attached until then. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def toJson: Json.Obj = Json.Obj(
    "spans" -> Json.Arr(spans.asScala.toSeq.map(s => Json.Obj("id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)): _*),
    "jobs" -> Json.Arr(jobs.asScala.toSeq: _*),
    "stages" -> Json.Arr(stages.asScala.toSeq: _*),
    "queries" -> Json.Arr(queries.asScala.toSeq: _*),
    "progress" -> Json.Arr(progress.asScala.toSeq: _*))
}

object Recorder {
  /** Files the executed plan's scans read: file-source scans report it as a
    * metric, DSv2 file scans as the files of their input partitions. None
    * when the plan has no file scan. */
  def filesRead(plan: SparkPlan): Option[Long] = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case other if other.children.isEmpty => Seq(other)
      case other => other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves)
    }
    val counts = leaves(plan).collect {
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value)
      case b: BatchScanExec => Some(b.inputPartitions.collect {
        case fp: FilePartition => fp.files.length.toLong
      }.sum)
    }.flatten
    if (counts.isEmpty) None else Some(counts.sum)
  }
}
