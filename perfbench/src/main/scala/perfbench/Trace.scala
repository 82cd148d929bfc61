package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in milliseconds with sub-millisecond resolution: Spark's
  * listener events carry epoch milliseconds, so every record the benchmark
  * keeps uses the same base. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans kept in memory and written when the run ends. A span's parent is
  * another span's id. Jobs name their job group as parent, or
  * `batch:<run id>:<batch id>` for micro-batch jobs; the links are resolved
  * when the run is assembled. */
final class Spans(enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new AtomicLong()

  def add(id: String, name: String, parent: String, startMs: Double, endMs: Double): Unit =
    if (enabled) done.add(Map("id" -> id, "name" -> name, "parent" -> parent,
      "start_ms" -> startMs, "end_ms" -> endMs))

  /** Runs `body` inside a span; `body` receives the span's id, which callers
    * use as a Spark job group so the jobs it starts are parented to it. */
  def apply[T](name: String, parent: String = "")(body: String => T): T = {
    val id = s"s${ids.incrementAndGet()}"
    val t0 = Clock.ms()
    try body(id) finally add(id, name, parent, t0, Clock.ms())
  }

  def all: Seq[Map[String, Any]] = done.asScala.toSeq
}

/** Listeners for the traced run: per-task, per-job and per-stage records
  * from the `SparkListener` and planning phases from
  * `QueryExecutionListener` (micro-batch progress is kept by [[BatchLog]]).
  * Records are raw; all aggregation happens when the run is assembled. */
final class Probe extends SparkListener with QueryExecutionListener {
  val tasks = new ConcurrentLinkedQueue[Seq[Any]]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Seq[Any]]()
  val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  @volatile private var lastJobEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    val parent = batch match {
      case Some(b) => s"batch:${group}:$b" // the stream thread's job group is its run id
      case None => if (group.nonEmpty) group else ""
    }
    jobStart.put(e.jobId, (e.time.toDouble, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, parent) = Option(jobStart.remove(e.jobId)).getOrElse((e.time.toDouble, ""))
    jobs.add(Map("id" -> s"job${e.jobId}", "parent" -> parent, "start_ms" -> start,
      "end_ms" -> e.time.toDouble, "ok" -> (e.jobResult == JobSucceeded)))
    lastJobEnd = e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(Seq(e.stageInfo.stageId, e.stageInfo.numTasks,
      e.stageInfo.completionTime.getOrElse(0L).toDouble))

  /** One row per task: stage, finish time (ms), run ms, CPU ns, GC ms,
    * shuffle bytes written and read, fetch wait ms, bytes spilled, peak
    * execution memory, input bytes and records, succeeded. */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    val end = e.taskInfo.finishTime.toDouble
    if (m == null) tasks.add(Seq(e.stageId, end, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, ok))
    else {
      val sr = m.shuffleReadMetrics
      tasks.add(Seq(e.stageId, end, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, sr.localBytesRead + sr.remoteBytesRead,
        sr.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, ok))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    phases.add(Map("func" -> funcName, "at_ms" -> Clock.ms()) ++
      Seq("analysis", "optimization", "planning").map(k => k -> p.get(k).map(_.durationMs).getOrElse(0L)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Blocks until every listener event posted before the call has been
    * delivered: a marker job's end event follows them on the same queue. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-marker", "listener drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val marker = sc.statusTracker.getJobIdsForGroup("perfbench-marker").max
    val deadline = System.nanoTime() + 30000000000L
    while (lastJobEnd < marker && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def raw: Map[String, Any] = Map(
    "tasks" -> tasks.asScala.toSeq, "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "phases" -> phases.asScala.toSeq)
}

/** Micro-batch completions of streaming queries. Untraced runs keep only
  * each batch's end offset and the time its progress arrived; traced runs
  * also keep the progress fields the per-layer metrics need. */
final class BatchLog extends StreamingQueryListener {
  import StreamingQueryListener._
  @volatile var traced = false
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.add(e.id)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val at = Clock.ms()
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)
    // rows dropped by the watermark are kept in every run: the stream's
    // output check accounts for the planted late events with them
    val base = Map[String, Any]("query" -> p.id.toString, "end_offset" -> end, "done_ms" -> at,
      "dropped" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    batches.add(if (!traced) base else {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq.map { s =>
        Map("name" -> s.operatorName, "rows_total" -> s.numRowsTotal,
          "rows_updated" -> s.numRowsUpdated, "memory_bytes" -> s.memoryUsedBytes,
          "commit_ms" -> s.commitTimeMs, "updates_ms" -> s.allUpdatesTimeMs,
          "removals_ms" -> s.allRemovalsTimeMs, "dropped" -> s.numRowsDroppedByWatermark)
      }
      base ++ Map("run" -> p.runId.toString, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "rows" -> p.numInputRows, "durations" -> d, "state" -> ops)
    })
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  def awaitTerminated(id: java.util.UUID): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (!terminated.contains(id) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def forQuery(id: java.util.UUID): Seq[Map[String, Any]] =
    batches.asScala.toSeq.filter(_("query") == id.toString)
}
