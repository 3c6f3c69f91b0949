package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of wall-clock time, in epoch milliseconds, at one layer
  * boundary. `key` is unique within a run; `parent` is the key of the span
  * that caused it. All spans of one run carry the same run id on output. */
final case class Span(key: String, parent: String, kind: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** Wall clock with sub-millisecond resolution: epoch ms, advanced by nanoTime. */
object Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** Micro-batch progress, kept for every streaming query in every run: the
  * end-to-end metrics of the streaming workloads are read from it. */
final case class Batch(queryId: String, batchId: Long, startMs: Double,
    durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateMemBytes: Long, stateCommitMs: Long, stateUpdateMs: Long) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  def toMap: Map[String, Any] = Map("query" -> queryId, "batch" -> batchId, "start" -> startMs,
    "end" -> endMs, "rows" -> inputRows, "durations" -> durations,
    "state_rows" -> stateRows, "state_mem_bytes" -> stateMemBytes,
    "state_commit_ms" -> stateCommitMs, "state_update_ms" -> stateUpdateMs)
}

/** Keeps the progress of every micro-batch that read input, and a running
  * input-row count per query. */
class ProgressRecorder extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val rowsSeen = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  def rows(queryId: String): Long = rowsSeen.getOrDefault(queryId, 0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val st = p.stateOperators
    if (p.numInputRows > 0) {
      rowsSeen.merge(p.id.toString, p.numInputRows, (a: Long, b: Long) => a + b)
      batches.add(Batch(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      st.map(_.commitTimeMs).sum, st.map(_.allUpdatesTimeMs).sum))
    }
  }
  def of(queryId: String): Seq[Batch] =
    batches.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)
}

/**
 * Span and counter collection for a traced run: the benchmark's own
 * SparkListener (jobs, stages), QueryExecutionListener (planning phases)
 * and harness-side spans around each call into a layer. Everything is kept
 * in memory and written out once, after the measured phase.
 *
 * A job's parent is taken from the local property [[ParentProp]] when the
 * harness set one on the calling thread, else from the streaming
 * micro-batch that launched it (`batch:<queryId>:<batchId>`).
 */
class Tracer(val enabled: Boolean) {
  import Tracer._
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, (String, Double)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val planMs = new AtomicLong(0)
  @volatile private var active = false

  /** Times `body` as a span; the span is kept only while attached, so with
    * tracing off (or outside the measured phase) only the timing is returned. */
  def span[T](spark: SparkSession, key: String, parent: String, kind: String,
      attrs: Map[String, Any] = Map.empty)(body: => T): (T, Double, Double) = {
    val sc = spark.sparkContext
    val on = active
    val saved = sc.getLocalProperty(ParentProp)
    if (on) sc.setLocalProperty(ParentProp, key)
    val t0 = Clock.nowMs
    try {
      val r = body
      val t1 = Clock.nowMs
      if (on) spans.add(Span(key, parent, kind, t0, t1, attrs))
      (r, t0, t1)
    } finally if (on) sc.setLocalProperty(ParentProp, saved)
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val parent = prop(ParentProp).orElse(
        for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
          yield s"batch:$q:$b").getOrElse("")
      jobParent.put(e.jobId, (parent, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobParent.remove(e.jobId)).foreach { case (parent, start) =>
        spans.add(Span(s"job:${e.jobId}", parent, "job", start, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      for (t0 <- si.submissionTime; t1 <- si.completionTime) {
        val job = Option(stageJob.get(si.stageId)).map(j => s"job:$j").getOrElse("")
        spans.add(Span(s"stage:${si.stageId}.${si.attemptNumber()}", job, "stage",
          t0.toDouble, t1.toDouble, Map(
            "tasks" -> si.numTasks,
            "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
            "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
            "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
            "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Registers the planning listener; call before any streaming query
    * starts, since a query's session copies the listeners at its start. */
  def install(spark: SparkSession): Unit =
    if (enabled) spark.listenerManager.register(qeListener)

  def attach(spark: SparkSession): Unit = if (enabled) {
    active = true
    spark.sparkContext.addSparkListener(listener)
  }

  /** Lets the listener bus drain (no new span for 300 ms, at most 10 s),
    * then stops listening. */
  def detach(spark: SparkSession): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    var n = -1
    while (n != spans.size && System.nanoTime() < deadline) {
      n = spans.size; Thread.sleep(300)
    }
    spark.sparkContext.removeSparkListener(listener)
    active = false
  }
}

object Tracer {
  val ParentProp = "perfbench.parent"
}

/** JVM-wide counters read at the edges of the measured phase. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  def heapUsed: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}
