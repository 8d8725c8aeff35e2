package ingestbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Epoch microseconds from a monotonic clock anchored once per JVM, so the
  * generator's stamps, the sink's commit instants and the spans all share
  * one time base that never steps backwards. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** One timed interval. `parent` is 0 when the parent is left for the
  * reader to resolve by containment (Spark jobs: the listener cannot see
  * which benchmark call started them). */
final case class Span(
    id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Any])

/** In-memory span recorder. Spans are kept until the run writes them out;
  * with tracing off nothing is recorded and no listener is installed. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids   = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Spans are recorded only while billed work runs (not warm passes). */
  @volatile var recording = false

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled && recording) spans.add(s)

  /** Time `body` as a span under `parent`; the body gets the span id. */
  def span[A](name: String, parent: Long, attrs: Map[String, Any] = Map.empty)(
      body: Long => A): A = {
    val id = newId()
    val t0 = Clock.nowUs
    try body(id)
    finally add(Span(id, parent, name, t0, Clock.nowUs, attrs))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startUs)
}

/** One StreamingQueryProgress, reduced to what the metrics need. */
final case class Progress(
    query: String, runId: String, batchId: Long, startUs: Long,
    rows: Long, durationsMs: Map[String, Long])

/** Streaming progress and termination, recorded from Spark's own reports.
  * Always installed: resubscribe time and the engine breakdown come from
  * here. With tracing on it also turns each batch into spans. */
final class ProgressRecorder(tracer: Tracer) extends StreamingQueryListener {
  val progress     = new ConcurrentLinkedQueue[Progress]()
  /** (query name, run id, epoch µs, failed?) per termination. */
  val terminations = new ConcurrentLinkedQueue[(String, String, Long, Boolean)]()
  /** Run id → epoch µs of its first progress report. */
  val firstProgress = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val names = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Parent span for batch spans: the benchmark call running the stream. */
  @volatile var parent = 0L

  // The engine runs these phases of a batch in this order; durationMs
  // carries only their lengths, so the trace lays them end to end.
  private val phases = Seq(
    "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    names.put(e.runId.toString, Option(e.name).getOrElse(""))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p   = e.progress
    val now = Clock.nowUs
    firstProgress.putIfAbsent(p.runId.toString, now)
    val dm = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp)
    val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000
    val rec = Progress(Option(p.name).getOrElse(""), p.runId.toString,
      p.batchId, startUs, p.numInputRows, dm)
    if (tracer.recording) progress.add(rec)
    if (tracer.enabled && dm.contains("addBatch")) {
      val batch = tracer.newId()
      var t = startUs
      phases.foreach { ph =>
        dm.get(ph).filter(_ > 0).foreach { ms =>
          tracer.add(Span(tracer.newId(), batch, s"stream.$ph", t, t + ms * 1000,
            Map("batchId" -> p.batchId)))
          t += ms * 1000
        }
      }
      tracer.add(Span(batch, parent, "stream.batch", startUs,
        startUs + dm.getOrElse("triggerExecution", 0L) * 1000,
        Map("batchId" -> p.batchId, "rows" -> p.numInputRows,
          "query" -> rec.query)))
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    terminations.add((names.getOrDefault(e.runId.toString, ""),
      e.runId.toString, Clock.nowUs, e.exception.isDefined))
}

/** Spark job and stage spans, stages carrying their task metrics.
  * Installed only when tracing. */
final class StageRecorder(tracer: Tracer) extends SparkListener {
  private val jobSpan  = mutable.Map.empty[Int, (Long, Long)] // job → (span id, start µs)
  private val stageJob = mutable.Map.empty[Int, Long]         // stage → job span id

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = tracer.newId()
    jobSpan(e.jobId) = (id, e.time * 1000)
    e.stageIds.foreach(s => stageJob(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, t0) =>
      tracer.add(Span(id, 0L, "spark.job", t0, e.time * 1000,
        Map("jobId" -> e.jobId)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    for (a <- i.submissionTime; b <- i.completionTime) {
      tracer.add(Span(tracer.newId(), stageJob.getOrElse(i.stageId, 0L),
        "spark.stage", a * 1000, b * 1000,
        Map(
          "stageId"            -> i.stageId,
          "tasks"              -> i.numTasks,
          "run_ms"             -> m.executorRunTime,
          "cpu_ns"             -> m.executorCpuTime,
          "gc_ms"              -> m.jvmGCTime,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes"-> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes"        -> (m.memoryBytesSpilled + m.diskBytesSpilled))))
    }
  }
}

object Trace {
  /** Install the recorders on a session; the stage recorder only when
    * tracing, so an untraced run pays for no SparkListener. */
  def install(spark: SparkSession, tracer: Tracer): ProgressRecorder = {
    val pr = new ProgressRecorder(tracer)
    spark.streams.addListener(pr)
    if (tracer.enabled) spark.sparkContext.addSparkListener(new StageRecorder(tracer))
    pr
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.ingestbench.Bus.waitUntilEmpty(spark.sparkContext)
}
