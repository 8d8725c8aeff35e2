package ingestbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.sources.kinesislike.{EventStreamFraming, KinesisLikeLog}

/** What every workload needs: the session, the recorders, the seed and
  * window, and a scratch directory inside the checkout. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val progress: ProgressRecorder,
    val seed: Long,
    val seconds: Int,
    val work: File) {

  @volatile var rootSpan = 0L
  /** Per-layer values measured outside the billed window. */
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  /** Run `f(0) … f(warmups - 1)` as unbilled warm passes, then billed
    * iterations until the window is spent (at least one). */
  def iterate(warmups: Int)(f: Int => Map[String, Any]): Map[String, Any] = {
    val warm = (0 until warmups).map(f)
    billed(true)
    val t0 = System.nanoTime()
    val rows = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    while (rows.isEmpty || windowLeft(t0)) rows += f(warmups + rows.size)
    billed(false)
    Map("warm" -> warm, "billed" -> rows.toSeq)
  }

  /** Whether the window that opened at `t0` (System.nanoTime) has time left. */
  def windowLeft(t0: Long): Boolean = (System.nanoTime() - t0) / 1e9 < seconds

  /** The billed window, epoch µs; the trace's `workload` span covers it. */
  @volatile var billedFromUs = 0L
  @volatile var billedToUs   = 0L

  /** Start or stop recording billed work. */
  def billed(on: Boolean): Unit = {
    Trace.drain(spark)
    tracer.recording = on
    if (on) billedFromUs = Clock.nowUs else billedToUs = Clock.nowUs
  }

  /** Fields every supervised stream reports. */
  def ingestRow(ingest: Ingest, startUs: Long): Map[String, Any] = {
    val runs = ingest.started.asScala.toSeq.map(_.runId.toString)
    val first = progress.firstProgress.asScala
    val failedAt = progress.terminations.asScala
      .collect { case (n, run, t, true) if n == ingest.name => run -> t }.toMap
    Map(
      "retries"       -> ingest.retries,
      "retry_classes" -> ingest.runner.errorLog.map(_._1),
      "commits"       -> ingest.commits.asScala.map { case (b, t) => b.toString -> t }.toMap,
      "applies"       -> ingest.applies.asScala.toSeq.map { case (b, a, e) => Seq(b, a, e) },
      // From a failed run's termination to the next run's first report.
      "resubscribe_ms" -> runs.sliding(2).collect {
        case Seq(a, b) if failedAt.contains(a) && first.contains(b) =>
          (first(b) - failedAt(a)) / 1e3
      }.toSeq,
      // The registry turns ready at the stream's first report, from
      // whichever run made it.
      "time_to_ready_ms" -> runs.flatMap(first.get).sorted.headOption
        .map(t => (t - startUs) / 1e3).toSeq)
  }

  /** Framing and metadata costs of a log, measured single-threaded and
    * cold, outside the billed window: a `FramedEventSource.readEvent` pass
    * over every shard, and an `invalidateMeta` + `prefetchMeta` scan.
    * `fillerBytes` of page padding are left out of the size. */
  def framingPass(logDir: File, fillerBytes: Long = 0L): Unit = if (tracer.enabled) {
    val shards = KinesisLikeLog.shardFiles(logDir.getAbsolutePath)
    var records = 0L
    val t0 = System.nanoTime()
    shards.foreach { f =>
      val in = new EventStreamFraming.FramedEventSource(f)
      try {
        var e = in.readEvent()
        while (e != null) {
          e match {
            case KinesisLikeLog.RecordsEvent(_, recs) => records += recs.size
            case _ =>
          }
          e = in.readEvent()
        }
      } finally in.close()
    }
    val ns = System.nanoTime() - t0
    KinesisLikeLog.invalidateMeta(logDir.getAbsolutePath)
    val m0 = System.nanoTime()
    KinesisLikeLog.prefetchMeta(logDir.getAbsolutePath)
    layers("framing.records") = records
    layers("framing.ns") = ns
    layers("framing.bytes") = shards.map(_.length).sum - fillerBytes
    layers("log.meta_scan_ms") = (System.nanoTime() - m0) / 1e6
  }
}

/** Runs one workload in this JVM and writes what it measured, raw, to
  * `--out`; `run.py` turns that into metrics and checks it.
  * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = opts.getOrElse("cores", "4").toInt
    val work = new File(opts("work"))
    work.mkdirs()
    val tracer = new Tracer(opts("trace") == "1", java.util.UUID.randomUUID().toString)

    val spark = graft.GraftSession.tuned(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
        .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val progress = Trace.install(spark, tracer)
    val ctx = new Ctx(spark, tracer, progress, opts("seed").toLong,
      opts("seconds").toInt, work)
    val rootId = tracer.newId()
    ctx.rootSpan = rootId
    val result: Map[String, Any] = workload match {
      case "drain"     => Drain.run(ctx)
      case "tail"      => Tail.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Trace.drain(spark)
    val spans = tracer.all :+ Span(rootId, 0L, "workload", ctx.billedFromUs,
      ctx.billedToUs, Map("workload" -> workload))

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(opts("out")), Map(
      "workload"   -> workload,
      "seed"       -> ctx.seed,
      "seconds"    -> ctx.seconds,
      "trace"      -> tracer.enabled,
      "run_id"     -> tracer.runId,
      "provenance" -> Map(
        "nproc"       -> Runtime.getRuntime.availableProcessors(),
        "master"      -> s"local[$cores]",
        "heap_bytes"  -> Runtime.getRuntime.maxMemory(),
        "jdk"         -> System.getProperty("java.version"),
        "spark"       -> spark.version),
      "layers"     -> ctx.layers.toMap,
      "progress"   -> progress.progress.asScala.toSeq.map(p => Map(
        "query" -> p.query, "run" -> p.runId, "batch" -> p.batchId,
        "start_us" -> p.startUs, "rows" -> p.rows, "ms" -> p.durationsMs)),
      "spans"      -> spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)),
      "result"     -> result))
    spark.stop()
  }
}
