package ingestbench

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.kinesislike.KinesisLikeLog

/** `drain`: closed-loop backfill catch-up. Each iteration writes a fresh
  * closed 16-shard log, then drains it from trim_horizon with
  * AvailableNow, admission-capped into [[Batches]] micro-batches. One
  * transport fault is injected halfway through a reader of the first
  * batch (`failOnceAfter` counts per reader, so it cannot land later), so
  * every iteration bills exactly one resubscribe from the checkpoint.
  * One unbilled iteration warms the JVM first. */
object Drain {
  val PerShard = 6000
  val Batches  = 4

  def run(ctx: Ctx): Map[String, Any] =
    ctx.iterate(warmups = 1)(iteration(ctx, _)) +
      ("scale" -> s"${EventLog.Shards}x$PerShard records")

  private def iteration(ctx: Ctx, k: Int): Map[String, Any] = {
    val cap    = PerShard / Batches
    val dir    = new File(ctx.work, s"drain-$k")
    val logDir = new File(dir, "log")
    val t0 = System.nanoTime()
    val exp = EventLog.writeClosedLog(logDir, ctx.seed * 1009L + k, PerShard,
      baseUs = 1700000000000000L)
    KinesisLikeLog.invalidateMeta(logDir.getAbsolutePath)
    val m0 = System.nanoTime()
    KinesisLikeLog.prefetchMeta(logDir.getAbsolutePath)
    val metaScanMs = (System.nanoTime() - m0) / 1e6
    val setupS = (System.nanoTime() - t0) / 1e9

    val ingest = new Ingest(ctx.spark, ctx.tracer, s"drain_$k", logDir, dir,
      Trigger.AvailableNow(), Map(
        "startingPosition"   -> "trim_horizon",
        "maxRecordsPerBatch" -> cap.toString,
        "failOnceAfter"      -> (cap / 2).toString,
        "faultRunId"         -> java.util.UUID.randomUUID().toString))
    val startUs = Clock.nowUs
    val ok = ctx.tracer.span("producer.run", ctx.rootSpan, Map("iteration" -> k)) { id =>
      ctx.progress.parent = id
      ingest.run()
    }
    val endUs = Clock.nowUs
    Trace.drain(ctx.spark)

    val verdict = EventLog.verify(ctx.spark, ingest.sink.readAll(ctx.spark), exp)
    // Backfill records are all due when the drain starts.
    val stamps = ingest.sink.readAll(ctx.spark).groupBy(col("batch_id")).count()
      .collect().map(r => Seq(r.getLong(0), startUs, r.getLong(1))).toSeq
    val (bytes, files) = ingest.storeStats()
    if (k == 0) ctx.framingPass(logDir)
    val row = ctx.ingestRow(ingest, startUs) ++ Map(
      "iteration"        -> k,
      "ok"               -> ok,
      "setup_s"          -> setupS,
      "meta_scan_ms"     -> metaScanMs,
      "start_us"         -> startUs,
      "end_us"           -> endUs,
      "records"          -> exp.total,
      "attempted"        -> verdict.attempted,
      "failed"           -> verdict.failed,
      "checksum_ok"      -> verdict.checksumOk,
      "expected_retries" -> 1,
      "stamps"           -> stamps,
      "sink_bytes"       -> bytes,
      "sink_files"       -> files)
    graft.Fs.deleteRecursively(dir)
    row
  }
}
