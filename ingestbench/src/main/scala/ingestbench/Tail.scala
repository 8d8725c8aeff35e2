package ingestbench

import java.io.File
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.streaming.Trigger

import graft.sources.kinesislike.KinesisLikeOffset

/** `tail`: open-loop live subscription. A generator thread appends framed
  * Records events to 16 open shards at a fixed total rate, stamping every
  * record with its scheduled append time; a `ProcessingTime(0)` stream
  * decodes them into an `IdempotentSink`. Latency of a record is its
  * batch's `sink.apply` commit instant minus its stamp, so a stalled
  * generator or a slow batch both show. Three short unbilled streams warm
  * the path (after only one, billed latencies still swung by a third
  * between runs) and give set-up time more samples; the billed stream runs
  * for the whole window. A traced run then counts torn-frame scan failures
  * with [[EventLog.tornFrameProbe]]. */
object Tail {
  val RatePerS = 5000
  val WarmS    = 2
  val Warmups  = 3
  val ProbeS   = 2.0
  private val TickNs = 5000000L

  def run(ctx: Ctx): Map[String, Any] = {
    val warm = (0 until Warmups).map(k => stream(ctx, k, WarmS))
    ctx.billed(true)
    val billed = stream(ctx, Warmups, ctx.seconds)
    ctx.billed(false)
    if (ctx.tracer.enabled) {
      val (scans, torn) = EventLog.tornFrameProbe(new File(ctx.work, "torn-probe"), ProbeS)
      ctx.layers("log.torn_probe.scans") = scans
      ctx.layers("log.torn_probe.failures") = torn
    }
    Map("warm" -> warm, "billed" -> Seq(billed), "scale" -> s"$RatePerS records/s")
  }

  private def stream(ctx: Ctx, k: Int, seconds: Int): Map[String, Any] = {
    val dir    = new File(ctx.work, s"tail-$k")
    val logDir = new File(dir, "log")
    val t0 = System.nanoTime()
    val log = new EventLog.OpenLog(logDir, ctx.seed * 1009L + k)
    val ingest = new Ingest(ctx.spark, ctx.tracer, s"tail_$k", logDir, dir,
      Trigger.ProcessingTime(0L), Map("startingPosition" -> "trim_horizon"))
    val runStartUs = Clock.nowUs
    val runSpan = ctx.tracer.newId()
    ctx.progress.parent = runSpan
    @volatile var ok = false
    val runner = new Thread(() => ok = ingest.run(), s"tail-runner-$k")
    runner.start()
    while (!ingest.ready) {
      require(runner.isAlive, s"tail stream $k ended before it was ready")
      Thread.sleep(2)
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    // The open loop: record i is due at start + i/rate, whatever the stream
    // does; each tick appends every due record, one write() per shard.
    val total   = RatePerS.toLong * seconds
    val startUs = Clock.nowUs + 10000L
    val lags    = scala.collection.mutable.ArrayBuffer.empty[Double]
    val gen = new Thread(() => {
      var sent = 0L
      while (sent < total) {
        val now = Clock.nowUs
        val due = math.min(total, (now - startUs) * RatePerS / 1000000L + 1)
        if (due > sent) {
          val byShard = (sent until due).groupBy(i => (i % EventLog.Shards).toInt)
          byShard.toSeq.sortBy(_._1).foreach { case (s, is) =>
            log.append(s, is.sorted.map(i => startUs + i * 1000000L / RatePerS))
          }
          lags += (Clock.nowUs - (startUs + sent * 1000000L / RatePerS)) / 1e3
          sent = due
        }
        LockSupport.parkNanos(TickNs)
      }
    }, s"tail-generator-$k")
    gen.start()
    gen.join()

    // Let the stream deliver everything written, then stop it.
    val want = log.lastSeq
    val deadline = System.nanoTime() + 60L * 1000000000L
    def delivered: Boolean = ingest.current.flatMap(q => Option(q.lastProgress))
      .exists(p => p.sources.headOption.exists { s =>
        val end = KinesisLikeOffset.fromJson(s.endOffset).positions
        want.forall { case (sh, seq) => end.getOrElse(sh, -1L) >= seq }
      })
    while (!delivered && System.nanoTime() < deadline && runner.isAlive) Thread.sleep(20)
    ingest.current.foreach(_.stop())
    runner.join()
    val endUs = Clock.nowUs
    log.close()
    ctx.tracer.add(Span(runSpan, ctx.rootSpan, "producer.run", runStartUs, endUs,
      Map("iteration" -> k)))
    Trace.drain(ctx.spark)

    val exp = log.expected
    val verdict = EventLog.verify(ctx.spark, ingest.sink.readAll(ctx.spark), exp)
    val stamps = ingest.stampsByBatch().map { case (b, t, n) => Seq(b, t, n) }
    val (bytes, files) = ingest.storeStats()
    if (k == Warmups) ctx.framingPass(logDir, log.fillerBytes)
    val row = ctx.ingestRow(ingest, runStartUs) ++ Map(
      "iteration"        -> k,
      "ok"               -> ok,
      "setup_s"          -> setupS,
      "start_us"         -> startUs,
      "end_us"           -> endUs,
      "records"          -> exp.total,
      "attempted"        -> verdict.attempted,
      "failed"           -> verdict.failed,
      "checksum_ok"      -> verdict.checksumOk,
      "expected_retries" -> 0,
      "generator_lag_ms" -> lags.toSeq,
      "stamps"           -> stamps,
      "sink_bytes"       -> bytes,
      "sink_files"       -> files)
    graft.Fs.deleteRecursively(dir)
    row
  }
}
