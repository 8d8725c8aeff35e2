package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{ShardLogs, SparkSpec}
import graft.sources.kinesislike.KinesisLikeLog

/** The producer's error/retry loop end-to-end (q129's mechanism at the
  * unit tier): an in-stream `#ERROR\ttransport_closed` record fails the
  * query mid-drain, the [[ProducerRunner]] classifies it, marks the
  * stream UNHEALTHY in the registry, requests its fixed 70 s backoff
  * (producer.ex:37, observed through the injected sleeper), restarts
  * from the SAME checkpoint, and the retry — its raise budget spent —
  * drains the tail. Asserted: the health registry transitions
  * unhealthy (observed AT backoff time) → healthy (after recovery), the
  * backoff request carries the production constant, the error log
  * carries the producer's classification, and the delivered set is the
  * whole corpus exactly once (pre-error prefix kept, nothing
  * double-delivered). */
class ErrorRetrySpec extends SparkSpec {

  private var ctr = 0
  private def tmpDir(prefix: String): Path = {
    ctr += 1
    Files.createTempDirectory(s"$prefix$ctr")
  }

  test("in-stream transport error -> unhealthy at backoff time -> " +
    "retry from the committed cursor -> healthy, whole corpus " +
    "delivered exactly once") {
    val dir = tmpDir("graft_retry_log")
    def rec(seq: Long): String = {
      val b64 = java.util.Base64.getEncoder
        .encodeToString(s"p$seq".getBytes(UTF_8))
      s"$seq\t${1000000L + seq}\tk\t$b64"
    }
    // 30 records; the error sits after seq 20 with raise budget 2 so the
    // query-level failure survives one task-attempt retry on any master.
    val lines = (1L to 20L).map(rec) ++
      Seq(s"${KinesisLikeLog.ErrorMarker}\ttransport_closed\t2") ++
      (21L to 30L).map(rec) :+ KinesisLikeLog.ClosedMarker
    ShardLogs.write(dir, lines)

    val ckpt  = tmpDir("graft_retry_ckpt")
    val store = tmpDir("graft_retry_store")
    val sink  = new IdempotentSink(store.toString)
    val registry = new ProducerRegistry
    val backoffs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val healthyAtBackoff = scala.collection.mutable.ArrayBuffer.empty[Boolean]

    val runner = new ProducerRunner(
      "retry-spec-stream",
      () => spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        // Commit the pre-error prefix across several batches.
        .option("maxRecordsPerBatch", "8")
        .load()
        .writeStream
        .foreachBatch(sink(_, _))
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start(),
      registry = registry,
      maxRetries = 4,
      sleep = ms => {
        backoffs += ms
        healthyAtBackoff += registry.producersReady
      },
      logDir = Some(dir.toString))

    assert(runner.run(), s"producer must recover: ${runner.errorLog}")

    // Fixed-backoff path taken with the production constant, and the
    // registry was UNHEALTHY at every backoff point.
    assert(backoffs.nonEmpty, "the retry must go through the backoff")
    assert(backoffs.forall(_ == ProducerRunner.DefaultBackoffMillis))
    assert(healthyAtBackoff.forall(_ == false),
      "stream must be marked unhealthy while waiting to retry")
    // ... and HEALTHY once the retry drained the stream.
    assert(registry.producersReady,
      "stream must be healthy after the successful retry")
    assert(registry.snapshot === Map("retry-spec-stream" -> true))
    // Producer classified the failure as the transport clause
    // (producer.ex:98-105).
    assert(runner.errorLog.map(_._1).forall(_ == "transport_closed"))
    // Whole corpus exactly once: prefix kept, nothing double-delivered.
    val got = sink.readAll(spark)
      .select(col("sequenceNumber").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (1L to 30L))
  }

  test("monitor delegation on the REAL read path (q131's mechanism): a " +
    "declining monitor stops the producer with NO backoff sleep — " +
    "producer.ex:165-168 hands the error to monitor_pid INSTEAD of " +
    "scheduling :reconnect — and the monitor-driven restart resumes " +
    "the same checkpoint to exactly-once") {
    val dir = tmpDir("graft_monitor_log")
    def rec(seq: Long): String = {
      val b64 = java.util.Base64.getEncoder
        .encodeToString(s"p$seq".getBytes(UTF_8))
      s"$seq\t${1000000L + seq}\tk\t$b64"
    }
    // Raise budget 2 = this master's task budget (local[4,2]), so the
    // failure escalates to the producer exactly once.
    val lines = (1L to 20L).map(rec) ++
      Seq(s"${KinesisLikeLog.ErrorMarker}\ttransport_closed\t2") ++
      (21L to 30L).map(rec) :+ KinesisLikeLog.ClosedMarker
    ShardLogs.write(dir, lines)

    val ckpt     = tmpDir("graft_monitor_ckpt")
    val store    = tmpDir("graft_monitor_store")
    val sink     = new IdempotentSink(store.toString)
    val registry = new ProducerRegistry
    val seen     = scala.collection.mutable.ArrayBuffer.empty[String]
    var slept    = 0L

    def runner(decide: Throwable => Boolean) = new ProducerRunner(
      "monitor-spec-stream", // ONE identity across both lifecycles
      () => spark.readStream
        .format("kinesislike")
        .option("path", dir.toString)
        .option("startingPosition", "trim_horizon")
        .option("maxRecordsPerBatch", "8")
        .load()
        .writeStream
        .foreachBatch(sink(_, _))
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start(),
      registry = registry,
      maxRetries = 4,
      monitor = Some(decide),
      sleep = ms => slept += ms,
      logDir = Some(dir.toString))

    // Lifecycle 1: monitor declines — producer stops, stream unhealthy.
    val r1 = runner { t =>
      seen += graft.sources.kinesislike.KinesisLikeErrors.classify(t)
      false
    }
    assert(!r1.run(), "a declined monitor must stop the producer")
    assert(seen == Seq("transport_closed"),
      s"monitor must receive the classified error, got $seen")
    assert(!registry.producersReady,
      "stream must stay unhealthy while the monitor holds it")
    assert(r1.connState === ProducerRunner.Retry)

    // Lifecycle 2: the monitor's reconnect — same checkpoint, budget
    // spent, accepting monitor (vacuously: nothing fires).
    val r2 = runner(_ => true)
    assert(r2.run(), s"monitor-driven restart must drain: ${r2.errorLog}")
    assert(slept === 0L,
      "monitor delegation must REPLACE the fixed backoff entirely")
    assert(registry.producersReady)
    val got = sink.readAll(spark)
      .select(col("sequenceNumber").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (1L to 30L))
  }
}
