package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.{ShardLogs, SparkSpec}
import graft.sources.kinesislike.KinesisLikeLog

/** Process-start census of the engine's per-batch writes. A
  * `jdk.ProcessStart` recording (with stacks) runs over a kinesislike →
  * [[IdempotentSink]] stream under [[ProducerRunner]] (offset and commit
  * logs, the sink's parquet write and its committer) and over a
  * watermarked dedup drain of the same log, q45's shape (state-store
  * delta files). None of those writes may fork a child process through
  * Hadoop's `Shell`, as the stock local filesystem does for `chmod` and
  * `readlink` without the native library. */
class ForkCensusSpec extends SparkSpec {

  private def shellStarts(events: Seq[RecordedEvent]): Seq[RecordedEvent] =
    events.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))

  test("checkpoint, commit, sink and state-store writes start no process " +
    "through Hadoop's Shell") {
    val dir = Files.createTempDirectory("graft_forks_log")
    val lines = (1L to 48L).map { seq =>
      val b64 = java.util.Base64.getEncoder.encodeToString(s"p$seq".getBytes(UTF_8))
      s"$seq\t${1000000L + seq}\tk\t$b64"
    } :+ KinesisLikeLog.ClosedMarker
    ShardLogs.write(dir, lines)
    val ckpt  = Files.createTempDirectory("graft_forks_ckpt")
    val store = Files.createTempDirectory("graft_forks_store")
    val sink  = new IdempotentSink(store.toString)
    val dedupCkpt = Files.createTempDirectory("graft_forks_dedup")
    def read() = spark.readStream
      .format("kinesislike")
      .option("path", dir.toString)
      .option("startingPosition", "trim_horizon")
      .option("maxRecordsPerBatch", "8")
      .load()

    // Built before the recording starts: the SparkContext's first user
    // lookup loads Hadoop's Shell, whose class initializer runs `setsid`
    // once per JVM.
    spark.sparkContext
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val ok =
      try {
        val runner = new ProducerRunner(
          "fork-census-stream",
          () => read()
            .writeStream
            .foreachBatch(sink(_, _))
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow())
            .start(),
          registry = new ProducerRegistry,
          maxRetries = 0)
        val streamed = runner.run()
        read()
          .withWatermark("approximateArrivalTimestamp", "1 minute")
          .dropDuplicates("sequenceNumber", "approximateArrivalTimestamp")
          .writeStream
          .format("memory")
          .queryName("fork_census_dedup")
          .option("checkpointLocation", dedupCkpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
        streamed
      } finally rec.stop()
    val jfr = Files.createTempFile("graft_forks", ".jfr")
    rec.dump(jfr)
    rec.close()
    val events = RecordingFile.readAllEvents(jfr).asScala.toSeq
    Files.delete(jfr)

    assert(ok)
    val batches = sink.committedBatchIds
    assert(batches.size >= 5, s"expected at least 5 microbatches: $batches")
    assert(sink.readAll(spark).select(col("sequenceNumber").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 48L))
    assert(spark.table("fork_census_dedup").count() == 48)
    val deltas = Files.walk(dedupCkpt.resolve("state")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".delta"))
    assert(deltas >= 5, s"expected state-store delta files, found $deltas")
    val shell = shellStarts(events)
    val byCommand = shell.groupBy(_.getString("command").split(' ').head)
      .map { case (c, es) => s"$c=${es.size}" }.toSeq.sorted
    assert(shell.isEmpty,
      s"${shell.size} process starts through Hadoop's Shell over " +
        s"${batches.size} sink batches and the dedup drain (${byCommand.mkString(", ")}); " +
        s"of ${events.size} process starts in all")
  }
}
