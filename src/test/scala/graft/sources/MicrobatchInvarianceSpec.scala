package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.{Gen, Prop, Properties}

import graft.{ShardLogs, SparkSpec}
import graft.sources.kinesislike.KinesisLikeLog

/** SURVEY §5.2 property: splitting the event log arbitrarily across
  * microbatches yields identical results — the Spark analog of the
  * reference's record-spans-many-transport-frames test
  * (subscribe_to_shard_test.exs:220-245): however the stream is chunked,
  * the delivered records are the same, exactly once, in order.
  */
object MicrobatchInvarianceProps extends Properties("KinesisLikeMicrobatch") {

  // Each sample runs a real streaming query (~1 s); 10 random chunkings
  // cover the space (1..50 over a 37-record log) without a 2-minute suite.
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkSpec.session

  private lazy val logDir: String = {
    val dir = Files.createTempDirectory("kl_prop")
    val lines = (0L until 37L).map { i =>
      val b64 =
        java.util.Base64.getEncoder.encodeToString(s"payload-$i".getBytes(UTF_8))
      s"$i\t${i * 1000}\tk${i % 5}\t$b64"
    } :+ KinesisLikeLog.ClosedMarker
    ShardLogs.write(dir, lines)
    dir.toString
  }

  private val expected = (0L until 37L).map(i => (i, s"payload-$i"))
  private var n        = 0

  property("any maxRecordsPerBatch chunking delivers the same records " +
    "exactly once, in order") =
    Prop.forAllNoShrink(Gen.choose(1L, 50L)) { batchSize =>
      n += 1
      val sink = s"prop_sink_$n"
      val ckpt = Files.createTempDirectory(s"kl_prop_ck$n").toString
      val q = spark.readStream
        .format("kinesislike")
        .option("path", logDir)
        .option("startingPosition", "trim_horizon")
        .option("maxRecordsPerBatch", batchSize.toString)
        .load()
        .writeStream
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table(sink)
        .select(col("sequenceNumber").cast("long"), col("data").cast("string"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
        .toSeq
      got == expected
    }
}
