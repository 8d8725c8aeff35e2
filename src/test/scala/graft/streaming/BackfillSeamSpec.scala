package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, SparkSpec}

/** q125 (backfill seam) checked against the whole-corpus batch rollup —
  * the invariant IS the query (no event lost at the seam, none double
  * counted) — plus the adjacent-variant identity the wire encoding
  * promises (subscribe_to_shard.ex:60-65): a live leg started at
  * `at_sequence_number:K+1` lands on exactly the same cut as
  * `after_sequence_number:K`, so both variants merge with the history
  * snapshot to the same corpus total.
  */
class BackfillSeamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q125 seam merge equals the whole-corpus rollup and both " +
    "adjacent position variants land on the same cut") {
    val expected = graft.Tables.events(spark, sf)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .orderBy(col("window_start"), col("event_type"))
      .collect().map(_.toSeq).toSeq

    val got = SparkEntry.queries("q125_stream_backfill_seam")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got === expected)

    // The seam genuinely splits the corpus: both legs are non-trivial.
    val k = graft.Tables.events(spark, sf)
      .agg(max(col("event_id"))).head().getLong(0) / 2
    val below = graft.Tables.events(spark, sf)
      .filter(col("event_id") <= k).count()
    val above = graft.Tables.events(spark, sf)
      .filter(col("event_id") > k).count()
    assert(below > 0 && above > 0)

    // Adjacent-variant identity: at_sequence_number:(K+1) delivers the
    // same records as after_sequence_number:K (modulo the sentinel,
    // which this count-only check includes identically in both).
    val log = graft.operators.Streaming.logPath(sf, sentinel = true)
    def countFrom(pos: String): Long = {
      val name = s"seam_probe_${pos.replaceAll("[^a-z0-9]", "_")}"
      val q = spark.readStream
        .format("kinesislike")
        .option("path", log)
        .option("startingPosition", pos)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("seam_ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.table(name).count()
      spark.catalog.dropTempView(name)
      n
    }
    val after = countFrom(s"after_sequence_number:$k")
    val at = countFrom(s"at_sequence_number:${k + 1}")
    assert(after === at)
    assert(after === above + 1) // + the sentinel record
  }
}
