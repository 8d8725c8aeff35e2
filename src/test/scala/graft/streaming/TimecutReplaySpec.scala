package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, SparkSpec}

/** q126 (point-in-time replay) checked against the whole-corpus batch
  * rollup, plus the position-resolution facts the query rides on: the
  * ISO-µs `at_timestamp` form delivers exactly the records with
  * ts ≥ T, and the reference's epoch-seconds wire form
  * (subscribe_to_shard.ex:434-435) parses and lands at-or-before that
  * cut (equal whenever no event falls inside T's sub-second tail).
  */
class TimecutReplaySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q126 time-cut merge equals the whole-corpus rollup and both " +
    "timestamp encodings resolve the cut") {
    val expected = graft.Tables.events(spark, sf)
      .groupBy(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .orderBy(col("day"), col("event_type"))
      .collect().map(_.toSeq).toSeq

    val got = SparkEntry.queries("q126_stream_timecut_replay")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got === expected)

    val k = graft.Tables.events(spark, sf)
      .agg(max(col("event_id"))).head().getLong(0) / 2
    val tu = graft.Tables.events(spark, sf)
      .filter(col("event_id") === k + 1)
      .select(unix_micros(col("ts"))).head().getLong(0)
    assert(tu % 1000000L != 0L, "fixture lost its µs tails — cut is " +
      "no longer sub-second and this spec needs a new instant")
    val above = graft.Tables.events(spark, sf)
      .filter(unix_micros(col("ts")) >= tu).count()

    val log = graft.operators.Streaming.logPath(sf, sentinel = true)
    def countFrom(pos: String): Long = {
      val name = s"timecut_probe_${pos.replaceAll("[^a-z0-9]", "_")}"
      val q = spark.readStream
        .format("kinesislike")
        .option("path", log)
        .option("startingPosition", pos)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("tc_ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.table(name).count()
      spark.catalog.dropTempView(name)
      n
    }
    val tIso = java.time.Instant.EPOCH
      .plus(tu, java.time.temporal.ChronoUnit.MICROS).toString
    val isoCount = countFrom(s"at_timestamp:$tIso")
    assert(isoCount === above + 1) // + the sentinel record
    // The reference's epoch-seconds wire form: lands at the second
    // floor, so it can only deliver MORE (≥), never fewer.
    val secCount = countFrom(s"at_timestamp:${tu / 1000000L}")
    assert(secCount >= isoCount)
  }
}
