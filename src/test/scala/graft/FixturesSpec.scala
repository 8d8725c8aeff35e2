package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The derived-fixture store: a fixture is keyed by its sf dir's bytes,
  * so a dir regenerated in place gets a fresh build and the stale one is
  * swept. */
class FixturesSpec extends SparkSpec {

  test("an sf dir whose events are rewritten in place gets a fresh " +
    "clustered copy with the new rows, and the stale copy is deleted") {
    val tmp = Files.createTempDirectory("graft_stale_sf").toFile
    try {
      val d = tmp.getAbsolutePath
      // An events table with the fixture's schema, event ids [lo, hi).
      def writeEvents(lo: Long, hi: Long): Set[Long] = {
        spark.range(lo, hi).select(
            col("id").as("event_id"),
            timestamp_seconds(col("id") * 60).as("ts"),
            (col("id") % 7).as("user_id"),
            element_at(array(lit("click"), lit("view"), lit("purchase")),
              (col("id") % 3 + 1).cast("int")).as("event_type"),
            col("id").cast("double").as("value"),
            lit("{}").as("props"))
          .write.mode("overwrite").parquet(s"$d/events.parquet")
        (lo until hi).toSet
      }
      def copyIds(path: String): Set[Long] =
        spark.read.parquet(path).select("event_id")
          .collect().map(_.getLong(0)).toSet

      val first = writeEvents(0L, 100L)
      val p1 = operators.Relational.prewarmClusteredEvents(spark, d)
      assert(copyIds(p1) === first)

      val second = writeEvents(500L, 650L)
      val p2 = operators.Relational.prewarmClusteredEvents(spark, d)
      assert(copyIds(p2) === second,
        "the clustered copy still serves the rows of the old events")
      assert(!new File(p1).exists(), s"stale copy $p1 was not swept")
    } finally Fs.deleteRecursively(tmp)
  }

  test("a build sweeps only its own stale siblings: other versions and " +
    "fingerprints of the same fixture and their derived variants") {
    val root = Files.createTempDirectory("graft_sweep").toFile
    try {
      def sweepAround(built: String, swept: Seq[String], kept: Seq[String]) = {
        (swept ++ kept).foreach(n => new File(root, n).mkdirs())
        val dir = new File(root, built).getAbsolutePath
        Fixtures.once(dir)(())
        assert(root.list().toSet === (kept :+ built).toSet)
        // Ready now: a second call neither builds nor sweeps.
        swept.foreach(n => new File(root, n).mkdirs())
        Fixtures.once(dir)(fail("rebuilt a ready fixture"))
        assert(root.list().toSet === (swept ++ kept :+ built).toSet)
        root.listFiles().foreach(Fs.deleteRecursively)
      }
      // Shard-log layout: <tag>_v<version>_<fingerprint>_<variant>.
      sweepAround("sf0_01_v5_bbbbbbbbbbbb_s16_c1_framed",
        swept = Seq(
          "sf0_01_v4_aaaaaaaaaaaa_s16_c1_framed",         // older version
          "sf0_01_v5_aaaaaaaaaaaa_s16_c1_framed",         // older bytes
          "sf0_01_v5_aaaaaaaaaaaa_s16_c1_framed_split_7"), // derived from it
        kept = Seq(
          "sf0_01_v5_bbbbbbbbbbbb_s16_c1_framed_rpe1",    // same key
          "sf0_01_v5_aaaaaaaaaaaa_s16_c2_framed",         // other variant
          "sf0_01x_v5_aaaaaaaaaaaa_s16_c1_framed",        // other sf dir
          "sf0_01_s16_c1_framed"))                        // not a key
      // Warehouse layout: <name>_<tag>_v<version>_<fingerprint>.
      sweepAround("graft_x_sf0_01_v1_bbbbbbbbbbbb",
        swept = Seq("graft_x_sf0_01_v1_aaaaaaaaaaaa"),
        kept = Seq(
          "graft_x_sf0_01_a_v1_aaaaaaaaaaaa",             // other sf dir
          "graft_xy_sf0_01_v1_aaaaaaaaaaaa",              // other fixture
          "graft_x_sf0_01"))                              // not a key
    } finally Fs.deleteRecursively(root)
  }
}
