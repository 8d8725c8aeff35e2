package graft.operators

import graft.{GraftSession, SparkEntry, SparkSpec}

/** Cross-query invariants between d07 (cluster assignment) and d10
  * (survivor selection) that the per-query DuckDB oracle cannot see,
  * plus a regression test for the memoized-labels liveness check. */
class DedupSurvivorSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("d10 emits exactly one row per multi-document d07 cluster, and " +
    "each survivor is that cluster's longest member (ties to lowest id)") {
    val clusters = run("d07_dedup_clusters")
      .select("doc_id", "cluster_id", "cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val chars = run("d10_dedup_survivors")
      .select("cluster_id", "cluster_size", "survivor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val multi = clusters.filter(_._3 >= 2).groupBy(_._2)
    assert(chars.map(_._1).toSet === multi.keySet,
      "survivor rows != multi-member clusters")
    val nChars = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((cid, size, survivor) <- chars) {
      val members = multi(cid).map(_._1)
      assert(members.length.toLong === size)
      assert(members.contains(survivor))
      val best = members.maxBy(id => (nChars(id), -id))
      assert(survivor === best,
        s"cluster $cid: survivor $survivor is not keep-longest pick $best")
    }
  }

  test("d16 is exactly d07's cluster assignment regrouped by size, and " +
    "its doc mass sums to the corpus") {
    val clusters = run("d07_dedup_clusters")
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = clusters.groupBy(_._2).values
      .map(_.length.toLong).groupBy(identity).toSeq
      .map { case (size, cs) => (size, cs.size.toLong, size * cs.size) }
      .sortBy(_._1)
    val got = run("d16_cluster_size_histogram").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expected)
    assert(got.map(_._3).sum === clusters.length.toLong,
      "histogram doc mass != corpus size")
    // The fixture must exercise a non-trivial distribution (singletons
    // AND at least one multi-member size), or the report is vacuous.
    assert(got.length >= 2, "degenerate all-one-size histogram")
  }

  test("building d07 leaves only its pair list and final labels " +
    "persisted: every superseded materialized frame is released") {
    GraftSession.cleanup(spark)
    run("d07_dedup_clusters")
    assert(spark.sparkContext.getPersistentRDDs.size === 2)
    GraftSession.cleanup(spark)
  }

  test("a blanket unpersist between queries (the driver's Verify/Bench " +
    "loop) invalidates the memoized labels instead of serving dead blocks") {
    run("d10_dedup_survivors").collect()
    // What Verify.scala does after every query: drop ALL persisted blocks,
    // which kills the cached snapshot's localCheckpoint storage.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // Must recompute, not throw CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    assert(run("d07_dedup_clusters").count() > 0)
  }
}
