package graft.operators

import graft.{SparkEntry, SparkSpec}

/** d19 (incremental delta-vs-corpus near-dup screen) checked for
  * consistency against the oracle-gated d02 pair list: a (delta, corpus)
  * band collision is the SAME event as a d02 candidate pair that
  * straddles the md5-parity split, so d19's verdicts must equal the
  * straddling subset of d02's verified pairs regrouped per delta doc —
  * same match sets, same counts, same best-match (max-Jaccard,
  * corpus-id tie-break), and is_dup=false with match_id=-1 for every
  * delta doc no straddling pair names. */
class IncrementalDedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def side(id: Long): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Integer.parseInt(hex.substring(0, 1), 16) % 2
  }

  test("d19 equals the straddling subset of d02's verified pairs, " +
    "regrouped per delta doc") {
    val pairs = SparkEntry.queries("d02_dedup_minhash_lsh")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // Cross-side pairs, oriented delta -> corpus.
    val oriented = pairs.flatMap { case (a, b, j) =>
      (side(a), side(b)) match {
        case (1, 0) => Some((a, b, j))
        case (0, 1) => Some((b, a, j))
        case _      => None
      }
    }
    val byDelta = oriented.groupBy(_._1)

    val deltaIds = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(r => r.getString(1).split(" ", -1).length >= 2) // >=1 bigram
      .map(_.getLong(0)).filter(side(_) == 1).sorted

    val expected = deltaIds.map { id =>
      byDelta.get(id) match {
        case Some(ms) =>
          val best = ms.maxBy { case (_, cid, j) => (j, -cid) }
          (id, ms.length.toLong, best._2, best._3, true)
        case None => (id, 0L, -1L, 0.0, false)
      }
    }

    val got = SparkEntry.queries("d19_incremental_dedup")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))

    assert(got.length === expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g === e, s"delta ${e._1}: got $g expected $e")
    }
    // The split must actually exercise the screen: straddling near-dups
    // exist, and most delta docs are genuinely new.
    assert(expected.count(_._5) > 0, "no straddling near-dup in fixture")
    assert(expected.count(!_._5) > expected.count(_._5),
      "most delta docs should be new")
  }

  test("the stored corpus band index serves exactly the rows a " +
    "from-scratch recompute produces (stored ≡ recompute)") {
    // d19's probe reads the write-once parquet index; the production
    // claim is that storing signatures at ingest changes WHERE the rows
    // live, never WHAT they are. Row-set equality (not just counts) —
    // a drifted fixture version would silently change verdicts.
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, String)] =
      df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSet
    val stored = rows(Dedup.corpusBandIndexCached(spark, sf))
    val fresh  = rows(Dedup.corpusBandIndex(spark, sf))
    assert(stored.nonEmpty, "empty band index")
    assert(stored === fresh,
      s"stored index drifted: ${stored.diff(fresh).take(3)} vs " +
        s"${fresh.diff(stored).take(3)}")
  }

  test("the write-once fixture paths are bound to the source bytes: " +
    "regenerating a corpus in place (or two corpora sharing a basename) " +
    "can never serve a stale pair/band table") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_fp_test").toFile
    // Every store path derived from the sf dir, by fixture.
    def paths(d: String): Map[String, String] = Map(
      "chunk pairs"   -> Dedup.chunkPairsPath(d),
      "shard log"     -> Streaming.logPath(d),
      "stage frame"   -> Pipeline.stageFramePath(d),
      "clustered"     -> Relational.clusteredEventsPath(d),
      "z-order"       -> Relational.zOrderedEventsPath(d),
      "format copies" -> Relational.formatCopiesPath(d))
    try {
      for (table <- Seq("documents", "events")) {
        val f = new java.io.File(tmp, s"$table.parquet")
        java.nio.file.Files.write(f.toPath, "v1".getBytes)
        val before = paths(tmp.getAbsolutePath)
        // Regenerate in place: same path on disk, different bytes/mtime.
        java.nio.file.Files.write(f.toPath, "v2-longer".getBytes)
        val after = paths(tmp.getAbsolutePath)
        for ((fixture, p) <- before)
          assert(p !== after(fixture),
            s"$fixture path ignored a $table regeneration in place")
      }
      // Distinct corpora sharing the directory basename must not share
      // a fixture path with this one either.
      assert(Dedup.corpusBandIndexPath(tmp.getAbsolutePath) !==
        Dedup.corpusBandIndexPath(sf))
    } finally {
      new java.io.File(tmp, "documents.parquet").delete()
      new java.io.File(tmp, "events.parquet").delete()
      tmp.delete()
    }
  }
}
