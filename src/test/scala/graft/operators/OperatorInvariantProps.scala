package graft.operators

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Properties}

import graft.{SparkEntry, SparkSpec}

/** Property-based invariants on GENERATED corpora — shapes the fixed
  * fixtures never exercise (duplicate timestamps, zero-value purchases,
  * touch-only users, single-source corpora). Each sample writes a fresh
  * parquet fixture dir and runs the registered query against it, so the
  * invariant is checked through the exact production code path:
  *
  *   - q121: money conservation — every purchase cent lands in exactly
  *     one channel row, for ANY event history.
  *   - p08: largest-remainder exactness — per-source quotas sum to the
  *     budget EXACTLY, and fill/deficit decompose each quota, for ANY
  *     source/token distribution.
  */
object OperatorInvariantProps extends Properties("OperatorInvariants") {

  // Each sample runs two Spark jobs (+ a parquet write); 6 random
  // corpora cover the shape space without a multi-minute suite.
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkSpec.session

  private val types = Vector("view", "click", "purchase", "signup", "error")

  private def eventsDir(seed: Long): (String, Long) = {
    val rnd = new scala.util.Random(seed)
    val n = 80 + rnd.nextInt(120)
    val baseUs = 1700000000000000L
    val rows = (0 until n).map { i =>
      val user = (rnd.nextInt(12) + 1).toLong
      // µs-resolution timestamps with deliberate exact ties (div 5)
      val tsu = baseUs + (rnd.nextInt(3 * 86400) / 5 * 5) * 1000000L
      val typ = types(rnd.nextInt(types.length))
      // 2-decimal values incl. exact zeros, so cents are round-exact
      val v = if (rnd.nextInt(10) == 0) 0.0 else rnd.nextInt(50000) / 100.0
      (i.toLong, tsu, user, typ, v, "{}")
    }
    val dir = Files.createTempDirectory("prop_events").toString
    val sqlc = spark
    import sqlc.implicits._
    rows.toDF("event_id", "tsu", "user_id", "event_type", "value", "props")
      .selectExpr("event_id", "timestamp_micros(tsu) AS ts", "user_id",
        "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val purchaseCents = rows
      .filter(_._4 == "purchase")
      .map(r => math.round(r._5 * 100))
      .sum
    (dir, purchaseCents)
  }

  property("q121 conserves purchase cents on any event history") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val (dir, totalCents) = eventsDir(seed)
      val out = SparkEntry.queries("q121_linear_attribution")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val conserved = out.map(_._3).sum == totalCents
      val channelsValid =
        out.forall(r => r._2 >= 0 && (r._1 == "(direct)" || r._3 >= 0))
      conserved && channelsValid
    }

  property("q120 flags an injected extreme outlier without letting it " +
    "move the robust boundary") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      // One tight group plus ONE absurd fat-finger row: the median/MAD
      // pair must still describe the tight mass (boundary within its
      // range) while the rule flags the outlier — the 50% breakdown
      // property q90's μ+3σ does not have.
      val n = 30 + rnd.nextInt(40)
      val baseUs = 1700000000000000L
      val tight = (0 until n).map { i =>
        (i.toLong, baseUs + i * 1000000L, 1L, "purchase",
          100.0 + rnd.nextInt(200) / 100.0, "{}")
      }
      val rows = tight :+ ((n.toLong, baseUs + n * 1000000L, 1L,
        "purchase", 9999999.0, "{}"))
      val dir = Files.createTempDirectory("prop_mad").toString
      val sqlc = spark
      import sqlc.implicits._
      rows.toDF("event_id", "tsu", "user_id", "event_type", "value",
        "props")
        .selectExpr("event_id", "timestamp_micros(tsu) AS ts", "user_id",
          "event_type", "value", "props")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = SparkEntry.queries("q120_mad_outliers")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
        .head
      // out = (event_type, n_events, med_x2, mad_x4, n_outliers, max_dev2)
      val cents = tight.map(t => math.round(t._5 * 100))
      val flagged = out._5 >= 1 // the fat finger is caught
      val boundarySane = out._3 >= 2 * cents.min && out._3 <= 2 * cents.max
      flagged && boundarySane
    }

  property("q122 Gini hits its analytic extremes on degenerate " +
    "distributions") =
    Prop.forAll(Gen.choose(2, 40), Gen.choose(1, 20)) { (nUsers, perUser) =>
      // Uniform counts → Gini exactly 0; verified through the
      // production query path on a constructed corpus.
      val baseUs = 1700000000000000L
      val rows = for {
        u <- 0 until nUsers; i <- 0 until perUser
      } yield ((u * perUser + i).toLong, baseUs + i * 1000000L,
        u.toLong, "view", 1.0, "{}")
      val dir = Files.createTempDirectory("prop_gini").toString
      val sqlc = spark
      import sqlc.implicits._
      rows.toDF("event_id", "tsu", "user_id", "event_type", "value",
        "props")
        .selectExpr("event_id", "timestamp_micros(tsu) AS ts", "user_id",
          "event_type", "value", "props")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = SparkEntry.queries("q122_skew_gini")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .head
      out._2 == nUsers.toLong && out._4 == 0L &&
        out._5 == 1000000L / nUsers
    }

  private def docsDir(seed: Long): (String, Long) = {
    val rnd = new scala.util.Random(seed)
    val nSrc = 1 + rnd.nextInt(7)
    val rows = (0 until 30 + rnd.nextInt(70)).map { i =>
      val src = s"src${rnd.nextInt(nSrc)}"
      val words = 1 + rnd.nextInt(40)
      val text = Seq.fill(words)(s"w${rnd.nextInt(50)}").mkString(" ")
      (i.toLong, text, "en", src, text.length.toLong)
    }
    val dir = Files.createTempDirectory("prop_docs").toString
    val sqlc = spark
    import sqlc.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val totalTokens = rows.map(_._2.split(" ").length.toLong).sum
    (dir, totalTokens)
  }

  property("p08 quotas sum exactly to the budget on any distribution") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val (dir, totalTokens) = docsDir(seed)
      val out = SparkEntry.queries("p08_token_budget")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
      val budget = totalTokens / 10
      val sumsExactly = out.map(_._4).sum == budget
      val decomposes = out.forall { case (_, toks, _, quota, fill, deficit) =>
        quota >= 0 && fill == math.min(quota, toks) &&
          deficit == quota - fill
      }
      sumsExactly && decomposes
    }

  /** One planted cross-document copy: source id, copier id, length of
    * the shared verbatim segment, and whether the copy is EXACT (the
    * whole text verbatim — identical shingle set, so an LSH band
    * collision is certain, not probabilistic). */
  private final case class Plant(
      srcId: Long, copyId: Long, sharedLen: Int, exact: Boolean)

  /** Corpus with PLANTED cross-document spans: some docs copy a verbatim
    * 6-14 word segment — or the whole text — of an earlier doc (vocab is
    * globally unique otherwise, so nothing collides by accident). */
  private def plantedDocsDir(seed: Long): (String, Seq[Plant]) = {
    val rnd = new scala.util.Random(seed)
    var wc  = 0
    def fresh(n: Int): Seq[String] =
      (0 until n).map { _ => wc += 1; s"u$wc" }
    val docs    = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val planted = scala.collection.mutable.ArrayBuffer.empty[Plant]
    for (i <- 0 until 25 + rnd.nextInt(25)) {
      val id = i.toLong
      val longSources = docs.filter(_._2.length >= 6)
      if (i > 2 && rnd.nextInt(3) == 0 && longSources.nonEmpty) {
        val (srcId, srcWs) = longSources(rnd.nextInt(longSources.length))
        if (rnd.nextBoolean()) {
          // Exact duplicate: identical text, identical shingle set.
          docs += id -> srcWs
          planted += Plant(srcId, id, srcWs.length, exact = true)
        } else {
          // Partial copy: a verbatim >=6-word run with fresh padding.
          val len = 6 + rnd.nextInt(math.min(9, srcWs.length - 5))
          val off = rnd.nextInt(srcWs.length - len + 1)
          docs += id -> (fresh(rnd.nextInt(4)) ++
            srcWs.slice(off, off + len) ++ fresh(rnd.nextInt(4)))
          planted += Plant(srcId, id, len, exact = false)
        }
      } else docs += id -> fresh(2 + rnd.nextInt(30))
    }
    val dir  = Files.createTempDirectory("prop_span").toString
    val sqlc = spark
    import sqlc.implicits._
    docs.toSeq
      .map { case (id, ws) =>
        val t = ws.mkString(" ")
        (id, t, "en", "gen", t.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (dir, planted.toSeq)
  }

  property("d18 equals the reference sliding-window recomputation on " +
    "any corpus with planted verbatim spans") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val (dir, planted) = plantedDocsDir(seed)
      val K = 6
      val texts = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
      def windowsOf(t: String): Seq[(Int, String)] = {
        val w = t.split(" ", -1)
        if (w.length < K) Seq.empty
        else (0 to w.length - K).map(p => p -> w.slice(p, p + K).mkString(" "))
      }
      val docFreq = texts
        .flatMap { case (id, t) => windowsOf(t).map { case (_, w) => w -> id } }
        .groupBy(_._1).map { case (w, hs) => w -> hs.map(_._2).distinct.size }
      val expected = texts.map { case (id, t) =>
        val n   = t.split(" ", -1).length.toLong
        val dup = windowsOf(t).collect { case (p, w) if docFreq(w) >= 2 => p }
        val runs = dup.sorted.foldLeft(List.empty[(Int, Int)]) {
          case (Nil, p)                             => List((p, p))
          case ((lo, hi) :: rest, p) if p - hi <= K => (lo, p) :: rest
          case (acc, p)                             => (p, p) :: acc
        }
        val lens = runs.map { case (lo, hi) => (hi - lo + K).toLong }
        (id, n, runs.size.toLong, lens.sum,
          if (lens.isEmpty) 0L else lens.max,
          lens.sum * 1000000L / n)
      }
      val got = SparkEntry.queries("d18_exact_substrings")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .toSeq
      // Every planted copy shares a verbatim >=K-word segment, so BOTH
      // sides must report duplicated coverage (deterministic — sliding
      // windows, no sampling).
      val covered = expected.filter(_._4 > 0).map(_._1).toSet
      val plantedFound = planted.forall { p =>
        covered(p.srcId) && covered(p.copyId)
      }
      got == expected && plantedFound
    }

  property("d19 verdicts are side-consistent and catch every planted " +
    "straddling copy on any corpus") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val (dir, planted) = plantedDocsDir(seed)
      def side(id: Long): Int = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        Integer.parseInt(hex.substring(0, 1), 16) % 2
      }
      val got = SparkEntry.queries("d19_incremental_dedup")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4)))
      val consistent = got.forall { case (did, n, mid, j, dup) =>
        side(did) == 1 &&
        (dup == (n > 0)) &&
        (if (dup) mid >= 0 && side(mid) == 0 && j >= 0.2
         else mid == -1L && j == 0.0)
      }
      // Recall is only DETERMINISTIC for exact copies: identical text
      // means identical shingle sets, identical minhash signatures, and
      // a certain band collision (jacc = 1.0 >= 0.2). A partial copy's
      // band collision is the LSH sampling contract — audited by d12,
      // not asserted here. So: every planted EXACT copy that straddles
      // the corpus/delta split must be flagged on its delta side.
      val dupDelta = got.filter(_._5).map(_._1).toSet
      val caught = planted
        .filter(p => p.exact && Set(side(p.srcId), side(p.copyId)) == Set(0, 1))
        .forall(p => dupDelta(if (side(p.srcId) == 1) p.srcId else p.copyId))
      consistent && caught
    }

  /** Adversarial-skew corpus: ONE 16-word boilerplate block opens EVERY
    * document — the viral license-stub/empty-page shape whose chunk,
    * span, and gram hashes each touch 100% of docs, i.e. the exact key
    * a `Window.partitionBy(hash)` would buffer in ONE task. Even docs
    * are EXACTLY the block (a corpus-wide exact-dup group, d01's worst
    * case); odd docs append globally-unique filler. The property proves
    * the partial-agg + join-back rewrites stay CORRECT under total key
    * skew (the measured counterpart is BASELINE.md's adversarial-skew
    * rehearsal section). */
  property("planted viral boilerplate in EVERY doc: d01/d14/d15/d18/t21 " +
    "report the exact closed-form/reference answers under total skew") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      val n   = 24 + rnd.nextInt(26)
      var wc  = 0
      def fresh(k: Int): Seq[String] =
        (0 until k).map { _ => wc += 1; s"f$wc" }
      val viral = (1 to 16).map(i => s"viral$i")
      val corpus: Seq[(Long, Seq[String])] = (0 until n).map { i =>
        if (i % 2 == 0) (i.toLong, viral)
        else (i.toLong, viral ++ fresh(1 + rnd.nextInt(24)))
      }
      val dir  = Files.createTempDirectory("prop_skew").toString
      val sqlc = spark
      import sqlc.implicits._
      corpus
        .map { case (id, ws) =>
          val t = ws.mkString(" ")
          (id, t, "en", "gen", t.length.toLong)
        }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def run(q: String): Array[org.apache.spark.sql.Row] =
        SparkEntry.queries(q)(spark, dir).collect()
      val nEven = (n + 1) / 2
      // d01: the even docs are one exact-dup group canonicalized to 0.
      val d01ok = run("d01_dedup_exact").forall { r =>
        val (id, canon, size, dup) =
          (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4))
        if (id % 2 == 0) canon == 0L && size == nEven.toLong && (dup == (id != 0L))
        else canon == id && size == 1L && !dup
      }
      // Closed forms: every doc's chunk 0 is the viral block (first
      // occurrence: doc 0); all other chunks are globally unique.
      def chunksOf(id: Long): Int =
        math.ceil(corpus(id.toInt)._2.length / 16.0).toInt
      val d14ok = run("d14_paragraph_dedup").forall { r =>
        val (id, nc, dup, ppm) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val c = chunksOf(id)
        nc == c.toLong && dup == (if (id == 0L) 0L else 1L) &&
          ppm == (nc - dup) * 1000000L / nc
      }
      // d15 removes the viral chunk from EVERY doc, doc 0 included
      // (doc_freq = n >= BoilerDocFreq).
      val d15ok = run("d15_boilerplate_chunks").forall { r =>
        val (id, nc, boiler, ppm) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        nc == chunksOf(id).toLong && boiler == 1L &&
          ppm == (nc - 1L) * 1000000L / nc
      }
      // d18: the 6-word windows at positions 0..10 (inside the block)
      // collide across ALL docs; any window touching position >= 16
      // contains a globally-unique filler word. One maximal run of
      // length 10 + 6 = 16 per doc.
      val d18ok = run("d18_exact_substrings").forall { r =>
        val (id, nt, runs, dupT, longest, ppm) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))
        nt == corpus(id.toInt)._2.length.toLong &&
          runs == 1L && dupT == 16L && longest == 16L &&
          ppm == 16L * 1000000L / nt
      }
      // t21 reference: recompute ntile buckets + global first-occurrence
      // novelty in memory over the same distinct-bigram definition.
      val grams = corpus.map { case (id, ws) =>
        id -> ws.sliding(2).map(_.mkString(" ")).toSeq.distinct
      }
      val firstDoc = grams
        .flatMap { case (id, gs) => gs.map(_ -> id) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
      val q = n / 5
      val rem = n % 5
      def bucketOf(rank: Int): Long = { // rank = 0-based position by doc_id
        var b = 1; var consumed = 0
        while (consumed + q + (if (b <= rem) 1 else 0) <= rank) {
          consumed += q + (if (b <= rem) 1 else 0); b += 1
        }
        b.toLong
      }
      val expT21 = corpus.indices
        .map { i =>
          val id = corpus(i)._1
          val gs = grams(i)._2
          (bucketOf(i), gs.size.toLong,
            gs.count(g => firstDoc(g) == id).toLong)
        }
        .groupBy(_._1)
        .map { case (b, xs) =>
          val ng = xs.map(_._2).sum
          val nv = xs.map(_._3).sum
          (b, (xs.size.toLong, ng, nv, 1000000L * nv / ng))
        }
      val t21ok = {
        val got = run("t21_source_saturation").map { r =>
          (r.getLong(1),
            (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        }.toMap
        got == expT21
      }
      // d10 under total skew: the even docs form ONE viral exact-dup
      // cluster (the shape whose cluster_id window buffered every copy
      // in one task before the clusterSurvivors rewrite). Reference:
      // recompute keep-longest per cluster in memory from the engine's
      // own labels, so the check is robust to d07's edge semantics on
      // the odd (viral-prefixed but unique-tailed) docs.
      val labels = Dedup.clusterLabels(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nchars = corpus.map { case (id, ws) =>
        id -> ws.mkString(" ").length.toLong
      }.toMap
      val byCluster = labels.groupBy(_._2).map { case (cid, m) =>
        cid -> m.keys.toSeq.sorted
      }
      val evenOneCluster =
        (0 until n by 2).map(i => labels(i.toLong)).distinct.size == 1
      val expD10 = byCluster.filter(_._2.size >= 2).map {
        case (cid, members) =>
          val surv = members.maxBy(id => (nchars(id), -id))
          cid -> (members.size.toLong, surv, nchars(surv),
            members.filter(_ != surv).sum,
            members.filter(_ != surv).map(nchars).sum)
      }
      val d10ok = evenOneCluster && {
        val got = run("d10_dedup_survivors").map { r =>
          r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))
        }.toMap
        got == expD10
      }
      d01ok && d14ok && d15ok && d18ok && t21ok && d10ok
    }

  /** Random L2-normalized 64-dim embedding corpus in the fixture schema
    * (vec_id 0 is the query; int32 labels play the IVF cell role).
    * Small label counts and small corpora deliberately exercise the
    * probed-cells-hold-fewer-than-10 edge. */
  private def embeddingsDir(seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val n   = 20 + rnd.nextInt(40)
    val nLb = 1 + rnd.nextInt(8)
    val rows = (0 until n).map { i =>
      val raw  = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(raw.map(x => x * x).sum)
      (i.toLong, raw.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(nLb))
    }
    val dir  = Files.createTempDirectory("prop_embed").toString
    val sqlc = spark
    import sqlc.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "embedding", "CAST(label AS INT) AS label")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  property("s16 equals metrics recomputed from its own ranked legs on " +
    "any embedding corpus, and the metrics respect their bounds") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue))(s16Check)

  /** Regression pin: this seed generates a corpus whose sign-LSH probe
    * retrieves ZERO candidates (no band of any non-query vector matches
    * the query's), so the global metric aggregate sees an empty leg —
    * before the r14 coalesce fix, dcg/ndcg came back NULL and the
    * collect threw ROW_VALUE_IS_NULL. The metrics for "retrieved
    * nothing" are all-zero on both engines. */
  property("s16 on the band-starved corpus (empty LSH leg) emits zero " +
    "metrics, not NULLs") =
    Prop.secure(s16Check(8180272454719892060L))

  private def s16Check(seed: Long): Boolean = {
      val dir = embeddingsDir(seed)
      def ranked(name: String): Seq[Long] =
        SparkEntry.queries(name)(spark, dir).collect().map(_.getLong(0)).toSeq
      def log2(x: Double): Double = math.log(x) / math.log(2.0)
      val exact = ranked("s01_ann_brute_topk")
      val erank = exact.zipWithIndex.map { case (v, i) => v -> (i + 1) }.toMap
      val idcg  = exact.zipWithIndex.map { case (v, i) =>
        (10 - i).toDouble / log2(i + 2.0)
      }.sum
      def expect(lst: Seq[Long]): (Long, Double, Double, Double) = {
        val hits = lst.count(erank.contains).toLong
        val mrr = lst.zipWithIndex
          .collectFirst { case (v, i) if erank.contains(v) => 1.0 / (i + 1) }
          .getOrElse(0.0)
        val dcg = lst.zipWithIndex.map { case (v, i) =>
          erank.get(v).map(11 - _).getOrElse(0).toDouble / log2(i + 2.0)
        }.sum
        (hits, mrr, dcg, dcg / idcg)
      }
      def round6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val byMethod = Map(
        "ivf" -> expect(ranked("s02_ann_ivf")),
        "lsh" -> expect(ranked("s04_ann_lsh")))
      val got = SparkEntry.queries("s16_ranking_metrics")(spark, dir)
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap
      got.keySet == byMethod.keySet && byMethod.forall { case (m, e) =>
        val g = got(m)
        g._1 == e._1 &&
        math.abs(g._2 - round6(e._2)) < 1e-9 &&
        math.abs(g._3 - round6(e._3)) < 1e-6 &&
        math.abs(g._4 - round6(e._4)) < 1e-6 &&
        g._2 >= 0.0 && g._2 <= 1.0 && g._4 >= 0.0 && g._4 <= 1.0 + 1e-9 &&
        (g._1 > 0) == (g._2 > 0)
      }
  }
}
