package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GraftSession, Q, Tables => T}
import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over the embedding column
  * (ArrayType(FloatType), fixed dim 64, L2-normalized per FIXTURES.md so
  * cosine = dot product).
  *
  * s01 is the exact brute-force baseline (O(n) per query — at 100 TB this
  * is a broadcast of the query vector and a single TakeOrderedAndProject,
  * no shuffle). s02 is the IVF-style scale path: coarse-quantize into
  * partitions (the `label` column plays the cluster-id role), rank
  * centroids against the query, probe only the nearest nprobe=2 cells —
  * at scale the probed cells are partition-pruned instead of scanned.
  */
object Similarity {

  /** dot(a, b) via the native codegen'd [[graft.functions.FloatVectorDot]]
    * expression: promoted to double, accumulated left-to-right — the same
    * IEEE operation sequence as the HOF fold the DuckDB oracle mirrors
    * (list_sum ∘ list_transform), so results stay bit-identical while the
    * per-row intermediate product array and lambda dispatch disappear. */
  private def dot(s: SparkSession, a: Column, b: Column): Column =
    GraftFunctions.vecDot(s, a, b)

  /** Exact brute-force cosine top-10 for query vector vec_id=0 — shared
    * by s01 (the registered query) and s08 (ground truth for the recall
    * audit). */
  private def brute10(s: SparkSession, d: String): DataFrame = {
    val e = T.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    top10(s, e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q)))
  }

  /** The top 10 of `cands` by rounded cosine to their query vector `qv`,
    * ties to the lower vec_id: the ranking step of [[brute10]],
    * [[ivfProbe]], [[lsh10]] and s09. */
  private def top10(s: SparkSession, cands: DataFrame): DataFrame =
    cands
      .select(
        col("vec_id"),
        col("label"),
        round(dot(s, col("embedding"), col("qv")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)

  /** Exact brute-force cosine top-k for the query vector vec_id=0. */
  private val s01 = Q(
    "s01_ann_brute_topk",
    (s, d) => brute10(s, d),
    Some("""
      SELECT e.vec_id, e.label,
             round(list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))),
               6) AS cosine
      FROM embeddings e,
           (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY cosine DESC, vec_id
      LIMIT 10"""),
  )

  /** IVF-style ANN: centroid per label cell (element-wise mean), rank
    * cells by centroid·query, probe top-2 cells only, exact rank inside.
    * Centroid ranking is rounded to 9 dp so summation-order noise cannot
    * flip cell selection between engines. */
  /** IVF top-10 at a given nprobe — shared by s02 (nprobe=2), s08's
    * recall audit, and s12's nprobe tuning curve. */
  private def ivfProbe(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val e    = T.embeddings(s, d)
    val rest = e.filter(col("vec_id") =!= 0)
    val qRow = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qExp = e.filter(col("vec_id") === 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "qval")))
    val cent = rest
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v").cast("double")).as("c"))
    val cellRank = cent
      .join(broadcast(qExp), "pos")
      .groupBy(col("label"))
      .agg(round(sum(col("c") * col("qval").cast("double")), 9).as("cd"))
      .orderBy(col("cd").desc, col("label"))
      .limit(nprobe)
      .select(col("label"))
    top10(s, rest.join(broadcast(cellRank), "label").crossJoin(broadcast(qRow)))
  }

  /** IVF nprobe=2 top-10 — the s02/s08 probe. */
  private def ivf10(s: SparkSession, d: String): DataFrame =
    ivfProbe(s, d, 2)

  /** s02's IVF cells in DuckDB SQL: each label cell's per-dimension mean
    * over the non-query vectors (s02, s08, s12, s16). */
  private val centSql = """cent AS (
        SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS c
        FROM embeddings, range(1, 65) t(i)
        WHERE vec_id <> 0
        GROUP BY label, i)"""

  /** s02's nprobe=2 cell rank over [[centSql]] and the query `q`. */
  private val cellRankSql = """cellrank AS (
        SELECT label, round(sum(c * CAST(qv[i] AS DOUBLE)), 9) AS cd
        FROM cent, q
        GROUP BY label
        ORDER BY cd DESC, label
        LIMIT 2)"""

  private val s02 = Q(
    "s02_ann_ivf",
    (s, d) => ivf10(s, d),
    Some(s"""
      WITH $centSql,
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      $cellRankSql
      SELECT e.vec_id, e.label,
             round(list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
               6) AS cosine
      FROM embeddings e JOIN cellrank USING (label), q
      WHERE e.vec_id <> 0
      ORDER BY cosine DESC, vec_id
      LIMIT 10"""),
  )

  /** Batch ANN JOIN: top-5 corpus neighbors for EACH of a 20-vector query
    * set — the retrieval/dedup-across-datasets primitive (every query
    * vector of set A matched against corpus B). Plan: broadcast the small
    * query side, score the corpus in one pass with the codegen'd vec_dot,
    * then per-query top-k through the custom two-phase TopKPerGroup
    * operator — map-side partial heaps shrink the shuffle to
    * partitions·queries·k rows, so the corpus itself is never shuffled.
    * At 100 TB that is exactly the viable shape: one corpus scan, k rows
    * per query per map task over the wire. */
  private val s03 = Q(
    "s03_ann_join",
    (s, d) => {
      val e = T.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val corpus = e.filter(col("vec_id") >= 20)
      val scored = corpus
        .crossJoin(broadcast(queries))
        .select(
          col("query_id"),
          col("vec_id"),
          round(dot(s, col("embedding"), col("qv")), 6).as("cosine"))
      graft.plans.TopK
        .perGroup(
          s,
          scored,
          Seq(col("query_id")),
          Seq(col("cosine").desc, col("vec_id").asc),
          5)
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    },
    Some("""
      SELECT query_id, vec_id, cosine
      FROM (
        SELECT q.vec_id AS query_id, e.vec_id,
               round(list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))),
                 6) AS cosine,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_sum(list_transform(range(1, 65),
                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))),
                   6) DESC, e.vec_id ASC) AS rk
        FROM embeddings e, embeddings q
        WHERE q.vec_id < 20 AND e.vec_id >= 20)
      WHERE rk <= 5
      ORDER BY query_id, cosine DESC, vec_id"""),
  )

  /** LSH-bucketed ANN — the hash-partitioned scale path alongside s02's
    * IVF: 16 sign-LSH plane bits ([[graft.functions.SignDots16]], the
    * same deterministic ±1 hyperplanes d06 uses) banded 4×4 bits; a
    * vector is a candidate iff it shares at least one band value with
    * the query vector. 4-bit bands collide at rate ~1/16 per band, so
    * one probe point keeps a dense-enough candidate set (~1/4 of the
    * corpus across 4 bands) to rank top-10 from — an explicit
    * recall/cost knob: widen bands for less scoring at lower recall.
    *
    * 100 TB posture: the signature is one map-only codegen pass; at
    * scale the corpus is stored bucketed by band value so a probe reads
    * only the query's 4 buckets (partition pruning), and the exact
    * scoring touches ~n/16 per band, never all pairs. Like d06/s02, the
    * oracle mirrors the identical deterministic computation (plane
    * matrix baked as literals), so results hash-match exactly. */
  /** LSH banded-probe top-10 — shared by s04 and s08's recall audit. */
  private def lsh10(s: SparkSession, d: String): DataFrame = {
    import graft.operators.SignBands.bandSpark
    val bandsS = (0 until 4).map(b => s"(${bandSpark(b, 4)}) AS band$b")
    val e = T.embeddings(s, d)
    val sig = e
      .selectExpr(
        Seq("vec_id", "label", "embedding",
          "sign_dots16(embedding) AS dots"): _*)
      .selectExpr(
        Seq("vec_id", "label", "embedding") ++ bandsS: _*)
    val q = sig.filter(col("vec_id") === 0)
      .select(
        col("embedding").as("qv"),
        col("band0").as("qb0"), col("band1").as("qb1"),
        col("band2").as("qb2"), col("band3").as("qb3"))
    top10(s, sig.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .filter(
        col("band0") === col("qb0") || col("band1") === col("qb1") ||
          col("band2") === col("qb2") || col("band3") === col("qb3")))
  }

  /** [[lsh10]]'s band signature table in DuckDB SQL: the four 4-bit
    * sign-LSH bands of every vector (s04, s08, s16). */
  private def sigSql: String = {
    val bands = (0 until 4).map(b => s"(${SignBands.bandDuck(b, 4)}) AS band$b")
    s"""sig AS (
        SELECT vec_id, label, embedding, ${bands.mkString(", ")}
        FROM embeddings)"""
  }

  private val s04 = Q(
    "s04_ann_lsh",
    (s, d) => lsh10(s, d),
    Some(s"""
      WITH $sigSql,
      q AS (
        SELECT embedding AS qv, band0 AS qb0, band1 AS qb1,
               band2 AS qb2, band3 AS qb3
        FROM sig WHERE vec_id = 0)
      SELECT e.vec_id, e.label,
             round(list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))),
               6) AS cosine
      FROM sig e, q
      WHERE e.vec_id <> 0
        AND (e.band0 = q.qb0 OR e.band1 = q.qb1 OR
             e.band2 = q.qb2 OR e.band3 = q.qb3)
      ORDER BY cosine DESC, vec_id
      LIMIT 10"""),
  )

  /** Int8 embedding quantization with a reconstruction-error audit — the
    * storage tier of ANN at scale: per-vector absmax scaling to [-127,
    * 127] integers cuts embedding storage/bandwidth 4× (the same scheme
    * faiss-style scalar quantization and int8 GEMM kernels use), and the
    * per-vector error ceiling is the audit a pipeline runs before
    * swapping the fp32 column out. Quantization uses FLOOR, not
    * round-to-nearest: floor has no tie mode, so the integer codes are
    * bit-identical across engines (the q44/t08 half-tie lesson), while
    * real deployments would round — the audit math is unchanged. Both
    * engines promote float→double and compute (x·127)/absmax with the
    * same parenthesization, so codes and scaled errors agree exactly.
    * Map-only per row; nothing shuffles until the final (tiny) sort. */
  private val s05 = Q(
    "s05_embed_quantize",
    (s, d) =>
      T.embeddings(s, d)
        .withColumn(
          "maxabs",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .filter(col("maxabs") > 0)
        .withColumn(
          "q",
          expr("transform(embedding, " +
            "x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT))"))
        .select(
          col("vec_id"),
          expr("aggregate(q, 0L, (a, x) -> a + x)").as("sum_q"),
          expr("array_max(q)").as("max_q"),
          expr("array_min(q)").as("min_q"),
          expr("CAST(floor(array_max(zip_with(embedding, q, " +
            "(x, qi) -> abs(CAST(x AS DOUBLE) * 127.0 / maxabs - qi))) " +
            "* 1000000) AS BIGINT)").as("max_err_ppm"))
        .orderBy(col("vec_id")),
    Some("""
      WITH m AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        FROM embeddings),
      qz AS (
        SELECT vec_id, embedding, maxabs,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs)
                      AS BIGINT)) AS qv
        FROM m WHERE maxabs > 0)
      SELECT vec_id,
             CAST(list_sum(qv) AS BIGINT) AS sum_q,
             CAST(list_max(qv) AS BIGINT) AS max_q,
             CAST(list_min(qv) AS BIGINT) AS min_q,
             CAST(floor(list_max(list_transform(range(1, len(embedding) + 1),
               i -> abs(CAST(embedding[i] AS DOUBLE) * 127.0 / maxabs - qv[i])))
               * 1000000) AS BIGINT) AS max_err_ppm
      FROM qz
      ORDER BY vec_id"""),
  )

  /** Squared L2 between the float vectors `e.embedding` and `c.cvec` in
    * DuckDB SQL, aliased `dist`: e·e + c·c − 2·(e·c) as three left-to-right
    * folds, the order s06's Spark side sums in (shared by d17). */
  private[operators] val floatL2Sql = """list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(e.embedding[i] AS DOUBLE)))
             + list_sum(list_transform(range(1, 65),
                 i -> CAST(c.cvec[i] AS DOUBLE)
                    * CAST(c.cvec[i] AS DOUBLE)))
             - 2 * list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(c.cvec[i] AS DOUBLE))) AS dist"""

  /** k-means E-step — centroid assignment, the workhorse of embedding
    * clustering for data-mixture curation (cluster-then-balance) and IVF
    * index builds (s02's cells come from exactly this step at scale).
    * Centroids are the k=8 lowest-vec_id vectors (a deterministic seed
    * choice; a real run would iterate Lloyd rounds, each round being this
    * same job). Squared L2 is computed as a·a + c·c − 2·(a·c) with three
    * [[graft.functions.FloatVectorDot]] folds, so every double matches
    * the oracle's mirrored list_sum folds bit-for-bit; assignment is
    * argmin(dist) with ties to the lowest centroid id. The per-centroid
    * report uses integer rollups only (counts, id sums, per-row
    * floor-ppm distances summed as BIGINT) — a float mean would hang the
    * oracle on group summation order; the M-step's mean is the same
    * rollup shape with per-dimension sums.
    *
    * Scale posture: centroids BROADCAST (k rows), the corpus scan is
    * map-only, and the only shuffle is the k-row final rollup — the
    * canonical distributed Lloyd iteration.
    *
    * Domain bound: the ppm-exact report (`floor(dist·1e6)` as BIGINT)
    * overflows — loudly, under ANSI, on BOTH engines — when a component
    * magnitude exceeds ~1.9e5 (dist ≤ 256·v² must stay under 2^63/1e6).
    * Real embeddings sit five orders below that (fixture ~N(0, 0.1);
    * edge-audited green through ±300 components and the all-zero
    * vector), so the exact-integer design is kept over a silent float
    * fallback. */
  private val s06 = Q(
    "s06_kmeans_assign",
    (s, d) => {
      val e = T.embeddings(s, d)
      val cent = e.orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      // argmin via min(struct(dist, cid)) — identical semantics to the
      // row_number window (ties to lowest cid) but partial aggregation
      // combines to one row per vec_id map-side: no per-vector sort, no
      // 8× row inflation over the shuffle (the s07 posture).
      e.crossJoin(broadcast(cent))
        .select(
          col("vec_id"), col("cid"),
          (dot(s, col("embedding"), col("embedding"))
            + dot(s, col("cvec"), col("cvec"))
            - lit(2) * dot(s, col("embedding"), col("cvec"))).as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
        .groupBy(col("cid"))
        .agg(
          count(lit(1)).as("n_assigned"),
          sum(col("vec_id")).as("sum_vec_id"),
          sum(expr("CAST(floor(dist * 1000000) AS BIGINT)"))
            .as("sum_dist_ppm"))
        .orderBy(col("cid"))
    },
    Some(s"""
      WITH cent AS (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings ORDER BY vec_id LIMIT 8),
      pairs AS (
        SELECT e.vec_id, c.cid,
               $floatL2Sql
        FROM embeddings e CROSS JOIN cent c),
      assigned AS (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist, cid) AS rk
        FROM pairs)
      SELECT cid,
             count(*) AS n_assigned,
             CAST(sum(vec_id) AS BIGINT) AS sum_vec_id,
             CAST(sum(CAST(floor(dist * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_dist_ppm
      FROM assigned
      WHERE rk = 1
      GROUP BY cid
      ORDER BY cid"""),
  )

  /** Squared L2 between a float-array `embedding` and a double-array
    * `cvec`, expanded as e·e + c·c − 2·(e·c) with three sequential
    * left-to-right folds — the same IEEE operation order as the oracle's
    * list_sum ∘ list_transform, so distances are bit-identical across
    * engines. Built-in HOFs (not [[graft.functions.FloatVectorDot]])
    * because the M-step's updated centroids are double arrays; at a
    * scale where the interpreted lambda showed up in profiles, the
    * promotion path is a DoubleVectorDot sibling of vec_dot. */
  private def dist2: Column = expr(
    """aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 CAST(0 AS DOUBLE), (a, v) -> a + v)
     + aggregate(transform(cvec, y -> y * y),
                 CAST(0 AS DOUBLE), (a, v) -> a + v)
     - 2 * aggregate(zip_with(embedding, cvec, (x, y) -> CAST(x AS DOUBLE) * y),
                 CAST(0 AS DOUBLE), (a, v) -> a + v)""")

  /** k-means M-step + one reassignment — the half of the Lloyd round
    * s06's scaladoc promises. Round 0 assigns to the k=8 seed centroids
    * (s06's E-step); the M-step recomputes each centroid as the
    * per-dimension mean of its assigned vectors; a second E-step against
    * the updated centroids shows the movement. The audit row per
    * centroid: population before/after, churn in/out, floor-ppm inertia
    * before/after (Lloyd's monotone-descent invariant is visible in the
    * totals), and how far the centroid itself moved (squared L2, ppm).
    *
    * Determinism: the mean is (Σ floor(x·1e6)) / 1e6 / n — integer
    * per-dimension ppm sums rolled up as BIGINT, divided back to double
    * in the same left-to-right order on both engines — because a naive
    * float mean would hang the oracle on group summation order (the
    * s05/s06 floor trick, per-dimension). Assignment argmin ties break
    * to the lowest cid via min(struct(dist, cid)) ≡ the oracle's
    * row_number ORDER BY dist, cid.
    *
    * Scale posture: centroids BROADCAST in both E-steps (k and 2k rows);
    * assignment is a map-side cross join reduced by min(struct(..))
    * groupBy — partial aggregation combines to one row per vec_id
    * map-side, strictly cheaper than s06's window (no sort, no 8×
    * shuffle inflation). The M-step shuffles (cid, dim) keys with
    * map-side combine (≤ k·64 rows per partition reach the wire), and
    * both E-steps run in the SAME slim aggregate (round-tagged union of
    * centroid sets), so the corpus is scanned exactly twice — the
    * textbook two-pass distributed Lloyd iteration. Final stats joins
    * are k-row × k-row. */
  /** The k=8 seed centroids (lowest vec_ids, promoted to double arrays)
    * and their one-Lloyd-round update: E-step 0 via the min(struct)
    * argmin keeping the vector for the M-step, then the per-(centroid,
    * dimension) integer-ppm mean. Shared by s07 (which audits the
    * movement) and s09 (which uses the updated centroids as the IVF
    * coarse quantizer). */
  private def lloydCentroids(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // Both centroid frames are k = 8 rows read by MANY consumers (the
    // E-step broadcasts, the shift join, s09's quantizer): materialized
    // (r19), or every consumer re-runs the seed TakeOrdered scan and —
    // far worse — ncent's whole E0 cross-join + M-step subtree (s07's
    // plan carried the Lloyd subtree 4×).
    val cent0 = e.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("cid"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cvec"))
      .transform(GraftSession.materialize)
    // E-step 0, keeping the vector for the M-step: min over a struct
    // whose (dist, cid) prefix decides before the rode-along embedding
    // is ever compared.
    val a0 = e.crossJoin(broadcast(cent0))
      .select(col("vec_id"), col("cid"), col("embedding"), dist2.as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"), col("embedding"))).as("m"))
      .select(col("m.cid").as("cid"), col("m.embedding").as("embedding"))
    // M-step: per-(centroid, dimension) integer ppm sums.
    val nsum = a0
      .select(col("cid"), posexplode(col("embedding")).as(Seq("p", "v")))
      .groupBy(col("cid"), (col("p") + 1).as("i"))
      .agg(
        sum(floor(col("v").cast("double") * lit(1000000)).cast("long"))
          .as("sv"),
        count(lit(1)).as("n"))
    val ncent = nsum
      .withColumn("dm", col("sv").cast("double") / lit(1000000) / col("n"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("i"), col("dm")))).as("ps"))
      .select(col("cid"), expr("transform(ps, q -> q.dm)").as("cvec"))
      .transform(GraftSession.materialize)
    (cent0, ncent)
  }

  /** CTE `name` minus its closing parenthesis: every vector's squared L2
    * (`dist`) to each centroid `cid` of `cent`, in [[dist2]]'s fold order. */
  private def l2Sql(name: String, cent: String): String = s"""$name AS (
        SELECT e.vec_id, c.cid,
               list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(e.embedding[i] AS DOUBLE)))
             + list_sum(list_transform(range(1, 65),
                 i -> c.cvec[i] * c.cvec[i]))
             - 2 * list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i])) AS dist
        FROM embeddings e CROSS JOIN $cent c"""

  /** CTE `name`: each vector's nearest centroid in `from`, ties to the
    * lowest cid, keeping `cols`. */
  private def argminSql(name: String, from: String, cols: String): String =
    s"""$name AS (
        SELECT $cols FROM (
          SELECT $cols,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cid) AS rk
          FROM $from) r WHERE rk = 1)"""

  /** [[lloydCentroids]] in DuckDB SQL (s07, s09): the seed centroids
    * `cent0`, E-step 0 (`p0`, then `a0` keeping `a0Cols`) and the
    * integer-ppm M-step's updated centroids `ncent`. */
  private def lloydSql(a0Cols: String): String = s"""cent0 AS (
        SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM embeddings ORDER BY vec_id LIMIT 8),
      ${l2Sql("p0", "cent0")}),
      ${argminSql("a0", "p0", a0Cols)},
      nsum AS (
        SELECT a.cid, i,
               CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000000)
                 AS BIGINT)) AS BIGINT) AS sv,
               count(*) AS n
        FROM a0 a JOIN embeddings e USING (vec_id),
             unnest(range(1, 65)) AS t(i)
        GROUP BY a.cid, i),
      ncent AS (
        SELECT cid, list(CAST(sv AS DOUBLE) / 1000000 / n ORDER BY i) AS cvec
        FROM nsum GROUP BY cid)"""

  private val s07 = Q(
    "s07_kmeans_mstep",
    (s, d) => {
      val e = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val (cent0, ncent) = lloydCentroids(s, d)
      // E-steps 0 and 1 in one slim aggregate over a round-tagged
      // broadcast union of both centroid sets.
      val tagged = cent0.withColumn("rnd", lit(0))
        .unionByName(ncent.withColumn("rnd", lit(1)))
      // Per-vector movement frame, read by BOTH rollups (s0 by cid0 and
      // s1 by cid1): materialized (r19) so the corpus × 16-centroid
      // E-step aggregate runs once, not once per rollup.
      val mv = e.crossJoin(broadcast(tagged))
        .select(col("vec_id"), col("rnd"), col("cid"), dist2.as("dist"))
        .groupBy(col("vec_id"))
        .agg(
          min(when(col("rnd") === 0, struct(col("dist"), col("cid"))))
            .as("m0"),
          min(when(col("rnd") === 1, struct(col("dist"), col("cid"))))
            .as("m1"))
        .select(
          col("m0.cid").as("cid0"), col("m0.dist").as("dist0"),
          col("m1.cid").as("cid1"), col("m1.dist").as("dist1"))
        .transform(GraftSession.materialize)
      val ppm0 = floor(col("dist0") * lit(1000000)).cast("long")
      val ppm1 = floor(col("dist1") * lit(1000000)).cast("long")
      val s0 = mv.groupBy(col("cid0").as("cid"))
        .agg(
          count(lit(1)).as("n_before"),
          coalesce(sum(when(col("cid1") =!= col("cid0"), 1L)), lit(0L))
            .as("moved_out"),
          sum(ppm0).as("inertia_before_ppm"))
      val s1 = mv.groupBy(col("cid1").as("cid"))
        .agg(
          count(lit(1)).as("n_after"),
          coalesce(sum(when(col("cid0") =!= col("cid1"), 1L)), lit(0L))
            .as("moved_in"),
          sum(ppm1).as("inertia_after_ppm"))
      val sh = cent0.select(col("cid"), col("cvec").as("c0vec"))
        .join(ncent.select(col("cid"), col("cvec").as("c1vec")), "cid")
        .select(col("cid"),
          floor(expr(
            """aggregate(zip_with(c0vec, c1vec, (x, y) -> (x - y) * (x - y)),
                         CAST(0 AS DOUBLE), (a, v) -> a + v)""")
            * lit(1000000)).cast("long").as("shift_ppm"))
      sh.join(s0, Seq("cid"), "left").join(s1, Seq("cid"), "left")
        .select(
          col("cid"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("moved_out"), lit(0L)).as("moved_out"),
          coalesce(col("inertia_before_ppm"), lit(0L)).as("inertia_before_ppm"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          coalesce(col("moved_in"), lit(0L)).as("moved_in"),
          coalesce(col("inertia_after_ppm"), lit(0L)).as("inertia_after_ppm"),
          col("shift_ppm"))
        .orderBy(col("cid"))
    },
    Some(s"""
      WITH ${lloydSql("vec_id, cid, dist")},
      ${l2Sql("p1", "ncent")}),
      ${argminSql("a1", "p1", "vec_id, cid, dist")},
      mv AS (
        SELECT a0.vec_id, a0.cid AS cid0, a0.dist AS dist0,
               a1.cid AS cid1, a1.dist AS dist1
        FROM a0 JOIN a1 USING (vec_id)),
      s0 AS (
        SELECT cid0 AS cid, count(*) AS n_before,
               count(*) FILTER (WHERE cid1 <> cid0) AS moved_out,
               CAST(sum(CAST(floor(dist0 * 1000000) AS BIGINT)) AS BIGINT)
                 AS inertia_before_ppm
        FROM mv GROUP BY cid0),
      s1 AS (
        SELECT cid1 AS cid, count(*) AS n_after,
               count(*) FILTER (WHERE cid0 <> cid1) AS moved_in,
               CAST(sum(CAST(floor(dist1 * 1000000) AS BIGINT)) AS BIGINT)
                 AS inertia_after_ppm
        FROM mv GROUP BY cid1),
      sh AS (
        SELECT c0.cid,
               CAST(floor(list_sum(list_transform(range(1, 65),
                 i -> (c0.cvec[i] - c1.cvec[i]) * (c0.cvec[i] - c1.cvec[i])))
                 * 1000000) AS BIGINT) AS shift_ppm
        FROM cent0 c0 JOIN ncent c1 USING (cid))
      SELECT sh.cid,
             coalesce(n_before, 0) AS n_before,
             coalesce(moved_out, 0) AS moved_out,
             coalesce(inertia_before_ppm, 0) AS inertia_before_ppm,
             coalesce(n_after, 0) AS n_after,
             coalesce(moved_in, 0) AS moved_in,
             coalesce(inertia_after_ppm, 0) AS inertia_after_ppm,
             shift_ppm
      FROM sh LEFT JOIN s0 USING (cid) LEFT JOIN s1 USING (cid)
      ORDER BY sh.cid"""),
  )

  /** The recall audits' common oracle CTEs (s08, s12): the exact top-10
    * (`exact`), the IVF cells and the query vector `q`. */
  private val recallBaseSql = s"""exact AS (
        SELECT e.vec_id
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) qe
        WHERE e.vec_id <> 0
        ORDER BY round(list_sum(list_transform(range(1, 65),
            i -> CAST(e.embedding[i] AS DOUBLE)
               * CAST(qe.embedding[i] AS DOUBLE))), 6) DESC, e.vec_id
        LIMIT 10),
      $centSql,
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),"""

  /** CTE `name`: the top-10 vec_ids inside the cells `cellrank` keeps. */
  private def ivfTop10Sql(name: String, cellrank: String): String = s"""$name AS (
        SELECT e.vec_id
        FROM embeddings e JOIN $cellrank USING (label), q
        WHERE e.vec_id <> 0
        ORDER BY round(list_sum(list_transform(range(1, 65),
            i -> CAST(e.embedding[i] AS DOUBLE)
               * CAST(q.qv[i] AS DOUBLE))), 6) DESC, e.vec_id
        LIMIT 10)"""

  /** [[recall10]]'s row in DuckDB SQL for the top-10 CTE `probe`. */
  private def recallRowSql(tag: String, probe: String): String =
    s"""SELECT $tag, 10 AS k, count(*) AS n_hits,
               count(*) * 10 AS recall_pct
        FROM $probe JOIN exact USING (vec_id)"""

  /** One recall@10 row: how many of `approx`'s top-10 vec_ids are in the
    * `exact` top-10, labelled by the `tag` column (s08, s12). */
  private def recall10(approx: DataFrame, exact: DataFrame, tag: Column): DataFrame =
    approx.select(col("vec_id")).join(exact, "vec_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(tag, lit(10L).as("k"), col("n_hits"),
        (col("n_hits") * 10).as("recall_pct"))

  /** ANN recall audit — recall@10 of the two approximate probes (s02's
    * IVF at nprobe=2, s04's banded LSH) against s01's exact brute-force
    * ground truth: the first number any ANN deployment publishes, and
    * the acceptance gate for widening nprobe / narrowing bands. Each
    * method's top-10 is recomputed by the SAME shared code path the
    * registered queries use (brute10/ivf10/lsh10), intersected with the
    * exact set, and reported as integer hit counts (recall_pct =
    * n_hits·10 for k=10 — no float division to diverge on).
    *
    * Scale posture: identical to the audited queries themselves — the
    * corpus is scanned once per method with the query side broadcast,
    * each scan reduces to a 10-row TakeOrderedAndProject, and the
    * intersections join 10-row frames. Running the audit costs exactly
    * one extra exact pass over whatever vector sample the recall is
    * estimated on (at 100 TB: a sampled query set, not the corpus). */
  private val s08 = Q(
    "s08_ann_recall",
    (s, d) => {
      val exact = brute10(s, d).select(col("vec_id"))
      recall10(ivf10(s, d), exact, lit("ivf").as("method"))
        .unionByName(recall10(lsh10(s, d), exact, lit("lsh").as("method")))
        .orderBy(col("method"))
    },
    Some(s"""
      WITH $recallBaseSql
      $cellRankSql,
      ${ivfTop10Sql("ivf", "cellrank")},
      $sigSql,
      qs AS (
        SELECT embedding AS qv, band0 AS qb0, band1 AS qb1,
               band2 AS qb2, band3 AS qb3
        FROM sig WHERE vec_id = 0),
      lsh AS (
        SELECT e.vec_id
        FROM sig e, qs
        WHERE e.vec_id <> 0
          AND (e.band0 = qs.qb0 OR e.band1 = qs.qb1 OR
               e.band2 = qs.qb2 OR e.band3 = qs.qb3)
        ORDER BY round(list_sum(list_transform(range(1, 65),
            i -> CAST(e.embedding[i] AS DOUBLE)
               * CAST(qs.qv[i] AS DOUBLE))), 6) DESC, e.vec_id
        LIMIT 10)
      SELECT method, k, n_hits, recall_pct FROM (
        ${recallRowSql("'ivf' AS method", "ivf")}
        UNION ALL
        ${recallRowSql("'lsh' AS method", "lsh")}) u
      ORDER BY method"""),
  )

  /** IVF probe over a LEARNED coarse quantizer — the end-to-end index
    * build s02's scaladoc points at: instead of the fixture `label`
    * column standing in for cells, the cells ARE the one-Lloyd-round
    * k-means centroids ([[lloydCentroids]], shared with s07). Corpus
    * vectors are assigned to their nearest updated centroid (squared-L2
    * argmin, the training metric), cells are ranked by centroid·query
    * (the probe metric, rounded to 9 dp so summation noise cannot flip
    * cell choice), the top nprobe=2 cells are probed, and the exact
    * cosine rank runs only inside them. This is the faiss IVF-flat
    * lifecycle — train, assign, probe — every stage under the oracle
    * gate.
    *
    * Scale posture: identical to s02/s06 — centroids broadcast both
    * times the corpus is scanned (assign, score), assignment reduces
    * map-side via min(struct), the probed subset is partition-prunable
    * when cells are stored as partitions, and the result is one 10-row
    * TakeOrderedAndProject. */
  private val s09 = Q(
    "s09_ann_ivf_kmeans",
    (s, d) => {
      val e = T.embeddings(s, d)
      val (_, ncent) = lloydCentroids(s, d)
      val qRow = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      // Assign every non-query vector to its learned cell, carrying
      // label + vector through the argmin payload.
      val cells = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(ncent))
        .select(col("vec_id"), col("label"), col("embedding"), col("cid"),
          dist2.as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(struct(
          col("dist"), col("cid"), col("label"), col("embedding"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"),
          col("m.label").as("label"), col("m.embedding").as("embedding"))
      val crank = ncent.crossJoin(broadcast(qRow))
        .select(col("cid"),
          round(expr(
            """aggregate(zip_with(cvec, qv, (x, y) -> x * CAST(y AS DOUBLE)),
                         CAST(0 AS DOUBLE), (a, v) -> a + v)"""), 9).as("cd"))
        .orderBy(col("cd").desc, col("cid"))
        .limit(2)
        .select(col("cid"))
      top10(s, cells.join(broadcast(crank), "cid").crossJoin(broadcast(qRow)))
    },
    Some(s"""
      WITH ${lloydSql("vec_id, cid")},
      ${l2Sql("p1", "ncent")}
        WHERE e.vec_id <> 0),
      ${argminSql("cells", "p1", "vec_id, cid")},
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      crank AS (
        SELECT c.cid,
               round(list_sum(list_transform(range(1, 65),
                 i -> c.cvec[i] * CAST(q.qv[i] AS DOUBLE))), 9) AS cd
        FROM ncent c, q
        ORDER BY cd DESC, c.cid
        LIMIT 2)
      SELECT e.vec_id, e.label,
             round(list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE)
                  * CAST(q.qv[i] AS DOUBLE))), 6) AS cosine
      FROM cells JOIN crank USING (cid)
           JOIN embeddings e USING (vec_id), q
      ORDER BY cosine DESC, e.vec_id
      LIMIT 10"""),
  )

  /** Two-stage retrieval: int8 prescreen → exact rerank — the production
    * ANN serving pattern s05's quantization exists FOR. Stage 1 scores
    * every corpus vector against the query in the s05 int8 domain
    * (floor-absmax per vector, so the integer dot product is
    * bit-identical in any engine) and keeps the top-50 candidates —
    * map-only math into a bounded TakeOrdered heap, the memory-bandwidth
    * win (4× smaller vectors) that makes the full scan affordable at
    * scale. Stage 2 re-ranks only those 50 with the exact float cosine
    * and emits the top-10, carrying both scores so the rerank's
    * reordering is visible in the output.
    *
    * Scale shape: stage 1 never shuffles the corpus (broadcast 1-row
    * query, partial top-50 per partition); stage 2 runs on 50 rows.
    * s08's recall methodology applies unchanged if the prescreen width
    * needs tuning. */
  private val s10 = Q(
    "s10_ann_rerank",
    (s, d) => {
      val e = T.embeddings(s, d)
        .withColumn(
          "maxabs",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .filter(col("maxabs") > 0)
        .withColumn(
          "qv",
          expr("transform(embedding, " +
            "x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT))"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("qv").as("q_qv"))
      val cand = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn(
          "idot",
          expr("aggregate(zip_with(qv, q_qv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
        .orderBy(col("idot").desc, col("vec_id"))
        .limit(50)
      cand
        .select(
          col("vec_id"),
          col("label"),
          col("idot"),
          round(dot(s, col("embedding"), col("q_emb")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(10)
    },
    Some("""
      WITH m AS (
        SELECT vec_id, label, embedding,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        FROM embeddings),
      qz AS (
        SELECT vec_id, label, embedding,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs)
                      AS BIGINT)) AS qv
        FROM m WHERE maxabs > 0),
      q AS (SELECT embedding AS q_emb, qv AS q_qv FROM qz WHERE vec_id = 0),
      cand AS (
        SELECT c.vec_id, c.label, c.embedding,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> c.qv[i] * q.q_qv[i])) AS BIGINT) AS idot
        FROM qz c, q
        WHERE c.vec_id <> 0
        ORDER BY idot DESC, c.vec_id
        LIMIT 50)
      SELECT c.vec_id, c.label, c.idot,
             round(list_sum(list_transform(range(1, 65),
               i -> CAST(c.embedding[i] AS DOUBLE)
                  * CAST(q.q_emb[i] AS DOUBLE))), 6) AS cosine
      FROM cand c, q
      ORDER BY cosine DESC, c.vec_id
      LIMIT 10"""),
  )

  /** s11's PQ codebook in DuckDB SQL (shared by s17's training): M=4
    * subspaces of 16 codewords seeded from vec_ids 1–16. */
  private val codebookSql = """cb AS (
        SELECT CAST(c.vec_id AS INT) AS code, m.m, j.j,
               CAST(c.embedding[(m.m - 1) * 16 + j.j] AS DOUBLE) AS cval
        FROM embeddings c, range(1, 5) m(m), range(1, 17) j(j)
        WHERE c.vec_id BETWEEN 1 AND 16)"""

  /** Each corpus subvector's 9-dp squared distance `d2` to each codeword,
    * as a select-list item and FROM clause over [[codebookSql]]. */
  private val subDistSql = """round(sum(
                 (CAST(e.embedding[(cb.m - 1) * 16 + cb.j] AS DOUBLE) - cb.cval)
                 * (CAST(e.embedding[(cb.m - 1) * 16 + cb.j] AS DOUBLE) - cb.cval)),
                 9) AS d2
        FROM embeddings e, cb
        WHERE e.vec_id <> 0"""

  /** Product quantization (PQ) with an ADC scan — the codebook
    * compression tier of the ANN stack (s05 is scalar int8 at 4×; PQ here
    * is 64 floats → 4 byte-codes, 64×): split each vector into M=4
    * 16-dim subvectors, quantize each against a per-subspace codebook of
    * 16 codewords (deterministically seeded from vec_ids 1–16, the s02
    * fixture-seed convention — s09 shows the learned path), then answer
    * the query WITHOUT touching original vectors: an asymmetric-distance
    * (ADC) table of query·codeword inner products (M×16 = 64 entries,
    * broadcast) is summed over each vector's 4 codes. Emits approx and
    * exact inner products side by side so the compression error is
    * visible in the gated output.
    *
    * Per-subspace distances and ADC cells round to 9 dp before the
    * argmin/sum (the s02 cell-rank rule) so accumulation-order noise
    * cannot flip a code assignment between engines; the argmin itself is
    * a min(struct(d2, code)) partial aggregate — no window, no sort.
    *
    * 100 TB shape: encoding is the real PQ build cost — a map-side
    * explode joined to a BROADCAST codebook (M×k×16 = 1024 rows), with
    * map-side combine collapsing to n×M rows before the one shuffle on
    * vec_id; the ADC table is 64 broadcast rows; the scan itself never
    * shuffles the corpus and ends in TakeOrderedAndProject. Codes at
    * rest are 4 bytes/vector — the index that lets a 100 TB corpus sit
    * in RAM. */
  private val s11 = Q(
    "s11_ann_pq_adc",
    (s, d) => {
      val e = T.embeddings(s, d)
      def subExplode(df: DataFrame): DataFrame = df
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(
          col("vec_id"), col("label"),
          (expr("pos div 16") + 1).cast("int").as("m"),
          (pmod(col("pos"), lit(16)) + 1).cast("int").as("j"),
          col("v").cast("double").as("v"))
      val cb = subExplode(e.filter(col("vec_id").between(1, 16)))
        .select(col("vec_id").cast("int").as("code"), col("m"), col("j"),
          col("v").as("cval"))
      val corpus = subExplode(e.filter(col("vec_id") =!= 0))
      val dist = corpus
        .join(broadcast(cb), Seq("m", "j"))
        .withColumn("diff", col("v") - col("cval"))
        .groupBy(col("vec_id"), col("label"), col("m"), col("code"))
        .agg(round(sum(col("diff") * col("diff")), 9).as("d2"))
      val codes = dist
        .groupBy(col("vec_id"), col("label"), col("m"))
        .agg(min(struct(col("d2"), col("code"))).as("best"))
        .select(col("vec_id"), col("label"), col("m"),
          col("best.code").as("code"))
      val adc = subExplode(e.filter(col("vec_id") === 0))
        .select(col("m"), col("j"), col("v").as("qval"))
        .join(broadcast(cb), Seq("m", "j"))
        .groupBy(col("m"), col("code"))
        .agg(round(sum(col("qval") * col("cval")), 9).as("t"))
      val approx = codes
        .join(broadcast(adc), Seq("m", "code"))
        .groupBy(col("vec_id"), col("label"))
        .agg(round(sum(col("t")), 6).as("approx_ip"))
        .orderBy(col("approx_ip").desc, col("vec_id"))
        .limit(10)
      val qRow = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      approx
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .crossJoin(broadcast(qRow))
        .select(
          col("vec_id"), col("label"), col("approx_ip"),
          round(dot(s, col("embedding"), col("qv")), 6).as("exact_ip"))
        .orderBy(col("approx_ip").desc, col("vec_id"))
    },
    Some(s"""
      WITH $codebookSql,
      dist AS (
        SELECT e.vec_id, e.label, cb.m, cb.code,
               $subDistSql
        GROUP BY 1, 2, 3, 4),
      codes AS (
        SELECT vec_id, label, m, code
        FROM (SELECT vec_id, label, m, code,
                     row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2, code) AS rk
              FROM dist)
        WHERE rk = 1),
      adc AS (
        SELECT cb.m, cb.code,
               round(sum(CAST(q.embedding[(cb.m - 1) * 16 + cb.j] AS DOUBLE)
                         * cb.cval), 9) AS t
        FROM embeddings q, cb
        WHERE q.vec_id = 0
        GROUP BY 1, 2),
      approx AS (
        SELECT c.vec_id, c.label, round(sum(a.t), 6) AS approx_ip
        FROM codes c JOIN adc a USING (m, code)
        GROUP BY 1, 2
        ORDER BY approx_ip DESC, vec_id
        LIMIT 10)
      SELECT ap.vec_id, ap.label, ap.approx_ip,
             round(list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))),
               6) AS exact_ip
      FROM approx ap
      JOIN embeddings e ON e.vec_id = ap.vec_id
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      ORDER BY ap.approx_ip DESC, ap.vec_id"""),
  )

  /** IVF nprobe tuning curve — the accuracy/cost dial every IVF
    * deployment publishes before picking an operating point: recall@10
    * vs the brute-force ground truth (s01's shared [[brute10]]) at
    * nprobe = 1..4, through the same [[ivfProbe]] code path the
    * registered s02 query runs. Recall is monotone in nprobe by
    * construction (probing more cells only adds candidates); the curve
    * shows where it saturates — the cell count you actually pay for.
    *
    * Scale posture: each probe is s02's plan (centroids broadcast,
    * probed cells partition-pruned at scale, TakeOrderedAndProject);
    * the curve is 4 probes over the same cached shapes, and the audit
    * joins are 10-row sets. */
  private val s12 = Q(
    "s12_ann_nprobe_curve",
    (s, d) => {
      val exact = brute10(s, d).select(col("vec_id"))
      (1 to 4).map(np =>
        recall10(ivfProbe(s, d, np), exact, lit(np).as("nprobe")))
        .reduce(_.unionByName(_))
        .orderBy(col("nprobe"))
    }, {
      val probes = (1 to 4).map { np =>
        s"""cellrank$np AS (
        SELECT label, round(sum(c * CAST(qv[i] AS DOUBLE)), 9) AS cd
        FROM cent, q GROUP BY label ORDER BY cd DESC, label LIMIT $np),
      ${ivfTop10Sql(s"ivf$np", s"cellrank$np")}"""
      }.mkString(",\n      ")
      val rows = (1 to 4).map(np => recallRowSql(s"$np AS nprobe", s"ivf$np"))
        .mkString("\n        UNION ALL\n        ")
      Some(s"""
      WITH $recallBaseSql
      $probes
      SELECT nprobe, k, n_hits, recall_pct FROM (
        $rows) u
      ORDER BY nprobe""")
    },
  )

  /** s13's per-vector health expressions, exposed for the boundary spec
    * (m07's convention: latent branches the fixture can't reach — zero
    * vectors, empty arrays — get proven on literals instead). The squared
    * norm is exact integer milli-quantization: q = floor(x·1000) per
    * component (s05's floor convention — floor of an identically-computed
    * double is the same integer in both engines), sqnorm = Σq². A healthy
    * unit-normalized vector lands near 10⁶; a batch whose mean drifts is
    * mis-normalized, a zero vector is a failed upstream encode. */
  private[graft] val SqnormMilliExpr: String =
    """coalesce(aggregate(transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
         0L, (a, q) -> a + q * q), 0L)"""

  private[graft] val IsZeroExpr: String =
    "CASE WHEN size(filter(embedding, x -> CAST(x AS DOUBLE) <> 0.0D)) = 0" +
      " THEN 1L ELSE 0L END"

  /** Embedding health audit — the per-batch QA report an embedding
    * pipeline gates ingestion on (`label` plays the batch/shard-id role
    * the fixture schema provides): vector count, failed-encode zero
    * vectors, and the min/mean/max exact-integer squared norm whose
    * drift from 10⁶ flags a mis-normalized batch. The whole s-pack
    * ASSUMES unit vectors (cosine = dot); s13 is the audit that makes
    * the assumption checkable instead of trusted.
    *
    * Scale shape (100 TB): per-vector quantize+reduce is pure map-side
    * arithmetic; the rollup lands on the |labels|-row grid with map-side
    * combine — one tiny shuffle, no join, no window. */
  private val s13 = Q(
    "s13_embedding_qa",
    (s, d) =>
      T.embeddings(s, d)
        .selectExpr(
          "label",
          s"$SqnormMilliExpr AS sqn",
          s"$IsZeroExpr AS isz")
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(col("isz")).as("n_zero"),
          min(col("sqn")).as("min_sqnorm_milli"),
          expr("sum(sqn) div count(1)").as("mean_sqnorm_milli"),
          max(col("sqn")).as("max_sqnorm_milli"))
        .orderBy(col("label")),
    Some("""
      WITH q AS (
        SELECT label,
               CAST(coalesce(list_sum(list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                      * CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))),
                 0) AS BIGINT) AS sqn,
               CASE WHEN len(list_filter(embedding, x -> x <> 0)) = 0
                    THEN 1 ELSE 0 END AS isz
        FROM embeddings)
      SELECT label,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(isz) AS BIGINT) AS n_zero,
             CAST(min(sqn) AS BIGINT) AS min_sqnorm_milli,
             CAST(sum(sqn) // count(*) AS BIGINT) AS mean_sqnorm_milli,
             CAST(max(sqn) AS BIGINT) AS max_sqnorm_milli
      FROM q GROUP BY label ORDER BY label"""),
  )

  /** The deterministic ±1 Johnson–Lindenstrauss sign matrix, 16×64:
    * R[j][i] = +1 iff the first hex nibble of md5("j:i") is even —
    * reproducible in any engine with an md5 (the DuckDB oracle derives
    * the identical matrix via `substr(md5(...), 1, 1)` parity), no RNG
    * state to ship. Achlioptas (2001) showed ±1 entries satisfy the JL
    * lemma with the same guarantees as Gaussian projections. */
  private[graft] val JlSigns: Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map { j =>
      (0 until 64).map { i =>
        val nib = (md.digest(s"$j:$i".getBytes("UTF-8"))(0) >> 4) & 0xf
        if (nib % 2 == 0) 1L else -1L
      }.toSeq
    }
  }

  /** Random-projection (JL) dimensionality reduction + distance-
    * preservation audit — the third storage tier of the ANN corpus after
    * s05's int8 (4×) and s11's PQ codes: 64 floats → 16 small ints (and
    * unlike PQ, the projected space still supports exact L2 arithmetic,
    * so it can PRESCREEN like s10's int8 stage with 4× less bandwidth).
    * Embeddings are milli-quantized by s05/s13's floor convention so the
    * projection Σᵢ R[j][i]·qᵢ is exact integer arithmetic end to end;
    * the audit compares projected vs original squared L2 distance on the
    * id-adjacent pair sample (d05/d12's bounded-candidate convention) as
    * ratio_ppm = ⌊10⁶·d16/(16·d64)⌋ — for ±1 rows E[d16] = 16·d64, so
    * concentration near 10⁶ is the JL lemma made checkable (the spec
    * pins the median band; this oracle pins every row bit-exactly).
    *
    * Scale shape (100 TB): the projection is pure map-side HOF
    * arithmetic over a broadcast-literal 16×64 matrix — no shuffle, no
    * join; the audit joins v⋈v+1 as a key-shuffled equi-join (never a
    * cartesian). */
  private val s14 = Q(
    "s14_jl_projection",
    (s, d) => {
      val proj = T.embeddings(s, d)
        .withColumn("rmat", typedLit(JlSigns))
        .withColumn("m",
          expr("transform(embedding," +
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .withColumn("p",
          expr("transform(rmat, row -> aggregate(" +
            "zip_with(row, m, (r, q) -> r * q), 0L, (a, x) -> a + x))"))
        .select(col("vec_id"), col("m"), col("p"))
      val a = proj.toDF("vec_id", "am", "ap")
      val b = proj.toDF("bvec_id", "bm", "bp")
      a.join(b, col("bvec_id") === col("vec_id") + 1)
        .select(
          col("vec_id"),
          element_at(col("ap"), 1).as("proj0"),
          element_at(col("ap"), 16).as("proj15"),
          expr("aggregate(zip_with(am, bm, (x, y) -> (x - y) * (x - y))," +
            " 0L, (a, x) -> a + x)").as("d64"),
          expr("aggregate(zip_with(ap, bp, (x, y) -> (x - y) * (x - y))," +
            " 0L, (a, x) -> a + x)").as("d16"))
        .filter(col("d64") > 0)
        .withColumn("ratio_ppm", expr("(1000000 * d16) div (16 * d64)"))
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS m
        FROM embeddings),
      proj AS (
        SELECT vec_id, m,
               list_transform(range(0, 16), j ->
                 CAST(list_sum(list_transform(range(1, 65), i ->
                   (CASE WHEN strpos('02468ace',
                      substr(md5(CAST(j AS VARCHAR) || ':'
                             || CAST(i - 1 AS VARCHAR)), 1, 1)) > 0
                    THEN 1 ELSE -1 END) * m[i])) AS BIGINT)) AS p
        FROM q),
      pairs AS (
        SELECT a.vec_id,
               CAST(a.p[1] AS BIGINT) AS proj0,
               CAST(a.p[16] AS BIGINT) AS proj15,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (a.m[i] - b.m[i]) * (a.m[i] - b.m[i])))
                 AS BIGINT) AS d64,
               CAST(list_sum(list_transform(range(1, 17),
                 i -> (a.p[i] - b.p[i]) * (a.p[i] - b.p[i])))
                 AS BIGINT) AS d16
        FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1)
      SELECT vec_id, proj0, proj15, d64, d16,
             CAST((1000000 * d16) // (16 * d64) AS BIGINT) AS ratio_ppm
      FROM pairs WHERE d64 > 0
      ORDER BY vec_id"""),
  )

  /** MMR (maximal marginal relevance) diversified re-ranking — the
    * greedy set-construction mechanic retrieval pipelines run AFTER
    * top-k: s01's raw top-10 can be ten near-copies of one passage,
    * while a context window wants coverage, so MMR picks 5 of the top
    * 20 by iteratively maximizing λ·cos(q,d) − (1−λ)·max_{s∈S}cos(d,s).
    * With λ = ½ that objective orders identically to rel − maxsim, which
    * is what both engines compute. Every input the greedy walk reads is
    * rounded to 6 dp FIRST (the s01/s02 discipline: identical decimal →
    * identical double), the per-round subtraction and max run in the
    * same order on both sides, and ties break to the lowest vec_id — so
    * the selection sequence is bit-reproducible. The 4 greedy rounds are
    * unrolled (q117's pattern) over the bounded candidate grid.
    *
    * Scale shape (100 TB): the corpus-sized work is exactly s01's
    * bounded-heap top-20 (broadcast query, TakeOrderedAndProject);
    * everything after runs on the materialized 20-row candidate set —
    * the 20×20 pair grid and each round's argmax are driver-free
    * constant-size jobs, the textbook two-stage retrieve-then-rerank
    * split. */
  private val s15 = Q(
    "s15_mmr_rerank",
    (s, d) => {
      val e = T.embeddings(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val cands = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"),
          round(dot(s, col("embedding"), col("qv")), 6).as("rel"))
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(20)
        .transform(GraftSession.materialize)
      val a = cands.select(col("vec_id").as("ai"),
        col("embedding").as("av"))
      val b = cands.select(col("vec_id").as("bi"),
        col("embedding").as("bv"))
      val sims = a.join(broadcast(b), col("ai") =!= col("bi"))
        .select(col("ai"), col("bi"),
          round(dot(s, col("av"), col("bv")), 6).as("sim"))
        .transform(GraftSession.materialize)
      var selected = cands
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(1)
        .select(lit(1L).as("rank"), col("vec_id"), col("rel"),
          col("rel").as("score"))
      for (r <- 2 to 5) {
        val pen = sims
          .join(broadcast(selected.select(col("vec_id").as("bi"))), "bi")
          .groupBy(col("ai"))
          .agg(max(col("sim")).as("maxsim"))
        val pick = cands
          .join(broadcast(selected.select(col("vec_id"))), Seq("vec_id"),
            "left_anti")
          .join(pen, col("vec_id") === col("ai"))
          .select(lit(r.toLong).as("rank"), col("vec_id"), col("rel"),
            (col("rel") - col("maxsim")).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(1)
        selected = selected.unionByName(pick).transform(GraftSession.materialize)
      }
      selected
        .select(col("rank"), col("vec_id"), col("rel"),
          round(col("score"), 6).as("score"))
        .orderBy(col("rank"))
    },
    Some {
      // Greedy rounds 2..5 differ only in the already-selected set they
      // exclude/penalize against — generated from one template instead
      // of hand-copied (the replay spec pins the selection sequence).
      val greedyRounds = (2 to 5).map { r =>
        val prev = (1 until r).map(j => s"SELECT vec_id FROM s$j")
          .mkString(" UNION ")
        s"""s$r AS (
        SELECT $r AS rank, c.vec_id, c.rel,
               c.rel - max(m.sim) AS score
        FROM cand c JOIN sims m ON m.ai = c.vec_id
        WHERE m.bi IN ($prev)
          AND c.vec_id NOT IN ($prev)
        GROUP BY c.vec_id, c.rel
        ORDER BY score DESC, c.vec_id LIMIT 1)"""
      }.mkString(",\n      ")
      val selUnion = (1 to 5).map(j => s"SELECT * FROM s$j")
        .mkString(" UNION ALL ")
      s"""
      WITH cand AS (
        SELECT e.vec_id, e.embedding,
               round(list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(q.embedding[i] AS DOUBLE))), 6) AS rel
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY rel DESC, vec_id LIMIT 20),
      sims AS (
        SELECT a.vec_id AS ai, b.vec_id AS bi,
               round(list_sum(list_transform(range(1, 65),
                 i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE))), 6) AS sim
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
      s1 AS (
        SELECT 1 AS rank, vec_id, rel, rel AS score
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
      $greedyRounds,
      sel AS ($selUnion)
      SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel,
             round(score, 6) AS score
      FROM sel ORDER BY rank"""
    },
  )

  /** Rank-aware retrieval-quality audit — MRR and NDCG@10 for the IVF and
    * sign-LSH probes against the exact brute-force top-10, the metrics a
    * retrieval stack reports where s08's recall@10 only counts overlap:
    * recall is blind to ORDER (an index that returns the true top-10
    * reversed scores 100% recall but a much weaker NDCG), and MRR is the
    * "how deep is the first genuinely-relevant hit" latency proxy.
    * Relevance is graded from the exact ranking itself (rel = 11 −
    * exact_rank, 0 for anything outside the true top-10); IDCG is
    * derived from the same exact frame, so NDCG is self-normalizing and
    * needs no float constant baked on either engine.
    *
    * Scale shape (100 TB): both probe legs and the exact leg reduce to
    * 10-row frames before anything rank-aware happens (brute10/ivf10/
    * lsh10 are one corpus scan + TakeOrdered each); ranking, the graded
    * join (broadcast of a 10-row frame), and the metric aggregates all
    * operate on ≤10 rows — the audit costs three corpus scans and
    * nothing else. */
  private val s16 = Q(
    "s16_ranking_metrics",
    (s, d) => {
      val ordW  = Window.orderBy(col("cosine").desc, col("vec_id"))
      val exact = brute10(s, d)
        .withColumn("erank", row_number().over(ordW))
        .select(
          col("vec_id"), col("erank"),
          (lit(11) - col("erank")).as("rel"))
        .transform(GraftSession.materialize)
      val idcg = exact
        .agg(sum(col("rel").cast("double") / log2(col("erank") + 1))
          .as("idcg_raw"))
      def row(m: String, approx: DataFrame): DataFrame =
        approx
          .withColumn("mrank", row_number().over(ordW))
          .join(broadcast(exact), Seq("vec_id"), "left")
          .agg(
            count(col("erank")).as("n_hits"),
            min(when(col("erank").isNotNull, col("mrank")))
              .as("firsthit"),
            sum(coalesce(col("rel").cast("double"), lit(0.0)) /
              log2(col("mrank") + 1)).as("dcg_raw"))
          .crossJoin(broadcast(idcg))
          .select(
            lit(m).as("method"),
            col("n_hits"),
            round(coalesce(lit(1.0) / col("firsthit"), lit(0.0)), 6)
              .as("mrr"),
            // An empty probe leg (a band-starved LSH query) reaches the
            // global agg as zero rows → sum() is NULL; the metric for
            // "retrieved nothing" is 0, not NULL, on both engines.
            round(coalesce(col("dcg_raw"), lit(0.0)), 6).as("dcg"),
            round(coalesce(col("dcg_raw"), lit(0.0)) / col("idcg_raw"), 6)
              .as("ndcg"))
      row("ivf", ivf10(s, d))
        .unionByName(row("lsh", lsh10(s, d)))
        .orderBy(col("method"))
    },
    Some(s"""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT e.vec_id, e.label, e.embedding,
               round(list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(q.qv[i] AS DOUBLE))), 6) AS cosine
        FROM embeddings e, q WHERE e.vec_id <> 0),
      exact AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS erank,
               11 - row_number() OVER (ORDER BY cosine DESC, vec_id)
                 AS rel
        FROM (SELECT vec_id, cosine FROM scored
              ORDER BY cosine DESC, vec_id LIMIT 10)),
      idcg AS (
        SELECT sum(CAST(rel AS DOUBLE) / log2(erank + 1)) AS idcg_raw
        FROM exact),
      $centSql,
      $cellRankSql,
      ivfr AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS mrank
        FROM (SELECT s.vec_id, s.cosine
              FROM scored s JOIN cellrank USING (label)
              ORDER BY s.cosine DESC, s.vec_id LIMIT 10)),
      $sigSql,
      qs AS (
        SELECT band0 AS qb0, band1 AS qb1, band2 AS qb2, band3 AS qb3
        FROM sig WHERE vec_id = 0),
      lshr AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS mrank
        FROM (SELECT s.vec_id, s.cosine
              FROM scored s JOIN sig g ON g.vec_id = s.vec_id, qs
              WHERE g.band0 = qs.qb0 OR g.band1 = qs.qb1 OR
                    g.band2 = qs.qb2 OR g.band3 = qs.qb3
              ORDER BY s.cosine DESC, s.vec_id LIMIT 10)),
      mrow AS (
        SELECT 'ivf' AS method, m.vec_id, m.mrank, e.erank, e.rel
        FROM ivfr m LEFT JOIN exact e USING (vec_id)
        UNION ALL
        SELECT 'lsh' AS method, m.vec_id, m.mrank, e.erank, e.rel
        FROM lshr m LEFT JOIN exact e USING (vec_id)),
      agg AS (
        SELECT method,
               count(erank) AS n_hits,
               min(CASE WHEN erank IS NOT NULL THEN mrank END)
                 AS firsthit,
               sum(coalesce(CAST(rel AS DOUBLE), 0) / log2(mrank + 1))
                 AS dcg_raw
        FROM mrow GROUP BY method),
      -- method spine: an empty probe leg must still emit its zero row
      -- (the Spark side unions two always-one-row global aggregates)
      methods AS (SELECT 'ivf' AS method UNION ALL SELECT 'lsh')
      SELECT m.method, CAST(coalesce(a.n_hits, 0) AS BIGINT) AS n_hits,
             round(coalesce(1.0 / a.firsthit, 0), 6) AS mrr,
             round(coalesce(a.dcg_raw, 0), 6) AS dcg,
             round(coalesce(a.dcg_raw, 0) / i.idcg_raw, 6) AS ndcg
      FROM methods m LEFT JOIN agg a USING (method), idcg i
      ORDER BY m.method"""),
  )

  /** PQ codebook TRAINING — the per-subspace Lloyd step (Jégou et al.
    * 2011 §II-C) s11's scan presupposes: assign every corpus subvector
    * to its nearest codeword in s11's EXACT codebook (same seed
    * convention, same 9 dp distance rounding, same min-struct argmin —
    * the assignment and the scan cannot drift), then emit the k-means
    * m-step per (subspace, code) cell: assignment count, distortion
    * under the current codeword, distortion under the UPDATED centroid,
    * and the new centroid's sum/L2 fingerprints. dist_after ≤
    * dist_before per cell is the Lloyd descent guarantee (spec-pinned);
    * s07 is the full-vector sibling, this is the per-subspace tier that
    * actually trains a product quantizer.
    *
    * The after-update distortion uses the algebraic identity
    * Σ‖x−μ‖² = Σ‖x‖² − (Σ_j S_j²)/n over the per-dim sums S_j, so the
    * update costs NO second data pass — everything reduces in one
    * partial-combining aggregate chain.
    *
    * 100 TB shape: one broadcast-codebook join (1024 rows) with
    * map-side combine to n×M distance rows, the argmin a min-struct
    * partial aggregate (no window), and the training stats a second
    * combine collapsing to M×k×16 = 1024 dim rows before the final
    * 64-row cell frame. Nothing data-sized broadcasts or sorts; at
    * real scale the train pass runs over q55's hash sample — the
    * standard PQ recipe (train on a sample, encode everything). */
  private val s17 = Q(
    "s17_pq_train",
    (s, d) => {
      val e = T.embeddings(s, d)
      def subExplode(df: DataFrame): DataFrame = df
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(
          col("vec_id"),
          (expr("pos div 16") + 1).cast("int").as("m"),
          (pmod(col("pos"), lit(16)) + 1).cast("int").as("j"),
          col("v").cast("double").as("v"))
      val cb = subExplode(e.filter(col("vec_id").between(1, 16)))
        .select(col("vec_id").cast("int").as("code"), col("m"), col("j"),
          col("v").as("cval"))
      val corpus = subExplode(e.filter(col("vec_id") =!= 0))
      val dist = corpus
        .join(broadcast(cb), Seq("m", "j"))
        .withColumn("diff", col("v") - col("cval"))
        .groupBy(col("vec_id"), col("m"), col("code"))
        .agg(round(sum(col("diff") * col("diff")), 9).as("d2"))
      // n×M assignment rows read by BOTH the dims join and the
      // dist_before rollup: materialized (r19), or each consumer re-runs
      // the n×M×k distance expansion + argmin chain (the query's
      // dominant cost) from scratch.
      val codes = dist
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d2"), col("code"))).as("best"))
        .select(col("vec_id"), col("m"),
          col("best.code").as("code"), col("best.d2").as("d2b"))
        .transform(GraftSession.materialize)
      val dims = corpus
        .join(codes.select(col("vec_id"), col("m"), col("code")),
          Seq("vec_id", "m"))
        .groupBy(col("m"), col("code"), col("j"))
        .agg(sum(col("v")).as("sj"),
          sum(col("v") * col("v")).as("sqj"),
          count(lit(1)).as("nj"))
      val cells = dims
        .groupBy(col("m"), col("code"))
        .agg(
          max(col("nj")).as("n"),
          sum(col("sqj")).as("sq"),
          sum(col("sj") * col("sj")).as("s2"),
          sum(col("sj")).as("ssum"))
      val before = codes
        .groupBy(col("m"), col("code"))
        .agg(sum(col("d2b")).as("sd2"))
      cells
        .join(before, Seq("m", "code"))
        .select(
          col("m"), col("code"), col("n"),
          (round(col("sd2") / col("n"), 6) + lit(0.0)).as("dist_before"),
          (round((col("sq") - col("s2") / col("n")) / col("n"), 6)
            + lit(0.0)).as("dist_after"),
          (round(col("ssum") / col("n"), 6) + lit(0.0)).as("centroid_sum"),
          (round(sqrt(col("s2")) / col("n"), 6) + lit(0.0))
            .as("centroid_l2"))
        .orderBy(col("m"), col("code"))
    },
    Some(s"""
      WITH $codebookSql,
      dist AS (
        SELECT e.vec_id, cb.m, cb.code,
               $subDistSql
        GROUP BY 1, 2, 3),
      codes AS (
        SELECT vec_id, m, code, d2
        FROM (SELECT vec_id, m, code, d2,
                     row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2, code) AS rk
              FROM dist)
        WHERE rk = 1),
      sub AS (
        SELECT e.vec_id, m.m, j.j,
               CAST(e.embedding[(m.m - 1) * 16 + j.j] AS DOUBLE) AS v
        FROM embeddings e, range(1, 5) m(m), range(1, 17) j(j)
        WHERE e.vec_id <> 0),
      dims AS (
        SELECT c.m, c.code, s.j, sum(s.v) AS sj, sum(s.v * s.v) AS sqj,
               count(*) AS nj
        FROM sub s JOIN codes c ON s.vec_id = c.vec_id AND s.m = c.m
        GROUP BY 1, 2, 3),
      agg AS (
        SELECT m, code, max(nj) AS n, sum(sqj) AS sq,
               sum(sj * sj) AS s2, sum(sj) AS ssum
        FROM dims GROUP BY 1, 2),
      bf AS (SELECT m, code, sum(d2) AS sd2 FROM codes GROUP BY 1, 2)
      SELECT a.m, a.code, CAST(a.n AS BIGINT) AS n,
             round(b.sd2 / a.n, 6) + CAST(0.0 AS DOUBLE) AS dist_before,
             round((a.sq - a.s2 / a.n) / a.n, 6) + CAST(0.0 AS DOUBLE)
               AS dist_after,
             round(a.ssum / a.n, 6) + CAST(0.0 AS DOUBLE) AS centroid_sum,
             round(sqrt(a.s2) / a.n, 6) + CAST(0.0 AS DOUBLE)
               AS centroid_l2
      FROM agg a JOIN bf b USING (m, code)
      ORDER BY a.m, a.code"""),
  )

  val all: Seq[Q] =
    Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10, s11, s12, s13,
      s14, s15, s16, s17)
}
