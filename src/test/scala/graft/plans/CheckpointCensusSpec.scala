package graft.plans

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** localCheckpoint census — the third at-scale posture class after the
  * window-frame and broadcast censuses: an EAGER localCheckpoint pins
  * its blocks to executor storage for the executor's lifetime, with no
  * recompute path past the truncated lineage (losing one fails the
  * consuming query, which restarts from source). Every site in src/main
  * is one of two deliberate postures:
  *
  *   - multi-consumer query-scoped build — a table consumed by several
  *     legs of ONE query's plan (shingle/signature/band/candidate/grid
  *     tables): checkpointing trades one build for N consumers inside a
  *     single query, and loss-means-query-restart is acceptable because
  *     nothing outlives the query (the t20 grid scaladoc owns the
  *     trade explicitly). Anything consumed by MULTIPLE registered
  *     queries instead uses the write-once stored-parquet convention
  *     (Dedup.scala's chunk-pair and band-index tables) — executor
  *     blocks die with their executor; parquet does not.
  *
  *   - iterative lineage truncation — fixpoint/greedy/power-iteration
  *     state re-fed into itself (d07's components, s15's MMR selected
  *     set, q117's PageRank ranks): without the checkpoint each round's
  *     plan embeds every prior round's, and planning cost grows
  *     superlinearly in iterations.
  *
  * The pin is per-file CODE-site counts (scaladoc/comment mentions
  * excluded), equality both directions — a new localCheckpoint anywhere
  * in src/main fails this suite until its posture is classified here.
  */
class CheckpointCensusSpec extends AnyFunSuite {

  test("every eager localCheckpoint site in src/main is counted and " +
    "classified — a NEW site fails until its posture is documented") {
    val documented: Map[String, Int] = Map(
      // Multi-consumer builds inside one query: the shared shingle base
      // + band canopy (d02/d05/d11/d19 via lshCandidates/shingled),
      // d04's simhash chunk table, d06's sign-LSH band table, d12's
      // spread K=500 truth sample (r19: its shingled base became
      // single-use — the top-K pass — and lost its own site), d13's
      // base + scored pair table, d19's side-tagged delta split;
      // iterative: d07's connected-components fixpoint rounds (2 sites:
      // the once-built edge frame + each round's re-fed labels, lineage
      // truncated).
      "operators/Dedup.scala"        -> 12,
      // s15: the top-20 candidate frames (relevance + pair grid) and
      // the greedy MMR selected-set rounds (iterative unionByName
      // re-feed); s16: the exact top-10 frame consumed by the IDCG
      // scalar and both probe-metric legs; s07/s09 (r19): the two k-row
      // Lloyd centroid frames (multi-consumer — E-step broadcasts,
      // shift join, s09's quantizer) and s07's per-vector movement
      // frame (read by both the cid0 and cid1 rollups); s17 (r19): the
      // n×M assignment frame (read by the dims join AND the
      // dist_before rollup — each re-ran the n×M×k distance chain).
      "operators/Similarity.scala"   -> 8,
      // t19's distinct (source, word) grid (sizes + self-join legs);
      // t20's vocabulary grid (four consumers, one build — the scaladoc
      // owns the loss-restarts-query trade).
      "operators/TextAnalysis.scala" -> 2,
      // q59's bounded bloom build side; q77's k-row result materialized
      // EAGERLY while its temporarily-set parser conf is still in force
      // (the finally-block restore would otherwise re-plan it lazily);
      // q109's basket type-sets (pair grid + lift legs); q117's
      // PageRank iteration state (2 sites: seed ranks + per-round
      // truncation).
      "operators/Relational.scala"   -> 5,
    )
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root),
      s"census expects to run from the repo root, cwd=${Paths.get("").toAbsolutePath}")
    val observed = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val code = Files.readAllLines(p).asScala
          .map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("//"))
        root.relativize(p).toString ->
          code.count(_.contains(".localCheckpoint("))
      }
      .filter(_._2 > 0)
      .toMap
    val undocumented = observed.keySet -- documented.keySet
    val stale        = documented.keySet -- observed.keySet
    assert(undocumented.isEmpty,
      s"files gained localCheckpoint sites without a census entry: " +
        s"${undocumented.toSeq.sorted.map(f => s"$f=${observed(f)}")}")
    assert(stale.isEmpty,
      s"census entries for files with no localCheckpoint left " +
        s"(delete or update): $stale")
    val drifted = documented.collect {
      case (f, exp) if observed(f) != exp => s"$f: $exp -> ${observed(f)}"
    }
    assert(drifted.isEmpty,
      s"localCheckpoint site counts drifted — classify the new sites " +
        s"and update: ${drifted.toSeq.sorted}")
  }

  test("no registered operator collects data to the driver — the only " +
    ".collect() sites in src/main are the two documented non-query " +
    "uses, counted here") {
    // A .collect() inside an operator means the computation is not
    // distributed — the driver becomes the single task. The surface has
    // exactly two sites, neither in a query's data path: Bench's
    // prewarm forces each table's 1-ROW groupBy().count() (a scan
    // warmer, collecting one long per table), and Streaming's
    // checkpoint-scratch helper lists CATALOG table names (metadata,
    // bounded by the catalog). Operators move per-group/per-frame data
    // with joins, windows, and aggregates — never through the driver.
    val documented: Map[String, Int] = Map(
      "Bench.scala"               -> 1,
      "operators/Streaming.scala" -> 1,
    )
    val root = Paths.get("src/main/scala/graft")
    val observed = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val code = Files.readAllLines(p).asScala
          .map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("//"))
        root.relativize(p).toString -> code.count(_.contains(".collect()"))
      }
      .filter(_._2 > 0)
      .toMap
    assert(observed == documented,
      s"driver-side .collect() inventory drifted — a query operator " +
        s"must never collect; expected $documented, got $observed")
  }

  test("the runtime entry points are Bench, Verify, Smoke and Harness, " +
    "and GraftSession.local is the only SparkSession builder in src/main") {
    // One engine, measured through one code path: a new dev main belongs
    // in a Harness subcommand, and a hand-built session would measure an
    // engine other than the one Bench bills (untuned, another clock or
    // shuffle-partition count).
    val root = Paths.get("src/main/scala")
    val code = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        root.relativize(p).toString -> Files.readAllLines(p).asScala
          .map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("//"))
      }
      .toMap
    def sites(token: String): Map[String, Int] =
      code.map { case (f, lines) => f -> lines.count(_.contains(token)) }
        .filter(_._2 > 0)
    assert(sites("def main(").keySet == Set("graft/Bench.scala",
      "graft/Verify.scala", "graft/Smoke.scala", "graft/Harness.scala"),
      "entry points drifted — fold a new main into a graft.Harness subcommand")
    assert(sites("SparkSession.builder()") == Map("graft/GraftSession.scala" -> 1),
      "build sessions through GraftSession.local, not SparkSession.builder()")
  }
}
