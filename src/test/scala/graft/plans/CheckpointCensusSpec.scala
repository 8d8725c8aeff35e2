package graft.plans

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Materialization census — the third at-scale posture class after the
  * window-frame and broadcast censuses. An eager local checkpoint pins
  * its blocks to executor storage with no recompute path past the
  * truncated lineage, so losing one fails the consuming query, which
  * restarts from source. `GraftSession.materialize` is the one place
  * that decision is made: its Scaladoc states the loss posture and the
  * three postures a call may take (a multi-consumer build inside one
  * query, iterative lineage truncation, a result that must run inside a
  * `withConf` scope), and `GraftSession.release` / `cleanup` are the
  * only src/main code that unpersists its blocks. Anything several registered
  * queries read uses the write-once stored-parquet convention instead.
  *
  * The pins are per-file CODE-line counts (scaladoc/comment mentions
  * excluded), equality both directions — a new materialize call anywhere
  * in src/main fails this suite until its posture is classified here.
  */
class CheckpointCensusSpec extends AnyFunSuite {

  // Every src/main file's CODE lines (scaladoc and comment lines
  // dropped), keyed by path under src/main/scala.
  private val root = Paths.get("src/main/scala")
  private lazy val code: Map[String, Seq[String]] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        root.relativize(p).toString -> Files.readAllLines(p).asScala.toSeq
          .map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("//"))
      }
      .toMap
  private def sites(token: String): Map[String, Int] =
    code.map { case (f, lines) => f -> lines.count(_.contains(token)) }
      .filter(_._2 > 0)

  test("every eager localCheckpoint site in src/main is counted and " +
    "classified — a NEW site fails until its posture is documented") {
    val documented: Map[String, Int] = Map(
      // Multi-consumer builds inside one query: the shared shingle base
      // and band table (lshScored/lshCandidates, read by the d02 canopy
      // family), d04's simhash chunk table, d05's trigram table, d06's
      // sign-LSH band table, d11's shingle base, d12's spread K=500
      // truth sample, d13's scored pair table, d17's assigned frame,
      // d19's side-tagged delta split; iterative: d07's connected-
      // components fixpoint (3 calls: the once-built pair list, the seed
      // labels and each round's re-fed labels).
      "graft/operators/Dedup.scala"        -> 13,
      // s15: the top-20 candidate frames (relevance + pair grid) and
      // the greedy MMR selected-set rounds (iterative unionByName
      // re-feed); s16: the exact top-10 frame consumed by the IDCG
      // scalar and both probe-metric legs; s07/s09: the two k-row
      // Lloyd centroid frames (multi-consumer — E-step broadcasts,
      // shift join, s09's quantizer) and s07's per-vector movement
      // frame (read by both the cid0 and cid1 rollups); s17: the n×M
      // assignment frame (read by the dims join AND the dist_before
      // rollup).
      "graft/operators/Similarity.scala"   -> 8,
      // t19's distinct (source, word) grid (sizes + self-join legs);
      // t20's vocabulary grid (four consumers, one build).
      "graft/operators/TextAnalysis.scala" -> 2,
      // Results run inside a withConf scope: q59's bounded bloom join,
      // q77's k-row parse rollup. Multi-consumer: q109's basket
      // type-sets (pair grid + lift legs). Iterative: q117's PageRank
      // graph and node set (2 calls).
      "graft/operators/Relational.scala"   -> 5,
    )
    assert(Files.isDirectory(root),
      s"census expects to run from the repo root, cwd=${Paths.get("").toAbsolutePath}")
    // One materialization and one place that enumerates persisted
    // blocks: everything else pins through materialize and unpins
    // through release or cleanup.
    assert(sites(".localCheckpoint(") == Map("graft/GraftSession.scala" -> 1),
      s"materialize through GraftSession.materialize, not a hand-written " +
        s"localCheckpoint: ${sites(".localCheckpoint(")}")
    assert(sites("getPersistentRDDs").keySet == Set("graft/GraftSession.scala"),
      s"release blocks through GraftSession.release or cleanup, not by " +
        s"diffing persisted RDD ids: ${sites("getPersistentRDDs")}")
    val observed = sites("GraftSession.materialize")
    val undocumented = observed.keySet -- documented.keySet
    val stale        = documented.keySet -- observed.keySet
    assert(undocumented.isEmpty,
      s"files gained materialize calls without a census entry: " +
        s"${undocumented.toSeq.sorted.map(f => s"$f=${observed(f)}")}")
    assert(stale.isEmpty,
      s"census entries for files with no materialize call left " +
        s"(delete or update): $stale")
    val drifted = documented.collect {
      case (f, exp) if observed(f) != exp => s"$f: $exp -> ${observed(f)}"
    }
    assert(drifted.isEmpty,
      s"materialize call counts drifted — classify the new calls " +
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
      "graft/Bench.scala"               -> 1,
      "graft/operators/Streaming.scala" -> 1,
    )
    val observed = sites(".collect()")
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
    assert(sites("def main(").keySet == Set("graft/Bench.scala",
      "graft/Verify.scala", "graft/Smoke.scala", "graft/Harness.scala"),
      "entry points drifted — fold a new main into a graft.Harness subcommand")
    assert(sites("SparkSession.builder()") == Map("graft/GraftSession.scala" -> 1),
      "build sessions through GraftSession.local, not SparkSession.builder()")
    // One way to run a stream: Streaming's `replay` is the only reader,
    // its `startDrain` the only AvailableNow start, and every session-conf
    // flip goes through GraftSession.withConf.
    assert(sites("readStream") == Map("graft/operators/Streaming.scala" -> 1),
      "read streams through Streaming.replay, not a hand-written readStream")
    assert(sites("Trigger.AvailableNow()") ==
      Map("graft/operators/Streaming.scala" -> 1),
      "start streams through Streaming.drain, not a hand-written trigger")
    val flips = (sites(".conf.set(").keySet ++ sites(".conf.unset(").keySet) -
      "graft/GraftSession.scala"
    assert(flips.isEmpty,
      s"flip session confs through GraftSession.withConf, not by hand: $flips")
    // One engine install: functions, planner strategies and optimizer
    // rules reach a session only through GraftSession.install, which
    // GraftSession.local and the SparkEntry.queries boundary call before
    // any query is built; the per-call-site registration paths are gone.
    for (token <- Seq(".experimental", "functionRegistry",
        "createOrReplaceTempFunction"))
      assert(sites(token).keySet.subsetOf(Set("graft/GraftSession.scala")),
        s"$token outside GraftSession.install: ${sites(token)}")
    // Its definition plus the call in `local`, and the boundary call.
    assert(sites("install(") ==
      Map("graft/GraftSession.scala" -> 2, "graft/SparkEntry.scala" -> 1),
      s"install the engine only in GraftSession.local and at the " +
        s"SparkEntry boundary: ${sites("install(")}")
    val text = code.keys.map(f =>
      f -> Files.readString(root.resolve(f))).toMap
    for (token <- Seq("GraftExtensions", "registerRewrite",
        "GraftFunctions.register"))
      assert(text.forall(!_._2.contains(token)),
        s"$token is back: ${text.filter(_._2.contains(token)).keySet}")
    // One local filesystem: `file:` is bound to the fork-free classes in
    // GraftSession.tuned, the confs every session takes.
    for (token <- Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl"))
      assert(sites(token) == Map("graft/GraftSession.scala" -> 1),
        s"bind file: only in GraftSession.tuned: ${sites(token)}")
    // One derived-fixture store: its roots and its ready marker are
    // spelled only in Fixtures.scala, and Bench builds fixtures only
    // through the packs' declared prewarm lists (SparkEntry.fixtures).
    for (token <- Seq("\"_SUCCESS\"", "graft_warehouse", "graft_kinesislike"))
      assert(sites(token).keySet == Set("graft/Fixtures.scala"),
        s"$token outside the fixture store: ${sites(token)}")
    val benchPrewarms = code("graft/Bench.scala")
      .filter(l => "operators\\.[A-Za-z]+\\.prewarm".r.findFirstIn(l).isDefined)
    assert(benchPrewarms.isEmpty,
      s"declare a pack Prewarm, not a Bench call: $benchPrewarms")
    // One shard-event model: the kinesislike log is read and derived as
    // decoded events; its text grammar is only openLineSink's input,
    // split in one place (KinesisLikeLog.parseLine) and never rendered.
    for (token <- Seq("LineSource", "openLines", "foldLines", "eventLines",
        "decodeToLines", "encodeLine"))
      assert(sites(token).isEmpty, s"$token is back: ${sites(token)}")
    val tabSplit = """\.split\(\s*["']\\t["']""".r
    val tabSplits = code
      .map { case (f, lines) => f -> lines.count(tabSplit.findFirstIn(_).isDefined) }
      .filter(_._2 > 0)
    assert(tabSplits == Map("graft/sources/kinesislike/KinesisLikeLog.scala" -> 1),
      s"parse shard lines with KinesisLikeLog.parseLine only: $tabSplits")
  }

  test("every kinesislike shard-file read opens in EventStreamFraming's " +
    "ranged MessageReader loop") {
    // One read path: the reader's byte-range slices, the metadata
    // index's incremental scan and every whole-file walk all seek and
    // stop in MessageReader, so none can read a shard from byte 0 by hand.
    val opens = sites("new FileInputStream(")
      .filter(_._1.startsWith("graft/sources/kinesislike/"))
    assert(opens == Map("graft/sources/kinesislike/EventStreamFraming.scala" -> 1),
      s"read shard files through EventStreamFraming.MessageReader: $opens")
    val framing = code("graft/sources/kinesislike/EventStreamFraming.scala")
    val reader  = framing.indexWhere(_.contains("class MessageReader("))
    val open    = framing.indexWhere(_.contains("new FileInputStream("))
    val after   = framing.indexWhere(_.contains("class "), reader + 1)
    assert(reader >= 0 && open > reader && (after < 0 || open < after),
      "the one FileInputStream must be opened by MessageReader")
  }
}
