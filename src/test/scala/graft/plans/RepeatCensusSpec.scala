package graft.plans

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Repeated-code census: one definition per query shape. A plan, oracle
  * or frame that two queries share is defined once in the pack that owns
  * it and called from both, so a batch query and its streaming twin check
  * against the same reference and cannot drift apart.
  *
  * A line is repeated when it lies in a window of 6 consecutive code
  * lines (blank lines and comment lines, those starting with `//`, a
  * block-comment opener or `*`, dropped; the rest trimmed) whose text already appeared earlier in a walk of
  * src/main/scala/graft in sorted path order; windows holding a line of 3
  * or fewer characters (a lone brace, `})`) are skipped. The pins are
  * per-file counts, equality both directions: a new copy fails this suite
  * until it is folded into a shared definition or pinned here with the
  * reason it stays separate.
  */
class RepeatCensusSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Per-file count of repeated lines, keyed by path under src/main/scala. */
  private lazy val repeated: Map[String, Int] = {
    val seen = mutable.HashSet.empty[String]
    Files.walk(root.resolve("graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
          .map(_.trim)
          .filterNot(l => l.isEmpty || l.startsWith("//") ||
            l.startsWith("/*") || l.startsWith("*"))
        val hit = mutable.BitSet.empty
        for (i <- 0 to lines.size - 6) {
          val window = lines.slice(i, i + 6)
          if (window.forall(_.length > 3) && !seen.add(window.mkString("\n")))
            hit ++= i until i + 6
        }
        if (hit.isEmpty) None else Some(root.relativize(p).toString -> hit.size)
      }
      .toMap
  }

  test("every repeated code block in src/main is counted — a new copy " +
    "fails until it is folded or its separate definition is justified") {
    assert(Files.isDirectory(root),
      s"census expects to run from the repo root, cwd=${Paths.get("").toAbsolutePath}")
    val documented: Map[String, Int] = Map(
      // d15's oracle opens with d14's word split and chunk range, but its
      // chunks are bare strings where d14's carry their index for the
      // first-occurrence rank.
      "graft/operators/Dedup.scala"      -> 7,
      // q120's oracle opens with q116's integer-cents and rank CTEs, but
      // its ranks also carry event_id, which q116's do not.
      "graft/operators/Relational.scala" -> 6,
      // s17's subvector explode and codebook frame repeat s11's without
      // the `label` column s11's scan carries to its output.
      "graft/operators/Similarity.scala" -> 10,
      // The stream-join family's two joinSide calls: q84 repeats q36's,
      // and q82 repeats q61's purchases side, its clicks adding `c_type`.
      "graft/operators/Streaming.scala"  -> 12,
    )
    assert(repeated == documented,
      s"repeated-code census drifted: expected $documented, got $repeated")
  }
}
