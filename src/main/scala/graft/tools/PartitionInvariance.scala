package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shuffle-partition-count safety census: no query's RESULT may depend
  * on `spark.sql.shuffle.partitions` — the knob a real deployment sizes
  * to its cluster, which the bench pins to the core count. [[run]]
  * sweeps every registered query at each requested setting (default the
  * extremes 1 and 64 around the repo's 8/16/32 operating points) and
  * diffs an order-invariant fingerprint of every result set: sorted-
  * column JSON per row → xxhash64 → (count, bit_xor). A query whose
  * rows differ across settings — a raw double fold whose summation
  * order leaks into the output, a limit without a total order, a
  * partition-index dependency — prints as a DIVERGENCE and fails the
  * run, as does any query that fails to EXECUTE at any setting (a
  * failure is never counted as invariance). Streaming queries pin
  * their STATE partitioning internally (the StateParts conf scope of
  * Streaming's drain — sized to state volume, independent of
  * this knob), so this sweep exercises their surrounding batch plans
  * like everything else's.
  *
  * Usage: sbt "runMain graft.Harness invariance
  *   [sfDir] [1,64]"
  * Result is recorded in BASELINE.md ("partition-count invariance").
  */
object PartitionInvariance {

  /** Sweeps `settings` (shuffle-partition counts) at `sf`, prints every
    * divergence and a one-line JSON summary; true when the run is clean. */
  def run(spark: SparkSession, sf: String, settings: Seq[String]): Boolean = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def sweep(parts: String): Map[String, (Long, Long)] = {
      graft.SparkEntry.queries.map { case (name, fn) =>
        val out =
          try {
            val df   = fn(spark, sf)
            val cols = df.columns.sorted.map(col)
            val r = df
              .select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).as("h"))
              .agg(count(lit(1)), expr("bit_xor(h)")).head()
            (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
          } catch {
            // A failure is a FAILED CHECK, never a fingerprint: two
            // settings that both throw must not compare as "invariant"
            // (a stale fixture tree would otherwise print divergent:0
            // while checking nothing).
            case e: Throwable =>
              System.err.println(s"[parts=$parts] $name FAILED: ${e.getMessage}")
              failures += s"$name@parts=$parts"
              (-1L, -1L)
          }
        graft.GraftSession.cleanup(spark)
        name -> out
      }
    }

    val bySetting = settings.map { p =>
      p -> graft.GraftSession.withConf(
        spark, "spark.sql.shuffle.partitions" -> p)(sweep(p))
    }.toMap
    val base      = bySetting(settings.head)
    var divergent = List.empty[String]
    base.keys.toSeq.sorted.foreach { name =>
      val fps = settings.map(p => p -> bySetting(p)(name))
      if (fps.map(_._2).distinct.size > 1) {
        divergent ::= name
        println(s"[DIVERGENCE] $name: " +
          fps.map { case (p, (n, h)) => s"parts=$p -> rows=$n hash=$h" }
            .mkString(" | "))
      }
    }
    println(s"""{"metric":"partition_invariance","sf":"$sf","settings":"${
      settings.mkString(",")}","queries":${base.size},"divergent":${
      divergent.size},"failed":${failures.size},"divergent_names":[${
      divergent.sorted.map(n => s""""$n"""").mkString(",")}],"failed_names":[${
      failures.sorted.map(n => s""""$n"""").mkString(",")}]}""")
    divergent.isEmpty && failures.isEmpty && base.nonEmpty
  }
}
