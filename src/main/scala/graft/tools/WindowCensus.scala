package graft.tools

import org.apache.spark.sql.SparkSession

/** Window-census enumeration: every registered batch query whose
  * physical plan contains a Window node, with the partition specs.
  * [[enumerate]] is THE single source of truth — PlanAuditSpec's
  * window-frame census test consumes it directly (so the documented
  * frame-bound map and this tool cannot drift), and `graft.Harness
  * census` prints it for census maintenance. Streaming queries are
  * excluded here and audited via their own specs.
  */
object WindowCensus {

  /** (query name, findings) for every non-streaming registered query
    * whose physical plan (`executed` = after AQE and codegen insertion,
    * else the pre-AQE sparkPlan) `find` reports on. Unpersists between
    * queries so the enumeration doesn't pin the dedup pack's
    * checkpointed subtrees into the shared session. */
  private def sweep(spark: SparkSession, sf: String, executed: Boolean)(
      find: String => Option[List[String]]): Seq[(String, List[String])] =
    graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.contains("stream"))
      .flatMap { name =>
        val qe = graft.SparkEntry.queries(name)(spark, sf).queryExecution
        val p = (if (executed) qe.executedPlan else qe.sparkPlan).toString
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        find(p).map(name -> _)
      }

  /** (query name, Window partition-spec strings) for every non-streaming
    * registered query that plans at least one Window node at `sf`. */
  def enumerate(spark: SparkSession, sf: String): Seq[(String, List[String])] =
    sweep(spark, sf, executed = false) { p =>
      val specs = "Window \\[[^\\n]*?\\], \\[([^\\]]*)\\]".r
        .findAllMatchIn(p).map(_.group(1)).toList
      if ("Window \\[".r.findFirstIn(p).isDefined) Some(specs) else None
    }

  /** (query name, broadcast-node digests) for every non-streaming
    * registered query whose physical plan broadcasts anything at `sf` —
    * the window census's sibling for the OTHER single-point cliff: a
    * broadcast of a data-sized table is a driver/executor OOM at 100 TB
    * no matter how the downstream plan shards. Each digest is
    * `BroadcastHashJoin:<BuildLeft|BuildRight>` or
    * `BroadcastNestedLoopJoin:<side>`, one per broadcast join node;
    * PlanAuditSpec's broadcast census consumes this enumeration
    * directly and pins every entry to a documented bound class. */
  def broadcasts(spark: SparkSession, sf: String): Seq[(String, List[String])] =
    sweep(spark, sf, executed = false) { p =>
      Some("(BroadcastHashJoin|BroadcastNestedLoopJoin) [^\\n]*?(BuildLeft|BuildRight)"
        .r.findAllMatchIn(p).map(m => s"${m.group(1)}:${m.group(2)}").toList)
        .filter(_.nonEmpty)
    }

  /** (query name, offending exchange lines): hash-partitioned exchanges
    * whose OUTPUT row carries the corpus text payload — at 100 TB a
    * shuffle shipping raw `text` bytes dwarfs the keyed work it feeds
    * (the dedup pack's "text never shuffles" pins, swept globally).
    * Range exchanges are excluded: a final orderBy on a text-bearing
    * RESULT is the query's own output shipping, not intermediate
    * movement. Detection is on the executed plan's Exchange lines,
    * whose printed output schema includes every shipped attribute. */
  def textExchanges(spark: SparkSession, sf: String): Seq[(String, List[String])] =
    payloadExchanges(spark, sf, "text#")

  /** Generalization of [[textExchanges]] to any payload attribute token
    * (e.g. "embedding#", "payload#") for ad-hoc at-scale audits. */
  def payloadExchanges(
      spark: SparkSession, sf: String, token: String): Seq[(String, List[String])] =
    sweep(spark, sf, executed = true) { p =>
      Some(p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning"))
        .filter(l => l.contains(token))
        .map(_.trim.take(200)).toList).filter(_.nonEmpty)
    }
}
