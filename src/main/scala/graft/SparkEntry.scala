package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2.2 engine surface
  * plus the LLM-pipeline ops); `oracleSql` carries the DuckDB-equivalent
  * SQL for every oracle-checkable entry. Column names are aliased
  * identically on both sides; every query is deterministically ordered.
  */
object SparkEntry {

  private def packs: Seq[Q] =
    Relational.all ++ Dedup.all ++ Similarity.all ++ TextAnalysis.all ++
      Multimodal.all ++ Streaming.all ++ Pipeline.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Purchases per hour per market segment: pushed-down filter on the
    * event scan, broadcast dimension join, tumbling-window aggregate —
    * the slice-0 end-to-end shape from SURVEY.md §7. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    installed(purchasesPerHour)(spark, d)
  }

  private def purchasesPerHour(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d).filter(col("event_type") === "purchase")
    val c = Tables.customer(spark, d)
    e.join(broadcast(c), e("user_id") === c("c_custkey"))
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 2).as("revenue"))
      .orderBy(col("hour"), col("c_mktsegment"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val qs = packs
    require(
      qs.map(_.name).distinct.size == qs.size,
      s"duplicate query names: ${qs.map(_.name).diff(qs.map(_.name).distinct)}")
    qs.map(q => q.name -> installed(q.fn)).toMap
  }

  /** The engine boundary: a query reached through this object is built on
    * an installed session ([[GraftSession.install]]), also when the caller
    * built the session itself, so its plan never depends on what ran
    * before it. */
  private def installed(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, d) => { GraftSession.install(s); fn(s, d) }

  /** Every pack's write-once fixture builds, concatenated like
    * [[queries]]; Bench walks this list before it bills anything. */
  val fixtures: Seq[Prewarm] =
    Relational.fixtures ++ Dedup.fixtures ++ Multimodal.fixtures ++
      Streaming.fixtures ++ Pipeline.fixtures

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check). */
  val oracleSql: Map[String, String] =
    packs.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
