package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered engine operation: a Spark query plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Column names/types and row ordering must match exactly — the
  * driver sorts columns by name then hashes values.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)

/** A write-once [[Fixtures]] build a pack declares next to its queries;
  * Bench runs each unbilled, as `prewarm:<name>`. */
final case class Prewarm(name: String, build: (SparkSession, String) => Any)

/** Parquet table loading for the driver-generated star schema
  * (see TESTDATA.md / FIXTURES.md). Every query receives the sf dir at
  * call time, so nothing is cached across scale factors.
  */
object Tables {
  /** The sf dir's fixture tables, one `<name>.parquet` each. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  /** The fixture generator has shipped `events.ts` under two different
    * parquet physical types across regenerations — INT64 TIMESTAMP(NANOS)
    * (rounds ≤8) and timestamp[us] with isAdjustedToUTC=false, which
    * Spark 4 infers as TIMESTAMP_NTZ (round 9+). Hard-coding either
    * breaks on the other (round 9 lost 64 queries to exactly that), so
    * branch on the type the scan actually infers and normalize every
    * variant to a micros TimestampType:
    *   - LongType (TIMESTAMP(NANOS) under the `nanosAsLong` inference
    *     `GraftSession.install` sets on every session): integer-divide
    *     to micros — fixture values are µs-aligned, lossless.
    *   - TimestampNTZType: cast under the pinned-UTC session timezone, so
    *     the wall-clock values (what DuckDB reads from the same file as
    *     naive TIMESTAMP) become the same instants downstream date
    *     functions see.
    *   - TimestampType (a future isAdjustedToUTC=true regeneration):
    *     pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — " +
          "extend Tables.events for the new fixture schema")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
}
