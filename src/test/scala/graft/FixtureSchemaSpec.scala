package graft

import org.apache.spark.sql.types._

/** Schema-drift tripwire for the driver-generated fixture tree.
  *
  * Round 9 lost 64 queries to a silent fixture regeneration: `events.ts`
  * changed from INT64 TIMESTAMP(NANOS) to timestamp[us] (TIMESTAMP_NTZ to
  * Spark) and every events reader failed with an analysis error that
  * surfaced as 64 scattered per-query failures instead of one clear
  * diagnosis. This suite pins the *scanned* physical schema of every
  * fixture table so the next regeneration fails HERE, in one test, with
  * observed-vs-expected types printed side by side.
  *
  * `events.ts` is intentionally pinned to the SET of variants
  * Tables.events can normalize (nanos-as-long / NTZ micros / UTC micros);
  * any type outside that set is a real break.
  */
class FixtureSchemaSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // Pinned from the round-10 fixture tree (pyarrow-verified): int32 keys
  // read as IntegerType, and the generator stores DATE-like columns
  // (o_orderdate, l_shipdate) as timestamp[us] → TIMESTAMP_NTZ to Spark.
  private val expected: Map[String, Map[String, DataType]] = Map(
    "region" -> Map(
      "r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Map(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Map(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Map(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Map(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType,
      "o_orderpriority" -> StringType),
    "lineitem" -> Map(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "documents" -> Map(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Map(
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType),
  )

  // ts is checked separately against the normalizable-variant set.
  private val eventsFixed: Map[String, DataType] = Map(
    "event_id" -> LongType, "user_id" -> LongType,
    "event_type" -> StringType, "value" -> DoubleType,
    "props" -> StringType)

  private def diff(
      observed: Map[String, DataType],
      want: Map[String, DataType]): Seq[String] = {
    val missing = (want.keySet -- observed.keySet).toSeq.sorted
      .map(c => s"missing column $c (expected ${want(c).simpleString})")
    val extra = (observed.keySet -- want.keySet).toSeq.sorted
      .map(c => s"unexpected column $c (${observed(c).simpleString})")
    val retyped = want.keySet.intersect(observed.keySet).toSeq.sorted
      .filter(c => observed(c) != want(c))
      .map(c =>
        s"column $c: observed ${observed(c).simpleString}, " +
          s"expected ${want(c).simpleString}")
    missing ++ extra ++ retyped
  }

  for ((table, want) <- expected.toSeq.sortBy(_._1))
    test(s"fixture $table.parquet has the pinned physical schema") {
      val observed = spark.read.parquet(s"$dir/$table.parquet")
        .schema.fields.map(f => f.name -> f.dataType).toMap
      val d = diff(observed, want)
      assert(d.isEmpty,
        s"\nfixture schema drift in $table.parquet:\n  ${d.mkString("\n  ")}" +
          "\nIf the driver regenerated /root/testdata, update every reader" +
          " (Tables.scala) and the oracle SQL before updating this pin.")
    }

  test("fixture events.parquet: fixed columns pinned, ts in the " +
      "normalizable variant set") {
    // Inference must match what Tables.events sees: nanosAsLong on,
    // which GraftSession.install sets on the suite's session.
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val observed = spark.read.parquet(s"$dir/events.parquet")
      .schema.fields.map(f => f.name -> f.dataType).toMap
    val d = diff(observed - "ts", eventsFixed)
    assert(d.isEmpty,
      s"\nfixture schema drift in events.parquet:\n  ${d.mkString("\n  ")}")
    val ts = observed.getOrElse("ts",
      fail("events.parquet has no ts column"))
    val normalizable = ts == LongType || ts == TimestampNTZType ||
      ts == TimestampType
    assert(normalizable,
      s"events.ts observed ${ts.simpleString} — outside the variant set " +
        "Tables.events normalizes (bigint nanos / timestamp_ntz / " +
        "timestamp); extend Tables.events before updating this pin.")
    // And the normalized read must actually resolve + execute.
    assert(Tables.events(spark, dir).limit(1).count() == 1L)
  }
}
