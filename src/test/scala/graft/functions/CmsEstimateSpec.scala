package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** cms_estimate must read exactly what the built-in count_min_sketch
  * aggregate wrote: with sketch width far above the value domain the
  * depth-minimum counter IS the exact count, so estimates are asserted
  * equal, not bounded. */
class CmsEstimateSpec extends SparkSpec {

  private def sketchOf(values: Seq[Long]) = {
    import spark.implicits._
    values.toDF("v")
      .agg(expr(
        "count_min_sketch(v, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)")
        .as("sk"))
  }

  test("round-trips the building aggregate: exact counts in the " +
    "wide-sketch regime, zero for absent values") {
    val values = Seq.fill(5)(10L) ++ Seq.fill(3)(11L) ++ Seq(12L)
    val row = sketchOf(values)
      .select(
        GraftFunctions.cmsEstimate(spark, col("sk"), lit(10L)).as("c10"),
        GraftFunctions.cmsEstimate(spark, col("sk"), lit(11L)).as("c11"),
        GraftFunctions.cmsEstimate(spark, col("sk"), lit(12L)).as("c12"),
        GraftFunctions.cmsEstimate(spark, col("sk"), lit(999L)).as("absent"))
      .collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      == ((5L, 3L, 1L, 0L)))
  }

  test("usable from SQL after registration and never underestimates " +
    "(the CMS guarantee q83 gates)") {
    import spark.implicits._
    (1L to 200L).toDF("v").createOrReplaceTempView("g_cms_vals")
    val rows = spark.sql(
      """SELECT cms_estimate(sk, 7L) AS e
         FROM (SELECT count_min_sketch(v, CAST(0.001 AS DOUBLE),
                 CAST(0.99 AS DOUBLE), 42) AS sk FROM g_cms_vals)""")
      .collect()
    assert(rows.length == 1 && rows(0).getLong(0) >= 1L)
  }

  test("stays inside whole-stage codegen") {
    // Probe a literal sketch from a projection over Range: the build
    // aggregate itself is an ObjectHashAggregate (count_min_sketch is a
    // TypedImperativeAggregate — never codegen), so the read side is
    // asserted on a plan with an actual codegen stage.
    val bytes = sketchOf(Seq(1L, 1L, 2L)).collect()(0).getAs[Array[Byte]](0)
    val probed = spark.range(3)
      .select(GraftFunctions.cmsEstimate(spark, lit(bytes), col("id")).as("e"))
    // toString renders a codegen stage as "*(n) Project ..." — a
    // fallen-out expression would print an unstarred Project.
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(400))
    assert(probed.orderBy(col("e")).collect().map(_.getLong(0)).toSeq
      == Seq(0L, 1L, 2L))
  }
}
