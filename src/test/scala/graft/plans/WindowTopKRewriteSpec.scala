package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The WindowTopKRewrite firing matrix. The rule swaps the textbook
  * window-top-k idiom for the bounded-heap operator — a MIS-fire
  * silently changes semantics (firing on rank()/dense_rank() would drop
  * tied rows; firing when the rank column survives would break a
  * downstream consumer), so the negative guards deserve pins as much as
  * the positive path the q57/q64/p07 plan tests already cover. Every
  * firing case also checks row equality against the unrewritten
  * formulation (rank retained, so the rule cannot match it). */
class WindowTopKRewriteSpec extends SparkSpec {

  private lazy val df: DataFrame = {
    val sqlc = spark
    import sqlc.implicits._
    // Deliberate ties in v (mod 7) so rank()/dense_rank() semantics
    // genuinely diverge from row_number past k.
    (0 until 500).map(i => (s"g${i % 5}", i.toLong, (i % 7).toLong))
      .toDF("g", "id", "v")
  }

  private val w = Window.partitionBy(col("g"))
    .orderBy(col("v").desc, col("id").asc)

  private def expected(k: Int): Set[(String, Long)] =
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)        // rank retained -> rule can't fire
      .select(col("g"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def fires(q: DataFrame): Boolean = {
    val p = q.queryExecution.executedPlan.toString
    p.contains("TopKPerGroup")
  }

  private def rows(q: DataFrame): Set[(String, Long)] =
    q.select(col("g"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("fires on rk <= k with the rank column dropped, rows exact") {
    val q = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).drop("rk")
    assert(fires(q), q.queryExecution.executedPlan.toString)
    assert(rows(q) == expected(3))
  }

  test("fires on the strict form rk < k+1 with the same k") {
    val q = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") < 4).drop("rk")
    assert(fires(q))
    assert(rows(q) == expected(3))
  }

  test("fires on the flipped form k >= rk") {
    val q = df.withColumn("rk", row_number().over(w))
      .filter(lit(3) >= col("rk")).drop("rk")
    assert(fires(q))
    assert(rows(q) == expected(3))
  }

  test("fires through an isnotnull(rk) conjunct (what Spark's own " +
    "constraint inference adds)") {
    val q = df.withColumn("rk", row_number().over(w))
      .filter(col("rk").isNotNull && col("rk") <= 3).drop("rk")
    assert(fires(q))
    assert(rows(q) == expected(3))
  }

  test("does NOT fire when the rank column survives the projection") {
    val q = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
    assert(!fires(q), q.queryExecution.executedPlan.toString)
  }

  test("does NOT fire when the filter carries an extra non-rank " +
    "conjunct (the Filter must keep it)") {
    val q = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3 && col("v") > 1).drop("rk")
    assert(!fires(q))
  }

  test("does NOT fire on rank() — ties past k would be dropped") {
    val q = df.withColumn("rk", rank().over(w))
      .filter(col("rk") <= 3).drop("rk")
    assert(!fires(q))
  }

  test("does NOT fire on dense_rank()") {
    val q = df.withColumn("rk", dense_rank().over(w))
      .filter(col("rk") <= 3).drop("rk")
    assert(!fires(q))
  }

  test("does NOT fire on an empty partition spec — global top-k is " +
    "TakeOrderedAndProject's job") {
    val wg = Window.orderBy(col("v").desc, col("id").asc)
    val q = df.withColumn("rk", row_number().over(wg))
      .filter(col("rk") <= 3).drop("rk")
    assert(!fires(q))
  }

  test("does NOT fire on rank equality — rk === k is a selection, not " +
    "a limit") {
    val q = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 3).drop("rk")
    assert(!fires(q))
  }
}
