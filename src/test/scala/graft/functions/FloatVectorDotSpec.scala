package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.SparkSpec

/** The native vec_dot expression must be bit-identical to the built-in
  * HOF fold it replaces (aggregate ∘ zip_with) — same promotion, same
  * left-to-right IEEE accumulation — since hash-compared query results
  * ride on it. */
object FloatVectorDotProps extends Properties("FloatVectorDot") {

  private lazy val spark = SparkSpec.session

  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(20)

  private val vecGen: Gen[List[Float]] =
    Gen.chooseNum(0, 96).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-10f, 10f)))

  property("bit-identical to the aggregate∘zip_with HOF fold") =
    Prop.forAllNoShrink(vecGen, vecGen) { (a, b) =>
      import spark.implicits._
      // equal-length prefix: HOF zip_with null-pads unequal lengths,
      // vec_dot dots the common prefix — compare on the common prefix.
      val n  = math.min(a.size, b.size)
      val df = Seq((a.take(n), b.take(n))).toDF("a", "b")
      val out = df.select(
        GraftFunctions.vecDot(spark, col("a"), col("b")).as("native"),
        aggregate(
          zip_with(col("a"), col("b"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0),
          (acc, x) => acc + x).as("hof"))
        .collect()(0)
      // Bit equality, not approximate equality.
      java.lang.Double.doubleToLongBits(out.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(out.getDouble(1))
    }
}

class FloatVectorDotSpec extends SparkSpec {

  test("empty vectors dot to 0.0") {
    import spark.implicits._
    val df = Seq((Seq.empty[Float], Seq.empty[Float])).toDF("a", "b")
    val v = df.select(GraftFunctions.vecDot(spark, col("a"), col("b")))
      .collect()(0).getDouble(0)
    assert(v == 0.0)
  }

  test("usable from SQL after registration") {
    // GraftSession.local installed the functions on the suite's session.
    val v = spark
      .sql("SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT)))")
      .collect()(0).getDouble(0)
    assert(v == 4.0)
  }

  test("usable in a fresh session after GraftSession.install") {
    // newSession() starts from the built-in registry: the function
    // resolves only once the session is installed.
    val s2 = spark.newSession()
    val q = "SELECT vec_dot(array(CAST(1.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))"
    intercept[org.apache.spark.sql.AnalysisException](s2.sql(q))
    graft.GraftSession.install(s2)
    assert(s2.sql(q).collect()(0).getDouble(0) == 3.0)
  }

  test("stays inside whole-stage codegen") {
    // Arrays must come from a scan: HOF-built arrays (transform/lambda)
    // are CodegenFallback and would pull the projection out of codegen —
    // exactly the hazard this expression exists to avoid.
    val tmp = java.nio.file.Files.createTempDirectory("vecdot").toString
    spark.range(4)
      .selectExpr(
        "transform(sequence(0, 63), i -> CAST(i AS FLOAT)) AS a",
        "transform(sequence(0, 63), i -> CAST(i * 2 AS FLOAT)) AS b")
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
      .select(GraftFunctions.vecDot(spark, col("a"), col("b")).as("d"))
    // toString renders a codegen stage as "*(n) Project ..." — the
    // asterisk is the WholeStageCodegen marker.
    val planLines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
    assert(planLines.exists(l => l.contains("*(") && l.contains("vec_dot")),
      s"vec_dot not in a codegen stage:\n${planLines.mkString("\n")}")
    // Σ i·2i for i = 0..63 = 2·Σi² = 2·85344
    assert(df.collect().forall(_.getDouble(0) == 170688.0))
  }
}
