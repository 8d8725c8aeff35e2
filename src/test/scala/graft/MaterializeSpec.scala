package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** [[GraftSession.materialize]] and [[GraftSession.release]]: the one way
  * a query pins and unpins a materialized intermediate. The jobs
  * materialize runs are named after its caller, so stage names point at
  * the operator that asked; release drops exactly the blocks under the
  * plan it is given. [[GraftSession.billed]] names the stages of its
  * write after the query, AQE's query stages included. */
class MaterializeSpec extends SparkSpec {

  private def grouped = spark.range(0, 1000, 1, 4)
    .groupBy((col("id") % 7).as("k")).count()

  test("the jobs materialize runs name the calling file and line, not " +
    "GraftSession.scala") {
    val sc = spark.sparkContext
    val stages = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stages.synchronized(stages ++= e.stageInfos.map(_.name))
    }
    Bridge.drainListeners(spark)
    sc.addSparkListener(listener)
    val line = new Throwable().getStackTrace.head.getLineNumber + 1
    val out = GraftSession.materialize(grouped)
    Bridge.drainListeners(spark)
    sc.removeSparkListener(listener)
    assert(out.count() === 7)
    assert(stages.nonEmpty, "materialize ran no Spark job")
    assert(stages.toSet === Set(s"localCheckpoint at MaterializeSpec.scala:$line"))
    assert(sc.getLocalProperty("callSite.short") === null,
      "materialize left its call site set on the thread")
    GraftSession.release(out)
  }

  test("release unpersists the materialized blocks under a derived " +
    "frame's plan and leaves other materialized frames pinned") {
    val sc = spark.sparkContext
    GraftSession.cleanup(spark)
    val a = GraftSession.materialize(grouped)
    val b = GraftSession.materialize(spark.range(5).toDF("k"))
    assert(sc.getPersistentRDDs.size === 2)
    GraftSession.release(a.join(spark.range(3).toDF("k"), "k").select(col("count")))
    assert(sc.getPersistentRDDs.size === 1)
    assert(b.count() === 5)
    GraftSession.release(b)
    assert(sc.getPersistentRDDs.isEmpty)
  }

  test("a billed query's AQE stages are named after the query, not the " +
    "thread pool that submits them") {
    val sc = spark.sparkContext
    // q01 over a small lineitem table of its own: a grouped aggregate,
    // whose shuffle runs as an AQE query stage.
    val sf = java.nio.file.Files.createTempDirectory("billed_callsite").toString
    spark.range(0, 1000, 1, 4)
      .selectExpr("DATE'1998-01-01' AS l_shipdate",
        "CAST(id % 3 AS STRING) AS l_returnflag",
        "CAST(id % 2 AS STRING) AS l_linestatus",
        "CAST(id AS DOUBLE) AS l_quantity",
        "CAST(id AS DOUBLE) AS l_extendedprice",
        "0.05D AS l_discount")
      .write.parquet(s"$sf/lineitem.parquet")
    val stages = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized(stages += e.stageInfo.name)
    }
    Bridge.drainListeners(spark)
    sc.addSparkListener(listener)
    GraftSession.billed(spark, "q01_agg_pricing", sf)
    Bridge.drainListeners(spark)
    sc.removeSparkListener(listener)
    assert(stages.forall(!_.contains("withThreadLocalCaptured")),
      s"stages named after the submitting thread pool: $stages")
    // The write's shuffle and result stages (building the query may read
    // parquet footers under the reader's own call site first).
    assert(stages.count(_ == "q01_agg_pricing") >= 2,
      s"expected the write's stages named after the query: $stages")
    assert(sc.getLocalProperty("callSite.short") === null,
      "billed left its call site set on the thread")
  }
}
