package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** [[GraftSession.materialize]] and [[GraftSession.release]]: the one way
  * a query pins and unpins a materialized intermediate. The jobs
  * materialize runs are named after its caller, so stage names point at
  * the operator that asked; release drops exactly the blocks under the
  * plan it is given. */
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
}
