package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially in sbt's forked test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // The runtime entry points' session (GraftSession.local) at 4 cores, on
  // local[4,2]: allow one task retry, like a real cluster — the fault-
  // injection test needs a task failure to be retryable.
  lazy val session: SparkSession = GraftSession.local(4,
    "spark.master"   -> "local[4,2]",
    "spark.app.name" -> "graft-tests")
}
