package graft

/** [[GraftSession.withConf]]: the one session-conf scope restores every
  * key it flips exactly — the previous value where there was one, unset
  * where there was none — on normal exit, on a throwing body, and
  * innermost-first when scopes nest. */
class WithConfSpec extends SparkSpec {
  private val set   = "graft.test.withconf.set"
  private val unset = "graft.test.withconf.unset"

  private def fresh(): Unit = {
    spark.conf.set(set, "before")
    spark.conf.unset(unset)
  }

  override def afterAll(): Unit = {
    spark.conf.unset(set)
    spark.conf.unset(unset)
    super.afterAll()
  }

  test("a previously set key is restored to its previous value") {
    fresh()
    val seen = GraftSession.withConf(spark, set -> "inside") {
      spark.conf.get(set)
    }
    assert(seen === "inside")
    assert(spark.conf.getOption(set) === Some("before"))
  }

  test("a previously unset key is unset again") {
    fresh()
    val seen = GraftSession.withConf(spark, unset -> "inside") {
      spark.conf.getOption(unset)
    }
    assert(seen === Some("inside"))
    assert(spark.conf.getOption(unset) === None)
  }

  test("the restore also happens when the body throws") {
    fresh()
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(spark, set -> "inside", unset -> "inside") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(spark.conf.getOption(set) === Some("before"))
    assert(spark.conf.getOption(unset) === None)
  }

  test("nested scopes re-enter the lock and restore innermost first") {
    fresh()
    val seen = GraftSession.withConf(spark, set -> "outer") {
      val inner = GraftSession.withConf(spark, set -> "inner", unset -> "inner") {
        (spark.conf.get(set), spark.conf.getOption(unset))
      }
      assert(inner === ("inner", Some("inner")))
      (spark.conf.get(set), spark.conf.getOption(unset))
    }
    assert(seen === ("outer", None))
    assert(spark.conf.getOption(set) === Some("before"))
    assert(spark.conf.getOption(unset) === None)
  }
}
