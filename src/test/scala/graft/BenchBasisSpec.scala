package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The >5x rerun gate compares a billed line against the committed
  * basis only when that basis was measured at the same scale factor AND
  * core count as the run. */
class BenchBasisSpec extends AnyFunSuite {
  private lazy val committed =
    new String(Files.readAllBytes(Paths.get("bench_queries.json")), "UTF-8")
  private lazy val committedCpus =
    "\"cpus\":([0-9]+)".r.findFirstMatchIn(committed).get.group(1).toInt

  test("the committed basis applies to a run at its own sf and cpus") {
    val b = Bench.basis(committed, "/data/sf0.1", committedCpus)
    assert(b.size > 200)
    assert(b.keySet.forall(SparkEntry.queries.contains))
    // A trailing slash names the same fixture directory.
    assert(Bench.basis(committed, "/data/sf0.1/", committedCpus) == b)
  }

  test("a 4-core sf0.1 run gets no basis from a basis measured at " +
    "another core count") {
    assert(Bench.basis(committed, "/data/sf0.1", 4).nonEmpty ==
      (committedCpus == 4))
  }

  test("a run at another scale factor gets no basis") {
    assert(Bench.basis(committed, "/data/sf1", committedCpus).isEmpty)
    assert(Bench.basis(committed, "target/sf0.01", committedCpus).isEmpty)
  }

  test("only the queries object is read, not starts or warmups") {
    val art = """{"queries":{"a1":1.5,"b2":2.0},"starts":{"a1":9.0,"zz":3.0},""" +
      """"warmups":{"warmup:a1":7.0},"sf":"/x/sf0.1","cpus":8}"""
    assert(Bench.basis(art, "/y/sf0.1", 8) == Map("a1" -> 1.5, "b2" -> 2.0))
    assert(Bench.basis(art, "/y/sf0.1", 32).isEmpty)
  }
}
