package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.SparkSpec

/** The fused positional-n-gram Generator must reproduce the built-in
  * posexplode(transform(sequence(...), concat)) chain row-for-row —
  * same positions, same grams, same multiplicity (the DuckDB t10 oracle
  * mirrors that chain with unnest(range)) — including the empty tokens
  * Spark's split keeps around repeated/leading/trailing spaces. */
object PosNgramExplodeProps extends Properties("PosNgramExplode") {

  private lazy val spark = SparkSpec.session

  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(20)

  private val textGen: Gen[String] = for {
    n     <- Gen.chooseNum(0, 30)
    words <- Gen.listOfN(n, Gen.oneOf("the", "fast", "key", "sort", "a", "bb"))
    sep   <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "  "))
    lead  <- Gen.oneOf("", " ")
    trail <- Gen.oneOf("", " ")
  } yield lead + words.zipAll(sep, "", "").map { case (w, s) => w + s }.mkString + trail

  private def chainMatches(text: String, n: Int): Boolean = {
    import spark.implicits._
    Seq(Tuple1(text)).toDF("text").createOrReplaceTempView("png_prop_t")
    val gram = n match {
      case 1 => "element_at(ws, i)"
      case 2 => "concat(element_at(ws, i), ' ', element_at(ws, i+1))"
      case 3 =>
        "concat_ws(' ', element_at(ws, i), element_at(ws, i+1), element_at(ws, i+2))"
    }
    val fused = spark.sql(
      s"SELECT pos, gram FROM png_prop_t LATERAL VIEW pos_ngrams(text, $n) g AS pos, gram")
    // sequence(1, 0) is a DESCENDING 2-element sequence in Spark, so the
    // short-text case guards with an empty array rather than sequence.
    val chain = spark.sql(s"""
      SELECT posexplode(CASE WHEN size(ws) >= $n
               THEN transform(sequence(1, size(ws) - ${n - 1}), i -> $gram)
               ELSE array() END) AS (pos, gram)
      FROM (SELECT split(text, ' ') AS ws FROM png_prop_t)""")
    fused.collect().toSeq == chain.collect().toSeq
  }

  property("unigram rows match posexplode(split)") =
    Prop.forAllNoShrink(textGen)(t => chainMatches(t, 1))

  property("bigram rows match the posexplode chain") =
    Prop.forAllNoShrink(textGen)(t => chainMatches(t, 2))

  property("trigram rows match the posexplode chain") =
    Prop.forAllNoShrink(textGen)(t => chainMatches(t, 3))
}

class PosNgramExplodeSpec extends SparkSpec {
  test("null text and too-short text generate no rows (explode semantics)") {
    import spark.implicits._
    Seq(Tuple1(null: String), Tuple1("oneword"))
      .toDF("text").createOrReplaceTempView("png_edge_t")
    val n = spark.sql(
      "SELECT gram FROM png_edge_t LATERAL VIEW pos_ngrams(text, 2) g AS pos, gram")
      .count()
    assert(n == 0)
  }

  test("a non-foldable width is rejected at analysis") {
    import spark.implicits._
    Seq((1, "a b c")).toDF("n", "text").createOrReplaceTempView("png_bad_t")
    val e = intercept[Exception] {
      spark.sql(
        "SELECT gram FROM png_bad_t LATERAL VIEW pos_ngrams(text, n) g AS pos, gram")
        .collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }
}
