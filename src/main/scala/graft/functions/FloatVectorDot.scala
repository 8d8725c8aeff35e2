package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd dot product over two float-array columns — the
  * custom-Expression tier of the operator preference order (SURVEY §4.2:
  * built-ins first, then a Catalyst `Expression` with `doGenCode`, and
  * only then anything slower). Siblings in this package follow the same
  * pattern for the other hot per-row kernels: [[SimHash60]],
  * [[SignDots16]], [[MinHash8]], [[WordNgrams]]; [[GraftFunctions]]
  * lists the SQL names `GraftSession.install` gives them on every
  * session, and its column helpers call them by name. The built-in HOF
  * formulation
  * (`aggregate(zip_with(a, b, (x, y) -> x*y), 0D, (acc, z) -> acc+z)`)
  * allocates an intermediate product array per row and evaluates two
  * lambda closures per element; this expression is a single fused loop
  * over the unsafe array data inside whole-stage codegen.
  *
  * Semantics are chosen to be bit-compatible with the HOF fold the
  * DuckDB oracle mirrors: elements promoted to double, products
  * accumulated LEFT-TO-RIGHT (IEEE addition order matters), so swapping
  * one for the other cannot change a hash-compared result. Unequal
  * lengths dot the common prefix; element nulls are not expected
  * (fixture embeddings are dense float vectors).
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // Return type inferred: Seq[ArrayType] conforms to the (private[sql])
  // Seq[AbstractDataType] the trait declares.
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** The six SQL functions of the engine, name → builder.
    * `GraftSession.install` registers them on every session before a
    * query is built; the column helpers below only name them. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("vec_dot", "exactly 2 arguments (two ARRAY<FLOAT> columns)") {
      case Seq(a, b) => FloatVectorDot(a, b) },
    fn("simhash60", "exactly 1 argument (an ARRAY<BIGINT> column)") {
      case Seq(hv) => SimHash60(hv) },
    fn("sign_dots16", "exactly 1 argument (an ARRAY<FLOAT> column)") {
      case Seq(e) => SignDots16(e) },
    fn("minhash8", "exactly 1 argument (an ARRAY<STRING> column)") {
      case Seq(sh) => MinHash8(sh) },
    fn("pos_ngrams", "exactly 2 arguments (a STRING column, an INT width)") {
      case Seq(text, n) => PosNgramExplode(text, n) },
    fn("cms_estimate", "exactly 2 arguments (a BINARY sketch, a BIGINT value)") {
      case Seq(sk, v) => CmsEstimate(sk, v) },
  )

  private def fn(name: String, args: String)(
      build: PartialFunction[Seq[Expression], Expression])
      : (String, Seq[Expression] => Expression) =
    name -> { exprs =>
      require(build.isDefinedAt(exprs), s"$name requires $args, got ${exprs.length}")
      build(exprs)
    }

  /** Column-level API: dot product of two ARRAY<FLOAT> columns. */
  def vecDot(spark: SparkSession, a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** Column-level API: 60-bit SimHash of an ARRAY<BIGINT> word-hash column. */
  def simHash60(spark: SparkSession, hv: Column): Column =
    call_function("simhash60", hv)

  /** Column-level API: 16 sign-LSH raw dot products of an ARRAY<FLOAT>. */
  def signDots16(spark: SparkSession, embedding: Column): Column =
    call_function("sign_dots16", embedding)

  /** Column-level API: 8 MinHash quarter-minima of an ARRAY<STRING>. */
  def minHash8(spark: SparkSession, shingles: Column): Column =
    call_function("minhash8", shingles)

  /** Column-level API: point-query a serialized count-min sketch. */
  def cmsEstimate(spark: SparkSession, sketch: Column, value: Column): Column =
    call_function("cms_estimate", sketch, value)

  /** Column-level API: distinct word n-grams of a STRING in one pass.
    * (Built on Column.expr directly — the n parameter is a literal of the
    * expression, not a child, so no registry indirection is needed.) */
  def wordNgrams(spark: SparkSession, text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      spark, e => WordNgrams(e, n), text)
}
