package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain,
  Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Row-level vector kernels shared by interpreted eval and generated code.
  * Loops accumulate in double, index order 0..n — the same order the DuckDB
  * oracle's list functions use, so results are bitwise identical.
  */
object VectorOps {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  def normSq(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; acc += x * x; i += 1 }
    acc
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val na = normSq(a)
    val nb = normSq(b)
    if (na == 0.0 || nb == 0.0) 0.0
    else dot(a, b) / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Σ (a_i − b_i)² in index order — bit-identical to the interpreted
    * `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0D, +)` fold and to
    * DuckDB's sequential `list_sum(list_transform(list_zip(...)))`, so a
    * query can swap the HOF form for this kernel without touching its
    * oracle.
    */
  def l2Sq(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Native Catalyst expression for cosine similarity of two float vectors.
  *
  * Chosen over a Scala UDF (SURVEY.md §4 contingency list) because it stays
  * inside whole-stage codegen: `doGenCode` emits a direct static call with
  * no serialization, boxing, or iterator breaks, so a brute-force similarity
  * scan keeps the same pipeline as the parquet read.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Same shape for the raw dot product. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance, same native-kernel shape (PQ encode + ADC hot
  * path: sim_pq_adc_topk runs it ~10× per candidate row).
  */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_sq"
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.l2Sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.l2Sq($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The custom SQL functions, injected into every session at build time by
  * [[graft.plans.GraftExtensions]] (so `expr(...)` strings and `spark.sql`
  * resolve them with no per-query registration).
  */
object GraftFunctions {
  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression)
      : FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private def intArg(e: Expression): Int = e.eval(null).asInstanceOf[Int]

  val all: Seq[FunctionDescription] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity])(e => CosineSimilarity(e(0), e(1))),
    fn("dot_product", classOf[DotProduct])(e => DotProduct(e(0), e(1))),
    fn("l2_sq", classOf[L2Squared])(e => L2Squared(e(0), e(1))),
    fn("minhash_sig", classOf[MinhashSignature])(e => MinhashSignature(e(0), intArg(e(1)))),
    fn("simhash64", classOf[SimhashFingerprint])(e => SimhashFingerprint(e(0))),
    fn("word_shingles", classOf[WordShingles])(e => WordShingles(e(0), intArg(e(1)))),
    fn("char_ngrams", classOf[CharNgrams])(e => CharNgrams(e(0), intArg(e(1)))),
    fn("hyperplane_bucket", classOf[HyperplaneBucket])(
      e => HyperplaneBucket(e(0), intArg(e(1)))),
    fn("max_token_count", classOf[MaxTokenMultiplicity])(e => MaxTokenMultiplicity(e(0))),
    fn("cdc_boundaries", classOf[CdcBoundaries])(e => CdcBoundaries(e(0))),
    fn("pair_combos", classOf[PairCombinations])(e => PairCombinations(e(0))),
    fn("sorted_intersect_count", classOf[SortedIntersectCount])(
      e => SortedIntersectCount(e(0), e(1))),
    fn("sorted_floor", classOf[SortedFloor])(e => SortedFloor(e(0), e(1))),
    fn("sorted_ceil_strict", classOf[SortedCeilStrict])(e => SortedCeilStrict(e(0), e(1))),
    // Spark's own runtime-filter expressions, surfaced by name: the
    // catalyst classes are public but not in the user-facing registry.
    // bloom_agg(col, estimatedItems, numBits) builds the sketch
    // distributedly (merged per-partition, no driver-side build);
    // bloom_might_contain(scalar-subquery, col) is the codegen'd probe —
    // its bloom side must be a literal/scalar subquery by the
    // expression's own input check, so the filter inlines as a constant
    // at execution with no broadcast-variable lifecycle to manage.
    fn("bloom_agg", classOf[BloomFilterAggregate])(
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    fn("bloom_might_contain", classOf[BloomFilterMightContain])(
      e => BloomFilterMightContain(e(0), e(1))))
}
