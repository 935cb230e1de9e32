package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
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

/** SQL registration for the custom expressions: `cosine_sim(a, b)`,
  * `dot_product(a, b)` become usable inside `expr(...)` strings and
  * `spark.sql` once registered. Idempotent.
  */
object GraftFunctions {
  /** Once-per-session guard (optimization r18): queries call register()
    * from their builders, so a 443-query sweep re-registered every
    * function (and logged a "replaced a previously registered function"
    * WARN for each) hundreds of times. Temp functions survive for the
    * session lifetime — nothing drops them between queries — so the
    * re-registration was pure per-query ceremony.
    */
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!registered.add(spark)) return
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "l2_sq", exprs => L2Squared(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_sig", exprs => MinhashSignature(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction(
      "simhash64", exprs => SimhashFingerprint(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "word_shingles", exprs => WordShingles(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction(
      "char_ngrams", exprs => CharNgrams(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction(
      "hyperplane_bucket", exprs => HyperplaneBucket(exprs(0),
        exprs(1).eval(null).asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction(
      "max_token_count", exprs => MaxTokenMultiplicity(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "cdc_boundaries", exprs => CdcBoundaries(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "pair_combos", exprs => PairCombinations(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "sorted_intersect_count",
      exprs => SortedIntersectCount(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "sorted_floor", exprs => SortedFloor(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "sorted_ceil_strict",
      exprs => SortedCeilStrict(exprs(0), exprs(1)), "built-in")
    // Spark's own runtime-filter expressions, surfaced by name: the
    // catalyst classes are public but not in the user-facing registry.
    // bloom_agg(col, estimatedItems, numBits) builds the sketch
    // distributedly (merged per-partition, no driver-side build);
    // bloom_might_contain(scalar-subquery, col) is the codegen'd probe —
    // its bloom side must be a literal/scalar subquery by the
    // expression's own input check, so the filter inlines as a constant
    // at execution with no broadcast-variable lifecycle to manage.
    reg.createOrReplaceTempFunction(
      "bloom_agg", exprs =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "bloom_might_contain", exprs =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1)), "built-in")
  }
}
