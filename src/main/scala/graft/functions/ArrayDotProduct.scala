package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen dot product over two numeric arrays
  * (float or double elements), accumulating in double in ascending
  * index order — bit-identical to the sequential
  * `aggregate(zip_with(...))` fold it replaces
  * (graft.vector.VectorFunctions.dotExact), but ~20× faster: the
  * generated code is a tight primitive loop inside whole-stage
  * codegen instead of one interpreted lambda frame per element.
  *
  * This is the (b)-tier extension point from the design notes: a
  * custom Catalyst `Expression` with `doGenCode`, preferred over a
  * Scala UDF (no serialization, no codegen break).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => elemType(e) match {
      case FloatType | DoubleType => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double>, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  private def get(a: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += get(a, i, ta) * get(b, i, tb)
      i += 1
    }
    acc
  }

  private def genGet(arr: String, i: String, et: DataType): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${genGet(a, i, elemType(left))} * ${genGet(b, i, elemType(right))};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session registration for the graft SQL function extensions. */
object GraftFunctions {
  /** Registers every graft function the session does not hold yet.
    * Idempotent: table reads call it on every access, and re-creating
    * a registered function would log "replaced a previously
    * registered function" each time. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", exprs => ArrayDotProduct(exprs(0), exprs(1))),
    ("graft_minhash_sig", exprs => {
      // optional second arg: signature length k (foldable int)
      val k = if (exprs.length > 1)
        exprs(1).eval(null).asInstanceOf[Int] else 64
      MinHashSigAgg(exprs.head, k)
    }),
    ("graft_sorted_intersect", exprs => SortedIntersectSize(exprs(0), exprs(1))),
    ("graft_ivf_top_cells", exprs => IvfTopCells(exprs(0), exprs(1), exprs(2))),
    ("graft_simhash_bits", exprs => SimHashBitsAgg(exprs.head)),
    ("graft_lsh_buckets", exprs => LshBuckets(exprs(0), exprs(1), exprs(2), exprs(3))),
    ("graft_nfc", exprs => NfcNormalize(exprs.head)),
    ("graft_bloom_might_contain", exprs => BloomMightContainExpr(exprs(0), exprs(1))),
    ("graft_bpe_encode", exprs => BpeEncodeExpr(exprs(0), exprs(1))),
    ("graft_gopher_stats", exprs => GopherStatsExpr(exprs.head)),
    ("graft_text_stats", exprs => TextStatsExpr(exprs.head)),
    ("graft_shingles", exprs => {
      // optional args: shingle width n (foldable int), distinct flag
      val n = if (exprs.length > 1)
        exprs(1).eval(null).asInstanceOf[Int] else 3
      val distinct = if (exprs.length > 2)
        exprs(2).eval(null).asInstanceOf[Boolean] else true
      ShinglesExpr(exprs.head, n, distinct)
    }),
    ("graft_kmv", exprs => {
      // optional second arg: sketch size k (foldable int)
      val k = if (exprs.length > 1)
        exprs(1).eval(null).asInstanceOf[Int] else 256
      KmvAgg(exprs.head, k)
    }),
    ("graft_freq_items", exprs => {
      // optional second arg: summary capacity (foldable int)
      val cap = if (exprs.length > 1)
        exprs(1).eval(null).asInstanceOf[Int] else 256
      FreqItemsAgg(exprs.head, cap)
    }))
}
