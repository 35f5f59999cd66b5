package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftBridge.{column, expr}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Codegen'd dot product over two `array<float>` columns, accumulating in
  * double with a sequential left-to-right sum — bit-identical to the
  * `aggregate(zip_with(...))` higher-order fold it replaces (same op
  * order), but ~an order of magnitude faster: Spark's higher-order
  * functions are interpreted per element, while this participates in
  * whole-stage codegen as a tight primitive loop.
  *
  * This is the §2.12 "custom Catalyst Expression for a hot vector kernel":
  * brute-force similarity evaluates O(|pairs| · dim) products, which is the
  * engine's hottest loop at scale. */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
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

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
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

/** Codegen'd SELF dot product Σxᵢ² over one `array<float>` column — the
  * specialized form [[graft.plans.SelfDotRewrite]] substitutes for
  * `graft_dot(x, x)`: identical arithmetic (the same left-to-right
  * double fold over the same values, so every gated result is bit-
  * unchanged) but ONE array read per element instead of two — norms are
  * computed once per vector in every similarity pipeline, so the halved
  * memory traffic is on the hot path. Also registered directly as
  * `graft_self_dot`. */
case class FloatSelfDot(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_self_dot expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_self_dot"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      val v = x.getFloat(i).toDouble
      s += v * v
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd intersection size of two SORTED `array<bigint>` columns via a
  * linear merge — replaces interpreted `array_intersect` (hash-set per
  * pair) in the set-similarity hot loop. Inputs must be sorted ascending
  * and duplicate-free (array_sort ∘ array_distinct upstream). */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_intersect expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $n = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $n++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level API and SQL registration for graft expressions. */
object GraftFunctions {
  private def fn(name: String, usage: String, builder: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo("graft", null, name, usage, ""), builder)

  /** Every graft SQL function, for SQL text that names `graft_*`.
    * [[graft.plans.GraftExtensions]] injects them when a session is built;
    * `register` adds them to a running session. The Column API below
    * builds the same expressions directly and needs neither. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_dot", "codegen float-array dot product",
      es => FloatDotProduct(es(0), es(1))),
    fn("graft_sorted_intersect", "codegen sorted-long intersection count",
      es => SortedLongIntersectCount(es(0), es(1))),
    fn("graft_self_dot", "codegen float-array self dot (sum of squares)",
      es => FloatSelfDot(es.head)),
    fn("graft_shingles2", "sorted distinct hashed word 2-gram set",
      es => ShingleHashSet(es.head, 2)),
    fn("graft_shingles3", "sorted distinct hashed word 3-gram set",
      es => ShingleHashSet(es.head, 3)),
    fn("graft_minhash32", "32-hash MinHash signature",
      es => MinHashSignature(es.head, 32)),
    fn("graft_winnow", "winnowing fingerprint set",
      es => WinnowingFingerprint(es.head, 8, 4)),
    fn("graft_minhash_bands", "UDTF: 16 LSH band rows per signature",
      es => MinHashBands(es.head, 16)),
  )

  /** Registers each of [[all]] that the session does not already resolve
    * (check-before-add: re-registering would replace the function and log
    * a warning each time). Needed only for SQL text naming `graft_*`. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** Codegen'd float-array dot product. */
  def dot(a: Column, b: Column): Column = column(FloatDotProduct(expr(a), expr(b)))

  /** Codegen'd sorted-array intersection count. */
  def sortedIntersect(a: Column, b: Column): Column =
    column(SortedLongIntersectCount(expr(a), expr(b)))
}
