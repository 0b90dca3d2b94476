package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, NullType}

/** Codegen'd dot product / squared L2 distance over two `array<double>`
  * columns — the double-typed siblings of [[FloatVecDot]].
  *
  * Why (SURVEY §4.3 escalation, on measured need — the q162 drift
  * root-cause, round 15): [[graft.operators.Coreset]] used to build
  * its literal-vector distances as 64-term `element_at` chains. The
  * chain itself is semantically fine, but EVERY action re-walks
  * `Expression.genCode` over the few-hundred-node tree and re-compiles
  * the resulting whole-stage method in janino — jstack-sampled at
  * ~2.5 s of DRIVER time per job at dim=64, paid again on every one of
  * the k greedy rounds (and twice more for the base checkpoint). These
  * fixed-size expressions generate a tight primitive loop instead:
  * same arithmetic, same left-to-right summation order (bit-identical
  * to the chains, so every 6dp-rounded oracle hash is unchanged), and
  * the per-job codegen cost drops ~20× (BASELINE.md, "Round 15: the
  * correctness-gate rescue, deck30, and the drift post-mortem"). At corpus
  * scale the loop also beats interpreted HOFs (`aggregate(zip_with)`)
  * — per-element lambda dispatch with boxing — which is why this is an
  * Expression and not a `functions._` composition.
  *
  * Both sides must be `array<double>`; length mismatch folds over
  * min(len) ([[FloatVecDot]]'s rule). Null input ⇒ null output.
  *
  * PRECONDITION (r15 ADVICE): element slots must be NON-NULL and the
  * arrays fixed-width. The "bit-identical to the chains" claim holds
  * only there — the `element_at` chains these replace returned NULL
  * for a null element or an out-of-range index (the row was then
  * dropped by mmrSelect's `__n > 0` guard), while the loop folds over
  * min(len) and `ArrayData.getDouble` on a null slot reads an
  * UNDEFINED value. Every current caller ([[graft.operators.Coreset]]
  * literal centroid/corpus vectors built from the embeddings fixture)
  * satisfies this; a future caller with ragged or element-nullable
  * arrays would silently get different selections than the chain form
  * and must pre-normalize (null-fill or length-filter) first.
  */
private[graft] trait DoubleVecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  protected def fnName: String

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case NullType => true // null literal: propagates to null output
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$fnName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
}

/** Σ aᵢ·bᵢ over min(len), left-to-right. */
case class DoubleVecDot(left: Expression, right: Expression)
    extends DoubleVecBinary {
  override protected def fnName: String = "vec_dot_d"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleVecDot =
    copy(left = newLeft, right = newRight)
}

/** Σ (aᵢ−bᵢ)² over min(len), left-to-right — squared L2. */
case class DoubleVecSqDist(left: Expression, right: Expression)
    extends DoubleVecBinary {
  override protected def fnName: String = "vec_sqdist_d"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleVecSqDist =
    copy(left = newLeft, right = newRight)
}

/** Σ (xᵢ−muᵢ)·wᵢ over min(len), left-to-right — the centered dot of
  * PCA power iteration ([[graft.operators.Spectral]]), kept as ONE
  * ternary so the result is bit-identical to the replaced
  * `(element_at(x,i)−mu(i))*w(i)` chain (splitting into x·w − mu·w
  * would re-associate the sum and could flip a 6dp rounding).
  */
case class DoubleVecCenteredDot(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(first, second, third).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case NullType => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "vec_cdot_d requires three array<double> arguments, got " +
        Seq(first, second, third).map(_.dataType.simpleString).mkString(" / "))
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val mu = b.asInstanceOf[ArrayData]
    val w = c.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(),
      math.min(mu.numElements(), w.numElements()))
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += (x.getDouble(i) - mu.getDouble(i)) * w.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(),
         |  java.lang.Math.min($b.numElements(), $c.numElements()));
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ($a.getDouble($i) - $b.getDouble($i)) * $c.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): DoubleVecCenteredDot =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VecDistExprs {

  /** Register `vec_dot_d` / `vec_sqdist_d` in the session registry. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot_d", exprs => DoubleVecDot(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_sqdist_d", exprs => DoubleVecSqDist(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_cdot_d",
      exprs => DoubleVecCenteredDot(exprs(0), exprs(1), exprs(2)), "built-in")
  }

  def vecCenteredDotD(spark: SparkSession, x: Column, mu: Column,
      w: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("vec_cdot_d", x, mu, w)
  }

  def vecDotD(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("vec_dot_d", a, b)
  }

  def vecSqDistD(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("vec_sqdist_d", a, b)
  }
}
