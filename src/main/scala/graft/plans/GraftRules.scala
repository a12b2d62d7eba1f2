package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

import graft.functions.DotProduct

/** Catalyst optimizer rules for graft's hot expression shapes — the
  * `Rule[LogicalPlan]` tier of customization (SURVEY §7.1 preference
  * order: compose ops → native Expression → LogicalPlan/Rule/Strategy).
  * Installed at runtime through `spark.experimental.extraOptimizations`
  * ([[GraftRules.install]], idempotent, callable on any session the
  * driver hands us).
  *
  * Both rules are pure expression rewrites with guards tight enough that
  * the rewrite is OBSERVABLY identical (spec-pinned), never merely
  * "close": they fire only on non-null-element arrays, and the float
  * equality minefield (NaN, −0.0) is excluded entirely.
  */
object GraftRules {

  /** Rewrites the declarative higher-order dot product —
    * `aggregate(zip_with(a, b, (x, y) -> x·y), 0.0, (acc, v) -> acc+v)`
    * — into the native codegen [[graft.functions.DotProduct]] loop. The
    * HOF formulation is interpreted per element (lambdas never enter
    * whole-stage codegen); the native expression is a fused multiply-add
    * loop with the same left-to-right IEEE fold, so results are
    * bit-identical (DotProductExprSpec pins the parity). Guarded to
    * arrays with non-null double elements: a null element makes the HOF
    * form yield NULL, a behavior the native loop does not reproduce.
    */
  object NativeDotRewrite extends Rule[LogicalPlan] {
    private def cleanDoubleArray(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, containsNull) => !containsNull
      case _ => false
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(l, r,
              LambdaFunction(Multiply(mx: NamedLambdaVariable, my: NamedLambdaVariable, _),
                Seq(zx: NamedLambdaVariable, zy: NamedLambdaVariable), _)),
            Literal(0.0, DoubleType),
            LambdaFunction(Add(aa: NamedLambdaVariable, av: NamedLambdaVariable, _),
              Seq(ma: NamedLambdaVariable, mv: NamedLambdaVariable), _),
            LambdaFunction(fv: NamedLambdaVariable, Seq(fa: NamedLambdaVariable), _))
          if mx.exprId == zx.exprId && my.exprId == zy.exprId &&
            aa.exprId == ma.exprId && av.exprId == mv.exprId &&
            fv.exprId == fa.exprId &&
            cleanDoubleArray(l.dataType) && cleanDoubleArray(r.dataType) =>
        DotProduct(l, r)
    }
  }

  /** Rewrites `size(array_intersect(a, b))` over long arrays into
    * [[IntersectCount]], which counts distinct common elements WITHOUT
    * materializing the intersection array (`ArrayIntersect` allocates an
    * ArrayData per row that `Size` immediately reduces to its length —
    * the q86 containment verifier runs exactly this shape over hashed
    * shingle sets). Guards: non-null LongType elements (exact equality,
    * no NaN/−0.0 arm) and the non-legacy Size null contract (plain null
    * propagation — `spark.sql.legacy.sizeOfNull` sessions keep the
    * built-in pair).
    */
  object IntersectCountRewrite extends Rule[LogicalPlan] {
    private def cleanLongArray(t: DataType): Boolean = t match {
      case ArrayType(LongType, containsNull) => !containsNull
      case _ => false
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
      case Size(ArrayIntersect(a, b), false)
          if cleanLongArray(a.dataType) && cleanLongArray(b.dataType) =>
        IntersectCount(a, b)
    }
  }

  private val rules: Seq[Rule[LogicalPlan]] = Seq(NativeDotRewrite, IntersectCountRewrite)

  /** Idempotent runtime installation into the session's experimental
    * optimizer batch (runs after the built-in batches, to fixed point).
    */
  def install(spark: SparkSession): Unit = {
    val current = spark.experimental.extraOptimizations
    val missing = rules.filterNot(current.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = current ++ missing
  }
}

/** `size(array_intersect(a, b))` without the intermediate array: the
  * count of DISTINCT elements of `a` present in `b` (ArrayIntersect's
  * exact contract, reduced to its length). Restricted by the rewrite
  * rule to arrays of non-null longs and the standard (non-legacy) null
  * contract, so it is a plain null-propagating binary expression.
  */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val inB = new java.util.HashSet[java.lang.Long](xb.numElements() * 2)
    var i = 0
    while (i < xb.numElements()) { inB.add(xb.getLong(i)); i += 1 }
    val seen = new java.util.HashSet[java.lang.Long]()
    var c = 0
    i = 0
    while (i < xa.numElements()) {
      val v = xa.getLong(i)
      if (inB.contains(v) && seen.add(v)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val inB = ctx.freshName("inB")
      val seen = ctx.freshName("seen")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val c = ctx.freshName("c")
      s"""
         |java.util.HashSet<Long> $inB = new java.util.HashSet<Long>($b.numElements() * 2);
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  $inB.add($b.getLong($i));
         |}
         |java.util.HashSet<Long> $seen = new java.util.HashSet<Long>();
         |int $c = 0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $v = $a.getLong($i);
         |  if ($inB.contains($v) && $seen.add($v)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
}
