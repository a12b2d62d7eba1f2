package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for the embedding dot product — the ANN hot
  * path. The `zip_with` + `aggregate` lambda formulation (VectorOps.dot)
  * is correct but falls out of whole-stage codegen (higher-order functions
  * are interpreted per element); this expression generates a tight fused
  * multiply-add loop inside the stage.
  *
  * Numeric contract: identical left-to-right IEEE fold as VectorOps.dot
  * and the DuckDB oracle's `list_reduce` — per-element multiply then
  * sequential add — so swapping it in changes NO query result bit.
  * (Null elements are not expected in embedding arrays; containing arrays
  * may be null → null out, handled by BinaryExpression's null-safe plumbing.)
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  // Length mismatch yields NULL — the same observable result as the
  // declarative zip_with/aggregate fold (zip_with null-pads the shorter
  // array; the padded product is null and poisons the sum), which is
  // what lets GraftRules.NativeDotRewrite swap the two forms without a
  // runtime length guard.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
}

/** Fused sign-LSH bucketing: ALL `tables × planesPerTable` plane dots of
  * one embedding in a single element-major pass, emitting one bucket per
  * table. The composed form (32 separate `graft_dot` calls against
  * literal plane arrays) re-reads the embedding array once per plane;
  * this expression reads each element once and scatters it into all 32
  * accumulators — same FLOPs, ~1/32nd the array traffic, and one
  * expression node instead of 32 in the generated stage.
  *
  * Numeric contract: each plane's accumulator receives its products in
  * element order, so every per-plane sum is the identical left-to-right
  * IEEE fold as `graft_dot(e, planeArray(g))` — bucket values are
  * bit-identical to the composed form (spec-pinned), and the DuckDB
  * oracle's formulation keeps matching.
  *
  * Plane weights are derived at plan time from [[VectorOps.planeWeightValue]]
  * (exact integer LCG), shipped into codegen as a reference object —
  * never re-derived per row.
  */
case class LshBuckets(child: Expression, tables: Int, planesPerTable: Int, dim: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)

  /** planes(g)(d) for global plane g = t·planesPerTable + j. */
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(tables * planesPerTable)(g => VectorOps.planeArray(g, dim))

  override def nullSafeEval(a: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    val n = math.min(e.numElements(), dim)
    val nPlanes = tables * planesPerTable
    val acc = new Array[Double](nPlanes)
    var i = 0
    while (i < n) {
      val v = e.getDouble(i)
      var g = 0
      while (g < nPlanes) { acc(g) += v * planes(g)(i); g += 1 }
      i += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var b = 0L
      var j = 0
      while (j < planesPerTable) {
        if (acc(t * planesPerTable + j) > 0.0) b |= 1L << j
        j += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.addReferenceObj("planes", planes, "double[][]")
      val nPlanes = tables * planesPerTable
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val g = ctx.freshName("g")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val v = ctx.freshName("v")
      val b = ctx.freshName("b")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $dim);
         |double[] $acc = new double[$nPlanes];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  for (int $g = 0; $g < $nPlanes; $g++) {
         |    $acc[$g] += $v * $p[$g][$i];
         |  }
         |}
         |long[] $out = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $b = 0L;
         |  for (int $j = 0; $j < $planesPerTable; $j++) {
         |    if ($acc[$t * $planesPerTable + $j] > 0.0) $b |= 1L << $j;
         |  }
         |  $out[$t] = $b;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
}

/** Column-level API for the native vector expressions. Each builder wraps
  * its expression into a Column directly (see `GraftSqlBridge`), so the
  * columns resolve in any session without a function registry entry.
  */
object NativeVectorOps {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))

  /** Best-cosine cell id of `e` against a driver-collected centroid
    * model (see [[ArgmaxCosine]]) — the whole IVF/k-means assignment as
    * one narrow map expression. `cells(i)` labels `cents(i)`; norms are
    * derived here with the identical IEEE fold the declarative form used.
    */
  def argmaxCell(e: Column, cells: Array[Long], cents: Array[Array[Double]]): Column = {
    require(cells.nonEmpty && cells.length == cents.length,
      "centroid model must be non-empty and aligned")
    val dim = cents.head.length
    val flat = new Array[Double](cents.length * dim)
    var i = 0
    while (i < cents.length) {
      require(cents(i).length == dim, "ragged centroid matrix")
      System.arraycopy(cents(i), 0, flat, i * dim, dim)
      i += 1
    }
    val norms = cents.map(ArgmaxCosine.norm)
    // the model rides as ONE plan-time reference object with
    // content-based equality: three array literals would put ~34 MB (at
    // the calibrated cell clamp) into the pre-analysis plan on every
    // call, and would compare by array reference, so identical
    // assignments would never canonicalize equal
    column(ArgmaxCosine(expression(e), new CentroidModel(cells.clone(), flat, norms, dim)))
  }

  /** Morton key of two bigint dimensions (see [[ZValue]]). */
  def zValue(x: Column, y: Column, bits: Int): Column =
    column(ZValue(expression(x), expression(y), bits))

  /** One bucket per table: element-major fused sign-LSH (see [[LshBuckets]]). */
  def lshBuckets(e: Column, tables: Int, planesPerTable: Int, dim: Int): Column =
    column(LshBuckets(expression(e), tables, planesPerTable, dim))

  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }
}
