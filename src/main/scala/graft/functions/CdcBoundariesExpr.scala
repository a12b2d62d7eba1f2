package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Native Catalyst expression for content-defined chunk boundaries — the
  * corpus-scan hot path of `TextAnalysis.cdcDedup`. The declarative HOF
  * formulation (transform + W element_at terms per position) is correct
  * but interpreted (HOFs are CodegenFallback): ~W·n lambda evaluations
  * per document. This expression generates one tight rolling-hash loop
  * — O(n) with O(1) per char — inside the stage.
  *
  * Contract (identical to the HOF form and the q131 oracle): positions
  * are 1-based; a boundary falls at i ∈ [Window, len) where the
  * polynomial hash of the trailing [[CdcBoundaries.Window]] UTF-16 code
  * units ≡ 0 mod [[CdcBoundaries.Divisor]]. Code units match Spark's
  * `split('')` + `ascii` exactly (the corpus contract is ASCII;
  * supplementary-plane behavior is unpinned cross-engine either way).
  * The rolling update is exact modular arithmetic, so hashes are
  * bit-identical to the per-position recompute.
  */
case class CdcBoundaries(child: Expression) extends UnaryExpression {
  import CdcBoundaries._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_cdc_boundaries"

  override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
    copy(child = newChild)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(boundaries(a.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      s"""
         |java.lang.String $s = $a.toString();
         |int[] $out = graft.functions.CdcBoundaries.boundaries($s);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
}

object CdcBoundaries {
  /** Shared CDC parameters — the one source of truth the q131 oracle SQL
    * is generated from: window, polynomial base, modulus 2^31, boundary
    * divisor (expected chunk ~ Divisor chars on random text).
    */
  val Window = 8
  val Base = 257L
  val Mod: Long = 1L << 31
  val Divisor = 64

  /** B^j mod M for j = 0..Window-1. */
  val Pows: IndexedSeq[Long] =
    (0 until Window).scanLeft(1L)((p, _) => (p * Base) % Mod).take(Window)

  /** The boundary scan itself — called from both the interpreted eval and
    * the generated code (the loop is already monomorphic Java-shaped;
    * inlining it into codegen buys nothing over a static call).
    */
  def boundaries(s: String): Array[Int] = {
    val n = s.length
    if (n < Window) return Array.emptyIntArray
    val pw = Pows(Window - 1)
    val buf = new Array[Int](n - Window + 1)
    var k = 0
    // Horner over the first Window chars: h = sum c(idx) * B^(W-1-idx)
    var h = 0L
    var idx = 0
    while (idx < Window) { h = (h * Base + s.charAt(idx)) % Mod; idx += 1 }
    if (h % Divisor == 0 && Window < n) { buf(k) = Window; k += 1 }
    while (idx < n) {
      h = ((h - s.charAt(idx - Window) * pw) % Mod + Mod) % Mod
      h = (h * Base + s.charAt(idx)) % Mod
      idx += 1
      if (h % Divisor == 0 && idx < n) { buf(k) = idx; k += 1 }
    }
    java.util.Arrays.copyOf(buf, k)
  }
}

/** Column API for the native text expressions (the NativeVectorOps
  * pattern: each builder wraps its expression into a Column directly).
  */
object NativeTextOps {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  def cdcBoundaries(text: Column): Column =
    column(CdcBoundaries(expression(text)))

  /** One-pass twin of [[TextOps.normalized]] (see TextKernel). */
  def normalizedText(text: Column): Column =
    column(NormalizeTextExpr(expression(text)))

  /** One-pass quality/lang-ID feature struct (see TextKernel.features). */
  def textFeatures(text: Column): Column =
    column(TextFeaturesExpr(expression(text)))

  /** One-pass BPE-ish pre-tokenization count (see TextKernel). */
  def bpeCount(text: Column): Column =
    column(BpeTokenCountExpr(expression(text)))

  /** One-pass word-3-gram xxhash64 array (see TextKernel.shingleHashes). */
  def shingleHashes(text: Column): Column =
    column(ShingleHashesExpr(expression(text)))

  /** Digest-direct md5 prefix hash (see TextKernel.md5Hash32). */
  def md5Hash32(text: Column): Column =
    column(Md5Hash32Expr(expression(text)))

  /** Packed 32-bin char-class histogram (see TextKernel.charClassSig). */
  def charClassSig(text: Column): Column =
    column(CharClassSigExpr(expression(text)))

  /** PII counts + sequential redaction struct (see TextKernel.piiRedact). */
  def piiRedact(text: Column): Column =
    column(PiiRedactExpr(expression(text)))

  /** L1 distance between two [[charClassSig]] signatures — a NATIVE
    * binary expression, one static call per pair. (A 32-term Column tree
    * of shift/mask/abs was tried first: it inflated the join-stage
    * codegen until the whole pair stage fell out of whole-stage codegen
    * into interpreted evaluation — 8× SLOWER than no filter. Keep pair-
    * grain predicates to one compact call.) L1 > 2·k ⇒ edit distance
    * > k, so `l1 <= 2*maxDist` is a lossless pre-filter for a banded
    * levenshtein (count filtering, the standard edit-join bound).
    */
  def sigL1(a: Column, b: Column): Column =
    column(SigL1Expr(expression(a), expression(b)))
}
