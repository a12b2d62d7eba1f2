package graft

import org.apache.spark.sql.functions._
import graft.functions.{NativeVectorOps, VectorOps}

/** The native codegen DotProduct expression must be bit-identical to the
  * higher-order-function formulation (same left-to-right IEEE fold).
  */
class DotProductExprSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = (0 until 200).map { i =>
    (i.toLong,
      Array.tabulate(64)(d => math.sin(i * 64 + d) * 10),
      Array.tabulate(64)(d => math.cos(i * 64 + d) * 10))
  }.toDF("id", "a", "b")

  /** Run with GraftRules UNINSTALLED: the shared test session gets the
    * rules from GraftRulesSpec and `Dedup.containmentPairs`, and the
    * HOF-dot→native rewrite would silently turn the "HOF side" of
    * every parity assertion below into the native expression — parity
    * pinned against itself proves nothing, and this spec is the very
    * contract the rewrite rule's soundness rests on.
    */
  private def withoutGraftRules[T](body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq.empty
    try body finally spark.experimental.extraOptimizations = saved
  }

  test("native dot == HOF dot, bit-for-bit, interpreted and codegen paths") {
    withoutGraftRules {
      val both = vecs.select(
        NativeVectorOps.dot(col("a"), col("b")).as("native"),
        VectorOps.dot(col("a"), col("b")).as("hof"))
      val rows = both.as[(Double, Double)].collect()
      assert(rows.length == 200)
      rows.foreach { case (n, h) =>
        assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h))
      }
    }
  }

  test("native cosine == HOF cosine; null array propagates null") {
    withoutGraftRules {
      val both = vecs.select(
        NativeVectorOps.cosine(col("a"), col("b")).as("native"),
        VectorOps.cosine(col("a"), col("b")).as("hof"))
      both.as[(Double, Double)].collect().foreach { case (n, h) =>
        assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h))
      }
      val withNull = vecs.select(
        NativeVectorOps.dot(when(col("id") === 0, col("a")), col("b")).as("d"))
      assert(withNull.filter(col("d").isNull).count() == 199)
    }
  }

  test("length mismatch: native dot == HOF dot == NULL (the rewrite's contract)") {
    withoutGraftRules {
      val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
        .repartition(2) // keep the expressions live (no constant folding)
      val both = df.select(
        NativeVectorOps.dot(col("a"), col("b")).as("native"),
        VectorOps.dot(col("a"), col("b")).as("hof"))
      val (n, h) = both.as[(Option[Double], Option[Double])].collect().head
      assert(n.isEmpty && h.isEmpty,
        "zip_with null-pads the shorter array → the fold is NULL; the native loop must agree")
    }
  }

  test("fused LSH buckets == composed per-plane sign sum, every table, bit-for-bit") {
    val (tables, planesPerTable, dim) = (8, 4, 64)
    // the composed formulation the fused expression replaced: one native
    // dot per plane against its literal weight array, sign → bit
    def composedBucket(t: Int) = (0 until planesPerTable).map { j =>
      when(NativeVectorOps.dot(col("a"),
        typedLit(VectorOps.planeArray(t * planesPerTable + j, dim))) > 0.0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val df = vecs.select(
      NativeVectorOps.lshBuckets(col("a"), tables, planesPerTable, dim).as("fused"),
      array((0 until tables).map(composedBucket): _*).as("composed"))
    df.as[(Seq[Long], Seq[Long])].collect().foreach { case (f, c) =>
      assert(f == c, s"fused $f != composed $c")
    }
    // null embedding propagates null (UnaryExpression null plumbing)
    val n = vecs.select(
      NativeVectorOps.lshBuckets(when(col("id") === 0, col("a")), 2, 4, dim).as("b"))
    assert(n.filter(col("b").isNull).count() == 199)
  }

  test("argmax centroid model: content equality, not reference equality (r14 ADVICE)") {
    import graft.functions.{ArgmaxCosine, CentroidModel}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // two expressions built from SEPARATE array instances with the same
    // content must be equal (and hash equal) so plan canonicalization,
    // CSE and persist-reuse on the canonicalized plan can fire — the
    // raw-array fields of the r14 form degraded to reference equality.
    // The child is SHARED: pre-analysis column wrappers carry Origins
    // that legitimately differ per construction site; what the ADVICE
    // targets (and what cache lookup compares) is the resolved plan,
    // where only the model object distinguishes two assignments.
    val child = AttributeReference("emb", ArrayType(DoubleType))()
    def mk(cells: Array[Long], flip: Double) = ArgmaxCosine(child,
      new CentroidModel(cells, Array(1.0, 0.0, 0.0, flip), Array(1.0, 1.0), 2))
    val e1 = mk(Array(0L, 100L), 1.0)
    val e2 = mk(Array(0L, 100L), 1.0)
    val e3 = mk(Array(0L, 101L), 1.0)
    val e4 = mk(Array(0L, 100L), -1.0)
    assert(e1 == e2 && e1.hashCode == e2.hashCode)
    assert(e1.semanticEquals(e2))
    assert(e1 != e3 && e1 != e4)
    // evaluation is unchanged by the holder refactor (and exercises the
    // new direct-construction bridge end-to-end): nearest of two
    // orthogonal centroids, ties impossible on this fixture
    val got = Seq((1L, Array(0.9, 0.1)), (2L, Array(-0.2, 0.8)))
      .toDF("id", "emb")
      .select(col("id"), NativeVectorOps.argmaxCell(col("emb"),
        Array(0L, 100L), Array(Array(1.0, 0.0), Array(0.0, 1.0))).as("cell"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 100L))
  }
}
