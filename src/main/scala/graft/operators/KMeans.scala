package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.NativeVectorOps

/** Distributed Lloyd's k-means over `embeddings`-shaped data — the
  * trained-clustering primitive beside [[Similarity]]'s training-free
  * coarse quantizers (IVF's mod-step centroids, PQ's seeded codebooks).
  * A SemDeDup-style curation pass clusters the corpus first and dedups
  * within clusters; this operator is that clustering step, and feeding
  * its centroids to [[Similarity.ivfTopK]]-style probes turns the
  * training-free IVF into a trained one.
  *
  * Spherical variant: assignment is argmax COSINE to the centroid (the
  * metric every other embedding operator here uses), update is the
  * component-wise mean of the members. Cosine ties break to the HIGHEST
  * cluster id — the natural order of the partially-aggregated
  * `max(struct(cos, cluster))` argmax, mirrored by the oracle's
  * `ORDER BY cos DESC, cluster DESC` (the q44 IVF contract).
  *
  * Scale design (the model is small, the data is big):
  *  - centroids (k·dim doubles) live on the driver between iterations and
  *    BROADCAST into each assignment pass — the corpus never shuffles to
  *    assign; the only exchange is the per-vector argmax combine.
  *    Collecting k·dim doubles per round is bounded model state, the same
  *    posture as IVF's broadcast centroid set, NOT a corpus collect.
  *  - the update is a (cluster, pos)-keyed aggregation: partial sums
  *    map-side, k·dim rows cross the exchange.
  *  - centroid components accumulate in FIXED-POINT (round_even(v·2²⁰)
  *    summed as integers, divided back once — the q79 centroid contract),
  *    so means are exact, associative, and identical across partitionings
  *    and engines; Lloyd's converges to the same labeling no matter how
  *    the corpus is partitioned.
  *  - each iteration materializes only the new centroids (one collect of
  *    k rows); the assignment lineage never stacks across iterations, so
  *    plan size is O(1) in the iteration count.
  *
  * An empty cluster simply drops (its centroid has no members to average);
  * subsequent assignments use the surviving centroids — deterministic and
  * mirrored by the inner-join semantics of the SQL oracle.
  */
object KMeans {

  private def embD(c: String) = col(c).cast("array<double>")

  /** Deterministic seed centroids: the `k` lowest-id vectors with
    * vec_id ≡ 0 (mod step), cluster = 0-based rank — reproducible across
    * runs and engines, like IVF's mod-step cells. The candidate pick is a
    * distributed partial top-k (`orderBy.limit`), never a global sort;
    * the rank window runs over ≤ k rows.
    */
  def seeds(embeddings: DataFrame, k: Int, step: Long = 100L): DataFrame = {
    val cand = embeddings.filter(col("vec_id") % step === 0L)
      .select(col("vec_id"), embD("embedding").as("centroid"))
      .orderBy("vec_id").limit(k)
    val w = Window.orderBy(col("vec_id"))
    cand.withColumn("cluster", (row_number().over(w) - 1).cast(IntegerType))
      .select(col("cluster"), col("centroid"))
  }

  /** The corpus with its argmax-cosine cluster attached in ONE narrow-map
    * projection — the round-14 assignment shape (see
    * [[graft.functions.ArgmaxCosine]]): the old `crossJoin(broadcast)` +
    * `max(struct)` form materialized an n·k-row intermediate and paid a
    * per-vector combine exchange; the fused expression keeps bit-identical
    * scores and the same HIGHER-cluster tie order with zero intermediate
    * rows and no exchange. Centroids collect to the driver first —
    * bounded k·dim model state, the same posture the broadcast carried.
    */
  private def withCluster(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val rows = centroids.select(col("cluster").cast(IntegerType), col("centroid"))
      .collect()
    if (rows.isEmpty)
      embeddings.select(col("vec_id"), col("embedding"),
        lit(null).cast(IntegerType).as("cluster")).filter(lit(false))
    else {
      val ids = rows.map(_.getInt(0).toLong)
      val cents = rows.map(_.getSeq[Double](1).toArray)
      embeddings.select(col("vec_id"), col("embedding"),
        NativeVectorOps.argmaxCell(embD("embedding"), ids, cents)
          .cast(IntegerType).as("cluster"))
    }
  }

  /** One assignment pass: each vector to its argmax-cosine centroid.
    * `centroids` must be small (bounded model state). The whole pass is
    * a narrow map — see [[withCluster]].
    */
  def assign(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    withCluster(embeddings, centroids).select("vec_id", "cluster")

  /** One update pass: fixed-point component means over each cluster's
    * members → (cluster, centroid array<double>).
    */
  def update(embeddings: DataFrame, assignment: DataFrame): DataFrame =
    updateFrom(embeddings.join(assignment, Seq("vec_id")))

  /** [[update]] over a frame that already carries (embedding, cluster) —
    * the fit loop's form: with assignment a narrow map, gluing it back
    * to the corpus with a vec_id self-join would be the only exchange
    * left in the round, and an unnecessary one.
    */
  private def updateFrom(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(embD("embedding")).as(Seq("pos", "v")))
      .withColumn("q", bround(col("v") * (1L << 20), 0).cast(LongType))
      .groupBy("cluster", "pos")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .withColumn("c", col("s").cast(DoubleType) / lit(1048576.0) / col("n"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))

  /** `iters` Lloyd rounds from the deterministic seeds; returns the final
    * centroid set. Centroids round-trip through the driver between rounds
    * (bounded k·dim model state) so the job graph per round is
    * constant-size.
    */
  def fitCentroids(embeddings: DataFrame, k: Int, iters: Int, step: Long = 100L): DataFrame = {
    val spark = embeddings.sparkSession
    var cents = materialized(spark, seeds(embeddings, k, step))
    for (_ <- 1 to iters)
      cents = materialized(spark, updateFrom(withCluster(embeddings, cents)))
    cents
  }

  /** `iters` Lloyd rounds; returns the final assignment (vec_id, cluster). */
  def fit(embeddings: DataFrame, k: Int, iters: Int, step: Long = 100L): DataFrame =
    assign(embeddings, fitCentroids(embeddings, k, iters, step))

  /** Collect a (cluster, centroid) frame to the driver and rebuild it as
    * a local relation: exact doubles, O(1) lineage.
    */
  private def materialized(spark: SparkSession, cents: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = true))))
    val rows = cents.collect().map { r =>
      Row(r.getInt(0), r.getSeq[Double](1))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Per-cluster quality report: size, mean cosine to the assigned
    * centroid (spherical cohesion), and mean SIMPLIFIED silhouette —
    * per vector a = 1 − cos(own centroid), b = 1 − cos(best OTHER
    * centroid), sil = (b − a) / max(a, b). Simplified silhouette uses
    * centroid distances instead of the O(n²) pairwise form — the
    * standard corpus-scale substitute.
    *
    * Scale/determinism contract: each vector scores against the
    * broadcast k-row centroid set (the assignment shape — no extra
    * corpus shuffle beyond one cluster-keyed agg); the per-vector
    * top-2 reduces via sort_array over ≤ k collected entries (struct
    * desc = cos DESC, cluster DESC — the q44 tie order); and the
    * per-cluster means accumulate in FIXED-POINT (round_even(x·2²⁰)
    * longs — the q79 contract) so they are exact across partitionings
    * and engines. Requires ≥ 2 clusters.
    */
  def clusterQuality(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val e = embD("embedding")
    val cents = centroids.select(col("cluster"), col("centroid"),
      sqrt(NativeVectorOps.dot(col("centroid"), col("centroid"))).as("c_norm"))
    val fp = lit(1L << 20)
    val fpD = lit((1L << 20).toDouble)
    embeddings
      .select(col("vec_id"), e.as("d_emb"),
        sqrt(NativeVectorOps.dot(e, e)).as("d_norm"))
      .crossJoin(broadcast(cents))
      .withColumn("cos",
        NativeVectorOps.dot(col("d_emb"), col("centroid")) / (col("d_norm") * col("c_norm")))
      .groupBy("vec_id")
      .agg(reverse(array_sort(collect_list(struct(col("cos"), col("cluster")))))
        .as("ranked"))
      .select(col("vec_id"),
        col("ranked")(0).getField("cluster").as("cluster"),
        col("ranked")(0).getField("cos").as("cos_own"),
        col("ranked")(1).getField("cos").as("cos_next"))
      .withColumn("a", lit(1.0) - col("cos_own"))
      .withColumn("b", lit(1.0) - col("cos_next"))
      // a = b = 0 (vector ≡ both centroids): define sil = 0 rather than
      // ride engine-specific 0/0 semantics
      .withColumn("sil", when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
        .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        sum(bround(col("cos_own") * fp, 0).cast(LongType)).as("qc"),
        sum(bround(col("sil") * fp, 0).cast(LongType)).as("qs"))
      .select(col("cluster"), col("n"),
        (col("qc").cast(DoubleType) / fpD / col("n")).as("mean_cosine"),
        (col("qs").cast(DoubleType) / fpD / col("n")).as("mean_silhouette"))
  }

  /** Mean cosine of every vector to its assigned centroid — the spherical
    * analogue of (negated) WCSS; Lloyd rounds must not worsen it.
    */
  def meanAssignedCosine(embeddings: DataFrame, centroids: DataFrame): Double = {
    assign(embeddings, centroids).join(embeddings, Seq("vec_id"))
      .join(broadcast(centroids), Seq("cluster"))
      .select(avg(NativeVectorOps.cosine(embD("embedding"), col("centroid"))).as("m"))
      .head().getDouble(0)
  }
}
