package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{BloomOps, NativeTextOps, NativeVectorOps}
import graft.operators.ZOrder

/** Every native Column builder carries its expression inside the Column:
  * it resolves in a session whose function registry has never heard of
  * graft, gives the same values there as in the shared session, and
  * leaves the session's function registry and optimizer rules as it
  * found them.
  */
class NativeColumnsSpec extends SparkSpec {

  private val texts = Seq(
    "Hello  World, the quick brown fox... Mail a.b@example.com or call 555-123-4567",
    "Zweite Zeile 中文 text text text and the end of the line, a b c d e f g h",
    "")

  private def rowFixture(s: SparkSession) = {
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, Array.tabulate(8)(d => math.sin(i * 8 + d)),
        Array.tabulate(8)(d => math.cos(i * 8 + d)), (i * 37L) % 1000, (i * 91L) % 1000)
    }.toDF("id", "text", "a", "b", "x", "y")
  }

  /** Every row-level builder over the fixture, collected in id order. */
  private def rowBuilders(s: SparkSession): Seq[Row] =
    rowFixture(s).select(col("id"),
      ZOrder.zKey(col("x"), col("y")),
      NativeVectorOps.zValue(col("x"), col("y"), 12),
      NativeVectorOps.dot(col("a"), col("b")),
      NativeVectorOps.cosine(col("a"), col("b")),
      NativeVectorOps.lshBuckets(col("a"), 4, 3, 8),
      NativeVectorOps.argmaxCell(col("a"), Array(7L, 9L),
        Array(Array.fill(8)(1.0), Array.tabulate(8)(d => if (d % 2 == 0) 1.0 else -1.0))),
      NativeTextOps.cdcBoundaries(col("text")),
      NativeTextOps.normalizedText(col("text")),
      NativeTextOps.textFeatures(col("text")),
      NativeTextOps.bpeCount(col("text")),
      NativeTextOps.shingleHashes(col("text")),
      NativeTextOps.md5Hash32(col("text")),
      NativeTextOps.charClassSig(col("text")),
      NativeTextOps.piiRedact(col("text")),
      NativeTextOps.sigL1(NativeTextOps.charClassSig(col("text")),
        NativeTextOps.charClassSig(lit("reference line 42"))))
      .orderBy("id").collect().toSeq

  /** The bloom pair: (sketch bytes, membership of ids 0..199 against a
    * sketch of ids 0..99).
    */
  private def bloom(s: SparkSession): (Seq[Byte], Seq[Boolean]) = {
    val sketch = s.range(100).agg(BloomOps.bloomAgg(col("id"), 1000L, 8192L))
      .head().getAs[Array[Byte]](0)
    val probes = s.range(200).orderBy("id")
      .select(BloomOps.mightContain(sketch, col("id"))).collect().map(_.getBoolean(0))
    (sketch.toSeq, probes.toSeq)
  }

  private def graftFunctions(s: SparkSession): Seq[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_"))

  test("native builders resolve in a fresh session, match the shared one, and register nothing") {
    val fresh = spark.newSession()
    val freshRows = rowBuilders(fresh)
    val sharedRows = rowBuilders(spark)
    assert(freshRows.length == texts.length)
    assert(freshRows == sharedRows)
    // zKey is the 16-bit Morton key of (x, y)
    assert(freshRows.map(_.getLong(1)) == Seq(0L, zModel(37, 91), zModel(74, 182)))

    val (freshSketch, freshProbes) = bloom(fresh)
    val (sharedSketch, sharedProbes) = bloom(spark)
    assert(freshSketch == sharedSketch && freshProbes == sharedProbes)
    assert(freshProbes.take(100).forall(identity), "a bloom filter has no false negatives")
    assert(freshProbes.drop(100).count(identity) < 10, "8192 bits over 100 keys: few false positives")

    assert(graftFunctions(fresh).isEmpty, graftFunctions(fresh).mkString(","))
    assert(graftFunctions(spark).isEmpty, graftFunctions(spark).mkString(","))
    assert(fresh.experimental.extraOptimizations.isEmpty,
      "building native columns must not install optimizer rules")
  }

  private def zModel(x: Long, y: Long): Long =
    (0 until 16).foldLeft(0L) { (z, i) =>
      z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }
}
