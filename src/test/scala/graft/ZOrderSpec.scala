package graft

import org.apache.spark.sql.functions._
import graft.functions.{NativeVectorOps, ZValue}
import graft.operators.ZOrder

/** Z-order layout contract: (1) the native mask-spread expression equals
  * the per-bit reference model bit-for-bit; (2) writing the SAME rows
  * z-clustered instead of shuffled makes a 2-D box predicate touch few
  * files instead of all of them, because per-file bounding boxes shrink
  * — the measurable form of the min/max-stats pruning claim.
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def zModel(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("native zvalue == per-bit model (codegen path, random inputs)") {
    val rng = new scala.util.Random(11)
    val rows = (Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L)) ++
      Seq.fill(2000)((rng.nextLong().abs % 70000, rng.nextLong().abs % 70000)))
    val got = rows.toDF("x", "y").repartition(3)
      .select(col("x"), col("y"), NativeVectorOps.zValue(col("x"), col("y"), 16).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z == zModel(x & 65535, y & 65535, 16), s"zvalue($x,$y)=$z")
    }
    // interpreted eval agrees with codegen (spread is shared, but pin it)
    assert(ZValue.spread(0x7FFFL) == zModel(0x7FFF, 0, 16))
  }

  test("z-clustered layout: box query touches few files, shuffled touches all") {
    val rng = new scala.util.Random(23)
    val rows = rng.shuffle((0 until 4096).toVector).map { i =>
      (i.toLong, (i % 256).toLong, ((i / 256) % 64).toLong) // id, user, day
    }.toDF("id", "user", "day")

    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // shuffled baseline: 16 files in arrival order
    rows.repartition(16).write.mode("overwrite").parquet(s"$dir/plain")
    ZOrder.cluster(rows, col("user"), col("day"), bits = 16, numFiles = 16)
      .write.mode("overwrite").parquet(s"$dir/z")

    def boxFiles(path: String): Long =
      spark.read.parquet(path)
        .where(col("user") < 64 && col("day") < 16)
        .select(input_file_name()).distinct().count()

    val plain = boxFiles(s"$dir/plain")
    val z = boxFiles(s"$dir/z")
    assert(plain >= 15, s"shuffled layout unexpectedly clustered: $plain files")
    assert(z <= 6, s"z layout box query touched $z files")

    // per-file bounding boxes: the z layout's mean (user-span × day-span)
    // must collapse vs the shuffled layout's full-extent boxes
    def meanBoxArea(path: String): Double = {
      val areas = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(((max("user") - min("user")) * (max("day") - min("day"))).as("a"))
        .select(avg("a")).as[Double].head()
      areas
    }
    val plainArea = meanBoxArea(s"$dir/plain")
    val zArea = meanBoxArea(s"$dir/z")
    assert(zArea < plainArea / 4.0,
      s"z-layout mean bounding box $zArea not < 1/4 of shuffled $plainArea")
  }
}
