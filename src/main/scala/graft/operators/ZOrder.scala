package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.NativeVectorOps

/** Multi-dimensional data layout (Z-order clustering) — the write-side
  * half of scan pruning at 100 TB. Parquet/ORC readers skip files and
  * row groups whose min/max statistics exclude a predicate; those stats
  * are only tight if the writer CLUSTERED the data. A single-column sort
  * gives tight stats on one dimension and useless ones on every other;
  * sorting by the Morton key ([[graft.functions.ZValue]]) bounds ALL
  * interleaved dimensions per file simultaneously, so box predicates
  * (device × time window, user × day, …) touch O(few) files. Same
  * pattern as Delta/Iceberg `ZORDER BY` / `write.sort-order`.
  *
  * Scale shape: one range exchange (sampled bounds — the standard
  * distributed sort-job topology, no driver involvement beyond the
  * sampled range boundaries) + an in-partition sort that spills; no
  * stage ever holds the table in memory. ZOrderSpec writes the same
  * rows shuffled and z-clustered and measures both the file fan-in of a
  * box query and the per-file bounding-box shrinkage.
  */
object ZOrder {

  /** Morton key of two non-negative integer-valued columns. */
  def zKey(x: Column, y: Column, bits: Int = 16): Column =
    NativeVectorOps.zValue(x.cast(LongType), y.cast(LongType), bits)

  /** Layout job: range-partition into `numFiles` output files by the
    * Morton key and sort within partitions, so each written file covers
    * one tight z-range — and therefore a tight 2-D bounding box.
    */
  def cluster(df: DataFrame, x: Column, y: Column, bits: Int = 16,
      numFiles: Int = 16): DataFrame = {
    df.withColumn("__zkey", zKey(x, y, bits))
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
  }
}
