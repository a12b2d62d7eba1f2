package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.xxhash64

/** Catalyst's bloom-filter expressions surfaced as Columns. Spark ships
  * `BloomFilterAggregate` / `BloomFilterMightContain` for its own runtime
  * row-group filters but exposes no public builder for them; wrapping
  * them directly (as `NativeVectorOps` does) makes them usable from the
  * DataFrame API with zero new dependencies. The aggregate builds the
  * sketch DISTRIBUTED (partial per partition, merged once); only the
  * finished ~numBits/8-byte sketch ever reaches the driver.
  */
object BloomOps {

  /** Aggregate a key column into a serialized bloom filter (xxhash64'd —
    * the only input the catalyst aggregate accepts).
    */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(xxhash64(key)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Membership probe of `key` against a driver-held serialized sketch
    * (ships to executors as a literal — one copy per plan, not per row).
    */
  def mightContain(sketch: Array[Byte], key: Column): Column =
    column(BloomFilterMightContain(Literal(sketch), expression(xxhash64(key))))
}
