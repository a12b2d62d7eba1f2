package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver's parquet testdata (TESTDATA.md / FIXTURES.md §A)
  * plus the measure-stream view that plays the role of the reference's
  * OPC UA notification stream (reference: solarops/opcua_ingestion_engine,
  * `Services/OpcSubscribeService.cs:522-598`).
  *
  * Scale posture: these are plain parquet scans — at 100 TB the same code
  * reads a date-partitioned directory tree and Catalyst prunes partitions;
  * nothing here materializes or collects.
  */
object Tables {

  /** Read one table; schema comes from parquet footer (driver-generated,
    * trusted). Timestamps are normalized to session-TZ (UTC) TimestampType
    * so downstream `unix_micros`/`date_format` behave identically whether
    * Spark inferred TIMESTAMP or TIMESTAMP_NTZ from the file.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampNTZType => d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
  }

  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (surfaced as
    * a raw long under the legacy flag, truncated ns → µs with integer
    * `div` to match DuckDB; double division would lose precision since
    * epoch-ns ≈ 1.7e18 > 2^53) and plain `timestamp[us]` (surfaced as
    * TIMESTAMP_NTZ). Branch on the type the reader actually produced so a
    * testdata regeneration can't break every events-lineage query again.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** The measure-event stream in batch form (FIXTURES.md §A maps `events`
    * columns onto the OPC UA notification fields of
    * `Models/OpcDevice.cs:52-60`):
    *   device       = user_id as text        (DaqName analogue)
    *   measure_name = event_type             (template point measure)
    *   raw_value    = value                  (pre-scaling variant value)
    *   source_ts    = ts                     (SourceTimestamp)
    *   k            = props.$.k              (variant payload)
    *   status_ok    = k % 10 != 0            (StatusCode.IsGood analogue)
    *
    * status_ok is a deterministic stand-in for the OPC UA status code the
    * reference gates on at `Services/OpcSubscribeService.cs:563`.
    */
  def measures(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast(IntegerType)
    events(spark, dir)
      .withColumn("device", col("user_id").cast(StringType))
      .withColumn("measure_name", col("event_type"))
      .withColumn("raw_value", col("value"))
      .withColumn("source_ts", col("ts"))
      .withColumn("k", k)
      .withColumn("status_ok", k % 10 =!= 0)
      .select("event_id", "device", "measure_name", "raw_value", "source_ts", "k", "status_ok")
  }

  /** DuckDB-side equivalent of [[measures]], used as a CTE prefix by every
    * reference-parity oracle so Spark and the oracle share one definition.
    */
  val measuresSql: String =
    """WITH measures AS (
      |  SELECT event_id,
      |         CAST(user_id AS VARCHAR) AS device,
      |         event_type AS measure_name,
      |         value AS raw_value,
      |         ts AS source_ts,
      |         CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |         (CAST(json_extract_string(props, '$.k') AS INT) % 10) <> 0 AS status_ok
      |  FROM events)
      |""".stripMargin
}
