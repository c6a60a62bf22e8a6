package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * The `events` table carries a `TIMESTAMP(NANOS)` parquet column, which
  * Spark's vectorized reader rejects by default; it is read as raw
  * nanosecond longs (`spark.sql.legacy.parquet.nanosAsLong`) and converted
  * to microsecond timestamps with exact integer division — the same
  * truncation DuckDB applies, so cross-engine comparisons agree.
  */
object Tables {

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Parquet.read(spark, s"$dir/$name.parquet")
  }

  /** events with `ts` as a proper (microsecond) TimestampType column,
    * whatever the file encodes: TIMESTAMP(NANOS) arrives as a long (see
    * above) and is integer-divided to micros; micros TIMESTAMP /
    * TIMESTAMP_NTZ (what Spark itself writes, e.g. the scaled-up bench
    * data) casts directly — the session is pinned to UTC so both paths
    * yield identical instants.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "documents")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "embeddings")

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "lineitem")

  def orders(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "orders")

  def customer(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "customer")

  def part(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "part")

  def nation(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "nation")

  def supplier(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "supplier")

  def region(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "region")
}
