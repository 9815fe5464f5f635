package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata tables (TESTDATA.md). Plain parquet
  * scans — filters/projections chained by callers reach the scan via
  * Catalyst pushdown, so keep these as bare `spark.read.parquet`.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String)   = table(s, d, "region")
  def nation(s: SparkSession, d: String)   = table(s, d, "nation")
  def customer(s: SparkSession, d: String) = table(s, d, "customer")
  def supplier(s: SparkSession, d: String) = table(s, d, "supplier")
  def part(s: SparkSession, d: String)     = table(s, d, "part")
  def orders(s: SparkSession, d: String)   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String) = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String) = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = table(s, d, "embeddings")

  /** events.parquet stores `ts` as parquet TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ. The
    * loader casts it to a session-TZ `TimestampType` column (identity
    * on the stored micros — every entry point pins
    * spark.sql.session.timeZone=UTC), so downstream window/date_format/
    * unix_micros code is unchanged. It sets no session conf.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case other =>
        // surface an unexpected encoding at the LOAD, not as a
        // confusing analysis error ten operators downstream
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — adapt Tables.events " +
            "to this testdata generation")
    }
  }
}
