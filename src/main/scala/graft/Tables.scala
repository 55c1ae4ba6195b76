package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Accessors for the driver-generated parquet tables (`TESTDATA.md:13-15`).
  *
  * The capability surface derives from the reference's domain — ETL for an
  * open disaster data store (`/root/reference/README.md:1-2`) — concretized by
  * the harness's TPC-H-ish star schema plus `events`/`documents`/`embeddings`
  * (SURVEY.md §1.2, schemas observed directly from the parquet files).
  *
  * Scale posture: every accessor is a plain columnar parquet scan; filters and
  * projections declared downstream reach the scan via Catalyst pushdown
  * (`PushedFilters`/`ReadSchema` — verified in `PlanAuditSpec`). At 100 TB the
  * same code reads a partitioned/bucketed table layout; nothing here assumes
  * single-file inputs.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` normalization — every downstream op assumes TIMESTAMP (TZ).
    *
    * The driver has shipped this column under two physical encodings:
    *   - parquet TIMESTAMP(NANOS,false) (rounds 1-6): Spark 4 has no ns
    *     timestamp type and refuses the column ([PARQUET_TYPE_ILLEGAL]) unless
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *     GraftSession.build), which reads raw long nanos; `timestamp_micros(ts div 1000)`
    *     truncates exactly like DuckDB's ns→µs read of the same file (rule D2).
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-7 regen):
    *     loads as TIMESTAMP_NTZ, which breaks `unix_micros`/TZ-typed ops
    *     (the five BENCH_r05 failures). Sessions run UTC, so an NTZ→TZ cast
    *     preserves the wall-clock value bit-for-bit and restores the exact
    *     column type (and oracle hashes) of the nanos era. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
