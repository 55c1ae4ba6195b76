package graft

import org.apache.spark.sql.SparkSession

/** The one place graft configures a session: [[build]] makes the session
  * every entry point (Verify, Bench, PlanDump, GenScale, test fixtures)
  * runs on, and [[withConf]] is the only way query code changes a session
  * conf — scoped to one call and restored after it. */
object GraftSession {

  /** A local session on `cpus` cores with the graft extensions and the
    * `graft` catalog registered. */
  def build(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
      // as a timestamp ([PARQUET_TYPE_ILLEGAL]); read it as long nanos and
      // convert to µs in Tables.events (matches DuckDB's ns→µs truncation).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Write timestamps as INT64 micros (not INT96) so the DuckDB/pyarrow
      // oracle compare (tools/check.py) sees the same type it computes.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // graft-native functions (FloatDot) via the public extension point
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set `kvs` on the session for `body`, then put every key back as it
    * was: a previously set value is restored, a key that was unset is
    * unset again — also when `body` throws. Nested scopes restore in order.
    * The keys are session-wide for the duration: jobs running concurrently
    * on other threads see them too. */
  def withConf[T](s: SparkSession)(kvs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll // only explicitly set keys, never defaults
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.reverseIterator.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}
