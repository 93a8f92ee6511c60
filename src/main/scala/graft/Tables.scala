package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Canonical loaders for the driver-generated test tables
 * (`/root/testdata/sf*`; see TESTDATA.md).
 *
 * Design notes for scale: these are plain parquet scans — filters and
 * column pruning push down through them (verify with
 * `.explain("formatted")`: `PushedFilters`, `ReadSchema`). Nothing here
 * collects to the driver or caches eagerly; at 100 TB the same loaders
 * work, with partition discovery handled by the file index.
 */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session config every entry point should use. Matches the oracle:
   * UTC session time zone, nanos parquet readable, AQE on. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")

  /**
   * Load one table. `events.ts` is stored as parquet TIMESTAMP(NANOS)
   * which Spark reads as a nanosecond Long (legacy.parquet.nanosAsLong);
   * we normalize it to TIMESTAMP_NTZ at microsecond precision — the same
   * truncation DuckDB applies — so event-time semantics and the oracle
   * agree. All other naive parquet timestamps load as TIMESTAMP_NTZ.
   */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** The `events.ts` normalization of [[load]], for any events frame
   * (batch or streaming); a no-op once `ts` is a timestamp. */
  def normalizeEventsTs(events: DataFrame): DataFrame =
    if (events.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      events.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
    else events

  /** Register all tables of a scale-factor dir as temp views. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
