package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All loaders are plain parquet scans, so Catalyst pushes filters and
  * projections down to the scan (visible as `PushedFilters` / `ReadSchema`
  * in `.explain("formatted")`). On a real cluster the same code points at a
  * partitioned table root instead of a single file; nothing else changes.
  */
object Tables {
  /** One resolved relation per (session, dir, table) — r20.
    *
    * `spark.read.parquet(path)` resolves EAGERLY: it lists the path and
    * reads a footer for schema inference on every call, driver-side.
    * This suite plans ~200 queries × several tables × several passes per
    * session, so the repeated listings were a measurable slice of the
    * per-query floor (guide §6: file listing is driver-side, single
    * process — at S3 latencies it's ~100 ms per table per query). The
    * memo holds the LAZY resolved plan only: every action still computes
    * from the parquet files (nothing materialized, nothing persisted),
    * exactly like a production app that defines its table DataFrames
    * once at startup. Testdata dirs are immutable inputs, so there is no
    * invalidation to miss: a [[graft.SessionCache]] store. */
  private val memo = graft.SessionCache.store[(String, String), DataFrame]

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, (dir, name))(spark.read.parquet(s"$dir/$name.parquet"))

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** The log-event stream (the stand-in for the reference's New Relic `Log`
    * table, cf. /root/reference/src/ingestion/new_relic_fetcher.py:70-79).
    *
    * The generator has shipped `ts` under three physical types across
    * rounds, so the loader adapts to what the file actually carries:
    *   - TIMESTAMP(NANOS): Spark's reader rejects it outright
    *     ([PARQUET_TYPE_ILLEGAL]); `nanosAsLong` reads it as a long and we
    *     truncate to µs ourselves — integer division, not a double divide,
    *     so no mantissa loss on ~1.7e18 nano values. DuckDB truncates
    *     ns→µs the same way natively, so oracle comparisons stay aligned.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark TIMESTAMP_NTZ:
    *     cast to session-local TIMESTAMP. The session timezone is pinned
    *     to UTC everywhere here, so the instant equals DuckDB's naive
    *     reading of the same value.
    *   - TIMESTAMP(MICROS, adjusted) → already the TIMESTAMP we want.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => raw
      // fail HERE, not three operators downstream: a VARCHAR or epoch-int
      // ts (e.g. a probe replica round-tripped through another engine) is
      // a malformed input, and the far-off errors it would otherwise
      // cause (unix_micros on string) don't name the real culprit
      case other => sys.error(
        s"events.ts has unsupported physical type $other — expected " +
          "TIMESTAMP(NANOS) (read as long), TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
}
