package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md /
  * FIXTURES.md). All queries read through here so the events
  * nanosecond-timestamp shim lives in exactly one place.
  *
  * Scale note (100 TB stance): these are plain `spark.read.parquet`
  * scans — Spark's vectorized Parquet reader handles splits via
  * `spark.sql.files.maxPartitionBytes`, so at cluster scale each table
  * becomes N input splits with filter/column pushdown intact. Nothing
  * here collects to the driver.
  */
object Fixtures {

  /** Generic table loader. Filter/column pushdown reaches the Parquet
    * scan because we return the raw relation (no caching of DATA, no
    * coalesce — every execution still scans parquet).
    *
    * The RELATION (file listing + footer schema inference) is memoized
    * per (session, dir, table) — round 18: `spark.read.parquet` builds
    * a fresh InMemoryFileIndex and re-reads the footer on every call,
    * and the bench/verify mains call this ~10³ times per run, all
    * driver-side, serial, off any executor. Reusing the resolved
    * relation is exactly what a catalog table (or the guide's
    * filesource file-index cache) does in production; per-query filter
    * and column pushdown are unaffected because each query still plans
    * its own operators over the shared leaf. Keyed by the session
    * OBJECT so a relation never leaks across sessions (specs
    * start/stop many; a handful of cached leaf plans per session is
    * bounded and tiny).
    *
    * A cached DataFrame references its own session, so no session
    * held here is ever unreachable: every access drops the entries of
    * sessions whose context has stopped instead. All access is
    * synchronized on the map (driver-side, ~10³ calls per run —
    * contention-free).
    */
  private val relCache = new java.util.IdentityHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = relCache.synchronized {
      relCache.keySet.removeIf(_.sparkContext.isStopped)
      relCache.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame])
    }
    perSession.computeIfAbsent((sfDir, name),
      _ => spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  /** The sessions [[table]] holds relations for (specs). */
  private[graft] def cachedSessions: Seq[SparkSession] =
    relCache.synchronized(relCache.keySet.asScala.toList)

  /** `events.parquet` has shipped `ts` in two physical shapes across
    * driver testdata generations: Parquet INT64 TIMESTAMP(NANOS)
    * (which Spark 4 rejects unless `nanosAsLong` is set, then reads as
    * epoch-nanos LongType) and plain TIMESTAMP(MICROS) (which reads as
    * a timestamp directly, NTZ when not UTC-adjusted). Normalize both
    * to session-zone TimestampType here so every query sees one shape:
    * - LongType nanos → `timestamp_micros(ts div 1000)` (exact integer
    *   division; `/` would round-trip through Double and lose precision
    *   at 1e18 magnitudes);
    * - TIMESTAMP_NTZ / TIMESTAMP → cast to "timestamp" (sessions pin
    *   UTC, so the wall-clock reinterpretation is value-identical).
    * DuckDB reads either shape natively and truncates to microseconds —
    * identical values either way.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
