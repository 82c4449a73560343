package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.SupportsReportPartitioning
import org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import graft.sources.dynamo.{DynamoGroupAnswerPartition, DynamoLocalScan, DynamoZoneAnswerPartition}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional args
  * past (sfDir, outDir) restrict the dump to those query names (a name
  * ending in `*` selects every key with that prefix) — dev-loop
  * convenience; the driver always runs the full set. With
  * SPARK_GRAFT_LAYOUT_OUT set, each dumped key also appends
  * `<name>\t<n>\t<l>\t<a>` to that file, n = its connector scans that
  * report a key-grouped (bucket) layout at this session width, l = its
  * connector point reads served on the driver (`LocalTableScanExec`),
  * a = its connector scans that plan a statistics-answer partition. */
object Verify extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val Array(sfDir, outDir) = args.take(2)
    val subset = args.drop(2).toSeq
    def wanted(name: String) = subset.exists(s =>
      if (s.endsWith("*")) name.startsWith(s.dropRight(1)) else name == s)
    val layoutOut = sys.env.get("SPARK_GRAFT_LAYOUT_OUT").map(Paths.get(_))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // uniform for the whole run: q_dyn_spj / q_dyn_spj_pruned need
      // them, and setting them per-query would make other queries'
      // plans order-dependent
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (subset.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(wanted).toMap
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        layoutOut.foreach(p => Files.writeString(p,
          s"$name\t${keyGroupedScans(df)}\t${locallyServedScans(df)}\t${answeredScans(df)}\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  private def keyGroupedScans(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case b: BatchScanExec => b.scan }
      .count {
        case s: SupportsReportPartitioning =>
          s.outputPartitioning().isInstanceOf[KeyGroupedPartitioning]
        case _ => false
      }

  /** Scans whose planned partitions include a statistics answer
    * (zone maps or page statistics, zero items read).
    */
  private def answeredScans(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
      .count(_.inputPartitions.exists {
        case _: DynamoZoneAnswerPartition | _: DynamoGroupAnswerPartition => true
        case _ => false
      })

  /** The physical `LocalTableScanExec` does not name its source, so
    * the driver-served connector reads are counted on the optimized
    * plan, where the scan relation still holds the connector's scan.
    */
  private def locallyServedScans(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[DynamoLocalScan] => r
    }.size
}
