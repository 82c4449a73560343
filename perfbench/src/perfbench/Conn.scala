package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.sources.dynamo.{DynamoMaintenance, LocalKVStore}

/** The benchmark's calls into the connector, with their spans. */
object Conn extends AdaptiveSparkPlanHelper {

  def read(spark: SparkSession, root: String, table: String): DataFrame =
    spark.read.format("dynamo").option("path", root)
      .option("tableName", table).load()

  def write(ctx: Ctx, df: DataFrame, root: String, table: String, hashKey: String,
      rangeKey: Option[String], extra: Map[String, String] = Map.empty): Unit = {
    var w = df.write.format("dynamo").option("path", root)
      .option("tableName", table).option("hashKey", hashKey)
    rangeKey.foreach(r => w = w.option("rangeKey", r))
    extra.foreach { case (k, v) => w = w.option(k, v) }
    ctx.tracer.span("connector.write")(w.mode("append").save())
  }

  /** Items scanned and filtered by the connector's scans in `plan`. */
  def scanCounts(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) {
      case p if p.metrics.contains("itemsScanned") => p
    }
    (scans.map(_.metrics("itemsScanned").value).sum,
      scans.flatMap(_.metrics.get("itemsFiltered")).map(_.value).sum)
  }

  /** Builds and runs a read. Traced, building it (the connector's table
    * resolution and Spark's analysis), planning it and executing it are
    * separate spans, and the scan's item counters are read off the
    * executed plan. Returns the rows and the (scanned, filtered) item
    * counts, (0, 0) untraced.
    */
  def collect(ctx: Ctx, kind: String)(build: => DataFrame): (Array[Row], (Long, Long)) =
    if (!ctx.traced) (build.collect(), (0L, 0L))
    else {
      val df = ctx.tracer.span(s"connector.${kind}_load") {
        val d = build
        d.queryExecution.analyzed
        d
      }
      val plan = ctx.tracer.span(s"connector.${kind}_plan")(
        df.queryExecution.executedPlan)
      val rows = ctx.tracer.span(s"connector.${kind}_exec")(df.collect())
      (rows, scanCounts(plan))
    }

  /** Compacts `table`, counting the shards folded for the per-shard figure. */
  def compact(ctx: Ctx, root: String, table: String): Unit = {
    ctx.shardsCompacted += new LocalKVStore(root).describe(table).shards
    ctx.tracer.span("maintenance.compact")(
      DynamoMaintenance.compact(ctx.spark, root, table))
  }

  /** Journal files and bytes of `table` right now. */
  def journal(root: String, table: String): (Int, Long) = {
    val st = Files.list(Paths.get(root, table))
    try {
      val wal = st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("wal-")).toSeq
      (wal.size, wal.map(Files.size(_)).sum)
    } finally st.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally st.close()
  }

  /** Per-layer figures of the timed compactions. */
  def compactionLayer(ctx: Ctx): Seq[(String, Double)] = {
    val spans = ctx.tracer.named("maintenance.compact")
    val t = ctx.tracer.tasksUnder(spans)
    Seq(
      "maintenance.compact_tasks" -> t.tasks / math.max(spans.size, 1).toDouble,
      "maintenance.compact_task_p50_ms" -> Stats.median(t.durationsMs.toSeq),
      "maintenance.compact_ms" -> Stats.median(ctx.tracer.durationsMs("maintenance.compact")),
      // each task folds its shards one after another
      "store.compact_shard_ms" -> t.runMs / math.max(ctx.shardsCompacted, 1).toDouble)
  }
}

/** Canonical text of the rows the connector returns, as `gen.py` writes
  * the expected replies: money as integer cents, timestamps as epoch
  * micros, fields joined by `|`.
  */
object Canon {
  def cents(v: Any): Long = v match {
    case d: Double => math.round(d * 100)
    case l: Long => l * 100
    case b: java.math.BigDecimal => b.movePointRight(2).longValueExact()
    case other => sys.error(s"not a number: $other")
  }

  private def f(r: Row, c: String): Any = r.get(r.fieldIndex(c))

  def customer(r: Row): String =
    Seq(f(r, "c_custkey"), f(r, "c_name"), f(r, "c_nationkey"),
      cents(f(r, "c_acctbal")), f(r, "c_mktsegment")).mkString("|")

  def order(r: Row): String =
    Seq(f(r, "o_orderkey"), f(r, "o_custkey"), f(r, "o_orderstatus"),
      cents(f(r, "o_totalprice")), f(r, "o_orderdate"),
      f(r, "o_orderpriority"), f(r, "o_comment")).mkString("|")

  def orders(rows: Array[Row]): String =
    rows.sortBy(r => r.getLong(r.fieldIndex("o_orderkey"))).map(order).mkString(";")
}
