package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload in one fresh JVM.
  *
  *   Main <workload> <inputDir> <runDir> <rounds> <trace 0|1> <nproc>
  *   Main oracle <outFile> <key>...
  *
  * The workload reads the inputs `gen.py` wrote, runs a fixed amount
  * of work, checks what it can against the expected values written
  * beside the inputs, and writes `<runDir>/result.json`. `run.py`
  * turns that into the benchmark's output line.
  */
object Main {

  def main(args: Array[String]): Unit = args(0) match {
    case "oracle" =>
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(args(1)),
        Json.obj(args.drop(2).toSeq.map(k => k -> Json.str(sql(k)))))
    case workload =>
      val Array(_, inputDir, runDir, rounds, trace, nproc) = args
      val t0 = System.nanoTime()
      val spark = session(runDir, nproc.toInt)
      val ctx = new Ctx(spark, inputDir, runDir, rounds.toInt,
        trace == "1", nproc.toInt, (System.nanoTime() - t0) / 1e9)
      try workload match {
        case "kv_point" => KvPoint.run(ctx)
        case "bulk_etl" => BulkEtl.run(ctx)
        case "llm_pipeline" => LlmPipeline.run(ctx)
      } finally {
        ctx.writeResult(s"$runDir/result.json")
        spark.stop()
      }
  }

  /** The pinned session: every thread of the box, one shuffle
    * partition per thread, and the codegen cache `graft.Bench` uses
    * (it only takes effect in a fresh JVM, which each run is).
    */
  def session(runDir: String, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Per-run state shared by the workloads: the session, the tracer, the
  * op counters, and the metrics and check failures to report.
  */
final class Ctx(val spark: SparkSession, val inputDir: String,
    val runDir: String, val rounds: Int, trace: Boolean, val nproc: Int,
    val sessionStartS: Double) {
  val tracer = new Tracer(trace, spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  /** Shards folded by the compactions since set-up ended. */
  var shardsCompacted = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics common to every workload (untraced runs). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own per-kind figures, printed for reading only. */
  val detail = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics (traced runs). */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def traced: Boolean = tracer.enabled

  def check(ok: Boolean, what: => String): Unit =
    if (!ok && mismatches.size < 20) mismatches += what
    else if (!ok) mismatches(19) = s"... and more; last: $what"

  /** Live heap at the end of the timed region: full collections until
    * two readings agree within 1 MB, since Spark's context cleaner
    * frees shuffle and broadcast blocks only after a collection has
    * found them unreachable.
    */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def reading(): Double = {
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = reading()
    var cur = reading()
    var n = 2
    while (math.abs(cur - prev) > 1.0 && n < 10) { prev = cur; cur = reading(); n += 1 }
    cur
  }

  /** Ends set-up: the op counters and the tracer's figures start over. */
  def startTimed(): Unit = {
    attempted = 0
    failed = 0
    shardsCompacted = 0
    tracer.startTimed()
  }

  /** The metrics every workload reports. `setupS` holds the seconds of
    * each repetition of the workload's set-up (session start left out:
    * it runs no graft code, and is printed on its own); `ops` counts the
    * timed operations; `kindMs` holds each operation kind's latencies,
    * so that every kind weighs the same in `kind_p50_ms`; `passS` holds
    * each pass's wall time.
    */
  def reportCommon(setupS: Seq[Double], ops: Int,
      kindMs: Seq[(String, Seq[Double])], passS: Seq[Double]): Unit = {
    val medians = kindMs.map { case (k, v) => k -> Stats.median(v) }
    e2e("setup_s") = Stats.median(setupS)
    e2e("ops_per_s") = ops / (passS.sum max 1e-9)
    e2e("kind_p50_ms") = math.exp(medians.map(m => math.log(m._2)).sum / medians.size)
    e2e("heap_live_mb") = heapLiveMb()
    detail("setup_session_s") = sessionStartS
    setupS.zipWithIndex.foreach { case (v, i) => detail(s"setup_${i + 1}_s") = v }
    medians.foreach { case (k, m) => detail(s"${k}_p50_ms") = m }
    detail("ops") = ops
    detail("passes") = passS.size
    detail("pass_s") = Stats.median(passS)
  }

  def writeResult(path: String): Unit = {
    if (traced) {
      tracer.writeSpans(s"$runDir/spans.jsonl")
      layer ++= tracer.layerSelfMs()
      layer ++= tracer.sparkTotals()
    }
    def nums(m: mutable.LinkedHashMap[String, Double]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    Files.writeString(Paths.get(path), Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "mismatches" -> mismatches.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> nums(e2e),
      "detail" -> nums(detail),
      "layer" -> nums(layer))))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
