package perfbench

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, count, expr, lit, struct, xxhash64}

import graft.SparkEntry

/** llm_pipeline: oracle-checked `graft.queries` keys from the dedup,
  * text-analysis and similarity families over the fixed corpus, read
  * from parquet. The connector is never touched.
  *
  * Set-up runs every key once, in name order, and keeps its rows: as
  * parquet, which `run.py` compares with DuckDB running the key's
  * oracle SQL, and as the result hash every timed pass must reproduce.
  * A pass runs each key once, in the order `passes.tsv` gives for it;
  * each entry there is `family:key`. An operation kind is a family:
  * its latency is the family's share of one pass.
  */
object LlmPipeline {

  /** The timed action: every output column hashed and folded, so every
    * projected expression is evaluated (as `graft.Bench` does).
    * Returns (hash, rows) and the DataFrame that ran.
    */
  def materialize(df: DataFrame): ((Long, Long), DataFrame) = {
    val hashed = try {
      val h = df.select(xxhash64(struct(df.columns.toSeq.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)"), count(lit(1)))
      h.queryExecution.analyzed
      h
    } catch {
      case _: AnalysisException => df.agg(lit(0L), count(lit(1)))
    }
    val r = hashed.collect().head
    ((if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1)), hashed)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = ctx.inputDir
    val passes = {
      val src = Source.fromFile(s"${ctx.runDir}/passes.tsv", "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.split("\t").toSeq.map { e =>
        val i = e.indexOf(':')
        (e.substring(i + 1), e.substring(0, i))
      }).toVector
      finally src.close()
    }
    val familyOf = passes.flatten.toMap
    val queries = SparkEntry.queries

    val t0 = System.nanoTime()
    val hashes = mutable.HashMap.empty[String, (Long, Long)]
    familyOf.keys.toSeq.sorted.foreach { k =>
      val df = queries(k)(spark, corpus)
      val rows = spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
      rows.coalesce(1).write.mode("overwrite").parquet(s"${ctx.runDir}/out/$k")
      hashes(k) = materialize(rows)._1
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    ctx.startTimed()

    var ops = 0
    val passS = mutable.ArrayBuffer.empty[Double]
    val keyS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val familyS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val planMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val codegen0 = KvPoint.codegenNs()
    passes.map(_.map(_._1)).foreach { order =>
      val perFamily = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      val p0 = System.nanoTime()
      order.foreach { k =>
        ctx.tracer.newOp()
        ctx.attempted += 1
        val t = System.nanoTime()
        val (h, ran) = ctx.tracer.span(s"op.$k")(
          ctx.tracer.span(s"queries.$k")(materialize(queries(k)(spark, corpus))))
        val ms = Stats.ms(t)
        ops += 1
        perFamily(familyOf(k)) += ms
        keyS.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ms / 1000
        if (ctx.traced) planMs.getOrElseUpdate(familyOf(k), mutable.ArrayBuffer.empty) +=
          ran.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
        ctx.check(h == hashes(k), s"$k: pass hash $h != set-up hash ${hashes(k)}")
      }
      passS += (System.nanoTime() - p0) / 1e9
      perFamily.foreach { case (f, s) =>
        familyS.getOrElseUpdate(f, mutable.ArrayBuffer.empty) += s }
    }

    ctx.reportCommon(Seq(setupS), ops, familyS.toSeq.map { case (f, v) => f -> v.toSeq },
      passS.toSeq)
    if (ctx.traced) {
      keyS.foreach { case (k, v) => ctx.layer(s"queries.${k}_s") = Stats.median(v.toSeq) }
      planMs.foreach { case (f, v) =>
        ctx.layer(s"queries.${f}_plan_ms") = Stats.median(v.toSeq) }
      ctx.layer("queries.codegen_compile_ms") =
        (KvPoint.codegenNs() - codegen0) / 1e6 / ops
    }
  }
}
