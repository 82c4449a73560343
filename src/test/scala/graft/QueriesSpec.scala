package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      // mirror Verify/Bench: uniformly on, so q_dyn_spj / q_dyn_spj_pruned
      // can't flip a shared-session conf mid-suite and make other plans
      // order-dependent
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Smoke + hand-computed checks for every SparkEntry query at sf0.001.
  * The primary correctness gate is the driver's DuckDB oracle
  * (SURVEY.md §5.2); these specs catch regressions cheaply in-repo.
  */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SURVEY §2B key inventory matches SparkEntry.queries exactly") {
    // the driver's coverage check walks SURVEY's rows 1:1 against the
    // queries map — catch drift here, not in the next verdict
    val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val survey = try src.getLines()
      .flatMap(l => "^\\| `(q_[a-z0-9_]+)`".r.findFirstMatchIn(l).map(_.group(1)))
      .toSet
    finally src.close()
    val qs = SparkEntry.queries.keySet
    assert((survey -- qs).isEmpty, s"SURVEY rows without a query: ${survey -- qs}")
    assert((qs -- survey).isEmpty, s"queries without a SURVEY row: ${qs -- survey}")
  }

  test("every declared query runs and every oracle key exists") {
    val qs = SparkEntry.queries
    val missing = SparkEntry.oracleSql.keySet -- qs.keySet
    assert(missing.isEmpty, s"oracleSql keys without a query: $missing")
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.count() // must execute without throwing
    }
  }

  test("q_agg_sketch_union: two-level sketch rollup within 5% of exact") {
    val approx = SparkEntry.queries("q_agg_sketch_union")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = SparkEntry.queries("q_agg_count_distinct")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1L, (n * 0.05).toLong),
        s"$k: sketch-union ${approx(k)} vs exact $n")
    }
  }

  test("q_agg_approx_distinct: HLL estimate within 5% of exact") {
    val approx = SparkEntry.queries("q_agg_approx_distinct")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = SparkEntry.queries("q_agg_count_distinct")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1L, (n * 0.05).toLong),
        s"$k: approx ${approx(k)} vs exact $n")
    }
  }

  test("q_agg_approx_percentile: GK sketch within 1% of exact percentiles") {
    def asMap(key: String) = SparkEntry.queries(key)(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val approx = asMap("q_agg_approx_percentile")
    val exact = asMap("q_agg_percentile")
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, es) =>
      es.zip(approx(k)).zipWithIndex.foreach { case ((e, a), i) =>
        assert(math.abs(a - e) <= math.abs(e) * 0.01,
          s"$k p[$i]: approx $a vs exact $e")
      }
    }
  }

  test("q_agg_group: six flag/status groups, totals add up") {
    val rows = SparkEntry.queries("q_agg_group")(spark, sf).collect()
    assert(rows.length == 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val liCount = Fixtures.lineitem(spark, sf).count()
    assert(total == liCount)
  }

  test("semantic-LSH band width: integer arithmetic, exact at power-of-two ratios") {
    // r = clamp(0..8, ceil(log2(ceil(n/(k*200))))) in pure integers —
    // mirrors the oracle's CASE ladder; a floating log2 could flip
    // ceil() by one ULP at EXACT power-of-two ratios (the boundary
    // cases pinned here, where n = k*200*2^m must give exactly m)
    assert(queries.Dedup.bandBits(1, 1) == 0)
    assert(queries.Dedup.bandBits(200, 1) == 0)
    assert(queries.Dedup.bandBits(201, 1) == 1)
    for (k <- Seq(1L, 5L, 16L); m <- 0 to 8)
      assert(queries.Dedup.bandBits(k * 200 * (1L << m), k) == m,
        s"k=$k m=$m")
    // the 0..8 clamp holds arbitrarily far up
    assert(queries.Dedup.bandBits(200L * 511, 1) == 8)
    assert(queries.Dedup.bandBits(Long.MaxValue / 2, 1) == 8)
    // one past a power of two steps up
    for (k <- Seq(1L, 5L); m <- 1 to 7)
      assert(queries.Dedup.bandBits(k * 200 * (1L << m) + 1, k) == m + 1,
        s"k=$k m=$m +1")
    // degenerate corpora: n=0 (empty embeddings table) and k=0 (all
    // labels NULL — countDistinct skips NULLs) give one band, not /0
    assert(queries.Dedup.bandBits(0, 1) == 0)
    assert(queries.Dedup.bandBits(0, 0) == 0)
    assert(queries.Dedup.bandBits(1000, 0) == 0)
  }
}
