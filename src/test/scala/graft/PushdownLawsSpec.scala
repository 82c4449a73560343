package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.dynamo.Implicits._

/** Pushdown ≡ post-filter equivalence on random predicates (SURVEY.md
  * §5.2 #3): for arbitrary filter trees — including `NOT` over nullable
  * attributes, where SQL three-valued logic and naive boolean
  * evaluation diverge — reading through the connector with
  * `filterPushdown=true` must return exactly the rows Spark computes
  * itself with `filterPushdown=false`. Spark does NOT re-evaluate
  * filters a source accepts, so any store-side semantic drift is a
  * silent wrong-answer bug, which is why this is property-tested
  * rather than spot-tested.
  */
class PushdownLawsSpec extends AnyFunSuite {
  import TestSpark._

  /** Deterministic sample sweep (same pattern as CodecLawsSpec). */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap { i =>
      g.apply(Gen.Parameters.default.withSize(1 + i % 20), Seed(i.toLong))
    }

  // ---- one shared random-ish table with plenty of nulls ----

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-pushdown-laws").toString
    import spark.implicits._
    val strs = Seq("alpha", "beta", "gamma", "alphabet", "x")
    val rows = (0L until 120L).map { i =>
      (i,
       if (i % 7 == 3) null else strs((i % strs.size).toInt),
       if (i % 5 == 4) None else Some(i % 11),
       if (i % 6 == 5) None else Some(i.toDouble / 3.0),
       if (i % 4 == 2) None else Some(i % 3 == 0))
    }
    rows.toDF("id", "s", "n", "d", "flag")
      .write.dynamo(r, "laws", "id")
    r
  }

  private def read(pushdown: Boolean): DataFrame =
    spark.read.format("dynamo")
      .option("path", root).option("tableName", "laws")
      .option("filterPushdown", pushdown.toString)
      .load()

  // ---- random predicate trees over the table's columns ----

  private val genLeaf: Gen[Column] = Gen.oneOf(
    Gen.oneOf("alpha", "beta", "zeta").map(v => col("s") === v),
    Gen.oneOf("al", "be", "q").map(v => col("s").startsWith(v)),
    Gen.oneOf("pha", "et", "zz").map(v => col("s").contains(v)),
    Gen.oneOf("a", "t", "k").map(v => col("s").endsWith(v)),
    Gen.const(col("s").isNull),
    Gen.const(col("s").isNotNull),
    Gen.choose(0L, 11L).map(v => col("n") > v),
    Gen.choose(0L, 11L).map(v => col("n") <= v),
    Gen.choose(0L, 11L).map(v => col("n") === v),
    Gen.pick(3, 0L to 11L).map(vs => col("n").isin(vs.toSeq: _*)),
    Gen.choose(0.0, 40.0).map(v => col("d") >= v),
    Gen.choose(0.0, 40.0).map(v => col("d") < v),
    Gen.oneOf(true, false).map(v => col("flag") === v),
    Gen.const(col("flag").isNull),
    // v2-only shapes (SupportsPushDownV2Filters): column-vs-column and
    // arithmetic comparisons — the adv tier must obey the same
    // three-valued law as the v1 family
    Gen.const(col("n") > col("d")),
    Gen.const(col("n") <= col("d")),
    Gen.choose(0L, 22L).map(v => col("n") * 2 > v),
    Gen.choose(-5L, 15L).map(v => col("n") - 3 <= v),
    Gen.choose(0.0, 30.0).map(v => col("d") * 2.0 < v),
    Gen.const(-col("n") < col("d")))

  private def genPred(depth: Int): Gen[Column] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      3 -> genLeaf,
      2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => a && b },
      2 -> Gen.zip(genPred(depth - 1), genPred(depth - 1)).map { case (a, b) => a || b },
      2 -> genPred(depth - 1).map(c => !c))

  test("connector pushdown result equals pushdown-disabled result for random predicates") {
    val preds = samples(genPred(2), 40)
    assert(preds.size >= 30)
    val baseline = read(pushdown = false)
    val pushed = read(pushdown = true)
    preds.foreach { p =>
      val expect = baseline.filter(p).select("id").collect().map(_.getLong(0)).sorted.toSeq
      val got = pushed.filter(p).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expect, s"predicate $p: pushdown=$got expected=$expect")
    }
  }

  test("point lookups prune shards without losing rows for hostile key values") {
    // Shard pruning recomputes the key hash from the FILTER literal; if
    // its canonicalization ever differs from the write path's (5.0 vs 5,
    // -0.0, repeating fractions), the lookup scans the wrong shard and
    // silently returns nothing — hence a sweep over hostile doubles.
    import spark.implicits._
    val r = Files.createTempDirectory("graft-keyprune-laws").toString
    val keys: Seq[Double] = (Seq(0.0, -0.0, 5.0, -5.0, 0.15, -123456.789,
      1e15, 1.0 / 3.0, 2.5e-7) ++ (1 to 40).map(_ * 1.25)).distinct
    keys.zipWithIndex.map { case (k, i) => (k, s"row$i") }
      .toDF("k", "v").write.dynamo(r, "pts", "k")
    val df = spark.read.format("dynamo")
      .option("path", r).option("tableName", "pts")
      .option("readPartitions", "16")
      .load()
    keys.foreach { k =>
      val hits = df.filter(col("k") === k).collect()
      assert(hits.length === 1, s"point lookup lost key $k")
    }
    // In() over a key subset also prunes and stays complete
    val some = keys.take(7)
    val got = df.filter(col("k").isin(some: _*)).collect()
    assert(got.length === some.length)
  }

  test("grouped pushdown equals driver-side aggregation for random filters and groupings") {
    // The grouped-aggregate pushdown (complete for hk — the partition
    // key — partial for the rest) must agree with a plain row read
    // aggregated on the driver, under arbitrary pushed/unpushed filter
    // trees and null-holding group keys. Spark trusts complete results
    // verbatim, so drift here is a silent wrong answer — property over
    // spot checks.
    import spark.implicits._
    val r = Files.createTempDirectory("graft-gagg-laws").toString
    val strs = Seq("alpha", "beta", "gamma", null, "x")
    (0L until 140L).map { i =>
      (i % 7, i,
       strs((i % strs.size).toInt),
       if (i % 5 == 4) None else Some(i % 11),
       if (i % 6 == 5) None else Some(i.toDouble / 3.0),
       if (i % 4 == 2) None else Some(i % 3 == 0))
    }.toDF("hk", "id", "s", "n", "d", "flag")
      .write.format("dynamo").option("path", r).option("tableName", "glaws")
      .option("hashKey", "hk").option("rangeKey", "id")
      .mode("append").save()
    val d = spark.read.format("dynamo")
      .option("path", r).option("tableName", "glaws").load()

    val preds = samples(genPred(1), 10)
    for (p <- preds; g <- Seq("hk", "s", "flag")) {
      val base = d.filter(p).select(col(g), col("n"), col("s")).collect()
      val expect = base.groupBy(row => row.get(0)).map { case (k, rs) =>
        val ns = rs.collect { case row if !row.isNullAt(1) => row.getLong(1) }
        val ss = rs.collect { case row if !row.isNullAt(2) => row.getString(2) }
        (k,
         rs.length.toLong,
         if (ns.isEmpty) null else ns.sum,
         if (ns.isEmpty) null else ns.min,
         if (ss.isEmpty) null else ss.max)
      }.toSet
      val got = d.filter(p).groupBy(col(g))
        .agg(count(lit(1)).as("c"), sum("n").as("sn"),
             min("n").as("mn"), max("s").as("mx"))
        .collect().map(row => (row.get(0), row.getLong(1),
          row.get(2), row.get(3), row.get(4))).toSet
      assert(got === expect, s"grouping $g under predicate $p")
    }
  }

  test("top-N pushdown equals Spark's own sort for random sort specs") {
    // The pushed per-segment heap uses its own comparator; this law
    // pins it to Spark's sort semantics (null placement, NaN, string
    // binary order) over random key lists and directions. `id` rides
    // as the final tiebreak so ties at the limit boundary are
    // deterministic on both sides.
    val genKey: Gen[Column] = for {
      name <- Gen.oneOf("s", "n", "d", "flag")
      dir <- Gen.oneOf(0, 1, 2, 3)
    } yield dir match {
      case 0 => col(name).asc_nulls_first
      case 1 => col(name).asc_nulls_last
      case 2 => col(name).desc_nulls_first
      case _ => col(name).desc_nulls_last
    }
    val genSpec: Gen[(List[Column], Int)] = for {
      ks <- Gen.listOfN(2, genKey)
      n <- Gen.choose(1, 30)
    } yield (ks, n)

    val full = read(pushdown = true)
    // ground truth: same rows via a connector-free DataFrame
    val local = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(full.collect(): _*)),
      full.schema)
    samples(genSpec, 25).foreach { case (ks, n) =>
      val order = ks :+ col("id").asc
      val got = full.orderBy(order: _*).limit(n)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got.length === math.min(n, 120),
        s"top-N returned ${got.length} rows for n=$n")
      val expect = local.orderBy(order: _*).limit(n)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got === expect, s"sort ${order.mkString(", ")} limit $n")
    }
  }

  test("pushed join equals Spark's own join under random predicate trees") {
    import spark.implicits._
    val r = Files.createTempDirectory("graft-joinlaw").toString
    val strs = Seq("alpha", "beta", "gamma", "alphabet", "x")
    (0L until 80L).map { i =>
      (i, if (i % 7 == 3) null else strs((i % strs.size).toInt),
        if (i % 5 == 4) None else Some(i % 11),
        if (i % 6 == 5) None else Some(i.toDouble / 3.0),
        if (i % 4 == 2) None else Some(i % 3 == 0))
    }.toDF("id", "s", "n", "d", "flag").write.dynamo(r, "jlaw_l", "id")
    (0L until 30L).map(i => (i % 11, s"g${i % 4}", i))
      .toDF("n2", "grp", "rid").write.dynamo(r, "jlaw_r", "rid")

    def joined() = {
      val l = spark.read.dynamo(r, "jlaw_l")
      val rt = spark.read.dynamo(r, "jlaw_r")
      l.join(rt, l("n") === rt("n2"))
    }
    // predicates span both sides plus v2-only arithmetic shapes
    val preds = samples(genPred(1), 12) ++ Seq(
      col("grp") === "g1", col("rid") > col("n"), col("n2") * 2 <= col("n") + 10)
    val expect = preds.map(p => joined().filter(p)
      .select("id", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq)
    // grouped aggregate OVER the pushed join, same predicate sweep:
    // per-task bounded partials + Spark's final aggregate must equal
    // Spark running the whole join+aggregate itself
    def aggOf(base: org.apache.spark.sql.DataFrame) = base
      .groupBy(col("grp")).agg(count(lit(1)).as("c"), sum(col("n")).as("sn"),
        min(col("d")).as("md"))
      .collect().map(x => (Option(x.getString(0)), x.getLong(1),
        if (x.isNullAt(2)) None else Some(x.getLong(2)),
        if (x.isNullAt(3)) None else Some(x.getDouble(3)))).sortBy(_._1).toSeq
    val expectAgg = preds.map(p => aggOf(joined().filter(p)))
    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    try {
      preds.zip(expect).foreach { case (p, exp) =>
        val df = joined().filter(p).select("id", "rid")
        assert(df.queryExecution.executedPlan.toString.contains("PushedJoin"),
          s"join not pushed under $p")
        val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
        assert(got == exp, s"predicate $p over pushed join")
      }
      preds.zip(expectAgg).foreach { case (p, exp) =>
        assert(aggOf(joined().filter(p)) == exp,
          s"grouped aggregate over pushed join under $p")
      }
    } finally spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
  }

  test("zone-map mayMatch is an upper bound on FilterEval truth (soundness law)") {
    import org.apache.spark.sql.sources._
    import graft.sources.dynamo.{AttrVal, FilterEval, ShardStats, ZoneMap}
    // Items with mixed presence/types per attribute — exactly the
    // schemaless shapes a real shard holds. Strings include the
    // supplementary-plane orderings FilterEval compares in UTF8 order.
    val emoji = new String(Character.toChars(0x1F600))
    val genVal: Gen[Option[AttrVal]] = Gen.frequency(
      3 -> Gen.choose(-50L, 50L).map(v => Some(AttrVal.N(BigDecimal(v)): AttrVal)),
      2 -> Gen.oneOf("a", "alpha", "m0", "zz", "￾", emoji)
        .map(v => Some(AttrVal.S(v): AttrVal)),
      1 -> Gen.oneOf(true, false).map(v => Some(AttrVal.Bool(v): AttrVal)),
      1 -> Gen.const(Some(AttrVal.Null: AttrVal)),
      2 -> Gen.const(None: Option[AttrVal]))
    val genItem: Gen[Map[String, AttrVal]] =
      for { a <- genVal; b <- genVal; c <- genVal } yield
        Seq("a" -> a, "b" -> b, "c" -> c)
          .collect { case (k, Some(v)) => k -> v }.toMap
    val attrs = Gen.oneOf("a", "b", "c")
    val genLeafF: Gen[Filter] = Gen.oneOf(
      Gen.zip(attrs, Gen.choose(-60L, 60L)).map { case (a, v) => EqualTo(a, v) },
      Gen.zip(attrs, Gen.oneOf("a", "m0", "zz", "￾", emoji))
        .map { case (a, v) => EqualTo(a, v): Filter },
      Gen.zip(attrs, Gen.choose(-60L, 60L)).map { case (a, v) => GreaterThan(a, v) },
      Gen.zip(attrs, Gen.oneOf("a", "zz", emoji)).map { case (a, v) => LessThan(a, v): Filter },
      Gen.zip(attrs, Gen.choose(-60L, 60L)).map { case (a, v) => LessThanOrEqual(a, v) },
      Gen.zip(attrs, Gen.pick(2, -60L to 60L)).map { case (a, vs) =>
        In(a, vs.toArray.map(_.asInstanceOf[Any])) },
      Gen.zip(attrs, Gen.oneOf("a", "m", "z", "￾")).map { case (a, p) =>
        StringStartsWith(a, p): Filter },
      attrs.map(IsNull(_): Filter),
      attrs.map(IsNotNull(_): Filter),
      Gen.zip(attrs, Gen.oneOf(true, false)).map { case (a, v) => EqualTo(a, v): Filter })
    def genF(depth: Int): Gen[Filter] =
      if (depth <= 0) genLeafF
      else Gen.frequency(
        3 -> genLeafF,
        2 -> Gen.zip(genF(depth - 1), genF(depth - 1)).map { case (l, r) => And(l, r) },
        2 -> Gen.zip(genF(depth - 1), genF(depth - 1)).map { case (l, r) => Or(l, r) },
        1 -> genF(depth - 1).map(Not(_): Filter))

    val cases = samples(Gen.zip(Gen.listOfN(6, genItem), genF(2)), 400)
    var pruned = 0
    cases.foreach { case (items, f) =>
      val stats = items.foldLeft(ShardStats.empty)(_.widen(_))
      val anyTrue = items.exists(FilterEval.eval(f, _))
      val may = ZoneMap.mayMatch(f, stats)
      // SOUNDNESS: a shard holding a matching item is never prunable
      assert(!anyTrue || may,
        s"unsound prune: $f over $items (stats $stats)")
      if (!may) pruned += 1
    }
    // sanity: the law exercised real prunes, not vacuous truth
    assert(pruned > 20, s"only $pruned prunes across ${cases.size} cases")
  }

  test("outer pushed joins equal Spark's own under random predicate trees") {
    import spark.implicits._
    val r = Files.createTempDirectory("graft-joinlaw2").toString
    val strs = Seq("alpha", "beta", "gamma", "alphabet", "x")
    (0L until 80L).map { i =>
      (i, if (i % 7 == 3) null else strs((i % strs.size).toInt),
        if (i % 5 == 4) None else Some(i % 11),
        if (i % 6 == 5) None else Some(i.toDouble / 3.0),
        if (i % 4 == 2) None else Some(i % 3 == 0))
    }.toDF("id", "s", "n", "d", "flag").write.dynamo(r, "jlaw2_l", "id")
    (0L until 30L).map(i => (i % 11, s"g${i % 4}", i))
      .toDF("n2", "grp", "rid").write.dynamo(r, "jlaw2_r", "rid")

    def joined(t: String) = {
      val l = spark.read.dynamo(r, "jlaw2_l")
      val rt = spark.read.dynamo(r, "jlaw2_r")
      l.join(rt, l("n") === rt("n2"), t)
    }
    def snap(df: org.apache.spark.sql.DataFrame) = df.select("id", "rid")
      .collect().map(x =>
        (if (x.isNullAt(0)) None else Some(x.getLong(0)),
          if (x.isNullAt(1)) None else Some(x.getLong(1)))).sorted.toSeq
    // a filter ABOVE the outer join may let Catalyst collapse it to
    // inner (null-filtering predicate) — both runs see the same
    // rewrite, so the law still compares like with like
    val preds = samples(genPred(1), 8) ++ Seq(
      col("grp") === "g1", col("rid") > col("n"))
    for (t <- Seq("left", "right")) {
      val expPlain = snap(joined(t))
      val exps = preds.map(p => snap(joined(t).filter(p)))
      spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      try {
        val plain = joined(t)
        assert(plain.queryExecution.executedPlan.toString.contains("PushedJoin"),
          s"$t outer join not pushed")
        assert(snap(plain) === expPlain, s"$t outer join, no predicate")
        preds.zip(exps).foreach { case (p, exp) =>
          assert(snap(joined(t).filter(p)) === exp, s"$t outer join under $p")
        }
      } finally spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
    }
  }

  test("pushed string ranges use code-point order on supplementary characters") {
    import spark.implicits._
    val r = Files.createTempDirectory("graft-surrogate").toString
    // U+FFFE sorts BELOW U+1F600 in code-point (UTF8String) order but
    // ABOVE it in java.lang.String UTF-16 code-unit order — the exact
    // divergence a store-side compareTo would smuggle into results.
    Seq((1L, "\uFFFE"), (2L, new String(Character.toChars(0x1F600))), (3L, "zed"))
      .toDF("id", "s").write.dynamo(r, "sup", "id")
    def ids(pushdown: Boolean) = spark.read.format("dynamo")
      .option("path", r).option("tableName", "sup")
      .option("filterPushdown", pushdown.toString).load()
      .filter(col("s") > "\uFFFD").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(pushdown = true) === ids(pushdown = false))
    assert(ids(pushdown = true) === Seq(1L, 2L)) // emoji > U+FFFD, "zed" is not
  }

  test("PushedSample laws: determinism, uniformity, range partition, seed independence") {
    import graft.sources.dynamo.PushedSample
    val keys = (0 until 20000).map(i => s"S|k$i") // canonical-key-ish strings

    // determinism: membership is a pure function of (key, seed, range)
    val s = PushedSample(0.0, 0.3, seed = 7L)
    assert(keys.map(s.keeps) === keys.map(s.keeps))

    // uniformity: each of ten equal ranges holds 10% ± 5σ of the keys
    // (σ = sqrt(n·p·(1-p)) ≈ 42 at n=20000, p=0.1)
    (0 until 10).foreach { b =>
      val r = PushedSample(b / 10.0, (b + 1) / 10.0, seed = 7L)
      val n = keys.count(r.keeps)
      assert(math.abs(n - 2000) < 210, s"bucket $b holds $n of 20000")
    }

    // range partition: [0,c) and [c,1) split the keys EXACTLY — the
    // deterministic train/test-split property (disjoint + exhaustive)
    val lo = PushedSample(0.0, 0.3, seed = 7L)
    val hi = PushedSample(0.3, 1.0, seed = 7L)
    keys.foreach(k => assert(lo.keeps(k) ^ hi.keeps(k), s"key $k not in exactly one split"))

    // different seeds decorrelate: overlap of two 30% samples is near
    // the independent 9% expectation, not near 30%
    val other = PushedSample(0.0, 0.3, seed = 8L)
    val both = keys.count(k => s.keeps(k) && other.keeps(k))
    assert(both > 1200 && both < 2500, s"seed overlap $both of 20000")

    // sequential keys (worst case for a weak hash) stay uniform: the
    // sampled fraction of a contiguous id block is still ~30%
    val block = (10000 until 12000).map(i => s"S|k$i")
    val inBlock = block.count(s.keeps)
    assert(inBlock > 480 && inBlock < 720, s"contiguous block sampled $inBlock of 2000")
  }

  test("zone-answered aggregates equal scanned aggregates on random tables") {
    // The answer path (metadata partition folded from exact sidecars,
    // zero items read) vs the same aggregation with zonePruning=false
    // (normal per-segment pushed-aggregate scan): results must be
    // IDENTICAL on arbitrary data with nulls and negatives, both on a
    // fully-compacted table (single answer partition) and with a
    // dirty journal (partial answer + hot-shard scans).
    import spark.implicits._
    val genRow: Gen[(Option[Long], Option[String], Option[Double])] = for {
      n <- Gen.option(Gen.choose(-1000L, 1000L))
      s <- Gen.option(Gen.oneOf("a", "bb", "ccc", "Zz", "alpha"))
      d <- Gen.option(Gen.choose(-50.0, 50.0))
    } yield (n, s, d)
    (0 until 12).foreach { it =>
      // anchor row with every attr present: schema inference samples
      // stored attrs, and a tiny all-null column would otherwise not
      // exist in the inferred schema at all
      val rows = (-1L, Option(0L), Option("anchor"), Option(0.0)) +:
        samples(genRow, 1 + it * 5).zipWithIndex
          .map { case ((n, s, d), i) => (i.toLong, n, s, d) }
      val root = Files.createTempDirectory("graft-zone-law").toString
      val store = new graft.sources.dynamo.LocalKVStore(root)
      rows.toDF("id", "n", "s", "d").write.dynamo(root, "t", "id")
      store.compact("t")
      def agg(zone: Boolean): Seq[Any] =
        spark.read.format("dynamo")
          .option("path", root).option("tableName", "t")
          .option("zonePruning", zone.toString).load()
          .agg(min("n"), max("n"), min("s"), max("s"), min("d"), max("d"),
               count(lit(1)), count(col("n")), count(col("s")), sum("n"),
               min("id"), max("id"), sum("id"))
          .collect()(0).toSeq
      assert(agg(zone = true) === agg(zone = false), s"iteration $it compacted")
      // dirty the journal: the partial answer must still agree
      Seq((100000L + it, Option(7L), Option("zz"), Option(1.5)))
        .toDF("id", "n", "s", "d").write.dynamo(root, "t", "id")
      assert(agg(zone = true) === agg(zone = false), s"iteration $it dirty")
    }
    rangeKeyAnswerLaw()
  }

  /** The page-statistics answers on a range-key table with a GSI: a
    * hash `=`/`IN` window with sort-key bounds (ungrouped and grouped
    * by the hash key), the filterless `GROUP BY` hash key (string and
    * integral keys), and the exact-GSI window (ungrouped and grouped),
    * each equal to the same read with `zonePruning=false`. Every
    * group's last page holds at least `pageAlignMinItems` rows, so
    * each group's pages are pure: page-aligned bounds must then be
    * answered from statistics on the compacted table (the law must not
    * compare a scan with a scan), and random bounds that cut through a
    * page must decline or still agree.
    */
  private def rangeKeyAnswerLaw(): Unit = {
    import graft.sources.dynamo.{AttrVal, DynamoGroupAnswerPartition,
      DynamoZoneAnswerPartition, IndexMeta, LocalKVStore, TableMeta}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.types._
    val plans = new AdaptiveSparkPlanHelper {}
    def answered(df: DataFrame): Boolean =
      plans.collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b.inputPartitions
      }.flatten.exists {
        case _: DynamoZoneAnswerPartition | _: DynamoGroupAnswerPartition => true
        case _ => false
      }
    (0 until 6).foreach { it =>
      val rnd = new scala.util.Random(4100L + it)
      val intKey = it % 2 == 1
      // last-page sizes 40..249, 44..243 and 48..187: all pure
      def groupSize(): Int =
        Seq(40 + rnd.nextInt(210), 300 + rnd.nextInt(200), 560 + rnd.nextInt(140))(rnd.nextInt(3))
      val sizes = Seq.fill(3 + rnd.nextInt(3))(groupSize())
      val hks: Seq[AttrVal] = sizes.indices.map(i =>
        if (intKey) AttrVal.N(BigDecimal(i * 1000003L - 5)) else AttrVal.S(s"h$i"))
      // GSI groups g0 and g1 get pure-tail sizes too; g2 sorts last in
      // its index shard and takes the rest
      val g0 = groupSize(); val g1 = groupSize()
      val rows = sizes.zip(hks).flatMap { case (n, h) => (0 until n).map(r => (h, r)) }
      val items = rows.zipWithIndex.map { case ((h, r), i) =>
        Map[String, AttrVal]("hk" -> h, "rk" -> AttrVal.N(BigDecimal(r)),
          "g" -> AttrVal.S(if (i < g0) "g0" else if (i < g0 + g1) "g1" else "g2"),
          "v" -> AttrVal.N(BigDecimal(rnd.nextInt(2001) - 1000))) ++
          (if (rnd.nextInt(5) == 0) Nil else Seq("n" -> AttrVal.N(BigDecimal(rnd.nextInt(100)))))
      }
      val root = Files.createTempDirectory("graft-zone-law-rk").toString
      val store = new LocalKVStore(root)
      store.bulkLoad("t", TableMeta("hk", Some("rk"), shards = 1 + rnd.nextInt(3),
        throughput = 1000000L), items.iterator)
      store.createIndex("t", "by_g", IndexMeta("g", Some("rk"), None))
      store.buildIndex("t", "by_g")
      val schema = StructType(Seq(
        StructField("hk", if (intKey) LongType else StringType),
        StructField("rk", LongType),
        // a nullable index hash key gains an inferred IsNotNull
        // conjunct, which no key window admits
        StructField("g", StringType, nullable = false),
        StructField("v", LongType), StructField("n", LongType)))
      def read(zone: Boolean, index: Boolean): DataFrame = {
        val r = spark.read.format("dynamo").schema(schema)
          .option("path", root).option("tableName", "t")
          .option("zonePruning", zone.toString)
        (if (index) r.option("indexName", "by_g") else r).load()
      }
      def lit1(h: AttrVal): Any = h match {
        case AttrVal.N(v) => v.toLong
        case AttrVal.S(s) => s
        case other => other
      }
      val aggCols = Seq(count(lit(1)), count(col("n")), sum("v"), min("v"), max("v"),
        min("n"), max("n"))
      // (name, index read, shape, answered on the compacted table)
      val h = lit1(hks(rnd.nextInt(hks.size)))
      val hIn = hks.filter(_ => rnd.nextBoolean()).map(lit1) :+ lit1(hks.head)
      val (lo, hi) = { val a = rnd.nextInt(700); (a, a + rnd.nextInt(400)) }
      val shapes: Seq[(String, Boolean, DataFrame => DataFrame, Boolean)] = Seq(
        ("hash = whole group", false,
          _.filter(col("hk") === h && col("rk") >= 0).agg(aggCols.head, aggCols.tail: _*), true),
        ("hash = page-aligned bounds", false,
          _.filter(col("hk") === h && col("rk") >= 256 && col("rk") < 512)
            .agg(aggCols.head, aggCols.tail: _*), true),
        ("hash = random bounds", false,
          _.filter(col("hk") === h && col("rk") >= lo && col("rk") <= hi)
            .agg(aggCols.head, aggCols.tail: _*), false),
        ("hash IN page-aligned bounds", false,
          _.filter(col("hk").isin(hIn: _*) && col("rk").between(0, 255))
            .agg(aggCols.head, aggCols.tail: _*), true),
        ("hash IN grouped", false,
          _.filter(col("hk").isin(hIn: _*) && col("rk") < 256)
            .groupBy("hk").agg(aggCols.head, aggCols.tail :+ avg("v"): _*), true),
        ("hash IN grouped random bounds", false,
          _.filter(col("hk").isin(hIn: _*) && col("rk") > lo)
            .groupBy("hk").agg(aggCols.head, aggCols.tail :+ avg("v"): _*), false),
        ("filterless group by hash", false,
          _.groupBy("hk").agg(aggCols.head, aggCols.tail :+ avg("v"): _*), true),
        ("gsi window", true,
          _.filter(col("g") === "g1" && col("rk") >= 0).agg(aggCols.head, aggCols.tail: _*), true),
        ("gsi window random bounds", true,
          _.filter(col("g") === "g0" && col("rk") >= lo).agg(aggCols.head, aggCols.tail: _*), false),
        ("gsi grouped", true,
          _.filter(col("g").isin("g0", "g1"))
            .groupBy("g").agg(aggCols.head, aggCols.tail :+ avg("v"): _*), true))
      def check(state: String, compacted: Boolean): Unit =
        shapes.foreach { case (name, index, shape, mustAnswer) =>
          val got = shape(read(zone = true, index))
          val want = shape(read(zone = false, index))
          def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
          assert(rowsOf(got) === rowsOf(want), s"iteration $it $state: $name")
          if (compacted && mustAnswer)
            assert(answered(got), s"iteration $it $state: $name planned no answer partition")
          assert(!answered(want), s"iteration $it $state: $name answered with zonePruning=false")
        }
      check("compacted", compacted = true)
      // a journal put in one hash group: its shard's windows, the
      // filterless grouped fold and the GSI copy must decline or agree
      store.appendWal("t", System.currentTimeMillis() + 900000L, "wz",
        Seq(store.Put(Map("hk" -> hks.last, "rk" -> AttrVal.N(BigDecimal(3)),
          "g" -> AttrVal.S("g1"), "v" -> AttrVal.N(BigDecimal(77777))))))
      check("dirty", compacted = false)
    }
  }

  test("NOT over a nullable attribute is pushed and still matches SQL semantics") {
    // The canonical three-valued-logic trap: s IS NULL on some rows.
    val p = !(col("s") === "alpha")
    val expect = read(pushdown = false).filter(p).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val got = read(pushdown = true).filter(p).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expect)
    // and the filter really is pushed (not silently rejected):
    val plan = read(pushdown = true).filter(p).queryExecution.executedPlan.toString
    assert(plan.contains("Not(EqualTo(s,alpha))"), plan)
  }

  test("batch readers agree per partition: row count, grouped rows, item metrics") {
    // The row, COUNT(*) and grouped readers draw from one executor
    // item path, so on every planned partition the aggregate readers
    // must see exactly the items the row reader returns, and all three
    // must report the same scanned/filtered counts. Random tables
    // (journal-only, compacted, journal over base) under random pushed
    // filters, TTL, TABLESAMPLE and LSI/GSI reads.
    import graft.sources.dynamo.{AttrVal, DynamoAggReaderFactory,
      DynamoGroupedAggReaderFactory, DynamoInputPartition, DynamoOptions,
      DynamoReaderFactory, DynamoScan, IndexMeta, LocalKVStore, PushedAgg,
      PushedGroupBy, PushedSample, TableMeta}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.read.PartitionReader
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("hk", StringType),
      StructField("rk", LongType), StructField("g", LongType), StructField("v", LongType)))
    val groupings: Seq[(PushedGroupBy, Seq[String])] = Seq(
      (PushedGroupBy(Seq(schema("g")), keyed = false, unique = false, complete = false),
        Seq("g")),
      (PushedGroupBy(Seq(schema("hk")), keyed = true, unique = false, complete = true),
        Seq("hk")),
      (PushedGroupBy(Seq(schema("hk"), schema("rk")), keyed = true, unique = true,
        complete = true), Seq("hk", "rk")))
    val aggs = Seq(PushedAgg.CountAll, PushedAgg.SumOf(schema("v"), LongType))
    def drain(r: PartitionReader[InternalRow]): (Vector[InternalRow], Seq[Long]) = {
      val rows = Vector.newBuilder[InternalRow]
      while (r.next()) rows += r.get().copy()
      val m = r.currentMetricsValues().map(x => x.name() -> x.value()).toMap
      (rows.result(), Seq(m("itemsScanned"), m("itemsFiltered")))
    }
    var totalRows = 0L
    var totalFiltered = 0L
    (0 until 24).foreach { c =>
      val rnd = new scala.util.Random(c)
      val root = Files.createTempDirectory("graft-reader-laws").toString
      val store = new LocalKVStore(root)
      def item(i: Int, salt: Int): Map[String, AttrVal] =
        Map[String, AttrVal]("hk" -> AttrVal.S(f"h${i % 9}%02d"),
          "rk" -> AttrVal.N(BigDecimal(i)),
          "v" -> AttrVal.N(BigDecimal((i * 7 + salt) % 50))) ++
          (if ((i + salt) % 5 == 0) Nil else Seq("g" -> AttrVal.N(BigDecimal((i + salt) % 4)))) ++
          (if (i % 3 == 0) Nil else Seq("exp" -> AttrVal.N(BigDecimal(990 + (i * 13) % 20))))
      val n = 60 + rnd.nextInt(140)
      val meta = TableMeta("hk", Some("rk"), shards = 1 + rnd.nextInt(4), throughput = 1000000L)
      val layout = rnd.nextInt(3) // 0 journal-only, 1 compacted, 2 journal over base
      if (layout == 0) {
        store.createTable("t", meta)
        store.appendWal("t", System.currentTimeMillis(), "w0",
          (0 until n).map(i => store.Put(item(i, 0))))
      } else store.bulkLoad("t", meta, Iterator.tabulate(n)(item(_, 0)))
      val index = rnd.nextInt(3) match {
        case 0 => None
        case 1 => store.createIndex("t", "lsi", IndexMeta("hk", Some("v"), None, local = true))
          Some("lsi")
        case _ => store.createIndex("t", "gsi", IndexMeta("g", Some("rk"), None))
          Some("gsi")
      }
      if (layout == 2)
        store.appendWal("t", System.currentTimeMillis() + 1000, "w1",
          (0 until n by 4).map(i => store.Put(item(i, 1))) ++
            (1 until n by 7).map(i => store.Delete(item(i, 0).filter(kv =>
              kv._1 == "hk" || kv._1 == "rk"))))
      val leaves: Seq[Filter] = Seq(
        EqualTo("hk", f"h${rnd.nextInt(9)}%02d"),
        In("hk", Array[Any](f"h${rnd.nextInt(9)}%02d", f"h${rnd.nextInt(9)}%02d")),
        GreaterThan("rk", rnd.nextInt(n).toLong),
        LessThanOrEqual("v", rnd.nextInt(50).toLong),
        IsNull("g"), IsNotNull("g"),
        Not(EqualTo("g", rnd.nextInt(4).toLong)),
        Or(EqualTo("g", 1L), LessThan("v", 10L)))
      val pushed = rnd.shuffle(leaves).take(rnd.nextInt(3)).toArray
      val sample =
        if (rnd.nextBoolean()) None else Some(PushedSample(0.25, 0.8, rnd.nextLong()))
      val ttl = rnd.nextBoolean()
      val o = new java.util.HashMap[String, String]()
      o.put("path", root); o.put("tableName", "t")
      o.put("maxPushedGroups", Seq("1", "3", "65536")(rnd.nextInt(3)))
      index.foreach(o.put("indexName", _))
      if (ttl) { o.put("ttlAttribute", "exp"); o.put("ttlNow", "1000") }
      val opts = DynamoOptions(o)
      val (group, groupCols) = groupings(rnd.nextInt(groupings.size))
      val what = s"case $c: layout=$layout index=$index ttl=$ttl sample=$sample " +
        s"pushed=${pushed.toSeq} group=$groupCols"
      val parts = new DynamoScan(opts, schema, pushed, sample = sample)
        .toBatch.planInputPartitions().map(_.asInstanceOf[DynamoInputPartition])
      val rowFactory = new DynamoReaderFactory(opts, schema, pushed, sample = sample)
      val aggFactory = new DynamoAggReaderFactory(opts, pushed, Seq(PushedAgg.CountAll),
        sample = sample)
      val groupFactory = new DynamoGroupedAggReaderFactory(opts, pushed, group, aggs,
        sample = sample)
      val rowsOut = Seq.newBuilder[Row]
      val groupedOut = scala.collection.mutable.Map.empty[Seq[Any], (Long, Long)]
      parts.zipWithIndex.foreach { case (p, pi) =>
        val (rows, rowMetrics) = drain(rowFactory.createReader(p))
        val (count, countMetrics) = drain(aggFactory.createReader(p))
        val (groups, groupMetrics) = drain(groupFactory.createReader(p))
        assert(count.map(_.getLong(0)) === Seq(rows.size.toLong), s"$what partition $pi")
        assert(countMetrics === rowMetrics, s"$what partition $pi: count reader metrics")
        assert(groupMetrics === rowMetrics, s"$what partition $pi: grouped reader metrics")
        totalRows += rows.size
        totalFiltered += rowMetrics(1)
        rows.foreach { r =>
          rowsOut += Row(pi, r.getUTF8String(0).toString, r.getLong(1),
            if (r.isNullAt(2)) null else r.getLong(2), r.getLong(3))
        }
        // partial pushes flush per-group partials: merge them
        groups.foreach { g =>
          val key = pi +: groupCols.indices.map(i =>
            if (g.isNullAt(i)) null
            else if (groupCols(i) == "hk") g.getUTF8String(i).toString
            else g.getLong(i))
          val (cnt, sum) = groupedOut.getOrElse(key, (0L, 0L))
          groupedOut(key) = (cnt + g.getLong(groupCols.size),
            sum + g.getLong(groupCols.size + 1))
        }
      }
      val rowDf = spark.createDataFrame(
        spark.sparkContext.parallelize(rowsOut.result(), 1),
        StructType(StructField("part", IntegerType) +: schema.fields))
      val expect = rowDf.groupBy(col("part") +: groupCols.map(col): _*)
        .agg(count(lit(1)), sum("v")).collect()
        .map(r => r.toSeq.take(groupCols.size + 1) ->
          ((r.getLong(groupCols.size + 1), r.getLong(groupCols.size + 2))))
        .toMap
      assert(groupedOut.toMap === expect, what)
    }
    // not a vacuous law: items were both returned and dropped
    assert(totalRows > 0 && totalFiltered > 0, s"rows=$totalRows filtered=$totalFiltered")
  }
}
