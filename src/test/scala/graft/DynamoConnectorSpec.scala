package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dynamo.Implicits._
import graft.sources.dynamo.{IndexMeta, LocalKVStore, TableMeta}

/** Connector read/write round-trips — the reference's DynamoDB-Local
  * test pattern with [[LocalKVStore]] swapped in for the endpoint
  * [REF: test/.../AbstractInMemoryTest.scala; WriteRelationTest]:
  * put → read-after-write equality, update-merge semantics, delete,
  * pushdown on/off equivalence, typed read.
  */
case class KV(id: String, v: Double)

class DynamoConnectorSpec extends AnyFunSuite {
  import TestSpark._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-dynamo-test").toString

  private def seedFruit(root: String): Unit = {
    import spark.implicits._
    Seq(
      ("apple", "red", 0.15, 3L),
      ("banana", "yellow", 0.12, 5L),
      ("cherry", "red", 0.005, 100L),
      ("durian", "green", 2.5, 1L))
      .toDF("name", "color", "weight_kg", "stock")
      .write.dynamo(root, "fruit", "name")
  }

  test("put then read returns exactly the written rows") {
    val root = freshRoot()
    seedFruit(root)
    val back = spark.read.dynamo(root, "fruit")
      .select("name", "color", "weight_kg", "stock").orderBy("name")
    val rows = back.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      ("apple", "red", 0.15, 3L),
      ("banana", "yellow", 0.12, 5L),
      ("cherry", "red", 0.005, 100L),
      ("durian", "green", 2.5, 1L)))
  }

  test("TIMESTAMP_NTZ columns write and read back as zone-free epoch micros") {
    val root = freshRoot()
    val prev = spark.conf.getOption("spark.sql.catalog.ntzcat")
    try {
      spark.conf.set("spark.sql.catalog.ntzcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.ntzcat.path", root)
      spark.sql("CREATE TABLE ntzcat.ev (id STRING, at TIMESTAMP_NTZ) " +
        "TBLPROPERTIES('hashKey'='id')")
      spark.sql("INSERT INTO ntzcat.ev VALUES ('a', TIMESTAMP_NTZ'2024-01-02 03:04:05.000006'), " +
        "('b', NULL)")
      val back = spark.table("ntzcat.ev").orderBy("id").collect()
        .map(r => (r.getString(0), Option(r.get(1))))
      assert(back.toSeq === Seq(
        ("a", Some(java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 6000))), ("b", None)))
      // stored as the wall clock's UTC epoch micros, whatever the session zone
      val raw = spark.read.dynamo(root, "ev").filter(col("id") === "a")
        .select("at").head().getLong(0)
      assert(raw === java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 6L)
    } finally {
      spark.conf.unset("spark.sql.catalog.ntzcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.ntzcat"))(
        spark.conf.set("spark.sql.catalog.ntzcat", _))
    }
  }

  test("flat schemas read through the columnar (vectorized) path") {
    val root = freshRoot()
    seedFruit(root)
    val d = spark.read.dynamo(root, "fruit")
      .select("name", "color", "weight_kg", "stock")
    // the read values are the written ones
    val rows = d.orderBy("name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(rows.toSeq === Seq(
      ("apple", "red", 0.15, 3L),
      ("banana", "yellow", 0.12, 5L),
      ("cherry", "red", 0.005, 100L),
      ("durian", "green", 2.5, 1L)))
  }

  test("array-of-primitive columns (embeddings) read columnar, equal to the row path") {
    import spark.implicits._
    val root = freshRoot()
    // embedding-table shape: id + float[] (+ a null vector and a null
    // element to exercise the null paths; no empty list — an empty L
    // carries no element type, so sample inference would widen the
    // column to array<string>, which is an inference property, not a
    // columnar one)
    val rows = Seq(
      (0L, Some(Seq(Some(0.5f), Some(-1.25f), Some(3.0f))), "a"),
      (1L, Some(Seq(Some(1.0f), None, Some(2.0f))), "b"),
      (2L, None, "c"))
    rows.toDF("vec_id", "embedding", "label")
      .write.dynamo(root, "emb", "vec_id")

    val d = spark.read.dynamo(root, "emb")
      .select("vec_id", "embedding", "label")

    // Value equality with the written rows, null vector and null
    // element included — floats widen to double through the store's N
    // type, like ints widen to long.
    val got = d.orderBy("vec_id").collect().map { r =>
      (r.getLong(0),
       if (r.isNullAt(1)) null else r.getSeq[Any](1).toList,
       r.getString(2))
    }.toSeq
    assert(got === Seq(
      (0L, List(0.5d, -1.25d, 3.0d), "a"),
      (1L, List(1.0d, null, 2.0d), "b"),
      (2L, null, "c")))
  }

  test("mode(overwrite) truncates content but keeps the table definition") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root) // 4 rows
    Seq(("kiwi", "green", 0.08, 12L))
      .toDF("name", "color", "weight_kg", "stock")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .mode("overwrite").save()
    val back = spark.read.dynamo(root, "fruit")
    assert(back.count() === 1L)
    assert(back.select("name").head.getString(0) === "kiwi")
    // table definition survives the truncate
    assert(new LocalKVStore(root).describe("fruit").hashKey === "name")
  }

  test("update merges non-key attrs over existing items (upsert)") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    // update two existing + upsert one new; only (name, stock) columns.
    Seq(("apple", 99L), ("durian", 0L), ("elderberry", 7L))
      .toDF("name", "stock")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("update", "true").mode("append").save()

    val back = spark.read.dynamo(root, "fruit")
      .select("name", "color", "stock").orderBy("name")
      .collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.toString), r.getLong(2)))
    assert(back.toSeq == Seq(
      ("apple", Some("red"), 99L),      // stock updated, color kept
      ("banana", Some("yellow"), 5L),
      ("cherry", Some("red"), 100L),
      ("durian", Some("green"), 0L),
      ("elderberry", None, 7L)))        // fresh item: no color attr
  }

  test("delete removes items by primary key") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    Seq("banana", "cherry").toDF("name")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("delete", "true").mode("append").save()

    val names = spark.read.dynamo(root, "fruit")
      .select("name").orderBy("name").as[String](org.apache.spark.sql.Encoders.STRING).collect()
    assert(names.toSeq == Seq("apple", "durian"))
  }

  test("filter pushdown result equals pushdown-disabled result") {
    val root = freshRoot()
    seedFruit(root)
    def q(pushdown: Boolean) = spark.read.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("filterPushdown", pushdown.toString).load()
      .filter(col("color") === "red" && col("stock") >= 100)
      .select("name").orderBy("name").collect().map(_.getString(0)).toSeq
    assert(q(true) == q(false))
    assert(q(true) == Seq("cherry"))
  }

  test("compaction folds the WAL and preserves the merged view") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    Seq(("apple", 42L)).toDF("name", "stock")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("update", "true").mode("append").save()
    val before = spark.read.dynamo(root, "fruit")
      .select("name", "stock").orderBy("name").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    new LocalKVStore(root).compact("fruit")
    val after = spark.read.dynamo(root, "fruit")
      .select("name", "stock").orderBy("name").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(before == after)
    assert(after.contains(("apple", 42L)))
  }

  test("segmented scan covers all items disjointly for any segment count") {
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)
    Seq(1, 2, 3, 7).foreach { n =>
      val all = (0 until n).flatMap(seg => store.scanSegment("fruit", seg, n).map(_._1).toSeq)
      assert(all.size == 4, s"segment count $n lost/duplicated items")
    }
  }

  test("schema inference types integral N as long and decimal N as double") {
    val root = freshRoot()
    seedFruit(root)
    val schema = spark.read.dynamo(root, "fruit").schema
    assert(schema("stock").dataType.typeName == "long")
    assert(schema("weight_kg").dataType.typeName == "double")
    assert(schema("name").dataType.typeName == "string")
  }

  test("streaming sink upserts micro-batches; read-after-stream sees latest per key") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = freshRoot()
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val q = in.toDF().toDF("name", "stock")
      .writeStream.format("dynamo")
      .option("path", root).option("tableName", "inventory")
      .option("hashKey", "name").option("update", "true")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .outputMode("append").start()
    try {
      in.addData(("apple", 1L), ("banana", 2L))
      q.processAllAvailable()
      // later epoch wins per key: apple re-written, cherry fresh
      in.addData(("apple", 10L), ("cherry", 3L))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.dynamo(root, "inventory").orderBy("name")
      .collect().map(r => (r.getAs[String]("name"), r.getAs[Long]("stock")))
    assert(back.toSeq == Seq(("apple", 10L), ("banana", 2L), ("cherry", 3L)))
  }

  test("streaming sink with transactional=job publishes each epoch atomically") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val ctx = spark.sqlContext
    val root = freshRoot()
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val q = in.toDF().toDF("name", "stock")
      .writeStream.format("dynamo")
      .option("path", root).option("tableName", "inv")
      .option("hashKey", "name").option("update", "true")
      .option("transactional", "job")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .outputMode("append").start()
    try {
      in.addData(("apple", 1L), ("banana", 2L))
      q.processAllAvailable()
      in.addData(("apple", 10L), ("cherry", 3L))
      q.processAllAvailable()
    } finally q.stop()
    // every journal file is a transaction file (the per-epoch fence
    // published the staged handles; no per-shard WAL publishes), and
    // no staged buffer is left behind
    val dir = java.nio.file.Paths.get(root, "inv")
    val names = {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    val wal = names.filter(n => n.startsWith("wal-") && n.endsWith(".jsonl"))
    assert(wal.nonEmpty && wal.forall(_.endsWith("-sall.jsonl")), wal)
    assert(!names.exists(n => n.startsWith(".") && n.endsWith(".tmp")), names)
    val back = spark.read.dynamo(root, "inv").orderBy("name")
      .collect().map(r => (r.getAs[String]("name"), r.getAs[Long]("stock")))
    assert(back.toSeq == Seq(("apple", 10L), ("banana", 2L), ("cherry", 3L)))
  }

  test("distributed compaction folds the journal shard-parallel and preserves the view") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    Seq(("apple", 99L), ("elderberry", 7L)).toDF("name", "stock")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("update", "true").mode("append").save()
    val before = spark.read.dynamo(root, "fruit")
      .select("name", "stock").orderBy("name").collect()
      .map(r => (r.getString(0), r.getLong(1)))

    graft.sources.dynamo.DynamoMaintenance.compact(spark, root, "fruit")

    assert(new LocalKVStore(root).walFileNames("fruit").isEmpty)
    val after = spark.read.dynamo(root, "fruit")
      .select("name", "stock").orderBy("name").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(after.toSeq === before.toSeq)
    assert(after.toMap.get("apple") === Some(99L))
    assert(after.toMap.get("elderberry") === Some(7L))
  }

  test("limit pushdown stops the segment scan early and caps the result") {
    val root = freshRoot()
    seedFruit(root)
    val limited = spark.read.dynamo(root, "fruit").limit(2)
    assert(limited.count() === 2L)
    val desc = limited.queryExecution.executedPlan.toString
    assert(desc.contains("PushedLimit: 2"))
    // pushed filters still apply BELOW the limit: 2 red fruits exist,
    // so filter+limit(2) must return both, not a truncated prefix
    val redTwo = spark.read.dynamo(root, "fruit")
      .filter(col("color") === "red").limit(2)
    assert(redTwo.collect().map(_.getAs[String]("color")).toSeq === Seq("red", "red"))
  }

  test("top-N pushdown ships each segment's best n and matches the full sort") {
    import spark.implicits._
    val root = freshRoot()
    // 200 rows over 16 shards, with ties in the sort column and nulls
    // (every 7th row omits `score` → decodes as null)
    (0 until 200).map { i =>
      (f"id$i%04d", if (i % 7 == 0) None else Some(i % 13 + 0.25), i.toLong)
    }.toDF("id", "score", "seq").write.dynamo(root, "scored", "id")

    val pushed = spark.read.dynamo(root, "scored")
      .select("id", "score", "seq")
      .orderBy(desc("score"), asc("id"))
      .limit(15)
    val desc0 = pushed.queryExecution.executedPlan.toString
    // (plan metadata truncates at 100 chars — pin a prefix)
    assert(desc0.contains("PushedTopN: [score DESC NULLS LAST"),
      s"top-N not pushed:\n$desc0")

    // ground truth: full unpushed read, sorted driver-side
    val all = spark.read.dynamo(root, "scored")
      .select("id", "score", "seq").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getDouble(1): Any, r.getLong(2)))
    val expect = all.sortBy(_._1).sortWith { (x, y) =>
      (x._2, y._2) match {
        case (null, null) => false
        case (null, _) => false // DESC NULLS LAST: nulls sort after
        case (_, null) => true
        case (a: Double, b: Double) => a > b
      }
    }.take(15).toSeq
    val got = pushed.collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getDouble(1): Any, r.getLong(2))).toSeq
    assert(got === expect)

    // nulls-first variant exercises the opposite null placement
    val nf = spark.read.dynamo(root, "scored")
      .orderBy(asc_nulls_first("score"), asc("id")).limit(5)
    assert(nf.queryExecution.executedPlan.toString
      .contains("PushedTopN: [score ASC NULLS FIRST"))
    assert(nf.collect().forall(_.isNullAt(nf.columns.indexOf("score"))))

    // the per-segment bound: a direct scan with the push emits ≤ n rows
    // per partition (the whole point — candidates, not the table)
    import graft.sources.dynamo.{DynamoOptions, DynamoScan, PushedTopN, SortKey}
    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "scored", "readPartitions", "16"))
    val schema = spark.read.dynamo(root, "scored").schema
    val scan = new DynamoScan(opts, schema, Array.empty,
      topN = Some(PushedTopN(Seq(SortKey("seq", descending = true, nullsFirst = false)), 3)))
    val factory = scan.toBatch.createReaderFactory()
    scan.toBatch.planInputPartitions().foreach { p =>
      val r = factory.createReader(p)
      var cnt = 0
      while (r.next()) cnt += 1
      r.close()
      assert(cnt <= 3, s"partition emitted $cnt > 3 rows")
    }
  }

  test("COUNT(*) pushdown counts per segment without decoding items") {
    val root = freshRoot()
    seedFruit(root)
    val counted = spark.read.dynamo(root, "fruit").agg(count(lit(1)).as("n"))
    assert(counted.queryExecution.executedPlan.toString
      .contains("PushedAggregates: [COUNT(*)]"))
    assert(counted.collect().head.getLong(0) === 4L)
    // composes with pushed filters (evaluated below the count)
    val red = spark.read.dynamo(root, "fruit")
      .filter(col("color") === "red").agg(count(lit(1)).as("n"))
    assert(red.queryExecution.executedPlan.toString
      .contains("PushedAggregates: [COUNT(*)]"))
    assert(red.collect().head.getLong(0) === 2L)
    // plain df.count() takes the same path
    assert(spark.read.dynamo(root, "fruit").count() === 4L)
  }

  test("MIN/MAX pushdown ships per-segment extrema, not items") {
    val root = freshRoot()
    seedFruit(root)
    // mixed MIN/MAX/COUNT in one aggregate, all pushed together
    val agg = spark.read.dynamo(root, "fruit")
      .agg(min("weight_kg").as("lo"), max("weight_kg").as("hi"),
           max("color").as("c"), count(lit(1)).as("n"))
    assert(agg.queryExecution.executedPlan.toString.contains(
      "PushedAggregates: [MIN(weight_kg), MAX(weight_kg), MAX(color), COUNT(*)]"))
    val r = agg.collect().head
    assert((r.getDouble(0), r.getDouble(1), r.getString(2), r.getLong(3)) ===
      ((0.005, 2.5, "yellow", 4L)))
    // COUNT(col) and SUM push alongside: long sums add exactly
    // (ANSI-matching addExact), double sums fold per segment
    val sums = spark.read.dynamo(root, "fruit")
      .agg(sum("stock").as("s"), count(col("weight_kg")).as("nw"),
           sum("weight_kg").as("sw"))
    assert(sums.queryExecution.executedPlan.toString.contains(
      "PushedAggregates: [SUM(stock), COUNT(weight_kg), SUM(weight_kg)]"))
    val sr = sums.collect().head
    assert(sr.getLong(0) === 109L)
    assert(sr.getLong(1) === 4L)
    assert(math.abs(sr.getDouble(2) - 2.775) < 1e-9)
    // composes with pushed filters (evaluated below the aggregate)
    val red = spark.read.dynamo(root, "fruit")
      .filter(col("color") === "red")
      .agg(min("stock").as("lo"), max("stock").as("hi"))
    assert(red.queryExecution.executedPlan.toString
      .contains("PushedAggregates: [MIN(stock), MAX(stock)]"))
    assert(red.collect().head match { case row => (row.getLong(0), row.getLong(1)) === ((3L, 100L)) })
    // AVG pushes by decomposition: Spark rewrites it to SUM+COUNT and
    // the scan ships those partials
    val mixed = spark.read.dynamo(root, "fruit")
      .agg(min("weight_kg").as("lo"), avg("stock").as("a"))
    assert(mixed.queryExecution.executedPlan.toString.contains(
      "PushedAggregates: [MIN(weight_kg), SUM(stock), COUNT(stock)]"))
    val mr = mixed.collect().head
    assert(mr.getDouble(0) === 0.005)
    assert(mr.getDouble(1) === 27.25) // 109 / 4
    // a genuinely unsupported aggregate (DISTINCT is not
    // partial-foldable) rejects the whole push, and the plan stays
    // correct through the row path
    val dist = spark.read.dynamo(root, "fruit")
      .agg(min("weight_kg").as("lo"), countDistinct("color").as("nc"))
    assert(!dist.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    val dr = dist.collect().head
    assert((dr.getDouble(0), dr.getLong(1)) === ((0.005, 3L)))
    // a grouped aggregate pushes too — partially here, since `color`
    // is not the placement key (see the grouped-pushdown test)
    val grouped = spark.read.dynamo(root, "fruit")
      .groupBy("color").agg(max("stock").as("mx"))
    assert(grouped.queryExecution.executedPlan.toString
      .contains("PushedGroupBy: [color] (partial)"))
    assert(grouped.count() === 3L)
    assert(grouped.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq(("green", 1L), ("red", 100L), ("yellow", 5L)))
  }

  test("SQL DELETE FROM: metadata fast path for pushable conditions, delta rewrite for the rest") {
    val root = freshRoot()
    seedFruit(root)
    spark.sql(s"""CREATE TABLE fruit_del USING dynamo
                 |OPTIONS (path '$root', tableName 'fruit')""".stripMargin)
    try {
      // store-evaluable condition → SupportsDelete metadata path
      spark.sql("DELETE FROM fruit_del WHERE color = 'red'")
      assert(spark.sql("SELECT name FROM fruit_del ORDER BY name")
        .collect().map(_.getString(0)).toSeq === Seq("banana", "durian"))
      // a condition the store cannot evaluate falls back to the
      // row-level DELTA rewrite (scan → matched keys → delete markers)
      // instead of failing — both names have length 6
      spark.sql("DELETE FROM fruit_del WHERE length(name) > 5")
      assert(spark.sql("SELECT count(*) FROM fruit_del").collect().head.getLong(0) === 0L)
      // delete-all on the emptied table is a no-op, not an error
      spark.sql("DELETE FROM fruit_del WHERE true")
      assert(spark.sql("SELECT count(*) FROM fruit_del").collect().head.getLong(0) === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS fruit_del")
  }

  test("join pushdown collapses a co-stored inner join into one scan") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    Seq(("apple", "US", 10L), ("banana", "EC", 20L), ("cherry", "TR", 30L),
      ("fig", "GR", 5L))
      .toDF("name", "origin", "qty").write.dynamo(root, "supply", "name")

    def joined() = {
      val l = spark.read.dynamo(root, "fruit")
      val r = spark.read.dynamo(root, "supply")
      l.join(r, l("name") === r("name"))
        .select(l("name"), col("color"), col("origin"), col("qty"))
    }
    // baseline with the conf off: Spark executes the join itself
    val expect = joined().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sorted.toSeq

    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    try {
      val j = joined()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("PushedJoin"), plan)
      assert(!plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"), plan)
      val got = j.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sorted.toSeq
      assert(got === expect)
      assert(got.map(_._1) === Seq("apple", "banana", "cherry"))

      // a post-join filter stays exact over the pushed join
      val f = joined().filter(col("qty") > 10L)
      assert(f.collect().map(_.getString(0)).sorted.toSeq === Seq("banana", "cherry"))

      // LEFT OUTER pushes too: unmatched probe rows null-extend
      val lo = {
        val l = spark.read.dynamo(root, "fruit")
        val r = spark.read.dynamo(root, "supply")
        l.join(r, l("name") === r("name"), "left")
          .select(l("name"), col("origin"), col("qty"))
      }
      val loPlan = lo.queryExecution.executedPlan.toString
      assert(loPlan.contains("LEFT OUTER JOIN"), loPlan)
      val loRows = lo.collect().map(r =>
        (r.getString(0), Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1).toSeq
      assert(loRows === Seq(
        ("apple", Some("US"), Some(10L)), ("banana", Some("EC"), Some(20L)),
        ("cherry", Some("TR"), Some(30L)), ("durian", None, None)))

      // RIGHT OUTER pushes by swapping sides — the right table becomes
      // the probe (its unmatched rows null-extend the left columns),
      // the left table hash-builds. `fig` has no fruit row.
      val ro = {
        val l = spark.read.dynamo(root, "fruit")
        val r = spark.read.dynamo(root, "supply")
        l.join(r, l("name") === r("name"), "right")
          .select(r("name"), col("color"), col("qty"))
      }
      val roPlan = ro.queryExecution.executedPlan.toString
      assert(roPlan.contains("PushedJoin"), roPlan)
      assert(!roPlan.contains("BroadcastHashJoin") && !roPlan.contains("SortMergeJoin"),
        roPlan)
      val roRows = ro.collect().map(r =>
        (r.getString(0), Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1).toSeq
      assert(roRows === Seq(
        ("apple", Some("red"), Some(10L)), ("banana", Some("yellow"), Some(20L)),
        ("cherry", Some("red"), Some(30L)), ("fig", None, Some(5L))))

      // an ungrouped aggregate composes OVER the pushed join: each
      // task folds its merged rows into one partial — count ships one
      // row per segment, zero joined rows reach Spark
      val cntDf = {
        val l = spark.read.dynamo(root, "fruit")
        val r = spark.read.dynamo(root, "supply")
        l.join(r, l("name") === r("name"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("q"))
      }
      val cntPlan = cntDf.queryExecution.executedPlan.toString
      assert(cntPlan.contains("PushedJoin") && cntPlan.contains("PushedAggregates"),
        cntPlan)
      val cntRow = cntDf.collect().head
      assert(cntRow.getLong(0) === 3L && cntRow.getLong(1) === 60L)

      // probe-side key pruning survives the join: a pushed hash-key
      // equality plans the owning shard, not readPartitions segments
      val pruned = {
        val l = spark.read.format("dynamo")
          .option("path", root).option("tableName", "fruit")
          .option("readPartitions", "8").load()
        val r = spark.read.dynamo(root, "supply")
        l.filter(l("name") === "apple").join(r, l("name") === r("name"))
          .select(l("name"), col("qty"))
      }
      assert(pruned.queryExecution.executedPlan.toString.contains("PushedJoin"))
      assert(pruned.rdd.getNumPartitions <= 2, // owning shard (+ SPJ pad at most)
        s"got ${pruned.rdd.getNumPartitions} partitions")
      assert(pruned.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("apple", 10L)))

      // typed equi-key hashing: a LongType join key stored
      // non-canonically (N(1.0) vs N(1)) still matches — the hash uses
      // the coerced value the `=` comparison sees, not the raw AttrVal
      val store = new LocalKVStore(root)
      import graft.sources.dynamo.{AttrVal, TableMeta}
      store.createTable("jl", TableMeta("id", None, shards = 2, throughput = 1000000L))
      store.createTable("jr", TableMeta("id", None, shards = 2, throughput = 1000000L))
      store.appendWal("jl", 1L, "w", Seq(store.Put(Map(
        "id" -> (AttrVal.S("a"): AttrVal),
        "k" -> (AttrVal.N(BigDecimal("1.0")): AttrVal)))))
      store.appendWal("jr", 1L, "w", Seq(store.Put(Map(
        "id" -> (AttrVal.S("b"): AttrVal),
        "k" -> (AttrVal.N(BigDecimal(1)): AttrVal)))))
      val sch = new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.StringType)
        .add("k", org.apache.spark.sql.types.LongType)
      val jl = spark.read.format("dynamo").schema(sch)
        .option("path", root).option("tableName", "jl").load()
      val jr = spark.read.format("dynamo").schema(sch)
        .option("path", root).option("tableName", "jr").load()
      val typedJoin = jl.join(jr, jl("k") === jr("k")).select(jl("id"), jr("id"))
      assert(typedJoin.queryExecution.executedPlan.toString.contains("PushedJoin"))
      assert(typedJoin.collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
        Seq(("a", "b")))

      // an oversized build side declines: the join stays Spark-side
      val big = spark.read.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .option("joinBuildMaxBytes", "1").load()
      val r2 = spark.read.format("dynamo")
        .option("path", root).option("tableName", "supply")
        .option("joinBuildMaxBytes", "1").load()
      val declined = big.join(r2, big("name") === r2("name"))
      assert(!declined.queryExecution.executedPlan.toString.contains("PushedJoin"))
      assert(declined.count() === 3L)
    } finally spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
  }

  test("grouped aggregate composes over the pushed join as a bounded partial") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    Seq(("apple", "US", 10L), ("banana", "EC", 20L), ("cherry", "US", 30L),
      ("fig", "GR", 5L))
      .toDF("name", "origin", "qty").write.dynamo(root, "supply", "name")

    def grouped(joinType: String, maxGroups: Option[Int] = None) = {
      val l = maxGroups.foldLeft(
          spark.read.format("dynamo").option("path", root).option("tableName", "fruit"))(
          (r, m) => r.option("maxPushedGroups", m.toString)).load()
      val r = spark.read.dynamo(root, "supply")
      l.join(r, l("name") === r("name"), joinType)
        .groupBy(col("origin"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("q"),
          max(l("color")).as("c"))
    }
    // baseline with the conf off: Spark joins and aggregates itself
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), Option(r.getString(3))))
      .sortBy(_._1).toSeq
    val expectInner = snap(grouped("inner"))
    val expectLeft = snap(grouped("left"))

    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    try {
      val g = grouped("inner")
      val plan = g.queryExecution.executedPlan.toString
      assert(plan.contains("PushedJoin") && plan.contains("PushedGroupBy"), plan)
      // partial push: Spark KEEPS its final aggregate above the scan
      // (SortAggregate here — max over string has no mutable buffer)
      assert(plan.contains("Aggregate"), plan)
      assert(snap(g) === expectInner)
      assert(expectInner.map(_._1) === Seq(Some("EC"), Some("US")))

      // LEFT OUTER: the unmatched probe row (durian) lands in the
      // null-origin group, aggregated from null-extended merged rows
      val lo = grouped("left")
      assert(lo.queryExecution.executedPlan.toString.contains("PushedGroupBy"))
      assert(snap(lo) === expectLeft)
      assert(expectLeft.exists(_._1.isEmpty))

      // maxPushedGroups=1 forces a flush per group: Spark's final
      // aggregate merges the extra partials — results unchanged
      assert(snap(grouped("inner", maxGroups = Some(1))) === expectInner)
    } finally spark.conf.unset("spark.sql.optimizer.datasourceV2JoinPushdown")
  }

  test("pushed join reports the probe layout: key-grouped agg runs exchange-free") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    Seq(("apple", "US", 10L), ("banana", "EC", 20L), ("cherry", "US", 30L),
      ("fig", "GR", 5L))
      .toDF("name", "origin", "qty").write.dynamo(root, "supply", "name")

    // The layout report needs BOTH a per-shard plan (readPartitions =
    // shards) and a FunctionCatalog to resolve the bucket transform —
    // path-based reads have no catalog, so the probe reads through a
    // DynamoCatalog like the SPJ specs do.
    spark.conf.set("spark.sql.catalog.jpart", "graft.sources.dynamo.DynamoCatalog")
    spark.conf.set("spark.sql.catalog.jpart.path", root)
    spark.conf.set("spark.sql.catalog.jpart.readPartitions", "16")
    def probe() = spark.table("jpart.fruit")
    def dim() = spark.table("jpart.supply")
    def keyAgg() = {
      val l = probe(); val r = dim()
      l.join(r, l("name") === r("name"))
        .groupBy(l("name"))
        .agg(sum(col("qty")).as("q"), count(lit(1)).as("n"))
    }
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).sorted.toSeq
    val expect = snap(keyAgg())

    val prev = Seq("spark.sql.optimizer.datasourceV2JoinPushdown",
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      prev.foreach { case (k, _) => spark.conf.set(k, "true") }
      // grouping on the probe FULL-KEY alias: each group is confined
      // to one probe run, so the push is COMPLETE — Spark plans no
      // aggregate and no exchange at all
      val g = keyAgg()
      val plan = g.queryExecution.executedPlan.toString
      assert(plan.contains("PushedJoin") && plan.contains("PushedGroupBy"), plan)
      assert(plan.contains("(complete)"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"probe-keyed agg over pushed join still shuffles:\n$plan")
      assert(snap(g) === expect)

      // grouping that does NOT cover the probe key claims nothing:
      // the final aggregate keeps its exchange
      val l2 = probe(); val r2 = dim()
      val off = l2.join(r2, l2("name") === r2("name"))
        .groupBy(col("origin")).agg(sum(col("qty")).as("q"))
      val offPlan = off.queryExecution.executedPlan.toString
      assert(offPlan.contains("PushedJoin"), offPlan)
      assert(offPlan.contains("Exchange hashpartitioning"), offPlan)

      // no aggregate at all: the joined ROWS are probe-keyed — a
      // downstream distinct on the key alias also plans exchange-free
      val l3 = probe(); val r3 = dim()
      val d = l3.join(r3, l3("name") === r3("name")).select(l3("name")).distinct()
      val dPlan = d.queryExecution.executedPlan.toString
      assert(dPlan.contains("PushedJoin"), dPlan)
      assert(!dPlan.contains("Exchange hashpartitioning"),
        s"probe-keyed distinct over pushed join still shuffles:\n$dPlan")
      assert(d.collect().map(_.getString(0)).sorted.toSeq ===
        Seq("apple", "banana", "cherry"))

      // A second join against a third co-sharded table: the CHAIN
      // declines pushdown (the left builder already absorbed a join),
      // Spark keeps the join, and results stay exact. The pushed-join
      // scan reports its probe layout for this case too, but Spark
      // 4.1's V2ScanPartitioningAndOrdering resolves reported
      // expressions against the INNER relation and then requires them
      // to reference the scan relation's (fresh, aliased) output — a
      // join-pushed scan can never pass that id check, so the SPJ
      // shuffle stays upstream of us. When a Spark upgrade fixes the
      // resolution, the layout report is already in place.
      Seq(("apple", 3L), ("banana", 7L), ("durian", 2L))
        .toDF("name", "bins").write.dynamo(root, "warehouse", "name")
      val l4 = probe(); val r4 = dim()
      val w = spark.table("jpart.warehouse")
      val spj = l4.join(r4, l4("name") === r4("name"))
        .select(l4("name"), col("origin"))
        .join(w.hint("merge"), l4("name") === w("name"))
        .select(l4("name"), col("origin"), col("bins"))
      val spjPlan = spj.queryExecution.executedPlan.toString
      assert(spjPlan.contains("PushedJoin"), spjPlan)
      assert(spjPlan.contains("SortMergeJoin"), spjPlan)
      assert(spj.collect().map(x => (x.getString(0), x.getString(1), x.getLong(2)))
        .sorted.toSeq === Seq(("apple", "US", 3L), ("banana", "EC", 7L)))
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      Seq("spark.sql.catalog.jpart", "spark.sql.catalog.jpart.path",
        "spark.sql.catalog.jpart.readPartitions").foreach(spark.conf.unset)
    }
  }

  test("key-pinned pushed join skips the SPJ pad partition's shard") {
    import spark.implicits._
    import graft.sources.dynamo.AttrVal
    val root = freshRoot()
    // 800 hash keys over the default 16 shards: every shard, the pad's
    // neighbour included, holds items
    (0 until 800).map(i => (f"k$i%04d", i.toLong, s"d${i % 4}"))
      .toDF("id", "v", "dim").write.dynamo(root, "probe", "id")
    Seq(("d0", "zero"), ("d1", "one"), ("d2", "two"), ("d3", "three"))
      .toDF("dim", "label").write.dynamo(root, "dims", "dim")
    def joined() = {
      val l = spark.read.format("dynamo").option("path", root)
        .option("tableName", "probe").option("readPartitions", "16").load()
      val r = spark.read.dynamo(root, "dims")
      l.filter(col("id") === "k0042").join(r, l("dim") === r("dim"))
        .select(l("id"), l("v"), col("label"))
    }
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val expect = snap(joined())
    assert(expect === Seq(("k0042", 42L, "two")))

    val store = new LocalKVStore(root)
    val meta = store.describe("probe")
    val owning = store.shardOf(meta, Map("id" -> AttrVal.S("k0042")))
    def shardItems(sh: Int) = store.scanSegment("probe", sh, meta.shards).size.toLong
    assert(shardItems((owning + 1) % meta.shards) > 0, "the pad's shard must hold items")
    val prev = Seq("spark.sql.optimizer.datasourceV2JoinPushdown",
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      prev.foreach { case (k, _) => spark.conf.set(k, "true") }
      // the probe prunes to its owning shard and, with both bucketing
      // confs on, plans a pad partition for a neighbouring shard
      val j = joined()
      assert(snap(j) === expect)
      val scan = j.queryExecution.executedPlan.collectLeaves()
        .find(_.nodeName.contains("BatchScan")).getOrElse(fail("no BatchScan"))
      assert(scan.toString.contains("PushedJoin"), scan.toString)
      // itemsScanned counts both sides' wire items: the owning shard
      // and the 4-item build table, never the pad's shard
      val scanned = scan.metrics("itemsScanned").value
      assert(scanned <= shardItems(owning) + 4,
        s"scanned $scanned, owning shard ${shardItems(owning)} + 4 build items")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("overwrite-by-filter replaces exactly the matching rows") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    spark.conf.set("spark.sql.catalog.ovwcat", "graft.sources.dynamo.DynamoCatalog")
    spark.conf.set("spark.sql.catalog.ovwcat.path", root)
    try {
      // replace the red fruit with one new row: matching rows (apple,
      // cherry) are deleted, non-matching rows survive untouched
      Seq(("tomato", "red", 0.2, 42L))
        .toDF("name", "color", "weight_kg", "stock")
        .writeTo("ovwcat.fruit").overwrite($"color" === "red")
      val after = spark.sql("SELECT name, color, stock FROM ovwcat.fruit ORDER BY name")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(after === Seq(("banana", "yellow", 5L), ("durian", "green", 1L),
        ("tomato", "red", 42L)))

      // INSERT OVERWRITE (AlwaysTrue) still routes through truncate
      Seq(("kiwi", "green", 0.1, 9L))
        .toDF("name", "color", "weight_kg", "stock")
        .writeTo("ovwcat.fruit").overwrite(lit(true))
      assert(spark.sql("SELECT name FROM ovwcat.fruit").collect()
        .map(_.getString(0)).toSeq === Seq("kiwi"))

      // a condition the store can't evaluate exactly is REJECTED, and
      // the table is left untouched — never a half-applied overwrite
      val err = intercept[Exception] {
        Seq(("fig", "purple", 0.05, 2L))
          .toDF("name", "color", "weight_kg", "stock")
          .writeTo("ovwcat.fruit").overwrite(length($"color") * 2 > lit(8))
      }
      assert(err.getMessage != null)
      assert(spark.sql("SELECT name FROM ovwcat.fruit").collect()
        .map(_.getString(0)).toSeq === Seq("kiwi"))
    } finally {
      spark.conf.unset("spark.sql.catalog.ovwcat")
      spark.conf.unset("spark.sql.catalog.ovwcat.path")
    }
  }

  test("SQL UPDATE and MERGE INTO apply as keyed deltas") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    spark.conf.set("spark.sql.catalog.rlcat", "graft.sources.dynamo.DynamoCatalog")
    spark.conf.set("spark.sql.catalog.rlcat.path", root)
    try {
      // UPDATE over a store-evaluable predicate
      spark.sql("UPDATE rlcat.fruit SET stock = stock + 10 WHERE color = 'red'")
      assert(spark.sql("SELECT name, stock FROM rlcat.fruit ORDER BY name").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("apple", 13L), ("banana", 5L), ("cherry", 110L), ("durian", 1L)))

      // a KEY-changing update must move the item, not duplicate it
      spark.sql("UPDATE rlcat.fruit SET name = 'kirsche' WHERE name = 'cherry'")
      val names = spark.sql("SELECT name FROM rlcat.fruit ORDER BY name")
        .collect().map(_.getString(0)).toSeq
      assert(names === Seq("apple", "banana", "durian", "kirsche"))
      assert(spark.sql("SELECT stock FROM rlcat.fruit WHERE name = 'kirsche'")
        .head.getLong(0) === 110L)

      // MERGE INTO: matched → update, not matched → insert,
      // matched-with-condition → delete
      Seq(("apple", 50L), ("elderberry", 7L), ("durian", -1L))
        .toDF("name", "stock").createOrReplaceTempView("changes")
      spark.sql("""MERGE INTO rlcat.fruit t USING changes s ON t.name = s.name
                  |WHEN MATCHED AND s.stock < 0 THEN DELETE
                  |WHEN MATCHED THEN UPDATE SET t.stock = s.stock
                  |WHEN NOT MATCHED THEN
                  |  INSERT (name, color, weight_kg, stock)
                  |  VALUES (s.name, NULL, NULL, s.stock)""".stripMargin)
      val after = spark.sql("SELECT name, stock FROM rlcat.fruit ORDER BY name")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(after.toSeq === Seq(
        ("apple", 50L), ("banana", 5L), ("elderberry", 7L), ("kirsche", 110L)))
      // untouched attributes survive the merge-update (delta, not rewrite)
      assert(spark.sql("SELECT color FROM rlcat.fruit WHERE name = 'apple'")
        .head.getString(0) === "red")
    } finally {
      spark.catalog.dropTempView("changes")
      spark.conf.unset("spark.sql.catalog.rlcat")
      spark.conf.unset("spark.sql.catalog.rlcat.path")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION auto-adds new source columns") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    spark.conf.set("spark.sql.catalog.evcat", "graft.sources.dynamo.DynamoCatalog")
    spark.conf.set("spark.sql.catalog.evcat.path", root)
    try {
      // source carries a column the target lacks: WITH SCHEMA
      // EVOLUTION rides the ALTER TABLE ADD COLUMN metadata path
      // (schemaless store — existing items just lack the attribute)
      Seq(("apple", 50L, "US"), ("fig", 7L, "TR"))
        .toDF("name", "stock", "origin").createOrReplaceTempView("ev_changes")
      // NB: the evolving column must be referenced UNQUALIFIED in
      // assignments — Spark matches assignment-key name parts against
      // source field paths, and a `t.`-qualified reference to a
      // not-yet-existing column defeats that match
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO evcat.fruit t
                  |USING ev_changes s ON t.name = s.name
                  |WHEN MATCHED THEN UPDATE SET stock = s.stock, origin = s.origin
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(spark.table("evcat.fruit").columns.contains("origin"))
      val got = spark.sql(
        "SELECT name, stock, origin FROM evcat.fruit ORDER BY name").collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getString(2))).toSeq
      assert(got === Seq(("apple", 50L, "US"), ("banana", 5L, null),
        ("cherry", 100L, null), ("durian", 1L, null), ("fig", 7L, "TR")))
      // untouched attributes survive (delta, not rewrite), and rows the
      // merge never touched keep reading with the evolved schema
      assert(spark.sql("SELECT color FROM evcat.fruit WHERE name = 'apple'")
        .head.getString(0) === "red")

      // plain MERGE (no clause) still rejects unknown columns instead
      // of silently evolving
      Seq(("grape", 1L, 9L)).toDF("name", "stock", "sweetness")
        .createOrReplaceTempView("ev_changes2")
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("""MERGE INTO evcat.fruit t USING ev_changes2 s
                    |ON t.name = s.name
                    |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      assert(!spark.table("evcat.fruit").columns.contains("sweetness"), err.message)
    } finally {
      spark.catalog.dropTempView("ev_changes")
      spark.catalog.dropTempView("ev_changes2")
      spark.conf.unset("spark.sql.catalog.evcat")
      spark.conf.unset("spark.sql.catalog.evcat.path")
    }
  }

  test("row-level commands work on composite-key tables (two-column rowId)") {
    import spark.implicits._
    val root = freshRoot()
    Seq((1L, 10L, "a"), (1L, 11L, "b"), (2L, 20L, "c"))
      .toDF("hk", "rk", "v")
      .write.format("dynamo").option("path", root).option("tableName", "ckv")
      .option("hashKey", "hk").option("rangeKey", "rk").mode("append").save()
    spark.conf.set("spark.sql.catalog.ckcat", "graft.sources.dynamo.DynamoCatalog")
    spark.conf.set("spark.sql.catalog.ckcat.path", root)
    try {
      spark.sql("UPDATE ckcat.ckv SET v = 'B' WHERE hk = 1 AND rk = 11")
      // a range-key-changing update moves the item within the partition
      spark.sql("UPDATE ckcat.ckv SET rk = 21 WHERE hk = 2 AND rk = 20")
      Seq((1L, 10L, "A2"), (3L, 30L, "new")).toDF("hk", "rk", "v")
        .createOrReplaceTempView("ck_changes")
      spark.sql("""MERGE INTO ckcat.ckv t USING ck_changes s
                  |ON t.hk = s.hk AND t.rk = s.rk
                  |WHEN MATCHED THEN UPDATE SET t.v = s.v
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = spark.table("ckcat.ckv").orderBy("hk", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(got === Seq((1L, 10L, "A2"), (1L, 11L, "B"),
        (2L, 21L, "c"), (3L, 30L, "new")))
    } finally {
      spark.catalog.dropTempView("ck_changes")
      spark.conf.unset("spark.sql.catalog.ckcat")
      spark.conf.unset("spark.sql.catalog.ckcat.path")
    }
  }

  test("SQL DDL: CREATE TABLE ... USING dynamo queries through spark.sql") {
    val root = freshRoot()
    seedFruit(root)
    spark.sql(s"""CREATE TABLE fruit_sql USING dynamo
                 |OPTIONS (path '$root', tableName 'fruit')""".stripMargin)
    try {
      val reds = spark.sql(
        "SELECT name FROM fruit_sql WHERE color = 'red' ORDER BY name")
        .collect().map(_.getString(0))
      assert(reds.toSeq === Seq("apple", "cherry"))
      assert(spark.sql("SELECT count(*) AS n FROM fruit_sql")
        .collect().head.getLong(0) === 4L)
      // SQL INSERT routes through the same V2 write path (put mode).
      // Column list required: the table accepts any schema (for
      // partial-column updates), so names must come from the statement.
      spark.sql("""INSERT INTO fruit_sql (name, color, weight_kg, stock)
                  |VALUES ('kiwi', 'brown', 0.08, 12)""".stripMargin)
      assert(spark.sql("SELECT color FROM fruit_sql WHERE name = 'kiwi'")
        .collect().map(_.getString(0)).toSeq === Seq("brown"))
    } finally spark.sql("DROP TABLE fruit_sql")
  }

  test("scan metrics report items scanned vs dropped by pushed filters") {
    val root = freshRoot()
    seedFruit(root)
    val df = spark.read.dynamo(root, "fruit").filter(col("color") === "red")
    assert(df.count() === 2L)
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .find(_.nodeName.contains("BatchScan"))
      .getOrElse(fail("no BatchScan node in the final plan"))
    val m = scan.metrics
    assert(m("itemsScanned").value === 4L)  // DynamoDB's ScannedCount
    assert(m("itemsFiltered").value === 2L) // dropped before decode
  }

  test("write metrics report rows and journal bytes") {
    import spark.implicits._
    val root = freshRoot()
    val df = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
    df.write.dynamo(root, "wm", "k")
    // re-drive the same write through a tracked plan to read its metrics
    val writeDf = Seq(("d", 4L)).toDF("k", "v")
    writeDf.write.format("dynamo")
      .option("path", root).option("tableName", "wm").mode("append").save()
    // metric VALUES live in the SQL UI store; here assert the metric
    // surface is declared on the Write (names drive the UI wiring)
    val names = new graft.sources.dynamo.DynamoWrite(
      graft.sources.dynamo.DynamoOptions(java.util.Map.of(
        "path", root, "tableName", "wm")),
      writeDf.schema).supportedCustomMetrics().map(_.name()).toSeq
    assert(names === Seq("rowsWritten", "bytesWritten"))
    assert(spark.read.dynamo(root, "wm").count() === 4L)
  }

  test("a write schema without the key columns fails fast with a clear error") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    val e = intercept[Exception] {
      Seq(("red", 1L)).toDF("color", "stock") // no 'name' key column
        .write.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .option("update", "true").mode("append").save()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("missing key column")))
  }

  test("key-pinned filters prune the scan to the owning shards (GetItem path)") {
    import graft.sources.dynamo.{DynamoInputPartition, DynamoOptions, DynamoScan}
    import org.apache.spark.sql.sources.{EqualTo, In, GreaterThan}
    val root = freshRoot()
    seedFruit(root) // hash-only table, 16 shards
    // readPartitions forced to 16 so the full-scan path is visibly wide
    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "fruit", "readPartitions", "16",
      "zonePruning", "false")) // key-pruning semantics in isolation
    val schema = spark.read.dynamo(root, "fruit").schema

    def parts(filters: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, filters.toArray).toBatch.planInputPartitions()

    // With SPJ opted in (TestSpark mirrors Verify/Bench: both
    // v2.bucketing confs on), a 1-shard lookup plans 1 live partition
    // + 1 deliberately-empty pad that keeps the bucket layout visible.
    val point = parts(EqualTo("name", "apple"))
    assert(point.length === 2)
    assert(point.count(!_.asInstanceOf[DynamoInputPartition].padEmpty) === 1)
    // Without the SPJ opt-in, a point lookup is exactly one task.
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
    try assert(parts(EqualTo("name", "apple")).length === 1)
    finally spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    assert(parts(In("name", Array("apple", "banana", "cherry"))).length <= 3)
    assert(parts(GreaterThan("name", "a")).length === 16) // not pinned → full scan
    assert(parts(EqualTo("color", "red")).length === 16)  // non-key attr → full scan

    // end-to-end: the pruned point lookup returns exactly the item
    val row = spark.read.dynamo(root, "fruit")
      .filter(col("name") === "durian").select("name", "color").collect()
    assert(row.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("durian", "green")))
  }

  test("zone maps prune shards a pushed predicate provably excludes") {
    import spark.implicits._
    import graft.sources.dynamo.{DynamoInputPartition, DynamoOptions, DynamoScan, LocalKVStore}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, StringStartsWith}
    val root = freshRoot()
    // The layout-correlation shape zone maps exist for: each partition
    // key's items share a value locality (tenant t writes ts in
    // [t*100, t*100+99]), so a recent-range predicate excludes every
    // cold tenant's shard outright.
    Seq.tabulate(200) { j =>
      val t = j / 5
      (f"tenant$t%03d", j.toLong % 5, (t * 100 + j % 5).toLong, s"m${j % 5}-t$t")
    }.toDF("tenant", "seq", "ts", "tag")
      .write.format("dynamo").option("path", root).option("tableName", "tz")
      .option("hashKey", "tenant").option("rangeKey", "seq")
      .mode("append").save()

    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "tz", "readPartitions", "16"))
    val schema = spark.read.dynamo(root, "tz").schema
    def parts(filters: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, filters.toArray).toBatch.planInputPartitions()
        .map(_.asInstanceOf[DynamoInputPartition])
    def live(filters: org.apache.spark.sql.sources.Filter*) =
      parts(filters: _*).count(!_.padEmpty)

    val all = live()
    assert(all === 16)
    // a satisfiable-everywhere predicate still prunes the shards NO
    // tenant hashed into (an empty shard's complete empty map excludes
    // everything) — `occupied` is the layout's populated-shard count
    val occupied = live(GreaterThanOrEqual("ts", 0L))
    assert(occupied > 0 && occupied <= 16)
    // only tenant039 (ts 3900..3904) can satisfy ts > 3899 — one
    // shard survives (its stats range includes other co-hashed
    // tenants, which the per-item filter still removes)
    assert(live(GreaterThan("ts", 3899L)) === 1)
    // impossible range → zero live shards (pad may remain for SPJ)
    assert(live(GreaterThan("ts", 100000L)) === 0)
    // a COMPLETE map proves an absent attribute never occurs
    assert(live(EqualTo("nosuch", 5L)) === 0)
    // string zone: tags all start with "m"; an "z"-prefix can't match
    assert(live(StringStartsWith("tag", "z")) === 0)
    assert(live(StringStartsWith("tag", "m0")) === occupied)
    // type discipline: a NUMERIC literal cannot match the string-only
    // `tag` values (FilterEval's typed compare), so nothing survives
    assert(live(EqualTo("tag", 7L)) === 0)
    // ... while a string literal on `ts` (numeric-only) also prunes
    assert(live(EqualTo("ts", "hello")) === 0)

    // end-to-end: pruned plan and pruning-off plan agree exactly
    def rows(zone: Boolean) = spark.read.format("dynamo")
      .option("path", root).option("tableName", "tz")
      .option("readPartitions", "16").option("zonePruning", zone.toString).load()
      .filter(col("ts") > 3899L).select("tenant", "ts")
      .collect().map(x => (x.getString(0), x.getLong(1))).sorted.toSeq
    assert(rows(zone = true) === rows(zone = false))
    assert(rows(zone = true).nonEmpty)
    assert(rows(zone = true).forall(_._2 > 3899L))

    // deletes narrow only at compaction: removing tenant039's rows
    // leaves its shard live (stats over-approximate) until compact()
    // rewrites exact stats and the same predicate prunes everything
    spark.sql(s"CREATE TABLE tz_del USING dynamo OPTIONS (path '$root', tableName 'tz')")
    try {
      spark.sql("DELETE FROM tz_del WHERE ts > 3899")
      assert(live(GreaterThan("ts", 3899L)) === 1) // not narrowed yet
      new LocalKVStore(root).compact("tz")
      assert(live(GreaterThan("ts", 3899L)) === 0)
      assert(rows(zone = true) === Seq.empty)
    } finally spark.sql("DROP TABLE IF EXISTS tz_del")
  }

  test("bulkLoad ignores part files a crashed prior run left in the spill dir") {
    import graft.sources.dynamo.{LocalKVStore, TableMeta, AttrVal, ItemJson}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val meta = TableMeta("hk", None, shards = 4, throughput = 1000L)
    // Simulate a crashed earlier load: spill parts exist in EVERY
    // shard slot. The new load writes to (at most) one shard, so the
    // untouched slots' stale parts would resurrect their ghost rows
    // if the spill dir were not cleared on entry.
    store.createTable("crashy", meta)
    val tmp = java.nio.file.Paths.get(root, "crashy", ".load-tmp")
    java.nio.file.Files.createDirectories(tmp)
    (0 until 4).foreach { sh =>
      val ghost: Map[String, AttrVal] = Map("hk" -> AttrVal.S(s"ghost$sh"))
      java.nio.file.Files.write(tmp.resolve(f"part-$sh%03d.jsonl"),
        (ItemJson.write(ghost) + "\n").getBytes("UTF-8"))
    }
    store.bulkLoad("crashy", meta, Iterator(
      Map("hk" -> (AttrVal.S("real"): AttrVal))))
    val names = store.scanSegment("crashy", 0, 1).map(_._1("hk"))
      .collect { case AttrVal.S(s) => s }.toSet
    assert(names == Set("real"), s"stale spill parts resurrected: $names")
  }

  test("partition-key pin prunes a range-keyed table to one shard (Query path)") {
    import graft.sources.dynamo.{DynamoInputPartition, DynamoOptions, DynamoScan, LocalKVStore, TableMeta, AttrVal}
    import org.apache.spark.sql.sources.EqualTo
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("kv", TableMeta("hk", Some("rk"), shards = 8, throughput = 1000L),
      (1 to 50).iterator.map(i => Map(
        "hk" -> (AttrVal.N(BigDecimal(i % 5)): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.S(s"v$i"): AttrVal))))
    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "kv", "readPartitions", "8",
      "zonePruning", "false")) // key-pruning semantics in isolation
    val schema = spark.read.dynamo(root, "kv").schema

    def live(filters: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, filters.toArray).toBatch.planInputPartitions()
        .collect { case p: DynamoInputPartition if !p.padEmpty => p.segment }

    assert(live(EqualTo("v", "v7")).length === 8) // non-key attr → full scan
    // DynamoDB Query shape: the partition key alone pins the shard —
    // all of hk=2's sort keys co-locate
    val hashPinned = live(EqualTo("hk", 2L))
    assert(hashPinned.length === 1)
    // a full composite pin lands in the SAME shard (placement ignores rk)
    assert(live(EqualTo("hk", 2L), EqualTo("rk", 7L)).toSeq === hashPinned.toSeq)

    // end-to-end: the one-shard Query returns every item of the
    // partition key, and the composite pin narrows within it
    val q = spark.read.dynamo(root, "kv").filter(col("hk") === 2L)
    assert(q.count() === 10L) // hk = i % 5 → 10 of 50 items
    val hit = spark.read.dynamo(root, "kv")
      .filter(col("hk") === 2L && col("rk") === 7L).select("v").collect()
    assert(hit.map(_.getString(0)).toSeq === Seq("v7"))
  }

  test("grouped aggregate pushdown: complete on the partition key, partial otherwise") {
    import graft.sources.dynamo.{AttrVal, LocalKVStore, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // 60 items, 5 partition keys, a low-cardinality non-key attribute
    store.bulkLoad("gkv", TableMeta("hk", Some("rk"), shards = 8, throughput = 1000L),
      (1 to 60).iterator.map(i => Map(
        "hk" -> (AttrVal.N(BigDecimal(i % 5)): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "par" -> (AttrVal.S(s"p${i % 3}"): AttrVal))))

    // COMPLETE: grouping by the partition key — every group is
    // shard-local, so no Spark-side aggregate survives in the plan
    val complete = spark.read.dynamo(root, "gkv")
      .groupBy("hk")
      .agg(count(lit(1)).as("n"), sum("rk").as("s"), max("rk").as("mx"))
      .orderBy("hk")
    val cPlan = complete.queryExecution.executedPlan.toString
    assert(cPlan.contains("PushedGroupBy: [hk] (complete)"), cPlan)
    assert(!cPlan.contains("HashAggregate"),
      s"complete grouped push left a Spark-side aggregate:\n$cPlan")
    val got = complete.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expect = (1 to 60).groupBy(_ % 5).toSeq.sortBy(_._1).map { case (h, is) =>
      (h.toLong, is.size.toLong, is.map(_.toLong).sum, is.max.toLong)
    }
    assert(got.toSeq === expect)

    // PARTIAL: grouping by a non-placement attribute — groups span
    // shards, segments ship per-segment partials, Spark re-aggregates
    val partial = spark.read.dynamo(root, "gkv")
      .groupBy("par").agg(count(lit(1)).as("n"), min("rk").as("mn"))
      .orderBy("par")
    val pPlan = partial.queryExecution.executedPlan.toString
    assert(pPlan.contains("PushedGroupBy: [par] (partial)"), pPlan)
    assert(pPlan.contains("HashAggregate"), pPlan)
    val gotP = partial.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expectP = (1 to 60).groupBy(i => s"p${i % 3}").toSeq.sortBy(_._1)
      .map { case (p, is) => (p, is.size.toLong, is.min.toLong) }
    assert(gotP.toSeq === expectP)

    // DISTINCT pushdown: grouping with no aggregates
    val dist = spark.read.dynamo(root, "gkv").select("hk").distinct()
    val dPlan = dist.queryExecution.executedPlan.toString
    assert(dPlan.contains("PushedGroupBy: [hk] (complete)"), dPlan)
    assert(dist.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L, 3L, 4L))

    // pushed filters evaluate BELOW the grouped aggregate
    val filtered = spark.read.dynamo(root, "gkv")
      .filter(col("rk") <= 30L).groupBy("hk").agg(count(lit(1)).as("n"))
    assert(filtered.collect().map(_.getLong(1)).sum === 30L)
  }

  test("grouped pushdown stays bounded when groups scale with rows") {
    import graft.sources.dynamo.{AttrVal, LocalKVStore, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // composite-key table: 200 items, 4 partition keys, a unique
    // non-key attribute `u` — so (hk, u) covers placement but groups
    // scale with rows, the shape whose map would grow with the segment
    store.bulkLoad("big", TableMeta("hk", Some("rk"), shards = 4, throughput = 1000L),
      (1 to 200).iterator.map(i => Map(
        "hk" -> (AttrVal.N(BigDecimal(i % 4)): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "u" -> (AttrVal.S(s"u$i"): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i * 3)): AttrVal))))

    // grouping by the FULL primary key: one item per group by store
    // invariant, so the reader streams final rows with zero group
    // state — complete at any cardinality, no Spark-side aggregate
    val byKey = spark.read.dynamo(root, "big")
      .groupBy("hk", "rk").agg(sum("v").as("s"))
    val kPlan = byKey.queryExecution.executedPlan.toString
    assert(kPlan.contains("PushedGroupBy: [hk, rk] (complete)"), kPlan)
    assert(!kPlan.contains("HashAggregate"), kPlan)
    assert(byKey.collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq ===
      (1 to 200).map(i => (i.toLong, i * 3L)))

    // grouping that covers placement but NOT the full key, with
    // per-row cardinality: the plan-time screen sees groups ≈ rows in
    // the sample page and declines completeness — Spark keeps its
    // final (spillable) aggregate and the reader is allowed to flush
    val screened = spark.read.dynamo(root, "big")
      .groupBy("hk", "u").agg(sum("v").as("s"))
    val sPlan = screened.queryExecution.executedPlan.toString
    assert(sPlan.contains("PushedGroupBy: [hk, u] (partial)"), sPlan)
    assert(sPlan.contains("HashAggregate"), sPlan)
    assert(screened.collect().map(r => (r.getString(1), r.getLong(2))).sortBy(_._1)
      .toSeq === (1 to 200).map(i => (s"u$i", i * 3L)).sortBy(_._1))

    // memory ceiling: cap the per-segment map at 8 groups → the reader
    // flushes partial rows many times per segment, and Spark's final
    // aggregate still merges them back to exactly one row per group
    val capped = spark.read.format("dynamo")
      .option("path", root).option("tableName", "big")
      .option("maxPushedGroups", "8").load()
      .groupBy("u").agg(count(lit(1)).as("n"), sum("v").as("s"))
    val cPlan = capped.queryExecution.executedPlan.toString
    assert(cPlan.contains("PushedGroupBy: [u] (partial)"), cPlan)
    assert(capped.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq ===
      (1 to 200).map(i => (s"u$i", 1L, i * 3L)).sortBy(_._1))

    // a genuinely bounded partition-key grouping (4 keys, 50 rows
    // each) keeps COMPLETE pushdown through the same screen
    val bounded = spark.read.dynamo(root, "big")
      .groupBy("hk").agg(count(lit(1)).as("n"))
    val bPlan = bounded.queryExecution.executedPlan.toString
    assert(bPlan.contains("PushedGroupBy: [hk] (complete)"), bPlan)
    assert(bounded.collect().map(_.getLong(1)).toSeq === Seq.fill(4)(50L))
  }

  test("legacy full-key-layout stores keep reading and pruning by their own rules") {
    import graft.sources.dynamo.{DynamoInputPartition, DynamoOptions, DynamoScan, LocalKVStore, TableMeta, AttrVal}
    import org.apache.spark.sql.sources.EqualTo
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // a store written before partition-key placement: items placed by
    // hash|range (layout 1); its meta may predate the field entirely
    store.bulkLoad("legacy", TableMeta("hk", Some("rk"), shards = 8,
      throughput = 1000L, layout = 1),
      (1 to 50).iterator.map(i => Map(
        "hk" -> (AttrVal.N(BigDecimal(i % 5)): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.S(s"v$i"): AttrVal))))
    // strip the layout field: meta.json written before the field
    // existed must parse as layout 1
    val mp = java.nio.file.Paths.get(root, "legacy", "meta.json")
    Files.writeString(mp, graft.sources.dynamo.ItemJson.write(
      graft.sources.dynamo.ItemJson.parse(Files.readString(mp)) - "layout"))
    assert(store.describe("legacy").layout === 1)

    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "legacy", "readPartitions", "8",
      "zonePruning", "false")) // key-pruning semantics in isolation
    val schema = spark.read.dynamo(root, "legacy").schema
    def live(filters: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, filters.toArray).toBatch.planInputPartitions()
        .collect { case p: DynamoInputPartition if !p.padEmpty => p.segment }

    // hash alone does NOT pin a legacy shard (placement hashed hk|rk)
    assert(live(EqualTo("hk", 2L)).length === 8)
    // the full composite pin still prunes to the one legacy shard
    assert(live(EqualTo("hk", 2L), EqualTo("rk", 7L)).length === 1)
    // and reads stay correct either way
    assert(spark.read.dynamo(root, "legacy").filter(col("hk") === 2L).count() === 10L)
    val hit = spark.read.dynamo(root, "legacy")
      .filter(col("hk") === 2L && col("rk") === 7L).select("v").collect()
    assert(hit.map(_.getString(0)).toSeq === Seq("v7"))
  }

  test("runtime filters injected into a planned scan prune the read") {
    import graft.sources.dynamo.{DynamoOptions, DynamoScan}
    import org.apache.spark.sql.catalyst.InternalRow
    val root = freshRoot()
    seedFruit(root)
    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "fruit"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    val scan = new DynamoScan(opts, schema, Array.empty)
    assert(scan.filterAttributes().map(_.describe()).contains("name"))
    val parts = scan.toBatch.planInputPartitions()
    // Spark calls filter() after planning, before reader creation —
    // e.g. the IN-set from a broadcast join build side, arriving as a
    // V2 Predicate (SupportsRuntimeV2Filtering)
    import org.apache.spark.sql.connector.{expressions => v2e}
    import org.apache.spark.unsafe.types.UTF8String
    def strLit(s: String): v2e.Literal[UTF8String] = new v2e.Literal[UTF8String] {
      override def value(): UTF8String = UTF8String.fromString(s)
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
    }
    scan.filter(Array(new v2e.filter.Predicate(
      "IN", Array[v2e.Expression](
        v2e.Expressions.column("name"), strLit("apple"), strLit("cherry")))))
    val factory = scan.toBatch.createReaderFactory()
    val rows = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (r.next()) buf += r.get().asInstanceOf[InternalRow].getUTF8String(0).toString
      buf
    }
    assert(rows.sorted.toSeq === Seq("apple", "cherry"))
  }

  test("reported table statistics let joins auto-broadcast the dynamo side") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    val facts = Seq(("apple", 10L), ("banana", 20L), ("apple", 30L))
      .toDF("name", "qty")
    val joined = facts.join(spark.read.dynamo(root, "fruit"), "name")
    // the store is a few hundred bytes < autoBroadcastJoinThreshold,
    // so SupportsReportStatistics should make it the build side
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(joined.count() === 3L)
  }

  test("reference-spelled API works: format(\"dynamodb\") and dynamodb/dynamodbAs") {
    import spark.implicits._
    val root = freshRoot()
    Seq(("k1", 1.5)).toDF("id", "v").write.dynamodb(root, "t", "id")
    assert(spark.read.format("dynamodb")
      .option("path", root).option("tableName", "t").load().count() === 1L)
    assert(spark.read.dynamodb(root, "t").count() === 1L)
    assert(spark.dynamodbAs[KV](root, "t").collect().toSeq === Seq(KV("k1", 1.5)))
  }

  test("two same-writer publishes never replace each other's WAL file") {
    import graft.sources.dynamo.AttrVal
    val store = new LocalKVStore(freshRoot())
    store.createTable("t", TableMeta("id", None, shards = 1, throughput = 1000))
    // identical (seq, writerId, shard): the publish rename must bump
    // past an existing same-millisecond name, not replace it
    store.appendWal("t", 7L, "w", Seq(store.Put(Map("id" -> AttrVal.S("a")))))
    store.appendWal("t", 7L, "w", Seq(store.Put(Map("id" -> AttrVal.S("b")))))
    assert(store.walFileNames("t").size === 2)
    assert(store.scanSegment("t", 0, 1).size === 2)
  }

  test("an in-flight write buffer holds the CDC fence below its eventual name") {
    import graft.sources.dynamo.{AttrVal, DynamoMicroBatchStream, DynamoOptions, WalOffset}
    val root = freshRoot()
    seedFruit(root) // published history
    val store = new LocalKVStore(root)
    def latest() = new DynamoMicroBatchStream(
      DynamoOptions(java.util.Map.of("path", root, "tableName", "fruit")),
      new org.apache.spark.sql.types.StructType(), Array.empty)
      .latestOffset().asInstanceOf[WalOffset].last
    // Age the published history strictly below the buffer's mtime
    // floor: a collision would (correctly but unassertably) defer the
    // newest published name to a later trigger. The margin must beat
    // one kernel tick — file mtimes come from the coarse clock, which
    // can lag currentTimeMillis-stamped publish names by up to ~10 ms.
    Thread.sleep(25)
    // a writer mid-job: published history stays claimable (the floor
    // tracks the buffer's mtime, not all of history) ...
    val w = store.walWriter("fruit", 1L, "slow")
    w.append(store.Put(Map("name" -> AttrVal.S("in-flight"))))
    val before = latest()
    assert(before === store.walFileNames("fruit").max)
    Thread.sleep(2) // ensure the publish stamp lands after `before`
    w.close()
    // ... and the publish lands ABOVE the fence captured while it was
    // pending — deferred to a later batch, never skipped behind it
    val after = latest()
    assert(after > before)
    assert(after === store.walFileNames("fruit").max)
  }

  test("cdcGraceMs lags the offset fence until publishes age past it") {
    import graft.sources.dynamo.{DynamoMicroBatchStream, DynamoOptions, WalOffset}
    val root = freshRoot()
    seedFruit(root) // journal files published milliseconds ago
    def stream(graceMs: String) = new DynamoMicroBatchStream(
      DynamoOptions(java.util.Map.of(
        "path", root, "tableName", "fruit", "cdcGraceMs", graceMs)),
      new org.apache.spark.sql.types.StructType(), Array.empty)
    // fence an hour in the past: fresh publishes are not yet claimable
    assert(stream("3600000").latestOffset().asInstanceOf[WalOffset].last === "")
    // no grace: the same files are claimable immediately
    assert(stream("0").latestOffset().asInstanceOf[WalOffset].last.nonEmpty)
  }

  test("clusterWrite=shard converges each shard's rows: O(shards) journal files per job") {
    import spark.implicits._
    val root = freshRoot()
    val mk = (t: String) => Seq(("seed", 0L)).toDF("id", "qty")
      .write.format("dynamo").option("path", root).option("tableName", t)
      .option("hashKey", "id").option("shards", "4").mode("append").save()
    mk("clus"); mk("ctrl")
    val store = new LocalKVStore(root)
    val before = (store.walFileNames("clus").size, store.walFileNames("ctrl").size)

    val src = Seq.tabulate(200)(i => (f"k$i%04d", i.toLong))
      .toDF("id", "qty").repartition(8)
    src.createOrReplaceTempView("cw_src")
    val prevCat = spark.conf.getOption("spark.sql.catalog.cwcat")
    try {
      spark.conf.set("spark.sql.catalog.cwcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.cwcat.path", root)
      spark.conf.set("spark.sql.catalog.cwcat.clusterWrite", "shard")
      spark.sql("INSERT INTO cwcat.clus SELECT id, qty FROM cw_src")
    } finally {
      spark.conf.unset("spark.sql.catalog.cwcat.clusterWrite")
      spark.conf.unset("spark.sql.catalog.cwcat.path")
      prevCat.fold(spark.conf.unset("spark.sql.catalog.cwcat"))(
        spark.conf.set("spark.sql.catalog.cwcat", _))
    }
    // every shard's rows landed in one task: at most one journal file
    // per shard for the whole 8-partition job ...
    val clusFiles = store.walFileNames("clus").size - before._1
    assert(clusFiles <= 4, s"clustered write produced $clusFiles journal files")
    // ... where the unclustered control fans every task across every
    // shard (8 tasks × up to 4 shards)
    src.write.format("dynamo").option("path", root).option("tableName", "ctrl")
      .mode("append").save()
    val ctrlFiles = store.walFileNames("ctrl").size - before._2
    assert(ctrlFiles > clusFiles, s"control=$ctrlFiles vs clustered=$clusFiles")
    // and the clustered write is still a plain correct append
    assert(spark.read.dynamo(root, "clus").count() === 201L)
    assert(spark.read.dynamo(root, "clus").where(col("id") === "k0123")
      .select("qty").as[Long].head() === 123L)
  }

  test("clusterWrite=key clusters the path-based write by partition key") {
    import spark.implicits._
    val root = freshRoot()
    val src = Seq.tabulate(300)(i => (s"k${i % 3}", i.toLong))
      .toDF("id", "qty").repartition(8)
    src.write.format("dynamo").option("path", root).option("tableName", "t")
      .option("hashKey", "id").option("shards", "8")
      .option("clusterWrite", "key").mode("append").save()
    val store = new LocalKVStore(root)
    // 3 distinct keys → at most 3 (task × shard) journal files, where
    // 8 unclustered tasks each touching up to 3 shards could write 24
    assert(store.walFileNames("t").size <= 3)
    // puts upsert by key: 3 live items remain
    assert(spark.read.dynamo(root, "t").count() === 3L)
  }

  test("maxFilesPerTrigger admits a journal backlog in bounded file steps") {
    import graft.sources.dynamo.{AttrVal, DynamoMicroBatchStream, DynamoOptions, WalOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadMaxFiles
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("t", TableMeta("id", None, shards = 1, throughput = 1000))
    (1 to 5).foreach { i =>
      store.appendWal("t", i.toLong, s"w$i", Seq(store.Put(Map("id" -> AttrVal.S(s"k$i")))))
    }
    Thread.sleep(15) // let the clock fence pass every publish stamp
    val s = new DynamoMicroBatchStream(
      DynamoOptions(java.util.Map.of(
        "path", root, "tableName", "t", "maxFilesPerTrigger", "2")),
      new org.apache.spark.sql.types.StructType(), Array.empty)
    assert(s.getDefaultReadLimit.asInstanceOf[ReadMaxFiles].maxFiles === 2)
    // a 5-file backlog drains 2/2/1, not in one giant batch
    val start = WalOffset("")
    val o1 = s.latestOffset(start, s.getDefaultReadLimit)
    assert(s.planInputPartitions(start, o1).length === 2)
    val o2 = s.latestOffset(o1, s.getDefaultReadLimit)
    assert(s.planInputPartitions(o1, o2).length === 2)
    val o3 = s.latestOffset(o2, s.getDefaultReadLimit)
    assert(s.planInputPartitions(o2, o3).length === 1)
    // caught up: the offset stands still, and the lag report agrees
    assert(s.latestOffset(o3, s.getDefaultReadLimit) === o3)
    assert(s.reportLatestOffset() === o3)
    // mid-drain, the report already shows the true frontier (lag
    // observability), while the claimable offset stays capped
    assert(o1 !== o3)
  }

  test("capped CDC drains compose to the uncapped frontier (property)") {
    import graft.sources.dynamo.{AttrVal, DynamoMicroBatchStream, DynamoOptions, WalOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    for (n <- Seq(1, 4, 9); cap <- Seq(1, 2, 3, 100)) {
      val root = freshRoot()
      val store = new LocalKVStore(root)
      store.createTable("t", TableMeta("id", None, shards = 2, throughput = 1000))
      (1 to n).foreach { i =>
        store.appendWal("t", i.toLong, s"w$i", Seq(store.Put(Map("id" -> AttrVal.S(s"k$i")))))
      }
      Thread.sleep(15) // let the clock fence pass every publish stamp
      val s = new DynamoMicroBatchStream(
        DynamoOptions(java.util.Map.of("path", root, "tableName", "t")),
        new org.apache.spark.sql.types.StructType(), Array.empty)
      val uncapped = s.latestOffset(WalOffset(""), ReadLimit.allAvailable())
      var at: org.apache.spark.sql.connector.read.streaming.Offset = WalOffset("")
      var total = 0
      var steps = 0
      while ({
        val nxt = s.latestOffset(at, ReadLimit.maxFiles(cap))
        val stepFiles = s.planInputPartitions(at, nxt).length
        assert(stepFiles <= cap, s"n=$n cap=$cap: batch of $stepFiles files")
        if (nxt != at) {
          assert(nxt.asInstanceOf[WalOffset].last > at.asInstanceOf[WalOffset].last)
          total += stepFiles; at = nxt; steps += 1; true
        } else false
      }) ()
      // every file delivered exactly once, ending at the same frontier
      // the uncapped claim reaches, in ceil(n/cap) steps
      assert(total === n, s"n=$n cap=$cap delivered $total")
      assert(at === uncapped)
      assert(steps === (n + cap - 1) / cap)
    }
  }

  test("Trigger.AvailableNow pins the run's end goal before the first batch") {
    import graft.sources.dynamo.{AttrVal, DynamoMicroBatchStream, DynamoOptions, WalOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("t", TableMeta("id", None, shards = 1, throughput = 1000))
    (1 to 3).foreach { i =>
      store.appendWal("t", i.toLong, s"w$i", Seq(store.Put(Map("id" -> AttrVal.S(s"k$i")))))
    }
    Thread.sleep(15) // let the clock fence pass every publish stamp
    val s = new DynamoMicroBatchStream(
      DynamoOptions(java.util.Map.of("path", root, "tableName", "t")),
      new org.apache.spark.sql.types.StructType(), Array.empty)
    s.prepareForTriggerAvailableNow()
    // a writer racing the run publishes after prepare(): not claimable
    store.appendWal("t", 99L, "w", Seq(store.Put(Map("id" -> AttrVal.S("late")))))
    val end = s.latestOffset(WalOffset(""), ReadLimit.allAvailable())
    assert(s.planInputPartitions(WalOffset(""), end).length === 3)
    // the run terminates: no further offset past the pinned fence
    assert(s.latestOffset(end, ReadLimit.allAvailable()) === end)
  }

  test("streaming with maxFilesPerTrigger drains the backlog across micro-batches") {
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)
    val backlog = store.walFileNames("fruit").size
    assert(backlog > 0)
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val rows = new java.util.concurrent.atomic.AtomicLong
    val q = spark.readStream.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("maxFilesPerTrigger", "1")
      .load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        rows.addAndGet(df.count()); batches.incrementAndGet(); ()
      }
      .start()
    try {
      assert(q.awaitTermination(120000))
      // one journal file per micro-batch: the engine honored the cap
      assert(batches.get() === backlog)
      assert(rows.get() === 4L) // the 4 seeded PUT records
    } finally q.stop()
  }

  test("streaming read replays the journal as a CDC feed and tails new writes") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root) // 4 PUT journal entries
    Seq(("apple", 99L)).toDF("name", "stock")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("update", "true").mode("append").save() // 1 UPDATE entry

    val q = spark.readStream.dynamoStream(root, "fruit", cdc = true)
      .writeStream.format("memory").queryName("cdcfeed")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ops = spark.table("cdcfeed").collect().map(_.getAs[String]("_op"))
      assert(ops.count(_ == "PUT") === 4)
      assert(ops.count(_ == "UPDATE") === 1)

      // a delete lands while the stream runs → tailed as a marker row
      Seq("banana").toDF("name")
        .write.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .option("delete", "true").mode("append").save()
      q.processAllAvailable()
      val dels = spark.table("cdcfeed").collect()
        .filter(_.getAs[String]("_op") == "DELETE")
      assert(dels.map(_.getAs[String]("name")).toSeq === Seq("banana"))
      assert(dels.forall(_.isNullAt(dels.head.fieldIndex("color")))) // marker = key attrs only
    } finally q.stop()
  }

  test("CDC feed delivers a transaction's ops together, in op order") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)

    val q = spark.readStream.dynamoStream(root, "fruit", cdc = true)
      .writeStream.format("memory").queryName("cdctxn")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val before = spark.table("cdctxn").count()
      // one transaction touching several shards: the change feed must
      // surface ALL of it (one journal file = one replay unit), never
      // a prefix — the atomicity the -sall commit rename guarantees
      store.transactWrite("fruit", System.currentTimeMillis(), "txA", Seq(
        store.Put(Map("name" -> graft.sources.dynamo.AttrVal.S("elderberry"),
          "color" -> graft.sources.dynamo.AttrVal.S("red"))),
        store.Delete(Map("name" -> graft.sources.dynamo.AttrVal.S("apple"))),
        store.Update(Map("name" -> graft.sources.dynamo.AttrVal.S("banana"),
          "stock" -> graft.sources.dynamo.AttrVal.N(BigDecimal(42))))))
      q.processAllAvailable()
      val rows = spark.table("cdctxn").collect().drop(before.toInt)
        .map(r => (r.getAs[String]("_op"), r.getAs[String]("name")))
      assert(rows.toSeq === Seq(
        ("PUT", "elderberry"), ("DELETE", "apple"), ("UPDATE", "banana")))
    } finally q.stop()
  }

  test("CDC feed materializes an exact replica via foreachBatch") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)

    // The classic derived-table loop: apply each micro-batch's changes
    // to a second table in op order, honoring _op — the pattern that
    // maintains any downstream materialization off the change feed.
    // Per-epoch batches are idempotent per key (last write wins within
    // a batch replay), so checkpoint recovery re-applies safely.
    val q = spark.readStream.dynamoStream(root, "fruit", cdc = true)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt2").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val upserts = batch.filter(col("_op").isin("PUT", "UPDATE")).drop("_op")
        if (!upserts.isEmpty)
          upserts.write.format("dynamo")
            .option("path", root).option("tableName", "fruit_replica")
            .option("hashKey", "name")
            .option("update", "true").mode("append").save()
        val deletes = batch.filter(col("_op") === "DELETE").select("name")
        if (!deletes.isEmpty)
          deletes.write.format("dynamo")
            .option("path", root).option("tableName", "fruit_replica")
            .option("hashKey", "name")
            .option("delete", "true").mode("append").save()
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      // mutate the source while the stream runs: update, fresh put, delete
      Seq(("apple", 77L)).toDF("name", "stock").write.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .option("update", "true").mode("append").save()
      Seq(("kiwi", "green", 0.08, 12L)).toDF("name", "color", "weight_kg", "stock")
        .write.format("dynamo").option("path", root).option("tableName", "fruit")
        .mode("append").save()
      Seq("cherry").toDF("name").write.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .option("delete", "true").mode("append").save()
      q.processAllAvailable()

      def snap(t: String) = spark.read.dynamo(root, t)
        .select("name", "color", "weight_kg", "stock").orderBy("name").collect()
        .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
        .toSeq
      assert(snap("fruit_replica") === snap("fruit"))
      assert(snap("fruit").map(_._1) === Seq("apple", "banana", "durian", "kiwi"))
    } finally q.stop()
  }

  test("streaming read with startingOffsets=latest skips history, tails new writes") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root) // history the stream must NOT replay
    val q = spark.readStream.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("startingOffsets", "latest")
      .load()
      .writeStream.format("memory").queryName("tailfeed")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tailfeed").count() === 0)
      Seq(("fig", "purple", 0.05, 9L)).toDF("name", "color", "weight_kg", "stock")
        .write.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .mode("append").save()
      q.processAllAvailable()
      val names = spark.table("tailfeed").collect().map(_.getAs[String]("name"))
      assert(names.toSeq === Seq("fig"))
    } finally q.stop()
  }

  test("stream start positions: AT_TIMESTAMP + sequence-offset starts; typos fail loudly") {
    import graft.sources.dynamo.{AttrVal, ItemJson}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("sp", TableMeta("id", None, shards = 1,
      throughput = 1000000L))
    // plant journal files at PINNED past pubSeqs (appendWal floors
    // its publish seq to at least close time — a timestamp law needs
    // the names' embedded times exact)
    def put(id: String, seq: Long): Unit = {
      val line = ItemJson.write(Map(
        "op" -> (AttrVal.S("PUT"): AttrVal),
        "item" -> (AttrVal.M(Map("id" -> AttrVal.S(id))): AttrVal)))
      java.nio.file.Files.write(java.nio.file.Paths.get(root, "sp",
        f"wal-$seq%020d-w$id-s000.jsonl"), (line + "\n").getBytes("UTF-8"))
    }
    val t0 = System.currentTimeMillis() - 10000
    put("r1", t0); put("r2", t0 + 1000); put("r3", t0 + 2000)
    def seen(extra: Map[String, String]): Set[String] = {
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      var rd = spark.readStream.format("dynamo")
        .option("path", root).option("tableName", "sp")
      extra.foreach { case (k, v) => rd = rd.option(k, v) }
      val q = rd.load().writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("graft-startpos-ckpt").toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("id").collect().foreach(r => got.add(r.getString(0))); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      got.asScala.toSet
    }
    // TRIM_HORIZON (default): full retained history
    assert(seen(Map.empty) == Set("r1", "r2", "r3"))
    // AT_TIMESTAMP: pubSeq >= ts, boundary INCLUSIVE at an exact hit
    assert(seen(Map("startingTimestamp" -> (t0 + 1000).toString)) ==
      Set("r2", "r3"))
    assert(seen(Map("startingTimestamp" -> (t0 + 1001).toString)) == Set("r3"))
    // AFTER_SEQUENCE_NUMBER: a prior run's committed WAL-name offset
    // resumes strictly after it
    val firstFile = store.walFileNames("sp").min
    assert(seen(Map("startingOffsets" -> firstFile)) == Set("r2", "r3"))
    // a typo'd position fails loudly instead of replaying everything
    val ex = intercept[Throwable] { seen(Map("startingOffsets" -> "earliset")) }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
    assert(msgs(ex).contains("startingOffsets"), msgs(ex))

    // cdcSeq: each CDC row carries its file's publish sequence (the
    // Streams SequenceNumber analogue) — consumers order merges and
    // derive event-time watermarks from it
    val seqs = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(String, String, Long)]()
    val q2 = spark.readStream.format("dynamo")
      .option("path", root).option("tableName", "sp")
      .option("cdc", "true").option("cdcSeq", "true").load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdcseq-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("id", "_op", "_seq").collect()
          .foreach(r => seqs.add((r.getString(0), r.getString(1), r.getLong(2))))
        ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    assert(seqs.asScala.toSet == Set(("r1", "PUT", t0),
      ("r2", "PUT", t0 + 1000), ("r3", "PUT", t0 + 2000)))
    // a stored `_seq` attribute collides → loud rejection, like `_op`
    val line = ItemJson.write(Map(
      "op" -> (AttrVal.S("PUT"): AttrVal),
      "item" -> (AttrVal.M(Map("id" -> AttrVal.S("r4"),
        "_seq" -> AttrVal.N(BigDecimal(1)))): AttrVal)))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "sp",
      f"wal-${t0 + 4000}%020d-wseq-s000.jsonl"), (line + "\n").getBytes("UTF-8"))
    val ex2 = intercept[Throwable] {
      spark.readStream.format("dynamo")
        .option("path", root).option("tableName", "sp")
        .option("cdc", "true").option("cdcSeq", "true").load()
    }
    assert(msgs(ex2).contains("_seq"), msgs(ex2))
  }

  test("upsert feed (cdc=false) excludes conditional ops; CDC feed tags them") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root) // 4 unconditional PUTs
    // one conditional put (fails: apple exists) + one conditional
    // update (fails: fig absent) — neither changed the table
    Seq(("apple", "LOSER")).toDF("name", "color")
      .write.format("dynamo").option("path", root).option("tableName", "fruit")
      .option("ifNotExists", "true").mode("append").save()
    Seq(("fig", 1L)).toDF("name", "stock")
      .write.format("dynamo").option("path", root).option("tableName", "fruit")
      .option("update", "true").option("ifExists", "true").mode("append").save()

    val up = spark.readStream.dynamoStream(root, "fruit")
      .writeStream.format("memory").queryName("upfeed")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .outputMode("append").start()
    try {
      up.processAllAvailable()
      // only the 4 unconditional puts ride the upsert stream — a
      // failed conditional op must not materialize downstream
      val names = spark.table("upfeed").collect().map(_.getAs[String]("name"))
      assert(names.sorted.toSeq === Seq("apple", "banana", "cherry", "durian"))
    } finally up.stop()

    val cdc = spark.readStream.dynamoStream(root, "fruit", cdc = true)
      .writeStream.format("memory").queryName("cdctagged")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .outputMode("append").start()
    try {
      cdc.processAllAvailable()
      val tags = spark.table("cdctagged").collect().map(_.getAs[String]("_op"))
      assert(tags.count(_ == "PUT") === 4)
      assert(tags.count(_ == "PUTNX") === 1)
      assert(tags.count(_ == "UPDIF") === 1)
    } finally cdc.stop()
  }

  test("CDC feed composes with windowed streaming aggregation") {
    import spark.implicits._
    val root = freshRoot()
    // epoch-second event times: two in the 10:00 hour, one in 11:00
    val h10 = 1704103200L // 2024-01-01 10:00:00 UTC
    Seq(("e1", h10 + 60, 2.0), ("e2", h10 + 1800, 3.0), ("e3", h10 + 3660, 5.0))
      .toDF("eid", "ts_epoch", "value")
      .write.dynamo(root, "ev", "eid")
    val q = spark.readStream.dynamoStream(root, "ev")
      .select(col("eid"), col("ts_epoch").cast("timestamp").as("ts"), col("value"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      .select(col("window.start").as("ws"), col("cnt"), col("sv"))
      .writeStream.format("memory").queryName("cdcagg")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("cdcagg").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("ws").getTime / 1000, r.getAs[Long]("cnt"), r.getAs[Double]("sv")))
        .sortBy(_._1)
      assert(rows.toSeq === Seq((h10, 2L, 5.0), (h10 + 3600, 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming read resumes from a checkpoint without replaying delivered files") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root) // 4 PUT entries
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def start() = spark.readStream.dynamoStream(root, "fruit")
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized { seen ++= batch.collect().map(_.getAs[String]("name")) }
        ()
      }
      .start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(seen.synchronized(seen.sorted.toSeq) ===
      Seq("apple", "banana", "cherry", "durian"))

    // new write while the stream is down
    Seq(("grape", "green", 0.01, 40L)).toDF("name", "color", "weight_kg", "stock")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .mode("append").save()

    // restart from the checkpoint: deserializeOffset drives the resume —
    // only the delta is delivered, no re-replay of the first four
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.synchronized(seen.sorted.toSeq) ===
        Seq("apple", "banana", "cherry", "durian", "grape"))
    } finally q2.stop()
  }

  test("CDC feed is fenced across a reshard: no replay, no loss") {
    import graft.sources.dynamo.DynamoMaintenance
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root) // 4 PUTs into the 16-shard layout
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def start() = spark.readStream.dynamoStream(root, "fruit", cdc = true)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized {
          seen ++= batch.collect().map(r =>
            (r.getAs[String]("name"), r.getAs[String]("_op")))
        }
        ()
      }
      .start()

    // phase 1: deliver the seed ops, then quiesce (reshard requires
    // the same exclusive access as compaction)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(seen.synchronized(seen.sortBy(_._1).toSeq) ===
      Seq("apple", "banana", "cherry", "durian").map(_ -> "PUT"))

    // reshard 16 → 8: folds the journal away (the WAL files phase 1
    // delivered are DELETED) and renumbers every shard
    DynamoMaintenance.reshard(spark, root, "fruit", 8)
    assert(new LocalKVStore(root).describe("fruit").shards === 8)

    // phase 2: ops committed under the NEW layout
    Seq(("grape", "green", 0.01, 40L)).toDF("name", "color", "weight_kg", "stock")
      .write.format("dynamo").option("path", root).option("tableName", "fruit")
      .mode("append").save()
    Seq("durian").toDF("name")
      .write.format("dynamo").option("path", root).option("tableName", "fruit")
      .option("delete", "true").mode("append").save()

    // restart from the checkpoint: publish seqs are wall-clock-floored,
    // so the new WAL names sort ABOVE the checkpointed fence even
    // though the journal was wiped — exactly the two new ops arrive,
    // none of the delivered four replay
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.synchronized(seen.sortBy(_._1).toSeq) === Seq(
        "apple" -> "PUT", "banana" -> "PUT", "cherry" -> "PUT",
        "durian" -> "PUT", "durian" -> "DELETE", "grape" -> "PUT"))
    } finally q2.stop()

    // and the batch view under the new layout agrees with the feed's
    // materialization: 4 seeds + grape - durian
    val names = spark.read.dynamo(root, "fruit").select("name")
      .collect().map(_.getString(0)).sorted
    assert(names.toSeq === Seq("apple", "banana", "cherry", "grape"))
  }

  test("streaming read without cdc is an upsert feed: no _op, deletes hidden") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    Seq("durian").toDF("name")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("delete", "true").mode("append").save()

    val feed = spark.readStream.dynamoStream(root, "fruit")
    assert(!feed.columns.contains("_op"))
    val q = feed.writeStream.format("memory").queryName("upsertfeed")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val names = spark.table("upsertfeed").collect().map(_.getAs[String]("name"))
      assert(names.sorted.toSeq === Seq("apple", "banana", "cherry", "durian")) // 4 puts, no delete row
    } finally q.stop()
  }

  test("rate limiter throttles to roughly the configured rate") {
    val limiter = new graft.sources.dynamo.RateLimiter(100.0) // 100 units/s, 100 burst
    val t0 = System.nanoTime()
    limiter.acquire(100.0) // burns the burst
    limiter.acquire(50.0)  // must wait ~0.5 s
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs >= 400, s"expected ~500ms throttle, got $elapsedMs ms")
  }

  test("GSI read projects, hides sparse items, and accepts pushed filters") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    // one item MISSING the index hash key → invisible through the index
    Seq(("fig", 9L)).toDF("name", "stock")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .mode("append").save()
    val store = new LocalKVStore(root)
    store.createIndex("fruit", "by_color",
      IndexMeta("color", None, Some(Seq("stock"))))

    val viaIndex = spark.read.dynamoIndex(root, "fruit", "by_color")
    // projection: table key + index key + included attrs, nothing else
    assert(viaIndex.schema.fieldNames.sorted.toSeq == Seq("color", "name", "stock"))
    // sparse: 'fig' (no color) is not in the index
    val names = viaIndex.select("name").orderBy("name").collect().map(_.getString(0))
    assert(names.toSeq == Seq("apple", "banana", "cherry", "durian"))
    // filters on index attrs still push down and evaluate correctly
    val red = viaIndex.filter(col("color") === "red" && col("stock") >= 100)
      .select("name").collect().map(_.getString(0))
    assert(red.toSeq == Seq("cherry"))
  }

  test("AVG pushes complete on keyed groupings, rewrites to sum/count otherwise") {
    val root = freshRoot()
    seedFruit(root)
    val base = spark.read.dynamo(root, "fruit")

    // keyed grouping (hash key) → complete push: Spark hands Avg to
    // the scan and plans NO aggregate; integral input keeps the value
    // bit-identical to Spark's own
    val keyed = base.groupBy("name")
      .agg(avg("stock").as("a"), count(lit(1)).as("n"))
    val kPlan = keyed.queryExecution.executedPlan.toString
    assert(kPlan.contains("AVG(stock)"), kPlan)
    assert(!kPlan.contains("HashAggregate"), kPlan)
    val got = keyed.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got === Seq(("apple", 3.0, 1L), ("banana", 5.0, 1L),
      ("cherry", 100.0, 1L), ("durian", 1.0, 1L)))

    // non-key grouping: completeness is declined, so Spark REWRITES
    // avg into sum/count partials — the scan never sees an Avg and
    // the final aggregate assembles the exact average
    val partial = spark.read.dynamo(root, "fruit").groupBy("color")
      .agg(avg("stock").as("a"))
    val pPlan = partial.queryExecution.executedPlan.toString
    assert(!pPlan.contains("AVG("), pPlan)
    assert(pPlan.contains("SUM(stock)") && pPlan.contains("COUNT(stock)"), pPlan)
    val pg = partial.collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(pg === Seq(("green", 1.0), ("red", 51.5), ("yellow", 5.0)))

    // fractional input declines entirely (order-sensitive double sum):
    // Spark still computes the right answer itself via sum/count
    val frac = spark.read.dynamo(root, "fruit").groupBy("name")
      .agg(avg("weight_kg").as("w"))
    val fPlan = frac.queryExecution.executedPlan.toString
    assert(!fPlan.contains("AVG("), fPlan)
    assert(frac.collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
      === Seq(("apple", 0.15), ("banana", 0.12), ("cherry", 0.005), ("durian", 2.5)))
  }

  test("materialized GSI: fresh copy serves with index-key pruning, stale falls back") {
    import spark.implicits._
    import graft.sources.dynamo.{DynamoInputPartition, DynamoOptions, DynamoScan}
    import org.apache.spark.sql.sources.EqualTo
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)
    // createIndex BACKFILLS the physical copy (DynamoDB's model)
    store.createIndex("fruit", "by_color",
      IndexMeta("color", None, Some(Seq("stock"))))
    assert(store.indexFresh("fruit", "by_color"))

    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "fruit", "indexName", "by_color",
      "readPartitions", "16"))
    val schema = spark.read.dynamoIndex(root, "fruit", "by_color").schema
    def parts(filters: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, filters.toArray).toBatch.planInputPartitions()
        .map(_.asInstanceOf[DynamoInputPartition])
    def reds() = spark.read.dynamoIndex(root, "fruit", "by_color")
      .filter(col("color") === "red").select("name", "stock")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

    // fresh: every partition reads the copy, and pinning the INDEX
    // hash key plans only the owning index shard — the GSI Query shape
    assert(parts().nonEmpty && parts().forall(_.viaIndex))
    val pinnedParts = parts(EqualTo("color", "red"))
    assert(pinnedParts.length === 1 && pinnedParts.head.viaIndex)
    assert(reds() === Seq(("apple", 3L), ("cherry", 100L)))

    // a write no longer leaves the copy behind at all: write-through
    // applied it to the index journal at publish, so the read serves
    // copy + journal EXACTLY — zero un-applied delta, no base sweep —
    // and sees the new item immediately
    Seq(("elderberry", "red", 0.02, 7L))
      .toDF("name", "color", "weight_kg", "stock")
      .write.dynamo(root, "fruit", "name")
    assert(!store.indexFresh("fruit", "by_color"))
    store.indexFreshness("fruit", "by_color") match {
      case LocalKVStore.IndexJournal(rounds, delta, bytes, _) =>
        assert(rounds.nonEmpty && delta.isEmpty && bytes == 0L)
      case other => fail(s"expected IndexJournal after a write, got $other")
    }
    assert(parts().forall(p =>
      p.viaIndex && p.deltaFiles.isEmpty && p.journalFiles.nonEmpty))
    assert(reds() === Seq(("apple", 3L), ("cherry", 100L), ("elderberry", 7L)))

    // applier lag (the async model's legitimate state — simulated by
    // dropping the journal artifacts): the same write demotes to the
    // classic DELTA tier and the read overlays the journal instead
    deleteJournalArtifacts(root, "fruit", "by_color")
    store.indexFreshness("fruit", "by_color") match {
      case LocalKVStore.IndexDelta(files, bytes) =>
        assert(files.nonEmpty && bytes > 0)
      case other => fail(s"expected IndexDelta after journal drop, got $other")
    }
    assert(parts().forall(p => p.viaIndex && p.deltaFiles.nonEmpty))
    assert(reds() === Seq(("apple", 3L), ("cherry", 100L), ("elderberry", 7L)))

    // gsiDeltaMaxBytes=0 disables the delta tier: the same read falls
    // back to the projected base-scan path (still exact)
    val noDelta = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "fruit", "indexName", "by_color",
      "readPartitions", "16", "gsiDeltaMaxBytes", "0"))
    val noDeltaParts = new DynamoScan(noDelta, schema, Array.empty)
      .toBatch.planInputPartitions().map(_.asInstanceOf[DynamoInputPartition])
    assert(noDeltaParts.forall(p => !p.viaIndex))
    val redsBase = spark.read.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("indexName", "by_color").option("gsiDeltaMaxBytes", "0")
      .load().filter(col("color") === "red").select("name", "stock")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(redsBase === Seq(("apple", 3L), ("cherry", 100L), ("elderberry", 7L)))

    // compaction refreshes the copy from the folded view — EXACT
    // serving resumes (no overlay), including the new item
    store.compact("fruit")
    assert(store.indexFresh("fruit", "by_color"))
    assert(parts().forall(p => p.viaIndex && p.deltaFiles.isEmpty))
    assert(reds() === Seq(("apple", 3L), ("cherry", 100L), ("elderberry", 7L)))

    // COUNT pushdown rides the copy too
    val n = spark.read.dynamoIndex(root, "fruit", "by_color").count()
    assert(n === 5L) // durian (green) included; fig-like sparse rows aren't present here
  }

  test("distributed GSI backfill equals the local build and serves fresh") {
    import spark.implicits._
    import graft.sources.dynamo.DynamoMaintenance
    val root = freshRoot()
    // enough rows that every base shard holds items
    Seq.tabulate(200)(i => (f"k$i%04d", s"g${i % 7}", i.toLong))
      .toDF("id", "grp", "v").write.dynamo(root, "t", "id")
    val store = new LocalKVStore(root)
    store.createIndex("t", "by_grp", IndexMeta("grp", None, Some(Seq("v"))))
    // capture the LOCAL build's copy (createIndex backfilled it)
    def copyRows() = (0 until 1).flatMap(_ =>
      store.scanIndexSegment("t", "by_grp", 0, 1).map(_._1).toVector)
      .sortBy(_.toString)
    val local = copyRows()
    assert(local.nonEmpty && store.indexFresh("t", "by_grp"))
    // rebuild DISTRIBUTED (one task per base shard) — same copy,
    // still fresh, same marker semantics
    DynamoMaintenance.buildIndex(spark, root, "t", "by_grp")
    assert(store.indexFresh("t", "by_grp"))
    assert(copyRows() === local)
    // end-to-end: index-pinned read equals the base-path projection
    val viaIdx = spark.read.dynamoIndex(root, "t", "by_grp")
      .filter(col("grp") === "g3").select("id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(viaIdx === (0 until 200).filter(_ % 7 == 3)
      .map(i => (f"k$i%04d", i.toLong)).sorted.toSeq)
  }

  test("GSI delta overlay equals a full rebuild for mixed put/update/delete deltas") {
    import graft.sources.dynamo.AttrVal
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val meta = TableMeta("id", None, shards = 4, throughput = 1000000L)
    def it(k: String, grp: Option[String], v: Long): Map[String, AttrVal] =
      Map("id" -> AttrVal.S(k), "v" -> AttrVal.N(BigDecimal(v))) ++
        grp.map(g => "grp" -> AttrVal.S(g))
    store.bulkLoad("t", meta, (0 until 60).iterator.map(i =>
      it(f"k$i%03d", if (i % 10 == 9) None else Some(s"c${i % 6}"), i.toLong)))
    store.createIndex("t", "by_grp", IndexMeta("grp", None, Some(Seq("v"))))

    // a mixed journal delta the copy has NOT folded: new keys, an
    // index-key move (PUT replaces grp), a projected-attr update, a
    // sparse→indexed transition (UPDATE adds grp), an indexed→sparse
    // transition (PUT drops grp), and deletes
    store.appendWal("t", 1L, "wA", Seq(
      store.Put(it("new1", Some("c0"), 1000L)),
      store.Put(it("k001", Some("c5"), 1L)), // moves c1 → c5
      store.Update(it("k002", None, 2000L)), // projected attr changes
      store.Delete(Map("id" -> AttrVal.S("k003")))))
    store.appendWal("t", 2L, "wB", Seq(
      store.Update(it("k009", Some("c2"), 9L)), // sparse row gains grp
      store.Put(Map("id" -> AttrVal.S("k004"),
        "v" -> AttrVal.N(BigDecimal(4)))), // indexed row loses grp
      store.Delete(Map("id" -> AttrVal.S("new1"))), // delete within delta
      store.Put(it("new2", Some("c3"), 2000L))))

    // exercise the classic DELTA overlay: simulate applier lag by
    // dropping the write-through journal the appendWals just built
    deleteJournalArtifacts(root, "t", "by_grp")
    val delta = store.indexFreshness("t", "by_grp") match {
      case LocalKVStore.IndexDelta(files, bytes) =>
        // appendWal publishes one journal file per shard it touched
        assert(files.nonEmpty && bytes > 0); files
      case other => fail(s"expected IndexDelta, got $other")
    }
    // end-to-end negotiation path: a DataFrame loaded over the
    // delta-fresh index plans viaIndex WITH the pinned delta files —
    // a silent fallback to the base path would stay result-correct
    // and hide the feature, so pin the partition shape itself
    val df = spark.read.format("dynamo").option("path", root)
      .option("tableName", "t").option("indexName", "by_grp").load()
    val bse = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the plan"))
    val dfParts = bse.inputPartitions
      .map(_.asInstanceOf[graft.sources.dynamo.DynamoInputPartition])
    assert(dfParts.nonEmpty &&
      dfParts.forall(p => p.viaIndex && p.deltaFiles.nonEmpty))

    // overlay serve, across the index's own segmentation — capture
    // BEFORE the rebuild mutates the marker
    def keyed(rows: Seq[Map[String, AttrVal]]) =
      rows.map(r => r("id").asInstanceOf[AttrVal.S].v -> r).sortBy(_._1)
    val overlay = keyed((0 until 4).flatMap(s =>
      store.scanIndexSegmentDelta("t", "by_grp", s, 4, delta).map(_._1)))
    // segments are disjoint by primary key
    assert(overlay.map(_._1).distinct.size == overlay.size)
    // ground truth: a full rebuild of the copy
    store.buildIndex("t", "by_grp")
    assert(store.indexFresh("t", "by_grp"))
    val rebuilt = keyed((0 until 4).flatMap(s =>
      store.scanIndexSegment("t", "by_grp", s, 4).map(_._1)))
    assert(overlay === rebuilt)
    // spot-check the transitions landed
    val byId = overlay.toMap
    assert(byId("k001")("grp") == AttrVal.S("c5"))
    assert(byId("k009")("grp") == AttrVal.S("c2"))
    assert(!byId.contains("k003") && !byId.contains("k004") && !byId.contains("new1"))
    assert(byId("new2")("v") == AttrVal.N(BigDecimal(2000)))
  }

  test("write-through: post-write index read serves copy+journal with ZERO base-shard reads") {
    import graft.sources.dynamo.AttrVal
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val meta = TableMeta("id", None, shards = 4, throughput = 1000000L)
    store.bulkLoad("t", meta, (0 until 40).iterator.map(i =>
      Map("id" -> AttrVal.S(f"k$i%02d"), "grp" -> AttrVal.S(s"g${i % 4}"),
        "v" -> AttrVal.N(BigDecimal(i)))))
    store.createIndex("t", "by_grp", IndexMeta("grp", None, Some(Seq("v"))))
    assert(store.indexFresh("t", "by_grp"))
    // one write batch with every transition shape: insert, projected-
    // attr update, delete, and an index-key MOVE (g0 → g9)
    store.appendWal("t", 1L, "w0", Seq(
      store.Put(Map("id" -> AttrVal.S("new1"), "grp" -> AttrVal.S("g7"),
        "v" -> AttrVal.N(BigDecimal(700)))),
      store.Update(Map("id" -> AttrVal.S("k01"), "v" -> AttrVal.N(BigDecimal(101)))),
      store.Delete(Map("id" -> AttrVal.S("k02"))),
      store.Put(Map("id" -> AttrVal.S("k00"), "grp" -> AttrVal.S("g9"),
        "v" -> AttrVal.N(BigDecimal(0))))))
    val rounds = store.indexFreshness("t", "by_grp") match {
      case LocalKVStore.IndexJournal(r, delta, bytes, _) =>
        assert(delta.isEmpty && bytes == 0L,
          "publish-time applier should leave no un-applied delta")
        r
      case other => fail(s"expected IndexJournal post-write, got $other")
    }
    // DESTROY every base shard and WAL file: if the journal serve
    // touched any base state this read would now throw or lose rows
    val dir = java.nio.file.Paths.get(root, "t")
    val ls = Files.list(dir)
    try ls.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        (n.startsWith("shard-") || n.startsWith("wal-")) && n.endsWith(".jsonl")
      }
      .toList.foreach(Files.delete(_))
    finally ls.close()
    val got = (0 until 4)
      .flatMap(s => store.scanIndexSegment("t", "by_grp", s, 4,
        journalRounds = rounds).map(_._1))
      .map(it => (it("id").asInstanceOf[AttrVal.S].v,
        it("grp").asInstanceOf[AttrVal.S].v,
        it("v").asInstanceOf[AttrVal.N].v.toInt))
      .sortBy(_._1)
    val expected = ((0 until 40).map(i =>
      f"k$i%02d" -> ((s"g${i % 4}", i))).toMap
      ++ Map("new1" -> (("g7", 700)), "k01" -> (("g1", 101)),
        "k00" -> (("g9", 0)))
      - "k02").toSeq
      .map { case (id, (g, v)) => (id, g, v) }.sortBy(_._1)
    assert(got === expected)
  }

  test("updateAction=add: atomic counters accumulate across tasks; zone maps stay sound") {
    import spark.implicits._
    import graft.sources.dynamo.{DynamoInputPartition, DynamoOptions, DynamoScan}
    import org.apache.spark.sql.sources.GreaterThan
    val root = freshRoot()
    // base rows with a bounded v, compacted so base zone maps are exact
    Seq(("u1", 10L), ("u2", 20L), ("u3", 30L)).toDF("id", "v")
      .write.dynamo(root, "ctr", "id")
    new LocalKVStore(root).compact("ctr")
    // increment storm: 4 partitions x repeated keys, every row +1 to n
    // and +vdelta to v — UpdateItem ADD semantics (absent n starts at 0)
    Seq.tabulate(40)(i => (s"u${i % 4 + 1}", 1L, 100L))
      .toDF("id", "n", "v")
      .repartition(4)
      .write.format("dynamo")
      .option("path", root).option("tableName", "ctr")
      .option("updateAction", "add")
      .mode("append").save()
    val got = spark.read.dynamo(root, "ctr")
      .select("id", "n", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // u4 had no base row: ADD upserts from 0
    assert(got === Seq(("u1", 10L, 1010L), ("u2", 10L, 1020L),
      ("u3", 10L, 1030L), ("u4", 10L, 1000L)))
    // zone-map soundness: base stats say v <= 30, but the incremented
    // values are ~1000 — a v > 500 read must NOT prune those shards
    // (the ADD sidecars carry an OPEN numeric range)
    assert(spark.read.dynamo(root, "ctr").filter(col("v") > 500L).count() === 4L)
    // ... and after compaction folds the adds, stats are exact again
    new LocalKVStore(root).compact("ctr")
    assert(spark.read.dynamo(root, "ctr").filter(col("v") > 500L).count() === 4L)
    // updateAction=remove drops the named attrs (value ignored), keeps keys
    Seq(("u1", true)).toDF("id", "n")
      .write.format("dynamo")
      .option("path", root).option("tableName", "ctr")
      .option("updateAction", "remove")
      .mode("append").save()
    val u1 = spark.read.dynamo(root, "ctr").filter(col("id") === "u1")
      .select("n", "v").collect().head
    assert(u1.isNullAt(0) && u1.getLong(1) === 1010L)
  }

  test("q_dyn_gsi_wt serves the journal tier, q_dyn_gsi_delta the delta overlay") {
    import graft.sources.dynamo.DynamoInputPartition
    def parts(name: String) = {
      val df = SparkEntry.queries(name)(spark, TestSpark.sf)
      // sparkPlan, not executedPlan: the query's orderBy makes AQE wrap
      // the tree and the scan leaf is unreachable from the outer node
      val bse = df.queryExecution.sparkPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail(s"no BatchScanExec in $name"))
      bse.inputPartitions.map(_.asInstanceOf[DynamoInputPartition])
    }
    // the write-through key keeps its publish-time journal: copy +
    // pinned round files, no un-applied delta
    val wt = parts("q_dyn_gsi_wt")
    assert(wt.nonEmpty && wt.forall(p =>
      p.viaIndex && p.journalFiles.nonEmpty && p.deltaFiles.isEmpty),
      wt.map(p => (p.viaIndex, p.journalFiles, p.deltaFiles)).toSeq.toString)
    // the delta key's seeding strips the journal (applier lag): copy +
    // pinned delta overlay
    val dl = parts("q_dyn_gsi_delta")
    assert(dl.nonEmpty && dl.forall(p =>
      p.viaIndex && p.deltaFiles.nonEmpty && p.journalFiles.isEmpty),
      dl.map(p => (p.viaIndex, p.journalFiles, p.deltaFiles)).toSeq.toString)
    // identical final state either way
    val a = SparkEntry.queries("q_dyn_gsi_wt")(spark, TestSpark.sf).collect().map(_.toSeq)
    val b = SparkEntry.queries("q_dyn_gsi_delta")(spark, TestSpark.sf).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("GSI delta guards: pubSeq collision and compaction drift demote to Stale") {
    import graft.sources.dynamo.AttrVal
    import java.nio.charset.StandardCharsets.UTF_8
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val meta = TableMeta("id", None, shards = 2, throughput = 1000000L)
    store.bulkLoad("t", meta, (0 until 20).iterator.map(i =>
      Map("id" -> AttrVal.S(f"k$i%02d"), "grp" -> AttrVal.S(s"g${i % 3}"))))
    store.appendWal("t", 1L, "w0", Seq(
      store.Put(Map("id" -> AttrVal.S("zz"), "grp" -> AttrVal.S("g0")))))
    store.createIndex("t", "by_grp", IndexMeta("grp", None, None))
    assert(store.indexFresh("t", "by_grp"))

    // normal write after the build → Delta (settle past the folded
    // max's millisecond so this publish can't collide into it)
    Thread.sleep(15)
    store.appendWal("t", 2L, "w1", Seq(
      store.Put(Map("id" -> AttrVal.S("yy"), "grp" -> AttrVal.S("g1")))))
    // strip the write-through journal: these guards arbitrate the
    // BUILD-based delta identification
    deleteJournalArtifacts(root, "t", "by_grp")
    assert(store.indexFreshness("t", "by_grp")
      .isInstanceOf[LocalKVStore.IndexDelta])

    // a pathological publisher lands a file AT the folded max pubSeq
    // (same-millisecond collision): the belowCount guard must demote
    // to Stale — assuming it folded would silently lose its ops
    val dir = java.nio.file.Paths.get(root, "t")
    val foldedMax = {
      val marker = new String(java.nio.file.Files.readAllBytes(
        dir.resolve("gsi-by_grp.meta")), UTF_8).trim.split(' ')
      marker(2).toLong
    }
    val rogue = dir.resolve(f"wal-$foldedMax%020d-wrogue-s000.jsonl")
    java.nio.file.Files.write(rogue,
      """{"op":{"S":"PUT"},"item":{"M":{"id":{"S":"k00"},"grp":{"S":"g2"}}}}"""
        .getBytes(UTF_8))
    assert(store.indexFreshness("t", "by_grp") == LocalKVStore.IndexStale)
    java.nio.file.Files.delete(rogue)
    assert(store.indexFreshness("t", "by_grp")
      .isInstanceOf[LocalKVStore.IndexDelta])

    // per-shard compaction WITHOUT the index refresh (the crash
    // window `compact` normally closes) moves the watermark: folded
    // journal files are gone, the delta is unenumerable → Stale
    (0 until 2).foreach(store.compactShard("t", _))
    assert(store.indexFreshness("t", "by_grp") == LocalKVStore.IndexStale)
  }

  test("consistentScan pins the journal listing: post-plan writes are invisible to execution") {
    import graft.sources.dynamo.{AttrVal, DynamoInputPartition}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("t", TableMeta("id", None, shards = 4, throughput = 1000000L))
    store.appendWal("t", 1L, "w0", (0 until 10).map(i =>
      store.Put(Map("id" -> AttrVal.S(f"k$i%02d"),
        "v" -> AttrVal.N(BigDecimal(i))))))
    def load(consistent: Boolean) = spark.read.format("dynamo")
      .option("path", root).option("tableName", "t")
      .option("consistentScan", consistent.toString).load()
    def pinPlan(df: org.apache.spark.sql.DataFrame) = {
      val bse = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec"))
      bse.inputPartitions.map(_.asInstanceOf[DynamoInputPartition])
    }
    val pinnedDf = load(consistent = true)
    val pinnedParts = pinPlan(pinnedDf) // forces planning NOW
    assert(pinnedParts.nonEmpty && pinnedParts.forall(_.pinnedWal.isDefined))
    val liveDf = load(consistent = false)
    assert(pinPlan(liveDf).forall(_.pinnedWal.isEmpty))
    // a write lands AFTER both plans exist
    store.appendWal("t", 2L, "w1", Seq(store.Put(Map(
      "id" -> AttrVal.S("zz"), "v" -> AttrVal.N(BigDecimal(99))))))
    // the pinned scan executes against its snapshot; the live scan
    // (tasks list the journal when they run) sees the new row.
    // collect() runs the ALREADY-PLANNED query execution — a new
    // action (count()) would build a new plan and capture a new pin,
    // which is exactly the re-plan case asserted last.
    assert(pinnedDf.collect().length === 10)
    assert(liveDf.collect().length === 11)
    // a FRESH consistent plan captures the new listing
    assert(load(consistent = true).collect().length === 11)
  }

  test("delta-fresh index reads equal the base path under varied pushed filters") {
    import graft.sources.dynamo.AttrVal
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("t", TableMeta("id", None, shards = 4, throughput = 1000000L))
    store.appendWal("t", 1L, "w0", (0 until 120).map(i =>
      store.Put(Map("id" -> AttrVal.S(f"k$i%03d"), "grp" -> AttrVal.S(s"g${i % 5}"),
        "v" -> AttrVal.N(BigDecimal(i))))))
    store.compact("t")
    store.createIndex("t", "by_grp", IndexMeta("grp", None, Some(Seq("v"))))
    // mixed delta: moves, merges, deletes, sparse transitions
    store.appendWal("t", 2L, "w1", Seq(
      store.Put(Map("id" -> AttrVal.S("k001"), "grp" -> AttrVal.S("g4"),
        "v" -> AttrVal.N(BigDecimal(1000)))),
      store.Update(Map("id" -> AttrVal.S("k002"), "v" -> AttrVal.N(BigDecimal(2000)))),
      store.Delete(Map("id" -> AttrVal.S("k003"))),
      store.Put(Map("id" -> AttrVal.S("new1"), "grp" -> AttrVal.S("g0"),
        "v" -> AttrVal.N(BigDecimal(777))))))
    assert(store.indexFreshness("t", "by_grp")
      .isInstanceOf[graft.sources.dynamo.LocalKVStore.IndexJournal])
    def read(deltaOn: Boolean, f: org.apache.spark.sql.Column) = {
      val r = spark.read.format("dynamo")
        .option("path", root).option("tableName", "t")
        .option("indexName", "by_grp")
      (if (deltaOn) r else r.option("gsiDeltaMaxBytes", "0"))
        .load().filter(f).select("id", "grp", "v")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    val filters = Seq(
      col("grp") === "g4",            // index-key equality (shard-pinned)
      col("v") >= 100L,               // projected-attr range
      col("grp").isin("g0", "g1") && col("v") < 50L, // combo
      col("id").startsWith("k00"),    // table-key prefix
      lit(true))                      // full sweep
    filters.zipWithIndex.foreach { case (f, i) =>
      assert(read(deltaOn = true, f) === read(deltaOn = false, f),
        s"filter #$i diverged between the copy+journal serve and the base path")
    }
    // applier lag → the classic DELTA overlay must agree too
    deleteJournalArtifacts(root, "t", "by_grp")
    assert(store.indexFreshness("t", "by_grp")
      .isInstanceOf[graft.sources.dynamo.LocalKVStore.IndexDelta])
    filters.zipWithIndex.foreach { case (f, i) =>
      assert(read(deltaOn = true, f) === read(deltaOn = false, f),
        s"filter #$i diverged between the delta overlay and the base path")
    }
  }

  test("one asOfSeq cut snapshots MULTIPLE tables consistently") {
    import graft.sources.dynamo.AttrVal
    // publish sequences are clock stamps (max(seq, closeTime)), so a
    // single epoch-millis cut is a CROSS-TABLE snapshot coordinate:
    // every table read at the same asOfSeq reflects one moment — the
    // multi-table-consistent read DynamoDB PITR restores give.
    val root = freshRoot()
    val store = new LocalKVStore(root)
    Seq("a", "b").foreach(t => store.createTable(t,
      TableMeta("id", None, shards = 2, throughput = 1000000L)))
    def put(t: String, k: String, v: Int): Unit =
      store.appendWal(t, 1L, s"w$k$v", Seq(store.Put(Map(
        "id" -> AttrVal.S(k), "v" -> AttrVal.N(BigDecimal(v))))))
    put("a", "x", 1); put("b", "y", 1) // epoch 1: both tables at v=1
    Thread.sleep(15)
    val cut = System.currentTimeMillis()
    Thread.sleep(15)
    put("a", "x", 2); put("b", "y", 2) // epoch 2
    def read(t: String, asOf: Option[Long]): Long = {
      val r = asOf.foldLeft(spark.read.format("dynamo")
        .option("path", root).option("tableName", t)) {
        (rd, s) => rd.option("asOfSeq", s.toString)
      }
      r.load().select("v").head().getLong(0)
    }
    assert(read("a", Some(cut)) === 1L && read("b", Some(cut)) === 1L)
    assert(read("a", None) === 2L && read("b", None) === 2L)
  }

  test("consistentScan composes with the GSI delta overlay: images pin to the listing") {
    import graft.sources.dynamo.{AttrVal, DynamoInputPartition}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("t", TableMeta("id", None, shards = 4, throughput = 1000000L))
    store.appendWal("t", 1L, "w0", (0 until 10).map(i =>
      store.Put(Map("id" -> AttrVal.S(f"k$i%02d"), "grp" -> AttrVal.S(s"g${i % 2}"),
        "v" -> AttrVal.N(BigDecimal(i))))))
    store.createIndex("t", "by_grp", IndexMeta("grp", None, Some(Seq("v"))))
    // first delta: an UPDATE-merge on k00 (v=100) — base-DEPENDENT in
    // the replay normal form, so the overlay re-derives the image from
    // the base (a PUT would be base-independent and short-circuit the
    // base read entirely — both plans would then serve the pinned op)
    Thread.sleep(15)
    store.appendWal("t", 2L, "w1", Seq(store.Update(Map(
      "id" -> AttrVal.S("k00"),
      "v" -> AttrVal.N(BigDecimal(100))))))
    def load(consistent: Boolean) = spark.read.format("dynamo")
      .option("path", root).option("tableName", "t")
      .option("indexName", "by_grp")
      .option("consistentScan", consistent.toString).load()
        .filter(col("id") === "k00").select("v")
    def plan(df: org.apache.spark.sql.DataFrame) = {
      val bse = df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      bse.inputPartitions.map(_.asInstanceOf[DynamoInputPartition])
    }
    // a consistentScan PIN declines the write-through journal (a
    // round cannot be partially stripped to the pin listing) and
    // falls back to copy + pin-intersected BUILD delta
    val pinnedDf = load(consistent = true)
    assert(plan(pinnedDf).forall(p =>
      p.viaIndex && p.deltaFiles.nonEmpty && p.journalFiles.isEmpty &&
        p.pinnedWal.isDefined))
    // the live read serves copy+journal — zero overlay, rounds pinned
    // at planning (tasks must agree on the round set for segment
    // disjointness), so execution reflects the plan-time snapshot
    val liveDf = load(consistent = false)
    assert(plan(liveDf).forall(p =>
      p.viaIndex && p.deltaFiles.isEmpty && p.journalFiles.nonEmpty &&
        p.pinnedWal.isEmpty))
    // a write AFTER both plans, SAME touched key: both serve their
    // plan-time snapshot (v=100) — DynamoDB's eventually-consistent
    // GSI lag — while a FRESH plan sees the new image (v=200)
    Thread.sleep(15)
    store.appendWal("t", 3L, "w2", Seq(store.Put(Map(
      "id" -> AttrVal.S("k00"), "grp" -> AttrVal.S("g0"),
      "v" -> AttrVal.N(BigDecimal(200))))))
    assert(pinnedDf.collect().map(_.getLong(0)).toSeq === Seq(100L))
    assert(liveDf.collect().map(_.getLong(0)).toSeq === Seq(100L))
    assert(load(consistent = false).collect().map(_.getLong(0)).toSeq === Seq(200L))
    // applier lag (journal dropped): the live read degrades to the
    // classic pinned-delta overlay — k00's pinned suffix ends in a
    // PUT (base-independent), so the overlay serves the pinned final
    // image with zero base reads
    deleteJournalArtifacts(root, "t", "by_grp")
    val lagDf = load(consistent = false)
    assert(plan(lagDf).forall(p =>
      p.viaIndex && p.deltaFiles.nonEmpty && p.journalFiles.isEmpty))
    assert(lagDf.collect().map(_.getLong(0)).toSeq === Seq(200L))
  }

  test("index-shard zone maps prune GSI scans; any delta disables the skip") {
    import graft.sources.dynamo.{AttrVal, DynamoInputPartition, DynamoOptions, DynamoScan}
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val meta = TableMeta("id", None, shards = 8, throughput = 1000000L)
    // group gX's projected values live in [X*1000, X*1000+99]: a range
    // predicate on v excludes every index shard holding only low groups
    store.bulkLoad("t", meta, (0 until 800).iterator.map { i =>
      val g = i % 8
      Map("id" -> AttrVal.S(f"k$i%04d"), "grp" -> AttrVal.S(s"g$g"),
        "v" -> AttrVal.N(BigDecimal(g * 1000 + i / 8)))
    })
    store.createIndex("t", "by_grp", IndexMeta("grp", None, Some(Seq("v"))))
    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "t", "indexName", "by_grp",
      "readPartitions", "8"))
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("grp", StringType), StructField("v", LongType)))
    def parts(filters: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, filters.toArray).toBatch.planInputPartitions()
        .map(_.asInstanceOf[DynamoInputPartition])

    val full = parts()
    assert(full.length === 8 && full.forall(_.viaIndex))
    val pruned = parts(GreaterThanOrEqual("v", 5000L))
    assert(pruned.nonEmpty && pruned.length < full.length,
      s"expected a strict index-shard subset, got ${pruned.length}/8")
    assert(pruned.forall(p => p.viaIndex && p.deltaFiles.isEmpty))
    // the skip never changes results: g5..g7 qualify, 100 rows each
    val got = spark.read.format("dynamo")
      .option("path", root).option("tableName", "t")
      .option("indexName", "by_grp").option("readPartitions", "8")
      .load().filter(col("v") >= 5000L)
    assert(got.count() === 300L)

    // write-through: the applier WIDENS the target index shard's zone
    // map before publishing its round, so pruning stays ON under the
    // journal tier — the g0 shard (now holding v=9999 via the journal)
    // survives the v>=5000 prune alongside g5..g7, the rest still skip
    store.appendWal("t", 1L, "w0", Seq(store.Put(Map(
      "id" -> AttrVal.S("zzzz"), "grp" -> AttrVal.S("g0"),
      "v" -> AttrVal.N(BigDecimal(9999))))))
    val afterWrite = parts(GreaterThanOrEqual("v", 5000L))
    assert(afterWrite.length < 8,
      s"widened zone maps should keep pruning live, got ${afterWrite.length}/8")
    assert(afterWrite.length > pruned.length,
      "the widened g0 shard must now survive the prune")
    assert(afterWrite.forall(p =>
      p.viaIndex && p.deltaFiles.isEmpty && p.journalFiles.nonEmpty))
    def count() = spark.read.format("dynamo")
      .option("path", root).option("tableName", "t")
      .option("indexName", "by_grp").option("readPartitions", "8")
      .load().filter(col("v") >= 5000L).count()
    assert(count() === 301L)
    // applier lag → classic delta overlay: images aren't covered by
    // the copy's stats, so pruning disables outright (all 8 shards)
    deleteJournalArtifacts(root, "t", "by_grp")
    val afterDelta = parts(GreaterThanOrEqual("v", 5000L))
    assert(afterDelta.length === 8)
    assert(afterDelta.forall(p => p.viaIndex && p.deltaFiles.nonEmpty))
    assert(count() === 301L)
  }

  test("transactional write: one atomic publish per task, oversized task fails with no residue") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    // 3 partitions → 3 transactions, each published with ONE rename
    Seq.tabulate(30)(i => (f"k$i%03d", i.toLong)).toDF("id", "v")
      .repartition(3)
      .write.format("dynamo")
      .option("path", root).option("tableName", "t").option("hashKey", "id")
      .option("transactional", "true")
      .mode("append").save()
    val dir = java.nio.file.Paths.get(root, "t")
    val wal = {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("wal-") && n.endsWith(".jsonl")).toSeq
      finally s.close()
    }
    assert(wal.size === 3 && wal.forall(_.endsWith("-sall.jsonl")), wal)
    val back = spark.read.dynamo(root, "t").select("id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(back === Seq.tabulate(30)(i => (f"k$i%03d", i.toLong)))

    // a task holding more than the TransactWriteItems bound (100 ops)
    // fails loudly, and the failed write leaves NOTHING visible
    val before = spark.read.dynamo(root, "t").count()
    val ex = intercept[Throwable] {
      Seq.tabulate(150)(i => (f"x$i%03d", i.toLong)).toDF("id", "v")
        .coalesce(1)
        .write.format("dynamo")
        .option("path", root).option("tableName", "t")
        .option("transactional", "true")
        .mode("append").save()
    }
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("TransactWriteItems"), messages)
    assert(spark.read.dynamo(root, "t").count() === before)

    // update-mode ops ride the transaction too: merge semantics apply
    Seq(("k001", 999L)).toDF("id", "v")
      .write.format("dynamo")
      .option("path", root).option("tableName", "t")
      .option("transactional", "true").option("update", "true")
      .mode("append").save()
    val merged = spark.read.dynamo(root, "t")
      .filter(col("id") === "k001").select("v").collect()
    assert(merged.map(_.getLong(0)).toSeq === Seq(999L))
  }

  test("compaction reaps stale abandoned write buffers, spares live ones") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)
    val dir = java.nio.file.Paths.get(root, "fruit")
    // an abandoned job-mode stage (25 h — past the JOB threshold), an
    // abandoned plain WAL buffer (2 h — past the TASK threshold)...
    val stale1 = dir.resolve(".wal-00000000000000000010-dead-sall.jsonl.tmp")
    val stale2 = dir.resolve(".wal-00000000000000000011-dead-s003.jsonl.tmp")
    // ...a 2-hour-old staged transaction (could be a LIVE long job —
    // only the day-old threshold applies to -sall), and a young buffer
    val waiting = dir.resolve(".wal-00000000000000000013-slow-sall.jsonl.tmp")
    val young = dir.resolve(".wal-00000000000000000012-live-sall.jsonl.tmp")
    Seq(stale1, stale2, waiting, young).foreach(p => java.nio.file.Files.write(p,
      "x\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    def age(p: java.nio.file.Path, hours: Long) =
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - hours * 60 * 60 * 1000))
    age(stale1, 25); age(stale2, 2); age(waiting, 2)
    store.compact("fruit")
    assert(!java.nio.file.Files.exists(stale1))
    assert(!java.nio.file.Files.exists(stale2))
    assert(java.nio.file.Files.exists(waiting))
    assert(java.nio.file.Files.exists(young))
    // and the data is untouched
    assert(spark.read.dynamo(root, "fruit").count() === 4L)
  }

  test("transactional=job: the driver fence makes the whole job all-or-nothing") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    // success path: tasks stage, the driver publishes all 3 together
    Seq.tabulate(30)(i => (f"k$i%03d", i.toLong)).toDF("id", "v")
      .repartition(3)
      .write.format("dynamo")
      .option("path", root).option("tableName", "t").option("hashKey", "id")
      .option("transactional", "job")
      .mode("append").save()
    assert(spark.read.dynamo(root, "t").count() === 30L)
    val dir = java.nio.file.Paths.get(root, "t")
    def files(pred: String => Boolean) = {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).filter(pred).toSeq
      finally s.close()
    }
    assert(files(n => n.startsWith("wal-") && n.endsWith("-sall.jsonl")).size === 3,
      s"journal listing: ${files(_ => true).sorted.mkString(", ")}")

    // failure path: ONE poison task aborts the JOB — tasks that had
    // already committed only STAGED, so the fence never publishes and
    // nothing becomes visible (vs task mode, where committed tasks'
    // transactions would stay)
    val before = spark.read.dynamo(root, "t").count()
    intercept[Throwable] {
      Seq.tabulate(40)(i => (f"x$i%03d", i.toLong)).toDF("id", "v")
        .repartition(8)
        .withColumn("v", when(col("id") === "x007",
          expr("raise_error('poison row')").cast("long")).otherwise(col("v")))
        .write.format("dynamo")
        .option("path", root).option("tableName", "t")
        .option("transactional", "job")
        .mode("append").save()
    }
    assert(spark.read.dynamo(root, "t").count() === before,
      s"journal listing: ${files(_ => true).sorted.mkString(", ")}")
    // The abort hook discards every staged buffer it can see — but BY
    // CONSTRUCTION the driver's sweep can race a straggler task that
    // stages its buffer AFTER the sweep (task interruption is not
    // instantaneous; observed once under load as a p00005 .tmp pair
    // landing ~350 ms after the committed files). That straggler's
    // residue is exactly the crash-orphan class the store already
    // covers: INVISIBLE to every reader (dot prefix) and reaped by
    // age-gated compaction. Pin that contract, not a literally-empty
    // listing: wait briefly for stragglers, then require any survivor
    // to be an invisible dot-file AND prove the reap clears it.
    def residue() = files(n => n.contains("-sall") && n.endsWith(".tmp"))
    val deadline = System.currentTimeMillis() + 5000
    while (residue().nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    val left = residue()
    if (left.nonEmpty) {
      assert(left.forall(_.startsWith(".")),
        s"VISIBLE residue after job abort: $left")
      left.foreach(n => java.nio.file.Files.setLastModifiedTime(
        dir.resolve(n), java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 25L * 60 * 60 * 1000)))
      new LocalKVStore(root).compact("t")
      assert(residue().isEmpty,
        s"reap left residue: ${files(_ => true).sorted.mkString(", ")}")
      assert(spark.read.dynamo(root, "t").count() === before)
    }
  }

  test("page-stat-answered aggregates: hash-pinned MIN/MAX/COUNT/SUM read zero items") {
    import graft.sources.dynamo.{DynamoAggReaderFactory, DynamoInputPartition,
      DynamoOptions, DynamoScan, DynamoZoneAnswerPartition, PushedAgg, TableMeta, AttrVal}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // ONE shard so both hash keys share a base file: "A" spans exactly
    // 4 full 256-item pages (page-aligned → containable), then "B"'s
    // 600 rows follow — its last page is short but still pure-B.
    store.bulkLoad("pg", TableMeta("hk", Some("rk"), shards = 1,
        throughput = 1000000L),
      (Iterator.tabulate(1024)(i => Map(
        "hk" -> (AttrVal.S("A"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i * 2)): AttrVal))) ++
       Iterator.tabulate(600)(i => Map(
        "hk" -> (AttrVal.S("B"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i * 3)): AttrVal)))))
    val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "pg"))
    val schema = StructType(Seq(
      StructField("hk", StringType), StructField("rk", LongType),
      StructField("v", LongType)))
    val aggs: Seq[PushedAgg] = Seq(
      PushedAgg.MinOf(StructField("v", LongType)),
      PushedAgg.MaxOf(StructField("v", LongType)),
      PushedAgg.CountAll,
      PushedAgg.SumOf(StructField("v", LongType), LongType))
    def parts(pushed: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, pushed.toArray, aggs = aggs)
        .toBatch.planInputPartitions()
    def answered(pushed: org.apache.spark.sql.sources.Filter*)
        : (Long, Long, Long, Long) = {
      val ps = parts(pushed: _*)
      assert(ps.length === 1 && ps.head.isInstanceOf[DynamoZoneAnswerPartition],
        s"expected a pure page-stat answer plan, got ${ps.toSeq}")
      val r = new DynamoAggReaderFactory(opts, pushed.toArray, aggs)
        .createReader(ps.head)
      assert(r.next()); val row = r.get(); assert(!r.next())
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    }
    // hash-pinned, page-aligned key: ZERO scan partitions — the whole
    // aggregate comes from the owning shard's page statistics
    assert(answered(EqualTo("hk", "A")) === ((0L, 2046L, 1024L, 1024L * 1023L)))
    // the short-tail key answers too (its pages are pure-B)
    assert(answered(EqualTo("hk", "B")) === ((0L, 1797L, 600L, 3L * (599L * 600L / 2))))
    // page-aligned sort-key window: [256, 512) is exactly page 2 of A
    assert(answered(EqualTo("hk", "A"), GreaterThanOrEqual("rk", 256L),
      LessThan("rk", 512L)) === ((512L, 1022L, 256L, (512L to 1022L by 2).sum)))
    // an unaligned sort window intersects a page it does not contain →
    // decline to the ordinary paged scan (correct, just not item-free)
    val declined = parts(EqualTo("hk", "A"), LessThan("rk", 100L))
    assert(declined.forall(!_.isInstanceOf[DynamoZoneAnswerPartition]) &&
      declined.nonEmpty, declined.toSeq)
    // a non-key conjunct constrains rows INSIDE pages → decline
    val declined2 = parts(EqualTo("hk", "A"), EqualTo("v", 4L))
    assert(declined2.forall(!_.isInstanceOf[DynamoZoneAnswerPartition]), declined2.toSeq)
    // a journal delta on the owning shard invalidates page truth → decline
    store.appendWal("pg", System.currentTimeMillis() + 900000L, "wz",
      (0 until 256).map(i => store.Put(Map(
        "hk" -> (AttrVal.S("A"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(5000 + i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(1)): AttrVal)))))
    val declined3 = parts(EqualTo("hk", "A"))
    assert(declined3.forall(!_.isInstanceOf[DynamoZoneAnswerPartition]), declined3.toSeq)
    // ...compaction folds the delta and — the new rows keeping A
    // page-aligned — restores the zero-item path
    store.compact("pg")
    val (mn, mx, cnt, sm) = answered(EqualTo("hk", "A"))
    assert((mn, mx, cnt, sm) === ((0L, 2046L, 1280L, 1024L * 1023L + 256L)))
    // end-to-end: the answered plan equals the real computation
    val got = spark.read.dynamo(root, "pg").filter(col("hk") === "A")
      .agg(min("v"), max("v"), count(lit(1)), sum("v")).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ===
      ((0L, 2046L, 1280L, 1024L * 1023L + 256L)))
  }

  test("conflicting hash pins never reach the page-stat answer path (over-coverage regression)") {
    import graft.sources.dynamo.{DynamoOptions, DynamoScan,
      DynamoZoneAnswerPartition, PushedAgg, TableMeta, AttrVal}
    import org.apache.spark.sql.sources.{EqualTo, In}
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("ov", TableMeta("hk", Some("rk"), shards = 1,
        throughput = 1000000L),
      (for (k <- Iterator("A", "B"); i <- Iterator.range(0, 300)) yield Map(
        "hk" -> (AttrVal.S(k): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i)): AttrVal))))
    val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "ov"))
    val schema = StructType(Seq(
      StructField("hk", StringType), StructField("rk", LongType),
      StructField("v", LongType)))
    val aggs: Seq[PushedAgg] = Seq(PushedAgg.CountAll,
      PushedAgg.SumOf(StructField("v", LongType), LongType))
    def parts(pushed: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, pushed.toArray, aggs = aggs)
        .toBatch.planInputPartitions()
    // contradictory equalities: the true answer is the EMPTY set — a
    // first-pin-only window would return A's count/sum from page
    // stats with no row ever re-checking hk='B'
    val contradictory = parts(EqualTo("hk", "A"), EqualTo("hk", "B"))
    assert(contradictory.forall(!_.isInstanceOf[DynamoZoneAnswerPartition]),
      s"contradictory pins must decline the answer path: ${contradictory.toSeq}")
    // IN ∧ EQ intersects to {A}: answering is LEGAL here and must
    // carry exactly A's aggregate
    val ps = parts(In("hk", Array[Any]("A", "B")), EqualTo("hk", "A"))
    assert(ps.length === 1 && ps.head.isInstanceOf[DynamoZoneAnswerPartition],
      s"intersectable pins should still answer: ${ps.toSeq}")
    // end-to-end through the session: both shapes compute the truth
    val r1 = spark.read.dynamo(root, "ov")
      .filter(col("hk") === "A" && col("hk") === "B")
      .agg(count(lit(1)), sum("v")).collect()(0)
    assert(r1.getLong(0) === 0L && r1.isNullAt(1))
    val r2 = spark.read.dynamo(root, "ov")
      .filter(col("hk").isin("A", "B") && col("hk") === "A")
      .agg(count(lit(1)), sum("v")).collect()(0)
    assert((r2.getLong(0), r2.getLong(1)) === ((300L, 299L * 300L / 2)))
  }

  test("hash-group page alignment keeps every large key's run answerable") {
    import graft.sources.dynamo.{DynamoAggReaderFactory, DynamoOptions,
      DynamoScan, DynamoZoneAnswerPartition, PushedAgg, TableMeta, AttrVal}
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // three 300-row groups in ONE shard: without alignment the 44-row
    // tails of A and B would straddle into their successors and
    // poison every window's containment proof — with it, each MIDDLE
    // key still answers with zero item reads
    store.bulkLoad("al", TableMeta("hk", Some("rk"), shards = 1,
        throughput = 1000000L),
      (for (k <- Iterator("A", "B", "C"); i <- Iterator.range(0, 300)) yield Map(
        "hk" -> (AttrVal.S(k): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i)): AttrVal))))
    val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "al"))
    val schema = StructType(Seq(
      StructField("hk", StringType), StructField("rk", LongType),
      StructField("v", LongType)))
    val aggs: Seq[PushedAgg] = Seq(PushedAgg.CountAll,
      PushedAgg.MinOf(StructField("v", LongType)),
      PushedAgg.MaxOf(StructField("v", LongType)))
    Seq("A", "B", "C").foreach { k =>
      val ps = new DynamoScan(opts, schema, Array(EqualTo("hk", k)), aggs = aggs)
        .toBatch.planInputPartitions()
      assert(ps.length === 1 && ps.head.isInstanceOf[DynamoZoneAnswerPartition],
        s"key $k must answer from aligned page stats, got ${ps.toSeq}")
      val r = new DynamoAggReaderFactory(opts, Array(EqualTo("hk", k)), aggs)
        .createReader(ps.head)
      assert(r.next()); val row = r.get()
      assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((300L, 0L, 299L)))
    }
  }

  test("GROUPED page-stat answering: GROUP BY hash key folds one partial per group, zero items") {
    import graft.sources.dynamo.{DynamoGroupAnswerPartition,
      DynamoGroupedAggReaderFactory, DynamoInputPartition, DynamoOptions,
      DynamoScan, PushedAgg, PushedGroupBy, TableMeta, AttrVal}
    import org.apache.spark.sql.sources.{EqualTo, In}
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // aligned groups in ONE shard — every key's run is page-pure
    store.bulkLoad("gp", TableMeta("hk", Some("rk"), shards = 1,
        throughput = 1000000L),
      (for (k <- Iterator("A", "B", "C"); i <- Iterator.range(0, 300)) yield Map(
        "hk" -> (AttrVal.S(k): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i)): AttrVal))))
    val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "gp"))
    val schema = StructType(Seq(
      StructField("hk", StringType), StructField("rk", LongType),
      StructField("v", LongType)))
    val group = PushedGroupBy(Seq(StructField("hk", StringType)),
      keyed = true, unique = false, complete = true)
    val aggs: Seq[PushedAgg] = Seq(PushedAgg.CountAll,
      PushedAgg.SumOf(StructField("v", LongType), LongType))
    def parts(pushed: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, pushed.toArray, aggs = aggs,
        grouped = Some(group)).toBatch.planInputPartitions()
    // hash-IN window → answered: NO scan partitions, one group row per
    // pinned value, each from page statistics alone
    val ps = parts(In("hk", Array[Any]("A", "C")))
    assert(ps.forall(_.isInstanceOf[DynamoGroupAnswerPartition]), ps.toSeq)
    val rows = ps.collect { case g: DynamoGroupAnswerPartition => g.rows }
      .flatten.sortBy(_._1.asInstanceOf[AttrVal.S].v)
    assert(rows.map(_._1) === Seq(AttrVal.S("A"), AttrVal.S("C")))
    rows.foreach { case (_, vals) =>
      assert(vals(0) === Some(AttrVal.N(BigDecimal(300))))
      assert(vals(1) === Some(AttrVal.N(BigDecimal(299 * 300 / 2))))
    }
    // the reader path decodes exactly like the grouped scan
    val factory = new DynamoGroupedAggReaderFactory(opts,
      Array(In("hk", Array[Any]("A", "C"))), group, aggs)
    val got = ps.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (r.next()) {
        val row = r.get()
        buf += ((row.getUTF8String(0).toString, row.getLong(1), row.getLong(2)))
      }
      buf
    }.sortBy(_._1)
    assert(got === Seq(("A", 300L, 44850L), ("C", 300L, 44850L)))
    // a pinned value with no rows emits NO group row (SQL semantics)
    val ps2 = parts(In("hk", Array[Any]("A", "ZZZ")))
    assert(ps2.forall(_.isInstanceOf[DynamoGroupAnswerPartition]))
    val rows2 = ps2.collect { case g: DynamoGroupAnswerPartition => g.rows }.flatten
    assert(rows2.map(_._1) === Seq(AttrVal.S("A")))
    // decline directions, identical to the ungrouped path: a non-key
    // conjunct, then a dirty journal
    val d1 = parts(EqualTo("hk", "A"), EqualTo("v", 4L))
    assert(d1.forall(!_.isInstanceOf[DynamoGroupAnswerPartition]), d1.toSeq)
    store.appendWal("gp", System.currentTimeMillis() + 900000L, "wg",
      Seq(store.Put(Map("hk" -> (AttrVal.S("A"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(5000)): AttrVal)))))
    val d2 = parts(In("hk", Array[Any]("A", "C")))
    assert(d2.forall(!_.isInstanceOf[DynamoGroupAnswerPartition]), d2.toSeq)
    assert(d2.exists(_.isInstanceOf[DynamoInputPartition]))
    // end-to-end: compaction restores the path and the session-level
    // grouped aggregate computes the truth
    store.compact("gp")
    val e2e = spark.read.dynamo(root, "gp")
      .filter(col("hk").isin("A", "B"))
      .groupBy("hk").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("hk").collect()
    assert(e2e.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("A", 301L, 44850L), ("B", 300L, 44850L)))
  }

  test("LSI: consistent reads, base-item overfetch, shard locality; GSI rejections") {
    import graft.sources.dynamo.{AttrVal, DynamoInputPartition, DynamoOptions,
      DynamoScan}
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("lt", TableMeta("hk", Some("rk"), shards = 4,
        throughput = 1000000L),
      (for (k <- Iterator("A", "B", "C"); i <- Iterator.range(0, 40)) yield Map(
        "hk" -> (AttrVal.S(k): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal((i * 7) % 40)): AttrVal),
        "extra" -> (AttrVal.S(s"x$k$i"): AttrVal))))

    // LSI shape rules (DynamoDB): the table's partition key, an
    // alternate sort key, and a composite-key base — each enforced
    intercept[IllegalArgumentException] {
      store.createIndex("lt", "bad1", IndexMeta("v", Some("rk"), None, local = true))
    }
    intercept[IllegalArgumentException] {
      store.createIndex("lt", "bad2", IndexMeta("hk", None, None, local = true))
    }

    store.createIndex("lt", "byv",
      IndexMeta("hk", Some("v"), Some(Seq.empty), local = true))
    store.createIndex("lt", "gv",
      IndexMeta("hk", Some("v"), Some(Seq.empty), local = false))

    // ConsistentRead on a GSI → rejected up front (DynamoDB's
    // ValidationException parity)
    val gsiCons = intercept[IllegalArgumentException] {
      spark.read.format("dynamo")
        .option("path", root).option("tableName", "lt")
        .option("indexName", "gv")
        .option("stronglyConsistentReads", "true").load()
    }
    assert(gsiCons.getMessage.contains("global secondary index"))

    // inference: the LSI exposes ALL attributes (base-item fetch);
    // the structurally identical GSI exposes only the projection
    val lsiDf = spark.read.format("dynamo")
      .option("path", root).option("tableName", "lt")
      .option("indexName", "byv")
      .option("stronglyConsistentReads", "true").load()
    assert(lsiDf.schema.fieldNames.sorted.toSeq == Seq("extra", "hk", "rk", "v"))
    val gsiDf = spark.read.format("dynamo")
      .option("path", root).option("tableName", "lt")
      .option("indexName", "gv").load()
    assert(gsiDf.schema.fieldNames.sorted.toSeq == Seq("hk", "rk", "v"))

    // overfetch: the LSI serves the non-projected attr from the
    // co-located base item; the GSI read naming it throws OUR error
    // (an explicit schema dodges the unresolved-column analysis path)
    val fetched = lsiDf.filter(col("hk") === "A" && col("v") === 7)
      .select("hk", "rk", "v", "extra").collect()
    assert(fetched.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getString(3))).toSeq == Seq(("A", 1L, 7L, "xA1")))
    val wideSchema = StructType(Seq(StructField("hk", StringType),
      StructField("rk", LongType), StructField("v", LongType),
      StructField("extra", StringType)))
    val gEx = intercept[Throwable] {
      spark.read.format("dynamo").schema(wideSchema)
        .option("path", root).option("tableName", "lt")
        .option("indexName", "gv").load()
        .select("hk", "extra").collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
    assert(msgs(gEx).contains("not projected"), msgs(gEx))

    // strong consistency: a write AFTER the index build is visible to
    // the very next consistent LSI read, and the plan never claims a
    // viaIndex partition (the base fold IS the consistent serve)
    store.appendWal("lt", System.currentTimeMillis() + 990000L, "w1",
      Seq(store.Put(Map("hk" -> (AttrVal.S("A"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(99)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(41)): AttrVal),
        "extra" -> (AttrVal.S("fresh"): AttrVal)))))
    val fresh = lsiDf.filter(col("v") === 41).select("extra").collect()
    assert(fresh.map(_.getString(0)).toSeq == Seq("fresh"))
    val consOpts = DynamoOptions(java.util.Map.of("path", root,
      "tableName", "lt", "indexName", "byv",
      "stronglyConsistentReads", "true"))
    val ps = new DynamoScan(consOpts, wideSchema,
      Array.empty[org.apache.spark.sql.sources.Filter])
      .toBatch.planInputPartitions()
    assert(ps.collect { case p: DynamoInputPartition => p }.nonEmpty)
    assert(ps.collect { case p: DynamoInputPartition => p }.forall(!_.viaIndex))
    // LSI locality: the hash pin prunes the consistent serve to the
    // owning BASE shard (index hash key == table partition key)
    val pinnedPs = new DynamoScan(consOpts, wideSchema,
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("hk", "A")))
      .toBatch.planInputPartitions()
    assert(pinnedPs.length == 1, pinnedPs.toSeq)

    // sparse rule (DynamoDB): an item missing the LSI sort key is
    // invisible through the index, visible in the base read
    store.appendWal("lt", System.currentTimeMillis() + 990001L, "w2",
      Seq(store.Put(Map("hk" -> (AttrVal.S("A"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(100)): AttrVal),
        "extra" -> (AttrVal.S("nosort"): AttrVal)))))
    assert(lsiDf.filter(col("rk") === 100).count() == 0L)
    assert(spark.read.dynamo(root, "lt").filter(col("rk") === 100).count() == 1L)

    // cross-path law: a WITHIN-projection, non-consistent LSI read
    // may serve from the materialized copy (+ delta overlay) — and
    // must equal the consistent base fold row for row (the sparse
    // item absent from both)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.select("hk", "rk", "v").orderBy("hk", "rk").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val copyRead = spark.read.format("dynamo")
      .option("path", root).option("tableName", "lt")
      .option("indexName", "byv").load()
    assert(rows(copyRead) == rows(lsiDf))
    val narrow = StructType(Seq(StructField("hk", StringType),
      StructField("rk", LongType), StructField("v", LongType)))
    val psCopy = new DynamoScan(
      DynamoOptions(java.util.Map.of("path", root, "tableName", "lt",
        "indexName", "byv")), narrow,
      Array.empty[org.apache.spark.sql.sources.Filter])
      .toBatch.planInputPartitions()
    assert(psCopy.collect { case p: DynamoInputPartition => p }.exists(_.viaIndex),
      s"within-projection non-consistent LSI read should serve the copy: ${psCopy.toSeq}")
  }

  test("LAW: consistent LSI reads equal the reference fold under random storms") {
    // Random put/update/delete batches (sparse puts included) with
    // interleaved compactions, checked every round against a
    // functional model: the consistent LSI read must show exactly the
    // items carrying the alternate sort key, with ALL attributes
    // (base-item fetch), no matter how the journal/base/copy tiers
    // happen to be arranged when the read lands.
    import graft.sources.dynamo.AttrVal
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("hk", StringType),
      StructField("rk", LongType), StructField("v", LongType),
      StructField("w", StringType)))
    (0 until 3).foreach { seedI =>
      val rnd = new scala.util.Random(77L + seedI)
      val root = freshRoot()
      val store = new LocalKVStore(root)
      store.createTable("st", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L))
      store.createIndex("st", "byv",
        IndexMeta("hk", Some("v"), Some(Seq.empty), local = true))
      val model = scala.collection.mutable.Map.empty[(String, Long), Map[String, AttrVal]]
      def key(h: String, r: Long): Map[String, AttrVal] =
        Map("hk" -> AttrVal.S(h), "rk" -> AttrVal.N(BigDecimal(r)))
      (0 until 6).foreach { round =>
        val ops = (0 until 30).map { _ =>
          val h = s"h${rnd.nextInt(4)}"; val r = rnd.nextInt(25).toLong
          rnd.nextInt(5) match {
            case 0 =>
              model.remove((h, r)); store.Delete(key(h, r))
            case 1 => // sparse put: no alternate sort key
              val it = key(h, r) + ("w" -> (AttrVal.S(s"w$round"): AttrVal))
              model((h, r)) = it; store.Put(it)
            case 2 => // update-merge: may CREATE the sort key (item
              // becomes index-visible) or overwrite it
              val add: Map[String, AttrVal] =
                Map("v" -> AttrVal.N(BigDecimal(rnd.nextInt(100))))
              model((h, r)) = model.getOrElse((h, r), key(h, r)) ++ add
              store.Update(key(h, r) ++ add)
            case _ =>
              val it = key(h, r) ++ (Map(
                "v" -> AttrVal.N(BigDecimal(rnd.nextInt(100))),
                "w" -> AttrVal.S(s"p$round")): Map[String, AttrVal])
              model((h, r)) = it; store.Put(it)
          }
        }
        store.appendWal("st", System.currentTimeMillis(),
          s"s$seedI-r$round", ops)
        if (rnd.nextInt(2) == 0) store.compact("st")
        val got = spark.read.format("dynamo").schema(schema)
          .option("path", root).option("tableName", "st")
          .option("indexName", "byv")
          .option("stronglyConsistentReads", "true")
          .load().collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            Option(r.getString(3)))).toSet
        val want = model.values.filter(_.contains("v")).map(it => (
          it("hk").asInstanceOf[AttrVal.S].v,
          it("rk").asInstanceOf[AttrVal.N].v.toLong,
          it("v").asInstanceOf[AttrVal.N].v.toLong,
          it.get("w").map(_.asInstanceOf[AttrVal.S].v))).toSet
        assert(got == want,
          s"seed $seedI round $round: got=${got.size} want=${want.size}\n" +
            s"missing=${want -- got}\nextra=${got -- want}")
      }
    }
  }

  test("LSI Query: hash pin windows the consistent base read to the owning pages") {
    import graft.sources.dynamo.AttrVal
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("ltp", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      (for (k <- Iterator("a", "b", "c", "d"); i <- Iterator.range(0, 1500)) yield Map(
        "hk" -> (AttrVal.S(k): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal((i * 31) % 1500)): AttrVal))))
    store.createIndex("ltp", "byv", IndexMeta("hk", Some("v"), None, local = true))
    val df = spark.read.format("dynamo")
      .option("path", root).option("tableName", "ltp")
      .option("indexName", "byv")
      .option("stronglyConsistentReads", "true").load()
      .filter(col("hk") === "b" && col("v") >= 100 && col("v") <= 150)
      .select("hk", "rk", "v")
    val got = df.collect()
    assert(got.length == 51)
    assert(got.forall(r => r.getString(0) == "b" &&
      r.getLong(2) >= 100 && r.getLong(2) <= 150))
    // The consistent serve demotes to the base path; the hash pin is
    // a TABLE-partition pin, so shard pruning keeps one of two shards
    // (~3000 items) and the hash-group page window bounds the read to
    // ~the owning 1500-item run (the alternate-sort conditions are
    // non-positional in base pages — the run reads whole). Anything
    // ≤1600 proves the WINDOW, not just the shard prune.
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .find(_.nodeName.contains("BatchScan")).getOrElse(fail("no BatchScan"))
    val scanned = scan.metrics("itemsScanned").value
    assert(scanned <= 1600, s"expected a hash-windowed paged read, scanned $scanned")
  }

  test("eventually-consistent LSI reads serve the copy-backed tiers like a GSI") {
    import graft.sources.dynamo.{AttrVal, DynamoInputPartition, DynamoOptions,
      DynamoScan, IndexMeta, TableMeta}
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("lc", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      (for (k <- Iterator("a", "b"); i <- Iterator.range(0, 50)) yield Map(
        "hk" -> (AttrVal.S(k): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "alt" -> (AttrVal.N(BigDecimal((i * 7) % 50)): AttrVal))))
    store.createIndex("lc", "byalt", IndexMeta("hk", Some("alt"), None, local = true))
    val schema = StructType(Seq(StructField("hk", StringType),
      StructField("rk", LongType), StructField("alt", LongType)))
    def parts(consistent: Boolean) = new DynamoScan(
      DynamoOptions(java.util.Map.of("path", root, "tableName", "lc",
        "indexName", "byalt", "stronglyConsistentReads", consistent.toString)),
      schema, Array.empty[org.apache.spark.sql.sources.Filter])
      .toBatch.planInputPartitions()
    // DEFAULT (eventually-consistent) LSI read: the materialized copy
    // is exact → the copy-backed tier serves, exactly like a GSI
    // (consistency is the ONLY thing the LSI locality upgrades; the
    // cheap copy tiers stay available to the default read)
    val ev = parts(consistent = false)
    assert(ev.nonEmpty && ev.forall {
      case p: DynamoInputPartition => p.viaIndex
      case _ => false
    }, s"eventually-consistent LSI read must serve the copy: ${ev.toSeq}")
    // stronglyConsistentReads: demotes to the base partition's
    // reader-time fold (the copy is a plan-time snapshot)
    val con = parts(consistent = true)
    assert(con.nonEmpty && con.forall {
      case p: DynamoInputPartition => !p.viaIndex
      case _ => true
    }, s"consistent LSI read must fold the live base: ${con.toSeq}")
    // both serve the same rows here (no in-flight writes)
    def rows(consistent: Boolean) = spark.read.format("dynamo")
      .option("path", root).option("tableName", "lc")
      .option("indexName", "byalt")
      .option("stronglyConsistentReads", consistent.toString).load()
      .select("hk", "rk", "alt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows(consistent = false) === rows(consistent = true))
  }

  test("FILTERLESS GROUP BY hash key answers wholly from page directories") {
    import graft.sources.dynamo.{DynamoGroupAnswerPartition,
      DynamoGroupedAggReaderFactory, DynamoOptions, DynamoScan, PushedAgg,
      PushedGroupBy, TableMeta, AttrVal}
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // two shards, four aligned groups — groups enumerate from the
    // sidecars' own page bounds, no pushed filter anywhere
    store.bulkLoad("gz", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      (for (k <- Iterator("A", "B", "C", "D"); i <- Iterator.range(0, 300)) yield Map(
        "hk" -> (AttrVal.S(k): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i)): AttrVal))))
    val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "gz"))
    val schema = StructType(Seq(
      StructField("hk", StringType), StructField("rk", LongType),
      StructField("v", LongType)))
    val group = PushedGroupBy(Seq(StructField("hk", StringType)),
      keyed = true, unique = false, complete = true)
    // avg included: COMPLETE grouped pushes carry AvgOf, and the
    // answer path serves it exactly under the 2^53 proof
    val aggs: Seq[PushedAgg] = Seq(PushedAgg.CountAll,
      PushedAgg.SumOf(StructField("v", LongType), LongType),
      PushedAgg.AvgOf(StructField("v", LongType)))
    def parts() = new DynamoScan(opts, schema,
      Array.empty[org.apache.spark.sql.sources.Filter], aggs = aggs,
      grouped = Some(group)).toBatch.planInputPartitions()
    val ps = parts()
    assert(ps.forall(_.isInstanceOf[DynamoGroupAnswerPartition]),
      s"filterless grouped agg must answer from sidecars: ${ps.toSeq}")
    val factory = new DynamoGroupedAggReaderFactory(opts,
      Array.empty, group, aggs)
    val got = ps.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Double)]
      while (r.next()) {
        val row = r.get()
        buf += ((row.getUTF8String(0).toString, row.getLong(1),
          row.getLong(2), row.getDouble(3)))
      }
      buf
    }.sortBy(_._1)
    assert(got === Seq("A", "B", "C", "D").map(k =>
      (k, 300L, 44850L, 44850.0 / 300)))
    // e2e: the session-level filterless grouped aggregate agrees
    val e2e = spark.read.dynamo(root, "gz")
      .groupBy("hk").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("hk").collect()
    assert(e2e.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq("A", "B", "C", "D").map(k => (k, 300L, 44850L)))
    // ANY journal declines (a new group could live only there)
    store.appendWal("gz", System.currentTimeMillis() + 900000L, "wz",
      Seq(store.Put(Map("hk" -> (AttrVal.S("E"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(1)): AttrVal)))))
    assert(parts().forall(!_.isInstanceOf[DynamoGroupAnswerPartition]))
    store.compact("gz")
    assert(parts().forall(_.isInstanceOf[DynamoGroupAnswerPartition]))
    // small interleaved groups → impure pages → decline (row truth
    // still served by the ordinary grouped scan)
    val root2 = freshRoot()
    val st2 = new LocalKVStore(root2)
    st2.bulkLoad("gz2", TableMeta("hk", Some("rk"), shards = 1,
        throughput = 1000000L),
      (for (i <- Iterator.range(0, 600)) yield Map(
        "hk" -> (AttrVal.S(f"h${i / 4}%04d"): AttrVal), // 4-row groups
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i)): AttrVal))))
    val opts2 = DynamoOptions(java.util.Map.of("path", root2, "tableName", "gz2"))
    val ps2 = new DynamoScan(opts2, schema,
      Array.empty[org.apache.spark.sql.sources.Filter], aggs = aggs,
      grouped = Some(group)).toBatch.planInputPartitions()
    assert(ps2.forall(!_.isInstanceOf[DynamoGroupAnswerPartition]),
      "dense small groups must decline the sidecar answer")
  }

  test("LAW: integer-hash-key filterless grouped answers equal the scanned truth; fractional/float declines") {
    import graft.sources.dynamo.{DynamoGroupAnswerPartition,
      DynamoGroupedAggReaderFactory, DynamoOptions, DynamoScan, PushedAgg,
      PushedGroupBy, TableMeta, AttrVal}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("hk", LongType), StructField("rk", LongType),
      StructField("v", LongType)))
    val group = PushedGroupBy(Seq(StructField("hk", LongType)),
      keyed = true, unique = false, complete = true)
    val aggs: Seq[PushedAgg] = Seq(PushedAgg.CountAll,
      PushedAgg.SumOf(StructField("v", LongType), LongType),
      PushedAgg.MinOf(StructField("v", LongType)))
    var answeredRuns = 0
    (0 until 8).foreach { seed =>
      val rnd = new scala.util.Random(seed.toLong)
      val root = freshRoot()
      val store = new LocalKVStore(root)
      // random INTEGER hash keys, negatives and epoch-scale included
      // (the time-series shape the admission exists for); group sizes
      // above the page grain so hash-group alignment keeps pages pure
      val hks = (0 until 2 + rnd.nextInt(3)).map(_ =>
        rnd.nextLong() % 2000000000000L).distinct
      val rows = hks.flatMap { hk =>
        (0 until 270 + rnd.nextInt(300)).map { i => Map(
          "hk" -> (AttrVal.N(BigDecimal(hk)): AttrVal),
          "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
          "v" -> (AttrVal.N(BigDecimal(rnd.nextInt(2000) - 1000L)): AttrVal))
        }
      }
      store.bulkLoad("ilaw", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L), rows.iterator)
      val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "ilaw"))
      val ps = new DynamoScan(opts, schema,
        Array.empty[org.apache.spark.sql.sources.Filter], aggs = aggs,
        grouped = Some(group)).toBatch.planInputPartitions()
      if (ps.forall(_.isInstanceOf[DynamoGroupAnswerPartition])) {
        answeredRuns += 1
        val factory = new DynamoGroupedAggReaderFactory(opts,
          Array.empty, group, aggs)
        val got = ps.flatMap { p =>
          val r = factory.createReader(p)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          while (r.next()) {
            val row = r.get()
            buf += ((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))
          }
          buf
        }.sortBy(_._1)
        val truth = rows.groupBy(_("hk").asInstanceOf[AttrVal.N].v.toLong)
          .map { case (hk, its) =>
            val vs = its.map(_("v").asInstanceOf[AttrVal.N].v.toLong)
            (hk, its.size.toLong, vs.sum, vs.min)
          }.toSeq.sortBy(_._1)
        assert(got.toSeq === truth, s"seed $seed grouped answer != scanned truth")
      }
    }
    assert(answeredRuns >= 6,
      s"integer grouped law rarely answered ($answeredRuns/8) — alignment drifted")
    // a FRACTIONAL stored key would coerce under the scan codec's Long
    // decode (possibly merging groups the encoding kept apart) — the
    // whole plan must decline to the ordinary scan
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("ifrac", TableMeta("hk", Some("rk"), shards = 1,
        throughput = 1000000L),
      (for (hk <- Iterator(BigDecimal(1), BigDecimal("1.5"));
            i <- Iterator.range(0, 300)) yield Map(
        "hk" -> (AttrVal.N(hk): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i)): AttrVal))))
    val optsF = DynamoOptions(java.util.Map.of("path", root, "tableName", "ifrac"))
    val psF = new DynamoScan(optsF, schema,
      Array.empty[org.apache.spark.sql.sources.Filter], aggs = aggs,
      grouped = Some(group)).toBatch.planInputPartitions()
    assert(psF.forall(!_.isInstanceOf[DynamoGroupAnswerPartition]),
      "fractional stored key must decline the integral admission")
    // float/double group columns have no injective decode — type gate
    val psD = new DynamoScan(optsF,
      StructType(Seq(StructField("hk", DoubleType), StructField("rk", LongType),
        StructField("v", LongType))),
      Array.empty[org.apache.spark.sql.sources.Filter], aggs = aggs,
      grouped = Some(PushedGroupBy(Seq(StructField("hk", DoubleType)),
        keyed = true, unique = false, complete = true)))
      .toBatch.planInputPartitions()
    assert(psD.forall(!_.isInstanceOf[DynamoGroupAnswerPartition]),
      "double group column must keep declining")
  }

  test("decimal SUM answers from sidecars exactly; fractional-beyond-scale declines") {
    import graft.sources.dynamo.{DynamoAggReaderFactory, DynamoOptions,
      DynamoScan, DynamoZoneAnswerPartition, PushedAgg, TableMeta, AttrVal}
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // money-shaped values: scale ≤ 2, mixed signs
    val vals = (0 until 700).map(i => BigDecimal(i * 37 - 9000) / 100)
    store.bulkLoad("dec", TableMeta("hk", Some("rk"), shards = 1,
        throughput = 1000000L),
      vals.iterator.zipWithIndex.map { case (v, i) => Map(
        "hk" -> (AttrVal.S("A"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "bal" -> (AttrVal.N(v): AttrVal)) })
    val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "dec"))
    val fld = StructField("bal", DecimalType(12, 2))
    val wide = DecimalType(22, 2)
    val schema = StructType(Seq(
      StructField("hk", StringType), StructField("rk", LongType), fld))
    val aggs: Seq[PushedAgg] = Seq(PushedAgg.CountAll,
      PushedAgg.SumOf(fld, wide), PushedAgg.MinOf(fld), PushedAgg.MaxOf(fld),
      PushedAgg.CountOf(fld))
    def parts(pushed: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, pushed.toArray, aggs = aggs)
        .toBatch.planInputPartitions()
    val ps = parts(EqualTo("hk", "A"))
    assert(ps.length === 1 && ps.head.isInstanceOf[DynamoZoneAnswerPartition],
      s"decimal SUM must answer from page stats: ${ps.toSeq}")
    val r = new DynamoAggReaderFactory(opts, Array(EqualTo("hk", "A")), aggs)
      .createReader(ps.head)
    assert(r.next()); val row = r.get(); assert(!r.next())
    assert(row.getLong(0) === 700L)
    assert(row.getDecimal(1, 22, 2).toBigDecimal === vals.sum)
    assert(row.getDecimal(2, 12, 2).toBigDecimal === vals.min)
    assert(row.getDecimal(3, 12, 2).toBigDecimal === vals.max)
    assert(row.getLong(4) === 700L)
    // the SCANNED plan (answer declined by a dirty journal) computes
    // the identical decimal through the pushed accumulator
    store.appendWal("dec", System.currentTimeMillis() + 900000L, "wd",
      Seq(store.Put(Map("hk" -> (AttrVal.S("A"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(9000)): AttrVal),
        "bal" -> (AttrVal.N(BigDecimal("1.25")): AttrVal)))))
    val ps2 = parts(EqualTo("hk", "A"))
    assert(ps2.forall(!_.isInstanceOf[DynamoZoneAnswerPartition]))
    val r2 = new DynamoAggReaderFactory(opts, Array(EqualTo("hk", "A")), aggs)
      .createReader(ps2.head)
    assert(r2.next()); val row2 = r2.get()
    assert(row2.getLong(0) === 701L)
    assert(row2.getDecimal(1, 22, 2).toBigDecimal ===
      vals.sum + BigDecimal("1.25"))
    assert(row2.getDecimal(2, 12, 2).toBigDecimal === vals.min)
    assert(row2.getDecimal(3, 12, 2).toBigDecimal === vals.max)
    // a value with scale BEYOND the field's (0.005) would round in
    // the per-item decode — the answer path must decline, the scan
    // path still computes (decode rounds exactly like the row path)
    store.compact("dec")
    store.appendWal("dec", System.currentTimeMillis() + 950000L, "wd2",
      Seq(store.Put(Map("hk" -> (AttrVal.S("A"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(9001)): AttrVal),
        "bal" -> (AttrVal.N(BigDecimal("0.005")): AttrVal)))))
    store.compact("dec")
    val ps3 = parts(EqualTo("hk", "A"))
    assert(ps3.forall(!_.isInstanceOf[DynamoZoneAnswerPartition]),
      "scale-overflowing value must decline the decimal SUM answer")
  }

  test("LAW: page-stat-answered aggregates equal the scanned truth, for any key window") {
    import graft.sources.dynamo.{DynamoAggReaderFactory, DynamoOptions,
      DynamoScan, DynamoZoneAnswerPartition, PushedAgg, TableMeta, AttrVal}
    import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
      GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
    import org.apache.spark.sql.types._
    val aggs: Seq[PushedAgg] = Seq(
      PushedAgg.MinOf(StructField("v", LongType)),
      PushedAgg.MaxOf(StructField("v", LongType)),
      PushedAgg.CountAll,
      PushedAgg.CountOf(StructField("v", LongType)),
      PushedAgg.SumOf(StructField("v", LongType), LongType),
      // decimal SUM/MIN/MAX ride the same law: exact cents, scale 2
      PushedAgg.SumOf(StructField("w", DecimalType(12, 2)), DecimalType(22, 2)),
      PushedAgg.MinOf(StructField("w", DecimalType(12, 2))),
      PushedAgg.MaxOf(StructField("w", DecimalType(12, 2))))
    val schema = StructType(Seq(
      StructField("hk", StringType), StructField("rk", LongType),
      StructField("v", LongType), StructField("w", DecimalType(12, 2))))
    var answeredRuns = 0
    (0 until 12).foreach { seed =>
      val rnd = new scala.util.Random(seed.toLong)
      val root = freshRoot()
      val store = new LocalKVStore(root)
      val keysN = 2 + rnd.nextInt(3)
      val hks = (0 until keysN).map(i => s"K$i")
      // per-key row counts straddle the 256-item page size so pure
      // AND boundary pages both occur across seeds; ~10% of rows
      // carry no `v` (sparse attribute → present-counter paths)
      val rows = hks.flatMap { hk =>
        val n = 100 + rnd.nextInt(500)
        (0 until n).map { i =>
          val base = Map(
            "hk" -> (AttrVal.S(hk): AttrVal),
            "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal))
          val withV =
            if (rnd.nextInt(10) == 0) base
            else base + ("v" -> (AttrVal.N(BigDecimal(rnd.nextInt(2000) - 1000L)): AttrVal))
          if (rnd.nextInt(10) == 0) withV
          else withV + ("w" ->
            (AttrVal.N(BigDecimal(rnd.nextInt(400000) - 200000L) / 100): AttrVal))
        }
      }
      store.bulkLoad("law", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L), rows.iterator)
      val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "law"))
      // random window: hash EQ or IN(2), optional sort bounds
      val pinnedHks =
        if (rnd.nextBoolean()) Seq(hks(rnd.nextInt(keysN)))
        else rnd.shuffle(hks).take(2).sorted
      val hashF: Filter =
        if (pinnedHks.size == 1) EqualTo("hk", pinnedHks.head)
        else In("hk", pinnedHks.toArray[Any])
      val boundFs = scala.collection.mutable.ArrayBuffer.empty[Filter]
      var (lo, loInc, hi, hiInc) = (Long.MinValue, true, Long.MaxValue, true)
      if (rnd.nextBoolean()) {
        val b = rnd.nextInt(700).toLong
        if (rnd.nextBoolean()) { boundFs += GreaterThanOrEqual("rk", b); lo = b; loInc = true }
        else { boundFs += GreaterThan("rk", b); lo = b; loInc = false }
      }
      if (rnd.nextBoolean()) {
        val b = rnd.nextInt(700).toLong
        if (rnd.nextBoolean()) { boundFs += LessThanOrEqual("rk", b); hi = b; hiInc = true }
        else { boundFs += LessThan("rk", b); hi = b; hiInc = false }
      }
      val pushed = (hashF +: boundFs.toSeq).toArray
      val ps = new DynamoScan(opts, schema, pushed, aggs = aggs)
        .toBatch.planInputPartitions()
      if (ps.length == 1 && ps.head.isInstanceOf[DynamoZoneAnswerPartition]) {
        answeredRuns += 1
        val r = new DynamoAggReaderFactory(opts, pushed, aggs)
          .createReader(ps.head)
        assert(r.next()); val row = r.get(); assert(!r.next())
        // scanned truth over the same window semantics
        val in = rows.filter { it =>
          val hk = it("hk").asInstanceOf[AttrVal.S].v
          val rk = it("rk").asInstanceOf[AttrVal.N].v.toLong
          pinnedHks.contains(hk) &&
            (if (loInc) rk >= lo else rk > lo) &&
            (if (hiInc) rk <= hi else rk < hi)
        }
        val vs = in.flatMap(_.get("v")).map(_.asInstanceOf[AttrVal.N].v.toLong)
        def lg(i: Int): Option[Long] = if (row.isNullAt(i)) None else Some(row.getLong(i))
        assert(lg(0) === vs.minOption, s"seed $seed MIN")
        assert(lg(1) === vs.maxOption, s"seed $seed MAX")
        assert(lg(2) === Some(in.size.toLong), s"seed $seed COUNT(*)")
        assert(lg(3) === Some(vs.size.toLong), s"seed $seed COUNT(v)")
        assert(lg(4) === (if (vs.isEmpty) None else Some(vs.sum)), s"seed $seed SUM")
        val ws = in.flatMap(_.get("w")).map(_.asInstanceOf[AttrVal.N].v)
        val wGot = if (row.isNullAt(5)) None
          else Some(row.getDecimal(5, 22, 2).toBigDecimal)
        assert(wGot === (if (ws.isEmpty) None else Some(ws.sum)),
          s"seed $seed SUM(decimal)")
        def dec(i: Int): Option[BigDecimal] = if (row.isNullAt(i)) None
          else Some(row.getDecimal(i, 12, 2).toBigDecimal)
        assert(dec(6) === ws.minOption, s"seed $seed MIN(decimal)")
        assert(dec(7) === ws.maxOption, s"seed $seed MAX(decimal)")
      }
    }
    assert(answeredRuns >= 2,
      s"law never exercised the answered path ($answeredRuns runs) — data shape drifted")
  }

  test("zone-map-answered MIN/MAX: exact stats answer without scanning, inexactness declines") {
    import spark.implicits._
    import graft.sources.dynamo.{DynamoAggReaderFactory, DynamoInputPartition,
      DynamoOptions, DynamoScan, DynamoZoneAnswerPartition, PushedAgg}
    import org.apache.spark.sql.types._
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)
    val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "fruit"))
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("color", StringType),
      StructField("weight_kg", DoubleType), StructField("stock", LongType)))
    val aggs: Seq[PushedAgg] = Seq(
      PushedAgg.MinOf(StructField("weight_kg", DoubleType)),
      PushedAgg.MaxOf(StructField("weight_kg", DoubleType)),
      PushedAgg.MinOf(StructField("name", StringType)),
      PushedAgg.MaxOf(StructField("stock", LongType)),
      PushedAgg.CountAll,
      PushedAgg.CountOf(StructField("color", StringType)),
      PushedAgg.SumOf(StructField("stock", LongType), LongType))
    def parts(pushed: org.apache.spark.sql.sources.Filter*) =
      new DynamoScan(opts, schema, pushed.toArray, aggs = aggs)
        .toBatch.planInputPartitions()

    // journal not yet compacted: the journal-DIRTY shards plan scan
    // segments while the clean (here: empty) shards fold into the
    // answer partition — the fast path degrades per shard, it doesn't
    // vanish. The exact numRows statistic stays journal-empty-only.
    assert(store.journalEmpty("fruit") === false)
    val mixed0 = parts()
    assert(mixed0.count(_.isInstanceOf[DynamoZoneAnswerPartition]) === 1, mixed0.toSeq)
    assert(mixed0.exists(_.isInstanceOf[DynamoInputPartition]), mixed0.toSeq)
    assert(!new DynamoScan(opts, schema, Array.empty)
      .estimateStatistics().numRows().isPresent)
    // end-to-end equality holds on the mixed plan too
    val preGot = spark.read.dynamo(root, "fruit")
      .agg(min("weight_kg").as("a"), max("stock").as("b")).collect()(0)
    assert((preGot.getDouble(0), preGot.getLong(1)) === ((0.005, 100L)))

    // compacted: journal empty, base sidecars exact → ONE metadata
    // partition carrying the answer; the reader emits it with zero
    // item reads, decoded through the normal Codec path
    store.compact("fruit")
    val fast = parts()
    assert(fast.length === 1 && fast.head.isInstanceOf[DynamoZoneAnswerPartition], fast.toSeq)
    // the same exactness condition feeds numRows (DescribeTable's
    // ItemCount) to Catalyst's cost models
    assert(new DynamoScan(opts, schema, Array.empty)
      .estimateStatistics().numRows().getAsLong === 4L)
    val r = new DynamoAggReaderFactory(opts, Array.empty, aggs)
      .createReader(fast.head)
    assert(r.next())
    val row = r.get()
    assert(row.getDouble(0) === 0.005 && row.getDouble(1) === 2.5)
    assert(row.getUTF8String(2).toString === "apple" && row.getLong(3) === 100L)
    assert(row.getLong(4) === 4L) // COUNT(*) from the summed item counters
    assert(row.getLong(5) === 4L) // COUNT(color): non-null occurrences
    assert(row.getLong(6) === 109L) // SUM(stock) from the exact N-sum
    assert(!r.next())

    // any pushed filter makes stats insufficient → normal scan plan
    assert(parts(org.apache.spark.sql.sources.EqualTo("color", "red"))
      .forall(_.isInstanceOf[DynamoInputPartition]))

    // end-to-end through the DataFrame API: same values as a scan
    val got = spark.read.dynamo(root, "fruit")
      .agg(min("weight_kg").as("a"), max("weight_kg").as("b"),
           min("name").as("c"), max("stock").as("d"),
           count(lit(1)).as("n"), count(col("color")).as("nc"),
           sum("stock").as("s")).collect()(0)
    assert((got.getDouble(0), got.getDouble(1), got.getString(2), got.getLong(3),
      got.getLong(4), got.getLong(5), got.getLong(6)) ===
      ((0.005, 2.5, "apple", 100L, 4L, 4L, 109L)))

    // PARTIAL answering under ongoing writes: one new item dirties
    // ONE shard — the plan is the clean-shard answer plus exactly the
    // dirty shard's scan segment, and the folded result includes the
    // new item
    Seq(("kiwi", "green", 0.09, 7L)).toDF("name", "color", "weight_kg", "stock")
      .write.dynamo(root, "fruit", "name")
    val mixed1 = parts()
    assert(mixed1.count(_.isInstanceOf[DynamoZoneAnswerPartition]) === 1, mixed1.toSeq)
    assert(mixed1.count(_.isInstanceOf[DynamoInputPartition]) === 1, mixed1.toSeq)
    val partial = spark.read.dynamo(root, "fruit")
      .agg(min("weight_kg").as("a"), max("stock").as("b"),
           count(lit(1)).as("n"), sum("stock").as("s")).collect()(0)
    assert((partial.getDouble(0), partial.getLong(1), partial.getLong(2),
      partial.getLong(3)) === ((0.005, 100L, 5L, 116L)))
    store.compact("fruit")

    // a MIXED-TYPE attribute (N and S values) declines: a string-typed
    // read COERCES numbers ("10" < "9"), so stats cannot answer it
    store.appendWal("fruit", 10L, "mix", Seq(
      store.Put(Map(
        "name" -> graft.sources.dynamo.AttrVal.S("elderberry"),
        "color" -> graft.sources.dynamo.AttrVal.N(BigDecimal(7)))),
      store.Put(Map(
        "name" -> graft.sources.dynamo.AttrVal.S("fig"),
        "color" -> graft.sources.dynamo.AttrVal.S("purple")))))
    store.compact("fruit")
    val mixedAggs: Seq[PushedAgg] = Seq(PushedAgg.MinOf(StructField("color", StringType)))
    val mixed = new DynamoScan(opts, schema, Array.empty, aggs = mixedAggs)
      .toBatch.planInputPartitions()
    assert(mixed.forall(_.isInstanceOf[DynamoInputPartition]), mixed.toSeq)
    // while an untouched all-S attribute still answers
    val pure = new DynamoScan(opts, schema, Array.empty,
      aggs = Seq(PushedAgg.MinOf(StructField("name", StringType))))
      .toBatch.planInputPartitions()
    assert(pure.length === 1 && pure.head.isInstanceOf[DynamoZoneAnswerPartition])
  }

  test("CTAS/RTAS are atomic: one-move publish, failed CTAS leaves no trace") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    Seq.tabulate(50)(i => (f"k$i%03d", i.toLong)).toDF("id", "qty")
      .createOrReplaceTempView("ct_src")
    val prev = spark.conf.getOption("spark.sql.catalog.ctcat")
    try {
      spark.conf.set("spark.sql.catalog.ctcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.ctcat.path", root)
      spark.sql("CREATE TABLE ctcat.ct TBLPROPERTIES('hashKey'='id') " +
        "AS SELECT id, qty FROM ct_src")
      assert(spark.table("ctcat.ct").count() === 50L)
      // a failing CTAS aborts the staging dir: no table, no residue
      intercept[Throwable] {
        spark.sql("CREATE TABLE ctcat.ct2 TBLPROPERTIES('hashKey'='id') " +
          "AS SELECT id, CAST(raise_error('poison') AS BIGINT) AS qty FROM ct_src")
      }
      assert(!new LocalKVStore(root).exists("ct2"))
      val leftover = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try assert(!leftover.iterator().asScala.exists(
        _.getFileName.toString.startsWith(".stage-")))
      finally leftover.close()
      // RTAS: the final name flips old->new in one rename
      spark.sql("REPLACE TABLE ctcat.ct TBLPROPERTIES('hashKey'='id') " +
        "AS SELECT id, qty * 2 AS qty FROM ct_src")
      assert(spark.table("ctcat.ct").agg(sum("qty")).head().getLong(0) ===
        2L * (0 until 50).sum)
      // and the staged table never appeared in listings mid-flight
      assert(spark.sql("SHOW TABLES IN ctcat").collect()
        .map(_.getString(1)).toSet === Set("ct"))
    } finally {
      spark.conf.unset("spark.sql.catalog.ctcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.ctcat"))(
        spark.conf.set("spark.sql.catalog.ctcat", _))
    }
  }

  test("execute_statement: the PartiQL subset maps onto connector reads and journal writes") {
    import graft.sources.dynamo.{AttrVal, IndexMeta, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("pt", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      Iterator(
        Map("hk" -> (AttrVal.S("a"): AttrVal), "rk" -> (AttrVal.N(1): AttrVal),
          "s" -> (AttrVal.S("x"): AttrVal), "v" -> (AttrVal.N(10): AttrVal)),
        Map("hk" -> (AttrVal.S("a"): AttrVal), "rk" -> (AttrVal.N(2): AttrVal),
          "s" -> (AttrVal.S("xy"): AttrVal), "v" -> (AttrVal.N(20): AttrVal)),
        Map("hk" -> (AttrVal.S("a"): AttrVal), "rk" -> (AttrVal.N(3): AttrVal),
          "s" -> (AttrVal.S("zz"): AttrVal)), // v missing → IS MISSING
        Map("hk" -> (AttrVal.S("b"): AttrVal), "rk" -> (AttrVal.N(1): AttrVal),
          "s" -> (AttrVal.S("yy"): AttrVal), "v" -> (AttrVal.N(40): AttrVal))))
    store.createIndex("pt", "bys", IndexMeta("s", None, None))
    val prev = spark.conf.getOption("spark.sql.catalog.pcat")
    try {
      spark.conf.set("spark.sql.catalog.pcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.pcat.path", root)
      def run(stmt: String, params: String = ""): Seq[org.apache.spark.sql.Row] = {
        val esc = stmt.replace("'", "''")
        val call = if (params.isEmpty) s"CALL pcat.execute_statement('$esc')"
          else s"CALL pcat.execute_statement('$esc', '${params.replace("'", "''")}')"
        spark.sql(call).collect().toSeq
      }
      // SELECT = the equivalent DataFrame read, row for row (key
      // condition + sort bound + projection + ORDER BY)
      val viaStmt = run("SELECT hk, rk, v FROM pt WHERE hk = 'a' AND rk >= 2 ORDER BY rk")
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
      val viaRead = spark.read.dynamo(root, "pt")
        .filter(col("hk") === "a" && col("rk") >= 2)
        .select("hk", "rk", "v").orderBy("rk").collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
      assert(viaStmt === viaRead && viaStmt.size == 2)
      // the full condition family: begins_with, IN, BETWEEN, contains,
      // IS [NOT] MISSING, <>
      assert(run("SELECT rk FROM pt WHERE hk = 'a' AND begins_with(s, 'x')")
        .map(_.getLong(0)).sorted === Seq(1L, 2L))
      assert(run("SELECT rk FROM pt WHERE hk IN ('a', 'b') AND rk BETWEEN 2 AND 3")
        .map(_.getLong(0)).sorted === Seq(2L, 3L))
      assert(run("SELECT rk FROM pt WHERE hk = 'a' AND contains(s, 'y')")
        .map(_.getLong(0)) === Seq(2L))
      assert(run("SELECT rk FROM pt WHERE hk = 'a' AND v IS MISSING")
        .map(_.getLong(0)) === Seq(3L))
      assert(run("SELECT rk FROM pt WHERE hk = 'a' AND v IS NOT MISSING AND rk <> 1")
        .map(_.getLong(0)) === Seq(2L))
      // ? parameters bind in order, DYNAMODB_JSON value shapes
      assert(run("SELECT v FROM pt WHERE hk = ? AND rk = ?",
        """[{"S":"b"},{"N":"1"}]""").map(_.getLong(0)) === Seq(40L))
      // index read: FROM "table"."index"
      assert(run("SELECT rk FROM \"pt\".\"bys\" WHERE s = 'yy'")
        .map(_.getLong(0)) === Seq(1L))
      // Limit and ConsistentRead are the API's REQUEST parameters
      // (PartiQL has no LIMIT keyword): SELECT only, loud otherwise
      val lim = spark.sql("CALL pcat.execute_statement(statement => " +
        "'SELECT rk FROM pt WHERE hk = ''a'' ORDER BY rk', limit => 2)")
        .collect()
      assert(lim.map(_.getLong(0)).toSeq === Seq(1L, 2L))
      val cons = spark.sql("CALL pcat.execute_statement(statement => " +
        "'SELECT rk FROM pt WHERE hk = ''b''', consistent_read => true)")
        .collect()
      assert(cons.length === 1)
      val limOnWrite = intercept[Exception] {
        spark.sql("CALL pcat.execute_statement(statement => " +
          "'DELETE FROM pt WHERE hk = ''b'' AND rk = 1', limit => 1)")
          .collect() }
      assert(limOnWrite.getMessage.contains("applies to SELECT"),
        limOnWrite.getMessage)
      // INSERT round-trips; duplicate key reports the service error
      assert(run("INSERT INTO pt VALUE {'hk': 'c', 'rk': 9, 's': 'new', 'v': 99}")
        .map(r => (r.getString(0), r.getBoolean(2))) === Seq(("INSERT", true)))
      assert(run("SELECT s, v FROM pt WHERE hk = 'c' AND rk = 9")
        .map(r => (r.getString(0), r.getLong(1))) === Seq(("new", 99L)))
      val dup = intercept[Exception] {
        run("INSERT INTO pt VALUE {'hk': 'c', 'rk': 9, 's': 'other'}") }
      assert(dup.getMessage.contains("same key already exists"), dup.getMessage)
      // UPDATE SET + REMOVE round-trips; missing key and partial key
      // fail loudly (the service's single-item rule)
      run("UPDATE pt SET s = 'upd' REMOVE v WHERE hk = 'c' AND rk = 9")
      val upd = run("SELECT s, v FROM pt WHERE hk = 'c' AND rk = 9")
      assert(upd.map(_.getString(0)) === Seq("upd") && upd.head.isNullAt(1))
      val miss = intercept[Exception] {
        run("UPDATE pt SET s = 'x' WHERE hk = 'nope' AND rk = 1") }
      assert(miss.getMessage.contains("no item with the specified key"), miss.getMessage)
      val partial = intercept[Exception] {
        run("UPDATE pt SET s = 'x' WHERE hk = 'a'") }
      assert(partial.getMessage.contains("full primary key"), partial.getMessage)
      // RETURNING ALL OLD|NEW * (the service's ReturnValues surface in
      // PartiQL spelling): UPDATE returns either image, DELETE the old
      val rNew = run("UPDATE pt SET s = 'r2' WHERE hk = 'c' AND rk = 9 " +
        "RETURNING ALL NEW *")
      assert(rNew.size == 1 && rNew.head.getString(3).contains("{\"S\":\"r2\"}"),
        rNew.toSeq.toString)
      val rOld = run("DELETE FROM pt WHERE hk = 'c' AND rk = 9 " +
        "RETURNING ALL OLD *")
      assert(rOld.head.getString(3).contains("{\"S\":\"r2\"}"),
        "DELETE must return the pre-delete image")
      assert(run("SELECT rk FROM pt WHERE hk = 'c'").isEmpty)
      // deleting a missing item with RETURNING: null image (the
      // service's empty Attributes), still the silent no-op
      val rGone = run("DELETE FROM pt WHERE hk = 'c' AND rk = 9 " +
        "RETURNING ALL OLD *")
      assert(rGone.head.isNullAt(3))
      val newOnDel = intercept[Exception] {
        run("DELETE FROM pt WHERE hk = 'c' AND rk = 9 RETURNING ALL NEW *") }
      assert(newOnDel.getMessage.contains("RETURNING ALL OLD"), newOnDel.getMessage)
      // re-seed the plain-DELETE assertions below
      run("INSERT INTO pt VALUE {'hk': 'c', 'rk': 9, 's': 'upd'}")
      // RETURNING MODIFIED OLD|NEW * (UpdateItem's UPDATED_OLD /
      // UPDATED_NEW): only the touched top-level attributes come back
      val rmOld = run("UPDATE pt SET s = 'm1' SET v = 5 " +
        "WHERE hk = 'c' AND rk = 9 RETURNING MODIFIED OLD *")
      assert(rmOld.head.getString(3) === """{"s":{"S":"upd"}}""",
        "MODIFIED OLD: only touched attrs, and v had no old value")
      val rmNew = run("UPDATE pt SET s = 'm2' REMOVE v " +
        "WHERE hk = 'c' AND rk = 9 RETURNING MODIFIED NEW *")
      assert(rmNew.head.getString(3) === """{"s":{"S":"m2"}}""",
        "MODIFIED NEW: only touched attrs, REMOVEd v absent")
      val modOnDel = intercept[Exception] {
        run("DELETE FROM pt WHERE hk = 'c' AND rk = 9 " +
          "RETURNING MODIFIED OLD *") }
      assert(modOnDel.getMessage.contains("ALL OLD"), modOnDel.getMessage)
      // DELETE round-trips; deleting a missing item is the service's
      // silent no-op
      run("DELETE FROM pt WHERE hk = 'c' AND rk = 9")
      assert(run("SELECT rk FROM pt WHERE hk = 'c'").isEmpty)
      run("DELETE FROM pt WHERE hk = 'c' AND rk = 9") // no-op, no error
      // OR is part of the dialect (round 14): a disjunctive WHERE is
      // the full-scan-with-residual-filter read, row-for-row
      assert(run("SELECT rk FROM pt WHERE hk = 'a' OR rk = 1")
        .map(_.getLong(0)).sorted === Seq(1L, 1L, 2L, 3L))
      // unsupported syntax fails LOUDLY, never silently approximates
      val join = intercept[Exception] { run("SELECT rk FROM pt, other") }
      assert(join.getMessage.contains("trailing content"), join.getMessage)
      val badParams = intercept[Exception] {
        run("SELECT rk FROM pt WHERE hk = ?") }
      assert(badParams.getMessage.contains("placeholders"), badParams.getMessage)
      // base rows untouched by the write exercises
      assert(spark.read.dynamo(root, "pt").count() === 4L)
    } finally {
      spark.conf.unset("spark.sql.catalog.pcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.pcat"))(
        spark.conf.set("spark.sql.catalog.pcat", _))
    }
  }

  test("execute_transaction: all-or-nothing PartiQL writes across tables") {
    import graft.sources.dynamo.{AttrVal, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("ta", TableMeta("id", None, shards = 1,
        throughput = 1000000L),
      Iterator(Map("id" -> (AttrVal.S("a1"): AttrVal),
        "v" -> (AttrVal.N(1): AttrVal))))
    store.bulkLoad("tb", TableMeta("id", None, shards = 1,
        throughput = 1000000L),
      Iterator(Map("id" -> (AttrVal.S("b1"): AttrVal),
        "v" -> (AttrVal.N(10): AttrVal))))
    val prev = spark.conf.getOption("spark.sql.catalog.ptxcat")
    try {
      spark.conf.set("spark.sql.catalog.ptxcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.ptxcat.path", root)
      def call(stmts: String): Seq[org.apache.spark.sql.Row] =
        spark.sql(s"CALL ptxcat.execute_transaction('${stmts.replace("'", "''")}')")
          .collect().toSeq
      def v(t: String, id: String): Option[Long] =
        store.transactGet(t, Seq(Map("id" -> (AttrVal.S(id): AttrVal))))
          .head.flatMap(_.get("v")).map(_.asInstanceOf[AttrVal.N].v.toLong)
      // a valid cross-table transaction applies everywhere
      val ok = call("INSERT INTO ta VALUE {'id': 'a2', 'v': 2}; " +
        "UPDATE tb SET v = 11 WHERE id = 'b1'; " +
        "DELETE FROM ta WHERE id = 'a1'")
      assert(ok.map(r => (r.getString(0), r.getString(1))) ===
        Seq(("INSERT", "ta"), ("UPDATE", "tb"), ("DELETE", "ta")))
      assert(v("ta", "a2") === Some(2L) && v("tb", "b1") === Some(11L) &&
        store.transactGet("ta", Seq(Map("id" -> (AttrVal.S("a1"): AttrVal)))).head.isEmpty)
      // one failing condition CANCELS the whole transaction: the
      // duplicate INSERT in tb aborts the ta update too
      val cancel = intercept[Exception] {
        call("UPDATE ta SET v = 99 WHERE id = 'a2'; " +
          "INSERT INTO tb VALUE {'id': 'b1', 'v': 0}") }
      assert(cancel.getMessage != null)
      assert(v("ta", "a2") === Some(2L),
        "cancelled transaction must stage NOTHING in any table")
      assert(v("tb", "b1") === Some(11L))
      // missing-item UPDATE cancels too, and the INSERT before it
      // never lands
      intercept[Exception] {
        call("INSERT INTO ta VALUE {'id': 'a3', 'v': 3}; " +
          "UPDATE tb SET v = 1 WHERE id = 'nope'") }
      assert(store.transactGet("ta",
        Seq(Map("id" -> (AttrVal.S("a3"): AttrVal)))).head.isEmpty,
        "cancelled transaction leaked an INSERT")
      // ALL-SELECT list = the read-only transaction (TransactGetItems):
      // one cross-table-consistent snapshot, items in the wire shape,
      // absent key = null item
      val got = call("SELECT * FROM ta WHERE id = 'a2'; " +
        "SELECT v FROM tb WHERE id = 'b1'; " +
        "SELECT * FROM ta WHERE id = 'gone'")
      assert(got.map(r => (r.getInt(0), r.getString(1))) ===
        Seq((0, "ta"), (1, "tb"), (2, "ta")))
      assert(got(0).getString(2).contains("\"a2\""))
      assert(got(1).getString(2) === """{"v":{"N":"11"}}""",
        "projection must filter the returned wire item")
      assert(got(2).isNullAt(2), "absent key must return a null item")
      // mixing reads and writes is rejected (all-read-or-all-write)
      val selErr = intercept[Exception] {
        call("SELECT id FROM ta WHERE id = 'a2'; " +
          "DELETE FROM ta WHERE id = 'a2'") }
      assert(selErr.getMessage.contains("cannot mix with writes"),
        selErr.getMessage)
      // RETURNING has no transactional form (TransactWriteItems
      // returns no item images) — rejected loudly
      val retErr = intercept[Exception] {
        call("DELETE FROM ta WHERE id = 'a2' RETURNING ALL OLD *") }
      assert(retErr.getMessage.contains("RETURNING is not supported"),
        retErr.getMessage)
      // one item, one operation (the service's ValidationException):
      // INSERT + UPDATE of the same key cannot share a transaction
      val sameItem = intercept[Exception] {
        call("INSERT INTO ta VALUE {'id': 'a9', 'v': 1}; " +
          "UPDATE ta SET v = 2 WHERE id = 'a9'") }
      assert(sameItem.getMessage.contains("multiple operations on one item"),
        sameItem.getMessage)
      assert(v("ta", "a9").isEmpty, "rejected transaction staged nothing")
    } finally {
      spark.conf.unset("spark.sql.catalog.ptxcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.ptxcat"))(
        spark.conf.set("spark.sql.catalog.ptxcat", _))
    }
  }

  test("execute_transaction: [NOT] EXISTS condition checks (ConditionCheck)") {
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    assert(spark != null) // force session init for PartiQL paths
    store.bulkLoad("acct", TableMeta("id", None, shards = 1,
        throughput = 1000000L),
      Iterator(Map("id" -> (AttrVal.S("a"): AttrVal),
        "bal" -> (AttrVal.N(100): AttrVal),
        "tier" -> (AttrVal.S("gold"): AttrVal))))
    store.bulkLoad("ledger", TableMeta("id", None, shards = 1,
        throughput = 1000000L), Iterator.empty)
    def txn(stmts: String) = PartiQL.executeTransaction(root, stmts, Nil)
    def bal: Option[Long] =
      store.transactGet("acct", Seq(Map("id" -> (AttrVal.S("a"): AttrVal))))
        .head.flatMap(_.get("bal")).map(_.asInstanceOf[AttrVal.N].v.toLong)
    def entry(id: String): Boolean =
      store.transactGet("ledger",
        Seq(Map("id" -> (AttrVal.S(id): AttrVal)))).head.isDefined

    // EXISTS guards a write in ANOTHER table: passes when the keyed
    // item exists, and the write lands
    val (_, r1) = txn("EXISTS (SELECT * FROM acct WHERE id = 'a'); " +
      "INSERT INTO ledger VALUE {'id': 'e1'}")
    assert(r1.length === 2 && entry("e1"))
    // ...with an extra attribute condition (ConditionExpression):
    // true → commit
    txn("EXISTS (SELECT * FROM acct WHERE id = 'a' AND bal >= 100 " +
      "AND begins_with(tier, 'go')); INSERT INTO ledger VALUE {'id': 'e2'}")
    assert(entry("e2"))
    // false condition CANCELS the whole transaction — nothing staged
    intercept[Exception] {
      txn("EXISTS (SELECT * FROM acct WHERE id = 'a' AND bal > 100); " +
        "INSERT INTO ledger VALUE {'id': 'e3'}") }
    assert(!entry("e3"), "cancelled transaction leaked a write")
    // absent keyed item fails EXISTS even when the condition could
    // not be evaluated (DynamoDB's rule: ConditionCheck on absent
    // item fails)
    intercept[Exception] {
      txn("EXISTS (SELECT * FROM acct WHERE id = 'nope'); " +
        "INSERT INTO ledger VALUE {'id': 'e4'}") }
    assert(!entry("e4"))
    // a MISSING attribute makes the condition UNKNOWN → check fails
    // (three-valued: passes only when definitely true)
    intercept[Exception] {
      txn("EXISTS (SELECT * FROM acct WHERE id = 'a' AND ghost = 1); " +
        "INSERT INTO ledger VALUE {'id': 'e5'}") }
    assert(!entry("e5"))
    // ...but IS MISSING asserts that absence positively
    txn("EXISTS (SELECT * FROM acct WHERE id = 'a' AND ghost IS MISSING); " +
      "INSERT INTO ledger VALUE {'id': 'e6'}")
    assert(entry("e6"))
    // NOT EXISTS asserts absence: passes on an absent key...
    txn("NOT EXISTS (SELECT * FROM acct WHERE id = 'nobody'); " +
      "UPDATE acct SET bal = 90 WHERE id = 'a'")
    assert(bal === Some(90L))
    // ...and cancels on a present one
    intercept[Exception] {
      txn("NOT EXISTS (SELECT * FROM acct WHERE id = 'a'); " +
        "UPDATE acct SET bal = 0 WHERE id = 'a'") }
    assert(bal === Some(90L))
    // a check-only transaction is legal (all-ConditionCheck) and
    // applies nothing
    val (_, r2) = txn("EXISTS (SELECT * FROM acct WHERE id = 'a'); " +
      "NOT EXISTS (SELECT * FROM acct WHERE id = 'nobody')")
    assert(r2.length === 2 && bal === Some(90L))
    // loud rejections, never silent approximations:
    // NOT EXISTS takes a key-only WHERE
    val ne = intercept[Exception] {
      txn("NOT EXISTS (SELECT * FROM acct WHERE id = 'a' AND bal = 1); " +
        "INSERT INTO ledger VALUE {'id': 'x'}") }
    assert(ne.getMessage.contains("full primary key only"), ne.getMessage)
    // size()/attribute_type() have no ConditionCheck analogue here
    val sz = intercept[Exception] {
      txn("EXISTS (SELECT * FROM acct WHERE id = 'a' AND size(tier) = 4); " +
        "INSERT INTO ledger VALUE {'id': 'x'}") }
    assert(sz.getMessage.contains("no transaction ConditionCheck"),
      sz.getMessage)
    // the inner statement is `SELECT * ...` — no projection
    val pr = intercept[Exception] {
      txn("EXISTS (SELECT id FROM acct WHERE id = 'a'); " +
        "INSERT INTO ledger VALUE {'id': 'x'}") }
    assert(pr.getMessage.contains("SELECT * FROM"), pr.getMessage)
    // EXISTS + a write on the SAME item cannot share a transaction
    // (the service counts a ConditionCheck as the item's one op)
    val dup = intercept[Exception] {
      txn("EXISTS (SELECT * FROM acct WHERE id = 'a'); " +
        "UPDATE acct SET bal = 1 WHERE id = 'a'") }
    assert(dup.getMessage.contains("multiple operations on one item"),
      dup.getMessage)
    // ? parameters bind positionally ACROSS the statement list,
    // including inside an EXISTS condition
    PartiQL.executeTransaction(root,
      "EXISTS (SELECT * FROM acct WHERE id = ? AND bal >= ?); " +
        "INSERT INTO ledger VALUE {'id': ?}",
      Seq(AttrVal.S("a"), AttrVal.N(50), AttrVal.S("p1")))
    assert(entry("p1"))
    // transactions-only: ExecuteStatement rejects EXISTS loudly...
    val single = intercept[Exception] {
      PartiQL.execute(root, "EXISTS (SELECT * FROM acct WHERE id = 'a')",
        Nil) }
    assert(single.getMessage.contains("only in execute_transaction"),
      single.getMessage)
    // ...and a batch reports it in the statement's own error slot
    // while later statements still run
    val (bs, brs) = PartiQL.executeBatch(root,
      "EXISTS (SELECT * FROM acct WHERE id = 'a'); " +
        "INSERT INTO ledger VALUE {'id': 'b1'}", Nil)
    val errIx = bs.fieldIndex("error")
    assert(!brs(0).isNullAt(errIx) &&
      brs(0).getString(errIx).contains("execute_transaction"))
    assert(brs(1).isNullAt(errIx) && entry("b1"))
  }

  test("PartiQL conformance sweep: every grammar production implemented or loud") {
    // Walks the service's documented PartiQL grammar (select / insert /
    // update / delete statement references + condition functions +
    // ExecuteTransaction) production by production: everything in the
    // dialect RUNS, everything outside it fails LOUDLY — no silent
    // approximations. The PartiQL.scala header's scope list mirrors
    // this sweep one-for-one.
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    assert(spark != null) // force session init for PartiQL.execute
    store.bulkLoad("gt", TableMeta("hk", Some("rk"), shards = 1,
        throughput = 1000000L),
      Iterator(
        Map("hk" -> (AttrVal.S("a"): AttrVal), "rk" -> (AttrVal.N(1): AttrVal),
          "s" -> (AttrVal.S("alpha"): AttrVal),
          "n" -> (AttrVal.N(10): AttrVal),
          "b" -> (AttrVal.Bool(true): AttrVal),
          "l" -> (AttrVal.L(Vector(AttrVal.N(1), AttrVal.N(2))): AttrVal),
          "m" -> (AttrVal.M(Map("x" -> AttrVal.N(7))): AttrVal)),
        Map("hk" -> (AttrVal.S("a"): AttrVal),
          "rk" -> (AttrVal.N(2): AttrVal),
          "s" -> (AttrVal.S("beta"): AttrVal),
          "n" -> (AttrVal.N(20): AttrVal))))
    def sel(stmt: String, params: Seq[AttrVal] = Nil): Seq[Long] = {
      val (schema, rows) = PartiQL.execute(root, stmt, params)
      val i = schema.fieldIndex("rk")
      rows.map(_.getLong(i)).toSeq.sorted
    }
    def loud(stmt: String): String =
      intercept[Exception] { PartiQL.execute(root, stmt, Nil) }.getMessage

    // -- select statement: projection forms, quoted identifiers,
    //    nested paths, ORDER BY multi-key ASC/DESC, ? parameters
    assert(sel("SELECT * FROM gt WHERE hk = 'a'") === Seq(1L, 2L))
    assert(sel("SELECT rk, m.x, l[0] FROM gt WHERE hk = 'a'") === Seq(1L, 2L))
    assert(sel("SELECT \"rk\" FROM \"gt\" WHERE \"hk\" = 'a' AND rk = 1")
      === Seq(1L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' " +
      "ORDER BY hk ASC, rk DESC") === Seq(1L, 2L))
    assert(sel("SELECT rk FROM gt WHERE hk = ? AND n = ?",
      Seq(AttrVal.S("a"), AttrVal.N(20))) === Seq(2L))
    // -- condition grammar: every comparator + function
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND n <> 10") === Seq(2L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND n < 20 AND n <= 10 " +
      "AND n >= 10 AND n > 5") === Seq(1L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND n BETWEEN 15 AND 25")
      === Seq(2L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND s IN ('alpha', 'x')")
      === Seq(1L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND begins_with(s, 'al')")
      === Seq(1L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND contains(s, 'et')")
      === Seq(2L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND size(s) = 4")
      === Seq(2L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND attribute_type(b, 'BOOL')")
      === Seq(1L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND m IS MISSING")
      === Seq(2L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND m IS NOT MISSING")
      === Seq(1L))
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND " +
      "(NOT contains(s, 'alp') OR n = 10)") === Seq(1L, 2L))
    // -- outside the service's grammar: LOUD, never approximated.
    //    The service has no LIMIT keyword (Limit is an API parameter),
    //    no multi-table FROM, no JOIN, no GROUP BY, no aggregates,
    //    no DISTINCT, no subqueries outside transactional EXISTS.
    assert(loud("SELECT rk FROM gt WHERE hk = 'a' LIMIT 1")
      .contains("trailing content"))
    assert(loud("SELECT rk FROM gt, other").contains("trailing content"))
    assert(loud("SELECT rk FROM gt JOIN other ON 1=1")
      .contains("trailing content"))
    assert(loud("SELECT rk FROM gt GROUP BY rk").contains("trailing content"))
    assert(loud("SELECT count(*) FROM gt") != null)
    assert(loud("SELECT DISTINCT rk FROM gt") != null)
    // -- insert statement: single VALUE tuple only (no VALUES list,
    //    no INSERT ... SELECT)
    PartiQL.execute(root, "INSERT INTO gt VALUE {'hk': 'a', 'rk': 3, " +
      "'m': {'y': [1, true, 'z']}, 'nul': null}", Nil)
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND rk = 3") === Seq(3L))
    assert(loud("INSERT INTO gt VALUES ({'hk': 'x', 'rk': 9})")
      .contains("expected VALUE"))
    assert(loud("INSERT INTO gt VALUE {'hk': 'x', 'rk': 8}, {'hk': 'x', " +
      "'rk': 9}").contains("trailing content"))
    // -- update statement: repeated SET/REMOVE clauses, nested paths,
    //    list_append both ways, all four RETURNING forms (covered in
    //    the main PartiQL test; re-pin the grammar corners here)
    PartiQL.execute(root, "UPDATE gt SET m.y[0] = 2 SET s = 'g' " +
      "REMOVE nul WHERE hk = 'a' AND rk = 3", Nil)
    PartiQL.execute(root, "UPDATE gt SET l = list_append(l, [3]) " +
      "WHERE hk = 'a' AND rk = 1", Nil)
    // arithmetic / attribute references / set functions on the value
    // side are NOT in the service's grammar (data must be a literal
    // or a same-path list_append)
    assert(loud("UPDATE gt SET n = n + 1 WHERE hk = 'a' AND rk = 1") != null)
    assert(loud("UPDATE gt SET l = set_add(l, [9]) " +
      "WHERE hk = 'a' AND rk = 1") != null)
    // native-UpdateExpression spellings are not PartiQL
    assert(loud("SELECT rk FROM gt WHERE hk = 'a' AND attribute_exists(s)")
      != null)
    // -- delete statement (RETURNING ALL OLD * pinned in the main test)
    PartiQL.execute(root, "DELETE FROM gt WHERE hk = 'a' AND rk = 3", Nil)
    assert(sel("SELECT rk FROM gt WHERE hk = 'a' AND rk = 3") === Seq())
    // -- EXISTS is transactions-only (its own spec covers semantics)
    assert(loud("EXISTS (SELECT * FROM gt WHERE hk = 'a' AND rk = 1)")
      .contains("execute_transaction"))
  }

  test("LAW: racing PartiQL INSERTs write once; a settled item never overwrites") {
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("race",
      TableMeta("id", None, shards = 1, throughput = 1000000L))
    def tryInsert(v: Int): Either[String, Int] =
      try { PartiQL.execute(root,
        s"INSERT INTO race VALUE {'id': 'k', 'v': $v}", Nil); Right(v) }
      catch { case e: Exception => Left(e.getMessage) }
    val results = Await.result(
      Future.sequence((1 to 16).map(i => Future(tryInsert(i)))), 60.seconds)
    val winners = results.collect { case Right(v) => v }
    val losers = results.collect { case Left(m) => m }
    assert(winners.nonEmpty, "at least one racing INSERT must succeed")
    assert(losers.forall(_.contains("same key already exists")), losers)
    // however many threads slipped past the LOUD check in the race
    // window, the CONDITIONAL op means exactly one write landed — and
    // its value is one a success-reporting thread wrote
    val item = store.transactGet("race",
      Seq(Map("id" -> (AttrVal.S("k"): AttrVal)))).head
    val v = item.get.apply("v").asInstanceOf[AttrVal.N].v.toInt
    assert(winners.contains(v),
      s"stored v=$v must come from a success-reporting thread ($winners)")
    // SETTLED item: every later racing INSERT reports the duplicate
    // and the value never moves (PutIfAbsent cannot overwrite)
    val after = Await.result(
      Future.sequence((100 to 115).map(i => Future(tryInsert(i)))), 60.seconds)
    assert(after.forall(_.isLeft), s"settled key must refuse every INSERT: $after")
    val v2 = store.transactGet("race",
      Seq(Map("id" -> (AttrVal.S("k"): AttrVal)))).head
      .get.apply("v").asInstanceOf[AttrVal.N].v.toInt
    assert(v2 == v, "a settled item's value must never move under racing INSERTs")
  }

  test("LAW: a DELETE racing a PartiQL UPDATE never resurrects the item") {
    import graft.sources.dynamo.{AttrVal, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val key = Map("id" -> (AttrVal.S("k"): AttrVal))
    store.bulkLoad("ph", TableMeta("id", None, shards = 1,
        throughput = 1000000L),
      Iterator(key ++ Map("s" -> (AttrVal.S("x"): AttrVal),
        "extra" -> (AttrVal.S("y"): AttrVal))))
    // simulate the exact race: the UPDATE's advisory existence check
    // reads the live item, a DELETE publishes, THEN the UPDATE's ops
    // land. Replay order is what the store resolves, so appending in
    // that order IS the race's worst interleaving. The ops below are
    // verbatim what PartiQL UPDATE emits (SET s='z' REMOVE extra) —
    // both conditional, so the deleted key must stay ABSENT (the old
    // unconditional RemoveAttrs upserted a key-only phantom here).
    store.appendWal("ph", System.currentTimeMillis(), "wDel",
      Seq(store.Delete(key)))
    store.appendWal("ph", System.currentTimeMillis() + 1, "wUpd",
      Seq(store.UpdateIfExists(key + ("s" -> (AttrVal.S("z"): AttrVal))),
        store.RemoveAttrsIfExists(key + ("extra" -> (AttrVal.Null: AttrVal)))))
    assert(store.transactGet("ph", Seq(key)).head.isEmpty,
      "a racing UPDATE must not resurrect a deleted item")
    assert(store.scanSegment("ph", 0, 1).isEmpty,
      "no phantom row may be visible to scans")
    // compaction folds the same algebra: still absent afterwards
    store.compact("ph")
    assert(store.transactGet("ph", Seq(key)).head.isEmpty,
      "compaction must not materialize the phantom either")
    // and the non-race semantics are unchanged: on a LIVE item the
    // same op pair merges the SET and drops the REMOVEd attr
    store.appendWal("ph", System.currentTimeMillis() + 2, "wPut",
      Seq(store.Put(key ++ Map("s" -> (AttrVal.S("x"): AttrVal),
        "extra" -> (AttrVal.S("y"): AttrVal)))))
    store.appendWal("ph", System.currentTimeMillis() + 3, "wUpd2",
      Seq(store.UpdateIfExists(key + ("s" -> (AttrVal.S("z2"): AttrVal))),
        store.RemoveAttrsIfExists(key + ("extra" -> (AttrVal.Null: AttrVal)))))
    val it = store.transactGet("ph", Seq(key)).head.get
    assert(it("s") === AttrVal.S("z2") && !it.contains("extra"))
  }

  test("LAW: live racing PartiQL UPDATEs vs DELETE never leave a phantom (16 threads)") {
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("lr", TableMeta("id", None, shards = 1, throughput = 1000000L))
    // The planted law pins the worst replay ORDER; this one drives the
    // real statement surface with real threads: per round, one item is
    // inserted, then 15 UPDATEs (SET + REMOVE halves, both conditional
    // ops) race one DELETE. Whatever interleaving the scheduler picks,
    // the end state is EITHER absent (DELETE landed last in replay
    // order and conditional ops no-op'd) OR a live item whose attrs
    // come only from the INSERT/UPDATE alphabet — never a key-only
    // phantom, never a REMOVE-resurrected row.
    (0 until 6).foreach { round =>
      PartiQL.execute(root,
        s"INSERT INTO lr VALUE {'id': 'k$round', 's': 'base', 'extra': 'e0'}", Nil)
      def upd(i: Int): Unit =
        try { PartiQL.execute(root,
          s"UPDATE lr SET s = 'u$i' REMOVE extra WHERE id = 'k$round'", Nil); () }
        catch { case _: Exception => () } // racing DELETE: loud error OK
      def del(): Unit =
        try { PartiQL.execute(root,
          s"DELETE FROM lr WHERE id = 'k$round'", Nil); () }
        catch { case _: Exception => () }
      Await.result(Future.sequence(
        (1 to 15).map(i => Future(upd(i))) :+ Future(del())), 60.seconds)
      val key = Map("id" -> (AttrVal.S(s"k$round"): AttrVal))
      store.transactGet("lr", Seq(key)).head match {
        case None => () // deleted — fine
        case Some(it) =>
          assert(it.contains("s"),
            s"round $round: live item must carry 's', got $it — a key-only " +
              "phantom means a conditional op upserted after the DELETE")
          val s = it("s").asInstanceOf[AttrVal.S].v
          assert(s == "base" || s.startsWith("u"), s"round $round: $it")
      }
      // compaction folds the same algebra — state class is unchanged
      store.compact("lr")
      store.transactGet("lr", Seq(key)).head.foreach { it =>
        assert(it.contains("s"), s"round $round post-compaction: $it")
      }
    }
  }

  test("execute_statement: boolean WHERE structure and nested document paths") {
    import graft.sources.dynamo.{AttrVal, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    def item(rk: Int, v: Int, lang: String, tags: Seq[String]): Map[String, AttrVal] = Map(
      "hk" -> AttrVal.S("a"), "rk" -> AttrVal.N(rk), "v" -> AttrVal.N(v),
      "meta" -> AttrVal.M(Map(
        "lang" -> AttrVal.S(lang), "score" -> (AttrVal.N(v * 2): AttrVal))),
      "tags" -> AttrVal.L(tags.toVector.map(AttrVal.S(_): AttrVal)))
    store.bulkLoad("nt", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      Iterator(item(1, 10, "en", Seq("x", "y", "z")),
        item(2, 20, "fr", Seq("p")),
        item(3, 30, "en", Seq("q", "r")),
        item(4, 5, "fr", Seq())))
    val prev = spark.conf.getOption("spark.sql.catalog.ncat")
    try {
      spark.conf.set("spark.sql.catalog.ncat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.ncat.path", root)
      def run(stmt: String): Seq[org.apache.spark.sql.Row] = {
        val esc = stmt.replace("'", "''")
        spark.sql(s"CALL ncat.execute_statement('$esc')").collect().toSeq
      }
      // OR / parens: identical rows to the equivalent DataFrame read
      val viaStmt = run("SELECT rk FROM nt WHERE hk = 'a' AND " +
        "(v > 15 OR meta.lang = 'fr') ORDER BY rk").map(_.getLong(0))
      val viaRead = spark.read.dynamo(root, "nt")
        .filter(col("hk") === "a" &&
          (col("v") > 15 || col("meta").getField("lang") === "fr"))
        .select("rk").orderBy("rk").collect().map(_.getLong(0)).toSeq
      assert(viaStmt === viaRead && viaStmt === Seq(2L, 3L, 4L))
      // NOT
      assert(run("SELECT rk FROM nt WHERE hk = 'a' AND NOT (v > 15) ORDER BY rk")
        .map(_.getLong(0)) === Seq(1L, 4L))
      // nested paths in WHERE (M field + L index) and projection
      assert(run("SELECT rk FROM nt WHERE hk = 'a' AND tags[0] = 'q'")
        .map(_.getLong(0)) === Seq(3L))
      val proj = run("SELECT meta.lang, tags[0] FROM nt WHERE hk = 'a' AND rk = 1")
      assert(proj.map(r => (r.getString(0), r.getString(1))) === Seq(("en", "x")))
      // UPDATE SET/REMOVE on nested paths, RETURNING ALL NEW *
      val upd = run("UPDATE nt SET meta.score = 99, v = 11 REMOVE tags[1] " +
        "WHERE hk = 'a' AND rk = 1 RETURNING ALL NEW *")
      assert(upd.map(r => (r.getString(0), r.getBoolean(2))) === Seq(("UPDATE", true)))
      val img = upd.head.getString(3)
      assert(img.contains("\"99\"") && !img.contains("\"y\""), img)
      val after = spark.read.dynamo(root, "nt")
        .filter(col("hk") === "a" && col("rk") === 1)
        .select(col("meta").getField("score").as("sc"),
          col("tags"), col("v")).collect()
      assert(after.length === 1)
      assert(after.head.getLong(0) === 99L && after.head.getLong(2) === 11L)
      assert(after.head.getSeq[String](1) === Seq("x", "z"))
      // a dead document path is the service's ValidationException, LOUD
      val dead = intercept[Exception] {
        run("UPDATE nt SET meta.nope.deep = 1 WHERE hk = 'a' AND rk = 2") }
      assert(dead.getMessage.contains("does not exist"), dead.getMessage)
      // SET past a list's end appends (the service's documented shape)
      run("UPDATE nt SET tags[9] = 'w' WHERE hk = 'a' AND rk = 3")
      assert(spark.read.dynamo(root, "nt")
        .filter(col("rk") === 3).select("tags").head().getSeq[String](0)
        === Seq("q", "r", "w"))
    } finally {
      spark.conf.unset("spark.sql.catalog.ncat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.ncat"))(
        spark.conf.set("spark.sql.catalog.ncat", _))
    }
  }

  test("execute_statement pages: bounded chunks concatenate to the one-shot read") {
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val pad = "x" * 120
    store.bulkLoad("pg", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      Iterator.range(0, 6000).map(i => Map(
        "hk" -> (AttrVal.S("big"): AttrVal),
        "rk" -> (AttrVal.N(i): AttrVal),
        "payload" -> (AttrVal.S(s"$pad$i"): AttrVal))))
    val stmt = "SELECT payload, rk FROM pg WHERE hk = 'big'"
    val spark0 = spark // force session init
    assert(spark0 != null)
    // page at 64 KiB so the 6000-item (~800 KB) result needs many pages
    def page(token: Option[String]) =
      PartiQL.execute(root, stmt, Nil, None, false, token, pageBytes = 64 * 1024)
    var token: Option[String] = None
    val got = Vector.newBuilder[Long]
    var pages = 0
    var done = false
    while (!done) {
      val (schema, rows) = page(token)
      pages += 1
      info(s"page $pages: ${rows.length} rows, class ${rows.head.getClass.getSimpleName}")
      assert(pages < 40, "paging must terminate")
      val rkI = schema.fieldIndex("rk")
      rows.foreach(r => got += r.getLong(rkI))
      val tokI = schema.fieldNames.indexOf("next_token")
      tokI match {
        case i if i >= 0 =>
          val ts = rows.map(_.getUTF8String(i).toString).distinct
          assert(ts.size === 1, "one token per page, on every row")
          token = Some(ts.head)
          // bounded: a 64 KiB page of ~130-byte rows holds well under
          // the whole 6000 (and more than one row)
          assert(rows.length > 1 && rows.length < 2000)
        case _ => done = true
      }
    }
    assert(pages > 3, s"expected several pages, got $pages")
    // concatenation == the one-shot unbounded read, in order
    assert(got.result() === (0L until 6000L))
    // paging never rescans: page 2's plan pushes rk > last (spot-check
    // via the resumed page's first row)
    val (s1, r1) = page(None)
    val t1 = r1.head.getUTF8String(s1.fieldNames.indexOf("next_token")).toString
    val (s2, r2) = PartiQL.execute(root, stmt, Nil, None, false, Some(t1),
      pageBytes = 64 * 1024)
    assert(r2.head.getLong(s2.fieldIndex("rk")) ===
      r1.last.getLong(s1.fieldIndex("rk")) + 1)
    // a token from another statement is refused
    val other = PartiQL.execute(root,
      "SELECT rk FROM pg WHERE hk = 'big'", Nil, None, false, None,
      pageBytes = 64 * 1024)
    val otherTok = other._2.head.getUTF8String(
      other._1.fieldNames.indexOf("next_token")).toString
    val bad = intercept[Exception] { page(Some(otherTok)) }
    assert(bad.getMessage.contains("different statement"), bad.getMessage)
    // DESC pages walk downwards and concatenate completely too
    val descStmt = "SELECT rk FROM pg WHERE hk = 'big' ORDER BY rk DESC"
    var dTok: Option[String] = None
    val dGot = Vector.newBuilder[Long]
    var dDone = false
    while (!dDone) {
      val (ds, dr) = PartiQL.execute(root, descStmt, Nil, None, false, dTok,
        pageBytes = 32 * 1024)
      dr.foreach(r => dGot += r.getLong(ds.fieldIndex("rk")))
      ds.fieldNames.indexOf("next_token") match {
        case i if i >= 0 => dTok = Some(dr.head.getUTF8String(i).toString)
        case _ => dDone = true
      }
    }
    assert(dGot.result() === (0L until 6000L).reverse)
    // a projection WITHOUT the sort key still pages (internal append,
    // stripped from the returned schema)
    val (ps, pr) = PartiQL.execute(root,
      "SELECT payload FROM pg WHERE hk = 'big'", Nil, None, false, None,
      pageBytes = 64 * 1024)
    assert(ps.fieldNames.toSeq === Seq("payload", "next_token"))
    assert(pr.nonEmpty)
    // the service's Limit semantics: a Limit-stopped page still hands
    // back a token (more data remains), and resume continues after it
    val (ls1, lr1) = PartiQL.execute(root, stmt, Nil, Some(100), false, None)
    assert(lr1.length === 100)
    val lTok = lr1.head.getUTF8String(ls1.fieldNames.indexOf("next_token")).toString
    val (ls2, lr2) = PartiQL.execute(root, stmt, Nil, Some(100), false, Some(lTok))
    assert(lr2.length === 100)
    assert(lr2.head.getLong(ls2.fieldIndex("rk")) ===
      lr1.last.getLong(ls1.fieldIndex("rk")) + 1)
    // and a Limit covering the whole remainder ends WITHOUT a token
    val (ls3, lr3) = PartiQL.execute(root,
      "SELECT rk FROM pg WHERE hk = 'big' AND rk >= 5990", Nil,
      Some(100), false, None)
    assert(lr3.length === 10 && !ls3.fieldNames.contains("next_token"))
    // a scan-shaped over-bound SELECT fails loudly, never truncates
    val loud = intercept[Exception] {
      PartiQL.execute(root, "SELECT payload, rk FROM pg", Nil, None, false,
        None, pageBytes = 64 * 1024) }
    assert(loud.getMessage.contains("cannot page"), loud.getMessage)
    // writes are unaffected by paging params (wired SELECT-only)
    val wr = intercept[Exception] {
      PartiQL.execute(root, "DELETE FROM pg WHERE hk = 'big' AND rk = 1",
        Nil, None, false, Some("zzz")) }
    assert(wr.getMessage.contains("SELECT"), wr.getMessage)
    // and the procedure surface round-trips the token parameter
    val prev = spark.conf.getOption("spark.sql.catalog.pgcat")
    try {
      spark.conf.set("spark.sql.catalog.pgcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.pgcat.path", root)
      val one = spark.sql("CALL pgcat.execute_statement(statement => " +
        "'SELECT rk FROM pg WHERE hk = ''big'' AND rk < 50')").collect()
      assert(one.length === 50 &&
        !one.head.schema.fieldNames.contains("next_token"))
    } finally {
      spark.conf.unset("spark.sql.catalog.pgcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.pgcat"))(
        spark.conf.set("spark.sql.catalog.pgcat", _))
    }
  }

  test("PartiQL SELECT runs the connector's own plan: key window pushes, pages prune") {
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("pq", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      (for (k <- Iterator("a", "b", "c", "d"); i <- Iterator.range(0, 1500)) yield Map(
        "hk" -> (AttrVal.S(k): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i * 3)): AttrVal))))
    val df = PartiQL.selectDataFrame(spark, root,
      "SELECT hk, rk, v FROM pq WHERE hk = 'b' AND rk BETWEEN 100 AND 150")
    val got = df.collect()
    assert(got.length == 51 && got.forall(_.getString(0) == "b"))
    // the statement's plan IS the DataFrame read's: the key equality
    // prunes to the owning shard (~3000 of 6000 items) and the
    // sort-key BETWEEN window prunes base pages inside it — anything
    // ≤1600 scanned proves the WINDOW pushed, not just the shard
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .find(_.nodeName.contains("BatchScan")).getOrElse(fail("no BatchScan"))
    val scanned = scan.metrics("itemsScanned").value
    assert(scanned <= 1600,
      s"statement plan must push the key window, scanned $scanned")
  }

  test("batch_execute_statement: per-statement commit, failures isolated") {
    import graft.sources.dynamo.{AttrVal, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("bt", TableMeta("id", None, shards = 1,
        throughput = 1000000L),
      Iterator(Map("id" -> (AttrVal.S("x"): AttrVal),
        "v" -> (AttrVal.N(1): AttrVal))))
    val prev = spark.conf.getOption("spark.sql.catalog.bcat")
    try {
      spark.conf.set("spark.sql.catalog.bcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.bcat.path", root)
      // NON-transactional: statement 2 (duplicate INSERT) and 3
      // (missing-key UPDATE) fail ALONE; 1 and 4 commit anyway
      val stmts = ("INSERT INTO bt VALUE {'id': 'y', 'v': 2}; " +
        "INSERT INTO bt VALUE {'id': 'x', 'v': 9}; " +
        "UPDATE bt SET v = 9 WHERE id = 'gone'; " +
        "DELETE FROM bt WHERE id = 'x'; " +
        "SELECT * FROM bt WHERE id = 'y'").replace("'", "''")
      val res = spark.sql(s"CALL bcat.batch_execute_statement('$stmts')")
        .collect()
      assert(res.map(r => (r.getInt(0), r.getString(1), r.getBoolean(3))).toSeq ===
        Seq((0, "INSERT", true), (1, "INSERT", false), (2, "UPDATE", false),
          (3, "DELETE", true), (4, "SELECT", true)))
      assert(res(1).getString(5).contains("same key already exists"))
      assert(res(2).getString(5).contains("no item with the specified key"))
      assert(res(4).getLong(4) === 1L, "SELECT row count rides the rows column")
      // effects: y inserted, x deleted, despite the failures between
      def has(id: String) = store.transactGet("bt",
        Seq(Map("id" -> (AttrVal.S(id): AttrVal)))).head.nonEmpty
      assert(has("y") && !has("x"))
      // the 25-statement service bound
      val over = intercept[Exception] {
        spark.sql(s"CALL bcat.batch_execute_statement('" +
          Seq.fill(26)("DELETE FROM bt WHERE id = ''z''").mkString("; ") + "')") }
      assert(over.getMessage.contains("capped at 25"), over.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.bcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.bcat"))(
        spark.conf.set("spark.sql.catalog.bcat", _))
    }
  }

  test("LAW: PartiQL value/condition rendering round-trips through the parser") {
    import graft.sources.dynamo.{AttrVal, PartiQL}
    // render a value in PartiQL literal syntax, parse it back inside
    // an INSERT, compare ASTs — fuzzes the quoting/escaping/nesting
    // surface (single-quote escapes, negative/decimal N, deep L/M)
    def render(v: AttrVal): String = v match {
      case AttrVal.S(s) => "'" + s.replace("'", "''") + "'"
      case AttrVal.N(n) => n.bigDecimal.toPlainString
      case AttrVal.Bool(b) => b.toString.toUpperCase
      case AttrVal.Null => "NULL"
      case AttrVal.L(vs) => vs.map(render).mkString("[", ", ", "]")
      case AttrVal.M(m) => m.toSeq.sortBy(_._1)
        .map { case (k, x) => s"'${k.replace("'", "''")}': ${render(x)}" }
        .mkString("{", ", ", "}")
      case other => fail(s"unreachable $other")
    }
    def randVal(rnd: scala.util.Random, depth: Int): AttrVal =
      rnd.nextInt(if (depth >= 2) 5 else 7) match {
        case 0 => AttrVal.S(Seq.fill(rnd.nextInt(8))(
          "ab'c\"d e,:}{][".charAt(rnd.nextInt(14))).mkString)
        case 1 => AttrVal.N(BigDecimal(rnd.nextLong() % 100000) / // scale 0-4
          BigDecimal(10).pow(rnd.nextInt(5)))
        case 2 => AttrVal.Bool(rnd.nextBoolean())
        case 3 => AttrVal.Null
        case 4 => AttrVal.N(BigDecimal(rnd.nextLong()))
        case 5 => AttrVal.L(Vector.fill(rnd.nextInt(4))(randVal(rnd, depth + 1)))
        case _ => AttrVal.M((0 until rnd.nextInt(4)).map(i =>
          s"k$i" -> randVal(rnd, depth + 1)).toMap)
      }
    (0 until 300).foreach { seed =>
      val rnd = new scala.util.Random(seed.toLong)
      val item = (0 until 1 + rnd.nextInt(4)).map(i =>
        s"a$i" -> randVal(rnd, 0)).toMap
      val text = "INSERT INTO t VALUE " + item.toSeq.sortBy(_._1)
        .map { case (k, v) => s"'$k': ${render(v)}" }
        .mkString("{", ", ", "}")
      PartiQL.parse(text, Nil) match {
        case PartiQL.Insert("t", got) =>
          // numbers normalize (1.50 == 1.5 as BigDecimal) — AttrVal.N
          // equality is BigDecimal equality, which is what the store
          // ingests; everything else must round-trip exactly
          assert(got === item, s"seed $seed: $text")
        case other => fail(s"seed $seed parsed to $other")
      }
    }
    // condition surface round-trip, spot-checked per shape
    val sel = PartiQL.parse("SELECT a, b FROM \"T\" WHERE h = 'x''y' AND " +
      "r BETWEEN -2.5 AND 7 AND s IN ('p', 'q') AND begins_with(u, 'pre') " +
      "AND contains(w, 'mid') AND z IS NOT MISSING AND q <> 4 " +
      "ORDER BY a DESC, b", Nil).asInstanceOf[PartiQL.Select]
    assert(sel.table === "T" &&
      sel.projection === Some(Seq(PartiQL.DocPath("a"), PartiQL.DocPath("b"))))
    assert(sel.where === Seq(
      PartiQL.Cmp("h", "=", AttrVal.S("x'y")),
      PartiQL.Between("r", AttrVal.N(BigDecimal("-2.5")), AttrVal.N(7)),
      PartiQL.InList("s", Seq(AttrVal.S("p"), AttrVal.S("q"))),
      PartiQL.FnCond("begins_with", "u", AttrVal.S("pre")),
      PartiQL.FnCond("contains", "w", AttrVal.S("mid")),
      PartiQL.Missing("z", negated = true),
      PartiQL.Cmp("q", "<>", AttrVal.N(4))))
    assert(sel.orderBy === Seq(PartiQL.DocPath("a") -> false,
      PartiQL.DocPath("b") -> true))
    // boolean structure + nested paths (round-14 dialect extension):
    // 300-seed random condition TREES (OR/AND/NOT, parens, document
    // paths) render → parse → compare, the same law as values above
    def renderCond(c: PartiQL.Cond): String = c match {
      case PartiQL.Cmp(a, op, v) => s"${a.render} $op ${render(v)}"
      case PartiQL.Between(a, lo, hi) =>
        s"${a.render} BETWEEN ${render(lo)} AND ${render(hi)}"
      case PartiQL.InList(a, vs) =>
        s"${a.render} IN (${vs.map(render).mkString(", ")})"
      case PartiQL.FnCond(fn, a, v) => s"$fn(${a.render}, ${render(v)})"
      case PartiQL.Missing(a, false) => s"${a.render} IS MISSING"
      case PartiQL.Missing(a, true) => s"${a.render} IS NOT MISSING"
      case PartiQL.OrCond(l, r) => s"(${renderCond(l)} OR ${renderCond(r)})"
      case PartiQL.AndCond(l, r) => s"(${renderCond(l)} AND ${renderCond(r)})"
      case PartiQL.NotCond(x) => s"NOT (${renderCond(x)})"
    }
    def flat(c: PartiQL.Cond): Seq[PartiQL.Cond] = c match {
      case PartiQL.AndCond(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    def randPath(rnd: scala.util.Random): PartiQL.DocPath =
      PartiQL.DocPath("a" + rnd.nextInt(4),
        Seq.fill(rnd.nextInt(3))(
          if (rnd.nextBoolean()) Left("f" + rnd.nextInt(3))
          else Right(rnd.nextInt(5))))
    def randLeaf(rnd: scala.util.Random): PartiQL.Cond = rnd.nextInt(6) match {
      case 0 => PartiQL.Cmp(randPath(rnd),
        Seq("=", "<>", "<", "<=", ">", ">=")(rnd.nextInt(6)), randVal(rnd, 2))
      case 1 => PartiQL.Between(randPath(rnd),
        AttrVal.N(rnd.nextInt(100)), AttrVal.N(100 + rnd.nextInt(100)))
      case 2 => PartiQL.InList(randPath(rnd),
        Seq.fill(1 + rnd.nextInt(3))(randVal(rnd, 2)))
      case 3 => PartiQL.FnCond(
        if (rnd.nextBoolean()) "begins_with" else "contains",
        randPath(rnd), AttrVal.S("p" + rnd.nextInt(9)))
      case 4 => PartiQL.Missing(randPath(rnd), rnd.nextBoolean())
      case _ => PartiQL.Cmp(randPath(rnd), "=", AttrVal.S("v" + rnd.nextInt(9)))
    }
    def randCond(rnd: scala.util.Random, depth: Int): PartiQL.Cond =
      if (depth >= 3) randLeaf(rnd)
      else rnd.nextInt(5) match {
        case 0 => PartiQL.OrCond(randCond(rnd, depth + 1), randCond(rnd, depth + 1))
        case 1 => PartiQL.AndCond(randCond(rnd, depth + 1), randCond(rnd, depth + 1))
        case 2 => PartiQL.NotCond(randCond(rnd, depth + 1))
        case _ => randLeaf(rnd)
      }
    (0 until 300).foreach { seed =>
      val rnd = new scala.util.Random(7000L + seed)
      val tree = randCond(rnd, 0)
      val text = s"SELECT * FROM t WHERE ${renderCond(tree)}"
      PartiQL.parse(text, Nil) match {
        case s: PartiQL.Select =>
          assert(s.where === flat(tree), s"seed $seed: $text")
        case other => fail(s"seed $seed parsed to $other")
      }
    }
  }

  test("contributor_insights ranks hot keys from sidecars; update_throughput feeds capacity math") {
    import graft.sources.dynamo.{AttrVal, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // skew: one whale key (2000 rows) among ten 40-row keys — the
    // hot-partition shape CI exists to catch
    store.bulkLoad("hot", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      (Iterator.range(0, 2000).map(i => Map(
        "hk" -> (AttrVal.S("whale"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i)): AttrVal))) ++
       (for (k <- Iterator.range(0, 10); i <- Iterator.range(0, 40)) yield Map(
        "hk" -> (AttrVal.S(f"k$k%02d"): AttrVal),
        "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i)): AttrVal)))))
    val prev = spark.conf.getOption("spark.sql.catalog.icat")
    try {
      spark.conf.set("spark.sql.catalog.icat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.icat.path", root)
      val top = spark.sql("CALL icat.contributor_insights('hot', 3)").collect()
      assert(top.head.getString(0) === "whale" && top.head.getLong(2) === 2000L,
        s"whale must rank first: ${top.toSeq}")
      assert(top.head.getLong(3) > 0, "bytes must attribute from page lengths")
      // a brand-new hot WRITER has no base pages yet — the journal
      // half of the report surfaces it
      store.appendWal("hot", System.currentTimeMillis() + 1000000L, "w",
        (0 until 50).map(i => store.Put(Map(
          "hk" -> (AttrVal.S("newbie"): AttrVal),
          "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal)))))
      val top2 = spark.sql("CALL icat.contributor_insights('hot', 3)").collect()
      assert(top2.map(_.getString(0)).toSeq === Seq("whale", "newbie", "k00"),
        s"rank by items+writes: ${top2.map(_.getString(0)).toSeq}")
      val newbie = top2(1)
      assert(newbie.getLong(2) === 0L && newbie.getLong(4) === 50L)
      // UpdateTable ProvisionedThroughput: the capacity number the
      // rate limiters read
      spark.sql("CALL icat.update_throughput('hot', 5000)")
      assert(store.describe("hot").throughput === 5000L)
      // DescribeTable: metadata + sidecar-derived ItemCount/size,
      // zero item reads (2400 base items; the 50 journal puts are
      // counted too — journal zstats ride the union)
      val desc = spark.sql("CALL icat.describe_table('hot')").collect().head
      assert(desc.getString(0) === "hot" && desc.getInt(1) === 2)
      assert(desc.getLong(2) === 5000L, "throughput must reflect the update")
      assert(desc.getLong(5) === 2450L, s"item_count: ${desc.getLong(5)}")
      assert(desc.getLong(6) > 0, "size_bytes from file sizes")
      val neg = intercept[Exception] {
        spark.sql("CALL icat.update_throughput('hot', -1)") }
      assert(neg.getMessage.contains("positive"), neg.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.icat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.icat"))(
        spark.conf.set("spark.sql.catalog.icat", _))
    }
  }

  test("CALL procedures run the distributed maintenance jobs") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)
    val prev = spark.conf.getOption("spark.sql.catalog.mcat")
    try {
      spark.conf.set("spark.sql.catalog.mcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.mcat.path", root)
      // compact: journal folds away, summary row comes back
      assert(!store.journalEmpty("fruit"))
      val res = spark.sql("CALL mcat.compact('fruit')").collect()
      assert(res.map(r => (r.getString(0), r.getBoolean(1))).toSeq ===
        Seq(("fruit", true)))
      assert(store.journalEmpty("fruit"))
      // reshard by named arguments; reads stay correct over the new layout
      spark.sql("CALL mcat.reshard(table => 'fruit', new_shards => 5)")
      assert(store.describe("fruit").shards === 5)
      assert(spark.read.dynamo(root, "fruit").count() === 4L)
      // reap_expired physically deletes items below the TTL clock
      Seq(("mold", "grey", 0.0, 0L, 100L))
        .toDF("name", "color", "weight_kg", "stock", "expiry")
        .write.dynamo(root, "fruit", "name")
      spark.sql("CALL mcat.reap_expired('fruit', 'expiry', 2000000000)")
      assert(spark.read.dynamo(root, "fruit").count() === 4L)
      val names = spark.read.dynamo(root, "fruit")
        .select("name").as[String].collect().sorted.toSeq
      assert(names === Seq("apple", "banana", "cherry", "durian"))
      // on-demand backup: restore = read the destination root directly
      val dest = freshRoot()
      spark.sql(s"CALL mcat.backup_table('fruit', '$dest')")
      val restored = spark.read.dynamo(dest, "fruit")
        .select("name").as[String].collect().sorted.toSeq
      assert(restored === names)
      // restore_table round-trips the backup into a catalog store and
      // refuses to overwrite an existing table
      val root2 = freshRoot()
      val prev2 = spark.conf.getOption("spark.sql.catalog.rcat")
      try {
        spark.conf.set("spark.sql.catalog.rcat", "graft.sources.dynamo.DynamoCatalog")
        spark.conf.set("spark.sql.catalog.rcat.path", root2)
        spark.sql(s"CALL rcat.restore_table('fruit', '$dest')")
        assert(spark.read.dynamo(root2, "fruit")
          .select("name").as[String].collect().sorted.toSeq === names)
        val err = intercept[Exception] {
          spark.sql(s"CALL rcat.restore_table('fruit', '$dest')")
        }
        assert(err.getMessage.contains("already exists"), err.getMessage)
      } finally {
        spark.conf.unset("spark.sql.catalog.rcat.path")
        prev2.fold(spark.conf.unset("spark.sql.catalog.rcat"))(
          spark.conf.set("spark.sql.catalog.rcat", _))
      }
      // reap_expired optional args: fold => false publishes the
      // delete markers only — items hidden from every read, journal
      // retains them for lagging CDC streams; a later compact reclaims
      Seq(("worm", "brown", 0.0, 0L, 100L))
        .toDF("name", "color", "weight_kg", "stock", "expiry")
        .write.dynamo(root, "fruit", "name")
      spark.sql("CALL mcat.reap_expired(table => 'fruit', " +
        "ttl_attribute => 'expiry', now_epoch_s => 2000000000, " +
        "fold => false)")
      assert(spark.read.dynamo(root, "fruit").count() === 4L)
      assert(!store.journalEmpty("fruit"),
        "fold => false must leave the delete markers in the journal")
      spark.sql("CALL mcat.compact('fruit')")
      assert(spark.read.dynamo(root, "fruit").count() === 4L)
      // deletion protection (UpdateTable's DeletionProtectionEnabled):
      // a protected table survives DROP TABLE; data ops still work;
      // disabling re-arms the drop
      val res2 = spark.sql(
        "CALL mcat.set_deletion_protection('fruit', true)").collect()
      assert(res2.map(r => (r.getString(0), r.getBoolean(1))).toSeq ===
        Seq(("fruit", true)))
      val dEx = intercept[Throwable] { spark.sql("DROP TABLE mcat.fruit") }
      def dmsgs(t: Throwable): String =
        if (t == null) "" else t.getMessage + "|" + dmsgs(t.getCause)
      assert(dmsgs(dEx).contains("deletion protection"), dmsgs(dEx))
      assert(store.exists("fruit"))
      assert(spark.read.dynamo(root, "fruit").count() === 4L)
      Seq(("guava", "green", 0.2, 3L))
        .toDF("name", "color", "weight_kg", "stock")
        .write.dynamo(root, "fruit", "name") // data ops unaffected
      assert(spark.read.dynamo(root, "fruit").count() === 5L)
      spark.sql("CALL mcat.set_deletion_protection('fruit', false)")
      spark.sql("DROP TABLE mcat.fruit")
      assert(!store.exists("fruit"))
    } finally {
      spark.conf.unset("spark.sql.catalog.mcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.mcat"))(
        spark.conf.set("spark.sql.catalog.mcat", _))
    }
  }

  test("CALL replication_lag reports one row per peer with journal-clock lag") {
    import graft.sources.dynamo.{Replication, TableMeta, AttrVal}
    import graft.sources.dynamo.Replication.RPut
    val rootA = freshRoot(); val rootB = freshRoot(); val rootC = freshRoot()
    val meta = TableMeta("id", None, shards = 2, throughput = 1000000L)
    val a = new LocalKVStore(rootA); a.createTable("t", meta)
    val b = new LocalKVStore(rootB); b.createTable("t", meta)
    val c = new LocalKVStore(rootC); c.createTable("t", meta)
    val seq0 = System.currentTimeMillis() + 700000L
    Replication.writeStamped(a, "t", "rA", 1, seq0, "w1",
      Seq(RPut(Map("id" -> (AttrVal.S("k"): AttrVal),
        "v" -> (AttrVal.S("v1"): AttrVal)))))
    // b syncs (caught up); c never does (lags by the full head)
    Replication.syncIncremental(a, "rA", b, "t", seq0 + 1, "s1")
    val prev = spark.conf.getOption("spark.sql.catalog.lagcat")
    try {
      spark.conf.set("spark.sql.catalog.lagcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.lagcat.path", rootA)
      val rows = spark.sql(
        s"CALL lagcat.replication_lag('t', 'rA', '$rootB,$rootC')").collect()
      assert(rows.length === 2)
      val byRoot = rows.map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
      assert(byRoot(rootB)._2 === 0L, s"synced peer must report zero lag: $byRoot")
      assert(byRoot(rootB)._1 >= seq0)
      assert(byRoot(rootC)._1 === 0L && byRoot(rootC)._2 > 0L,
        s"never-synced peer must lag by the journal head: $byRoot")
    } finally {
      spark.conf.unset("spark.sql.catalog.lagcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.lagcat"))(
        spark.conf.set("spark.sql.catalog.lagcat", _))
    }
  }

  test("CALL history lists the journal publish log, windowed to the last compaction") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root) // one write job → journal files exist
    val store = new LocalKVStore(root)
    val prev = spark.conf.getOption("spark.sql.catalog.hcat")
    try {
      spark.conf.set("spark.sql.catalog.hcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.hcat.path", root)
      Seq(("elderberry", "red", 0.02, 7L))
        .toDF("name", "color", "weight_kg", "stock")
        .write.dynamo(root, "fruit", "name")
      val hist = spark.sql("CALL hcat.history('fruit')").collect()
      // one row per published journal file, in replay order, op counts
      // summing to the five puts across both write jobs
      assert(hist.map(_.getString(5)).toSeq ===
        store.walFileNames("fruit").sorted)
      assert(hist.map(_.getLong(3)).sum === 5L)
      assert(hist.forall(_.getLong(4) > 0L)) // bytes
      val seqs = hist.map(_.getLong(0)).toSeq
      assert(seqs === seqs.sorted)
      // pub_seq doubles as the VERSION AS OF coordinate: time travel
      // to just before the LAST publish hides the second write job
      val beforeLast = spark.read.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .option("asOfSeq", (seqs.max - 1).toString).load()
      assert(beforeLast.count() === 4L)
      // compaction folds + deletes the journal → empty history (the
      // same window asOfSeq reads reach back to)
      store.compact("fruit")
      assert(spark.sql("CALL hcat.history('fruit')").collect().isEmpty)
    } finally {
      spark.conf.unset("spark.sql.catalog.hcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.hcat"))(
        spark.conf.set("spark.sql.catalog.hcat", _))
    }
  }

  test("TRUNCATE TABLE empties the table but keeps its definition and writability") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    val prev = spark.conf.getOption("spark.sql.catalog.tcat")
    try {
      spark.conf.set("spark.sql.catalog.tcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.tcat.path", root)
      assert(spark.sql("SELECT count(*) FROM tcat.fruit").head().getLong(0) === 4L)
      spark.sql("TRUNCATE TABLE tcat.fruit")
      assert(spark.sql("SELECT count(*) FROM tcat.fruit").head().getLong(0) === 0L)
      // the definition survives: keys/layout intact, writes land again
      Seq(("fig", "purple", 0.05, 9L))
        .toDF("name", "color", "weight_kg", "stock")
        .write.dynamo(root, "fruit", "name")
      assert(spark.sql("SELECT name FROM tcat.fruit").as[String]
        .collect().toSeq === Seq("fig"))
    } finally {
      spark.conf.unset("spark.sql.catalog.tcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.tcat"))(
        spark.conf.set("spark.sql.catalog.tcat", _))
    }
  }

  test("ViewCatalog persists view definitions: create, load, alter, rename, drop") {
    // Spark 4.1 ships the connector ViewCatalog API but does not yet
    // route CREATE VIEW SQL to non-session catalogs (verified: nothing
    // in the 4.1 analyzer consumes the interface — the same
    // implemented-but-upstream-inert situation as the pushed-join
    // layout report). The registry is exercised through the API it
    // will light up under; persistence + atomicity are real today.
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewChange, ViewInfo}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val root = freshRoot()
    def newCat() = {
      val c = new graft.sources.dynamo.DynamoCatalog
      c.initialize("vcat", new CaseInsensitiveStringMap(java.util.Map.of("path", root)))
      c
    }
    val cat = newCat()
    val ns = Array("default")
    val id = Identifier.of(ns, "reds")
    val schema = StructType(Seq(StructField("name", StringType)))
    val info = new ViewInfo(id,
      "SELECT name FROM fruit WHERE color = 'red'", "vcat", ns, schema,
      Array("name"), Array("name"), Array[String](null),
      java.util.Map.of("comment", "red fruit"))
    val v = cat.createView(info)
    assert(v.query().contains("color = 'red'") && v.schema() === schema)
    assert(v.properties().get("comment") === "red fruit")
    assert(v.columnComments().toSeq === Seq(null))
    // duplicate create refuses; listing and existence agree
    assertThrows[org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException](
      cat.createView(info))
    assert(cat.listViews("default").map(_.name()).toSeq === Seq("reds"))
    // property alteration round-trips
    cat.alterView(id, ViewChange.setProperty("owner", "me"),
      ViewChange.removeProperty("comment"))
    val v2 = cat.loadView(id)
    assert(v2.properties().get("owner") === "me" && !v2.properties().containsKey("comment"))
    // rename, persistence across a FRESH catalog instance, drop
    cat.renameView(id, Identifier.of(ns, "crimson"))
    val again = newCat()
    assert(again.viewExists(Identifier.of(ns, "crimson")))
    assert(again.loadView(Identifier.of(ns, "crimson")).query()
      .contains("color = 'red'"))
    assert(again.dropView(Identifier.of(ns, "crimson")))
    assert(!again.viewExists(Identifier.of(ns, "crimson")))
    assertThrows[org.apache.spark.sql.catalyst.analysis.NoSuchViewException](
      again.loadView(Identifier.of(ns, "crimson")))
  }

  test("ViewCatalog: namespaces isolate same-named views; hostile names cannot escape _views/") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val cat = new graft.sources.dynamo.DynamoCatalog
    cat.initialize("vns", new CaseInsensitiveStringMap(java.util.Map.of("path", root)))
    val schema = StructType(Seq(StructField("x", IntegerType)))
    def mkInfo(id: Identifier, sql: String) = new ViewInfo(id, sql, "vns",
      id.namespace(), schema, Array("x"), Array("x"), Array[String](null),
      java.util.Map.of())
    // same bare name in two namespaces: both exist, each loads its own SQL
    val va = Identifier.of(Array("alpha"), "v")
    val vb = Identifier.of(Array("beta"), "v")
    cat.createView(mkInfo(va, "SELECT 1 AS x"))
    cat.createView(mkInfo(vb, "SELECT 2 AS x"))
    assert(cat.viewExists(va) && cat.viewExists(vb))
    assert(cat.loadView(va).query() === "SELECT 1 AS x")
    assert(cat.loadView(vb).query() === "SELECT 2 AS x")
    assert(cat.listViews("alpha").toSeq === Seq(va))
    assert(cat.listViews("beta").toSeq === Seq(vb))
    assert(cat.dropView(va) && !cat.viewExists(va) && cat.viewExists(vb))
    // a quoted name containing path separators and dots stays a single
    // sanitized file under _views/ — it cannot climb out of the dir
    val evil = Identifier.of(Array("default"), "../escape/v.json")
    cat.createView(mkInfo(evil, "SELECT 3 AS x"))
    assert(cat.loadView(evil).query() === "SELECT 3 AS x")
    assert(cat.listViews("default").toSeq === Seq(evil))
    val viewsDir = java.nio.file.Paths.get(root, "_views")
    val stray = java.nio.file.Paths.get(root, "escape")
    assert(!java.nio.file.Files.exists(stray), "view name escaped _views/")
    val inDir = java.nio.file.Files.list(viewsDir)
    try assert(inDir.iterator().asScala.forall(
      _.getParent.getFileName.toString == "_views"))
    finally inDir.close()
    assert(cat.dropView(evil))
  }

  test("CTAS composes with clusterWrite=shard: staged write is bucket-clustered") {
    import spark.implicits._
    val root = freshRoot()
    Seq.tabulate(200)(i => (f"k$i%04d", i.toLong)).toDF("id", "qty")
      .repartition(8).createOrReplaceTempView("ctcw_src")
    val prev = spark.conf.getOption("spark.sql.catalog.cwc")
    try {
      spark.conf.set("spark.sql.catalog.cwc", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.cwc.path", root)
      spark.conf.set("spark.sql.catalog.cwc.clusterWrite", "shard")
      spark.sql("CREATE TABLE cwc.t TBLPROPERTIES('hashKey'='id', 'shards'='4') " +
        "AS SELECT id, qty FROM ctcw_src")
      // catalog-level clusterWrite reached the STAGED table's write:
      // 8 source partitions, at most 4 (one per shard) journal files
      val store = new LocalKVStore(root)
      assert(store.walFileNames("t").size <= 4,
        store.walFileNames("t").mkString(", "))
      assert(spark.table("cwc.t").count() === 200L)
    } finally {
      spark.conf.unset("spark.sql.catalog.cwc.clusterWrite")
      spark.conf.unset("spark.sql.catalog.cwc.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.cwc"))(
        spark.conf.set("spark.sql.catalog.cwc", _))
    }
  }

  test("RENAME TABLE moves the whole table in one atomic step") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    val prev = spark.conf.getOption("spark.sql.catalog.rncat")
    try {
      spark.conf.set("spark.sql.catalog.rncat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.rncat.path", root)
      spark.sql("ALTER TABLE rncat.fruit RENAME TO produce")
      assert(!new LocalKVStore(root).exists("fruit"))
      assert(spark.table("rncat.produce").count() === 4L)
      // journal + sidecars traveled with the directory
      assert(spark.table("rncat.produce")
        .where(col("name") === "cherry").count() === 1L)
    } finally {
      spark.conf.unset("spark.sql.catalog.rncat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.rncat"))(
        spark.conf.set("spark.sql.catalog.rncat", _))
    }
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF read a journal snapshot") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root) // 4 rows
    Thread.sleep(15)
    val cut = System.currentTimeMillis()
    Thread.sleep(15)
    Seq(("elderberry", "purple", 0.01, 9L))
      .toDF("name", "color", "weight_kg", "stock")
      .write.dynamo(root, "fruit", "name") // 5th row, after the cut
    val prev = spark.conf.getOption("spark.sql.catalog.ttcat")
    try {
      spark.conf.set("spark.sql.catalog.ttcat", "graft.sources.dynamo.DynamoCatalog")
      spark.conf.set("spark.sql.catalog.ttcat.path", root)
      assert(spark.sql("SELECT count(*) AS c FROM ttcat.fruit")
        .head().getLong(0) === 5L)
      // VERSION AS OF addresses the journal's publish-seq space
      assert(spark.sql(s"SELECT count(*) AS c FROM ttcat.fruit VERSION AS OF $cut")
        .head().getLong(0) === 4L)
      // TIMESTAMP AS OF maps into the same space (session tz is UTC)
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(cut))
      assert(spark.sql(s"SELECT count(*) AS c FROM ttcat.fruit TIMESTAMP AS OF '$ts'")
        .head().getLong(0) === 4L)
      // the snapshot is row-accurate, not just a count
      assert(spark.sql(s"SELECT name FROM ttcat.fruit VERSION AS OF $cut")
        .collect().map(_.getString(0)).sorted.toSeq ===
        Seq("apple", "banana", "cherry", "durian"))
    } finally {
      spark.conf.unset("spark.sql.catalog.ttcat.path")
      prev.fold(spark.conf.unset("spark.sql.catalog.ttcat"))(
        spark.conf.set("spark.sql.catalog.ttcat", _))
    }
  }

  test("column statistics fold from the sidecars under the exact-row gate") {
    import spark.implicits._
    import graft.sources.dynamo.{DynamoOptions, DynamoScan}
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.types._
    val root = freshRoot()
    seedFruit(root)
    // one extra row with a NULL color: null counts must see it
    Seq(("kiwi", null: String, 0.09, 7L))
      .toDF("name", "color", "weight_kg", "stock")
      .write.dynamo(root, "fruit", "name")
    val store = new LocalKVStore(root)
    val opts = DynamoOptions(java.util.Map.of("path", root, "tableName", "fruit"))
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("color", StringType),
      StructField("weight_kg", DoubleType), StructField("stock", LongType)))
    def cs() = new DynamoScan(opts, schema, Array.empty)
      .estimateStatistics().columnStats()
    // journal dirty: the exact-row gate declines, no column stats
    assert(cs().isEmpty)
    store.compact("fruit")
    val m = cs()
    val stock = m.get(Expressions.column("stock"))
    assert(stock.min().get() === java.lang.Long.valueOf(1L))
    assert(stock.max().get() === java.lang.Long.valueOf(100L))
    assert(stock.nullCount().getAsLong === 0L)
    val w = m.get(Expressions.column("weight_kg"))
    assert(w.min().get() === java.lang.Double.valueOf(0.005))
    assert(w.max().get() === java.lang.Double.valueOf(2.5))
    // string attrs report the null count but claim no numeric range
    val color = m.get(Expressions.column("color"))
    assert(!color.min().isPresent && !color.max().isPresent)
    assert(color.nullCount().getAsLong === 1L) // the kiwi row
    assert(m.get(Expressions.column("name")).nullCount().getAsLong === 0L)
    // NDV from the per-shard HLL sketches: tiny cardinalities sit in
    // the linear-counting regime and come back exact, clamped by the
    // non-null count
    assert(m.get(Expressions.column("name")).distinctCount().getAsLong === 5L)
    assert(color.distinctCount().getAsLong === 3L) // red/yellow/green; null excluded
  }

  test("sidecar HLL sketches: shard merge equals whole-table sketch, estimate within tolerance") {
    import graft.sources.dynamo.{AttrStats, AttrVal, ShardStats}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val meta = TableMeta("id", None, shards = 8, throughput = 1000000L)
    // 5000 unique ids, 7 distinct groups, 400 distinct values
    store.bulkLoad("t", meta, (0 until 5000).iterator.map(i =>
      Map("id" -> AttrVal.S(f"k$i%05d"),
        "grp" -> AttrVal.S(s"g${i % 7}"),
        "v" -> AttrVal.N(BigDecimal(i % 400)))))
    val per = store.tableZoneStats("t", 8).flatten
    assert(per.size === 8)
    def ndv(attr: String): Long = AttrStats.hllEstimate(
      per.map(_.attrs(attr)).reduce(_ union _).hll.get)
    // merged-sketch estimates: exact in the linear-counting regime
    // (grp), within the 256-register error band for the larger sets
    assert(ndv("grp") === 7L)
    assert(math.abs(ndv("v") - 400L) <= 40L, s"v ndv=${ndv("v")}")
    assert(math.abs(ndv("id") - 5000L) <= 750L, s"id ndv=${ndv("id")}")
    // merge law: folding per-shard sketches equals one sketch over
    // the whole stream (registers are max-mergeable)
    val whole = (0 until 5000).foldLeft(ShardStats.empty)((st, i) =>
      st.widen(Map("id" -> AttrVal.S(f"k$i%05d"))))
    val merged = per.map(_.attrs("id")).reduce(_ union _).hll.get
    assert(whole.attrs("id").hll.get === merged)
    // decode-equal numbers hash identically: N(1) vs N(1.0)
    assert(AttrStats.hllAdd(AttrStats.hllZero, AttrVal.N(BigDecimal("1"))) ===
      AttrStats.hllAdd(AttrStats.hllZero, AttrVal.N(BigDecimal("1.0"))))
  }

  test("Catalyst's optimizer sees the sidecar column stats end-to-end") {
    val root = freshRoot()
    seedFruit(root)
    new LocalKVStore(root).compact("fruit")
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val df = spark.read.dynamo(root, "fruit").select("name", "stock")
      val stats = df.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(4)), stats)
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      val stock = byName("stock")
      assert(stock.min.contains(1L) && stock.max.contains(100L), stock)
      assert(stock.nullCount.contains(BigInt(0)), stock)
      // NDV rides along (4 distinct stock values, linear-counting exact)
      assert(stock.distinctCount.contains(BigInt(4)), stock)
    } finally prev.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
      spark.conf.set("spark.sql.cbo.enabled", _))
  }

  test("GSI grouped-agg push: complete over a fresh copy, pinned across a staling write") {
    import spark.implicits._
    val root = freshRoot()
    Seq.tabulate(300)(i => (f"k$i%04d", s"g${i % 5}", (i % 13).toLong))
      .toDF("id", "grp", "v").write.dynamo(root, "t", "id")
    val store = new LocalKVStore(root)
    store.createIndex("t", "by_grp", IndexMeta("grp", None, Some(Seq("v"))))
    assert(store.indexFresh("t", "by_grp"))

    def grouped() = spark.read.dynamoIndex(root, "t", "by_grp")
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), avg("v").as("av"))
    val expected = Seq.tabulate(300)(i => (s"g${i % 5}", (i % 13).toLong))
      .groupBy(_._1).map { case (g, xs) =>
        (g, xs.size.toLong, xs.map(_._2).sum,
          xs.map(_._2).sum.toDouble / xs.size)
      }.toSeq.sortBy(_._1)
    // sort driver-side: an orderBy would build a NEW query execution,
    // re-running pushdown negotiation — the pin under test lives in
    // the ALREADY-PLANNED DataFrame
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq

    // grouping by the INDEX hash key over the materialized copy is
    // COMPLETE: each group lives in exactly one index shard, so the
    // scan emits final rows and Spark plans no aggregate at all (the
    // AVG rides along — it only ever pushes complete)
    val d1 = grouped()
    val p1 = d1.queryExecution.executedPlan.toString
    assert(p1.contains("PushedGroupBy: [grp] (complete)"), p1)
    assert(!p1.contains("HashAggregate"),
      s"complete GSI grouped push left a Spark-side aggregate:\n$p1")
    assert(rowsOf(d1) === expected)

    // TOCTOU pin: negotiate + build over the FRESH copy, then land a
    // write that stales it BEFORE execution. The completeness claim
    // must not demote to the base-scan path (index-keyed groups span
    // base segments there — duplicated "final" rows): the pinned scan
    // serves the copy snapshot negotiation saw, DynamoDB's eventually-
    // consistent GSI read. One row per group, pre-write values.
    val d2 = grouped()
    d2.queryExecution.executedPlan // forces pushdown negotiation + build()
    Seq(("zzzz", "g0", 1000L)).toDF("id", "grp", "v").write.dynamo(root, "t", "id")
    assert(!store.indexFresh("t", "by_grp"))
    assert(rowsOf(d2) === expected)

    // a freshly-planned read sees the DELTA-fresh copy: the grouped
    // push stays COMPLETE (overlay images place by the same index
    // hash, so groups remain shard-confined) and includes the new
    // item — the GSI stays fully usable under writes, no rebuild
    val d3 = grouped()
    val p3 = d3.queryExecution.executedPlan.toString
    assert(p3.contains("PushedGroupBy: [grp] (complete)"), p3)
    assert(!p3.contains("HashAggregate"), p3)
    val after = d3.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after("g0") === expected.find(_._1 == "g0").get._2 + 1)

    // with the delta tier disabled the same read falls back to the
    // projected base path: partial push, still the post-write answer
    val d4 = spark.read.format("dynamo")
      .option("path", root).option("tableName", "t")
      .option("indexName", "by_grp").option("gsiDeltaMaxBytes", "0")
      .load().groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), avg("v").as("av"))
    val p4 = d4.queryExecution.executedPlan.toString
    assert(p4.contains("PushedGroupBy: [grp] (partial)"), p4)
    val after4 = d4.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after4("g0") === expected.find(_._1 == "g0").get._2 + 1)
  }

  test("index metadata round-trips through meta.json") {
    val store = new LocalKVStore(freshRoot())
    store.createTable("t", TableMeta("pk", None, shards = 2, throughput = 10,
      indexes = Map("ix_all" -> IndexMeta("attr", Some("rk2"), None))))
    store.createIndex("t", "ix_incl", IndexMeta("b", None, Some(Seq("x", "y"))))
    val meta = store.describe("t")
    assert(meta.indexes == Map(
      "ix_all" -> IndexMeta("attr", Some("rk2"), None),
      "ix_incl" -> IndexMeta("b", None, Some(Seq("x", "y")))))
  }

  test("range-keyed table keeps items with the same hash key distinct") {
    val store = new LocalKVStore(freshRoot())
    import graft.sources.dynamo.AttrVal
    store.createTable("orders", TableMeta("user", Some("seq"), shards = 4, throughput = 1000))
    val items = (1 to 3).map { i =>
      Map("user" -> AttrVal.S("u1"), "seq" -> AttrVal.N(BigDecimal(i)),
          "amount" -> AttrVal.N(BigDecimal(i * 10)))
    }
    store.appendWal("orders", 1L, "w0", items.map(store.Put(_)))
    val back = store.scanSegment("orders", 0, 1).map(_._1).toSeq
    assert(back.size == 3)
  }

  test("unclosed WAL buffers are invisible; close publishes, abort discards") {
    val store = new LocalKVStore(freshRoot())
    import graft.sources.dynamo.AttrVal
    store.createTable("t", TableMeta("id", None, shards = 2, throughput = 1000))
    def item(k: String) = Map("id" -> AttrVal.S(k))

    val w = store.walWriter("t", 1L, "w0")
    w.append(store.Put(item("a"))); w.flush()
    // flushed but unpublished: no scan or change-feed listing sees it
    assert(store.scanSegment("t", 0, 1).isEmpty)
    assert(store.walFileNames("t").isEmpty)
    w.close()
    assert(store.scanSegment("t", 0, 1).map(_._1).toSeq.size == 1)

    val loser = store.walWriter("t", 2L, "w1")
    loser.append(store.Put(item("b")))
    loser.abort()
    // aborted writer leaves nothing — visible state unchanged
    assert(store.scanSegment("t", 0, 1).map(_._1).toSeq.size == 1)
    assert(store.walFileNames("t").size == 1)
  }

  test("ifNotExists=true puts only keys with no visible item (conditional put)") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    // apple exists → kept; elderberry absent → inserted
    Seq(("apple", "SHOULD_NOT_WIN"), ("elderberry", "purple"))
      .toDF("name", "color")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("ifNotExists", "true").mode("append").save()
    val back = spark.read.dynamo(root, "fruit")
      .select("name", "color").orderBy("name").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(back.toSeq == Seq(
      ("apple", "red"), ("banana", "yellow"), ("cherry", "red"),
      ("durian", "green"), ("elderberry", "purple")))
    // conditional put composes with modes: ifNotExists + update rejected
    val err = intercept[Exception] {
      Seq(("fig", "brown")).toDF("name", "color")
        .write.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .option("ifNotExists", "true").option("update", "true")
        .mode("append").save()
    }
    assert(err.getMessage.contains("ifNotExists"))
  }

  test("update with ifExists=true merges existing keys and never upserts") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    // apple exists → stock merged; fig absent → must NOT appear
    Seq(("apple", 77L), ("fig", 1L)).toDF("name", "stock")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("update", "true").option("ifExists", "true")
      .mode("append").save()
    val back = spark.read.dynamo(root, "fruit")
      .select("name", "stock").orderBy("name").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(back.toSeq == Seq(
      ("apple", 77L), ("banana", 5L), ("cherry", 100L), ("durian", 1L)))
    // condition flag without update mode is rejected
    val err = intercept[Exception] {
      Seq(("grape", 2L)).toDF("name", "stock")
        .write.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .option("ifExists", "true").mode("append").save()
    }
    assert(err.getMessage.contains("ifExists"))
  }

  test("LAW: TTL reap is region-local; visible state still converges across replicas") {
    // TTL × replication (the r16 crash-window lens on expiry): the
    // physical reap (compactShard expireTtl) is REGION-LOCAL, like
    // the service's background TTL deleter, and deliberately leaves
    // NO tombstone — so anti-entropy may ship an expired item's bytes
    // back into a region that already reaped it. That is fine BY
    // CONSTRUCTION: the ttl attribute replicates with the item, so
    // every region's read hides it identically — VISIBLE state
    // converges even when physical state differs. A fresher stamped
    // re-creation with a future expiry replicates and becomes visible
    // everywhere (DynamoDB's own recreate semantics), while the
    // reap + re-ship cycle can never resurrect the EXPIRED image.
    import graft.sources.dynamo.{AttrVal, Replication, TableMeta}
    import graft.sources.dynamo.Replication.RPut
    val rootA = freshRoot(); val rootB = freshRoot()
    val meta = TableMeta("id", None, shards = 2, throughput = 1000000L)
    val a = new LocalKVStore(rootA); a.createTable("t", meta)
    val b = new LocalKVStore(rootB); b.createTable("t", meta)
    val NOW = 1000000000L
    def it(k: String, ttl: Option[Long]): graft.sources.dynamo.ItemJson.Item =
      Map("id" -> (AttrVal.S(k): AttrVal)) ++
        ttl.map(t => "expires_at" -> (AttrVal.N(BigDecimal(t)): AttrVal))
    var seq = System.currentTimeMillis() + 600000L
    def nx(): Long = { seq += 1; seq }
    Replication.writeStamped(a, "t", "rA", 1L, nx(), "wa", Seq(
      RPut(it("k_expired", Some(100L))),
      RPut(it("k_live", Some(NOW + 1000L))),
      RPut(it("k_noattr", None))))
    Replication.sync(a, b, "t", nx(), "s1")
    // region A physically reaps; region B has not run its reaper yet
    (0 until meta.shards).foreach(s =>
      a.compactShard("t", s, expireTtl = Some(("expires_at", NOW))))
    assert(a.scanSegment("t", 0, 1).size === 2 &&
      b.scanSegment("t", 0, 1).size === 3,
      "reap must be local: A dropped the expired item, B still holds it")
    // anti-entropy both ways: B ships the expired bytes back to A
    Replication.sync(b, a, "t", nx(), "s2")
    Replication.sync(a, b, "t", nx(), "s3")
    def visible(root: String): Seq[String] =
      spark.read.format("dynamo")
        .option("path", root).option("tableName", "t")
        .option("ttlAttribute", "expires_at").option("ttlNow", NOW.toString)
        .load().select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(visible(rootA) === Seq("k_live", "k_noattr"))
    assert(visible(rootA) === visible(rootB),
      "visible state must converge even though physical state differs")
    // fresher stamped re-creation with a future expiry replicates and
    // is visible everywhere — recreate, not resurrection
    Replication.writeStamped(b, "t", "rB", 2L, nx(), "wb", Seq(
      RPut(it("k_expired", Some(NOW + 999L)))))
    Replication.sync(b, a, "t", nx(), "s4")
    assert(visible(rootA) === Seq("k_expired", "k_live", "k_noattr"))
    assert(visible(rootA) === visible(rootB))
  }

  test("ttlAttribute hides expired items from scans and COUNT pushdown") {
    import spark.implicits._
    val root = freshRoot()
    // expires_at in epoch seconds: 100 is long past, 2_000_000_000 far
    // future, and 1_000_000_000 is EXACTLY the pinned clock — DynamoDB
    // expires strictly-less-than now, so "b2" must stay visible.
    Seq(("a", 100L), ("b", 2000000000L), ("b2", 1000000000L), ("c", 100L))
      .toDF("id", "expires_at")
      .write.dynamo(root, "t", "id")
    def read(ttl: Boolean) = {
      val r = spark.read.format("dynamo")
        .option("path", root).option("tableName", "t")
      (if (ttl) r.option("ttlAttribute", "expires_at")
               .option("ttlNow", "1000000000") else r).load()
    }
    assert(read(ttl = false).count() == 4) // without the option: all visible
    val alive = read(ttl = true)
    assert(alive.select("id").collect().map(_.getString(0)).sorted.toSeq == Seq("b", "b2"))
    // COUNT(*) pushdown path applies the same expiry
    assert(alive.agg(count(lit(1))).collect().head.getLong(0) == 2L)

    // expiry must hold through a GSI whose projection OMITS the ttl
    // attribute (DynamoDB expires index entries with their table item)
    val store = new LocalKVStore(root)
    store.createIndex("t", "by_id", IndexMeta("id", None, Some(Seq.empty)))
    val viaIx = spark.read.format("dynamo")
      .option("path", root).option("tableName", "t")
      .option("indexName", "by_id")
      .option("ttlAttribute", "expires_at").option("ttlNow", "1000000000")
      .load()
    assert(viaIx.select("id").collect().map(_.getString(0)).sorted.toSeq == Seq("b", "b2"))
  }

  test("cdc=true on a batch read fails fast instead of a phantom _op column") {
    val root = freshRoot()
    seedFruit(root)
    val err = intercept[Exception] {
      spark.read.format("dynamo")
        .option("path", root).option("tableName", "fruit")
        .option("cdc", "true").load().collect()
    }
    assert(err.getMessage.contains("cdc=true is a streaming option"))
  }

  test("cdc read rejects tables whose items already carry an _op attribute") {
    import spark.implicits._
    val root = freshRoot()
    Seq(("k1", "user-data")).toDF("id", "_op").write.dynamo(root, "t", "id")
    val err = intercept[Exception] {
      spark.readStream.format("dynamo")
        .option("path", root).option("tableName", "t")
        .option("cdc", "true").load()
    }
    assert(err.getMessage.contains("_op"))
  }

  test("concurrent same-JVM ALTER TABLEs serialize instead of throwing") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root)
    spark.conf.set("spark.sql.catalog.lockcat", "graft.sources.dynamo.DynamoCatalog")
    spark.conf.set("spark.sql.catalog.lockcat.path", root)
    try {
      // FileChannel.lock() throws OverlappingFileLockException for a
      // second locker in the same JVM; the catalog's process-wide
      // monitor must make these block-and-win instead. Run enough
      // rounds that an unserialized implementation would reliably trip.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val cols = (0 until 8).map(i => s"alt_c$i")
      val fs = cols.map(c => Future {
        spark.sql(s"ALTER TABLE lockcat.fruit ADD COLUMN $c INT")
      })
      Await.result(Future.sequence(fs), 90.seconds)
      val have = spark.table("lockcat.fruit").columns.toSet
      assert(cols.forall(have), s"lost columns: ${cols.filterNot(have)}")
    } finally {
      spark.conf.unset("spark.sql.catalog.lockcat")
      spark.conf.unset("spark.sql.catalog.lockcat.path")
    }
  }

  test("complete grouped push fails loudly when the cardinality sample lied") {
    import graft.sources.dynamo.{AttrVal, LocalKVStore, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // One shard so scan order = insertion order: the first ~1 MB (the
    // sample page) is a single hot partition key padded to ~4 KB per
    // item, so the plan-time screen sees ONE group and claims the push
    // complete — while the tail holds thousands of distinct keys.
    val pad = "x" * 4096
    val hot = (0 until 300).iterator.map(i => Map(
      "hk" -> (AttrVal.S("hot"): AttrVal),
      "rk" -> (AttrVal.N(BigDecimal(i)): AttrVal),
      "pad" -> (AttrVal.S(pad): AttrVal),
      "v" -> (AttrVal.N(BigDecimal(1)): AttrVal)))
    val tail = (0 until 3000).iterator.map(i => Map(
      "hk" -> (AttrVal.S(s"k$i"): AttrVal),
      "rk" -> (AttrVal.N(BigDecimal(0)): AttrVal),
      "v" -> (AttrVal.N(BigDecimal(1)): AttrVal)))
    store.bulkLoad("lop", TableMeta("hk", Some("rk"), shards = 1,
      throughput = 1000000L), hot ++ tail)

    val q = spark.read.format("dynamo")
      .option("path", root).option("tableName", "lop")
      .option("maxPushedGroups", "16") // runtime hard cap = 16 x 16 = 256
      .load()
      .groupBy("hk").agg(count(lit(1)).as("n"))
    // the screen was fooled: the plan claims a complete push
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedGroupBy: [hk] (complete)"))
    // ... and the runtime backstop catches it instead of eating heap
    val err = intercept[org.apache.spark.SparkException] { q.collect() }
    val msg = Option(err.getCause).map(_.toString).getOrElse(err.toString)
    assert(msg.contains("complete grouped pushdown exceeded"), msg)
  }

  test("TTL x row-level: DELETE/UPDATE/MERGE never observe or resurrect an expired item") {
    import spark.implicits._
    val root = freshRoot()
    // k1 expired (999 < ttlNow), k2 live, k3 has no ttl attribute
    Seq(("k1", 10L, Some(999L)), ("k2", 20L, Some(2000000000L)), ("k3", 30L, None))
      .toDF("id", "v", "expires_at").write.dynamo(root, "ttlrow", "id")
    spark.conf.set("spark.sql.catalog.ttlcat", "graft.sources.dynamo.DynamoCatalog")
    spark.conf.set("spark.sql.catalog.ttlcat.path", root)
    spark.conf.set("spark.sql.catalog.ttlcat.ttlAttribute", "expires_at")
    spark.conf.set("spark.sql.catalog.ttlcat.ttlNow", "1000000000")
    def raw = spark.read.dynamo(root, "ttlrow") // no ttl options: reaper's view
    try {
      // DELETE whose condition matches the expired item's values must
      // not evaluate against it: lazy expiry reclaims it, DELETE doesn't
      spark.sql("DELETE FROM ttlcat.ttlrow WHERE v <= 20")
      assert(spark.table("ttlcat.ttlrow").select("id").collect()
        .map(_.getString(0)).sorted.toSeq === Seq("k3"))
      val rawAfterDelete = raw.select("id", "v").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(rawAfterDelete === Seq(("k1", 10L), ("k3", 30L)),
        "DELETE must neither remove nor touch the expired item")

      // UPDATE keyed at the expired item is a no-op (invisible row)
      spark.sql("UPDATE ttlcat.ttlrow SET v = v + 1 WHERE id = 'k1'")
      assert(raw.select("v").filter(col("id") === "k1").head.getLong(0) === 10L)

      // MERGE: the expired item is NOT MATCHED, so the insert arm runs
      // and must fully REPLACE the stored item — stale attributes
      // (including the old ttl stamp) must not survive the rebirth
      Seq(("k1", 77L, Option.empty[Long]))
        .toDF("id", "v", "expires_at").createOrReplaceTempView("ttl_src")
      spark.sql("""MERGE INTO ttlcat.ttlrow t USING ttl_src s ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET v = s.v
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val reborn = spark.table("ttlcat.ttlrow").filter(col("id") === "k1")
      assert(reborn.count() === 1L)
      assert(reborn.head.getLong(1) === 77L)
      // explicit schema: after the rebirth NO item carries expires_at,
      // so inference would drop the column entirely — which is itself
      // the assertion that the stale stamp did not survive
      val rawK1 = spark.read.format("dynamo")
        .schema(new org.apache.spark.sql.types.StructType()
          .add("id", org.apache.spark.sql.types.StringType)
          .add("v", org.apache.spark.sql.types.LongType)
          .add("expires_at", org.apache.spark.sql.types.LongType))
        .option("path", root).option("tableName", "ttlrow").load()
        .filter(col("id") === "k1").collect()
      assert(rawK1.length === 1, "rebirth must replace, not duplicate")
      assert(rawK1.head.getLong(1) === 77L)
      assert(rawK1.head.isNullAt(2),
        "stale ttl stamp survived the insert: the item would be born expired")
    } finally {
      spark.catalog.dropTempView("ttl_src")
      spark.conf.unset("spark.sql.catalog.ttlcat")
      spark.conf.unset("spark.sql.catalog.ttlcat.path")
      spark.conf.unset("spark.sql.catalog.ttlcat.ttlAttribute")
      spark.conf.unset("spark.sql.catalog.ttlcat.ttlNow")
    }
  }

  test("asOfSeq snapshot reads equal the historical state across put/update/delete") {
    import graft.sources.dynamo.{AttrVal, LocalKVStore, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("tt", TableMeta("id", None, shards = 4, throughput = 1000000L))
    def put(k: String, v: Long) = store.Put(Map(
      "id" -> (AttrVal.S(k): AttrVal), "v" -> (AttrVal.N(BigDecimal(v)): AttrVal)))
    def upd(k: String, v: Long) = store.Update(Map(
      "id" -> (AttrVal.S(k): AttrVal), "v" -> (AttrVal.N(BigDecimal(v)): AttrVal)))
    def del(k: String) = store.Delete(Map("id" -> (AttrVal.S(k): AttrVal)))
    // three epochs at pinned future seqs (pubSeq = max(seq, now) = seq)
    val (s1, s2, s3) = (4102444800000L, 4102444800001L, 4102444800002L)
    store.appendWal("tt", s1, "w1", Seq(put("k1", 1L), put("k2", 2L)))
    store.appendWal("tt", s2, "w2", Seq(upd("k1", 10L), del("k2"), put("k3", 3L)))
    store.appendWal("tt", s3, "w3", Seq(del("k3"), put("k4", 4L)))

    def stateAt(asOf: Option[Long]): Seq[(String, Long)] = {
      val r = spark.read.format("dynamo")
        .schema(new org.apache.spark.sql.types.StructType()
          .add("id", org.apache.spark.sql.types.StringType)
          .add("v", org.apache.spark.sql.types.LongType))
        .option("path", root).option("tableName", "tt")
      asOf.foreach(n => r.option("asOfSeq", n.toString))
      r.load().select("id", "v").collect()
        .map(x => (x.getString(0), x.getLong(1))).sortBy(_._1).toSeq
    }
    assert(stateAt(Some(s1 - 1)) === Seq())
    assert(stateAt(Some(s1)) === Seq(("k1", 1L), ("k2", 2L)))
    assert(stateAt(Some(s2)) === Seq(("k1", 10L), ("k3", 3L)))
    assert(stateAt(Some(s3)) === Seq(("k1", 10L), ("k4", 4L)))
    assert(stateAt(None) === stateAt(Some(s3)), "no asOfSeq = latest")

    // read-only: every write surface rejects the option
    import spark.implicits._
    val w = intercept[Exception] {
      Seq(("k9", 9L)).toDF("id", "v").write.format("dynamo")
        .option("path", root).option("tableName", "tt")
        .option("asOfSeq", s1.toString).mode("append").save()
    }
    assert(w.getMessage.contains("snapshot-read option"))

    // CDC composes: a feed fenced at asOfSeq delivers exactly the
    // changes the batch snapshot folded, then goes quiet. The feed's
    // grace fence is clock-based, so this half uses real publish seqs
    // (read back from the journal names) rather than pinned future ones.
    store.createTable("tt2", TableMeta("id", None, shards = 4, throughput = 1000000L))
    def maxSeq = store.walFileNames("tt2")
      .map(_.stripPrefix("wal-").takeWhile(_ != '-').toLong).max
    store.appendWal("tt2", 1L, "w1", Seq(put("k1", 1L), put("k2", 2L)))
    Thread.sleep(15)
    store.appendWal("tt2", 1L, "w2", Seq(upd("k1", 10L), del("k2"), put("k3", 3L)))
    val epoch2 = maxSeq
    Thread.sleep(15)
    store.appendWal("tt2", 1L, "w3", Seq(del("k3"), put("k4", 4L)))
    assert(maxSeq > epoch2, "epoch 3 must publish after the asOf point")
    val seen = spark.readStream.format("dynamo")
      .option("path", root).option("tableName", "tt2")
      .option("cdc", "true").option("asOfSeq", epoch2.toString).load()
      .writeStream.format("memory").queryName("asoffeed").start()
    try {
      seen.processAllAvailable()
      val ops = spark.table("asoffeed").select("_op", "id").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(ops === Seq(("DELETE", "k2"), ("PUT", "k1"), ("PUT", "k2"),
        ("PUT", "k3"), ("UPDATE", "k1")), s"feed saw: $ops")
    } finally seen.stop()

    // Compaction folds the journal into the base, so epochs at or
    // below the fold are no longer addressable: an asOfSeq below the
    // watermark must FAIL (before this check it silently returned
    // post-snapshot state); at/above the watermark reads still work.
    store.compact("tt")
    assert(store.compactionWatermark("tt") === s3)
    val tooOld = intercept[Throwable] { stateAt(Some(s2)) }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
        .flatMap(x => Option(x.getMessage))
    assert(chain(tooOld).exists(_.contains("predates the last compaction")),
      s"got: ${chain(tooOld)}")
    assert(stateAt(Some(s3)) === Seq(("k1", 10L), ("k4", 4L)))
    assert(stateAt(None) === Seq(("k1", 10L), ("k4", 4L)))
  }

  test("offset pushdown skips globally on a single-segment scan and declines on multi") {
    import spark.implicits._
    val root = freshRoot()
    (0 until 20).map(i => (f"k$i%02d", i.toLong)).toDF("id", "v")
      .write.dynamo(root, "offs", "id")
    def scanOrder(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("v"))).toSeq
    // the single-segment scan order; an unpinned scan spreads the
    // small table over the session's slots and orders rows differently
    val all = scanOrder(spark.read.format("dynamo")
      .option("path", root).option("tableName", "offs")
      .option("readPartitions", "1").load().select("id", "v"))

    // LIMIT+OFFSET page: rows [2, 5) of the single-segment scan order;
    // both operators land in the scan (Spark's Offset is gone)
    val page = spark.read.dynamo(root, "offs").select("id", "v").offset(2).limit(3)
    val desc = page.queryExecution.executedPlan.toString
    assert(desc.contains("PushedOffset: 2"), desc)
    assert(scanOrder(page) === all.slice(2, 5))

    // offset alone (no limit) skips and returns the tail
    val tail = spark.read.dynamo(root, "offs").select("id", "v").offset(17)
    assert(tail.queryExecution.executedPlan.toString.contains("PushedOffset: 17"))
    assert(scanOrder(tail) === all.drop(17))

    // pushed filters apply BELOW the offset: skip 2 of the rows >= 5
    val pushed = spark.read.dynamo(root, "offs").select("id", "v")
      .filter(col("v") >= 5L).offset(2).limit(4)
    assert(pushed.queryExecution.executedPlan.toString.contains("PushedOffset: 2"))
    assert(scanOrder(pushed) === all.filter(_._2 >= 5).slice(2, 6))

    // `%` does not push, so Spark filters and skips above the scan;
    // read as one segment, its page is still a slice of `all`: skip 2
    // of the even rows
    val filtered = spark.read.format("dynamo")
      .option("path", root).option("tableName", "offs")
      .option("readPartitions", "1").load().select("id", "v")
      .filter(col("v") % 2 === 0).offset(2).limit(4)
    assert(scanOrder(filtered) === all.filter(_._2 % 2 == 0).slice(2, 6))

    // a multi-segment scan DECLINES (global skip inexpressible): Spark
    // keeps its own offset and the result is still exact
    val multi = spark.read.format("dynamo")
      .option("path", root).option("tableName", "offs")
      .option("readPartitions", "4").load()
      .select("id", "v").offset(2).limit(3)
    assert(!multi.queryExecution.executedPlan.toString.contains("PushedOffset"))
    assert(multi.count() === 3L)
  }

  test("a small table's full scan plans one segment per session slot, same rows as one segment") {
    import spark.implicits._
    import org.apache.spark.sql.connector.read.SupportsReportPartitioning
    import org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = freshRoot()
    val store = new LocalKVStore(root)
    // 16 shards (the writer's default), a few hundred KB: far below
    // maxPartitionBytes, so only the session's 4 slots widen the plan
    assert(spark.sparkContext.defaultParallelism === 4)
    (0 until 2000).map(i => (f"k$i%04d", (i % 50).toLong, i.toLong, s"c${i % 7}"))
      .toDF("id", "hk", "v", "c").write.dynamo(root, "wide", "id")
    assert(store.describe("wide").shards === 16)
    def read(opts: (String, String)*) = opts.foldLeft(spark.read.format("dynamo")
      .option("path", root).option("tableName", "wide")) { case (r, (k, v)) => r.option(k, v) }
      .load()
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }
        .getOrElse(fail("no BatchScanExec in the plan"))
    def parts(df: org.apache.spark.sql.DataFrame) = scanOf(df).inputPartitions.size
    def keyGrouped(df: org.apache.spark.sql.DataFrame) =
      scanOf(df).scan.asInstanceOf[SupportsReportPartitioning]
        .outputPartitioning().isInstanceOf[KeyGroupedPartitioning]
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "hk", "v", "c").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).sorted.toSeq
    def sameAsOneSegment(expectedRows: Int): Unit = {
      val wide = read()
      assert(parts(wide) === 4)
      // 4 segments over 16 shards are not the shard layout: no claim
      assert(!keyGrouped(wide))
      val got = rows(wide)
      assert(got.size === expectedRows)
      assert(got === rows(read("readPartitions" -> "1")))
    }

    // journal-only: every item still sits in the write's journal files
    assert(store.walFileNames("wide").nonEmpty)
    sameAsOneSegment(2000)
    // compacted: base files only
    store.compact("wide")
    assert(store.walFileNames("wide").isEmpty)
    sameAsOneSegment(2000)
    // a journal over the base: updates, deletes and new keys
    (0 until 2000 by 3).map(i => (f"k$i%04d", -i.toLong)).toDF("id", "v")
      .write.format("dynamo").option("path", root).option("tableName", "wide")
      .option("update", "true").mode("append").save()
    (0 until 2000 by 5).map(i => f"k$i%04d").toDF("id")
      .write.format("dynamo").option("path", root).option("tableName", "wide")
      .option("delete", "true").mode("append").save()
    (2000 until 2100).map(i => (f"k$i%04d", (i % 50).toLong, i.toLong, "new"))
      .toDF("id", "hk", "v", "c").write.dynamo(root, "wide", "id")
    assert(store.walFileNames("wide").nonEmpty)
    sameAsOneSegment(2000 - 400 + 100)
    val merged = rows(read()).map(r => r._1 -> r._3).toMap
    assert(merged("k0003") === -3L && !merged.contains("k0005") && merged("k2050") === 2050L)

    // a pushed GROUP BY the hash key stays complete across the widened
    // segments: groups are shard-local, so no Spark aggregate or Exchange
    val keyed = freshRoot()
    (0 until 2000).map(i => ((i % 50).toLong, i.toLong)).toDF("hk", "rk")
      .write.format("dynamo").option("path", keyed).option("tableName", "grp")
      .option("hashKey", "hk").option("rangeKey", "rk").mode("append").save()
    val grp = spark.read.dynamo(keyed, "grp").groupBy("hk")
      .agg(count(lit(1)).as("n"), sum("rk").as("s"))
    val gPlan = grp.queryExecution.executedPlan.toString
    assert(gPlan.contains("PushedGroupBy: [hk] (complete)"), gPlan)
    assert(!gPlan.contains("Exchange") && !gPlan.contains("HashAggregate"), gPlan)
    assert(parts(grp) === 4)
    assert(grp.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ===
      (0 until 2000).groupBy(_ % 50).toSeq.map { case (h, is) =>
        (h.toLong, is.size.toLong, is.map(_.toLong).sum) }.sorted)

    // LIMIT and OFFSET keep their single pinned segment (decided by
    // size alone), and with it the global push
    val lim = read().select("id", "v").limit(7)
    assert(lim.queryExecution.executedPlan.toString.contains("PushedLimit: 7"))
    assert(parts(lim) === 1)
    assert(lim.collect().length === 7)
    val off = read().select("id", "v").offset(1690)
    assert(off.queryExecution.executedPlan.toString.contains("PushedOffset: 1690"))
    assert(parts(off) === 1)
    assert(off.collect().length === 10)

    // an explicit readPartitions still wins, both ways
    assert(parts(read("readPartitions" -> "2")) === 2)
    val perShard = read("readPartitions" -> "16")
    assert(parts(perShard) === 16 && keyGrouped(perShard))
  }

  test("table-sample pushdown: deterministic, filter-commutative, Sample node removed") {
    import spark.implicits._
    val root = freshRoot()
    (0 until 400).map(i => (f"k$i%03d", i.toLong)).toDF("id", "v")
      .write.dynamo(root, "samp", "id")

    def sampleExecs(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SampleExec => s
      }

    val df = spark.read.dynamo(root, "samp").sample(0.5, 42L)
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("PushedSample: [0.0000, 0.5000) seed=42"), desc)
    assert(sampleExecs(df).isEmpty, "Spark's Sample operator should be gone")

    // a seeded Bernoulli(0.5) over 400 keys: count inside a generous
    // ±5σ band, and exactly reproducible across plans
    val ids = df.select("id").collect().map(_.getString(0)).toSet
    assert(ids.size > 150 && ids.size < 250, s"got ${ids.size} of 400 at p=0.5")
    assert(df.select("id").collect().map(_.getString(0)).toSet === ids)

    // key-hash sampling commutes with filters: a later filter pushed
    // into the SAME scan sees exactly the sampled set — the scan's
    // combined (sample ∧ filter) output equals filtering the sampled ids
    val sf = spark.read.dynamo(root, "samp").sample(0.5, 42L).filter($"v" % 2 === 0)
    val sfDesc = sf.queryExecution.executedPlan.toString
    assert(sfDesc.contains("PushedSample"), sfDesc)
    val sfIds = sf.select("id").collect().map(_.getString(0)).toSet
    assert(sfIds === ids.filter(_.drop(1).toInt % 2 == 0))

    // filter-THEN-sample leaves Filter between Sample and the relation
    // when the sample rule runs (samples push first) — not pushed,
    // Spark keeps its own Sample operator and stays correct
    val fs = spark.read.dynamo(root, "samp").filter($"v" % 2 === 0).sample(0.5, 42L)
    assert(!fs.queryExecution.executedPlan.toString.contains("PushedSample"))
    assert(sampleExecs(fs).nonEmpty)
    assert(fs.collect().forall(_.getLong(1) % 2 == 0))

    // aggregate over a pushed sample: COUNT pushes too (the agg
    // readers evaluate sample membership), and counts exactly the
    // sampled rows
    val aggDf = spark.read.dynamo(root, "samp").sample(0.5, 42L).groupBy().count()
    val aggPlan = aggDf.queryExecution.executedPlan.toString
    assert(aggPlan.contains("PushedAggregates: [COUNT(*)]") &&
      aggPlan.contains("PushedSample"), aggPlan)
    assert(aggDf.collect().head.getLong(0) === ids.size.toLong)
    // grouped variant: per-even/odd sum over the sampled set
    val grp = spark.read.dynamo(root, "samp").sample(0.5, 42L)
      .groupBy($"id").agg(org.apache.spark.sql.functions.sum($"v").as("sv"))
    assert(grp.queryExecution.executedPlan.toString.contains("PushedGroupBy"),
      grp.queryExecution.executedPlan.toString)
    val grpRows = grp.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(grpRows.keySet === ids)
    assert(grpRows.forall { case (k, v) => v === k.drop(1).toInt.toLong })

    // with-replacement can't be expressed per-item — declined, Spark
    // keeps its Sample operator
    val wr = spark.read.dynamo(root, "samp").sample(withReplacement = true, 0.5, 42L)
    assert(!wr.queryExecution.executedPlan.toString.contains("PushedSample"))
    assert(sampleExecs(wr).nonEmpty)

    // SQL dialect path: TABLESAMPLE (50 PERCENT) REPEATABLE (42) is
    // the same Sample node — pushes identically and selects the SAME
    // rows as df.sample(0.5, 42)
    spark.read.dynamo(root, "samp").createOrReplaceTempView("samp_v")
    try {
      val sqlDf = spark.sql(
        "SELECT id FROM samp_v TABLESAMPLE (50 PERCENT) REPEATABLE (42)")
      assert(sqlDf.queryExecution.executedPlan.toString.contains("PushedSample"))
      assert(sqlDf.collect().map(_.getString(0)).toSet === ids)
    } finally spark.catalog.dropTempView("samp_v")
  }

  test("table-sample membership is EXACTLY the seeded-hash law (independent reimplementation)") {
    // The content-exact check behind q_dyn_sample's no-oracle gap:
    // the sampled key set must equal an INDEPENDENT in-test
    // reimplementation of the membership law — FNV-1a seeded with the
    // query seed, splitmix64 finalizer, top 53 bits → u ∈ [0,1),
    // keep iff u < fraction — computed over the store's canonical key
    // encoding ("s:<id>" / "n:<stripped-plain>"). Deliberately NOT a
    // call into PushedSample.keeps: a silent change to the hash, the
    // finalizer, or the canonical encoding fails HERE even though
    // DuckDB cannot express the check (tools/check.py runs the same
    // reimplementation in Python for the CORRECTNESS artifact).
    import spark.implicits._
    def keeps(canonical: String, seed: Long, frac: Double): Boolean = {
      val bytes = canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var h = seed ^ 0xcbf29ce484222325L
      bytes.foreach(b => h = (h ^ (b & 0xffL)) * 0x100000001b3L)
      h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
      h ^= (h >>> 27); h *= 0x94d049bb133111ebL
      h ^= (h >>> 31)
      (h >>> 11).toDouble / (1L << 53).toDouble < frac
    }
    val root = freshRoot()
    // string keys (canonical "s:<id>")
    (0 until 500).map(i => (f"k$i%03d", i.toLong)).toDF("id", "v")
      .write.dynamo(root, "smps", "id")
    val gotS = spark.read.dynamo(root, "smps").sample(0.3, 1234L)
      .select("id").collect().map(_.getString(0)).toSet
    val expS = (0 until 500).map(i => f"k$i%03d")
      .filter(k => keeps("s:" + k, 1234L, 0.3)).toSet
    assert(gotS === expS, "string-key membership drifted from the law")
    assert(expS.nonEmpty && expS.size < 500)
    // numeric keys (canonical "n:<stripped-plain>") — q_dyn_sample's
    // exact shape (seed 1234, fraction 0.3, N hash key)
    (1 until 501).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .write.dynamo(root, "smpn", "id")
    val gotN = spark.read.dynamo(root, "smpn").sample(0.3, 1234L)
      .select("id").collect().map(_.getLong(0)).toSet
    val expN = (1L until 501L).filter(k => keeps("n:" + k, 1234L, 0.3)).toSet
    assert(gotN === expN, "numeric-key membership drifted from the law")
    assert(expN.nonEmpty && expN.size < 500)
  }

  test("columnar ingest ≡ row write: identical table state from either path") {
    // The write-side mirror of the columnar read: a parquet scan of a
    // flat schema ingests via executeColumnar() + vectorCellWriter
    // (same value→AttrVal conversion, same WalWriter) — the resulting
    // table must be indistinguishable from the row writer's. Pins the
    // fallback too: a nested schema (no columnar type set) must take
    // the row path and still land the same state.
    import spark.implicits._
    import graft.sources.dynamo.DynamoColumnarIngest
    val root = freshRoot()
    val pq = java.nio.file.Files.createTempDirectory("graft-coling").toString
    val df0 = (0 until 1000).map { i =>
      (i.toLong, f"name$i%04d", i * 1.5, i % 3 == 0,
        Array(i.toLong, i + 1L), f"b$i%03d".getBytes("UTF-8"))
    }.toDF("id", "name", "score", "flag", "arr", "blob")
    df0.write.mode("overwrite").parquet(pq)
    val scan = spark.read.parquet(pq)
    // columnar path actually taken (a parquet scan of a flat schema
    // has a columnar tail)
    assert(DynamoColumnarIngest.ingest(scan, root, "colw", "id"),
      "parquet scan of a flat schema must take the columnar path")
    spark.read.parquet(pq).write.dynamo(root, "roww", "id")
    def read(t: String) = spark.read.dynamo(root, t)
      .select("id", "name", "score", "flag", "arr", "blob")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getBoolean(3), r.getSeq[Long](4).toVector,
        r.getAs[Array[Byte]](5).toVector))
      .sortBy(_._1).toVector
    assert(read("colw") === read("roww"),
      "columnar-ingested state diverged from the row writer's")
    // nulls round-trip identically through both paths
    // fractional score: a whole double would read back as Long
    // through N inference and the comparison would type-mismatch
    val nulls = Seq((1L, Some("x"), Some(2.5)), (2L, None, None))
      .toDF("id", "name", "score")
    nulls.write.mode("overwrite").parquet(pq + "2")
    assert(DynamoColumnarIngest.ingest(
      spark.read.parquet(pq + "2"), root, "colw2", "id"))
    spark.read.parquet(pq + "2").write.dynamo(root, "roww2", "id")
    def read2(t: String) = spark.read.dynamo(root, t)
      .select("id", "name", "score").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1).toVector
    assert(read2("colw2") === read2("roww2"))
    // nested schema → no columnar type set → row fallback, same state
    val nested = Seq((1L, (2L, "a")), (2L, (3L, "b"))).toDF("id", "st")
    assert(!DynamoColumnarIngest.ingest(nested, root, "colw3", "id"),
      "nested schema must fall back to the row path")
    nested.write.dynamo(root, "roww3", "id")
    def read3(t: String) = spark.read.dynamo(root, t)
      .selectExpr("id", "st.*").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toVector
    assert(read3("colw3") === read3("roww3"))
    // an in-memory DataFrame (no columnar tail) also falls back
    val local = Seq((10L, "z")).toDF("id", "name")
    assert(!DynamoColumnarIngest.ingest(local, root, "colw4", "id"),
      "a plan without a columnar tail must fall back to the row path")
    assert(spark.read.dynamo(root, "colw4").count() === 1L)
  }

  test("metadata columns _shard/_size project on demand, stay hidden from *") {
    import spark.implicits._
    val root = freshRoot()
    (0 until 60).map(i => (f"k$i%03d", i.toLong)).toDF("id", "v")
      .write.dynamo(root, "metac", "id")
    val df = spark.read.dynamo(root, "metac")
    // hidden from SELECT * / schema
    assert(!df.columns.contains("_shard") && !df.columns.contains("_size"))
    // projected on demand; _shard equals the store's placement function
    val store = new LocalKVStore(root)
    val meta = store.describe("metac")
    val rows = df.select(col("id"), col("_shard"), col("_size")).collect()
    assert(rows.length === 60)
    rows.foreach { r =>
      val expect = store.shardOf(meta, Map("id" ->
        (graft.sources.dynamo.AttrVal.S(r.getString(0)): graft.sources.dynamo.AttrVal)))
      assert(r.getInt(1) === expect, s"shard of ${r.getString(0)}")
      assert(r.getInt(2) > 0)
    }
    // usable in expressions: per-shard skew view sums back to the table
    val per = df.groupBy(col("_shard")).count().collect()
    assert(per.map(_.getLong(1)).sum === 60L)
    assert(per.length === meta.shards || per.length < meta.shards) // ≤ shards buckets
    // Spark-side filter on a metadata column (never pushed to the wire)
    val some = df.filter(col("_shard") === per.head.getInt(0)).count()
    assert(some === per.head.getLong(1))
  }

  test("a real _shard data column shadows the metadata column end to end") {
    import spark.implicits._
    val root = freshRoot()
    // the table GENUINELY stores an attribute named _shard — the
    // metadataColumns() shadowing contract says reads must return the
    // stored values, never the synthesized placement bucket
    (0 until 30).map(i => (f"k$i%03d", s"stored$i", i.toLong))
      .toDF("id", "_shard", "v").write.dynamo(root, "shadow", "id")
    val df = spark.read.dynamo(root, "shadow")
    // the data column is part of the schema (not hidden like metadata)
    assert(df.columns.contains("_shard"))
    val got = df.select("id", "_shard").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got.size === 30)
    got.foreach { case (id, s) =>
      assert(s === "stored" + id.drop(1).toInt, s"$id read $s") }
    // filters on the shadowed column evaluate against stored DATA
    assert(df.filter(col("_shard") === "stored7").count() === 1L)
    // the non-shadowed _size metadata column still synthesizes
    assert(df.select(col("id"), col("_size")).collect().forall(_.getInt(1) > 0))
  }

  test("TTL reaper physically reclaims expired items; live items and reads intact") {
    import spark.implicits._
    val root = freshRoot()
    Seq(("k1", 10L, Some(999L)), ("k2", 20L, Some(2000000000L)), ("k3", 30L, None))
      .toDF("id", "v", "expires_at").write.dynamo(root, "reap", "id")
    def raw = spark.read.format("dynamo")
      .schema(new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.StringType)
        .add("v", org.apache.spark.sql.types.LongType)
        .add("expires_at", org.apache.spark.sql.types.LongType))
      .option("path", root).option("tableName", "reap").load()
    // before the reap: the expired item is hidden by ttl reads but
    // still physically present
    assert(raw.count() === 3L)
    graft.sources.dynamo.DynamoMaintenance
      .reapExpired(spark, root, "reap", "expires_at", 1000000000L)
    // after: physically gone; survivors byte-identical
    val left = raw.select("id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(left === Seq(("k2", 20L), ("k3", 30L)))
    // ttl-visible read agrees with the raw read now
    val vis = spark.read.format("dynamo")
      .option("path", root).option("tableName", "reap")
      .option("ttlAttribute", "expires_at").option("ttlNow", "1000000000")
      .load().select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(vis === Seq("k2", "k3"))
  }

  test("DYNAMODB_JSON export/import round-trips exactly; real-export set tags decode") {
    import graft.sources.dynamo.{AttrVal, DynamoMaintenance, ItemJson}
    // golden: the service's export line shape, set tags included —
    // SS/NS/BS decode as L (§1.2: Spark has no set type)
    val it = ItemJson.parseExportLine(
      """{"Item":{"id":{"S":"a"},"tags":{"SS":["x","y"]},""" +
        """"nums":{"NS":["1","2.5"]},"blobs":{"BS":["AQI="]},"n":{"N":"3.14"}}}""")
    assert(it("tags") == AttrVal.L(Vector(AttrVal.S("x"), AttrVal.S("y"))))
    assert(it("nums") == AttrVal.L(Vector(
      AttrVal.N(BigDecimal(1)), AttrVal.N(BigDecimal("2.5")))))
    assert(it("blobs").asInstanceOf[AttrVal.L].v.head
      .asInstanceOf[AttrVal.B].v.toSeq == Seq(1.toByte, 2.toByte))
    assert(it("n") == AttrVal.N(BigDecimal("3.14")))
    // round-trip: shapes a Spark schema cannot spell (mixed-type
    // lists, deep maps, high-precision N) survive byte-faithfully
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("rt", TableMeta("id", Some("r"), shards = 2,
        throughput = 1000000L),
      (for (i <- Iterator.range(0, 500)) yield Map(
        "id" -> (AttrVal.S(s"k${i % 20}"): AttrVal),
        "r" -> (AttrVal.N(BigDecimal(i)): AttrVal),
        "mix" -> (AttrVal.L(Vector(AttrVal.S("s"),
          AttrVal.N(BigDecimal(i) / 7), AttrVal.Bool(i % 2 == 0),
          AttrVal.Null)): AttrVal),
        "m" -> (AttrVal.M(Map("deep" -> AttrVal.L(Vector(
          AttrVal.N(BigDecimal("0.12345678901234567890")))))): AttrVal))))
    val dest = freshRoot() + "/exp"
    DynamoMaintenance.exportDynamoJson(spark, root, "rt", dest)
    // manifest written LAST (crash contract): its counts describe the
    // parts exactly, and an import sees it — not the raw line shape
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dest, "manifest-summary.json"))
    assert(manifest.contains("\"itemCount\":500") &&
      manifest.contains("\"partCount\":2"), manifest)
    val root2 = freshRoot()
    DynamoMaintenance.importDynamoJson(spark, root2, "rt2", dest,
      "id", Some("r"), shards = 4)
    val st2 = new LocalKVStore(root2)
    def all(st: LocalKVStore, t: String, shards: Int): Seq[String] =
      (0 until shards).flatMap(sh =>
        st.scanSegment(t, sh, shards).map(p => ItemJson.write(p._1))).sorted
    assert(all(st2, "rt2", 4) == all(store, "rt", 2))
    // a hand-written real-export file (set tags) imports end to end
    val srcDir = Files.createTempDirectory("graft-ddbjson")
    java.nio.file.Files.write(srcDir.resolve("part0.json"),
      ("""{"Item":{"id":{"S":"s1"},"r":{"N":"1"},"tags":{"SS":["a","b"]}}}""" +
        "\n").getBytes("UTF-8"))
    DynamoMaintenance.importDynamoJson(spark, root2, "rt3",
      srcDir.toString, "id", Some("r"))
    val got = (0 until 16).flatMap(sh => st2.scanSegment("rt3", sh, 16).map(_._1))
    assert(got.size == 1 &&
      got.head("tags") == AttrVal.L(Vector(AttrVal.S("a"), AttrVal.S("b"))))
    // a crashed export — part files, no manifest — refuses to import
    // (silently-short training data is the failure this closes)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dest, "manifest-summary.json"))
    val eCrash = intercept[IllegalArgumentException] {
      DynamoMaintenance.importDynamoJson(spark, root2, "rt4", dest,
        "id", Some("r"))
    }
    assert(eCrash.getMessage.contains("manifest-summary.json"))
  }

  test("TTL reap is CDC-visible (Streams REMOVE parity) and replicates as a stamped delete") {
    import spark.implicits._
    import graft.sources.dynamo.{AttrVal, Replication, TableMeta}
    import graft.sources.dynamo.Replication.RPut
    val root = freshRoot()
    Seq(("k1", 10L, Some(999L)), ("k2", 20L, Some(2000000000L)))
      .toDF("id", "v", "expires_at").write.dynamo(root, "rv", "id")
    // fold = false: markers stay in the journal so a CDC stream
    // started at TRIM_HORIZON still delivers the deletion (our
    // analogue of the Streams 24 h retention window)
    graft.sources.dynamo.DynamoMaintenance
      .reapExpired(spark, root, "rv", "expires_at", 1000000000L, fold = false)
    val ops = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(String, String)]()
    val q = spark.readStream.format("dynamo")
      .option("path", root).option("tableName", "rv")
      .option("cdc", "true").load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-reap-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("id", "_op").collect()
          .foreach(r => ops.add((r.getString(0), r.getString(1)))); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(ops.asScala.toSet ==
      Set(("k1", "PUT"), ("k2", "PUT"), ("k1", "DELETE")),
      s"CDC feed must carry the TTL deletion: ${ops.asScala.toSet}")
    // reader views already hide the marked item; the next fold
    // physically reclaims it
    assert(spark.read.dynamo(root, "rv").select("id").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("k2"))

    // Global-Tables form: the reap publishes STAMPED deletes, so the
    // fold leaves tombstone sidecars and one anti-entropy pass
    // removes the expired item at the replica too
    val rootA = freshRoot(); val rootB = freshRoot()
    val meta = TableMeta("id", None, shards = 2, throughput = 1000000L)
    val stA = new LocalKVStore(rootA); stA.createTable("t", meta)
    val stB = new LocalKVStore(rootB); stB.createTable("t", meta)
    def putBoth(id: String, exp: Long): Unit =
      Seq(stA, stB).foreach(st => Replication.writeStamped(st, "t", "rA", 1L,
        System.currentTimeMillis(), s"w$id", Seq(RPut(Map(
          "id" -> (AttrVal.S(id): AttrVal),
          "expires_at" -> (AttrVal.N(BigDecimal(exp)): AttrVal))))))
    putBoth("e1", 999L); putBoth("l1", 2000000000L)
    graft.sources.dynamo.DynamoMaintenance
      .reapExpired(spark, rootA, "t", "expires_at", 1000000000L,
        region = Some("rA")) // fold = true: tombstones must carry it
    Replication.syncIncremental(stA, "rA", stB, "t",
      System.currentTimeMillis(), "reapsync")
    def ids(st: LocalKVStore): Seq[String] =
      (0 until meta.shards).flatMap(sh => st.scanSegment("t", sh, meta.shards)
        .map(_._1("id").asInstanceOf[AttrVal.S].v)).sorted
    assert(ids(stA) == Seq("l1"))
    assert(ids(stB) == Seq("l1"),
      "replica must lose the TTL-reaped item via the stamped tombstone")
  }

  test("restored backup serves a CDC feed of exactly the captured journal, then tails new writes") {
    import spark.implicits._
    val root = freshRoot()
    seedFruit(root) // 4 PUT journal entries, uncompacted
    Seq("durian").toDF("name")
      .write.format("dynamo")
      .option("path", root).option("tableName", "fruit")
      .option("delete", "true").mode("append").save() // +1 DELETE entry
    val dest = freshRoot()
    new LocalKVStore(root).backupTable("fruit", dest)
    // a post-backup write in the SOURCE must not appear in the
    // restored feed — the cut is the backup's journal listing
    Seq(("fig", "purple", 0.05, 9L)).toDF("name", "color", "weight_kg", "stock")
      .write.dynamo(root, "fruit", "name")

    Thread.sleep(15) // let the clock fence pass every publish stamp
    val q = spark.readStream.dynamoStream(dest, "fruit", cdc = true)
      .writeStream.format("memory").queryName("cdcrestored")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-bk").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("cdcrestored").collect()
        .map(r => (r.getAs[String]("_op"), r.getAs[String]("name")))
      // exactly the captured journal: 4 puts + 1 delete, no fig
      assert(rows.count(_._1 == "PUT") === 4)
      assert(rows.count(_._1 == "DELETE") === 1)
      assert(!rows.exists(_._2 == "fig"))
      // the restored store is LIVE: a new write there continues the
      // feed past the restored offset fence, no skip and no replay
      val st = new LocalKVStore(dest)
      st.appendWal("fruit", System.currentTimeMillis(), "postrestore", Seq(
        st.Put(Map("name" -> graft.sources.dynamo.AttrVal.S("guava"),
          "color" -> graft.sources.dynamo.AttrVal.S("green")))))
      Thread.sleep(15)
      q.processAllAvailable()
      val after = spark.table("cdcrestored").collect()
        .map(r => (r.getAs[String]("_op"), r.getAs[String]("name")))
      assert(after.length === rows.length + 1)
      assert(after.count(_ == ("PUT", "guava")) === 1)
    } finally q.stop()
  }

  /** Seed a composite-key table (4 hash keys × 1500 sort keys) through
    * the connector write path, then compact so bases are range-sorted
    * with page directories.
    */
  /** Simulate write-through applier lag: drop the index journal
    * (rounds + applied marker) so freshness falls back to the classic
    * build-based DELTA tier — the state an async applier that has not
    * yet run would leave.
    */
  private def deleteJournalArtifacts(root: String, table: String, name: String): Unit = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(root, table)
    val ls = Files.list(dir)
    try ls.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(s"gsi-wal-$name-r") || n == s"gsi-applied-$name.meta"
      }
      .toList.foreach(Files.deleteIfExists(_))
    finally ls.close()
  }

  private def seedQueryTable(root: String, table: String): Unit = {
    import spark.implicits._
    val rows = for (k <- Seq("a", "b", "c", "d"); r <- 1L to 1500L)
      yield (k, r, s"payload-$k-$r")
    rows.toDF("k", "r", "payload").repartition(8)
      .write.format("dynamo")
      .option("path", root).option("tableName", table)
      .option("hashKey", "k").option("rangeKey", "r")
      .mode("append").save()
    new LocalKVStore(root).compact(table)
  }

  /** The driver-served scan of `df`'s plan: the `DynamoLocalScan` in
    * its optimized plan, whose item counts are those of the rows that
    * physical planning took.
    */
  private def servedScan(df: org.apache.spark.sql.DataFrame): graft.sources.dynamo.DynamoLocalScan = {
    df.queryExecution.executedPlan
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.collectFirst { case s: graft.sources.dynamo.DynamoLocalScan => s }
      .getOrElse(fail("no driver-served scan in the plan"))
  }

  test("Query fast path: hash-eq + sort-key range reads only the matching pages of one shard") {
    val root = freshRoot()
    seedQueryTable(root, "qt")
    // sanity: compaction published page directories for the sorted bases
    val dir = java.nio.file.Paths.get(root, "qt")
    val pidx = Files.list(dir)
    val nIdx = try pidx.filter(p =>
      p.getFileName.toString.startsWith("pageidx-")).count()
    finally pidx.close()
    assert(nIdx > 0, "compaction should write page-directory sidecars")
    // a bounded Query: served on the driver, its count on the served scan
    val df = spark.read.dynamo(root, "qt")
      .filter(col("k") === "b" && col("r").between(100, 150))
      .select("k", "r", "payload")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._2)
    assert(got.length === 51)
    assert(got.head === (("b", 100L, "payload-b-100")))
    assert(got.last === (("b", 150L, "payload-b-150")))
    assert(got.forall { case (k, r, p) => k == "b" && r >= 100 && r <= 150 && p == s"payload-b-$r" })
    // The owning shard holds ≥ 1500 items (one full hash run) and the
    // table 6000; a 51-row window at ≤256-item pages must read ≤ 2
    // pages. itemsScanned well under one hash run proves BOTH the
    // single-shard plan and the sub-shard page skip.
    val scanned = servedScan(df).itemsScanned
    assert(scanned > 0 && scanned <= 600, s"expected a paged read, scanned $scanned items")
  }

  test("Query fast path: journal overlay over skipped pages stays exact") {
    val root = freshRoot()
    seedQueryTable(root, "qo")
    val st = new LocalKVStore(root)
    import graft.sources.dynamo.AttrVal
    def key(k: String, r: Long): Map[String, AttrVal] =
      Map("k" -> AttrVal.S(k), "r" -> AttrVal.N(BigDecimal(r)))
    // post-compaction journal: one insert INSIDE the window, one
    // delete inside, one update-merge inside, one insert OUTSIDE
    st.appendWal("qo", 1L, "ovl", Seq(
      st.Put(key("b", 125L) + ("payload" -> AttrVal.S("fresh-125"))),
      st.Delete(key("b", 130L)),
      st.Update(key("b", 140L) + ("extra" -> AttrVal.S("merged"))),
      st.Put(key("b", 5000L) + ("payload" -> AttrVal.S("outside")))))
    val df = spark.read.format("dynamo")
      .option("path", root).option("tableName", "qo").load()
      .filter(col("k") === "b" && col("r").between(100, 150))
      .select("k", "r", "payload", "extra").orderBy("r")
    val got = df.collect()
      .map(r => (r.getLong(1), r.getString(2), Option(r.getString(3))))
    // 51 base rows in [100,150] − 1 delete; the PUT at 125 replaces an
    // existing key and the out-of-window PUT must not leak through the
    // fresh-keys tail past the filters
    assert(got.length === 50, s"unexpected row count ${got.length}")
    val byR = got.map(g => g._1 -> g).toMap
    assert(byR(125L)._2 === "fresh-125") // PUT replaced the base item
    assert(!byR.contains(130L))          // DELETE dropped it
    assert(byR(140L)._2 === "payload-b-140") // UPDATE merged over base
    assert(byR(140L)._3 === Some("merged"))
    assert(!byR.contains(5000L))         // outside the window
  }

  test("Query fast path: pushed aggregates compose with the page window") {
    val root = freshRoot()
    seedQueryTable(root, "qa")
    // pushed ungrouped count under a hash-eq + range window: the
    // aggregate must both return the exact window count AND read only
    // the matching pages (one hash run holds 1500 items)
    val df = spark.read.dynamo(root, "qa")
      .filter(col("k") === "b" && col("r").between(100, 150))
      .agg(count(lit(1)).as("n"))
    assert(df.collect().head.getLong(0) === 51L)
    // the final-agg exchange wraps the scan in AQE query stages —
    // unwrap them to reach the BatchScan leaf and its metrics
    def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(s.plan)
      case other if other.children.isEmpty => Seq(other)
      case other => other.children.flatMap(leaves)
    }
    val scan = leaves(df.queryExecution.executedPlan)
      .find(_.nodeName.contains("BatchScan"))
      .getOrElse(fail("no BatchScan node in the final plan"))
    assert(scan.metrics("itemsScanned").value <= 600,
      s"aggregate read should be paged, scanned ${scan.metrics("itemsScanned").value}")
  }

  test("Query fast path: IN-list hash keys get one window per value (BatchGetItem shape)") {
    val root = freshRoot()
    seedQueryTable(root, "qi")
    val df = spark.read.dynamo(root, "qi")
      .filter(col("k").isin("a", "c") && col("r").between(200, 260))
      .select("k", "r")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.length === 2 * 61)
    assert(got.forall { case (k, r) => (k == "a" || k == "c") && r >= 200 && r <= 260 })
    // two hash runs of 1500 items each; two ≤256-item pages per run
    val scanned = servedScan(df).itemsScanned
    assert(scanned > 0 && scanned <= 1200,
      s"expected paged reads in both runs, scanned $scanned")
  }

  test("GSI Query: index-sort-key window prunes the materialized copy's pages") {
    import spark.implicits._
    val root = freshRoot()
    // 6000 items, 4 categories (the GSI hash), score = the GSI range
    val rows = for (i <- 0L until 6000L)
      yield (i, s"cat${i % 4}", (i / 4) % 1500, s"pl-$i")
    rows.toDF("id", "cat", "score", "payload").repartition(8)
      .write.dynamo(root, "gq", "id")
    val store = new LocalKVStore(root)
    store.createIndex("gq", "by_cat",
      IndexMeta("cat", Some("score"), Some(Seq("payload"))))
    store.buildIndex("gq", "by_cat")
    // directory sidecars exist for the copy
    val ls = Files.list(java.nio.file.Paths.get(root, "gq"))
    val nIdx = try ls.filter(p =>
      p.getFileName.toString.startsWith("gsi-pageidx-by_cat-")).count()
    finally ls.close()
    assert(nIdx > 0, "index build should write page directories")
    val df = spark.read.dynamoIndex(root, "gq", "by_cat")
      .filter(col("cat") === "cat2" && col("score").between(100, 140))
      .select("id", "cat", "score", "payload")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(2)))
    // cat2 = ids with i%4==2; score (i/4)%1500 in [100,140] → 41
    // scores × 1 id each per 6000-item cycle
    assert(got.length === 41)
    assert(got.forall { case (id, s) => id % 4 == 2 && s >= 100 && s <= 140 })
    // the owning index shard holds cat2's full 1500-item run; a
    // 41-row window at ≤256-item pages reads ≤ 2 pages of it
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .find(_.nodeName.contains("BatchScan")).getOrElse(fail("no BatchScan"))
    assert(scan.metrics("itemsScanned").value <= 600,
      s"expected a paged GSI read, scanned ${scan.metrics("itemsScanned").value}")
  }

  test("GSI Query aggregates answer from the copy's page statistics with zero item reads") {
    import spark.implicits._
    import graft.sources.dynamo.{DynamoAggReaderFactory, DynamoOptions,
      DynamoScan, DynamoZoneAnswerPartition, PushedAgg, AttrVal}
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val rows = for (i <- 0L until 6000L)
      yield (i, s"cat${i % 4}", (i / 4) % 1500, s"pl-$i")
    rows.toDF("id", "cat", "score", "payload").repartition(8)
      .write.dynamo(root, "ga", "id")
    val store = new LocalKVStore(root)
    store.createIndex("ga", "by_cat",
      IndexMeta("cat", Some("score"), Some(Seq("payload"))))
    store.buildIndex("ga", "by_cat")
    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "ga", "indexName", "by_cat"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType),
      StructField("score", LongType), StructField("payload", StringType)))
    val aggs: Seq[PushedAgg] = Seq(PushedAgg.CountAll,
      PushedAgg.MinOf(StructField("score", LongType)),
      PushedAgg.MaxOf(StructField("score", LongType)),
      PushedAgg.SumOf(StructField("score", LongType), LongType))
    def parts() = new DynamoScan(opts, schema,
      Array[org.apache.spark.sql.sources.Filter](EqualTo("cat", "cat1")),
      aggs = aggs).toBatch.planInputPartitions()
    val ps = parts()
    assert(ps.length === 1 && ps.head.isInstanceOf[DynamoZoneAnswerPartition],
      s"an EXACT copy + pinned index key must answer from page stats: ${ps.toSeq}")
    val r = new DynamoAggReaderFactory(opts,
      Array(EqualTo("cat", "cat1")), aggs).createReader(ps.head)
    assert(r.next()); val row = r.get(); assert(!r.next())
    // cat1 = 1500 rows, scores 0..1499 once each
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ===
      ((1500L, 0L, 1499L, 1500L * 1499L / 2)))
    // ANY staleness tier other than Exact declines (a write demotes
    // the copy to the journal/delta tier) — ordinary serve, no answer
    store.appendWal("ga", System.currentTimeMillis() + 900000L, "wz",
      Seq(store.Put(Map(
        "id" -> (AttrVal.N(BigDecimal(9999)): AttrVal),
        "cat" -> (AttrVal.S("cat1"): AttrVal),
        "score" -> (AttrVal.N(BigDecimal(7)): AttrVal)))))
    val stale = parts()
    assert(stale.forall(!_.isInstanceOf[DynamoZoneAnswerPartition]), stale.toSeq)
  }

  test("GROUPED GSI Query aggregates answer per-group from the copy's page statistics") {
    import spark.implicits._
    import graft.sources.dynamo.{DynamoGroupAnswerPartition,
      DynamoGroupedAggReaderFactory, DynamoOptions, DynamoScan, PushedAgg,
      PushedGroupBy, AttrVal}
    import org.apache.spark.sql.sources.In
    import org.apache.spark.sql.types._
    val root = freshRoot()
    val rows = for (i <- 0L until 6000L)
      yield (i, s"cat${i % 4}", (i / 4) % 1500, s"pl-$i")
    rows.toDF("id", "cat", "score", "payload").repartition(8)
      .write.dynamo(root, "gg", "id")
    val store = new LocalKVStore(root)
    store.createIndex("gg", "by_cat",
      IndexMeta("cat", Some("score"), Some(Seq("payload"))))
    store.buildIndex("gg", "by_cat")
    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "gg", "indexName", "by_cat"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType),
      StructField("score", LongType), StructField("payload", StringType)))
    val group = PushedGroupBy(Seq(StructField("cat", StringType)),
      keyed = true, unique = false, complete = true)
    val aggs: Seq[PushedAgg] = Seq(PushedAgg.CountAll,
      PushedAgg.SumOf(StructField("score", LongType), LongType))
    val pushed = Array[org.apache.spark.sql.sources.Filter](
      In("cat", Array[Any]("cat0", "cat3")))
    val ps = new DynamoScan(opts, schema, pushed, aggs = aggs,
      grouped = Some(group)).toBatch.planInputPartitions()
    assert(ps.forall(_.isInstanceOf[DynamoGroupAnswerPartition]), ps.toSeq)
    val got = ps.flatMap { p =>
      val r = new DynamoGroupedAggReaderFactory(opts, pushed, group, aggs)
        .createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (r.next()) {
        val row = r.get()
        buf += ((row.getUTF8String(0).toString, row.getLong(1), row.getLong(2)))
      }
      buf
    }.sortBy(_._1)
    assert(got === Seq(("cat0", 1500L, 1500L * 1499L / 2),
      ("cat3", 1500L, 1500L * 1499L / 2)))
    // a write demotes the copy below Exact → declines to the ordinary
    // grouped serve
    store.appendWal("gg", System.currentTimeMillis() + 900000L, "wz",
      Seq(store.Put(Map(
        "id" -> (AttrVal.N(BigDecimal(9999)): AttrVal),
        "cat" -> (AttrVal.S("cat0"): AttrVal),
        "score" -> (AttrVal.N(BigDecimal(7)): AttrVal)))))
    val stale = new DynamoScan(opts, schema, pushed, aggs = aggs,
      grouped = Some(group)).toBatch.planInputPartitions()
    assert(stale.forall(!_.isInstanceOf[DynamoGroupAnswerPartition]), stale.toSeq)
  }

  test("key-pruned scans report shard-subset statistics (Query sides can auto-broadcast)") {
    val root = freshRoot()
    seedQueryTable(root, "qs")
    def planSize(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val full = planSize(spark.read.dynamo(root, "qs")
      .select("k", "r", "payload"))
    val pinned = planSize(spark.read.dynamo(root, "qs")
      .filter(col("k") === "b").select("k", "r", "payload"))
    // 4 hash keys over 16 shards: the pinned read owns 1 shard, so
    // its reported size must fall well below the full table's
    assert(pinned * 2 < full,
      s"hash-pinned stats should shrink to the owning shard: $pinned vs $full")
  }

  test("Query fast path: full-shard fallback without a directory returns identical rows") {
    val root = freshRoot()
    seedQueryTable(root, "qf")
    val dir = java.nio.file.Paths.get(root, "qf")
    def run(): Seq[(String, Long, String)] =
      spark.read.dynamo(root, "qf")
        .filter(col("k") === "c" && col("r") >= 1400L)
        .select("k", "r", "payload").orderBy("r").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val paged = run()
    // delete every page directory: the same read must degrade to a
    // full-shard scan with byte-identical results
    val ls = Files.list(dir)
    try ls.filter(p => p.getFileName.toString.startsWith("pageidx-"))
      .forEach(p => Files.delete(p))
    finally ls.close()
    val full = run()
    assert(paged === full)
    assert(paged.length === 101)
    assert(paged.map(_._2) === (1400L to 1500L))
  }

  test("page directory: a SAME-SIZE base rewrite invalidates the sidecar (generation stamp)") {
    val root = freshRoot()
    seedQueryTable(root, "qg")
    val dir = java.nio.file.Paths.get(root, "qg")
    val ls = Files.list(dir)
    val base = try ls.filter(_.getFileName.toString.startsWith("shard-"))
      .filter(p => Files.size(p) > 0).findFirst().get()
    finally ls.close()
    val shard = base.getFileName.toString.stripPrefix("shard-")
      .stripSuffix(".jsonl").toInt
    val idxPath = dir.resolve(f"pageidx-s$shard%03d.jsonl")
    assert(graft.sources.dynamo.PageIndex.load(idxPath, base).isDefined,
      "fresh sidecar should validate")
    // Rewrite the base with IDENTICAL byte size but different content
    // (swap two bytes): a size-only check would accept the stale
    // directory and serve old offsets against new bytes
    val bytes = Files.readAllBytes(base)
    val i = bytes.indexOf('p'.toByte)
    bytes(i) = 'X'
    Files.write(base, bytes)
    assert(Files.size(base) === bytes.length.toLong)
    assert(graft.sources.dynamo.PageIndex.load(idxPath, base).isEmpty,
      "same-size rewrite must discard the directory via the mtime stamp")
  }

  test("Query fast path: RUNTIME filters alone derive page windows (paged read count)") {
    import graft.sources.dynamo.{DynamoOptions, DynamoScan}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.{expressions => v2e}
    import org.apache.spark.unsafe.types.UTF8String
    val root = freshRoot()
    seedQueryTable(root, "qr")
    val opts = DynamoOptions(java.util.Map.of(
      "path", root, "tableName", "qr"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("r",
        org.apache.spark.sql.types.LongType)))
    // NO static filters: everything arrives at runtime, the
    // broadcast-join DPP shape — the window machinery must compose
    // them into a Query-shape page window, not just shard pruning
    val scan = new DynamoScan(opts, schema, Array.empty)
    val parts = scan.toBatch.planInputPartitions()
    def strLit(s: String): v2e.Literal[UTF8String] = new v2e.Literal[UTF8String] {
      override def value(): UTF8String = UTF8String.fromString(s)
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
    }
    def longLit(v: Long): v2e.Literal[java.lang.Long] = new v2e.Literal[java.lang.Long] {
      override def value(): java.lang.Long = v
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
    }
    scan.filter(Array(
      new v2e.filter.Predicate("=", Array[v2e.Expression](
        v2e.Expressions.column("k"), strLit("b"))),
      new v2e.filter.Predicate("<=", Array[v2e.Expression](
        v2e.Expressions.column("r"), longLit(50L)))))
    val factory = scan.toBatch.createReaderFactory()
    var rows = 0L
    var scanned = 0L
    parts.foreach { p =>
      val r = factory.createReader(p)
      while (r.next()) {
        val row = r.get().asInstanceOf[InternalRow]
        assert(row.getUTF8String(0).toString == "b" && row.getLong(1) <= 50L)
        rows += 1
      }
      r.currentMetricsValues().foreach(m =>
        if (m.name() == "itemsScanned") scanned += m.value())
    }
    assert(rows === 50L)
    // the owning shard holds >= 1500 items (one full hash run); a
    // 50-row window at <=256-item pages must read <= 2 pages — well
    // under one run proves the RUNTIME-derived page skip
    assert(scanned <= 600, s"expected a runtime-windowed paged read, scanned $scanned")
  }

  test("autoReshard grows to the target shard size, never shrinks, idempotent") {
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)
    val before = store.describe("fruit").shards
    // A 1-byte target forces growth to the cap (above the default
    // shard count); a small cap keeps the test cheap.
    val cap = before * 4
    val grown = graft.sources.dynamo.DynamoMaintenance.autoReshard(
      spark, root, "fruit", targetShardBytes = 1L, maxShards = cap)
    assert(grown == cap && store.describe("fruit").shards == cap)
    // Reads unchanged through the growth.
    val names = spark.read.dynamo(root, "fruit")
      .select("name").orderBy("name").collect().map(_.getString(0)).toSeq
    assert(names == Seq("apple", "banana", "cherry", "durian"))
    // Re-run: already at the cap → no-op.
    assert(graft.sources.dynamo.DynamoMaintenance.autoReshard(
      spark, root, "fruit", targetShardBytes = 1L, maxShards = cap) == cap)
    // A generous target never SHRINKS the count (DynamoDB never
    // merges partitions).
    assert(graft.sources.dynamo.DynamoMaintenance.autoReshard(
      spark, root, "fruit", targetShardBytes = 1L << 30) == cap)
    // Non-power-of-two cap: the doubling loop clamps to the cap
    // exactly instead of overshooting to the next power of two.
    val oddCap = cap + 3
    assert(graft.sources.dynamo.DynamoMaintenance.autoReshard(
      spark, root, "fruit", targetShardBytes = 1L, maxShards = oddCap) == oddCap)
    assert(store.describe("fruit").shards == oddCap)
  }

  test("restoreAsOf materializes the cut as an independent new table") {
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val meta = TableMeta("id", None, shards = 4, throughput = 1000000L)
    store.createTable("src", meta)
    val s1 = System.currentTimeMillis() + 1000000L
    store.appendWal("src", s1, "e1", Seq(
      store.Put(Map("id" -> graft.sources.dynamo.AttrVal.S("a"),
        "v" -> graft.sources.dynamo.AttrVal.N(BigDecimal(1)))),
      store.Put(Map("id" -> graft.sources.dynamo.AttrVal.S("b"),
        "v" -> graft.sources.dynamo.AttrVal.N(BigDecimal(2))))))
    store.appendWal("src", s1 + 10, "e2", Seq(
      store.Delete(Map("id" -> graft.sources.dynamo.AttrVal.S("a"))),
      store.Put(Map("id" -> graft.sources.dynamo.AttrVal.S("c"),
        "v" -> graft.sources.dynamo.AttrVal.N(BigDecimal(3))))))
    graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
      spark, root, "src", root, "restored", s1 + 5)
    def state(t: String): Map[String, Int] =
      new LocalKVStore(root).scanSegment(t, 0, 1).map { case (it, _) =>
        it("id").asInstanceOf[graft.sources.dynamo.AttrVal.S].v ->
          it("v").asInstanceOf[graft.sources.dynamo.AttrVal.N].v.toInt
      }.toMap
    assert(state("restored") == Map("a" -> 1, "b" -> 2),
      "restore must reproduce exactly the pre-cut state")
    assert(state("src") == Map("b" -> 2, "c" -> 3), "src untouched")
    // Independence both ways: writing the restored table leaves the
    // source alone, and vice versa.
    val st2 = new LocalKVStore(root)
    st2.appendWal("restored", System.currentTimeMillis() + 2000000L, "w",
      Seq(st2.Delete(Map("id" -> graft.sources.dynamo.AttrVal.S("b")))))
    assert(state("restored") == Map("a" -> 1))
    assert(state("src") == Map("b" -> 2, "c" -> 3))
  }

  test("LAW: readers racing a live restore see quarantine or the whole table, never a tear") {
    import graft.sources.dynamo.{AttrVal, DynamoMaintenance, IndexMeta, TableMeta}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val n = 4000
    store.createTable("lsrc",
      TableMeta("id", None, shards = 4, throughput = 1000000L))
    val s1 = System.currentTimeMillis() + 1000000L
    store.appendWal("lsrc", s1, "e1", (1 to n).map(i =>
      store.Put(Map("id" -> AttrVal.S(f"k$i%05d"),
        "v" -> AttrVal.N(BigDecimal(i))))))
    store.createIndex("lsrc", "byv", IndexMeta("v", Some("id"), None))
    val fut = Future { DynamoMaintenance.restoreAsOf(
      spark, root, "lsrc", root, "ldst", s1 + 5) }
    // The quarantine's WRITE ORDERING is the law: the marker lands
    // before meta.json exists and clears only after the last index
    // build — so any observer finding (exists && no marker) must find
    // the COMPLETE table: full row count, indexes registered. A tear
    // here means the marker cleared early (or meta preceded it).
    var completeObservations = 0
    while (!fut.isCompleted) {
      val st = new LocalKVStore(root)
      if (st.exists("ldst") && st.restorePending("ldst").isEmpty) {
        val meta = st.describe("ldst")
        val cnt = (0 until meta.shards)
          .map(sh => st.scanSegment("ldst", sh, meta.shards).size).sum
        assert(cnt == n, s"marker-clear observed with $cnt/$n rows — torn")
        assert(meta.indexes.contains("byv"),
          "marker-clear observed without the rebuilt index — torn")
        completeObservations += 1
      }
      Thread.sleep(2)
    }
    Await.result(fut, 120.seconds)
    val st = new LocalKVStore(root)
    assert(st.restorePending("ldst").isEmpty)
    assert(st.describe("ldst").indexes.contains("byv"))
    assert(spark.read.dynamo(root, "ldst").count() === n.toLong)
  }

  test("a crashed import is quarantined: half-loaded tables refuse reads, rerun converges") {
    import graft.sources.dynamo.{AttrVal, DynamoMaintenance, ItemJson, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val srcDir = Files.createTempDirectory("graft-impq")
    val lines = (1 to 40).map(i =>
      s"""{"Item":{"id":{"S":"k$i"},"v":{"N":"$i"}}}""")
    java.nio.file.Files.write(srcDir.resolve("part0.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    // PLANT the crash state a mid-load die leaves: marker + meta + a
    // PARTIAL journal (half the rows) — exactly the readable-but-
    // half-loaded shape the service's ImportTable FAILED state exists
    // to prevent serving
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "imp"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "imp", "_import_pending"),
      s"import from $srcDir".getBytes("UTF-8"))
    store.createTable("imp", TableMeta("id", None, 4, 1000000L))
    store.appendWal("imp", System.currentTimeMillis(), "imp-p00000-c00000",
      lines.take(20).map(l => store.Put(ItemJson.parseExportLine(l))))
    val e = intercept[IllegalStateException] {
      spark.read.dynamo(root, "imp").collect() }
    assert(e.getMessage.contains("half-loaded import"), e.getMessage)
    // rerun with the same source converges: keyed Puts are idempotent,
    // the final fold clears the marker
    DynamoMaintenance.importDynamoJson(spark, root, "imp",
      srcDir.toString, "id", None, shards = 4)
    assert(spark.read.dynamo(root, "imp").count() === 40L)
    assert(store.journalEmpty("imp"), "rerun must end folded")
  }

  test("a crashed backup is quarantined: reads and re-exports refuse, rerun converges") {
    import graft.sources.dynamo.{AttrVal, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.bulkLoad("bq", TableMeta("id", None, shards = 2,
        throughput = 1000000L),
      (1 to 30).iterator.map(i => Map(
        "id" -> (AttrVal.S(f"k$i%03d"): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(i)): AttrVal))))
    store.appendWal("bq", System.currentTimeMillis() + 1000000L, "w",
      Seq(store.Put(Map("id" -> AttrVal.S("k031"), "v" -> AttrVal.N(31)))))
    val dest = freshRoot()
    store.backupTable("bq", dest)
    val destDir = java.nio.file.Paths.get(dest, "bq")
    // a COMPLETED backup carries its manifest and no pending marker
    assert(java.nio.file.Files.isRegularFile(destDir.resolve("_backup_manifest")))
    assert(!java.nio.file.Files.exists(destDir.resolve("_backup_pending")))
    assert(spark.read.dynamo(dest, "bq").count() === 31L)
    // PLANT the crash state a mid-copy die leaves: the pending marker
    // (written before the first byte moves, cleared last)
    java.nio.file.Files.write(destDir.resolve("_backup_pending"),
      "planted".getBytes("UTF-8"))
    // 1. the connector refuses to read a torn backup — a re-backup
    // that died between journal and base copies can PASS the prior
    // manifest's validation while silently missing folded rows, so
    // the marker is the only honest signal
    val e = intercept[IllegalStateException] {
      spark.read.dynamo(dest, "bq").collect() }
    assert(e.getMessage.contains("crashed backup destination"), e.getMessage)
    // 2. backing up FROM it (= restore_table's path) refuses too:
    // the tear must not propagate into a healthy-looking copy
    val e2 = intercept[IllegalStateException] {
      new LocalKVStore(dest).backupTable("bq", freshRoot()) }
    assert(e2.getMessage.contains("crashed backup destination"), e2.getMessage)
    // 3. rerunning the backup converges: the pending marker voids the
    // (matching!) manifest, forcing the full copy, which clears it
    store.backupTableIncremental("bq", dest)
    assert(!java.nio.file.Files.exists(destDir.resolve("_backup_pending")))
    assert(spark.read.dynamo(dest, "bq").count() === 31L)
  }

  test("a crashed restore is quarantined: connector reads refuse loudly, rerun converges") {
    import graft.sources.dynamo.AttrVal
    val root = freshRoot()
    val store = new LocalKVStore(root)
    store.createTable("src",
      TableMeta("id", None, shards = 2, throughput = 1000000L))
    val s1 = System.currentTimeMillis() + 1000000L
    store.appendWal("src", s1, "e1", (1 to 20).map(i =>
      store.Put(Map("id" -> AttrVal.S(f"k$i%03d"),
        "v" -> AttrVal.N(BigDecimal(i))))))
    store.createIndex("src", "byv",
      graft.sources.dynamo.IndexMeta("v", Some("id"), None))
    val cut = s1 + 5
    // PLANT the crash state restoreAsOf's contract documents: the
    // quarantine marker and destination meta exist, SOME data replayed
    // (one shard's worth), NO indexes — exactly a die between the
    // per-shard replay and the index rebuilds, byte-for-byte (the
    // marker is written before meta.json, so every prefix of the job
    // leaves either nothing or a marked directory).
    val dstDir = java.nio.file.Paths.get(root, "restored")
    java.nio.file.Files.createDirectories(dstDir)
    java.nio.file.Files.write(dstDir.resolve("restore-pending.json"),
      s"""{"srcRoot":"$root","srcTable":"src","asOfSeq":$cut}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    store.createTable("restored",
      TableMeta("id", None, shards = 2, throughput = 1000000L))
    store.appendWal("restored", cut, "restore-s000", Seq(
      store.Put(Map("id" -> AttrVal.S("k001"), "v" -> AttrVal.N(BigDecimal(1))))))
    // Connector read surface refuses the half-restored table LOUDLY —
    // a silent 1-row read here is the bug this quarantine closes.
    val e = intercept[IllegalStateException] {
      spark.read.dynamo(root, "restored").collect()
    }
    assert(e.getMessage.contains("incomplete point-in-time restore"),
      s"wrong refusal: ${e.getMessage}")
    // Rerun is the documented recovery: wipes the partial destination,
    // replays the same deterministic cut, rebuilds indexes, clears the
    // marker.
    graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
      spark, root, "src", root, "restored", cut)
    assert(store.restorePending("restored").isEmpty)
    assert(store.describe("restored").indexes.contains("byv"),
      "rerun must rebuild the source's indexes")
    assert(spark.read.dynamo(root, "restored").count() == 20)
    assert(spark.read.dynamoIndex(root, "restored", "byv").count() == 20)
    // A destination that exists WITHOUT the marker is a real table:
    // refused (restores always create a NEW table), never overwritten.
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
        spark, root, "src", root, "restored", cut)
    }
    assert(e2.getMessage.contains("already exists"))
  }

  test("restoreAsOf/exportAsOf at a straddling cut never materialize a half-transaction") {
    // End-to-end form of the StoreLaws consistent-cut law: a
    // committed cross-table transaction whose per-table publish seqs
    // straddle the requested cut must appear in BOTH restored tables
    // or NEITHER — restore and export are exactly the snapshot read,
    // so they inherit the all-or-nothing resolution.
    import graft.sources.dynamo.{AttrVal, ItemJson, TableTxn}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val meta = TableMeta("pk", None, shards = 2, throughput = 1000000L)
    store.createTable("xa", meta); store.createTable("xb", meta)
    def put(t: String, k: String): Unit =
      store.appendWal(t, 1000L, "base", Seq(store.Put(Map(
        "pk" -> (AttrVal.S(k): AttrVal),
        "v" -> (AttrVal.N(BigDecimal(0)): AttrVal)))))
    put("xa", "a0"); put("xb", "b0")
    // plant a committed transaction with a deterministic pubSeq gap
    val txnId = "00feed00beef0002"
    val now = System.currentTimeMillis()
    val (pubA, pubB) = (now + 100000L, now + 900000L)
    def plant(table: String, pub: Long): String = {
      val name = f"wal-$pub%020d-w7.x$txnId-sall.jsonl"
      val line = ItemJson.write(Map(
        "op" -> AttrVal.S("PUT"),
        "item" -> AttrVal.M(Map(
          "pk" -> AttrVal.S("t1"), "v" -> AttrVal.N(BigDecimal(1))))))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, table, name),
        (line + "\n").getBytes("UTF-8"))
      name
    }
    val (nameA, nameB) = (plant("xa", pubA), plant("xb", pubB))
    val tmp = java.nio.file.Paths.get(root, s".txn-commit-$txnId.tmp")
    java.nio.file.Files.write(tmp, s"xa\t$nameA\nxb\t$nameB".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(root, s".txn-commit-$txnId"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    def keys(t: String, at: String): Set[String] =
      new LocalKVStore(at).scanSegment(t, 0, 1)
        .map(_._1("pk").asInstanceOf[AttrVal.S].v).toSet
    val straddle = pubA + 1000L
    // restore BOTH tables at the straddling cut → txn in neither
    val dst = freshRoot()
    graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
      spark, root, "xa", dst, "xa", straddle)
    graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
      spark, root, "xb", dst, "xb", straddle)
    assert(keys("xa", dst) === Set("a0"), "half-transaction restored into xa")
    assert(keys("xb", dst) === Set("b0"))
    // restore at a covering cut → txn in both
    val dst2 = freshRoot()
    graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
      spark, root, "xa", dst2, "xa", pubB)
    graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
      spark, root, "xb", dst2, "xb", pubB)
    assert(keys("xa", dst2) === Set("a0", "t1"))
    assert(keys("xb", dst2) === Set("b0", "t1"))
    // export inherits the same resolution
    val out = java.nio.file.Files.createTempDirectory("graft-xexp").toString
    graft.sources.dynamo.DynamoMaintenance.exportAsOf(
      spark, root, "xa", out + "/xa", Some(straddle))
    graft.sources.dynamo.DynamoMaintenance.exportAsOf(
      spark, root, "xb", out + "/xb", Some(straddle))
    assert(spark.read.parquet(out + "/xa").select("pk").collect()
      .map(_.getString(0)).toSet === Set("a0"))
    assert(spark.read.parquet(out + "/xb").select("pk").collect()
      .map(_.getString(0)).toSet === Set("b0"))
    assert(classOf[TableTxn] != null) // keep the import referenced
  }

  test("restoreAsOf rebuilds secondary indexes from the restored data") {
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)
    store.createIndex("fruit", "by_color",
      IndexMeta("color", None, Some(Seq("weight_kg"))))
    store.buildIndex("fruit", "by_color")
    val cut = System.currentTimeMillis() + 1000000L
    // A post-cut write the restore must NOT carry over.
    store.appendWal("fruit", cut + 10, "late", Seq(
      store.Put(Map("name" -> graft.sources.dynamo.AttrVal.S("elderberry"),
        "color" -> graft.sources.dynamo.AttrVal.S("red")))))
    graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
      spark, root, "fruit", root, "fruit_r", cut)
    val st = new LocalKVStore(root)
    assert(st.indexFresh("fruit_r", "by_color"),
      "restored index must be materialized fresh")
    val reds = spark.read.dynamoIndex(root, "fruit_r", "by_color")
      .filter(col("color") === "red").select("name").orderBy("name")
      .collect().map(_.getString(0)).toSeq
    assert(reds == Seq("apple", "cherry"), "post-cut write must be absent")
  }

  test("restore law: restoreAsOf equals the snapshot read at every cut (generated)") {
    // For random put/update/delete interleavings across multiple WAL
    // batches and a random cut, the MATERIALIZED restore must equal
    // the journal-bounded asOfSeq read of the source — i.e. restore
    // is a pure function of the snapshot, for every snapshot.
    val rnd = new scala.util.Random(7)
    (0 until 5).foreach { round =>
      val root = freshRoot()
      val store = new LocalKVStore(root)
      store.createTable("src", TableMeta("id", None, shards = 4,
        throughput = 1000000L))
      val base = System.currentTimeMillis() + 1000000L
      val batches = 4 + rnd.nextInt(3)
      (0 until batches).foreach { b =>
        val ops = (0 until 1 + rnd.nextInt(6)).map { _ =>
          val k = s"k${rnd.nextInt(8)}"
          if (rnd.nextInt(4) == 0)
            store.Delete(Map("id" -> graft.sources.dynamo.AttrVal.S(k)))
          else store.Put(Map(
            "id" -> graft.sources.dynamo.AttrVal.S(k),
            "v" -> graft.sources.dynamo.AttrVal.N(BigDecimal(rnd.nextInt(100)))))
        }
        store.appendWal("src", base + b * 100, s"b$b", ops)
      }
      val cut = base + rnd.nextInt(batches) * 100 + 50 // between batches
      graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
        spark, root, "src", root, s"r$round", cut)
      def resolved(t: String, asOf: Option[Long]): Map[String, Int] =
        new LocalKVStore(root).scanSegment(t, 0, 1, asOfSeq = asOf)
          .map { case (it, _) =>
            it("id").asInstanceOf[graft.sources.dynamo.AttrVal.S].v ->
              it("v").asInstanceOf[graft.sources.dynamo.AttrVal.N].v.toInt
          }.toMap
      assert(resolved(s"r$round", None) == resolved("src", Some(cut)),
        s"round $round at cut $cut")
    }
  }

  test("restoreAsOf below the compaction watermark fails loudly") {
    val root = freshRoot()
    seedFruit(root)
    val store = new LocalKVStore(root)
    store.compact("fruit")
    val wm = store.compactionWatermark("fruit")
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.dynamo.DynamoMaintenance.restoreAsOf(
        spark, root, "fruit", root, "fruit_bad", wm - 1)
    }
    assert(e.getMessage.contains("predates") ||
      Option(e.getCause).exists(_.getMessage.contains("predates")))
  }

  test("page directory: a window covering the whole shard streams the full shard") {
    val root = freshRoot()
    seedQueryTable(root, "qw")
    // window [0, 10000] covers every row of hash 'b' — the lazy per-run
    // paged read must return exactly the rows a full read would
    val df = spark.read.dynamo(root, "qw")
      .filter(col("k") === "b" && col("r").between(0, 10000))
      .select("k", "r", "payload").orderBy("r")
    val got = df.collect().map(r => (r.getLong(1), r.getString(2)))
    assert(got.length === 1500)
    assert(got.map(_._1).toSeq === (1L to 1500L))
    assert(got.forall { case (r, p) => p == s"payload-b-$r" })
  }

  test("execute_statement: size() and attribute_type() condition functions") {
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    def item(rk: Int, s: String, tags: Seq[String], extra: Map[String, AttrVal])
        : Map[String, AttrVal] = Map(
      "hk" -> AttrVal.S("a"), "rk" -> AttrVal.N(rk), "s" -> AttrVal.S(s),
      "tags" -> AttrVal.L(tags.toVector.map(AttrVal.S(_): AttrVal))) ++ extra
    assert(spark != null) // force session init for PartiQL.execute
    store.bulkLoad("szt", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      Iterator(
        item(1, "ab", Seq("x"), Map(
          "bin" -> AttrVal.B(Array[Byte](1, 2, 3)),
          "meta" -> AttrVal.M(Map("a" -> AttrVal.N(1), "b" -> AttrVal.N(2))),
          "size" -> AttrVal.N(7))),
        item(2, "abcd", Seq("x", "y", "z"), Map(
          "bin" -> AttrVal.B(Array[Byte](9)),
          "meta" -> AttrVal.M(Map("a" -> AttrVal.N(1))))),
        item(3, "abcdef", Seq(), Map("n" -> AttrVal.N(5)))))
    def run(stmt: String): Seq[Long] = {
      val (schema, rows) = PartiQL.execute(root, stmt, Nil)
      val i = schema.fieldIndex("rk")
      rows.map(_.getLong(i)).toSeq.sorted
    }
    // size() over every decoded shape: string chars, list elements,
    // binary bytes, and the struct-decoded M's PRESENT-field count
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND size(s) > 3") === Seq(2L, 3L))
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND size(tags) = 3") === Seq(2L))
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND size(bin) >= 3") === Seq(1L))
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND size(meta) = 2") === Seq(1L))
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND size(meta) = 1") === Seq(2L))
    // size() on an ABSENT attribute is false under every comparison
    // (the service never resolves it to 0): item 3 has no meta, so
    // size(meta) = 0 and size(meta) < 5 both exclude it.
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND size(meta) = 0") === Seq())
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND size(meta) < 5")
      === Seq(1L, 2L))
    // ...and it agrees with the equivalent DataFrame read
    val viaRead = spark.read.dynamo(root, "szt")
      .filter(col("hk") === "a" && length(col("s")) > 3)
      .select("rk").collect().map(_.getLong(0)).toSeq.sorted
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND size(s) > 3") === viaRead)
    // an attribute NAMED size is still a path (function needs a call)
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND size = 7") === Seq(1L))
    // attribute_type: present-with-matching-decoded-type
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND attribute_type(n, 'N')")
      === Seq(3L))
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND attribute_type(s, 'S')")
      === Seq(1L, 2L, 3L))
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND attribute_type(bin, 'B')")
      === Seq(1L, 2L))
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND attribute_type(tags, 'L')")
      === Seq(1L, 2L, 3L))
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND attribute_type(meta, 'M')")
      === Seq(1L, 2L))
    // a non-matching tag is constant-false, not an error
    assert(run("SELECT rk FROM szt WHERE hk = 'a' AND attribute_type(s, 'N')")
      === Seq())
    // unsupported tags (sets decode as L; NULL == MISSING post-decode)
    // are loud
    val loud = intercept[Exception] {
      run("SELECT rk FROM szt WHERE hk = 'a' AND attribute_type(s, 'SS')") }
    assert(loud.getMessage.contains("not supported"), loud.getMessage)
    // size() against a non-number is the service's ValidationException
    val nn = intercept[Exception] {
      run("SELECT rk FROM szt WHERE hk = 'a' AND size(s) > 'x'") }
    assert(nn.getMessage.contains("number"), nn.getMessage)
  }

  test("execute_statement: list_append and REMOVE-of-absent-leaf semantics") {
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    assert(spark != null) // force session init for PartiQL.execute
    store.bulkLoad("lt", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      Iterator(
        Map("hk" -> (AttrVal.S("a"): AttrVal), "rk" -> (AttrVal.N(1): AttrVal),
          "tags" -> (AttrVal.L(Vector(AttrVal.S("x"), AttrVal.S("y"))): AttrVal),
          "meta" -> (AttrVal.M(Map(
            "arr" -> AttrVal.L(Vector(AttrVal.N(1))),
            "keep" -> AttrVal.S("k"))): AttrVal),
          "s" -> (AttrVal.S("v"): AttrVal))))
    def exec(stmt: String, params: Seq[AttrVal] = Nil) =
      PartiQL.execute(root, stmt, params)
    def tags(): Seq[String] = spark.read.dynamo(root, "lt")
      .filter(col("rk") === 1).select("tags").head().getSeq[String](0)
    // append form: SET l = list_append(l, [..])
    exec("UPDATE lt SET tags = list_append(tags, ['z','w']) " +
      "WHERE hk = 'a' AND rk = 1")
    assert(tags() === Seq("x", "y", "z", "w"))
    // prepend form: SET l = list_append([..], l)
    exec("UPDATE lt SET tags = list_append(['p'], tags) " +
      "WHERE hk = 'a' AND rk = 1")
    assert(tags() === Seq("p", "x", "y", "z", "w"))
    // ? parameter operand, and RETURNING ALL NEW shows the appended list
    val (ns, nr) = exec("UPDATE lt SET tags = list_append(tags, ?) " +
      "WHERE hk = 'a' AND rk = 1 RETURNING ALL NEW *",
      Seq(AttrVal.L(Vector(AttrVal.S("q")))))
    val img = nr.head.getUTF8String(ns.fieldIndex("item")).toString
    assert(img.contains("\"q\""), img)
    assert(tags() === Seq("p", "x", "y", "z", "w", "q"))
    // nested list target
    exec("UPDATE lt SET meta.arr = list_append(meta.arr, [2]) " +
      "WHERE hk = 'a' AND rk = 1")
    assert(spark.read.dynamo(root, "lt").filter(col("rk") === 1)
      .select(col("meta").getField("arr")).head().getSeq[Long](0) === Seq(1L, 2L))
    // the appended state survives compaction (the journal replay path
    // applies the same edit semantics as the live fold)
    graft.sources.dynamo.DynamoMaintenance.compact(spark, root, "lt")
    assert(tags() === Seq("p", "x", "y", "z", "w", "q"))
    // list_append onto a non-list / absent attr is the service's
    // ValidationException, loud
    val nl = intercept[Exception] {
      exec("UPDATE lt SET s = list_append(s, ['x']) WHERE hk = 'a' AND rk = 1") }
    assert(nl.getMessage.contains("not an existing list"), nl.getMessage)
    val ab = intercept[Exception] {
      exec("UPDATE lt SET nope = list_append(nope, ['x']) WHERE hk = 'a' AND rk = 1") }
    assert(ab.getMessage.contains("not an existing list"), ab.getMessage)
    // a non-list operand is loud too
    val nlo = intercept[Exception] {
      exec("UPDATE lt SET tags = list_append(tags, 'x') WHERE hk = 'a' AND rk = 1") }
    assert(nlo.getMessage.contains("must be a list"), nlo.getMessage)
    // read-elsewhere-write-here has no single-item conditional form
    val other = intercept[Exception] {
      exec("UPDATE lt SET tags = list_append(meta.arr, ['x']) " +
        "WHERE hk = 'a' AND rk = 1") }
    assert(other.getMessage.contains("target itself"), other.getMessage)
    // REMOVE of an absent LEAF in a navigable container: the
    // service's no-op, not an error
    exec("UPDATE lt REMOVE meta.absent WHERE hk = 'a' AND rk = 1")
    assert(spark.read.dynamo(root, "lt").filter(col("rk") === 1)
      .select(col("meta").getField("keep")).head().getString(0) === "k")
    // list index past the end: absent leaf, no-op
    exec("UPDATE lt REMOVE tags[99] WHERE hk = 'a' AND rk = 1")
    assert(tags() === Seq("p", "x", "y", "z", "w", "q"))
    // but an invalid INTERMEDIATE path still faults loudly
    val dead = intercept[Exception] {
      exec("UPDATE lt REMOVE nope.deep WHERE hk = 'a' AND rk = 1") }
    assert(dead.getMessage.contains("does not exist"), dead.getMessage)
    // and REMOVE of a leaf under a non-container faults (s is a string)
    val nc = intercept[Exception] {
      exec("UPDATE lt REMOVE s.deep WHERE hk = 'a' AND rk = 1") }
    assert(nc.getMessage.contains("does not exist"), nc.getMessage)
    // list_append inside execute_transaction rides the same PathEdits
    PartiQL.executeTransaction(root,
      "UPDATE lt SET tags = list_append(tags, ['t']) WHERE hk = 'a' AND rk = 1",
      Nil)
    assert(tags() === Seq("p", "x", "y", "z", "w", "q", "t"))
  }

  test("LAW: paging tokens bind to statement content, not value identity (binary keys)") {
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val pad = "x" * 200
    assert(spark != null) // force session init for PartiQL.execute
    store.bulkLoad("bt", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      Iterator.range(0, 2000).map(i => Map(
        "hk" -> (AttrVal.B(Array[Byte](7, 42)): AttrVal),
        "rk" -> (AttrVal.N(i): AttrVal),
        "payload" -> (AttrVal.S(s"$pad$i"): AttrVal))))
    val stmt = "SELECT payload, rk FROM bt WHERE hk = ?"
    // each call constructs a FRESH Array[Byte] — equal bytes, distinct
    // identity; the signature must come from the CONTENT (the old
    // case-class-toString signature changed per call and rejected
    // every resume on binary-keyed statements)
    def page(token: Option[String]) = PartiQL.execute(root, stmt,
      Seq(AttrVal.B(Array[Byte](7, 42))), None, false, token,
      pageBytes = 64 * 1024)
    val (s1, r1) = page(None)
    val tokI = s1.fieldNames.indexOf("next_token")
    assert(tokI >= 0, "first page must truncate at this bound")
    val t1 = r1.head.getUTF8String(tokI).toString
    val (s2, r2) = page(Some(t1)) // fresh parse + fresh byte array
    assert(r2.nonEmpty)
    assert(r2.head.getLong(s2.fieldIndex("rk")) ===
      r1.last.getLong(s1.fieldIndex("rk")) + 1)
    // a BINARY SORT KEY pages too: the token carries the base64
    // content and the resume window pushes a binary comparison
    store.bulkLoad("bsk", TableMeta("hk", Some("rk"), shards = 2,
        throughput = 1000000L),
      Iterator.range(0, 2000).map(i => Map(
        "hk" -> (AttrVal.S("h"): AttrVal),
        "rk" -> (AttrVal.B(Array[Byte](
          ((i >> 8) & 0xff).toByte, (i & 0xff).toByte)): AttrVal),
        "payload" -> (AttrVal.S(s"$pad$i"): AttrVal))))
    val bstmt = "SELECT payload, rk FROM bsk WHERE hk = 'h'"
    var tok: Option[String] = None
    var n = 0
    var done = false
    var pages = 0
    while (!done) {
      val (bs, br) = PartiQL.execute(root, bstmt, Nil, None, false, tok,
        pageBytes = 64 * 1024)
      n += br.length
      pages += 1
      assert(pages < 40)
      bs.fieldNames.indexOf("next_token") match {
        case i if i >= 0 => tok = Some(br.head.getUTF8String(i).toString)
        case _ => done = true
      }
    }
    assert(pages > 1 && n === 2000, s"pages=$pages n=$n")
  }

  test("LAW: a resumed page reads the CURRENT table state; key-schema drift is loud") {
    import graft.sources.dynamo.{AttrVal, PartiQL, TableMeta}
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val pad = "x" * 200
    assert(spark != null) // force session init for PartiQL.execute
    def seed(rkName: String, rkOf: Int => AttrVal): Unit =
      store.bulkLoad("mt", TableMeta("hk", Some(rkName), shards = 2,
          throughput = 1000000L),
        Iterator.range(0, 2000).filter(_ % 2 == 0).map(i => Map(
          "hk" -> (AttrVal.S("h"): AttrVal),
          rkName -> rkOf(i),
          "payload" -> (AttrVal.S(s"$pad$i"): AttrVal))))
    seed("rk", i => AttrVal.N(i))
    val stmt = "SELECT payload, rk FROM mt WHERE hk = 'h'"
    def page(token: Option[String]) =
      PartiQL.execute(root, stmt, Nil, None, false, token, pageBytes = 64 * 1024)
    val (s1, r1) = page(None)
    val tokI = s1.fieldNames.indexOf("next_token")
    assert(tokI >= 0)
    val t1 = r1.head.getUTF8String(tokI).toString
    val lastSeen = r1.last.getLong(s1.fieldIndex("rk"))
    // pagination is NOT a snapshot (the service's own semantics): a
    // write landing in the remaining window between pages is VISIBLE
    // to the resumed read...
    PartiQL.execute(root, s"INSERT INTO mt VALUE {'hk': 'h', " +
      s"'rk': ${lastSeen + 1}, 'payload': 'fresh'}", Nil)
    // ...and a delete ahead of the cursor disappears (lastSeen is
    // even — the seed wrote even rks only — so lastSeen+2 exists)
    PartiQL.execute(root, s"DELETE FROM mt WHERE hk = 'h' AND rk = ${lastSeen + 2}",
      Nil)
    val (s2, r2) = page(Some(t1))
    val rks = r2.map(_.getLong(s2.fieldIndex("rk"))).toSeq
    assert(rks.head === lastSeen + 1, s"inserted row must appear: $rks")
    assert(!rks.contains(lastSeen + 2), "deleted row must be gone")
    assert(rks.contains(lastSeen + 4), "undisturbed rows still page")
    // truncate + rewrite under the token (the overwrite dance): the
    // resumed read sees exactly the CURRENT rows in the remaining
    // window — never stale pre-truncate rows
    store.truncateTable("mt")
    Seq(lastSeen - 2, lastSeen + 10, lastSeen + 20).foreach(rk =>
      PartiQL.execute(root, s"INSERT INTO mt VALUE {'hk': 'h', " +
        s"'rk': $rk, 'payload': 'post-truncate'}", Nil))
    val (s3, r3) = page(Some(t1))
    assert(r3.map(_.getLong(s3.fieldIndex("rk"))).toSeq ===
      Seq(lastSeen + 10, lastSeen + 20))
    assert(!s3.fieldNames.contains("next_token"))
    // drop + recreate with a DIFFERENT range-key NAME: the signature
    // binds the key schema, so the held token is refused loudly
    def dropTable(): Unit = {
      val dir = java.nio.file.Paths.get(root, "mt")
      val st = java.nio.file.Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    }
    dropTable()
    seed("rk2", i => AttrVal.N(i))
    val renamed = intercept[Exception] { page(Some(t1)) }
    assert(renamed.getMessage.contains("different statement"),
      renamed.getMessage)
    // drop + recreate with the SAME names but a STRING-typed sort key:
    // the token's numeric cursor no longer means anything — loud, never
    // a mistyped (empty or overfull) resumed page
    dropTable()
    seed("rk", i => AttrVal.S(f"k$i%06d"))
    val retyped = intercept[Exception] { page(Some(t1)) }
    assert(retyped.getMessage.contains("sort-key type"), retyped.getMessage)
    // reserved-column collision: a paged projection naming next_token
    // is refused instead of returning two same-named columns
    store.bulkLoad("ck", TableMeta("hk", Some("rk"), shards = 1,
        throughput = 1000000L),
      Iterator.range(0, 2000).map(i => Map(
        "hk" -> (AttrVal.S("h"): AttrVal), "rk" -> (AttrVal.N(i): AttrVal),
        "next_token" -> (AttrVal.S(s"$pad$i"): AttrVal))))
    val coll = intercept[Exception] {
      PartiQL.execute(root, "SELECT next_token, rk FROM ck WHERE hk = 'h'",
        Nil, None, false, None, pageBytes = 32 * 1024) }
    assert(coll.getMessage.contains("collides"), coll.getMessage)
  }

  // ---- driver-served point reads (GetItem / BatchGetItem shape) ----

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** (LocalTableScanExec, BatchScanExec) node counts of `df`'s plan. */
  private def scanNodes(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    (Plans.collect(plan) {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l }.size,
     Plans.collect(plan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }.size)
  }

  /** Spark jobs started while `body` runs, counted by job group. A
    * barrier job in a second group runs after `body`; listener events
    * arrive in order, so once the barrier is seen every job of `body`
    * has been counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val barrier = s"$group-barrier"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(barrier, "barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(barrier) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(barrier), "the listener never saw the barrier job")
      java.util.Collections.frequency(seen, group)
    } finally sc.removeSparkListener(listener)
  }

  test("LAW: a driver-served point read returns the rows of a full read filtered in Spark") {
    import graft.sources.dynamo.AttrVal
    import org.apache.spark.sql.{Column, DataFrame, Row}
    import spark.implicits._
    val root = freshRoot()
    val store = new LocalKVStore(root)
    val n = 400
    def exp(i: Int): Long = if (i % 3 == 0) 100L else 2000000000L
    // hash-only `pc` (string keys) and composite `po` (numeric keys),
    // 16 shards each, written through the connector (journal only)
    (0 until n).map(i => (f"k$i%04d", i.toLong, exp(i), s"v$i"))
      .toDF("id", "n", "exp", "v").write.dynamo(root, "pc", "id")
    (0 until n).map(i => ((i % 40).toLong, i.toLong, i.toLong, exp(i), s"v$i"))
      .toDF("h", "r", "n", "exp", "v").write.format("dynamo")
      .option("path", root).option("tableName", "po")
      .option("hashKey", "h").option("rangeKey", "r").mode("append").save()
    // composite `pq` with a string sort key, for `begins_with`
    def pqHash(h: Long): String = s"g$h"
    (0 until n).map(i => (pqHash(i % 20), f"r$i%04d", i.toLong, exp(i), s"v$i"))
      .toDF("h", "r", "n", "exp", "v").write.format("dynamo")
      .option("path", root).option("tableName", "pq")
      .option("hashKey", "h").option("rangeKey", "r").mode("append").save()
    val tables = Seq("pc", "po", "pq")
    val rnd = new scala.util.Random(7)
    def pcKey(i: Int): String = f"k$i%04d"
    // full-key pins: `=`, IN of up to 64 keys, absent keys, keys on
    // many shards; composite pins combine hash and sort pins
    def pins(table: String): Seq[(String, Column)] = (0 until 6).map { j =>
      val m = if (j == 5) 64 else 1 + rnd.nextInt(12)
      val ks = Seq.fill(m)(rnd.nextInt(n + 60)).distinct
      table match {
        case "pc" if j == 0 => ("= present", col("id") === pcKey(rnd.nextInt(n)))
        case "pc" if j == 1 => ("= absent", col("id") === pcKey(n + 7))
        case "pc" => (s"IN ${ks.size}", col("id").isin(ks.map(pcKey): _*))
        case _ if j == 0 =>
          val i = rnd.nextInt(n); ("= present", col("h") === (i % 40).toLong && col("r") === i.toLong)
        case _ if j == 1 => ("= absent", col("h") === 3L && col("r") === 4L)
        case _ =>
          val hs = ks.take(4).map(i => (i % 40).toLong).distinct
          val rs = ks.take(64 / hs.size).map(_.toLong)
          (s"IN ${hs.size}x${rs.size}", col("h").isin(hs: _*) && col("r").isin(rs: _*))
      }
    }
    // Query pins: the hash key by `=`/IN (absent values included), the
    // sort key open or bounded
    def queryPins(table: String): Seq[(String, Column)] = {
      val hs = Seq.fill(3)(rnd.nextInt(44).toLong).distinct
      val a = rnd.nextInt(n).toLong
      table match {
        case "po" => Seq(
          "Query open" -> (col("h") === hs.head),
          "Query BETWEEN" -> (col("h") === hs.head && col("r").between(a, a + 120)),
          "Query > <=" -> (col("h") === hs.head && col("r") > a && col("r") <= a + 200),
          s"Query IN ${hs.size}" -> col("h").isin(hs: _*),
          s"Query IN ${hs.size} >=" -> (col("h").isin(hs: _*) && col("r") >= a))
        case "pq" =>
          val prefix = f"r${a / 100}%02d"
          Seq(
            "Query open" -> (col("h") === pqHash(hs.head % 22)),
            "Query begins_with" ->
              (col("h") === pqHash(hs.head % 22) && col("r").startsWith(prefix)),
            s"Query IN ${hs.size} begins_with" ->
              (col("h").isin(hs.map(h => pqHash(h % 22)): _*) && col("r").startsWith(prefix)),
            "Query BETWEEN" -> (col("h") === pqHash(hs.head % 22) &&
              col("r").between(f"r$a%04d", f"r${a + 150}%04d")))
        case _ => Nil
      }
    }
    def allPins(table: String): Seq[(String, Column)] =
      (if (table == "pq") Nil else pins(table)) ++ queryPins(table)
    def read(table: String, opts: Map[String, String]): DataFrame =
      spark.read.format("dynamo").option("path", root).option("tableName", table)
        .options(opts).load()
    def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
    def checkState(state: String, optionSets: Seq[(String, Map[String, String])]): Unit =
      for ((optName, opts) <- optionSets; table <- tables; meta <- Seq(false, true)) {
        val dataCols = read(table, opts).columns.toSeq
        val cols = (if (meta) dataCols ++ Seq("_shard", "_size") else dataCols).map(col)
        val fullRows = read(table, opts + ("filterPushdown" -> "false")).select(cols: _*).collect()
        val full = spark.createDataFrame(
          java.util.Arrays.asList(fullRows: _*), fullRows.headOption.fold(
            read(table, opts).select(cols: _*).schema)(_.schema))
        allPins(table).foreach { case (pinName, pin) =>
          val served = read(table, opts).select(cols: _*).filter(pin)
          val what = s"$state / $optName / $table / $pinName / meta=$meta"
          assert(scanNodes(served) === ((1, 0)), s"$what: not served locally")
          assert(sorted(served.collect().toSeq) === sorted(full.filter(pin).collect().toSeq),
            s"$what: rows diverge")
        }
      }
    val common = Seq(
      "plain" -> Map.empty[String, String],
      "ttl" -> Map("ttlAttribute" -> "exp", "ttlNow" -> "1000000000"),
      "strongly consistent" -> Map("stronglyConsistentReads" -> "true"),
      "consistentScan" -> Map("consistentScan" -> "true"))
    checkState("journal-only", common)
    tables.foreach(store.compact)
    checkState("compacted", common)
    // journal over base: updates, deletes and new keys, in two files
    // so an asOfSeq cut between them hides the second
    def pcItem(i: Int, v: String): Map[String, AttrVal] = Map("id" -> AttrVal.S(pcKey(i)),
      "n" -> AttrVal.N(BigDecimal(i)), "exp" -> AttrVal.N(BigDecimal(exp(i))), "v" -> AttrVal.S(v))
    def poItem(i: Int, v: String): Map[String, AttrVal] = Map(
      "h" -> AttrVal.N(BigDecimal(i % 40)), "r" -> AttrVal.N(BigDecimal(i)),
      "n" -> AttrVal.N(BigDecimal(i)), "exp" -> AttrVal.N(BigDecimal(exp(i))), "v" -> AttrVal.S(v))
    def pqItem(i: Int, v: String): Map[String, AttrVal] = Map(
      "h" -> AttrVal.S(pqHash(i % 20)), "r" -> AttrVal.S(f"r$i%04d"),
      "n" -> AttrVal.N(BigDecimal(i)), "exp" -> AttrVal.N(BigDecimal(exp(i))), "v" -> AttrVal.S(v))
    def pubSeqs(t: String): Seq[Long] =
      store.walFileNames(t).map(_.stripPrefix("wal-").takeWhile(_ != '-').toLong)
    store.appendWal("pc", 1L, "j1", (0 until n + 40 by 5).map(i =>
      if (i % 10 == 0) store.Delete(Map("id" -> AttrVal.S(pcKey(i))))
      else store.Put(pcItem(i, s"j1-$i"))))
    store.appendWal("po", 1L, "j1", (0 until n + 40 by 5).map(i =>
      if (i % 10 == 0) store.Delete(poItem(i, "").filter(kv => kv._1 == "h" || kv._1 == "r"))
      else store.Update(poItem(i, s"j1-$i"))))
    store.appendWal("pq", 1L, "j1", (0 until n + 40 by 5).map(i =>
      if (i % 10 == 0) store.Delete(pqItem(i, "").filter(kv => kv._1 == "h" || kv._1 == "r"))
      else store.Put(pqItem(i, s"j1-$i"))))
    val cuts = tables.map(t => t -> pubSeqs(t).max).toMap
    store.appendWal("pc", 2L, "j2", (1 until n + 40 by 7).map(i => store.Put(pcItem(i, s"j2-$i"))))
    store.appendWal("po", 2L, "j2", (1 until n + 40 by 7).map(i => store.Update(poItem(i, s"j2-$i"))))
    store.appendWal("pq", 2L, "j2", (1 until n + 40 by 7).map(i => store.Update(pqItem(i, s"j2-$i"))))
    assert(cuts.forall { case (t, c) => pubSeqs(t).max > c })
    checkState("journal over base", common)
    // one cut per table: the two tables' journals carry their own pubSeqs
    tables.foreach { t =>
      val opts = Map("asOfSeq" -> cuts(t).toString)
      allPins(t).foreach { case (pinName, pin) =>
        val served = read(t, opts).filter(pin)
        assert(scanNodes(served) === ((1, 0)), s"asOfSeq / $t / $pinName: not served locally")
        val fullRows = read(t, opts + ("filterPushdown" -> "false")).collect()
        val full = spark.createDataFrame(java.util.Arrays.asList(fullRows: _*), fullRows.head.schema)
        assert(sorted(served.collect().toSeq) === sorted(full.filter(pin).collect().toSeq),
          s"asOfSeq / $t / $pinName: rows diverge")
        assert(!served.collect().exists(_.getAs[String]("v").startsWith("j2-")),
          s"asOfSeq / $t / $pinName: the cut leaked a later write")
      }
    }
  }

  test("point-read plan shape: full-key pins run no job; other shapes stay BatchScan") {
    import spark.implicits._
    import graft.sources.dynamo.{AttrVal, IndexMeta}
    val root = freshRoot()
    (0 until 300).map(i => (f"k$i%04d", i.toLong, s"c${i % 5}"))
      .toDF("id", "n", "c").write.dynamo(root, "ph", "id")
    (0 until 300).map(i => ((i % 30).toLong, i.toLong, i.toLong))
      .toDF("h", "r", "n").write.format("dynamo")
      .option("path", root).option("tableName", "pr")
      .option("hashKey", "h").option("rangeKey", "r").mode("append").save()
    new LocalKVStore(root).createIndex("ph", "by_c", IndexMeta("c", Some("id"), None))
    def ph = spark.read.dynamo(root, "ph")
    def pr = spark.read.dynamo(root, "pr")
    // eligible: GetItem and BatchGetItem shapes, hash-only and composite
    val get = ph.filter(col("id") === "k0007")
    assert(scanNodes(get) === ((1, 0)))
    assert(jobsDuring(assert(get.collect().map(_.getAs[Long]("n")).toSeq === Seq(7L))) === 0)
    val batchGet = ph.filter(col("id").isin((0 until 64).map(i => f"k${i * 4}%04d"): _*))
    assert(scanNodes(batchGet) === ((1, 0)))
    assert(jobsDuring(assert(batchGet.collect().length === 64)) === 0)
    val getComposite = pr.filter(col("h") === 7L && col("r") === 37L)
    assert(scanNodes(getComposite) === ((1, 0)))
    assert(jobsDuring(assert(getComposite.collect().map(_.getAs[Long]("n")).toSeq ===
      Seq(37L))) === 0)
    // the Query shape: a hash pin on a range table, sort key open
    val query = pr.filter(col("h") === 7L)
    assert(scanNodes(query) === ((1, 0)))
    assert(jobsDuring(assert(query.collect().map(_.getAs[Long]("r")).sorted.toSeq ===
      (7L until 300L by 30L))) === 0)
    // the counter does see jobs: the same read distributed runs one
    val distributed = ph.filter(col("id") === "k0007").limit(1)
    assert(jobsDuring(distributed.collect()) >= 1)
    // Queries whose bytes pass the 1 MiB driver-read bound, over
    // compacted 16-shard tables (items of ~420 bytes)
    val store = new LocalKVStore(root)
    val pad = "x" * 400
    def item(h: String, r: Int): Map[String, AttrVal] = Map("h" -> AttrVal.S(h),
      "r" -> AttrVal.N(BigDecimal(r)), "p" -> AttrVal.S(pad))
    val meta16 = TableMeta("h", Some("r"), shards = 16, throughput = 1000000L)
    def shard(h: String): Int = store.shardOf(meta16, Map("h" -> AttrVal.S(h)))
    // hash values sharing one shard with `h`
    def neighbours(h: String, n: Int): Seq[String] =
      Iterator.from(0).map(i => s"n$i").filter(g => g != h && shard(g) == shard(h)).take(n).toSeq
    def q(t: String) = spark.read.dynamo(root, t)
    // one hash group of ~1.3 MB: its window pages pass the bound, a
    // sort-key range within it does not
    store.bulkLoad("hot", meta16, (Iterator.range(0, 3000).map(item("hot", _)) ++
      Iterator.range(0, 5).map(item("cold", _))))
    val hotRange = q("hot").filter(col("h") === "hot" && col("r").between(10, 20))
    assert(scanNodes(hotRange) === ((1, 0)))
    assert(jobsDuring(assert(hotRange.collect().length === 11)) === 0)
    assert(scanNodes(q("hot").filter(col("h") === "cold")) === ((1, 0)))
    // a small group whose owning shard's journal passes the bound
    store.bulkLoad("jr", meta16, Iterator.range(0, 5).map(item("j", _)))
    assert(scanNodes(q("jr").filter(col("h") === "j")) === ((1, 0)))
    store.appendWal("jr", 1L, "w", neighbours("j", 30).flatMap(g =>
      (0 until 100).map(r => store.Put(item(g, r)))))
    // a small group in a base shard of ~1.3 MB whose page directory
    // goes stale: the whole base file counts
    store.bulkLoad("st", meta16, Iterator.range(0, 5).map(item("s", _)) ++
      neighbours("s", 30).iterator.flatMap(g => Iterator.range(0, 100).map(item(g, _))))
    val stale = q("st").filter(col("h") === "s")
    assert(scanNodes(stale) === ((1, 0)))
    val base = java.nio.file.Paths.get(root, "st", f"shard-${shard("s")}%03d.jsonl")
    assert(Files.size(base) > (1L << 20))
    Files.setLastModifiedTime(base, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(base).toMillis + 5000L))
    // declined shapes keep the distributed scan
    val declined = Seq(
      "hash group over 1 MiB" -> q("hot").filter(col("h") === "hot"),
      "owning shard's journal over 1 MiB" -> q("jr").filter(col("h") === "j"),
      "stale directory over a base of 1 MiB" -> q("st").filter(col("h") === "s"),
      "more than 64 keys" -> ph.filter(col("id").isin((0 until 65).map(i => f"k$i%04d"): _*)),
      "indexName" -> spark.read.format("dynamo").option("path", root)
        .option("tableName", "ph").option("indexName", "by_c").load()
        .filter(col("id") === "k0007"),
      "limit" -> ph.filter(col("id") === "k0007").limit(1),
      "aggregate" -> ph.filter(col("id") === "k0007").agg(count(lit(1))),
      "declared bucket layout" -> spark.read.format("dynamo").option("path", root)
        .option("tableName", "ph").option("readPartitions", "16").load()
        .filter(col("id") === "k0007"))
    declined.foreach { case (name, df) =>
      assert(scanNodes(df)._2 === 1, s"$name: expected a BatchScanExec")
      assert(scanNodes(df)._1 === 0, s"$name: must not be served locally")
      df.collect()
    }
    assert(declined.take(3).map(_._2.count()) === Seq(3000L, 5L, 5L))
    // a join against a point read still sees its statistics and broadcasts
    val joined = ph.join(get.select(col("id"), col("n").as("n2")), "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LocalTableScan"), plan)
    assert(joined.collect().map(_.getAs[Long]("n2")).toSeq === Seq(7L))
  }

  test("a driver-served point read takes its rows at planning, like a file listing") {
    import spark.implicits._
    import graft.sources.dynamo.AttrVal
    val root = freshRoot()
    Seq(("a", 1L), ("b", 2L)).toDF("id", "n").write.dynamo(root, "ps", "id")
    val df = spark.read.dynamo(root, "ps").filter(col("id") === "a")
    assert(df.collect().map(_.getAs[Long]("n")).toSeq === Seq(1L))
    val store = new LocalKVStore(root)
    store.appendWal("ps", 1L, "w", Seq(store.Put(Map(
      "id" -> AttrVal.S("a"), "n" -> AttrVal.N(BigDecimal(10))))))
    // the same DataFrame keeps the rows its plan took
    assert(df.collect().map(_.getAs[Long]("n")).toSeq === Seq(1L))
    // a new DataFrame plans again and sees the write
    assert(spark.read.dynamo(root, "ps").filter(col("id") === "a")
      .collect().map(_.getAs[Long]("n")).toSeq === Seq(10L))
  }
}
