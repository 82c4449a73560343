package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dynamo.Implicits._

/** Storage-partitioned join through the connector: two tables sharded
  * on the same key count report `KeyGroupedPartitioning(bucket(n,
  * key))`, and when they are loaded through [[graft.sources.dynamo
  * .DynamoCatalog]] (whose FunctionCatalog resolves the bucket
  * transform) a key-equi join runs with NO exchange on EITHER side —
  * the store's own layout is the join partitioning. The parquet-side
  * analogue is BucketingSpec; this pins the same contract for the
  * connector, where it matters most (a 100 TB item table re-shuffled
  * per join would dominate every query).
  *
  * Per-shard planning kicks in when `max(bytes/maxPartitionBytes,
  * session slots) >= shards` (any production-size table, or a session
  * at least as wide as the shard count); the tiny fixtures on the
  * 4-slot test session force it with a catalog-level
  * `readPartitions = shards`, the same plan shape.
  */
class StoragePartitionedJoinSpec extends AnyFunSuite {
  import TestSpark._

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("co-sharded catalog tables join with zero shuffle on either side") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spj").toString
    val n = 200
    Seq.tabulate(n)(i => (f"k$i%04d", i.toLong))
      .toDF("id", "qty").write.dynamo(root, "left_t", "id")
    Seq.tabulate(n)(i => (f"k$i%04d", s"cat${i % 7}"))
      .toDF("id", "cat").write.dynamo(root, "right_t", "id")

    withConf(
      "spark.sql.catalog.spjcat" -> "graft.sources.dynamo.DynamoCatalog",
      "spark.sql.catalog.spjcat.path" -> root,
      "spark.sql.catalog.spjcat.readPartitions" -> "16",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("spjcat.left_t")
        .join(spark.table("spjcat.right_t"), "id")
        .select("id", "qty", "cat")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join still shuffles:\n$plan")

      val rows = j.orderBy("id").collect()
      assert(rows.length === n)
      assert(rows.take(2).map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ===
        Seq(("k0000", 0L, "cat0"), ("k0001", 1L, "cat1")))
    }
  }

  test("SPJ survives one side pruned to a shard subset (push-part-values)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spj-prune").toString
    Seq.tabulate(200)(i => (f"k$i%04d", i.toLong))
      .toDF("id", "qty").write.dynamo(root, "lp", "id")
    Seq.tabulate(200)(i => (f"k$i%04d", s"cat${i % 7}"))
      .toDF("id", "cat").write.dynamo(root, "rp", "id")
    withConf(
      "spark.sql.catalog.spjpr" -> "graft.sources.dynamo.DynamoCatalog",
      "spark.sql.catalog.spjpr.path" -> root,
      "spark.sql.catalog.spjpr.readPartitions" -> "16",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the pushed key filter prunes the left scan to ONE shard (plus
      // the SPJ pad partition that keeps the bucket layout visible);
      // the right side stays full — partition values no longer line
      // up, and pushPartValues must fill the gaps instead of shuffling
      // EITHER side (partially-clustered storage-partitioned join)
      val j = spark.table("spjpr.lp").filter(col("id") === "k0005")
        .join(spark.table("spjpr.rp").hint("merge"), "id")
        .select("id", "qty", "cat")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"shard-pruned SPJ side still forces a shuffle:\n$plan")
      val rows = j.collect()
      assert(rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getString(2))) ===
        Seq(("k0005", 5L, "cat5")))

      // IN spanning several shards: multi-shard subset vs full side
      val in = spark.table("spjpr.lp")
        .filter(col("id").isin("k0005", "k0017", "k0123"))
        .join(spark.table("spjpr.rp").hint("merge"), "id")
        .select("id", "qty", "cat")
      val inPlan = in.queryExecution.executedPlan.toString
      assert(!inPlan.contains("Exchange hashpartitioning"),
        s"multi-shard-pruned SPJ side still forces a shuffle:\n$inPlan")
      assert(in.orderBy("id").collect().map(_.getString(0)).toSeq ===
        Seq("k0005", "k0017", "k0123"))
    }
  }

  test("aggregation keyed by the primary key reuses the shard layout") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spj-agg").toString
    Seq.tabulate(100)(i => (f"k$i%04d", i.toLong))
      .toDF("id", "qty").write.dynamo(root, "t", "id")
    withConf(
      "spark.sql.catalog.spjagg" -> "graft.sources.dynamo.DynamoCatalog",
      "spark.sql.catalog.spjagg.path" -> root,
      "spark.sql.catalog.spjagg.readPartitions" -> "16",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val a = spark.table("spjagg.t").groupBy("id").agg(sum("qty").as("s"))
      val plan = a.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"key-grouped aggregate still shuffles:\n$plan")
      assert(a.count() === 100L)
    }
  }

  test("window partitioned by the primary key reuses the shard layout") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spj-win").toString
    // several rows per key (composite primary key: hash id, range seq
    // — plain puts would upsert-collapse to one row per id); layout-2
    // placement is by the HASH key alone, so the reported bucket
    // transform stays bucket(16, id)
    Seq.tabulate(300)(i => (f"k${i % 50}%04d", i.toLong, (i * 7 % 100).toDouble))
      .toDF("id", "seq", "v")
      .write.format("dynamo")
      .option("path", root).option("tableName", "t")
      .option("hashKey", "id").option("rangeKey", "seq")
      .mode("append").save()
    withConf(
      "spark.sql.catalog.spjwin" -> "graft.sources.dynamo.DynamoCatalog",
      "spark.sql.catalog.spjwin.path" -> root,
      "spark.sql.catalog.spjwin.readPartitions" -> "16",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("v").desc, col("seq"))
      val d = spark.table("spjwin.t")
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 1)
      val plan = d.queryExecution.executedPlan.toString
      // ClusteredDistribution(id) is satisfied by the reported
      // bucket(16, id) layout: per-partition sort only, no exchange
      assert(!plan.contains("Exchange hashpartitioning"),
        s"window over the placement key still shuffles:\n$plan")
      assert(plan.contains("Window"), plan)
      val top = d.select("id", "seq").collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // per key, the max-v row (ties by seq asc) — compute driver-side
      val expect = Seq.tabulate(300)(i => (f"k${i % 50}%04d", i.toLong, (i * 7 % 100).toDouble))
        .groupBy(_._1).map { case (k, xs) =>
          val best = xs.minBy(x => (-x._3, x._2))
          k -> best._2
        }
      assert(top === expect)
    }
  }

  test("reshard re-buckets the layout; reads and cross-layout joins stay correct") {
    import spark.implicits._
    import graft.sources.dynamo.{DynamoMaintenance, LocalKVStore}
    val root = Files.createTempDirectory("graft-reshard").toString
    val df = Seq.tabulate(300)(i => (f"k$i%04d", i.toLong)).toDF("id", "qty")
    df.write.dynamo(root, "grow", "id")
    // pending journal entries must fold in, not get lost or misplaced
    Seq(("k0000", 999L)).toDF("id", "qty").write.format("dynamo")
      .option("path", root).option("tableName", "grow")
      .option("update", "true").mode("append").save()

    DynamoMaintenance.reshard(spark, root, "grow", 32)
    assert(new LocalKVStore(root).describe("grow").shards === 32)
    val up = spark.read.dynamo(root, "grow")
    assert(up.count() === 300L)
    assert(up.filter(col("id") === "k0000").head.getAs[Long]("qty") === 999L)

    DynamoMaintenance.reshard(spark, root, "grow", 4)
    assert(new LocalKVStore(root).describe("grow").shards === 4)
    assert(spark.read.dynamo(root, "grow").count() === 300L)

    // a co-sharded partner resharded to a DIFFERENT count: the scans
    // report incompatible bucket layouts, so the join must fall back
    // to a shuffle — and stay correct
    df.write.dynamo(root, "partner", "id")
    withConf(
      "spark.sql.catalog.spjrs" -> "graft.sources.dynamo.DynamoCatalog",
      "spark.sql.catalog.spjrs.path" -> root,
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val j = spark.table("spjrs.grow")
        .join(spark.table("spjrs.partner").select(col("id"), col("qty").as("q2")), "id")
      assert(j.count() === 300L)
      assert(j.filter(col("qty") =!= col("q2")).count() === 1L) // the updated row
    }
  }

  test("composite-key fact joins a hash-only dim on the partition key, zero shuffle") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spj-fact").toString
    // dim: hash-only on id; fact: composite (id, seq). Partition-key
    // placement (layout 2) co-locates a key's fact rows with its dim
    // row, so the classic fact ⋈ dim equi-join needs NO exchange on
    // either side — under full-key placement this plan was impossible
    // (a fact key's rows scattered across shards).
    Seq.tabulate(100)(i => (f"k$i%03d", s"name$i")).toDF("id", "nm")
      .write.dynamo(root, "dim", "id")
    Seq.tabulate(400)(i => (f"k${i % 100}%03d", i.toLong, (i * 7 % 100).toLong))
      .toDF("id", "seq", "amt")
      .write.format("dynamo").option("path", root).option("tableName", "fact")
      .option("hashKey", "id").option("rangeKey", "seq").mode("append").save()
    withConf(
      "spark.sql.catalog.spjfact" -> "graft.sources.dynamo.DynamoCatalog",
      "spark.sql.catalog.spjfact.path" -> root,
      "spark.sql.catalog.spjfact.readPartitions" -> "16",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("spjfact.fact")
        .join(spark.table("spjfact.dim").hint("merge"), "id")
        .select("id", "seq", "amt", "nm")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"fact ⋈ dim on the partition key still shuffles:\n$plan")
      assert(j.count() === 400L)
      val row = j.filter(col("seq") === 123L).collect()
      assert(row.map(r => (r.getString(0), r.getLong(2), r.getString(3))).toSeq ===
        Seq(("k023", (123 * 7 % 100).toLong, "name23")))

      // and a grouped aggregate keyed by the fact's partition key
      // composes: complete pushdown, still no exchange
      val g = spark.table("spjfact.fact").groupBy("id")
        .agg(count(lit(1)).as("n"), sum("amt").as("s"))
      val gPlan = g.queryExecution.executedPlan.toString
      assert(gPlan.contains("PushedGroupBy: [id] (complete)"), gPlan)
      assert(!gPlan.contains("Exchange hashpartitioning"), gPlan)
      assert(g.count() === 100L)
      assert(g.filter(col("id") === "k000").collect().head.getLong(1) === 4L)
    }
  }

  test("binary-keyed co-sharded tables also join shuffle-free") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spj-bin").toString
    Seq.tabulate(100)(i => (f"k$i%03d".getBytes("UTF-8"), i.toLong))
      .toDF("id", "qty").write.dynamo(root, "bl", "id")
    Seq.tabulate(100)(i => (f"k$i%03d".getBytes("UTF-8"), s"c${i % 5}"))
      .toDF("id", "cat").write.dynamo(root, "br", "id")
    withConf(
      "spark.sql.catalog.spjbin" -> "graft.sources.dynamo.DynamoCatalog",
      "spark.sql.catalog.spjbin.path" -> root,
      "spark.sql.catalog.spjbin.readPartitions" -> "16",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("spjbin.bl")
        .join(spark.table("spjbin.br"), "id")
        .select("id", "qty", "cat")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"binary-keyed SPJ still shuffles:\n$plan")
      val rows = j.collect()
      assert(rows.length === 100)
      assert(rows.map(r => (new String(r.getAs[Array[Byte]]("id"), "UTF-8"),
        r.getLong(1))).sortBy(_._1).take(2).toSeq ===
        Seq(("k000", 0L), ("k001", 1L)))
    }
  }

  test("bucket function places binary keys exactly like the store") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import graft.sources.dynamo.{AttrVal, DynamoBucketFunction, LocalKVStore, TableMeta}
    // A binary-keyed table reports KeyGroupedPartitioning like any
    // other; a plan that EVALUATES the bucket function (e.g. v2
    // bucketing shuffling the mismatched side) must land rows on the
    // same shard the store files use, or SPJ would silently mis-join.
    val bound = DynamoBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("k", BinaryType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Int]]
    val store = new LocalKVStore(Files.createTempDirectory("graft-bin").toString)
    val meta = TableMeta(hashKey = "k", rangeKey = None, shards = 16, throughput = 100L)
    Seq[Array[Byte]](Array(0, 1, 2), Array(-128, 127), Array(), Array(42))
      .foreach { bytes =>
        val expected = store.shardOf(meta, Map("k" -> AttrVal.B(bytes)))
        val got = bound.produceResult(
          new GenericInternalRow(Array[Any](16, bytes)))
        assert(got === expected, s"bytes ${bytes.toSeq}")
      }
  }

  test("ALTER TABLE add/drop column is metadata-only on the schemaless store") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-alter").toString
    Seq(("a", 1L), ("b", 2L)).toDF("id", "qty").write.dynamo(root, "alt", "id")
    withConf(
      "spark.sql.catalog.altcat" -> "graft.sources.dynamo.DynamoCatalog",
      "spark.sql.catalog.altcat.path" -> root) {
      spark.sql("ALTER TABLE altcat.alt ADD COLUMN note STRING")
      // existing items lack the attribute → read as null
      val rows = spark.table("altcat.alt").orderBy("id").collect()
      assert(rows.map(_.schema.fieldNames.toSeq).head === Seq("id", "qty", "note"))
      assert(rows.forall(_.isNullAt(2)))
      // new writes can carry it
      Seq(("c", 3L, "hello")).toDF("id", "qty", "note")
        .write.format("dynamo").option("path", root).option("tableName", "alt")
        .mode("append").save()
      assert(spark.table("altcat.alt").filter(col("id") === "c")
        .head.getString(2) === "hello")
      // drop hides the attribute without touching data
      spark.sql("ALTER TABLE altcat.alt DROP COLUMN note")
      assert(spark.table("altcat.alt").schema.fieldNames.toSeq === Seq("id", "qty"))
      // a re-add exposes the stored attribute again (metadata-only)
      spark.sql("ALTER TABLE altcat.alt ADD COLUMN note STRING")
      assert(spark.table("altcat.alt").filter(col("id") === "c")
        .head.getString(2) === "hello")
      // rejected: key drop, rename, type change
      intercept[Exception](spark.sql("ALTER TABLE altcat.alt DROP COLUMN id"))
      intercept[Exception](spark.sql("ALTER TABLE altcat.alt RENAME COLUMN qty TO q"))
      intercept[Exception](spark.sql("ALTER TABLE altcat.alt ALTER COLUMN qty TYPE STRING"))
    }
  }

  test("catalog DDL + path-based reads fall back gracefully") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spj2").toString
    withConf(
      "spark.sql.catalog.spjddl" -> "graft.sources.dynamo.DynamoCatalog",
      "spark.sql.catalog.spjddl.path" -> root,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // DDL through the catalog, data through the path-based writer;
      // PARTITIONED BY bucket(n, key) maps onto the store's shard count
      spark.sql(
        """CREATE TABLE spjddl.small (id STRING, qty BIGINT)
          |PARTITIONED BY (bucket(8, id))
          |TBLPROPERTIES ('hashKey'='id')""".stripMargin)
      assert(new graft.sources.dynamo.LocalKVStore(root)
        .describe("small").shards === 8)
      // the DDL-declared schema is authoritative even before any write
      assert(spark.table("spjddl.small").schema.fieldNames.toSeq ===
        Seq("id", "qty"))
      assert(spark.table("spjddl.small").count() === 0L)
      Seq(("a", 1L), ("b", 2L)).toDF("id", "qty").write
        .format("dynamo").option("path", root).option("tableName", "small")
        .mode("append").save()
      assert(spark.sql("SHOW TABLES IN spjddl").collect()
        .map(_.getAs[String]("tableName")).contains("small"))

      // merged-segment scan (tiny table, no readPartitions): the scan
      // must NOT claim a bucket layout it no longer exposes — the join
      // plans with whatever exchange it needs and stays correct
      val d = spark.table("spjddl.small")
      val j = d.as("x").join(d.as("y"), "id").select(col("id"), col("x.qty"))
      assert(j.count() === 2L)
      assert(spark.table("spjddl.small").count() === 2L)

      spark.sql("DROP TABLE spjddl.small")
      assert(!new graft.sources.dynamo.LocalKVStore(root).exists("small"))
    }
  }
}
