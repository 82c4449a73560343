package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{count, expr, lit, max, sum}

import graft.sources.dynamo.{Codec, ItemJson, LocalKVStore}

/** bulk_etl: the connector's bulk lifecycle on `orders`, one fresh
  * table per cycle: ingest, a scan of the journal-only table,
  * compaction, base scans, pushed GROUP BY o_custkey aggregates, an
  * update burst through the `update=true` sink, and scans that merge
  * base and journal. Set-up runs `Setups` cycles on a slice of the
  * inputs. Each cycle also tries to ingest a fixed slice of `orders`
  * whose o_orderdate is TIMESTAMP_NTZ, which the connector cannot map
  * today: that operation is counted as attempted and failed, and kept
  * out of every other figure.
  */
object BulkEtl {
  private val MOD = 1000000007L
  /** Same expression as `gen.ROW_CHECKSUM`; no connector pushes it. */
  private val RowChecksum = expr(
    "((o_orderkey + 1) * ((o_custkey * 5 " +
      "+ CAST(round(o_totalprice * 100) AS BIGINT) * 7 + ascii(o_orderstatus) * 11 " +
      "+ CAST(conv(substr(md5(o_comment), 1, 8), 16, 10) AS BIGINT) * 13 " +
      "+ CAST(conv(substr(md5(o_orderpriority), 1, 8), 16, 10) AS BIGINT) * 17 " +
      s"+ (o_orderdate div 1000000) * 19) % $MOD)) % $MOD")
  /** Steps that change the table run once per cycle, each read step
    * `Reads` times.
    */
  private val Reads = 2
  private val WarmRows = 5000
  private val Setups = 3
  private val Kinds =
    Seq("ingest", "journal_scan", "compact", "scan", "agg", "update_burst", "merge_scan")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val in = ctx.inputDir
    val root = s"${ctx.runDir}/store"
    val store = new LocalKVStore(root)
    val exp: Map[String, Long] = {
      val src = Source.fromFile(s"$in/expected.tsv", "UTF-8")
      try src.getLines().map(_.split("\t")).map(f => f(0) -> f(1).toLong).toMap
      finally src.close()
    }
    val ordersAll = spark.read.parquet(s"$in/orders.parquet")
    val updatesAll = spark.read.parquet(s"$in/updates.parquet")
    val ntz = spark.read.parquet(s"$in/orders_ntz.parquet")

    val lat = mutable.LinkedHashMap(Kinds.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val passS = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layerAcc = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def note(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]],
        k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

    /** One cycle. A set-up cycle runs every step on a slice of the
      * inputs, unchecked.
      */
    def cycle(c: Int, record: Boolean): Unit = {
      val (orders, updates) =
        if (record) (ordersAll, updatesAll)
        else (ordersAll.limit(WarmRows), updatesAll.limit(WarmRows / 10))
      val t = s"orders_$c"
      val cycleStart = System.nanoTime()
      def step[A](kind: String)(body: => A): A = {
        ctx.tracer.newOp()
        ctx.attempted += 1
        val t0 = System.nanoTime()
        val out = ctx.tracer.span(s"op.$kind")(body)
        if (record) lat(kind) += Stats.ms(t0)
        out
      }
      def scan(kind: String, phase: String): Unit = {
        val (rows, _) = step(kind)(Conn.collect(ctx, kind)(
          Conn.read(spark, root, t).agg(count(lit(1)), sum(RowChecksum))))
        val n = rows.head.getLong(0)
        if (record) note(rates, s"${kind}_items_per_s", n / (lat(kind).last / 1000))
        if (record && ctx.traced && kind == "journal_scan")
          note(layerAcc, "connector.journal_scan_items_per_s", n / (lat(kind).last / 1000))
        if (record) ctx.check(n == exp(s"$phase.rows") && rows.head.getLong(1) == exp(s"$phase.checksum"),
          s"cycle $c $kind: ${rows.head} != ${exp(s"$phase.rows")},${exp(s"$phase.checksum")}")
      }

      step("ingest")(Conn.write(ctx, orders, root, t, "o_custkey", Some("o_orderkey")))
      if (record) note(rates, "ingest_items_per_s", exp("base.rows") / (lat("ingest").last / 1000))
      val (walFiles, walBytes) = Conn.journal(root, t)
      (1 to Reads).foreach(_ => scan("journal_scan", "base"))
      step("compact")(Conn.compact(ctx, root, t))
      if (record) note(rates, "bytes_per_user_byte", store.sizeBytes(t).toDouble / exp("user_bytes"))
      (1 to Reads).foreach(_ => scan("scan", "base"))
      if (ctx.traced && record) codecProbe(ctx, store, root, t, layerAcc)
      (1 to Reads).foreach { _ =>
        val (rows, scanned) = step("agg")(Conn.collect(ctx, "agg")(
          Conn.read(spark, root, t).groupBy("o_custkey").agg(
            count(lit(1)).as("cnt"), sum("o_totalprice").as("total"),
            max("o_orderkey").as("maxkey"))))
        if (record && ctx.traced) note(layerAcc, "connector.agg_items_scanned", scanned._1.toDouble)
        val digest = rows.map { r =>
          (r.getLong(0) * 1000003L + r.getLong(1) * 101L +
            math.round(r.getDouble(2) * 100) * 7L + r.getLong(3) * 13L) % MOD
        }.sum
        if (record) ctx.check(rows.length == exp("base.agg_groups") && digest == exp("base.agg_digest"),
          s"cycle $c agg: ${rows.length} groups, digest $digest")
      }
      step("update_burst")(Conn.write(ctx, updates, root, t, "o_custkey",
        Some("o_orderkey"), Map("update" -> "true")))
      val (mergeFiles, mergeBytes) = Conn.journal(root, t)
      (1 to Reads).foreach(_ => scan("merge_scan", "merged"))
      if (record) passS += (System.nanoTime() - cycleStart) / 1e9

      // the TIMESTAMP_NTZ ingest: expected to fail, timed on its own
      ctx.tracer.newOp()
      ctx.attempted += 1
      val t0 = System.nanoTime()
      try {
        ctx.tracer.span("op.ntz_ingest")(
          Conn.write(ctx, ntz, root, s"ntz_$c", "o_custkey", Some("o_orderkey")))
      } catch {
        case e: Exception if rootCause(e).isInstanceOf[UnsupportedOperationException] =>
          ctx.failed += 1
      }
      if (record) note(rates, "ntz_ingest_ms", Stats.ms(t0))

      if (record && ctx.traced) {
        note(layerAcc, "connector.wal_files_per_ingest", walFiles)
        note(layerAcc, "store.journal_files_peak", walFiles)
        note(layerAcc, "store.journal_bytes_peak", walBytes.toDouble)
        note(layerAcc, "store.write_bytes_per_user_byte", walBytes.toDouble / exp("user_bytes"))
        note(layerAcc, "store.journal_files_merge", mergeFiles)
        note(layerAcc, "store.journal_bytes_merge", mergeBytes.toDouble)
      }
      Seq(t, s"ntz_$c").foreach(x => Conn.deleteTree(Paths.get(root, x)))
    }

    val setupS = (1 to Setups).map { _ =>
      val t0 = System.nanoTime()
      cycle(0, record = false)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.startTimed()
    val codegen0 = KvPoint.codegenNs()
    (1 to ctx.rounds).foreach(cycle(_, record = true))

    val ops = lat.values.map(_.size).sum
    ctx.reportCommon(setupS, ops, lat.toSeq.map { case (k, v) => k -> v.toSeq }, passS.toSeq)
    rates.foreach { case (k, v) => ctx.detail(k) = Stats.median(v.toSeq) }

    if (ctx.traced) {
      layerAcc.foreach { case (k, v) => ctx.layer(k) = Stats.median(v.toSeq) }
      val ingests = ctx.tracer.named("op.ingest")
      ctx.layer("connector.write_tasks") =
        ctx.tracer.tasksUnder(ingests).tasks / math.max(ingests.size, 1).toDouble
      ctx.layer("queries.codegen_compile_ms") = (KvPoint.codegenNs() - codegen0) / 1e6 / ops
      ctx.layer ++= Conn.compactionLayer(ctx)
    }
  }

  /** Traced only: the store's segment scan and the item codec, called
    * directly on the compacted table, each over every item.
    */
  private def codecProbe(ctx: Ctx, store: LocalKVStore, root: String, t: String,
      acc: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]): Unit = {
    def rate(k: String, n: Int)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      ctx.tracer.span(k)(body)
      acc.getOrElseUpdate(s"${k}_items_per_s", mutable.ArrayBuffer.empty) +=
        n / ((System.nanoTime() - t0) / 1e9)
    }
    ctx.tracer.newOp()
    val shards = store.describe(t).shards
    val items = mutable.ArrayBuffer.empty[ItemJson.Item]
    val t0 = System.nanoTime()
    ctx.tracer.span("store.scan_segment")((0 until shards).foreach(s =>
      store.scanSegment(t, s, shards).foreach(items += _._1)))
    acc.getOrElseUpdate("store.scan_segment_items_per_s", mutable.ArrayBuffer.empty) +=
      items.size / ((System.nanoTime() - t0) / 1e9)
    val lines = items.map(ItemJson.write)
    rate("codec.parse", lines.size)(lines.foreach(ItemJson.parse))
    val schema = Conn.read(ctx.spark, root, t).schema
    val reader = Codec.rowReader(schema)
    val rows = mutable.ArrayBuffer.empty[InternalRow]
    rate("codec.decode", items.size)(items.foreach(it => rows += reader(it)))
    val writer = Codec.rowWriter(schema)
    rate("codec.encode", rows.size)(rows.foreach(r => ItemJson.write(writer(r))))
  }

  private def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || e.getCause == e) e else rootCause(e.getCause)
}
