package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.functions.col

import graft.sources.dynamo.{AttrVal, LocalKVStore, PartiQL}

/** kv_point: one client, closed loop, DynamoDB-style requests against
  * `customer` (hash c_custkey) and `orders` (hash o_custkey, range
  * o_orderkey), seeded through the connector during set-up.
  *
  * The request list comes from `requests.tsv`: warm-up requests (a
  * fixed count per type), then rounds of requests each closed by a
  * compaction of both tables. Set-up (seeding, compaction, warm-up) is
  * done `Setups` times, each on a fresh store root, and the timed
  * rounds run on the last one. Every read reply is compared with the
  * reply `gen.py`'s write model expects.
  */
object KvPoint {
  private val Customer = "customer"
  private val Orders = "orders"
  private val Setups = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    var root = ""
    var store: LocalKVStore = null

    val lines = {
      val src = Source.fromFile(s"${ctx.inputDir}/requests.tsv", "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
      finally src.close()
    }
    val (warm, timed) = lines.partition(_(0) == "warmup")
    val latency = mutable.LinkedHashMap(
      "get" -> mutable.ArrayBuffer.empty[Double],
      "query" -> mutable.ArrayBuffer.empty[Double],
      "update" -> mutable.ArrayBuffer.empty[Double])
    val journalPeak = mutable.ArrayBuffer.empty[(Int, Long)]
    val scannedGet = mutable.LinkedHashMap("getc" -> 0L, "geto" -> 0L)
    var scannedQuery, emittedQuery = 0L
    var opIndex = 0

    def request(f: Array[String], record: Boolean): Unit = {
      opIndex += 1
      ctx.tracer.newOp()
      val kind = f(1)
      if (kind == "compact") {
        Seq(Customer, Orders).foreach { t =>
          journalPeak += Conn.journal(root, t)
          ctx.tracer.span("op.compact")(Conn.compact(ctx, root, t))
        }
        if (ctx.traced) Seq(Customer, Orders).foreach(t => store.compact(probe(t)))
        return
      }
      ctx.attempted += 1
      val t = System.nanoTime()
      val group = kind match {
        case "getc" =>
          val (rows, sc) = ctx.tracer.span("op.get")(
            get(ctx, store, root, Customer, col("c_custkey") === f(2).toLong))
          if (record) scannedGet(kind) += sc._1
          ctx.check(rows.map(Canon.customer).mkString(";") == f(3),
            s"getc ${f(2)}: ${rows.map(Canon.customer).mkString(";")} != ${f(3)}")
          "get"
        case "geto" =>
          val (rows, sc) = ctx.tracer.span("op.get")(
            get(ctx, store, root, Orders,
              col("o_custkey") === f(2).toLong && col("o_orderkey") === f(3).toLong))
          if (record) scannedGet(kind) += sc._1
          ctx.check(Canon.orders(rows) == f(4),
            s"geto ${f(2)}/${f(3)}: ${Canon.orders(rows)} != ${f(4)}")
          "get"
        case "query" =>
          val (rows, sc) = ctx.tracer.span("op.query") {
            if (ctx.traced) probeStore(ctx, store, Orders)
            Conn.collect(ctx, "query")(
              Conn.read(spark, root, Orders).filter(col("o_custkey") === f(2).toLong))
          }
          if (record) { scannedQuery += sc._1; emittedQuery += sc._1 - sc._2 }
          ctx.check(Canon.orders(rows) == f(3),
            s"query ${f(2)}: ${Canon.orders(rows)} != ${f(3)}")
          "query"
        case "updc" =>
          ctx.tracer.span("op.update")(update(ctx, store, root, opIndex, Customer,
            "UPDATE customer SET c_acctbal = ? WHERE c_custkey = ?",
            Seq(num(BigDecimal(f(3).toLong, 2)), num(BigDecimal(f(2).toLong))),
            Map("c_custkey" -> num(BigDecimal(f(2).toLong)))))
          "update"
        case "updo" =>
          ctx.tracer.span("op.update")(update(ctx, store, root, opIndex, Orders,
            "UPDATE orders SET o_orderstatus = ? SET o_totalprice = ? " +
              "WHERE o_custkey = ? AND o_orderkey = ?",
            Seq(AttrVal.S(f(4)), num(BigDecimal(f(5).toLong, 2)),
              num(BigDecimal(f(2).toLong)), num(BigDecimal(f(3).toLong))),
            Map("o_custkey" -> num(BigDecimal(f(2).toLong)),
              "o_orderkey" -> num(BigDecimal(f(3).toLong)))))
          "update"
      }
      if (record) latency(group) += Stats.ms(t)
    }

    // set-up: seed both tables through the connector, compact them and
    // run the warm-up requests, on a fresh root each time
    val setupS = (1 to Setups).map { r =>
      if (r > 1) Conn.deleteTree(Paths.get(root))
      root = s"${ctx.runDir}/store$r"
      store = new LocalKVStore(root)
      val t0 = System.nanoTime()
      Conn.write(ctx, spark.read.parquet(s"${ctx.inputDir}/customer.parquet"),
        root, Customer, "c_custkey", None)
      Conn.write(ctx, spark.read.parquet(s"${ctx.inputDir}/orders.parquet"),
        root, Orders, "o_custkey", Some("o_orderkey"))
      Seq(Customer, Orders).foreach(t => Conn.compact(ctx, root, t))
      if (ctx.traced) Seq(Customer, Orders).foreach(t =>
        store.createTable(probe(t), store.describe(t)))
      warm.foreach(request(_, record = false))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.startTimed()
    val codegen0 = codegenNs()

    // one pass = the requests up to and including the next compaction
    val passS = mutable.ArrayBuffer.empty[Double]
    var passStart = System.nanoTime()
    timed.foreach { f =>
      request(f, record = true)
      if (f(1) == "compact") {
        passS += (System.nanoTime() - passStart) / 1e9
        passStart = System.nanoTime()
      }
    }
    val ops = latency.values.map(_.size).sum
    ctx.reportCommon(setupS, ops, latency.toSeq.map { case (k, v) => k -> v.toSeq },
      passS.toSeq)

    if (ctx.traced) {
      val tr = ctx.tracer
      scannedGet.foreach { case (k, n) =>
        ctx.detail(s"${k}_items_scanned") = n / math.max(timed.count(_(1) == k), 1).toDouble }
      ctx.layer ++= Seq(
        "connector.get_load_ms" -> Stats.median(tr.durationsMs("connector.get_load")),
        "connector.query_load_ms" -> Stats.median(tr.durationsMs("connector.query_load")),
        "connector.get_plan_ms" -> Stats.median(tr.durationsMs("connector.get_plan")),
        "connector.get_exec_ms" -> Stats.median(tr.durationsMs("connector.get_exec")),
        "connector.query_plan_ms" -> Stats.median(tr.durationsMs("connector.query_plan")),
        "connector.query_exec_ms" -> Stats.median(tr.durationsMs("connector.query_exec")),
        "connector.get_items_scanned" ->
          scannedGet.values.sum / math.max(latency("get").size, 1).toDouble,
        "connector.query_items_scanned_per_row" ->
          scannedQuery.toDouble / math.max(emittedQuery, 1L),
        "partiql.parse_us" -> 1000 * Stats.median(tr.durationsMs("partiql.parse")),
        "store.describe_ms" -> Stats.median(tr.durationsMs("store.describe")),
        "store.wal_list_ms" -> Stats.median(tr.durationsMs("store.wal_list")),
        "store.txget_ms" -> Stats.median(tr.durationsMs("store.txget")),
        "store.wal_append_ms" -> Stats.median(tr.durationsMs("store.wal_append")),
        "store.journal_files_peak" -> journalPeak.map(_._1).max.toDouble,
        "store.journal_bytes_peak" -> journalPeak.map(_._2).max.toDouble,
        "queries.codegen_compile_ms" -> (codegenNs() - codegen0) / 1e6 / ops)
      ctx.layer ++= Conn.compactionLayer(ctx)
    }
  }

  private def probe(t: String) = s"probe_$t"

  private def num(v: BigDecimal): AttrVal = AttrVal.N(v)

  def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Traced only: the store calls every read pays before its scan. */
  private def probeStore(ctx: Ctx, store: LocalKVStore, table: String): Unit = {
    ctx.tracer.span("store.describe")(store.describe(table))
    ctx.tracer.span("store.wal_list")(store.walFileNames(table))
  }

  private def get(ctx: Ctx, store: LocalKVStore, root: String, table: String,
      pin: org.apache.spark.sql.Column) = {
    if (ctx.traced) probeStore(ctx, store, table)
    Conn.collect(ctx, "get")(Conn.read(ctx.spark, root, table).filter(pin))
  }

  /** A single-item PartiQL UPDATE. Traced, the parse, the item read the
    * statement does through `transactGet`, and a journal append of the
    * same item into a side table are timed as their own spans first.
    */
  private def update(ctx: Ctx, store: LocalKVStore, root: String, opIndex: Int,
      table: String, stmt: String, params: Seq[AttrVal],
      key: Map[String, AttrVal]): Unit = {
    if (ctx.traced) {
      ctx.tracer.span("partiql.parse")(PartiQL.parse(stmt, params))
      val item = ctx.tracer.span("store.txget")(store.transactGet(table, Seq(key))).head
      item.foreach(it => ctx.tracer.span("store.wal_append")(
        store.appendWal(probe(table), System.currentTimeMillis(),
          s"perfbench-$opIndex", Seq(store.Put(it)))))
    }
    ctx.tracer.span("partiql.execute")(PartiQL.execute(root, stmt, params))
  }
}
