package graft.sources.dynamo

import org.apache.spark.sql.sources.Filter

import graft.sources.dynamo.ItemJson.Item

/** The executor item path every batch reader draws from: one
  * partition's visible, filter-passing items, in store order.
  *
  *  1. The partition's wire items: none for an SPJ pad partition
  *     (it exists only to keep the shard layout visible to planning,
  *     see [[DynamoScan.planInputPartitions]]); otherwise the base +
  *     journal merge, or the materialized index copy when planning
  *     chose it, read over the pushed filters' `Query`-shape page
  *     window.
  *  1. Each item post-pays its read capacity into the partition's
  *     budget, like the reference acquiring each page's
  *     `ConsumedCapacity`.
  *  1. Pushed TABLESAMPLE, then TTL and the index view
  *     ([[Ttl.visibleItem]]).
  *  1. The pushed v1 filters and v2 residue, before any decode
  *     (DynamoDB FilterExpression semantics: they save decode, not
  *     storage I/O).
  *
  * `scanned` counts wire items read, `filtered` the ones steps 3–4
  * dropped: the scan's `itemsScanned`/`itemsFiltered` UI metrics. No
  * store I/O happens before the first `hasNext`, and each `hasNext`
  * reads only up to the next passing item, so a reader that stops
  * pulling (a pushed limit) stops the store read.
  */
final class ItemSource(
    opts: DynamoOptions,
    pushed: Array[Filter],
    adv: Seq[PredicateV2.VPred],
    sample: Option[PushedSample],
    partition: DynamoInputPartition)
    extends Iterator[Item] {

  val store = new LocalKVStore(opts.path)
  lazy val meta: TableMeta = store.describe(opts.tableName)

  private val limiter = new RateLimiter(partition.ratePerSegment)
  // Eventually-consistent reads cost half an RCU per 4 KB, like DynamoDB.
  private val consistencyFactor = if (opts.stronglyConsistentReads) 1.0 else 0.5

  // One clock per partition: every item sees the same expiry cutoff.
  private val ttlNow = Ttl.now(opts)

  /** Index view (A8): sparse-skip + projection applied before filters,
    * so pushed predicates see exactly the attributes the index exposes
    * (DynamoDB evaluates index-scan filters on projected attrs too).
    * LOCAL index: the projection is cleared — a base-path LSI read
    * fetches non-projected attributes from the co-located base item
    * (DynamoDB LSI semantics; filters may name them too). Copy-served
    * items arrive pre-projected, so the wider view is idempotent on
    * them; the sparse rule (all index keys present) still applies.
    */
  private lazy val index: Option[(TableMeta, IndexMeta)] = opts.indexName.map { ix =>
    val im = meta.indexes.getOrElse(ix,
      throw new IllegalArgumentException(s"no index '$ix' on ${opts.tableName}"))
    (meta, if (im.local) im.copy(projection = None) else im)
  }

  // Pushed-TABLESAMPLE membership, decided on the BASE item's
  // canonical primary key (pre-index-projection — a GSI view samples
  // the same items its base table would). Key-only, so it commutes
  // with every pushed/runtime filter; see [[PushedSample]].
  private val inSample: Item => Boolean = sample match {
    case Some(s) => it => s.keeps(store.keyOf(meta, it))
    case None => _ => true
  }

  private lazy val wire: Iterator[(Item, Int)] =
    if (partition.padEmpty) Iterator.empty
    else ItemSource.partitionItems(store, opts, partition,
      ItemSource.queryWindow(meta, opts, pushed, partition.viaIndex))

  var scanned = 0L
  var filtered = 0L
  /** Wire byte size of the item [[next]] last returned — what it charged. */
  var wireSize = 0
  private var pending: Item = _

  override def hasNext: Boolean = {
    while (pending == null && wire.hasNext) {
      val (item0, sz) = wire.next()
      scanned += 1
      limiter.acquire(sz.toDouble / opts.bytesPerRCU * consistencyFactor)
      val visible =
        if (inSample(item0)) Ttl.visibleItem(opts, ttlNow, index, store)(item0) else None
      visible match {
        case Some(it) if pushed.forall(FilterEval.eval(_, it)) &&
            adv.forall(PredicateV2.eval(_, it)) =>
          pending = it
          wireSize = sz
        case _ => filtered += 1
      }
    }
    pending != null
  }

  override def next(): Item = {
    if (!hasNext) throw new NoSuchElementException
    val it = pending
    pending = null
    it
  }

  def metrics: Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ScanMetrics.task(scanned, filtered)
}

object ItemSource {
  /** The whole table as one partition (segment 0 of 1), drawing on
    * the table's read budget split `budgetShare` ways.
    */
  def wholeTable(opts: DynamoOptions, pushed: Array[Filter],
      adv: Seq[PredicateV2.VPred], budgetShare: Int = 1): ItemSource = {
    val rate = DynamoScan.partitionRate(opts,
      new LocalKVStore(opts.path).describe(opts.tableName), budgetShare)
    new ItemSource(opts, pushed, adv, None, DynamoInputPartition(0, 1, rate))
  }

  /** The partition's wire items: the base merged view, or the table's
    * materialized index copy when planning chose it
    * (`partition.viaIndex` — items arrive pre-projected, and
    * [[Ttl.visibleItem]]'s projection is idempotent on them).
    */
  private def partitionItems(store: LocalKVStore, opts: DynamoOptions,
      partition: DynamoInputPartition,
      windows: Seq[PageIndex.KeyWindow]): Iterator[(Item, Int)] =
    if (partition.viaIndex && partition.deltaFiles.nonEmpty)
      store.scanIndexSegmentDelta(opts.tableName, opts.indexName.get,
        partition.segment, partition.totalSegments, partition.deltaFiles,
        imageWal = partition.pinnedWal.map(_.toSet),
        journalRounds = partition.journalFiles)
    else if (partition.viaIndex)
      store.scanIndexSegment(opts.tableName, opts.indexName.get,
        partition.segment, partition.totalSegments,
        windows = windows,
        journalRounds = partition.journalFiles)
    else
      store.scanSegment(opts.tableName, partition.segment,
        partition.totalSegments, opts.asOfSeq,
        allowedWal = partition.pinnedWal.map(_.toSet),
        // windows reaching a base read were derived in TABLE-key
        // space ([[queryWindow]]'s `viaIndex = false` contract: base
        // windows for plain reads and LOCAL-index fallbacks, Nil for
        // a GSI fallback whose pins live in index-key space)
        windows = windows)

  /** The `Query`-shape page window for the partition's OWN key space,
    * or Nil. `viaIndex = true` (materialized-copy read): windows on
    * the INDEX keys — the copy is sorted by (index hash, index sort).
    * `viaIndex = false` (base read): windows on the TABLE keys,
    * derived for plain reads AND for a LOCAL index's base-path serve
    * — an LSI's hash pins ARE table-partition pins, so the owning
    * hash group's pages bound the read (DynamoDB's LSI Query cost:
    * O(one partition's matching items), even under
    * `stronglyConsistentReads`); conditions on the ALTERNATE sort key
    * are not positional in base pages and derive no bound. A GSI
    * base fallback gets Nil (its pins are index-key-space claims).
    * A hash-only table's windows pin the hash value alone (its pages
    * carry no sort bounds, see [[PageIndex.NoSortKey]]).
    * Purely an I/O skip either way: every emitted item still passes
    * through the same filter evaluation.
    */
  private def queryWindow(meta: TableMeta, opts: DynamoOptions,
      pushed: Array[Filter], viaIndex: Boolean): Seq[PageIndex.KeyWindow] =
    opts.indexName match {
      case Some(ixName) if viaIndex =>
        meta.indexes.get(ixName).toSeq.flatMap(ix =>
          ix.rangeKey.toSeq.flatMap(rk =>
            PageIndex.deriveWindows(pushed.toSeq, ix.hashKey, rk)))
      case Some(ixName) =>
        if (meta.layout < 2 ||
            !meta.indexes.get(ixName).exists(ix =>
              ix.local && ix.hashKey == meta.hashKey)) Nil
        else meta.rangeKey.toSeq.flatMap(rk =>
          PageIndex.deriveWindows(pushed.toSeq, meta.hashKey, rk))
      case None =>
        if (meta.layout < 2) Nil
        else PageIndex.deriveWindows(pushed.toSeq, meta.hashKey, meta.rangeKey)
    }
}

/** DynamoDB TTL semantics (a service-level feature the connector
  * surfaces as a read option): with `ttlAttribute` set, an item whose
  * attribute holds a number <= the scan's epoch-second clock is
  * expired and hidden from batch reads — the service deletes expired
  * items lazily (up to ~48 h later), so correct readers filter.
  * Missing or non-numeric attributes never expire an item, and the
  * CDC journal keeps full history (TTL is a read-view concern, not a
  * log rewrite). `ttlNow` pins the clock for reproducible reads.
  */
private object Ttl {
  def now(opts: DynamoOptions): Long =
    opts.ttlNow.getOrElse(System.currentTimeMillis() / 1000)

  // DynamoDB expires items whose attribute is STRICTLY LESS than the
  // current epoch time, so an item stamped exactly `now` is still alive.
  def alive(opts: DynamoOptions, nowEpochS: Long)(item: Item): Boolean =
    opts.ttlAttribute.forall { attr =>
      item.get(attr) match {
        case Some(AttrVal.N(v)) => v >= BigDecimal(nowEpochS)
        case _ => true
      }
    }

  /** The visibility rule of [[ItemSource]] — TTL checks the BASE item
    * BEFORE any index projection (a projection may omit the ttl
    * attribute, and DynamoDB expires index entries with their table
    * item regardless of projection).
    */
  def visibleItem(
      opts: DynamoOptions, nowEpochS: Long,
      index: Option[(TableMeta, IndexMeta)], store: LocalKVStore)(
      item0: Item): Option[Item] =
    if (!alive(opts, nowEpochS)(item0)) None
    else index match {
      case None => Some(item0)
      case Some((meta, ix)) => store.indexView(meta, ix, item0)
    }
}
