package graft.sources.dynamo

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.sources.dynamo.ItemJson.Item

/** One side of a pushed two-table join (`SupportsPushDownJoin`,
  * Spark 4.1): which table to read, the filters Spark already pushed
  * into that side's builder BEFORE the join negotiation (they apply to
  * the side's RAW items, below the join), and the (source column →
  * output alias) projection the joined relation exposes for it.
  */
final case class PushedJoinSide(
    opts: DynamoOptions,
    pushed: Array[Filter],
    adv: Seq[PredicateV2.VPred],
    cols: Seq[(String, String)]) extends Serializable {
  def describe: String =
    s"${opts.tableName}(${cols.map { case (c, a) =>
      if (c == a) c else s"$c AS $a" }.mkString(", ")})"
}

/** A join absorbed into the left scan: both sides live in the SAME
  * store, the join type is INNER, LEFT OUTER, or RIGHT OUTER (`outer`
  * — unmatched probe rows null-extend; a RIGHT OUTER arrives here
  * side-swapped, so `left` is ALWAYS the probe), and the condition
  * translated exactly through [[PredicateV2.translate]] against the
  * ALIASED joined schema (Spark rewrites the condition onto the
  * aliased output before pushing). Anything else was declined at
  * negotiation.
  */
final case class PushedJoinSpec(
    left: PushedJoinSide,
    right: PushedJoinSide,
    cond: Either[Filter, PredicateV2.VPred],
    joinedSchema: StructType,
    outer: Boolean = false) extends Serializable {

  /** Aliased (left, right, type) column pairs the condition constrains
    * by EQUALITY — the hash-join keys. Collected from `=` conjuncts of
    * column-vs-column shape with MATCHING evaluation types (a
    * cross-type `=` would carry casts and never parse as plain
    * VCol=VCol); the FULL condition is still re-evaluated on every
    * merged candidate, so the pairs only need a sound subset property:
    * hashing can never drop a matching pair. That holds because the
    * hash keys are the TYPED values ([[PredicateV2.typedValue]] — the
    * same coercion the `=` evaluation applies), not raw stored
    * AttrVals, which can differ (N(1) vs N(1.0) under LongType) for
    * values the compare calls equal.
    */
  def equiKeys: Seq[(String, String, org.apache.spark.sql.types.DataType)] = {
    val leftAliases = left.cols.map(_._2).toSet
    val rightAliases = right.cols.map(_._2).toSet
    def walk(p: PredicateV2.VPred): Seq[(String, String, org.apache.spark.sql.types.DataType)] =
      p match {
        case PredicateV2.VAnd(l, r) => walk(l) ++ walk(r)
        case PredicateV2.VCmp("=",
            PredicateV2.VCol(a, dta), PredicateV2.VCol(b, dtb)) if dta == dtb =>
          if (leftAliases(a) && rightAliases(b)) Seq((a, b, dta))
          else if (leftAliases(b) && rightAliases(a)) Seq((b, a, dta))
          else Nil
        case _ => Nil
      }
    cond.fold(_ => Nil, walk)
  }

  def describe: String = {
    val c = cond.fold(_.toString, _.toString)
    val jt = if (outer) "LEFT OUTER JOIN" else "INNER JOIN"
    s"${left.describe} $jt ${right.describe} ON $c"
  }
}

/** The pushed-join scan: Spark removed its Join operator, so this scan
  * IS the join. Partitioning follows the LEFT (probe) side's segment
  * plan — the scale shape of a fact ⋈ dim join: each task streams its
  * own left segment and builds a hash table of the (size-bounded,
  * filtered) right table, exactly a broadcast-hash join with the
  * build side read store-side instead of shipped from the driver.
  * Negotiation bounds the build: the right table's stored size must
  * not exceed `joinBuildMaxBytes` (option, default 64 MB), so the
  * per-task build is dimension-sized at any left-table scale.
  */
final class DynamoJoinScan(
    spec: PushedJoinSpec,
    schema: StructType,
    postFilters: Array[Filter],
    postAdv: Seq[PredicateV2.VPred],
    aggs: Seq[PushedAgg] = Nil,
    grouped: Option[PushedGroupBy] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning {

  // An aggregate pushed OVER the join: ungrouped, each task folds its
  // merged rows into one partial row (Spark folds the partials);
  // grouped, each task ships per-group partial rows (group cols first,
  // aggregates after — Spark consumes positionally and re-aggregates).
  override def readSchema(): StructType = grouped match {
    case Some(g) =>
      StructType(g.fields ++ aggs.zipWithIndex.map { case (a, i) => a.resultField(i) })
    case None if aggs.nonEmpty =>
      StructType(aggs.zipWithIndex.map { case (a, i) => a.resultField(i) })
    case None => schema
  }

  override def description(): String =
    s"dynamo-join PushedJoin: [${spec.describe}], " +
      (if (postFilters.nonEmpty || postAdv.nonEmpty)
        s"PostJoinFilters: [${(postFilters.map(_.toString) ++
          postAdv.map(_.toString)).mkString(", ")}], "
      else "") +
      grouped.map(g =>
        s"PushedGroupBy: [${g.fields.map(_.name).mkString(", ")}] " +
          s"(${if (g.complete) "complete" else "partial"}), ")
        .getOrElse("") +
      (if (aggs.nonEmpty)
        s"PushedAggregates: [${aggs.mkString(", ")}], "
      else "") +
      s"ReadSchema: ${readSchema().catalogString}"

  override def toBatch: Batch = this

  // Inner join with a dimension-sized right side: the probe side
  // dominates, so report its stored size (join planning above this
  // scan sees a sane magnitude).
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes =
      new LocalKVStore(spec.left.opts.path).sizeBytes(spec.left.opts.tableName)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  // Delegate probe-side planning to the plain scan: its keyShards
  // pruning applies unchanged — a pushed hash-key filter on the left
  // side plans ONE shard's segment (point-lookup join), not a full
  // sweep; rate splitting and segment arithmetic stay in one place.
  // The delegate's schema carries the probe placement columns so ITS
  // per-shard check (and the SPJ pad rule) agrees with the layout
  // this scan reports — one source of truth for both.
  private lazy val probeScan: DynamoScan = {
    val meta = new LocalKVStore(spec.left.opts.path)
      .describe(spec.left.opts.tableName)
    val placement = StructType(DynamoScan.placementCols(meta).map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    new DynamoScan(spec.left.opts, placement, spec.left.pushed,
      adv = spec.left.adv)
  }

  override def planInputPartitions(): Array[InputPartition] =
    probeScan.planInputPartitions()

  /** Shard-locality SURVIVES the pushed join on the probe side: every
    * merged (or null-extended) output row rides the probe row that
    * produced it, inside that row's shard segment. So when the probe
    * scan reports the bucket layout, this scan re-reports it in the
    * JOIN's alias space. Falls back to Unknown when a placement
    * column wasn't projected, or when the output rows are no longer
    * probe-keyed (ungrouped aggregate partials; grouped partials
    * whose grouping does not cover the placement aliases —
    * `PushedGroupBy.keyed` encodes exactly that).
    *
    * Upstream caveat (Spark 4.1): `V2ScanPartitioningAndOrdering`
    * converts a reported partitioning by resolving its references
    * against the INNER `DataSourceV2Relation` and then requiring the
    * result to reference the scan relation's output — but a
    * join-pushed scan relation is rebuilt with FRESH attribute ids
    * (`toAttributes(readSchema)` plus an aliasing Project), so the id
    * subset check cannot pass and the report is ignored. The
    * exchange-elision that matters TODAY therefore comes from the
    * COMPLETE grouped push ([[DynamoScanBuilder.supportCompletePushDown]]
    * over a join) rather than from this declaration; the declaration
    * stays so the layout lights up under a Spark that resolves
    * against the scan relation's own output.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val meta = new LocalKVStore(spec.left.opts.path)
      .describe(spec.left.opts.tableName)
    val aliasOf = spec.left.cols.toMap
    val mapped = DynamoScan.placementCols(meta).map(aliasOf.get)
    val aliased = mapped.flatten
    val stillKeyed = grouped match {
      case Some(g) => g.keyed
      case None => aggs.isEmpty
    }
    probeScan.outputPartitioning() match {
      case kg: KeyGroupedPartitioning
          if stillKeyed && mapped.forall(_.isDefined) &&
            aliased.forall(readSchema().fieldNames.contains) =>
        new KeyGroupedPartitioning(
          Array[org.apache.spark.sql.connector.expressions.Expression](
            org.apache.spark.sql.connector.expressions.Expressions
              .bucket(meta.shards, aliased: _*)),
          kg.numPartitions())
      case kg: KeyGroupedPartitioning => new UnknownPartitioning(kg.numPartitions())
      case other => other
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DynamoJoinReaderFactory(spec, schema, postFilters, postAdv, aggs, grouped)

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ScanMetrics.ItemsScanned, new ScanMetrics.ItemsFiltered)
}

final class DynamoJoinReaderFactory(
    spec: PushedJoinSpec, schema: StructType,
    postFilters: Array[Filter], postAdv: Seq[PredicateV2.VPred],
    aggs: Seq[PushedAgg] = Nil,
    grouped: Option[PushedGroupBy] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DynamoJoinReader(spec, schema, postFilters, postAdv,
      partition.asInstanceOf[DynamoInputPartition], aggs, grouped)
}

/** Executor-side join task: hash-build the filtered right table, then
  * stream this task's left segment through it. Both sides read through
  * [[ItemSource]], so right items that fail their side's pushed filters
  * or TTL visibility never enter the map; merged candidates re-evaluate
  * the FULL join condition (hash keys are a sound subset, see
  * [[PushedJoinSpec.equiKeys]]) and then the post-join pushed filters.
  */
final class DynamoJoinReader(
    spec: PushedJoinSpec,
    schema: StructType,
    postFilters: Array[Filter],
    postAdv: Seq[PredicateV2.VPred],
    partition: DynamoInputPartition,
    aggs: Seq[PushedAgg] = Nil,
    grouped: Option[PushedGroupBy] = None)
    extends PartitionReader[InternalRow] {

  private lazy val decode = Codec.rowReader(schema)

  /** Rename a raw item into the join's alias space, keeping only the
    * side's projected columns; absent attributes stay absent.
    */
  private def project(it: Item, cols: Seq[(String, String)]): Item =
    cols.flatMap { case (c, a) => it.get(c).map(a -> _) }.toMap

  private val keys = spec.equiKeys

  /** TYPED equi-key of a projected item (left side reads the left
    * alias, right the right) — None when any key attr is missing,
    * null, or uncoercible: such a row can never satisfy `=`.
    */
  private def keyOf(it: Item, leftSide: Boolean): Option[Seq[Any]] = {
    val vs = keys.map { case (lc, rc, dt) =>
      PredicateV2.typedValue(it, if (leftSide) lc else rc, dt) }
    if (vs.forall(_.isDefined)) Some(vs.map(v => AggAccs.normKey(v.get))) else None
  }

  private val probe = new ItemSource(spec.left.opts, spec.left.pushed, spec.left.adv,
    None, partition)
  // Build side: the whole (filtered) right table, read once the first
  // probe item survives its side's filters. Its read budget divides by
  // the probe task count, like any other concurrent reader of a table
  // (totalSegments tasks each run this build).
  private lazy val build = ItemSource.wholeTable(spec.right.opts, spec.right.pushed,
    spec.right.adv, budgetShare = math.max(1, partition.totalSegments))
  private var built = false
  // probe items whose every join candidate was dropped
  private var unmatched = 0L

  // Hashed on the typed equi keys — or a flat vector when the condition
  // has none (rare; the nested-loop fallback is still bounded by
  // joinBuildMaxBytes).
  private lazy val (rightByKey, rightAll) = {
    built = true
    val rows = build.map(project(_, spec.right.cols)).toVector
    if (keys.isEmpty) (Map.empty[Seq[Any], Vector[Item]], rows)
    else {
      val m = rows.flatMap(it => keyOf(it, leftSide = false).map(_ -> it))
        .groupMap(_._1)(_._2)
      (m, Vector.empty[Item])
    }
  }

  /** One element per surviving probe row: that row's merged output
    * rows, in build order — the RUN structure [[joinGroupComplete]]'s
    * finality argument rests on (a group tuple containing the probe
    * primary key can never span two runs).
    */
  private def probeRuns: Iterator[Vector[Item]] =
    probe.flatMap { it0 =>
      val l = project(it0, spec.left.cols)
      val candidates =
        if (keys.isEmpty) rightAll
        else keyOf(l, leftSide = true)
          .map(rightByKey.getOrElse(_, Vector.empty))
          .getOrElse(Vector.empty)
      val merged = candidates
        .map(r => l ++ r)
        .filter(m => spec.cond.fold(FilterEval.eval(_, m), PredicateV2.eval(_, m)))
      // LEFT OUTER: a probe row with no surviving candidate emits
      // once, null-extended (right attrs absent → decode nulls)
      val joinedRows =
        if (spec.outer && merged.isEmpty) Vector(l) else merged
      val out = joinedRows.filter(m =>
        postFilters.forall(FilterEval.eval(_, m)) &&
          postAdv.forall(PredicateV2.eval(_, m)))
      // a probe item whose every candidate was dropped counts as
      // filtered, like a row a pushed filter rejected
      if (out.isEmpty) { unmatched += 1; Iterator.empty }
      else Iterator.single(out)
    }

  private lazy val mergedItems: Iterator[Item] = probeRuns.flatten

  private lazy val fold = new AggAccs.GroupFold(grouped.get.fields, aggs)

  /** Grouped-aggregate-over-join: hash-aggregate this task's merged
    * rows into per-group partial rows, flushing at `maxPushedGroups`
    * (never complete — Spark's final aggregate merges the extra
    * partials), exactly the plain grouped reader's bounded partial
    * mode over joined items.
    */
  private lazy val groupedRows: Iterator[InternalRow] =
    fold.rows(mergedItems, spec.left.opts.maxPushedGroups, complete = false)

  /** COMPLETE grouped-over-join: aggregate each probe run into final
    * group rows — the group tuple carries the probe primary key, so a
    * group never spans runs and per-run results are final (Spark
    * planned no aggregate above this scan). State: one small map per
    * run, bounded by a single key's build-side fan-out, so a run folds
    * whole.
    */
  private lazy val groupedFinalRows: Iterator[InternalRow] =
    probeRuns.flatMap(run => fold.rows(run.iterator, Int.MaxValue, complete = false))

  private var current: InternalRow = _
  private var aggEmitted = false

  override def next(): Boolean =
    if (grouped.isDefined) {
      val it = if (grouped.get.complete) groupedFinalRows else groupedRows
      if (it.hasNext) { current = it.next(); true } else false
    } else if (aggs.nonEmpty) {
      // aggregate-over-join: fold this task's merged rows into ONE
      // partial row (same accumulators as the plain aggregate scan)
      if (aggEmitted) false
      else {
        val accs = AggAccs.make(aggs)
        mergedItems.foreach(m => accs.foreach(_.update(m)))
        current = InternalRow.fromSeq(accs.map(_.result).toSeq)
        aggEmitted = true
        true
      }
    } else if (mergedItems.hasNext) { current = decode(mergedItems.next()); true }
    else false

  override def get(): InternalRow = current

  // itemsScanned counts BOTH sides' wire items (the build read is real
  // I/O); itemsFiltered counts items that contributed nothing — build
  // rows a side filter dropped plus probe rows with no output.
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val sides = if (built) Seq(probe, build) else Seq(probe)
    ScanMetrics.task(sides.map(_.scanned).sum, sides.map(_.filtered).sum + unmatched)
  }

  override def close(): Unit = ()
}
