package graft.sources.dynamo

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.{expressions => v2expr}
import org.apache.spark.sql.connector.expressions.{filter => v2filter}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.dynamo.ItemJson.Item

/** Parsed connector options — the reference's README option surface
  * with the AWS endpoint replaced by a `path` pointing at a
  * [[LocalKVStore]] root (offline environment; SURVEY.md §7 M2).
  * [REF: datasource/DefaultSource.scala; README options table]
  */
final case class DynamoOptions(
    path: String,
    tableName: String,
    readPartitions: Option[Int],
    maxPartitionBytes: Long,
    defaultParallelism: Int,
    targetCapacity: Double,
    stronglyConsistentReads: Boolean,
    bytesPerRCU: Int,
    bytesPerWCU: Int,
    filterPushdown: Boolean,
    throughput: Option[Long],
    writeBatchSize: Int,
    update: Boolean,
    updateAction: String,
    delete: Boolean,
    ifNotExists: Boolean,
    ifExists: Boolean,
    ttlAttribute: Option[String],
    ttlNow: Option[Long],
    hashKey: Option[String],
    rangeKey: Option[String],
    shards: Int,
    indexName: Option[String],
    cdc: Boolean,
    startingOffsets: String,
    /** AT_TIMESTAMP start position (epoch ms): the stream's first
      * batch begins at the earliest journal file with pubSeq ≥ this.
      * Mutually exclusive with a non-default `startingOffsets`.
      */
    startingTimestamp: Option[Long],
    /** CDC rows carry a `_seq` column (journal publish sequence,
      * epoch ms) — the Streams SequenceNumber analogue. cdc-only.
      */
    cdcSeq: Boolean,
    cdcGraceMs: Long,
    cdcPendingTmpMs: Long,
    /** Admission control for the CDC/upsert feed: at most this many
      * journal FILES per micro-batch (the file is the unit of work —
      * row counts are unknown before reading). Bounds a backlogged
      * stream's batch size: a feed that fell hours behind catches up
      * in `maxFilesPerTrigger`-sized steps instead of one giant batch
      * that must fit executor memory at once. Unset = all available.
      */
    maxFilesPerTrigger: Option[Int],
    /** Write-side clustering request (`RequiresDistributionAndOrdering`),
      * `off` / `key` / `shard`:
      *  - `key`: cluster the incoming rows by the partition key — all
      *    rows of one key land in one task (DynamoDB's partition
      *    locality), and each task sorts by (hash, range) so journal
      *    records within a file are key-ordered.
      *  - `shard`: cluster by the STORE's own placement bucket
      *    (`bucket(shards, key)` — the same V2 catalog function SPJ
      *    reads with), so a whole shard's rows converge on one task:
      *    the job writes O(shards) journal files instead of
      *    O(tasks × shards). At 1000 executors over 256 shards that is
      *    256 files vs 256k — the difference between a listable journal
      *    and file-system meltdown. Catalog-path writes only (the
      *    `bucket` transform resolves through the table's
      *    FunctionCatalog); path-based writes use `key`.
      * Advisory (`distributionStrictlyRequired = false`): AQE may split
      * a skewed shard's group into several tasks — each still writes
      * only that shard's file(s).
      */
    clusterWrite: String,
    maxPushedGroups: Int,
    /** Zone-map shard pruning (on by default): skip planning segments
      * for shards whose [[ShardStats]] prove a pushed conjunct can
      * never be TRUE there. Purely an optimization — stats are
      * over-approximate by construction and any missing piece
      * disables the skip — but the flag exists so a store with
      * suspect sidecar files can be read with pruning off.
      */
    zonePruning: Boolean,
    /** Size bound for the build (right) side of a pushed join: the
      * negotiation declines when the right table's stored bytes exceed
      * this, keeping every join task's in-memory hash build
      * dimension-sized regardless of probe-side scale.
      */
    joinBuildMaxBytes: Long,
    /** Acceptance bound for DELTA-fresh GSI serves
      * ([[LocalKVStore.IndexDelta]]): a read may serve the
      * materialized index copy plus a journal-delta overlay as long
      * as the delta's total bytes fit this budget — every index task
      * replays the whole delta (any base shard can feed any index
      * shard), so the bound keeps that per-task overhead
      * recent-writes-sized. Bigger deltas fall back to the projected
      * base-scan path (exact, just not index-served). 0 disables the
      * delta tier entirely.
      */
    gsiDeltaMaxBytes: Long,
    /** Snapshot read at a past journal sequence (WAL PITR): the scan
      * replays only journal files published at or before this offset —
      * the same sequence space the CDC feed exposes. Read-only: write
      * and row-level builders reject it. Window reaches back to the
      * last compaction (compaction folds + deletes the journal).
      */
    asOfSeq: Option[Long],
    /** Consistent parallel scan: pin ONE journal-file listing at
      * planning time into every scan partition, so all tasks —
      * including stragglers and RETRIES running long after their
      * siblings — replay the same snapshot. Without it, each task
      * lists the journal when it runs (DynamoDB's eventually-
      * consistent parallel Scan, the default); with it, a concurrent
      * writer can never make a retried task disagree with the
      * partition it replaces, and a multi-segment scan is one
      * consistent cut (an atomic transaction is in the snapshot
      * entirely or not at all — the [[LocalKVStore.transactGet]]
      * argument applied to whole segments).
      */
    consistentScan: Boolean,
    /** Transactional write (`TransactWriteItems` surface), normalized
      * to `off` / `task` / `job` (`true` accepted as `task`):
      *  - `task`: each TASK's ops publish as ONE atomic transaction at
      *    task commit — scans and the change feed observe all of a
      *    task's ops or none, where the default path publishes
      *    per-shard WAL files one rename at a time. Job-level
      *    atomicity across tasks remains non-atomic (A14).
      *  - `job`: tasks STAGE their transaction and the DRIVER
      *    publishes every staged handle only after all tasks
      *    committed — a failing task aborts the whole job with
      *    NOTHING visible, including tasks that already committed.
      *    (Atomic against task failures; a driver crash mid-publish
      *    can still leave a prefix, the classic committer caveat.)
      * Both bound at 100 ops per task (DynamoDB's transaction limit);
      * a bigger partition fails loudly.
      */
    transactional: String = "off") extends Serializable

object DynamoOptions {

  /** The SQL catalog qualifies `path` to a URI (`file:/...`) for
    * DDL-created tables (`CREATE TABLE ... USING dynamo`); the store
    * wants a plain filesystem path.
    */
  private def stripScheme(p: String): String =
    if (!p.startsWith("file:")) p
    else try new java.net.URI(p).getPath catch {
      case _: java.net.URISyntaxException => p.stripPrefix("file:")
    }

  def apply(options: util.Map[String, String]): DynamoOptions = {
    val m = new CaseInsensitiveStringMap(options)
    def opt(k: String): Option[String] = Option(m.get(k))
    DynamoOptions(
      path = opt("path").map(stripScheme).getOrElse(
        throw new IllegalArgumentException("dynamo source requires option 'path' (store root)")),
      tableName = opt("tableName").getOrElse(
        throw new IllegalArgumentException("dynamo source requires option 'tableName'")),
      readPartitions = opt("readPartitions").map(_.toInt),
      maxPartitionBytes = opt("maxPartitionBytes").map(_.toLong).getOrElse(128L * 1024 * 1024),
      defaultParallelism = opt("defaultParallelism").map(_.toInt).getOrElse(32),
      targetCapacity = opt("targetCapacity").map(_.toDouble).getOrElse(1.0),
      stronglyConsistentReads = m.getBoolean("stronglyConsistentReads", false),
      bytesPerRCU = opt("bytesPerRCU").map(_.toInt).getOrElse(4000),
      bytesPerWCU = opt("bytesPerWCU").map(_.toInt).getOrElse(1000),
      filterPushdown = m.getBoolean("filterPushdown", true),
      throughput = opt("throughput").map(_.toLong),
      writeBatchSize = opt("writeBatchSize").map(_.toInt).getOrElse(25),
      update = m.getBoolean("update", false),
      updateAction = opt("updateAction").map(_.toLowerCase) match {
        case None | Some("set") => "set"
        case Some(a @ ("add" | "remove")) => a
        case Some(other) => throw new IllegalArgumentException(
          s"updateAction must be set|add|remove, got '$other'")
      },
      delete = m.getBoolean("delete", false),
      ifNotExists = m.getBoolean("ifNotExists", false),
      ifExists = m.getBoolean("ifExists", false),
      ttlAttribute = opt("ttlAttribute"),
      ttlNow = opt("ttlNow").map(_.toLong),
      hashKey = opt("hashKey"),
      rangeKey = opt("rangeKey"),
      shards = opt("shards").map(_.toInt).getOrElse(16),
      indexName = opt("indexName"),
      cdc = m.getBoolean("cdc", false),
      startingOffsets = opt("startingOffsets").getOrElse("earliest"),
      startingTimestamp = opt("startingTimestamp").map(_.toLong),
      cdcSeq = m.getBoolean("cdcSeq", false),
      cdcGraceMs = opt("cdcGraceMs").map(_.toLong).getOrElse(0L),
      cdcPendingTmpMs = opt("cdcPendingTmpMs").map(_.toLong).getOrElse(60000L),
      maxFilesPerTrigger = opt("maxFilesPerTrigger").map(_.toInt).filter(_ > 0),
      clusterWrite = opt("clusterWrite").map(_.toLowerCase) match {
        case None | Some("off") | Some("false") => "off"
        case Some(m @ ("key" | "shard")) => m
        case Some(other) => throw new IllegalArgumentException(
          s"clusterWrite must be off|key|shard, got '$other'")
      },
      maxPushedGroups = {
        val g = opt("maxPushedGroups").map(_.toInt).getOrElse(65536)
        require(g > 0,
          "option 'maxPushedGroups' must be > 0 (it bounds the grouped-pushdown " +
            "reader's per-segment group map; 0 would never accumulate nor drain)")
        g
      },
      zonePruning = m.getBoolean("zonePruning", true),
      joinBuildMaxBytes =
        opt("joinBuildMaxBytes").map(_.toLong).getOrElse(64L * 1024 * 1024),
      gsiDeltaMaxBytes =
        opt("gsiDeltaMaxBytes").map(_.toLong).getOrElse(8L * 1024 * 1024),
      asOfSeq = opt("asOfSeq").map(_.toLong),
      consistentScan = m.getBoolean("consistentScan", false),
      transactional = opt("transactional").map(_.toLowerCase) match {
        case None | Some("false") | Some("off") => "off"
        case Some("true") | Some("task") => "task"
        case Some("job") => "job"
        case Some(x) => throw new IllegalArgumentException(
          s"option 'transactional' must be one of false/task/job, got '$x'")
      })
  }
}

/** `format("dynamo")` entry point: `TableProvider` + short-name
  * registration (via META-INF/services)
  * [REF: datasource/DefaultSource.scala — DefaultSource extends
  * TableProvider with DataSourceRegister].
  */
class DynamoTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "dynamo"

  /** Dynamic schema from a ~1 MB sample page (A6), unless the user
    * supplied `.schema(...)` (then Spark never calls this). A base-table
    * read takes the schema cached with the sample page
    * ([[LocalKVStore.sampleSchemaCached]]), inferred once per table
    * version.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = DynamoOptions(options)
    val store = new LocalKVStore(opts.path)
    store.assertNotRestorePending(opts.tableName)
    val inferred = opts.indexName match {
      case None => store.sampleSchemaCached(opts.tableName, asOfSeq = opts.asOfSeq)
      case Some(ix) => // index read (A8): sample through the index view
        val meta = store.describe(opts.tableName)
        val index = meta.indexes.getOrElse(ix, throw new IllegalArgumentException(
          s"table ${opts.tableName} has no index '$ix' (has: ${meta.indexes.keys.mkString(", ")})"))
        DynamoScan.rejectGsiConsistent(opts, index)
        // An LSI infers ALL attributes (DynamoDB's LSI Query defaults
        // to Select=ALL_ATTRIBUTES: non-projected attributes fetch
        // transparently from the co-located base item — the sparse
        // rule still applies). A GSI infers only the projection (it
        // cannot fetch).
        val viewIx = if (index.local) index.copy(projection = None) else index
        Codec.inferSchema(store.samplePageCached(opts.tableName, asOfSeq = opts.asOfSeq)
          .flatMap(store.indexView(meta, viewIx, _)))
    }
    // CDC reads surface the journal op alongside the item attributes.
    // A user attribute named `_op` would be silently shadowed by the
    // stream reader's tag — reject it up front with a clear error.
    if (opts.cdc) {
      require(!inferred.fieldNames.contains("_op"),
        s"table ${opts.tableName} has an item attribute named '_op', " +
          "which collides with the CDC op column; rename the attribute " +
          "or read without cdc=true")
      val withOp = inferred.add(StructField("_op", StringType))
      // `cdcSeq`: the DynamoDB Streams SequenceNumber /
      // ApproximateCreationDateTime analogue — each change row carries
      // its journal file's publish sequence (epoch ms; replay order is
      // (_seq, position-in-file)), so consumers can order merges and
      // derive event-time watermarks (`timestamp_millis(_seq)`).
      if (opts.cdcSeq) {
        require(!inferred.fieldNames.contains("_seq"),
          s"table ${opts.tableName} has an item attribute named '_seq', " +
            "which collides with the CDC sequence column; rename the " +
            "attribute or read without cdcSeq=true")
        withOp.add(StructField("_seq", LongType))
      } else withOp
    } else inferred
  }

  /** Write path hands us the DataFrame's schema. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DynamoTable(DynamoOptions(properties), schema)
}

/** Migration-compatible short name: the reference registers
  * `"dynamodb"` [REF: datasource/DefaultSource.scala], so a user's
  * existing `spark.read.format("dynamodb")` resolves unchanged.
  */
final class DynamoDbCompatProvider extends DynamoTableProvider {
  override def shortName(): String = "dynamodb"
}

/** `acceptAnySchema` steers a real capability trade-off: path-based
  * reads/writes (`format("dynamo")`) declare ACCEPT_ANY_SCHEMA so a
  * partial-column DataFrame can drive update/delete writes (the
  * reference's surface), but that same capability tells Spark to SKIP
  * assignment schema resolution for SQL UPDATE/MERGE — which then
  * never reach their aligned, rewritable form and fail planning.
  * Catalog-loaded tables therefore drop it: SQL writes provide full
  * rows (the output resolver adds casts), and row-level commands
  * rewrite into delta ops. Partial-column df writes keep using the
  * path/format API.
  */
final class DynamoTable(
    opts: DynamoOptions, tableSchema: StructType, acceptAnySchema: Boolean = true)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  override def name(): String = s"dynamo:${opts.tableName}"

  /** SQL `TRUNCATE TABLE` (the metadata-only mass delete): drops all
    * content — base shards, journal, sidecars, index copies — keeping
    * the table definition, exactly what `mode("overwrite")` does
    * before its load. Same caveats as the store's truncate: not
    * atomic against concurrent readers/writers (A14).
    */
  override def truncateTable(): Boolean = {
    new LocalKVStore(opts.path).truncateTable(opts.tableName)
    true
  }

  /** Hidden metadata columns (the Iceberg `_file`/`_pos` pattern):
    * `_shard` = the store shard (bucket) the item lives in — placement
    * debugging, skew analysis, SPJ layout inspection; `_size` = the
    * item's wire size in bytes — DynamoDB's RCU unit, so
    * `sum(_size)` IS the scan's capacity cost. Absent from `SELECT *`;
    * projected only when named. A data column with the same name
    * shadows the metadata column (excluded here, per the interface
    * contract). Values are synthesized in the partition reader —
    * placement is a pure key function and the size rides the wire
    * tuple, so neither costs extra I/O.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val taken = tableSchema.fieldNames.toSet
    def col(colName: String, dt: org.apache.spark.sql.types.DataType, doc: String) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = colName
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = false
        override def comment(): String = doc
      }
    Array(
      col(DynamoMetaCols.Shard, IntegerType, "store shard (bucket) holding the item"),
      col(DynamoMetaCols.Size, IntegerType, "wire size of the item in bytes"))
      .filterNot(c => taken(c.name()))
  }

  /** Key columns are non-nullable by construction (the store rejects
    * an item missing its key), and declaring it matters: delta-based
    * row-level operations refuse a nullable rowId, and Catalyst
    * drops null-guard work for free elsewhere. A write-only target
    * that doesn't exist yet has no key schema to consult — leave the
    * schema as given until first write creates the table. Computed
    * once per table instance: Spark calls schema() repeatedly during
    * analysis and row-level planning, and a meta.json parse per call
    * adds up; a table's key set never changes after creation, so the
    * lazy snapshot cannot go stale (a not-yet-created table keeps the
    * given schema for this instance — the next load re-resolves).
    */
  override def schema(): StructType = cachedSchema
  private lazy val cachedSchema: StructType = {
    val store = new LocalKVStore(opts.path)
    if (!store.exists(opts.tableName)) tableSchema
    else {
      val meta = store.describe(opts.tableName)
      val keyCols = Set(meta.hashKey) ++ meta.rangeKey
      StructType(tableSchema.map(f =>
        if (keyCols(f.name)) f.copy(nullable = false) else f))
    }
  }
  override def capabilities(): util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
        // MERGE ... WITH SCHEMA EVOLUTION: the analyzer routes new
        // source columns through DynamoCatalog.alterTable (the
        // metadata-only ADD COLUMN path — natural on a schemaless
        // store) and reloads the table before planning the delta
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    (if (acceptAnySchema) base + TableCapability.ACCEPT_ANY_SCHEMA else base).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // quarantine gate: a crashed point-in-time restore must not serve
    // a silently partial table (see LocalKVStore restore quarantine)
    new LocalKVStore(opts.path).assertNotRestorePending(opts.tableName)
    new DynamoScanBuilder(opts, tableSchema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(opts.asOfSeq.isEmpty,
      "asOfSeq is a snapshot-read option: writes always apply to the current table")
    new LocalKVStore(opts.path).assertNotRestorePending(opts.tableName)
    new DynamoWriteBuilder(opts, info.schema())
  }

  /** SQL `UPDATE` / `MERGE INTO` — delta-based row-level operations
    * (see [[DynamoRowLevelBuilder]]): only changed rows ship, keyed by
    * the primary key.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(opts.asOfSeq.isEmpty,
      "asOfSeq is a snapshot-read option: UPDATE/MERGE/DELETE always " +
        "apply to the current table")
    new LocalKVStore(opts.path).assertNotRestorePending(opts.tableName)
    new DynamoRowLevelBuilder(opts, tableSchema, info)
  }

  /** SQL `DELETE FROM <table> WHERE <cond>` — DynamoDB's PartiQL
    * DELETE surface. Accepted only when the store can evaluate every
    * conjunct itself ([[FilterEval]], the same evaluator pushed scan
    * filters use — accept-then-mismatch would silently delete the
    * wrong rows); otherwise Spark reports the condition unsupported
    * rather than half-applying it. Executes as one driver-side merged
    * scan appending per-key delete markers to the journal — the same
    * non-atomic append model as every other write (A14); a reader
    * may observe intermediate states, never torn files.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(FilterEval.supported)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(opts.asOfSeq.isEmpty,
      "asOfSeq is a snapshot-read option: DELETE always applies to the current table")
    DeleteWhere.run(opts, filters.toSeq.map(Left(_)), tag = "delw")
  }
}

/** Driver-side delete-matching scan shared by SQL `DELETE FROM ...
  * WHERE` ([[DynamoTable.deleteWhere]]) and overwrite-by-filter
  * ([[DynamoWriteBuilder.overwrite]]): one merged scan of the table
  * appending per-key delete markers to the journal — the same
  * non-atomic append model as every other write (A14). Same
  * visibility and throughput rules as every read path — it reads the
  * base table as one [[ItemSource]] partition: a TTL-expired item is
  * invisible, so the condition is never evaluated against it (lazy
  * expiry reclaims it instead), and the scan draws from the table's
  * read capacity like any other.
  */
private[dynamo] object DeleteWhere {
  def run(opts: DynamoOptions, conds: Seq[Either[Filter, PredicateV2.VPred]],
      tag: String): Unit = {
    // base items only: the delete matches table items, never an index view
    val items = ItemSource.wholeTable(opts.copy(indexName = None),
      conds.collect { case Left(f) => f }.toArray, conds.collect { case Right(p) => p })
    val keyAttrs = Set(items.meta.hashKey) ++ items.meta.rangeKey
    val wal = items.store.walWriter(opts.tableName, System.currentTimeMillis(),
      f"$tag-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      items.foreach(it => wal.append(items.store.Delete(it.view.filterKeys(keyAttrs).toMap)))
      wal.flush()
    } finally wal.close()
  }
}

/** Pushdown negotiation (A4/A5): Catalyst's `V2ScanRelationPushDown`
  * rule calls `pushPredicates` / `pruneColumns`; we accept the subset
  * the store can evaluate and return the rest for Spark to re-apply
  * [REF: datasource/DynamoScanBuilder.scala; connector/FilterPushdown.scala
  * — accept/translate split, widened to Spark 4's v2 `Predicate`s].
  */
final class DynamoScanBuilder(
    private[dynamo] val opts: DynamoOptions,
    private[dynamo] val tableSchema: StructType)
    extends ScanBuilder
    with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownOffset
    with SupportsPushDownTopN
    with SupportsPushDownTableSample
    with SupportsPushDownJoin
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var pushedV2: Array[v2filter.Predicate] = Array.empty
  private var advPushed: Seq[PredicateV2.VPred] = Nil
  private var requiredSchema: StructType = tableSchema
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var topN: Option[PushedTopN] = None
  private var sample: Option[PushedSample] = None
  private var aggs: Seq[PushedAgg] = Nil
  private var grouped: Option[PushedGroupBy] = None
  private var joined: Option[PushedJoinSpec] = None

  /** Nothing negotiated yet that a pushed join can't absorb: joins
    * push after samples/filters but the absorbed state must be plain —
    * base table (no GSI view, no change feed), no sample, and no
    * prior join (chains decline; Spark keeps the outer join).
    */
  private def plainForJoin: Boolean =
    opts.indexName.isEmpty && !opts.cdc && sample.isEmpty &&
      limit.isEmpty && offset.isEmpty && topN.isEmpty &&
      aggs.isEmpty && grouped.isEmpty && joined.isEmpty &&
      // a consistent scan pins ONE table's journal listing; the pushed
      // join's build side reads a different table live — decline so
      // the option's snapshot promise is never silently weakened
      !opts.consistentScan

  /** Join pushdown (`SupportsPushDownJoin`, Spark 4.1,
    * `spark.sql.optimizer.datasourceV2JoinPushdown`): an INNER join of
    * two tables in the SAME store collapses into one scan — Spark
    * removes its Join operator, each scan task streams its own
    * left-side segment and hash-builds the (filtered, size-bounded)
    * right table, i.e. a broadcast-hash join whose build side is read
    * store-side instead of shipped from the driver. Declines unless
    * the right table's stored size fits `joinBuildMaxBytes` (the
    * per-task build must stay dimension-sized at any probe scale) and
    * the rewritten condition translates EXACTLY
    * ([[PredicateV2.translate]] over the aliased joined schema) —
    * Spark does not re-check a pushed join.
    */
  private def structurallyJoinable(o: DynamoScanBuilder): Boolean =
    o.opts.path == opts.path && plainForJoin && o.plainForJoin &&
      opts.filterPushdown && o.opts.filterPushdown &&
      opts.asOfSeq == o.opts.asOfSeq // one snapshot epoch per join

  override def isOtherSideCompatibleForJoin(other: SupportsPushDownJoin): Boolean =
    other match {
      case o: DynamoScanBuilder =>
        structurallyJoinable(o) &&
          new LocalKVStore(o.opts.path).sizeBytes(o.opts.tableName) <=
            opts.joinBuildMaxBytes
      case _ => false
    }

  override def pushDownJoin(
      other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftRequired: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightRequired: Array[SupportsPushDownJoin.ColumnWithAlias],
      condition: v2filter.Predicate): Boolean = {
    import org.apache.spark.sql.connector.join.JoinType._
    val outer = joinType == LEFT_OUTER_JOIN
    // RIGHT OUTER is LEFT OUTER with the sides swapped: the RIGHT
    // table becomes the probe (its unmatched rows must all surface,
    // which only the streamed side can guarantee per-task) and THIS
    // table becomes the hash build — accepted only if it fits the
    // build budget, the bound isOtherSideCompatibleForJoin applied to
    // the other side.
    val rightOuter = joinType == RIGHT_OUTER_JOIN
    if ((joinType != INNER_JOIN && !outer && !rightOuter) ||
        condition == null || !other.isInstanceOf[DynamoScanBuilder]) return false
    val o = other.asInstanceOf[DynamoScanBuilder]
    // Spark calls isOtherSideCompatibleForJoin immediately before this,
    // which already walked the right table's size — only re-check the
    // cheap structural half here.
    if (!structurallyJoinable(o)) return false
    if (rightOuter &&
        new LocalKVStore(opts.path).sizeBytes(opts.tableName) > opts.joinBuildMaxBytes)
      return false
    def sideCols(req: Array[SupportsPushDownJoin.ColumnWithAlias],
        schema: StructType): Option[Seq[(String, String, StructField)]] = {
      val bySide = req.toSeq.map { cwa =>
        val alias = Option(cwa.alias).getOrElse(cwa.colName)
        schema.fields.find(_.name == cwa.colName)
          .map(f => (cwa.colName, alias, f.copy(name = alias)))
      }
      if (bySide.forall(_.isDefined)) Some(bySide.flatten) else None
    }
    (sideCols(leftRequired, tableSchema), sideCols(rightRequired, o.tableSchema)) match {
      case (Some(l), Some(r)) =>
        // Outer joins null-extend unmatched probe rows, so the BUILD
        // side's output columns must declare nullable regardless of
        // their stored nullability: the right table under LEFT OUTER,
        // this table under RIGHT OUTER.
        val lFields = if (rightOuter) l.map(_._3.copy(nullable = true)) else l.map(_._3)
        val rFields = if (outer) r.map(_._3.copy(nullable = true)) else r.map(_._3)
        val joinedSchema = StructType(lFields ++ rFields)
        val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
        PredicateV2.translate(condition, joinedSchema, ansi) match {
          case Some(cond) =>
            val thisSide = PushedJoinSide(opts, pushed, advPushed, l.map(c => (c._1, c._2)))
            val otherSide = PushedJoinSide(o.opts, o.pushed, o.advPushed, r.map(c => (c._1, c._2)))
            // spec.left is always the PROBE: under RIGHT OUTER that is
            // the other (right) table, and this table hash-builds.
            joined = Some(
              if (rightOuter)
                PushedJoinSpec(otherSide, thisSide, cond, joinedSchema, outer = true)
              else
                PushedJoinSpec(thisSide, otherSide, cond, joinedSchema, outer = outer))
            // this builder's pre-join filters moved into its side;
            // anything pushed from here on applies ABOVE the join
            pushed = Array.empty; advPushed = Nil; pushedV2 = Array.empty
            requiredSchema = joinedSchema
            true
          case None => false
        }
      case _ => false
    }
  }

  /** TABLESAMPLE pushdown — Spark REMOVES its Sample operator on
    * acceptance, so the scan's key-hash Bernoulli sampler
    * ([[PushedSample]]) becomes the sample: each segment drops
    * out-of-sample items before decode, reading a p-fraction preview
    * of a 100 TB table at p× the decode cost with zero driver state.
    * Sampling WITH replacement (Poisson row multiplicities — a
    * per-item independent test can't produce duplicates) and
    * degenerate bounds decline; Spark keeps its own Sample then.
    * V2ScanRelationPushDown pushes samples before filters/aggregates,
    * so nothing else is negotiated yet; everything downstream
    * composes — every reader (row, top-N, grouped/ungrouped
    * aggregate) evaluates the sample membership per item, so a later
    * aggregate push counts exactly the sampled rows and limits/top-N
    * count post-sample, post-filter rows.
    */
  override def pushTableSample(
      lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    if (withReplacement || !(lowerBound < upperBound) ||
        lowerBound < 0.0 || upperBound > 1.0) return false
    sample = Some(PushedSample(lowerBound, upperBound, seed))
    true
  }

  /** V2 `Predicate` negotiation — the ONLY filter-pushdown interface
    * this builder implements: Spark 4's `PushDownUtils` prefers v1
    * `SupportsPushDownFilters` when both are present, which would keep
    * every scan on the narrower v1 family, so the v1 interface is
    * deliberately absent. Predicates exactly expressible as v1 filters
    * land in `pushed` so the whole existing machinery — point-lookup
    * shard pruning, [[FilterEval]], streaming readers, SPJ reporting —
    * sees them unchanged; the v2-only residue (column-vs-column,
    * arithmetic comparisons) lands in `advPushed` and is evaluated
    * store-side by [[PredicateV2.eval]]. Spark does not re-evaluate
    * accepted predicates, so acceptance is exactness: anything not
    * provably exact is returned for Spark to keep
    * ([[PredicateV2.translate]] declines it).
    */
  override def pushPredicates(predicates: Array[v2filter.Predicate]): Array[v2filter.Predicate] = {
    if (!opts.filterPushdown) return predicates
    val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    // after a pushed join, predicates arrive over the ALIASED joined
    // schema and evaluate on merged items (post-join)
    val scope = joined.map(_.joinedSchema).getOrElse(tableSchema)
    val tr = predicates.map(p => p -> PredicateV2.translate(p, scope, ansi))
    pushedV2 = tr.collect { case (p, Some(_)) => p }
    pushed = tr.collect { case (_, Some(Left(f))) => f }
    advPushed = tr.collect { case (_, Some(Right(vp))) => vp }.toSeq
    tr.collect { case (p, None) => p }
  }

  override def pushedPredicates(): Array[v2filter.Predicate] = pushedV2

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  /** Limit pushdown: each segment reader stops after emitting `limit`
    * post-filter rows, so a `.limit(k)` preview reads ~k items per
    * segment instead of the table. Filters apply below the limit in
    * our reader, so the per-segment count is exact; whether Spark may
    * drop its own global limit is [[isPartiallyPushed]]'s call.
    */
  override def pushLimit(l: Int): Boolean = {
    // After a COMPLETE aggregate push the relation's rows are agg
    // results; a limit pushed then would have to cap RESULT rows, not
    // items — decline and let Spark keep its own limit. (Aggregates
    // push before limits in V2ScanRelationPushDown, so `aggs`/`grouped`
    // are already settled here.) A pushed join's readers don't count
    // joined rows — decline there too.
    if (aggs.nonEmpty || grouped.isDefined || joined.isDefined) return false
    limit = Some(l); true
  }

  /** True when the table's SIZE asks for only ONE segment
    * ([[DynamoScan.sizeSegments]]) — the condition under which a
    * pushed limit is made GLOBAL (Spark may then remove its own Limit)
    * and a pushed offset is expressible at all. Decided by size alone,
    * not the session width, so LIMIT/OFFSET over a small table keeps
    * its global push on any session. Computed once;
    * [[build]] passes `pinSingleSegment` so the scan plans exactly
    * that one segment after the promise.
    */
  private lazy val singleSegmentPlan: Boolean = {
    val store = new LocalKVStore(opts.path)
    DynamoScan.sizeSegments(store, store.describe(opts.tableName), opts) == 1
  }

  /** Offset pushdown (`LIMIT n OFFSET m` / `df.offset(m)`): accepting
    * means Spark REMOVES its Offset operator, so the skip must be
    * GLOBAL — only a scan that provably plans ONE segment can honor
    * that (the JDBC sources accept for the same single-partition
    * reason). Multi-segment scans decline and Spark keeps the offset;
    * nothing is lost but the small skip. Spark negotiates the paired
    * limit first (`pushLimit` gets the PRE-offset row budget, and only
    * a FULL limit push — [[isPartiallyPushed]] false — lets the offset
    * be attempted), so the reader counts skipped rows against the
    * pushed limit and drops the first `m` post-filter rows.
    */
  override def pushOffset(o: Int): Boolean = {
    if (aggs.nonEmpty || grouped.isDefined || topN.isDefined || joined.isDefined ||
      o <= 0) return false
    if (singleSegmentPlan) { offset = Some(o); true } else false
  }

  /** Top-N pushdown (`ORDER BY ... LIMIT n` directly over the scan):
    * each segment ships only its own best n rows instead of the whole
    * segment — DynamoDB's `Query` with `ScanIndexForward`/`Limit`
    * generalized to any orderable attribute set. Partial push
    * ([[isPartiallyPushed]] = true): Spark keeps the global
    * TakeOrderedAndProject, which merges the per-segment candidates —
    * exact by construction, since a row absent from its segment's top
    * n cannot be in the global top n. Sort keys must be plain
    * top-level columns of orderable type; anything else stays
    * Spark-side untouched.
    */
  override def pushTopN(orders: Array[v2expr.SortOrder], n: Int): Boolean = {
    if (aggs.nonEmpty || grouped.isDefined || joined.isDefined) return false // see pushLimit
    val keys = orders.toSeq.map { o =>
      (o.expression() match {
        case f: v2expr.NamedReference if f.fieldNames().length == 1 =>
          tableSchema.fields.find(_.name == f.fieldNames().head)
        case _ => None
      }).collect {
        case f if PushedTopN.orderable(f.dataType) =>
          SortKey(f.name,
            descending = o.direction() == v2expr.SortDirection.DESCENDING,
            nullsFirst = o.nullOrdering() == v2expr.NullOrdering.NULLS_FIRST)
      }
    }
    if (n > 0 && keys.nonEmpty && keys.forall(_.isDefined)) {
      topN = Some(PushedTopN(keys.flatten, n)); true
    } else false
  }

  /** Shared by the limit and top-N interfaces (one JVM method). A
    * pushed top-N is always partial: each segment ships its best n and
    * Spark's TakeOrderedAndProject merges. A plain pushed limit is
    * partial per-segment for the same reason — EXCEPT on a provably
    * single-segment plan, where "per-segment" IS global: declaring the
    * full push there is what lets Spark remove its Limit and negotiate
    * the offset ([[pushOffset]]). [[build]] pins that plan.
    */
  override def isPartiallyPushed(): Boolean = topN.isDefined || !singleSegmentPlan

  // Aggregate columns resolve against the relation the aggregate sees:
  // the ALIASED joined schema after a pushed join, the table otherwise.
  private def fieldOf(e: v2expr.Expression): Option[StructField] = e match {
    case f: v2expr.NamedReference if f.fieldNames().length == 1 =>
      joined.map(_.joinedSchema).getOrElse(tableSchema)
        .fields.find(_.name == f.fieldNames().head)
    case _ => None
  }

  // SUM partial type mirrors Spark's own widening (int-family → long,
  // float-family → double). Decimal stays Spark-side: its sum widens
  // precision in ways the partial column can't declare faithfully.
  private def sumType(dt: DataType): Option[DataType] = dt match {
    case LongType | IntegerType | ShortType | ByteType => Some(LongType)
    case DoubleType | FloatType => Some(DoubleType)
    // Spark's own Sum widening for decimals: scale kept, ten more
    // integer digits, capped at the max precision. Exact at any
    // accumulation order (decimal arithmetic), so pushing preserves
    // bit-identity with the unpushed plan — the money-column case
    case d: DecimalType =>
      Some(DecimalType(math.min(38, d.precision + 10), d.scale))
    case _ => None
  }

  /** Aggregate functions we can evaluate store-side, or None if any
    * one is unsupported — all-or-nothing, because Spark consumes the
    * scan output positionally. Orderable-scalar gates keep
    * nested/binary/boolean extrema Spark-side; DISTINCT never pushes
    * (not partial-foldable); AVG needs no case — Spark itself rewrites
    * it to SUM+COUNT for pushdown.
    */
  private def parseAggFuncs(agg: Aggregation): Option[Seq[PushedAgg]] = {
    val parsed: Seq[Option[PushedAgg]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(PushedAgg.CountAll)
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).filter(f => PushedTopN.orderable(f.dataType) ||
          f.dataType == BooleanType || f.dataType == BinaryType)
          .map(f => PushedAgg.CountOf(f))
      case s: Sum if !s.isDistinct =>
        fieldOf(s.column).flatMap(f => sumType(f.dataType)
          .map(w => PushedAgg.SumOf(f, w)))
      case m: Min => fieldOf(m.column).filter(f => PushedTopN.orderable(f.dataType))
        .map(f => PushedAgg.MinOf(f))
      case m: Max => fieldOf(m.column).filter(f => PushedTopN.orderable(f.dataType))
        .map(f => PushedAgg.MaxOf(f))
      case a: Avg if !a.isDistinct =>
        fieldOf(a.column).filter(f => f.dataType match {
          case LongType | IntegerType | ShortType | ByteType => true
          case _ => false // fractional/decimal: order-sensitive, decline
        }).map(f => PushedAgg.AvgOf(f))
      case _ => None
    }
    if (parsed.forall(_.isDefined)) Some(parsed.flatten) else None
  }

  /** Grouping columns as plain top-level fields of groupable type, or
    * None if any grouping expression is something else.
    */
  private def parseGroupCols(agg: Aggregation): Option[Seq[StructField]] = {
    val cols = agg.groupByExpressions.toSeq.map(e =>
      fieldOf(e).filter(f => PushedTopN.orderable(f.dataType)))
    if (cols.nonEmpty && cols.forall(_.isDefined)) Some(cols.flatten) else None
  }

  /** Serve-via-index decision, made ONCE per builder and PINNED into
    * the scan ([[build]]): an index read plans over the MATERIALIZED
    * copy exactly when the copy is provably fresh and no read option
    * needs BASE items (TTL liveness checks the base item; snapshot
    * reads address journal history the copy folded away). Deciding
    * here — not at `planInputPartitions` time — closes the TOCTOU
    * between aggregate negotiation and planning: a completeness claim
    * made over the index layout (groups segment-local by index hash
    * key) must never execute over the base-shard fallback, where those
    * groups span segments and "final" rows would silently duplicate.
    * A write landing between negotiation and execution is therefore
    * served from the pinned copy snapshot — within DynamoDB's own GSI
    * contract, where index reads are eventually consistent.
    */
  private[dynamo] lazy val indexServe: Option[IndexMeta] =
    opts.indexName.flatMap { ix =>
      // Consistency contract first (DynamoDB parity): GSIs REJECT
      // ConsistentRead; a LOCAL index honors it by declining the
      // materialized-copy serve entirely — the base-path read folds
      // the co-located partition's live journal at reader time, which
      // IS the strongly-consistent serve (no copy lag to reason
      // about). Checked before freshness so a perfectly-fresh copy
      // still cannot claim a consistent GSI read.
      new LocalKVStore(opts.path).describe(opts.tableName).indexes.get(ix)
        .foreach(DynamoScan.rejectGsiConsistent(opts, _))
      if (opts.ttlAttribute.nonEmpty || opts.asOfSeq.nonEmpty ||
          opts.stronglyConsistentReads) None
      else {
        val store = new LocalKVStore(opts.path)
        store.describe(opts.tableName).indexes.get(ix).filter { _ =>
          store.indexFreshness(opts.tableName, ix) match {
            case LocalKVStore.IndexExact => true
            // DELTA-fresh: serve the copy + a bounded journal overlay
            // (recent writes no longer demote index reads to a full
            // base scan — DynamoDB's GSI staying usable under load).
            // Keyed/complete grouped claims stay sound: overlay
            // images place by the same index-hash function as the
            // copy, so groups remain confined to one index shard.
            case LocalKVStore.IndexDelta(_, bytes) =>
              bytes <= opts.gsiDeltaMaxBytes && opts.gsiDeltaMaxBytes > 0
            // write-through: copy + index journal is exact for the
            // applied prefix (zero overlay work); only the un-applied
            // suffix needs the delta budget. Journal images place by
            // the same index-hash function, so grouped claims hold.
            case LocalKVStore.IndexJournal(_, _, bytes, _) =>
              bytes <= opts.gsiDeltaMaxBytes && opts.gsiDeltaMaxBytes > 0
            case LocalKVStore.IndexStale => false
          }
        }
      }
    }

  /** A grouped pushdown is KEYED when every group is shard-local. For
    * base-table reads: the grouping columns contain the table's
    * placement key set — the partition key under layout 2, the full
    * composite under legacy layout 1. For GSI reads served from the
    * MATERIALIZED copy (placement by INDEX hash key — [[indexServe]],
    * pinned), the grouping must contain the index hash key; the
    * base-scan fallback never qualifies (index attrs don't determine
    * base-shard placement). A keyed push's output rows stay keyed by
    * the placement key inside their own shard's segment, so the scan
    * keeps reporting the bucket layout and downstream aggregates/joins
    * run exchange-free — whether or not the push is also COMPLETE.
    */
  private def groupedKeyed(groupCols: Seq[StructField]): Boolean = {
    if (opts.indexName.isDefined)
      return indexServe.exists(ix => groupCols.map(_.name).contains(ix.hashKey))
    val meta = new LocalKVStore(opts.path).describe(opts.tableName)
    val placement =
      if (meta.layout >= 2) Seq(meta.hashKey)
      else Seq(meta.hashKey) ++ meta.rangeKey
    placement.forall(groupCols.map(_.name).contains)
  }

  /** A grouped pushdown is UNIQUE when the grouping columns contain
    * the table's FULL primary key: the store holds exactly one item
    * per key, so every item is its own group and the reader streams
    * final rows with zero group state — `GROUP BY <primary key>` over
    * a 100 TB table is complete, exchange-free AND O(1) memory.
    */
  private def groupedUnique(groupCols: Seq[StructField]): Boolean = {
    if (opts.indexName.isDefined) return false
    val meta = new LocalKVStore(opts.path).describe(opts.tableName)
    (Seq(meta.hashKey) ++ meta.rangeKey).forall(groupCols.map(_.name).contains)
  }

  /** A grouped pushdown is COMPLETE (per-segment results are final,
    * Spark drops its aggregate entirely) when it is keyed AND bounded:
    * either the grouping covers the full primary key (unique — the
    * reader streams, no state) or the cardinality screen says groups
    * look bounded. A COMPLETE push must emit exactly one final row per
    * group, so its per-segment group map cannot flush.
    */
  private def groupedComplete(groupCols: Seq[StructField]): Boolean =
    groupedKeyed(groupCols) &&
      (groupedUnique(groupCols) || groupsLookBounded(groupCols.map(_.name)))

  /** Plan-time cardinality screen for COMPLETE pushes: if more than
    * half the sample page's items form distinct group tuples, groups
    * scale with rows (the `GROUP BY o_orderkey` shape) and the
    * per-segment group map would grow with the segment. Declining
    * completeness is always safe — the push degrades to per-segment
    * partials, Spark keeps its final (spillable) aggregate, and the
    * reader bounds its map by flushing at `maxPushedGroups`. Samples
    * under 64 items skip the screen (the table is tiny, or items are
    * so large a segment holds few of them — either way the map stays
    * small).
    */
  private var boundedCache = Map.empty[Seq[String], Boolean]
  private def groupsLookBounded(cols: Seq[String]): Boolean =
    boundedCache.getOrElse(cols, {
      val sample = new LocalKVStore(opts.path)
        .samplePageCached(opts.tableName, asOfSeq = opts.asOfSeq)
      val r = sample.size < 64 ||
        sample.map(it => cols.map(it.get)).distinct.size * 2 <= sample.size
      boundedCache += cols -> r
      r
    })

  /** The probe (left) side's placement-key columns mapped through the
    * pushed join's alias space — None when any placement column was
    * not projected into the joined output (its locality is then
    * invisible to anything downstream).
    */
  private def probeKeyAliases(j: PushedJoinSpec): Option[Seq[String]] = {
    val meta = new LocalKVStore(j.left.opts.path).describe(j.left.opts.tableName)
    val aliasOf = j.left.cols.toMap
    val mapped = DynamoScan.placementCols(meta).map(aliasOf.get)
    if (mapped.forall(_.isDefined)) Some(mapped.flatten) else None
  }

  /** A grouped push over the join is COMPLETE when the grouping covers
    * the probe side's FULL primary-key aliases: the join reader emits
    * each probe row's merged candidates as one contiguous run, two
    * probe rows can never share a group tuple (their key columns
    * differ), so per-RUN aggregation is final — one pass, state
    * bounded by the build-side fan-out of a single key, regardless of
    * probe-table size. Extra grouping columns (right-side attributes)
    * only subdivide within a run, so they keep completeness.
    */
  private def joinGroupComplete(j: PushedJoinSpec, groupNames: Seq[String]): Boolean = {
    val meta = new LocalKVStore(j.left.opts.path).describe(j.left.opts.tableName)
    val aliasOf = j.left.cols.toMap
    val fullKey = (Seq(meta.hashKey) ++ meta.rangeKey).map(aliasOf.get)
    fullKey.forall(_.exists(groupNames.contains))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    parseGroupCols(agg).exists(g => parseAggFuncs(agg).isDefined &&
      (joined match {
        case Some(j) => joinGroupComplete(j, g.map(_.name))
        case None => groupedComplete(g)
      }))

  /** Aggregate pushdown. Ungrouped: segments compute one partial per
    * aggregate without shipping items; Spark folds the per-partition
    * partials (`sum` over counts and sums, `min`/`max` over extrema).
    * COUNT(*) is DynamoDB's `Select=COUNT` scan; the rest is extension
    * territory. Grouped: segments ship one row per group — FINAL when
    * the grouping covers the placement key (groups are shard-local, so
    * `GROUP BY <partition key>` runs entirely in the scan with zero
    * shuffle — [[supportCompletePushDown]]), partial map-side combine
    * otherwise (Spark re-aggregates the per-segment group rows). An
    * empty aggregate list with grouping is DISTINCT pushdown. Pushed
    * filters always evaluate below the aggregate.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    // Samples push before aggregates (V2ScanRelationPushDown order),
    // and every aggregate reader evaluates the sample membership
    // per-item, so `sample(p).count()` (and grouped variants) push
    // fully and aggregate exactly the sampled rows. Over a pushed
    // JOIN (joins push before aggregates too), aggregates compose as
    // map-side combines: UNGROUPED, each join task folds its merged
    // rows into one partial, so `fact.join(dim).count()` ships one row
    // per segment; GROUPED, each task hash-aggregates its merged rows
    // into per-group partials (bounded by `maxPushedGroups` flushing,
    // like any partial grouped push) — never complete (Spark always
    // keeps the final aggregate), but KEYED when the grouping covers
    // the PROBE side's placement-key aliases: every merged row rides
    // its probe row's segment, so such groups stay shard-local and
    // [[DynamoJoinScan.outputPartitioning]] keeps reporting the bucket
    // layout — the final aggregate then needs no exchange at all.
    if (agg.groupByExpressions.isEmpty) {
      if (agg.aggregateExpressions.isEmpty) return false
      parseAggFuncs(agg) match {
        // AVG partials can't fold (avg of avgs is wrong); Spark never
        // sends Avg outside a complete push, but decline defensively
        case Some(parsed) if parsed.exists(_.isInstanceOf[PushedAgg.AvgOf]) => false
        case Some(parsed) => aggs = parsed; true
        case None => false
      }
    } else if (joined.isDefined) {
      (parseGroupCols(agg), parseAggFuncs(agg)) match {
        case (Some(g), Some(parsed)) =>
          val keyed = joined.exists(j => probeKeyAliases(j)
            .exists(_.forall(g.map(_.name).contains)))
          val complete = joined.exists(j => joinGroupComplete(j, g.map(_.name)))
          if (!complete && parsed.exists(_.isInstanceOf[PushedAgg.AvgOf])) false
          else {
            grouped = Some(PushedGroupBy(g, keyed = keyed, unique = false,
              complete = complete))
            aggs = parsed
            true
          }
        case _ => false
      }
    } else {
      (parseGroupCols(agg), parseAggFuncs(agg)) match {
        case (Some(g), Some(parsed)) =>
          val complete = groupedComplete(g)
          if (!complete && parsed.exists(_.isInstanceOf[PushedAgg.AvgOf])) false
          else {
            grouped = Some(PushedGroupBy(g, groupedKeyed(g), groupedUnique(g),
              complete))
            aggs = parsed
            true
          }
        case _ => false
      }
    }
  }

  override def build(): Scan = {
    joined.foreach { spec =>
      return new DynamoJoinScan(spec, requiredSchema, pushed, advPushed, aggs, grouped)
    }
    // Sort columns are always in the scan output (the Sort references
    // them), but guard against a pruned key anyway: dropping the push
    // is correct, resolving a missing column is a crash.
    val safeTopN = topN.filter(_.keys.forall(k =>
      requiredSchema.fieldNames.contains(k.name)))
    // A claimed-full limit (or any offset) push promised ONE segment;
    // the scan must pin that plan and refuse re-splits.
    val pin = offset.isDefined || (limit.isDefined && singleSegmentPlan && topN.isEmpty)
    // Metadata columns yield to same-named DATA columns (the
    // metadataColumns() shadowing contract): a table that genuinely
    // stores a `_shard` attribute must read it as data, so only the
    // non-shadowed names are synthesized downstream.
    val metaNames = DynamoMetaCols.names.diff(tableSchema.fieldNames.toSet)
    // DynamoDB projection contract (A8): a read naming attributes the
    // index does not project FETCHES them from the co-located base
    // item on a LOCAL index — the serve demotes to the base path
    // (same shards, so keyed/complete grouped claims negotiated above
    // still hold; the extra base-read cost is exactly DynamoDB's LSI
    // fetch billing) — and is an error on a GLOBAL one (GSIs cannot
    // fetch; DynamoDB's ValidationException). Checked over the FINAL
    // pruned schema: selecting only projected columns keeps the copy
    // serve.
    val overfetch = opts.indexName.exists { ixName =>
      val meta = new LocalKVStore(opts.path).describe(opts.tableName)
      meta.indexes.get(ixName).exists { ixm =>
        DynamoScan.projectedCols(meta, ixm) match {
          case Some(allowed) =>
            // WIRE-attribute demand, not requiredSchema verbatim:
            // under aggregate pushdown the output schema holds
            // synthetic agg names — the wire attributes an index item
            // must carry are the group/agg input fields plus every
            // pushed conjunct's references.
            val wanted =
              (if (aggs.nonEmpty)
                 aggs.collect {
                   case PushedAgg.CountOf(f) => f.name
                   case PushedAgg.SumOf(f, _) => f.name
                   case PushedAgg.MinOf(f) => f.name
                   case PushedAgg.MaxOf(f) => f.name
                   case PushedAgg.AvgOf(f) => f.name
                 }.toSet ++ grouped.toSeq.flatMap(_.fields.map(_.name))
               else requiredSchema.fieldNames.toSet) ++
                pushed.flatMap(_.references)
            val extras = wanted -- allowed -- metaNames - "_op"
            if (extras.nonEmpty && !ixm.local)
              throw new IllegalArgumentException(
                s"columns ${extras.toSeq.sorted.mkString(", ")} are not " +
                  s"projected into global secondary index '$ixName'; " +
                  "only local secondary indexes fetch non-projected " +
                  "attributes from the base table")
            extras.nonEmpty
          case None => false
        }
      }
    }
    // Pin the serve-via-index decision (Some(...)) so planning cannot
    // re-decide after negotiation — see [[indexServe]] for why a
    // completeness claim makes the re-check a correctness hazard.
    val scan = new DynamoScan(opts, requiredSchema, pushed, limit, aggs, safeTopN, grouped,
      advPushed, offset, pinSingleSegment = pin, sample = sample, metaNames = metaNames,
      serveViaIndex = Some(indexServe.isDefined && !overfetch))
    if (servedLocally(scan)) new DynamoLocalScan(scan) else scan
  }

  /** A plain row read of the base table whose read is bounded at
    * planning, served on the driver ([[DynamoLocalScan]]). Two shapes:
    *  - GetItem / BatchGetItem: the pushed conjuncts pin the full
    *    primary key by `=`/`IN` to at most [[PageIndex.maxHashWindows]]
    *    keys, so the result is bounded by the key count;
    *  - Query (layout 2): they pin the hash key by `=`/`IN` to at most
    *    [[PageIndex.maxHashWindows]] values, the sort key open or
    *    bounded, and the bytes the read can touch — the window's pages
    *    of the owning shards plus those shards' journal
    *    ([[LocalKVStore.sizeBytesWindows]]) — are at most
    *    [[LocalKVStore.driverReadBytes]]. The bound protects driver
    *    memory; the rows are the distributed reader's either way.
    * A scan that declares its bucket layout for SPJ stays distributed.
    * The decision reads the table's metadata once and lists its files
    * at most once.
    */
  private def servedLocally(scan: DynamoScan): Boolean =
    limit.isEmpty && offset.isEmpty && topN.isEmpty && sample.isEmpty &&
      aggs.isEmpty && grouped.isEmpty && opts.indexName.isEmpty && !opts.cdc && {
        val store = new LocalKVStore(opts.path)
        val meta = store.describe(opts.tableName)
        val point =
          DynamoScan.pinnedKeyCount(pushed.toSeq, meta).exists(_ <= PageIndex.maxHashWindows)
        val windows =
          if (point || meta.layout < 2) Nil
          else PageIndex.deriveWindows(pushed.toSeq, meta.hashKey, meta.rangeKey)
        lazy val (touched, total) = store.sizeBytesWindows(opts.tableName, meta,
          scan.keyShards(store, meta).getOrElse((0 until meta.shards).toSet), windows)
        (point || windows.nonEmpty && touched <= LocalKVStore.driverReadBytes) &&
          !scan.declaresLayoutForSpj(meta, total)
      }
}

/** A point read or bounded Query served on the driver
  * ([[DynamoScanBuilder]]'s `servedLocally`). Spark plans a `LocalScan`
  * as `LocalTableScanExec`, whose collect runs no job: [[rows]] runs
  * the wrapped scan's own partitions through its own readers here, so
  * the journal overlay, TTL, consistency, `asOfSeq`, pushed-filter
  * evaluation and the rate limiter are the distributed read's code.
  * The rows are taken when Spark builds the physical plan, like a file
  * source's listing: re-collecting the same DataFrame returns them
  * again, and a new DataFrame sees later writes. The node carries no
  * connector metric; the readers' `itemsScanned`/`itemsFiltered` of
  * the last [[rows]] call are summed into [[itemsScanned]] and
  * [[itemsFiltered]]. Statistics delegate, so a join against a point
  * read still auto-broadcasts.
  */
final class DynamoLocalScan private[dynamo] (scan: DynamoScan)
    extends LocalScan with SupportsReportStatistics {
  @volatile private var counts = (0L, 0L)
  def itemsScanned: Long = counts._1
  def itemsFiltered: Long = counts._2
  override def readSchema(): StructType = scan.readSchema()
  override def description(): String = scan.description()
  override def estimateStatistics(): Statistics = scan.estimateStatistics()
  override def rows(): Array[InternalRow] = {
    val batch = scan.toBatch
    val factory = batch.createReaderFactory()
    var scanned = 0L
    var filtered = 0L
    val taken = batch.planInputPartitions().flatMap { p =>
      val reader = factory.createReader(p)
      try {
        val out = Vector.newBuilder[InternalRow]
        while (reader.next()) out += reader.get().copy()
        out.result()
      } finally {
        reader.currentMetricsValues().foreach { m =>
          if (m.name == "itemsScanned") scanned += m.value
          else if (m.name == "itemsFiltered") filtered += m.value
        }
        reader.close()
      }
    }
    counts = (scanned, filtered)
    taken
  }
}

/** A pushed GROUP BY: the grouping columns (in push order — the scan
  * emits them first, aggregates after), whether the grouping covers
  * the placement key (`keyed` — output rows stay shard-local, the
  * bucket layout stays reported), whether it covers the FULL primary
  * key (`unique` — one item per group, the reader streams with no
  * state), and whether the push is complete (keyed AND bounded:
  * per-segment results are final, Spark drops its aggregate) versus a
  * partial map-side combine Spark re-aggregates.
  */
final case class PushedGroupBy(fields: Seq[StructField], keyed: Boolean,
    unique: Boolean, complete: Boolean) extends Serializable

/** One pushed sort key: column name + v2 SortOrder direction/null
  * placement. Null placement is absolute (NULLS FIRST puts nulls
  * first regardless of direction), mirroring Catalyst's SortOrder.
  */
final case class SortKey(name: String, descending: Boolean, nullsFirst: Boolean)
  extends Serializable

/** A pushed `TABLESAMPLE (x PERCENT)` / `df.sample(fraction, seed)`:
  * an item is in-sample iff a seeded 64-bit hash of its CANONICAL
  * PRIMARY KEY, mapped to [0,1), lands in [lower, upper) — a
  * Bernoulli sampler with three properties the scan exploits. (1)
  * Deterministic: the same (table, seed) always selects the same
  * items, on any segment plan, so re-runs and retried tasks agree.
  * (2) Filter-commutative: membership depends only on the key, never
  * on other predicates, so evaluating the sample alongside pushed
  * filters is exact regardless of whether the user wrote
  * sample-then-filter or filter-then-sample. (3) Placement-preserving:
  * sampled rows keep their shard, so the scan's reported bucket layout
  * (SPJ) survives sampling. Per-item state is one hash — O(1) memory
  * at any table size.
  */
final case class PushedSample(lower: Double, upper: Double, seed: Long)
    extends Serializable {
  def fraction: Double = upper - lower

  /** FNV-1a over the canonical key bytes seeded per-query, then a
    * splitmix64 finalizer so near-identical keys (sequential ids)
    * still spread uniformly; top 53 bits → an exact double in [0,1).
    */
  def keeps(canonicalKey: String): Boolean = {
    val bytes = canonicalKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = seed ^ 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
    h ^= (h >>> 27); h *= 0x94d049bb133111ebL
    h ^= (h >>> 31)
    val u = (h >>> 11).toDouble / (1L << 53).toDouble
    u >= lower && u < upper
  }

  def describe: String = f"[$lower%.4f, $upper%.4f) seed=$seed"
}

/** A pushed `ORDER BY keys LIMIT n`. */
final case class PushedTopN(keys: Seq[SortKey], n: Int) extends Serializable {
  def describe: String = keys.map(k =>
    s"${k.name} ${if (k.descending) "DESC" else "ASC"} " +
      s"NULLS ${if (k.nullsFirst) "FIRST" else "LAST"}").mkString(", ") + s" LIMIT $n"

  /** Output-order comparator over decoded rows: row a before row b in
    * the sorted output ⇒ negative. Per-type compares mirror Catalyst's
    * orderings (UTF8String binary order; java.lang.Double/Float
    * .compare = NaN largest and NaN-equal, Spark's NaN semantics).
    */
  def ordering(schema: StructType): Ordering[InternalRow] = {
    val ks = keys.map { k =>
      val i = schema.fieldIndex(k.name)
      (k, i, schema.fields(i).dataType)
    }
    (a: InternalRow, b: InternalRow) => {
      var res = 0
      val it = ks.iterator
      while (res == 0 && it.hasNext) {
        val (k, i, dt) = it.next()
        val (an, bn) = (a.isNullAt(i), b.isNullAt(i))
        res =
          if (an && bn) 0
          else if (an) { if (k.nullsFirst) -1 else 1 }
          else if (bn) { if (k.nullsFirst) 1 else -1 }
          else {
            val c = dt match {
              case LongType | TimestampType =>
                java.lang.Long.compare(a.getLong(i), b.getLong(i))
              case IntegerType | DateType =>
                Integer.compare(a.getInt(i), b.getInt(i))
              case ShortType => java.lang.Short.compare(a.getShort(i), b.getShort(i))
              case ByteType => java.lang.Byte.compare(a.getByte(i), b.getByte(i))
              case DoubleType => java.lang.Double.compare(a.getDouble(i), b.getDouble(i))
              case FloatType => java.lang.Float.compare(a.getFloat(i), b.getFloat(i))
              case StringType => a.getUTF8String(i).compareTo(b.getUTF8String(i))
              case d: DecimalType =>
                a.getDecimal(i, d.precision, d.scale)
                  .compareTo(b.getDecimal(i, d.precision, d.scale))
              case other => throw new UnsupportedOperationException(
                s"top-N over $other (builder gates on orderable types)")
            }
            if (k.descending) -c else c
          }
      }
      res
    }
  }
}

object PushedTopN {
  /** Same orderable-scalar set as the MIN/MAX pushdown gate. */
  def orderable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | StringType | TimestampType | DateType | _: DecimalType => true
    case _ => false
  }
}

/** One pushed ungrouped aggregate; the scan emits exactly one partial
  * column per entry, in push order (Spark consumes them positionally).
  */
sealed trait PushedAgg extends Serializable {
  /** The partial's column type in the scan output. */
  def resultField(i: Int): StructField
}
object PushedAgg {
  case object CountAll extends PushedAgg {
    def resultField(i: Int): StructField =
      StructField(s"agg$i", LongType, nullable = false)
  }
  /** COUNT(col): non-null occurrences of one attribute. */
  final case class CountOf(field: StructField) extends PushedAgg {
    def resultField(i: Int): StructField =
      StructField(s"agg$i", LongType, nullable = false)
  }
  /** SUM(col); `wide` is the partial's type (long for the int family,
    * double for the float family — Spark's own sum widening).
    */
  final case class SumOf(field: StructField, wide: DataType) extends PushedAgg {
    def resultField(i: Int): StructField =
      StructField(s"agg$i", wide, nullable = true) // all-null segment → null
  }
  final case class MinOf(field: StructField) extends PushedAgg {
    def resultField(i: Int): StructField =
      StructField(s"agg$i", field.dataType, nullable = true) // empty segment → null
  }
  final case class MaxOf(field: StructField) extends PushedAgg {
    def resultField(i: Int): StructField =
      StructField(s"agg$i", field.dataType, nullable = true)
  }
  /** AVG(col), COMPLETE pushes only: Spark hands `Avg` to a source
    * exclusively when `supportCompletePushDown` accepted the whole
    * aggregation (otherwise it rewrites avg into sum/count and pushes
    * those partially), so the emitted value is the FINAL average.
    * Restricted to the integer family: Spark's own Average sums
    * non-decimal inputs as DOUBLE, which is order-independent and
    * exact for integers under 2^53 but last-ulp order-sensitive for
    * fractional inputs — declining those keeps pushed and unpushed
    * plans (and the DuckDB oracle) bit-identical.
    */
  final case class AvgOf(field: StructField) extends PushedAgg {
    def resultField(i: Int): StructField =
      StructField(s"agg$i", DoubleType, nullable = true) // empty group → null
  }
}

/** Names of the connector's hidden metadata columns (see
  * [[DynamoTable.metadataColumns]]); the partition reader synthesizes
  * their values when the pruned schema asks for them.
  */
object DynamoMetaCols {
  val Shard = "_shard"
  val Size = "_size"
  val names: Set[String] = Set(Shard, Size)
}

/** One scan segment ↔ one Spark input partition (A1). When the scan
  * plans one segment per store shard, the segment id IS the bucket id
  * of the table's key-hash layout — reported via [[HasPartitionKey]]
  * so Catalyst can group partitions for storage-partitioned joins.
  */
final case class DynamoInputPartition(
    segment: Int, totalSegments: Int, ratePerSegment: Double,
    padEmpty: Boolean = false,
    /** Read from the table's MATERIALIZED index copy instead of the
      * base shards — set at planning time only when the copy is
      * provably fresh ([[LocalKVStore.indexFreshness]]); segment
      * space is then the index's own hash layout.
      */
    viaIndex: Boolean = false,
    /** Journal-delta overlay for a DELTA-fresh index serve: the file
      * names (pinned at planning, so every task agrees on the
      * touched-key set) the copy has not folded. Empty = exact copy.
      */
    deltaFiles: Seq[String] = Nil,
    /** Write-through index journal (round files) pinned at planning —
      * the copy+journal composition every task replays identically.
      * Empty = no journal tier in this serve.
      */
    journalFiles: Seq[String] = Nil,
    /** `consistentScan`: the journal-file listing captured ONCE at
      * planning — every task (and every task RETRY) replays exactly
      * this set. None = live listing at execution (the default,
      * DynamoDB's eventually-consistent parallel Scan).
      */
    pinnedWal: Option[Seq[String]] = None)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(segment)
}

/** Per-query scan metrics, surfaced in the Spark UI (SQL tab): how
  * many wire items each scan read vs dropped store-side — the
  * observability DynamoDB exposes as `ScannedCount` vs `Count`.
  */
private object ScanMetrics {
  final class ItemsScanned extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "itemsScanned"
    override def description(): String = "wire items read from the store"
  }
  final class ItemsFiltered extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "itemsFiltered"
    override def description(): String = "items dropped by pushed filters before decode"
  }
  final case class TaskMetric(metricName: String, v: Long)
      extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }
  def task(scanned: Long, filtered: Long): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(TaskMetric("itemsScanned", scanned), TaskMetric("itemsFiltered", filtered))
}

object DynamoScan {
  /** DynamoDB parity: `ConsistentRead = true` against a GLOBAL
    * secondary index is a ValidationException — GSIs are maintained
    * asynchronously and have no consistent serve. A LOCAL index
    * honors it (the read demotes to the co-located base partition's
    * live journal fold — see [[DynamoScanBuilder.indexServe]]).
    * Checked at schema inference AND at every plan entry, so both
    * inferred-schema and user-schema reads fail loudly up front.
    */
  def rejectGsiConsistent(opts: DynamoOptions, index: IndexMeta): Unit =
    if (opts.stronglyConsistentReads && !index.local)
      throw new IllegalArgumentException(
        s"stronglyConsistentReads is not supported on global secondary " +
          s"index '${opts.indexName.getOrElse("")}' (DynamoDB rejects " +
          "ConsistentRead on GSIs; local secondary indexes support it)")

  /** The attribute set a projected index EXPOSES: both key pairs plus
    * the INCLUDE list. Reads naming anything else are an error on a
    * GSI and a transparent base-item fetch on an LSI.
    */
  def projectedCols(meta: TableMeta, index: IndexMeta): Option[Set[String]] =
    index.projection.map(incl =>
      Set(meta.hashKey) ++ meta.rangeKey ++
        Set(index.hashKey) ++ index.rangeKey ++ incl)

  /** ONE definition of the full-scan segment count, shared by
    * [[DynamoScan.outputPartitioning]] and
    * [[DynamoScan.planInputPartitions]]: if these ever drifted, the
    * scan could claim a bucket layout while planning different
    * segments — silently wrong results, not a plan error.
    *
    * `readPartitions` when set; otherwise
    * `min(shards, defaultParallelism, max(bytes / maxPartitionBytes,
    * slots))`, where `slots` is the planning session's
    * `defaultParallelism` — the reference's rounding up to the
    * session's parallelism (A2), so a table far below
    * `maxPartitionBytes` still scans one segment per core instead of
    * as one task. Every segment reads a disjoint shard set (and only
    * those shards' journal files), so widening changes the task count,
    * never what is read.
    */
  def fullScanSegments(store: LocalKVStore, meta: TableMeta, opts: DynamoOptions): Int =
    fullScanSegments(meta, opts, store.sizeBytes(opts.tableName))

  /** [[fullScanSegments]] over an already-listed stored size, read
    * only when `readPartitions` is unset.
    */
  def fullScanSegments(meta: TableMeta, opts: DynamoOptions, tableBytes: => Long): Int =
    segments(meta, opts, sessionSlots, tableBytes)

  /** One partition's share of the read (or write) budget —
    * `targetCapacity` × the table's throughput — across `n`
    * concurrent partitions, floored at 0.1 units/s.
    */
  def partitionRate(opts: DynamoOptions, meta: TableMeta, n: Int): Double =
    math.max(0.1, opts.targetCapacity *
      opts.throughput.getOrElse(meta.throughput).toDouble / math.max(1, n))

  /** The segment count the stored size alone asks for (no slot
    * floor): ONE exactly when neither `readPartitions` nor the stored
    * bytes ask for more. The pushed LIMIT/OFFSET promise
    * ([[DynamoScanBuilder.pushOffset]]) keys on this, so a small
    * table's page stays one pinned segment however wide the session
    * is.
    */
  def sizeSegments(store: LocalKVStore, meta: TableMeta, opts: DynamoOptions): Int =
    segments(meta, opts, floor = 1L, store.sizeBytes(opts.tableName))

  private def segments(meta: TableMeta, opts: DynamoOptions, floor: Long,
      tableBytes: => Long): Int =
    opts.readPartitions.getOrElse(math.min(
      math.min(meta.shards, opts.defaultParallelism).toLong,
      math.max(floor, tableBytes / opts.maxPartitionBytes)).toInt)

  /** Task slots of the session planning the scan (driver side): a
    * table smaller than `slots * maxPartitionBytes` still spreads over
    * every core. 1 when no session is active (planning outside Spark).
    */
  private def sessionSlots: Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .fold(1L)(_.sparkContext.defaultParallelism.toLong)

  /** The placement-key column set for a reported bucket transform:
    * partition key alone under layout 2 (composite tables join
    * shuffle-free on just the partition key), the full composite
    * under legacy layout 1 (whose files were placed by hash|range).
    * Shared with [[DynamoJoinScan]] — a pushed join's output stays
    * keyed by its PROBE side's placement key.
    */
  def placementCols(meta: TableMeta): Seq[String] =
    if (meta.layout >= 2) Seq(meta.hashKey)
    else Seq(meta.hashKey) ++ meta.rangeKey

  private[dynamo] def conjuncts(f: Filter): Seq[Filter] = f match {
    case org.apache.spark.sql.sources.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Values `filters` pin `attr` to by equality: those of the first
    * non-null `=`/`IN` conjunct on it, the one key-shard pruning uses.
    */
  def pinnedValues(filters: Seq[Filter], attr: String): Option[Seq[Any]] =
    filters.flatMap(conjuncts).collectFirst {
      case org.apache.spark.sql.sources.EqualTo(a, v) if a == attr && v != null => Seq(v)
      case org.apache.spark.sql.sources.In(a, vs) if a == attr && vs.nonEmpty &&
        !vs.contains(null) => vs.toSeq
    }

  /** How many primary keys `filters` pin: the product of the hash and
    * sort keys' [[pinnedValues]] counts, or None when a key attribute
    * is not pinned or a pinned value has no key encoding (the scan
    * would then not prune to the owning shards). The GetItem /
    * BatchGetItem shape that [[DynamoScanBuilder.build]] serves on
    * the driver.
    */
  def pinnedKeyCount(filters: Seq[Filter], meta: TableMeta): Option[Long] =
    (Seq(meta.hashKey) ++ meta.rangeKey).foldLeft(Option(1L)) { (acc, attr) =>
      for {
        n <- acc
        vs <- pinnedValues(filters, attr)
        if vs.forall(v => PageIndex.literalAttr(v).isDefined)
      } yield n * vs.length
    }
}

final class DynamoScan(
    opts: DynamoOptions, schema: StructType, pushed: Array[Filter],
    limit: Option[Int] = None, aggs: Seq[PushedAgg] = Nil,
    topN: Option[PushedTopN] = None, grouped: Option[PushedGroupBy] = None,
    adv: Seq[PredicateV2.VPred] = Nil, pushedOffset: Option[Int] = None,
    pinSingleSegment: Boolean = false, sample: Option[PushedSample] = None,
    metaNames: Set[String] = DynamoMetaCols.names,
    /** Builder-pinned serve-via-index decision: `Some(b)` = the
      * negotiation already decided (and possibly claimed aggregate
      * completeness over the index layout) — planning MUST honor it;
      * `None` = directly-constructed scan, decide at plan time
      * (legacy behavior, no completeness claim can exist).
      */
    serveViaIndex: Option[Boolean] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering with SupportsReportPartitioning {

  /** Runtime (dynamic-pruning) filters: Spark may inject join-key
    * predicates discovered at runtime — e.g. the `IN` set from the
    * build side of a broadcast join — into this scan. Implemented on
    * the V2 `Predicate` interface (the same family the static push
    * speaks): v1-expressible predicates ride the existing machinery —
    * [[keyShards]] shard pruning sees a runtime key-IN exactly like a
    * static one, so a `fact ⋈ dynamo` join touches only the shards the
    * build side names — and the v2-only residue evaluates store-side
    * via [[PredicateV2.eval]]. Any attribute is filterable (evaluation
    * is on the wire item, pre-decode). Predicates arrive after
    * planning but before readers are created; non-translatable ones
    * are dropped (runtime filters are an optimization — the join that
    * produced them still applies them exactly).
    */
  private var runtime: Array[Filter] = Array.empty
  private var runtimeAdv: Seq[PredicateV2.VPred] = Nil

  override def filterAttributes(): Array[v2expr.NamedReference] = {
    // metadata columns (`_shard`/`_size`) are synthesized AFTER the
    // wire-item filter evaluation — a runtime filter on them would see
    // a missing attribute and drop every row. And only columns that
    // SURVIVE into readSchema() may be advertised: under aggregate
    // pushdown the scan's output is [group fields, aggN] — Spark's
    // dynamic-pruning planner resolves these references against that
    // output and fails the whole query on a name it cannot find
    // (group fields are real wire attributes, so runtime filters on
    // them still evaluate store-side; aggN are synthetic).
    val out = readSchema().fieldNames.toSet
    schema.fieldNames
      .filter(n => out(n) && !metaNames(n))
      .map(v2expr.Expressions.column)
  }

  override def filter(predicates: Array[v2filter.Predicate]): Unit =
    // A fully-pushed LIMIT/OFFSET counts post-filter rows: Spark may
    // have removed its own Limit/Offset on that promise, so letting a
    // runtime filter drop rows below the count would shift the window
    // onto rows the original plan never returned. Decline runtime
    // filters then — correctness over pruning (these scans are tiny).
    if (!pinSingleSegment) {
      val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
      val tr = predicates.toSeq
        // the scan schema (unlike the builder's table schema) can
        // contain selected metadata columns, so translate alone would
        // accept a `_shard` predicate — guard explicitly
        .filterNot(_.references().exists(r =>
          r.fieldNames().length == 1 && metaNames(r.fieldNames().head)))
        .flatMap(p => PredicateV2.translate(p, schema, ansi))
      runtime = tr.collect { case Left(f) => f }.toArray
      runtimeAdv = tr.collect { case Right(vp) => vp }
    }

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ScanMetrics.ItemsScanned, new ScanMetrics.ItemsFiltered)

  override def readSchema(): StructType = grouped match {
    case Some(g) =>
      StructType(g.fields ++ aggs.zipWithIndex.map { case (a, i) => a.resultField(i) })
    case None if aggs.nonEmpty =>
      StructType(aggs.zipWithIndex.map { case (a, i) => a.resultField(i) })
    case None => schema
  }

  // A cdc=true batch read would surface a phantom always-null `_op`
  // column (the op tag exists only on journal records, which the batch
  // scan merges away) — fail fast instead of returning misleading data.
  override def toBatch: Batch = {
    require(!opts.cdc,
      "cdc=true is a streaming option: use spark.readStream.format(\"dynamo\") " +
        "for the change feed, or drop the option for a batch snapshot read")
    this
  }
  override def description(): String =
    s"dynamo:${opts.tableName} PushedFilters: [${pushed.mkString(", ")}], " +
      (if (adv.nonEmpty) s"PushedV2Predicates: [${adv.mkString(", ")}], " else "") +
      limit.map(l => s"PushedLimit: $l, ").getOrElse("") +
      pushedOffset.map(o => s"PushedOffset: $o, ").getOrElse("") +
      topN.map(t => s"PushedTopN: [${t.describe}], ").getOrElse("") +
      sample.map(s => s"PushedSample: ${s.describe}, ").getOrElse("") +
      (if (aggs.nonEmpty || grouped.isDefined) {
        val names = aggs.map {
          case PushedAgg.CountAll => "COUNT(*)"
          case PushedAgg.CountOf(f) => s"COUNT(${f.name})"
          case PushedAgg.SumOf(f, _) => s"SUM(${f.name})"
          case PushedAgg.MinOf(f) => s"MIN(${f.name})"
          case PushedAgg.MaxOf(f) => s"MAX(${f.name})"
          case PushedAgg.AvgOf(f) => s"AVG(${f.name})"
        }
        grouped.map(g =>
          s"PushedGroupBy: [${g.fields.map(_.name).mkString(", ")}] " +
            s"(${if (g.complete) "complete" else "partial"}), ").getOrElse("") +
          s"PushedAggregates: [${names.mkString(", ")}], "
      } else "") +
      s"ReadSchema: ${readSchema().catalogString}"

  /** Stored-size statistics (DynamoDB's `DescribeTable` table size) so
    * Catalyst's join planning can auto-broadcast a small table — at
    * cluster scale this is what turns `fact ⋈ small_dynamo_dim` into a
    * broadcast join instead of shuffling the fact side.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    // A pushed sample shrinks the scan's output proportionally — scale
    // the size estimate so a sampled big table can still auto-broadcast.
    private val store = new LocalKVStore(opts.path)
    private lazy val statsMeta = store.describe(opts.tableName)
    // Key/zone shard pruning folds into the estimate too: a
    // hash-pinned read reports the owning shard's bytes, not the
    // table's — so a Query-shaped side of a join auto-broadcasts at
    // its true size. Same pruning composition the planner uses; the
    // window's sub-shard skip is NOT credited (pages are a reader
    // decision), which keeps the estimate an over-approximation.
    private val surviving: Option[Set[Int]] =
      if (opts.indexName.isDefined) None
      else (keyShards(store, statsMeta), zoneShards(store, statsMeta)) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (Some(a), None)    => Some(a)
        case (None, z)          => z
      }
    private val bytes = {
      val raw = surviving match {
        case Some(keep) => store.sizeBytesShards(opts.tableName, keep)
        case None => store.sizeBytes(opts.tableName)
      }
      sample.fold(raw)(s => math.max(1L, (raw * s.fraction).toLong))
    }
    // Row count from the sidecar item counters (DescribeTable's
    // ItemCount) — reported only when it is EXACT: journal empty, so
    // the base counts ARE the merged view, and no TTL/snapshot/GSI
    // view hides or adds rows (a pushed sample declines too — its
    // scaled row count would be an estimate, not this exact figure).
    // Catalyst's cost models then see true cardinality, not just
    // bytes. Spark reads these statistics AFTER pushdown, as the
    // stats of the post-pushdown scan: a pushed aggregate/group-by/
    // limit/top-N/offset changes the scan's OUTPUT row count, so any
    // of them declines — only a plain row scan reports the table
    // count. Residual filters shrink the actual output below this,
    // which is the safe direction for planning.
    private val rows: Option[Long] =
      if (sample.isEmpty && aggs.isEmpty && grouped.isEmpty &&
          limit.isEmpty && topN.isEmpty && pushedOffset.isEmpty &&
          opts.ttlAttribute.isEmpty && opts.asOfSeq.isEmpty &&
          opts.indexName.isEmpty && store.journalEmpty(opts.tableName)) {
        val meta = statsMeta
        val per = store.tableZoneStats(opts.tableName, meta.shards)
        // Under shard pruning, sum only the surviving shards' exact
        // counters — still an over-approximation of the filtered
        // output (residual filters shrink it further), but tighter by
        // the pruned fraction.
        val keep = surviving.getOrElse((0 until meta.shards).toSet)
        if (keep.forall(sh => sh >= 0 && sh < meta.shards &&
            per(sh).exists(_.items.isDefined)))
          Some(keep.toSeq.map(sh => per(sh).get.items.get).sum)
        else None
      } else None
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
    override def numRows(): util.OptionalLong =
      rows.fold(util.OptionalLong.empty())(util.OptionalLong.of)

    /** Column-level statistics for Catalyst's CBO, folded from the
      * same zone-map sidecars ([[ShardStats]]) that answer aggregates:
      * per-attribute null counts (items − present) and numeric
      * min/max. Reported only under the EXACT-row gate above (journal
      * empty, no view options, no output-shaping pushdown) — then the
      * base sidecars describe the merged view precisely. Per
      * attribute, every shard must either track it or have a COMPLETE
      * attr map (absence from a complete map proves zero occurrences;
      * absence from a saturated map proves nothing — decline).
      * Min/max only for single-family numeric attrs whose sidecar
      * bounds decode exactly through the same integral/fractional
      * rules as the SUM answer path; pushed filters may shrink the
      * real output below these stats, the same safe over-approximation
      * direction `numRows` documents. With `spark.sql.cbo.enabled`,
      * join/filter selectivity then estimates from true ranges and
      * null fractions instead of bytes alone.
      */
    override def columnStats(): util.Map[v2expr.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val out = new util.HashMap[v2expr.NamedReference, ColumnStatistics]()
      if (rows.isEmpty) return out
      val total = rows.get
      val meta = statsMeta
      // Same kept-shard subset as `rows` — mixing all-shard attr
      // stats with a pruned row total would yield nullCount > rows.
      val keep = surviving.getOrElse((0 until meta.shards).toSet)
      val per = store.tableZoneStats(opts.tableName, meta.shards)
        .zipWithIndex.collect { case (s, i) if keep(i) => s }.flatten
      def cvt(dt: DataType, v: BigDecimal, whole: Boolean): Option[Object] = dt match {
        case LongType if whole && v.isValidLong => Some(java.lang.Long.valueOf(v.toLong))
        case IntegerType if whole && v.isValidInt => Some(java.lang.Integer.valueOf(v.toInt))
        case DoubleType => Some(java.lang.Double.valueOf(v.toDouble))
        case _ => None
      }
      schema.fields.iterator.filterNot(f => metaNames(f.name)).foreach { f =>
        val reliable = per.nonEmpty &&
          per.forall(s => s.attrs.contains(f.name) || s.complete)
        if (reliable) {
          val folded = per.map(_.attrs.getOrElse(f.name, AttrStats.empty))
            .reduce(_ union _)
          val nullCnt = folded.present.map(p => math.max(0L, total - p))
          val minMax = if (folded.other || folded.nOpen || folded.sMin.isDefined) None
            else for {
              lo <- folded.nMin; hi <- folded.nMax
              l <- cvt(f.dataType, lo, folded.nWhole)
              h <- cvt(f.dataType, hi, folded.nWhole)
            } yield (l, h)
          // NDV from the mergeable per-shard HLL sketches (±~3.2%):
          // every shard must carry one (pre-field sidecars decline).
          // Clamped by `present` — a distinct count can never exceed
          // the non-null occurrences — and floored at 1 when any
          // value exists. Estimation-grade by contract (CBO input,
          // never an answer path).
          val ndv = for {
            h <- folded.hll
            p <- folded.present
            if p > 0L
          } yield math.min(AttrStats.hllEstimate(h), p)
          if (nullCnt.isDefined || minMax.isDefined || ndv.isDefined)
            out.put(v2expr.Expressions.column(f.name), new ColumnStatistics {
              override def nullCount(): util.OptionalLong =
                nullCnt.fold(util.OptionalLong.empty())(util.OptionalLong.of)
              override def distinctCount(): util.OptionalLong =
                ndv.fold(util.OptionalLong.empty())(util.OptionalLong.of)
              override def min(): java.util.Optional[Object] =
                minMax.fold(java.util.Optional.empty[Object]())(m => java.util.Optional.of(m._1))
              override def max(): java.util.Optional[Object] =
                minMax.fold(java.util.Optional.empty[Object]())(m => java.util.Optional.of(m._2))
            })
        }
      }
      out
    }
  }

  /** Storage-partitioned layout report: when the scan plans ONE
    * segment per store shard, its output is exactly the table's
    * bucket-by-primary-key layout — declared as
    * `KeyGroupedPartitioning(bucket(shards, keyCols), shards)`. Two
    * tables sharded on the same key count then join with ZERO
    * shuffle on either side (storage-partitioned join,
    * `spark.sql.sources.v2.bucketing.enabled`), and aggregations
    * keyed by the primary key reuse the layout the same way — at
    * 100 TB this removes the dominant repeated cost of re-shuffling
    * a fact table for every key-joined query. A scan plans per-shard
    * when `max(bytes/maxPartitionBytes, session slots) >= shards`
    * (and `defaultParallelism >= shards`), so the declaration is
    * automatic at the scale it matters, and on a session at least as
    * wide as the shard count; merged-segment scans (a small table on
    * a narrower session), GSI views (row placement
    * follows the BASE key, not the index key), COUNT pushdown, and a
    * pruned-away key column all fall back to UnknownPartitioning.
    *
    * Reported from static planning state only (pushed filters, not
    * runtime ones): runtime filtering may prune shards later, which
    * preserves per-shard grouping but not the declared partition
    * count, and Catalyst resolves that against the ACTUAL partitions
    * at execution.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val store = new LocalKVStore(opts.path)
    val meta = store.describe(opts.tableName)
    if (reportsPerShard(store, meta)) {
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array[v2expr.Expression](
          v2expr.Expressions.bucket(meta.shards, DynamoScan.placementCols(meta): _*)),
        meta.shards)
    } else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        DynamoScan.fullScanSegments(store, meta, opts))
  }

  /** True when this scan's segments ARE the table's shard layout — the
    * condition under which [[outputPartitioning]] declares the bucket
    * transform and [[planInputPartitions]] must keep the segment↔shard
    * identity (including for key-pruned subsets — see the pad rule).
    * Every key type [[LocalKVStore.keyOf]] accepts (string, number,
    * binary) has a matching [[DynamoBucketFunction]] branch, so a plan
    * that evaluates the function (`spark.sql.sources.v2.bucketing
    * .shuffle.enabled` shuffling one mismatched side) lands rows on
    * the same shard the store files use.
    */
  private def reportsPerShard(store: LocalKVStore, meta: TableMeta): Boolean =
    reportsPerShard(meta, store.sizeBytes(opts.tableName))

  private def reportsPerShard(meta: TableMeta, tableBytes: => Long): Boolean =
    opts.indexName.isEmpty &&
      !pinSingleSegment && // limit/offset full-push pins one merged segment
      // ungrouped-agg output isn't keyed; a KEYED grouped push is —
      // its rows (final or flushed partials) stay keyed by the
      // placement key in their own shard's segment, so downstream
      // key-joins/aggs — including Spark's own final aggregate over a
      // bounded partial push — still reuse the layout
      ((aggs.isEmpty && grouped.isEmpty) || grouped.exists(_.keyed)) &&
      !opts.cdc &&
      DynamoScan.placementCols(meta).forall(readSchema().fieldNames.contains) &&
      // last: the only conjunct that may read the store
      DynamoScan.fullScanSegments(meta, opts, tableBytes) == meta.shards

  /** The session opted into partially-clustered storage-partitioned
    * joins (both `v2.bucketing` confs), the condition for the SPJ pad
    * partition in [[planInputPartitions]].
    */
  private def spjPadEnabled: Boolean = {
    val c = org.apache.spark.sql.internal.SQLConf.get
    c.getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean &&
      c.getConfString("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false").toBoolean
  }

  /** This scan declares the table's bucket layout to a session that
    * joins on it shuffle-free. A driver-served read
    * ([[DynamoLocalScan]]) declares no layout, so the builder keeps
    * such a read distributed: its join partner would shuffle instead.
    * `meta` and `tableBytes` are the builder's own metadata read.
    */
  private[dynamo] def declaresLayoutForSpj(meta: TableMeta, tableBytes: => Long): Boolean =
    spjPadEnabled && reportsPerShard(meta, tableBytes)

  /** Segment count = max(stored bytes / maxPartitionBytes, the
    * session's slots), clamped to the shard count and capped by
    * defaultParallelism, or forced by the `readPartitions` option —
    * the reference's partition-sizing arithmetic (A2)
    * [REF: connector/TableConnector.scala], see
    * [[DynamoScan.fullScanSegments]]. Computed on the driver once per
    * scan; each segment reads a disjoint set of store shards, so 1000
    * executors scan without coordination.
    *
    * Point-lookup fast path: shard placement is a pure function of the
    * primary key, so when the pushed (or runtime) filters pin the full
    * key — `EqualTo`/`In` on the hash key, plus the range key if the
    * table has one — the scan plans ONLY the shards those keys can
    * live in: the connector's `GetItem`/`Query` analogue (a key-pinned
    * read touches 1 shard instead of all of them, at any table size),
    * and each reader windows its owning shard to the pinned keys' pages
    * ([[ItemSource]]), hash-only tables included. A full-key
    * pin of at most [[PageIndex.maxHashWindows]] keys runs these same
    * partitions on the driver instead ([[DynamoLocalScan]]), with no
    * Spark job.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val store = new LocalKVStore(opts.path)
    val meta = store.describe(opts.tableName)
    // DynamoDB parity gate, before ANY fast path below can serve:
    // ConsistentRead on a GSI is a ValidationException; on a LOCAL
    // index it demotes copy-backed serves (including the sidecar
    // answer paths, whose statistics describe the possibly-lagging
    // copy) to the live base fold.
    opts.indexName.foreach(ix =>
      meta.indexes.get(ix).foreach(DynamoScan.rejectGsiConsistent(opts, _)))
    // one partition's share of the scan's read budget over n partitions
    def rate(n: Int): Double = DynamoScan.partitionRate(opts, meta, n)
    // Consistent parallel scan: capture the journal listing ONCE here
    // (driver side) and pin it into every base-path partition — all
    // tasks and all task RETRIES replay the same snapshot. Index
    // serves are snapshot-shaped already (static copy files + the
    // pinned delta list); under consistentScan the pin ALSO bounds
    // the delta overlay's touched-key image derivation, so the whole
    // index read reflects one listing.
    val pin: Option[Seq[String]] =
      if (opts.consistentScan) Some(store.walFileNames(opts.tableName))
      else None
    // A fully-pushed LIMIT/OFFSET was accepted on the promise of ONE
    // segment (a global count/skip); pin that plan here regardless of
    // what key-shard pruning or a size re-read would now say — a
    // re-split after the promise would count/skip PER segment,
    // silently wrong once Spark dropped its own operator.
    if (pinSingleSegment)
      return Array(DynamoInputPartition(0, 1, rate(1), pinnedWal = pin))
    statsAnswerPlan(store, meta, pin, rate).foreach(answer => return answer)
    // Materialized-GSI serve: when the copy is provably fresh — and
    // no read option needs BASE items (TTL liveness checks the base
    // item; snapshots address journal history the copy folded away) —
    // plan over the index's own hash layout, pruning to the owning
    // index shards when the index hash key is pinned (DynamoDB's GSI
    // Query shape). Stale or absent copies fall through to the
    // projected base-scan path below, unchanged. Builder-created
    // scans arrive with the decision PINNED (`serveViaIndex` Some):
    // negotiation may have claimed grouped-aggregate completeness
    // over the index layout, and honoring a plan-time re-check here
    // could demote the read to the base path where index-hash-keyed
    // groups span segments — duplicated "final" rows. The pinned
    // snapshot read is DynamoDB's eventually-consistent GSI contract.
    opts.indexName.foreach { ixName =>
      // Freshness computed ONCE per plan: the serve decision and the
      // pinned delta file list must come from the same listing.
      val freshness =
        if (meta.indexes.contains(ixName))
          store.indexFreshness(opts.tableName, ixName)
        else LocalKVStore.IndexStale
      val serve = serveViaIndex.getOrElse(
        opts.ttlAttribute.isEmpty && opts.asOfSeq.isEmpty &&
          // a consistent LSI read never serves the copy snapshot —
          // the base path's reader-time journal fold IS the
          // consistent serve (GSIs threw at plan entry)
          !opts.stronglyConsistentReads &&
          meta.indexes.contains(ixName) && (freshness match {
            case LocalKVStore.IndexExact => true
            case LocalKVStore.IndexDelta(_, bytes) =>
              bytes <= opts.gsiDeltaMaxBytes && opts.gsiDeltaMaxBytes > 0
            case LocalKVStore.IndexJournal(_, _, bytes, _) =>
              bytes <= opts.gsiDeltaMaxBytes && opts.gsiDeltaMaxBytes > 0
            case LocalKVStore.IndexStale => false
          }))
      if (serve && meta.indexes.contains(ixName)) {
        // Pinned delta overlay: every task drops the same touched-key
        // set. Under a BUILDER-pinned serve (completeness claimed) a
        // plan-time Stale cannot demote to the base path — the copy
        // snapshot serves alone, today's eventually-consistent
        // behavior; a delta found here overlays even if it outgrew
        // the negotiation-time budget (more work, still exact).
        // Write-through tier: pin the journal round files alongside
        // the (usually empty) un-applied delta. Under a consistentScan
        // PIN the journal is DECLINED outright — rounds may fold WAL
        // files published after the pin listing, and a round file
        // cannot be partially stripped — falling back to the copy +
        // the pin-intersected post-BUILD delta (exactly the pre-
        // journal pinned behavior, still one-listing-consistent).
        val (journalRounds: Seq[String], deltaListed: Seq[String]) =
          freshness match {
            case LocalKVStore.IndexDelta(files, _) => (Nil, files)
            case LocalKVStore.IndexJournal(rounds, delta, _, buildDelta) =>
              if (pin.isDefined) (Nil, buildDelta) else (rounds, delta)
            case _ => (Nil, Nil)
          }
        // consistentScan: the pin and the freshness delta come from
        // two directory listings, and a WAL file published between
        // them would sit in the delta but not the pin — overlaying it
        // (touched-key drops + fresh images) leaks a post-pin write
        // into a scan that promises one-listing semantics. Strip the
        // overlay to pin-listed files. Sound because IndexDelta
        // implies an unchanged compaction watermark since the build:
        // the journal was append-only between the two listings, so
        // pin ⊆ freshness listing and the stripped set is exactly the
        // pin listing's >foldedMax suffix — the copy plus this overlay
        // reflects precisely the pinned snapshot.
        val delta: Seq[String] = pin match {
          case Some(p) => val ps = p.toSet; deltaListed.filter(ps.contains)
          case None    => deltaListed
        }
        // Zone-map pruning over the INDEX copy's own sidecars
        // (`gsi-zstat-*`, exact at every build): base-shard stats say
        // nothing about an index shard, but the copy's do — a pushed
        // conjunct on a projected attribute skips index shards whose
        // value range excludes it. Only while the serve is
        // OVERLAY-FREE: delta images aren't covered by the copy's
        // stats, so any delta disables the skip (never the results).
        def zoneSurviving(cands: Set[Int]): Set[Int] = {
          val conjuncts = pushed ++ runtime
          if (delta.nonEmpty || !opts.zonePruning || conjuncts.isEmpty) cands
          else cands.filter { sh =>
            store.indexZoneStats(opts.tableName, ixName, sh) match {
              case Some(st) => conjuncts.forall(ZoneMap.mayMatch(_, st))
              case None     => true
            }
          }
        }
        // An index-key pin, or a strict subset of live copy shards,
        // plans one partition per live shard so the skip is real;
        // otherwise the full-scan segmentation.
        val keyed = indexKeyShards(store, meta, meta.indexes(ixName))
        val live = zoneSurviving(keyed.getOrElse((0 until meta.shards).toSet))
        val (segments, n) =
          if (keyed.isDefined || live.size < meta.shards) (live.toSeq.sorted, meta.shards)
          else {
            val n = DynamoScan.fullScanSegments(store, meta, opts)
            (0 until n, n)
          }
        return segments.map(i =>
          DynamoInputPartition(i, n, rate(segments.size), viaIndex = true,
            deltaFiles = delta, journalFiles = journalRounds,
            pinnedWal = pin): InputPartition).toArray
      }
    }
    // Key pruning and zone-map pruning compose by intersection: both
    // produce "shards that could hold a qualifying item", both plan
    // one partition per surviving shard in the full shard space.
    val candidateShards: Option[Set[Int]] = (keyShards(store, meta), zoneShards(store, meta)) match {
      case (Some(a), Some(b)) => Some(a.intersect(b))
      case (Some(a), None)    => Some(a)
      case (None, zoned)      => zoned
    }
    candidateShards match {
      case Some(shards) =>
        // One partition per candidate shard; segment space = shard space.
        val live = shards.toArray.sorted
          .map(sh => DynamoInputPartition(sh, meta.shards, rate(shards.size),
            pinnedWal = pin): InputPartition)
        // Partially-clustered SPJ pad: a key-pinned scan pruned to ONE
        // shard would surface as Spark's SinglePartition (the exec
        // collapses any 1-partition scan), forfeiting the declared
        // bucket layout — and with it the shuffle-free join against a
        // full-shard partner (`spark.sql.sources.v2.bucketing
        // .pushPartValues.enabled` aligns mismatched partition-value
        // sets, but only between two KeyGroupedPartitionings). One
        // deliberately-empty partition for a neighbouring shard keeps
        // the layout visible. Correct by construction: shard placement
        // is a pure function of the key, so an honest scan of the pad
        // shard under the pushed key filter returns zero rows — the
        // pad just skips the I/O. Cost: one no-op task — paid only
        // when the session opted into SPJ (both v2.bucketing confs);
        // otherwise a point lookup stays exactly one task.
        if (live.length <= 1 && spjPadEnabled && reportsPerShard(store, meta)) {
          // (length 0 happens when zone pruning excludes every shard —
          // the pad keeps the declared bucket layout non-degenerate)
          val pad = (shards.headOption.getOrElse(-1) + 1) % meta.shards
          live :+ (DynamoInputPartition(pad, meta.shards, rate(shards.size), padEmpty = true,
            pinnedWal = pin): InputPartition)
        } else live
      case None =>
        val n = DynamoScan.fullScanSegments(store, meta, opts)
        Array.tabulate(n)(i => DynamoInputPartition(i, n, rate(n), pinnedWal = pin))
    }
  }

  /** Zone-map pruning: shards whose folded [[ShardStats]] leave a
    * pushed conjunct possibly-true; `None` = nothing pruned (no
    * applicable predicate, stats unavailable, or every shard
    * survives — the plan then keeps its normal full-scan
    * segmentation). Sound because every stats record over-approximates
    * the live values and [[ZoneMap.mayMatch]] only prunes predicates
    * whose truth REQUIRES an in-range stored value. Skipped for GSI
    * views (the scan filter references index-projected attrs but the
    * stats describe base items — same attrs, same values, yet the
    * sparse-index skip means absence semantics differ; conservative)
    * and under `zonePruning=false`.
    */
  private def zoneShards(store: LocalKVStore, meta: TableMeta): Option[Set[Int]] = {
    // Index reads: base zone stats say nothing about a GSI's shards,
    // but a LOCAL index reads the base partitions themselves (same
    // items, same attributes — the sparse rule only REMOVES rows), so
    // base-shard zone pruning stays sound for it.
    if (opts.indexName.exists(ix => !meta.indexes.get(ix).exists(_.local)) ||
        !opts.zonePruning) return None
    val conjuncts = pushed ++ runtime
    if (conjuncts.isEmpty) return None
    val stats = store.tableZoneStats(opts.tableName, meta.shards)
    val surviving = (0 until meta.shards).filter { sh =>
      stats(sh) match {
        case Some(st) => conjuncts.forall(ZoneMap.mayMatch(_, st))
        case None     => true
      }
    }.toSet
    if (surviving.size < meta.shards) Some(surviving) else None
  }

  /** Statistics-answered aggregates: an aggregation that statistics
    * can answer exactly, with nothing below it that they cannot see,
    * folds from store metadata with zero item reads — the zone maps
    * bulk load and compaction write per shard, and the per-page
    * statistics every sorted base and index-copy page records. One
    * gate ([[answerKeys]], no store read), then one of three fold
    * sources, each giving [[ShardStats]] per group:
    *  - no pushed filter, ungrouped ([[zoneFold]]): the CLEAN shards'
    *    zone maps, with the journal-dirty shards still to scan — at
    *    100 TB, `SELECT min(ts), max(ts) FROM t` under ongoing writes
    *    costs O(shards) sidecar reads plus a scan of just the hot
    *    shards: the Parquet-footer-statistics move, applied to the
    *    store;
    *  - pushed conjuncts that are EXACTLY a key window (hash =/IN,
    *    sort-key bounds) over the base table or an EXACT index copy
    *    ([[windowFold]]): one fold per window from the page
    *    directories — `SELECT min(x), count(*) WHERE hk = ?` is
    *    DynamoDB Query composed with row-group statistics;
    *  - no pushed filter, `GROUP BY` the hash key ([[pureGroupFold]]):
    *    the groups enumerate from the pure pages' own hash bounds.
    * One emit: an ungrouped answer is one [[DynamoZoneAnswerPartition]]
    * (plus the dirty-shard scans, whose partials Spark folds with it);
    * grouped answers are [[DynamoGroupAnswerPartition]]s — one per
    * shard when the scan reports its per-shard layout, so each group
    * row lands on its owning shard's segment and SPJ layout claims
    * stay honored. A proof that fails anywhere (a boundary page, a
    * journal delta on a folded shard, a pending transaction, a copy
    * below Exact, a statistic whose typed decode is not exact)
    * declines the whole plan to the ordinary scan: never a wrong
    * answer, only a cheaper one when provable.
    */
  private def statsAnswerPlan(store: LocalKVStore, meta: TableMeta,
      pin: Option[Seq[String]], rate: Int => Double): Option[Array[InputPartition]] = {
    val (hashKey, rangeKey, index) = answerKeys(meta).getOrElse(return None)
    def windows = windowFold(store, meta, hashKey, rangeKey, index)
    grouped match {
      case None =>
        val (stats, scan) =
          if (pushed.isEmpty) zoneFold(store, meta).getOrElse(return None)
          else (windows.getOrElse(return None).map(_._3)
            .foldLeft(ShardStats.empty)(_ union _), Set.empty[Int])
        val vals = answerValues(stats).getOrElse(return None)
        Some((DynamoZoneAnswerPartition(vals) +: scan.toSeq.sorted.map(sh =>
          DynamoInputPartition(sh, meta.shards, rate(scan.size),
            pinnedWal = pin): InputPartition)).toArray)
      case Some(_) =>
        val folds = (if (pushed.isEmpty) pureGroupFold(store, meta) else windows)
          .getOrElse(return None)
        val rows = folds.map { case (sh, h, st) =>
          (sh, (h, answerValues(st).getOrElse(return None))) }
        Some(if (reportsPerShard(store, meta))
          Array.tabulate[InputPartition](meta.shards)(sh =>
            DynamoGroupAnswerPartition(sh, rows.collect { case (`sh`, r) => r }))
        else Array(DynamoGroupAnswerPartition(0, rows.map(_._2))))
    }
  }

  /** The statistics-answer gate, from the pushed state and the table
    * metadata alone: aggregates only MIN/MAX/COUNT and exact SUMs
    * (long or decimal; double sums are order-sensitive), plus AVG when
    * grouped (it arrives only on complete pushes, under the 2^53 proof
    * in [[answerValues]]); no CDC, snapshot, TTL or sample view; no
    * v2-only or runtime predicate; `zonePruning` on; a grouping, if
    * any, on exactly the hash key. An index read also needs pushed
    * key conjuncts, no `stronglyConsistentReads` (consistent reads
    * fold the live base: copy statistics describe a plan-time
    * snapshot, not reader-time state) and a serve the builder did not
    * pin to the base path. Returns the hash key, sort key and index
    * the folds work in; None declines.
    */
  private def answerKeys(meta: TableMeta): Option[(String, Option[String], Option[String])] = {
    val keys = opts.indexName match {
      case None => (meta.hashKey, meta.rangeKey, None)
      case Some(name) =>
        if (pushed.isEmpty || opts.stronglyConsistentReads ||
            !serveViaIndex.forall(identity)) return None
        val ix = meta.indexes.getOrElse(name, return None)
        (ix.hashKey, ix.rangeKey, Some(name))
    }
    val answerable = aggs.nonEmpty && !opts.cdc && opts.asOfSeq.isEmpty &&
      opts.ttlAttribute.isEmpty && opts.zonePruning && sample.isEmpty &&
      adv.isEmpty && runtime.isEmpty && runtimeAdv.isEmpty &&
      grouped.forall(_.fields.map(_.name) == Seq(keys._1)) &&
      aggs.forall {
        case _: PushedAgg.MinOf | _: PushedAgg.MaxOf => true
        case PushedAgg.CountAll | _: PushedAgg.CountOf => true
        case PushedAgg.SumOf(_, LongType | _: DecimalType) => true
        case _: PushedAgg.AvgOf => grouped.isDefined
        case _ => false
      }
    if (answerable) Some(keys) else None
  }

  /** Fold source 1: the CLEAN shards' zone maps folded into one
    * [[ShardStats]], plus the dirty-shard set that must still be
    * scanned; None declines. A shard is clean when it has no journal
    * files (its base sidecar is exact — bulk load / compaction wrote
    * it from the live items) and its stats are readable; unreadable
    * clean shards just join the scan set. Transaction journal files
    * (`-sall`) can land ops in ANY shard, so their presence declines
    * everything, as does a plan with no clean shard left.
    */
  private def zoneFold(store: LocalKVStore,
      meta: TableMeta): Option[(ShardStats, Set[Int])] = {
    val dirty = store.journalShards(opts.tableName)
    if (dirty.contains(LocalKVStore.TxnShard)) return None
    val perShard = store.tableZoneStats(opts.tableName, meta.shards)
    val scanSet = scala.collection.mutable.Set.empty[Int] ++ dirty
    var folded = ShardStats.empty
    (0 until meta.shards).foreach { sh =>
      if (!scanSet(sh)) perShard(sh) match {
        case Some(st) => folded = folded.union(st)
        case None => scanSet += sh // unreadable sidecar: just scan it
      }
    }
    if (scanSet.size >= meta.shards) None // nothing answerable
    else Some((folded, scanSet.toSet))
  }

  /** Fold source 2: the page statistics of a fully-contained key
    * window set, over the base table (`index` None) or a materialized
    * index copy — `(owning shard, pinned hash value, stats)` per
    * window that holds pages, one window per pinned hash value (= per
    * group). None declines; every requirement is provable from
    * sidecars alone:
    *  - every pushed conjunct participates in the window shape (hash
    *    =/IN, sort-key range/begins_with) — anything else constrains
    *    rows WITHIN pages, which page grain cannot see;
    *  - base: the table has a sort key and partition-key placement,
    *    the owning shards have no journal (their pages are the whole
    *    truth) and no transaction file is pending anywhere; index: the
    *    copy is EXACT (no delta, no journal overlay), so its pages
    *    describe exactly the index view;
    *  - each owning shard has a valid page directory (a rewrite
    *    racing this read fails its size/mtime validation) whose
    *    window-intersecting pages ALL carry stats and each lie wholly
    *    inside the window they intersect (compaction and index builds
    *    both align pages to hash-group boundaries, so a large group's
    *    run is page-pure).
    * Windows have distinct hash values, so a contained page belongs
    * to exactly one window, and the ungrouped answer is the union of
    * the per-window folds. A pinned value with no intersecting pages
    * holds no rows and yields no group (SQL GROUP BY semantics).
    */
  private def windowFold(store: LocalKVStore, meta: TableMeta, hashKey: String,
      rangeKey: Option[String], index: Option[String])
      : Option[Seq[(Int, AttrVal, ShardStats)]] = {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan,
      GreaterThanOrEqual, In, LessThan, LessThanOrEqual, StringStartsWith}
    val rk = rangeKey.getOrElse(return None)
    if (index.isEmpty && meta.layout < 2) return None
    val windowable = pushed.toSeq.flatMap(DynamoScan.conjuncts).forall {
      case EqualTo(a, v) => v != null && (a == hashKey || a == rk)
      case In(a, vs) => a == hashKey && vs != null && vs.nonEmpty
      case GreaterThan(a, v) => v != null && a == rk
      case GreaterThanOrEqual(a, v) => v != null && a == rk
      case LessThan(a, v) => v != null && a == rk
      case LessThanOrEqual(a, v) => v != null && a == rk
      case StringStartsWith(a, p) => p != null && a == rk
      case _ => false
    }
    if (!windowable) return None
    val windows = PageIndex.deriveWindowsWithValues(pushed.toSeq, hashKey, rangeKey)
    if (windows.isEmpty) return None
    val owning = index.fold(keyShards(store, meta))(ix =>
      indexKeyShards(store, meta, meta.indexes(ix))).getOrElse(return None)
    val exact = index match {
      case None =>
        val dirty = store.journalShards(opts.tableName)
        !dirty.contains(LocalKVStore.TxnShard) && !owning.exists(dirty.contains)
      case Some(ix) =>
        store.indexFreshness(opts.tableName, ix) == LocalKVStore.IndexExact
    }
    if (!exact) return None
    val folds = Array.fill[Option[(Int, ShardStats)]](windows.size)(None)
    owning.toSeq.sorted.foreach { sh =>
      val dir = store.pageDirectory(opts.tableName, sh, index).getOrElse(return None)
      dir.pages.foreach { p =>
        windows.indices.foreach { i =>
          val w = windows(i)._2
          if (PageIndex.intersects(p, w)) {
            if (!PageIndex.contains(p, w)) return None
            folds(i) = Some((sh, folds(i).fold(ShardStats.empty)(_._2)
              .union(p.stats.getOrElse(return None))))
          }
        }
      }
    }
    Some(windows.indices.flatMap(i =>
      folds(i).map { case (sh, st) => (sh, windows(i)._1, st) }))
  }

  /** Fold source 3: FILTERLESS `GROUP BY <hash key>` from page
    * statistics alone — the groups come from the page directories
    * themselves: hash-group alignment makes large keys' runs
    * page-pure, each pure page names its group in its (decodable)
    * encoded hash bound, and placement puts every group wholly inside
    * one shard, so per-shard page folds ARE the grouped aggregate.
    * `SELECT hk, count(*), sum(v) FROM t GROUP BY hk` over a compacted
    * table then reads zero items at any size — the DescribeTable-
    * statistics move, per group. Declines (None) whenever the proof
    * fails: any journal anywhere (new groups could exist only in a
    * journal), any IMPURE page (small interleaved groups pack densely
    * below the alignment floor — the page's rows span groups page
    * grain cannot split), a group field that is neither string nor
    * integral (see the type gate), or more groups than
    * `maxPushedGroups`. Returns `(owning shard, group value, stats)`
    * in shard order, groups in encoded order within a shard.
    */
  private def pureGroupFold(store: LocalKVStore, meta: TableMeta)
      : Option[Seq[(Int, AttrVal, ShardStats)]] = {
    if (meta.rangeKey.isEmpty || meta.layout < 2) return None
    // Group-key type gate: the emitted group value must decode
    // BIT-IDENTICALLY to what the scanned plan's codec would produce.
    // Strings decode injectively from their "s:" encoding. INTEGRAL
    // types are admitted with a per-page invertible-decode proof
    // below — the canonical "n:" encoding (stripTrailingZeros plain
    // form) is injective on stored values, so two distinct encoded
    // groups map to two distinct longs WHEN every value is exactly
    // representable; a fractional or out-of-range value means the
    // scan's codec would COERCE (possibly merging groups the encoding
    // kept apart), so those decline to the ordinary scan. Float/
    // double/decimal group columns keep declining: rounding in the
    // decode direction has no injectivity proof.
    val gType = grouped.map(_.fields.head.dataType).getOrElse(return None)
    val integral = gType match {
      case StringType => false
      case LongType | IntegerType => true
      case _ => return None
    }
    if (store.journalShards(opts.tableName).nonEmpty) return None
    // decoded-exactness proof for one encoded integral group value
    def integralOk(enc: String): Boolean =
      LocalKVStore.decKeyAttr(enc) match {
        case Some(AttrVal.N(v)) => v.isWhole && (gType match {
          case LongType => v.isValidLong
          case _        => v.isValidInt
        })
        case _ => false
      }
    var total = 0
    val perShard = (0 until meta.shards).map { sh =>
      val idx = store.pageDirectory(opts.tableName, sh, None).getOrElse(return None)
      val groups = scala.collection.mutable.LinkedHashMap.empty[String, ShardStats]
      idx.pages.foreach { p =>
        if (p.minH != p.maxH) return None
        if (integral) { if (!p.minH.startsWith("n:") || !integralOk(p.minH)) return None }
        else if (!p.minH.startsWith("s:")) return None
        groups.update(p.minH, groups.getOrElse(p.minH, ShardStats.empty)
          .union(p.stats.getOrElse(return None)))
      }
      total += groups.size
      if (total > opts.maxPushedGroups) return None
      sh -> groups
    }
    Some(perShard.flatMap { case (sh, groups) =>
      groups.toSeq.sortBy(_._1).map { case (enc, st) =>
        (sh, LocalKVStore.decKeyAttr(enc).getOrElse(return None), st)
      }
    })
  }

  /** The answered aggregate values of one fold, in push order, as
    * wire values the readers decode through the scan's own [[Codec]]
    * path (bit-identical results); None declines. Per MIN/MAX
    * attribute, the stats are usable only when every stored value is
    * one the read schema's typed decode maps monotonically:
    *  - numeric fields: only `N` values (an `S`/bool/binary value
    *    would throw in [[Codec]] mid-scan — decline and let the real
    *    scan surface it), integrals additionally within the type's
    *    range (out-of-range wraps, which is not monotone);
    *    BigDecimal→long/double truncation/rounding are monotone, so
    *    decode(min of stored) = min of decoded.
    *  - string fields: only `S` values (`N`/bool COERCE into strings
    *    whose order differs from numeric order — "10" < "9").
    *  - an attribute absent from a COMPLETE map provably never
    *    occurs: the aggregate is null over every row.
    */
  private def answerValues(folded: ShardStats): Option[Seq[Option[AttrVal]]] = {
    if (!folded.complete) return None
    val vals = aggs.map {
      // COUNT(*) = the summed per-shard item counts (DescribeTable's
      // ItemCount, exact under the same journal-empty condition);
      // files from before the counter exist decline (items = None)
      case PushedAgg.CountAll =>
        folded.items match {
          case Some(n) => Some(AttrVal.N(BigDecimal(n)): AttrVal)
          case None => return None
        }
      case PushedAgg.MinOf(f) =>
        statBound(folded, f, wantMin = true) match {
          case Some(v) => v
          case None => return None
        }
      case PushedAgg.MaxOf(f) =>
        statBound(folded, f, wantMin = false) match {
          case Some(v) => v
          case None => return None
        }
      // COUNT(col) = the attribute's non-Null occurrence counter,
      // sound only under the same family-purity rules MIN/MAX use
      // (an incompatible value would have crashed the scan's typed
      // decode; a coercible one still counts — but `other` cannot
      // tell a coercing bool from a crashing binary, so any presence
      // declines). An attribute absent from the complete map counts 0.
      case PushedAgg.CountOf(f) =>
        statCount(folded, f) match {
          case Some(n) => Some(AttrVal.N(BigDecimal(n)): AttrVal)
          case None => return None
        }
      // SUM over the integral family: the sidecar's exact
      // arbitrary-precision sum of N values. Usable only when the
      // scan's per-item decode is the identity on every value — all
      // values WHOLE (a fractional value truncates per item, so its
      // exact sum diverges from the sum of truncations) and inside
      // the FIELD type's own range (out-of-range wraps per item) —
      // and no intermediate partial sum can overflow long
      // (present × max|value| bounds every prefix; the scan's ANSI
      // Math.addExact would throw there, and the fast path must never
      // return a value where the real plan errors). No non-null
      // values → null.
      case PushedAgg.SumOf(f, LongType) =>
        folded.attrs.get(f.name) match {
          case None => None // absent attr: SUM over no rows = null
          case Some(as) =>
            if (as.other || as.nOpen || as.sMin.nonEmpty || !as.nWhole ||
                !integralField(f.dataType))
              return None
            val (fLo, fHi) = f.dataType match {
              case ByteType => (BigDecimal(Byte.MinValue), BigDecimal(Byte.MaxValue))
              case ShortType => (BigDecimal(Short.MinValue), BigDecimal(Short.MaxValue))
              case IntegerType => (BigDecimal(Int.MinValue), BigDecimal(Int.MaxValue))
              case _ => (BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue))
            }
            if (as.nMin.exists(_ < fLo) || as.nMax.exists(_ > fHi)) return None
            (as.present, as.nSum) match {
              case (Some(0L), _) => None // all-Null or never present
              case (Some(n), Some(sum)) =>
                val maxAbs = (as.nMin.map(_.abs).toSeq ++ as.nMax.map(_.abs)).maxOption
                  .getOrElse(BigDecimal(0))
                if (BigDecimal(n) * maxAbs <= BigDecimal(Long.MaxValue) &&
                    sum >= BigDecimal(Long.MinValue) && sum <= BigDecimal(Long.MaxValue))
                  Some(AttrVal.N(sum): AttrVal)
                else return None
              case _ => return None
            }
        }
      // SUM over DecimalType: exact like the integral case, under the
      // decimal decode-identity proof — every value's scale fits the
      // field's (no per-item rounding, `nScaleMax`), every value's
      // magnitude fits the field's integer digits (no per-item ANSI
      // error), and the total provably fits the widened result type
      // (present × max|value| bounds every prefix — the scan's own
      // decimal sum would raise past it). Float/double sums stay
      // declined: re-association changes their low bits.
      case PushedAgg.SumOf(f, wd: DecimalType) =>
        val d = f.dataType match {
          case dt: DecimalType => dt
          case _ => return None
        }
        folded.attrs.get(f.name) match {
          case None => None // absent attr: SUM over no rows = null
          case Some(as) =>
            if (as.other || as.nOpen || as.sMin.nonEmpty) return None
            if (!as.nScaleMax.exists(_ <= d.scale)) return None
            val fieldLim = BigDecimal(10).pow(d.precision - d.scale)
            if (as.nMin.exists(_.abs >= fieldLim) ||
                as.nMax.exists(_.abs >= fieldLim)) return None
            (as.present, as.nSum) match {
              case (Some(0L), _) => None
              case (Some(n), Some(sum)) =>
                val maxAbs = (as.nMin.map(_.abs).toSeq ++ as.nMax.map(_.abs))
                  .maxOption.getOrElse(BigDecimal(0))
                val wideLim = BigDecimal(10).pow(wd.precision - wd.scale)
                if (BigDecimal(n) * maxAbs < wideLim)
                  Some(AttrVal.N(sum): AttrVal)
                else return None
              case _ => return None
            }
        }
      // AVG over the integer family (arrives only on COMPLETE pushes
      // — Spark rewrites partial avgs to SUM+COUNT, which answer
      // above): [[AggAccs.AvgAcc]] accumulates an exact double sum
      // while every prefix stays ≤ 2^53, so under that bound
      // (present × max|value|) the answer sum.toDouble / present is
      // BIT-IDENTICAL to the scanned division. Same family-purity and
      // field-range rules as the long SUM.
      case PushedAgg.AvgOf(f) =>
        folded.attrs.get(f.name) match {
          case None => None // absent attr: AVG over no rows = null
          case Some(as) =>
            if (as.other || as.nOpen || as.sMin.nonEmpty || !as.nWhole ||
                !integralField(f.dataType))
              return None
            val (fLo, fHi) = f.dataType match {
              case ByteType => (BigDecimal(Byte.MinValue), BigDecimal(Byte.MaxValue))
              case ShortType => (BigDecimal(Short.MinValue), BigDecimal(Short.MaxValue))
              case IntegerType => (BigDecimal(Int.MinValue), BigDecimal(Int.MaxValue))
              case _ => (BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue))
            }
            if (as.nMin.exists(_ < fLo) || as.nMax.exists(_ > fHi)) return None
            (as.present, as.nSum) match {
              case (Some(0L), _) => None
              case (Some(n), Some(sum)) =>
                val maxAbs = (as.nMin.map(_.abs).toSeq ++ as.nMax.map(_.abs))
                  .maxOption.getOrElse(BigDecimal(0))
                if (BigDecimal(n) * maxAbs <= BigDecimal(9007199254740992L))
                  Some(AttrVal.N(BigDecimal(sum.toDouble / n)): AttrVal)
                else return None
              case _ => return None
            }
        }
      case _ => return None
    }
    Some(vals)
  }

  private def integralField(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** COUNT(col)'s stats-derived value; None = decline the fast path. */
  private def statCount(st: ShardStats, f: StructField): Option[Long] = {
    val as = st.attrs.get(f.name) match {
      case None => return Some(0L) // complete map: attr never occurs
      case Some(x) => x
    }
    if (as.other) return None
    val familyOk = f.dataType match {
      case StringType => true // N and S both decode non-null
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | TimestampType | DateType =>
        as.sMin.isEmpty // an S value would crash the typed decode
      // decimal counts need every value to DECODE (scale overflow
      // only rounds — still non-null — but integer-digit overflow
      // raises in the scan this answer replaces)
      case d: DecimalType =>
        as.sMin.isEmpty && {
          val lim = BigDecimal(10).pow(d.precision - d.scale)
          !as.nMin.exists(_.abs >= lim) && !as.nMax.exists(_.abs >= lim)
        }
      case _ => false
    }
    if (familyOk) as.present else None
  }

  /** One aggregate's stats-derived value: outer None = decline the
    * fast path entirely; inner None = the aggregate is null.
    */
  private def statBound(st: ShardStats, f: StructField,
      wantMin: Boolean): Option[Option[AttrVal]] = {
    val as = st.attrs.get(f.name) match {
      case None => return Some(None) // complete map: attr never occurs
      case Some(x) => x
    }
    if (as.other) return None // bool/binary/list/map values present
    if (as.nOpen) return None // ADD-incremented: range is open
    def numeric(bounds: Option[(BigDecimal, BigDecimal)]): Option[Option[AttrVal]] =
      if (as.sMin.nonEmpty) None // an S value fails the typed decode
      else if (bounds.exists { case (lo, hi) =>
        as.nMin.exists(_ < lo) || as.nMax.exists(_ > hi) }) None
      else Some((if (wantMin) as.nMin else as.nMax).map(AttrVal.N))
    def intBounds(lo: Long, hi: Long) = Some((BigDecimal(lo), BigDecimal(hi)))
    f.dataType match {
      case StringType =>
        if (as.nMin.nonEmpty) None // N values coerce into the strings
        else Some((if (wantMin) as.sMin else as.sMax).map(AttrVal.S))
      case ByteType    => numeric(intBounds(Byte.MinValue, Byte.MaxValue))
      case ShortType   => numeric(intBounds(Short.MinValue, Short.MaxValue))
      case IntegerType => numeric(intBounds(Int.MinValue, Int.MaxValue))
      case LongType    => numeric(intBounds(Long.MinValue, Long.MaxValue))
      case TimestampType => numeric(intBounds(Long.MinValue, Long.MaxValue))
      case DateType    => numeric(intBounds(Int.MinValue, Int.MaxValue))
      case FloatType | DoubleType => numeric(None) // rounding is monotone
      // Decimal: exact under the same decode-identity proof the SUM
      // path uses — every value's scale fits the field's (no per-item
      // rounding, so the recorded extremum IS the decoded extremum)
      // and the bounds fit the field's integer digits (no per-item
      // ANSI error anywhere in the scan this answer replaces)
      case d: DecimalType =>
        if (as.sMin.nonEmpty) None
        else if (!as.nScaleMax.exists(_ <= d.scale)) None
        else {
          val lim = BigDecimal(10).pow(d.precision - d.scale)
          if (as.nMin.exists(_.abs >= lim) || as.nMax.exists(_.abs >= lim)) None
          else Some((if (wantMin) as.nMin else as.nMax).map(AttrVal.N))
        }
      case _ => None // bool/binary/nested: no exactness claim
    }
  }

  /** Values the pushed/runtime filters pin `attr` to by equality. */
  private def pinned(attr: String): Option[Seq[Any]] =
    DynamoScan.pinnedValues((pushed ++ runtime).toSeq, attr)

  /** Index-key shard pruning for MATERIALIZED index reads: the copy
    * is hash-partitioned by the INDEX hash key, so pinning it plans
    * only the owning index shards — DynamoDB's GSI `Query` shape.
    */
  private def indexKeyShards(store: LocalKVStore, meta: TableMeta,
      ix: IndexMeta): Option[Set[Int]] =
    for {
      hks <- pinned(ix.hashKey)
      attrs <- {
        val as = hks.map(PageIndex.literalAttr)
        if (as.forall(_.isDefined)) Some(as.flatten) else None
      }
    } yield attrs.map(store.indexShardOf(meta, _)).toSet

  /** Candidate shard set when the filters pin the placement key; None
    * = not pinned (full scan). Under partition-key placement (layout
    * 2, current) pinning the HASH key alone prunes — DynamoDB's
    * `Query` shape: all of a partition key's items live in one shard,
    * any range-key predicate narrows within it. Legacy full-key
    * stores (layout 1) need the whole composite pinned, since their
    * placement hashed hash|range. GSI reads never prune (index keys
    * don't determine base-shard placement).
    */
  private[dynamo] def keyShards(store: LocalKVStore, meta: TableMeta): Option[Set[Int]] = {
    // A secondary-index read's pins live in INDEX-key space and claim
    // nothing about base placement — EXCEPT a LOCAL index, whose hash
    // key IS the table's partition key: an LSI Query's hash pin
    // prunes the base-path serve to the owning shard (DynamoDB's own
    // locality — an LSI Query touches one partition).
    if (opts.indexName.exists(ix =>
        !meta.indexes.get(ix).exists(im => im.local && im.hashKey == meta.hashKey)))
      return None
    if (meta.layout >= 2)
      for {
        hks <- pinned(meta.hashKey)
        keys <- {
          val attrs = hks.map(PageIndex.literalAttr)
          if (attrs.forall(_.isDefined))
            Some(attrs.flatten.map(a => Map(meta.hashKey -> a)))
          else None
        }
      } yield keys.map(store.shardOf(meta, _)).toSet
    else
      for {
        hks <- pinned(meta.hashKey)
        rks <- meta.rangeKey match {
          case None => Some(Seq(None))
          case Some(rk) => pinned(rk).map(_.map(Some(_)))
        }
        keys <- {
          val combos = for { h <- hks; r <- rks } yield
            (PageIndex.literalAttr(h), r.map(PageIndex.literalAttr)) match {
            case (Some(ha), None) => Some(Map(meta.hashKey -> ha))
            case (Some(ha), Some(Some(ra))) =>
              Some(Map(meta.hashKey -> ha, meta.rangeKey.get -> ra))
            case _ => None
          }
          if (combos.forall(_.isDefined)) Some(combos.flatten) else None
        }
      } yield keys.map(store.shardOf(meta, _)).toSet
  }

  override def createReaderFactory(): PartitionReaderFactory = grouped match {
    case Some(g) =>
      new DynamoGroupedAggReaderFactory(opts, pushed ++ runtime, g, aggs,
        adv ++ runtimeAdv, sample)
    case None if aggs.nonEmpty =>
      new DynamoAggReaderFactory(opts, pushed ++ runtime, aggs, adv ++ runtimeAdv, sample)
    case None =>
      new DynamoReaderFactory(opts, schema, pushed ++ runtime, limit, topN,
        adv ++ runtimeAdv, pushedOffset, sample, metaNames)
  }

  /** Streaming read (change feed) — see [[DynamoMicroBatchStream]]. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // Samples only push through the batch rule (V2ScanRelationPushDown
    // matches DataSourceV2Relation); assert the invariant rather than
    // silently ignoring a sample if that ever changes.
    require(sample.isEmpty, "table-sample pushdown is a batch-scan feature")
    new DynamoMicroBatchStream(opts, schema, pushed, adv)
  }
}

// ---------------------------------------------------------------------------
// Streaming read: CDC-style change feed over the WAL
// ---------------------------------------------------------------------------

/** Offset = the last WAL file name fully processed ("" = none). File
  * names embed a zero-padded publish seq, so lexicographic order is
  * publish order and the comparison `start < name <= end` selects
  * exactly the new journal files. O(1)-size regardless of history
  * length.
  */
final case class WalOffset(last: String) extends Offset {
  override def json(): String = s"""{"last":"$last"}"""
}

object WalOffset {
  private val Re = """\{"last":"(.*)"\}""".r
  def parse(s: String): WalOffset = s match {
    case Re(l) => WalOffset(l)
    case _     => WalOffset("")
  }
}

/** `spark.readStream.format("dynamo")` — a micro-batch change feed
  * over the store's write-ahead journal, the capability DynamoDB
  * Streams gives the real service (the reference never built a
  * streaming source; this completes the pair with the streaming sink).
  *
  * Semantics: the stream carries CHANGES (connector writes), not the
  * base snapshot — compose `spark.read.dynamo` (snapshot) with this
  * (changes since) for the classic CDC bootstrap. With `cdc=true` the
  * schema gains a `_op` string column (PUT / UPDATE / DELETE / PUTNX /
  * UPDIF / ADD / REMOVE) and delete markers are emitted (key attrs +
  * `_op`); without
  * it the feed is an upsert stream carrying only the UNCONDITIONAL
  * ops (puts + updates — conditional ops and deletes need `_op` to be
  * applied correctly downstream). `startingOffsets` = `earliest`
  * (default; replay the whole journal) or `latest` (new changes only).
  *
  * Scale: one input partition per new WAL file — writer-parallel jobs
  * produce many files per epoch, so replay parallelism tracks write
  * parallelism; each partition streams one file, applies pushed
  * filters before decoding, and rate-limits against read capacity.
  *
  * Delivery: WAL files are published atomically (tmp + rename, named
  * by publish time — see [[graft.sources.dynamo.LocalKVStore.WalWriter]]),
  * so listings never see torn or in-flight files, and `latestOffset`
  * admits names only through a fence held BELOW both the grace-lagged
  * clock (`now - cdcGraceMs`) and every live in-flight write buffer
  * (`pendingWalFloor`): a publisher racing the listing — even one
  * descheduled for seconds mid-rename — lands in a later batch instead
  * of being skipped behind a committed offset. The residual window is
  * a writer that goes completely silent for longer than
  * `cdcPendingTmpMs` (default 60 s) between its last buffered write
  * and its publish rename, then wakes and completes — raise that
  * option in environments with longer worst-case pauses.
  */
final class DynamoMicroBatchStream(
    opts: DynamoOptions, schema: StructType, pushed: Array[Filter],
    adv: Seq[PredicateV2.VPred] = Nil)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val store = new LocalKVStore(opts.path)

  /** Stream start position — the DynamoDB/Kinesis shard-iterator
    * family mapped onto WAL-name offsets: `earliest` = TRIM_HORIZON
    * (offset "" delivers every retained file), `latest` = LATEST
    * (current frontier; history skipped), a literal `wal-...` name =
    * AFTER_SEQUENCE_NUMBER (delivery resumes strictly after that
    * file — exactly the checkpoint-offset shape, so a user can hand
    * a prior run's committed offset back), and `startingTimestamp`
    * (epoch ms) = AT_TIMESTAMP: names embed the zero-padded pubSeq,
    * so the fence `wal-<ts>` admits precisely pubSeq ≥ ts (every
    * lower name is lexicographically below it, every name at ts
    * extends it). Unknown spellings fail loudly — a typo'd position
    * silently meaning "earliest" would replay the whole journal.
    */
  override def initialOffset(): Offset =
    opts.startingTimestamp match {
      case Some(ts) =>
        require(opts.startingOffsets == "earliest",
          "startingTimestamp and startingOffsets are mutually exclusive")
        // a timestamp at/below the fold watermark names changes that
        // no longer exist as journal files — loud, like an expired
        // AT_TIMESTAMP iterator (see assertNotTrimmed; the fence
        // wal-<ts> admits pubSeq >= ts, so the check is the same)
        assertNotTrimmed(f"wal-$ts%020d", "startingTimestamp position")
        WalOffset(f"wal-$ts%020d")
      case None => opts.startingOffsets match {
        case "latest"   => latestOffset()
        case "earliest" => WalOffset("")
        case name if name.startsWith("wal-") =>
          assertNotTrimmed(name, "startingOffsets position")
          WalOffset(name)
        case other => throw new IllegalArgumentException(
          s"startingOffsets must be 'earliest', 'latest', or a " +
            s"'wal-...' file-name offset (got '$other')")
      }
    }

  /** Loud trim fence (DynamoDB Streams' TrimmedDataAccessException /
    * expired-iterator shape): a non-empty start position BELOW the
    * compaction watermark means journal files in (offset, watermark]
    * were folded into the base and DELETED — a stream resumed there
    * cannot replay them, and continuing from the surviving names
    * would SILENTLY skip the gap. `earliest` ("" = TRIM_HORIZON) is
    * exempt by the same service mapping — it means "from the oldest
    * RETAINED record", so folding history out from under it is its
    * normal state, not a gap. Applied wherever the engine advances
    * from a held offset (plan + admission) and at explicit start
    * positions (`wal-...` names, `startingTimestamp`). Recovery is a
    * re-bootstrap: snapshot read + a fresh earliest/latest stream.
    * Residual edge: a folded file sharing the offset's exact pubSeq
    * millisecond but sorting after it by writer id hides below the
    * numeric watermark's resolution — the same one-syscall collision
    * window the WAL publish path already bounds.
    */
  private def assertNotTrimmed(offsetName: String, what: String): Unit =
    if (offsetName.nonEmpty) {
      val wm = store.compactionWatermark(opts.tableName)
      if (wm > store.walPubSeqName(offsetName))
        throw new IllegalStateException(
          s"$what '$offsetName' has expired: compaction folded the " +
            s"journal past it (watermark $wm) and the files between " +
            "the offset and the watermark no longer exist — the " +
            "stream cannot resume without silently skipping those " +
            "changes. Re-bootstrap from a snapshot read plus a fresh " +
            "earliest/latest stream (DynamoDB Streams' " +
            "TrimmedDataAccessException analogue).")
    }

  // Monotone cursor: latestOffset must stand still when nothing new
  // published, or `processAllAvailable` (which waits for a no-new-data
  // trigger) would chase an ever-advancing offset forever. It is also
  // floored by every offset the engine shows us (checkpointed starts
  // via deserializeOffset, batch ends via commit), so a restart with a
  // raised fence can never claim an offset BELOW the checkpoint and
  // re-deliver already-committed journal files.
  private var lastSeen: String = ""
  private def lift(name: String): Unit =
    synchronized { if (name > lastSeen) lastSeen = name }

  /** Max *published* file name, admitted through a fence that is the
    * LOWER of two bounds: the grace-lagged clock (`now - cdcGraceMs`)
    * and one below the oldest live in-flight write buffer's floor
    * ([[LocalKVStore.walListingWithPendingFloor]] — a buffer's
    * eventual published name always carries
    * `pubSeq = max(seq, closeTime) >= max(seq, mtime)`, so holding the
    * fence under the floor means even a writer descheduled for seconds
    * inside its publish rename cannot land behind a committed offset;
    * its file is simply claimed by a later trigger — and the
    * mtime-based floor tracks the buffer's recent activity, so a
    * long-running streaming sink does not drag the fence back to its
    * start time). Buffers idle past `cdcPendingTmpMs` are presumed
    * crashed and stop holding the feed back. Names and floor come from
    * ONE directory snapshot. (`~` > `-` makes the fence inclusive of
    * every name sharing its millisecond.)
    */
  private def eligibleNames(): Seq[String] = {
    val (names, floor) =
      store.walListingWithPendingFloor(opts.tableName, opts.cdcPendingTmpMs)
    val clockBound = System.currentTimeMillis() - opts.cdcGraceMs
    val bound = floor match {
      case Some(f) => math.min(clockBound, f - 1)
      case None    => clockBound
    }
    // asOfSeq composes with the feed: the fence never admits names
    // past the snapshot point, so the stream delivers exactly the
    // changes a batch asOf read would have folded, then goes quiet.
    val capped = opts.asOfSeq.fold(bound)(math.min(bound, _))
    val fence = f"wal-$capped%020d~"
    // Trigger.AvailableNow: the run's end goal was pinned at start —
    // files published after prepare() wait for the next run.
    val frozen = availableNowFence.fold(fence)(f => if (f < fence) f else fence)
    names.filter(_ <= frozen)
  }

  override def latestOffset(): Offset = {
    val eligible = eligibleNames()
    if (eligible.nonEmpty) lift(eligible.max)
    WalOffset(lastSeen)
  }

  /** Admission control (`maxFilesPerTrigger` / `Trigger.AvailableNow`):
    * the journal FILE is the unit of admission — per-file row counts
    * are unknown before reading, so `ReadMaxFiles` is the limit this
    * source can honor exactly. A backlogged feed (hours of journal
    * behind the checkpoint) advances in bounded steps: each trigger
    * claims the next `maxFiles` eligible names past `start` instead of
    * the whole backlog, so batch memory/task count stay flat no matter
    * how far behind the stream fell. Row-based limits pass through as
    * all-available (documented weaker bound), matching the file
    * source's behavior for unknowable row counts.
    */
  override def getDefaultReadLimit: ReadLimit =
    opts.maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  private def maxFilesOf(limit: ReadLimit): Option[Int] = limit match {
    case mf: ReadMaxFiles => Some(mf.maxFiles)
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(maxFilesOf).reduceOption(math.min)
    case _ => None
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[WalOffset].last
    assertNotTrimmed(s, "stream offset") // before claiming anything past a gap
    val past = eligibleNames().filter(_ > s).sorted
    val admitted = maxFilesOf(limit).fold(past)(past.take)
    if (admitted.isEmpty) start
    else { lift(admitted.max); WalOffset(admitted.max) }
  }

  /** Uncapped frontier, for progress/lag reporting only — the engine
    * never plans a batch from this, so no `lift` (the monotone cursor
    * floors claimable offsets, and reporting must not claim).
    */
  override def reportLatestOffset(): Offset = {
    val frontier = (eligibleNames() :+ lastSeen).max
    if (frontier.isEmpty) null else WalOffset(frontier)
  }

  /** `Trigger.AvailableNow` contract: pin the end of the run BEFORE
    * the first batch, so the query processes exactly the backlog that
    * existed at start (in `maxFilesPerTrigger` steps, if set) and then
    * stops — a writer racing the run cannot keep it alive forever.
    */
  private var availableNowFence: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowFence = None // compute against the live fence
    val eligible = eligibleNames()
    availableNowFence = Some(if (eligible.isEmpty) "" else eligible.max)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WalOffset].last
    val e = end.asInstanceOf[WalOffset].last
    // the last line of defense: a fold landing between admission and
    // planning must fail the batch, not thin it
    assertNotTrimmed(s, "stream offset")
    val files = store.walFileNames(opts.tableName)
      .filter(n => n > s && n <= e).sorted
    val rate = DynamoScan.partitionRate(opts, store.describe(opts.tableName), files.size)
    files.map(f => DynamoWalPartition(f, rate): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DynamoWalReaderFactory(opts, schema, pushed, adv)

  override def deserializeOffset(json: String): Offset = {
    val o = WalOffset.parse(json)
    lift(o.last) // checkpointed offsets floor the cursor across restarts
    o
  }
  override def commit(end: Offset): Unit =
    lift(end.asInstanceOf[WalOffset].last)
  override def stop(): Unit = ()
}

final case class DynamoWalPartition(fileName: String, rate: Double) extends InputPartition

final class DynamoWalReaderFactory(opts: DynamoOptions, schema: StructType, pushed: Array[Filter],
    adv: Seq[PredicateV2.VPred] = Nil)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DynamoWalReader(opts, schema, pushed, partition.asInstanceOf[DynamoWalPartition], adv)
}

/** Executor-side journal-file reader. The op tag rides as a synthetic
  * `_op` attribute on the item, so the shared codec and filter
  * evaluator treat it like any other column (pushed filters on `_op`
  * work: e.g. `.filter($"_op" === "DELETE")` prunes file content
  * before decode).
  */
final class DynamoWalReader(
    opts: DynamoOptions,
    schema: StructType,
    pushed: Array[Filter],
    partition: DynamoWalPartition,
    adv: Seq[PredicateV2.VPred] = Nil)
    extends PartitionReader[InternalRow] {

  private val store = new LocalKVStore(opts.path)
  private val decode = Codec.rowReader(schema)
  private val limiter = new RateLimiter(partition.rate)
  private val consistencyFactor = if (opts.stronglyConsistentReads) 1.0 else 0.5

  private val ops = store.readWalFile(opts.tableName, partition.fileName)
  // publish sequence embedded in the file name (`wal-<%020d>-...`) —
  // the `_seq` value every row of this file carries under cdcSeq
  private val filePubSeq: Long = partition.fileName.substring(4, 24).toLong
  private var current: InternalRow = _
  private var scanned = 0L
  private var filtered = 0L

  override def next(): Boolean = {
    while (ops.hasNext) {
      val (tag, item0, sz) = ops.next()
      scanned += 1
      limiter.acquire(sz.toDouble / opts.bytesPerRCU * consistencyFactor)
      // Upsert mode (cdc=false) carries only ops whose effect is
      // unconditional (puts + updates): delete markers are hidden, and
      // conditional ops (PUTNX/UPDIF) are excluded too — whether they
      // APPLIED depends on replay state this per-file reader cannot
      // see, and emitting a failed conditional as a plain upsert would
      // diverge a downstream materializer from the batch-scan view.
      // ADD/REMOVE are likewise base-dependent (an increment is not a
      // value) and excluded here; CDC mode carries them tagged.
      // CDC mode emits everything with its `_op` tag so the consumer
      // resolves conditions against its own state.
      if (opts.cdc || tag == "PUT" || tag == "UPDATE") {
        // synthetic CDC columns ride as attributes so the shared
        // codec/filter machinery sees them: `_op` (the op tag) and,
        // under cdcSeq, `_seq` (the file's publish sequence — pushed
        // filters on it prune before decode, e.g. `_seq >= t`)
        val item =
          if (opts.cdc && opts.cdcSeq)
            item0 + ("_op" -> AttrVal.S(tag)) +
              ("_seq" -> AttrVal.N(BigDecimal(filePubSeq)))
          else if (opts.cdc) item0 + ("_op" -> AttrVal.S(tag))
          else item0
        if (pushed.forall(FilterEval.eval(_, item)) &&
            adv.forall(PredicateV2.eval(_, item))) {
          current = decode(item)
          return true
        } else filtered += 1
      } else filtered += 1
    }
    false
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ScanMetrics.task(scanned, filtered)

  override def close(): Unit = ()
}

final class DynamoReaderFactory(
    opts: DynamoOptions, schema: StructType, pushed: Array[Filter],
    limit: Option[Int] = None, topN: Option[PushedTopN] = None,
    adv: Seq[PredicateV2.VPred] = Nil, offset: Option[Int] = None,
    sample: Option[PushedSample] = None,
    metaNames: Set[String] = DynamoMetaCols.names)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DynamoInputPartition]
    topN match {
      case Some(t) =>
        new DynamoTopNReader(
          new DynamoPartitionReader(opts, schema, pushed, p, adv = adv, sample = sample,
            metaNames = metaNames),
          schema, t)
      case None =>
        new DynamoPartitionReader(opts, schema, pushed, p, limit, adv, offset, sample,
          metaNames)
    }
  }
}

/** Executor-side row reader (A1/A3/A9): decodes the partition's
  * [[ItemSource]] items to `InternalRow` through the precompiled codec,
  * applying a pushed limit/offset and synthesizing metadata columns.
  */
final class DynamoPartitionReader(
    opts: DynamoOptions,
    schema: StructType,
    pushed: Array[Filter],
    partition: DynamoInputPartition,
    limit: Option[Int] = None,
    adv: Seq[PredicateV2.VPred] = Nil,
    offset: Option[Int] = None,
    sample: Option[PushedSample] = None,
    metaNames: Set[String] = DynamoMetaCols.names)
    extends PartitionReader[InternalRow] {

  private val items = new ItemSource(opts, pushed, adv, sample, partition)
  // Metadata columns (`_shard`/`_size`) are synthesized here, not
  // decoded: split them out of the codec's schema and re-insert their
  // values at the right ordinals per item. `metaNames` excludes names
  // shadowed by real data columns (the scan builder resolves that
  // against the table schema) — those decode as ordinary attributes.
  private val metaCols: Array[(String, Int)] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if metaNames(f.name) => (f.name, i)
    }
  private val dataSchema: StructType =
    if (metaCols.isEmpty) schema
    else StructType(schema.fields.filterNot(f => metaNames(f.name)))
  private val decode = Codec.rowReader(dataSchema)

  private var current: InternalRow = _
  // Post-filter rows seen, INCLUDING ones a pushed offset skips: Spark
  // negotiates the paired limit before the offset (the limit is the
  // pre-offset row budget), so skipped rows count against it.
  private var seen = 0

  override def next(): Boolean = {
    // pushed limit: stop pulling, and with it the store read
    while (!limit.exists(seen >= _) && items.hasNext) {
      val it = items.next()
      seen += 1
      if (!offset.exists(seen <= _)) { // first `m` rows: pushed-OFFSET skip
        current = withMetaCols(decode(it), it, items.wireSize)
        return true
      }
    }
    false
  }

  /** Re-inserts synthesized metadata-column values around the decoded
    * data columns. `_shard` is the item's placement bucket (a pure key
    * function — same hash the writers and SPJ layout use); `_size` is
    * the wire byte size the rate limiter charged.
    */
  private def withMetaCols(base: InternalRow, it: Item, sz: Int): InternalRow = {
    if (metaCols.isEmpty) return base
    val full = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(schema.length)
    var di = 0
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      if (metaNames(f.name) && f.name == DynamoMetaCols.Shard)
        full.update(i, items.store.shardOf(items.meta, it))
      else if (metaNames(f.name) && f.name == DynamoMetaCols.Size) full.update(i, sz)
      else { full.update(i, base.get(di, dataSchema.fields(di).dataType)); di += 1 }
      i += 1
    }
    full
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    items.metrics

  override def close(): Unit = ()
}

final class DynamoGroupedAggReaderFactory(
    opts: DynamoOptions, pushed: Array[Filter],
    group: PushedGroupBy, aggs: Seq[PushedAgg],
    adv: Seq[PredicateV2.VPred] = Nil,
    sample: Option[PushedSample] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case g: DynamoGroupAnswerPartition => new DynamoAnswerReader(Some(group), aggs, g)
      case p: DynamoInputPartition =>
        new DynamoGroupedAggReader(opts, pushed, group, aggs, p, adv, sample)
    }
}

/** Grouped aggregate scan: one hash-aggregation pass per segment,
  * emitting one row per group — `(group cols..., agg partials...)`.
  * When the push is COMPLETE (grouping covers the placement key) these
  * rows are final: a `GROUP BY <partition key>` over a 100 TB table
  * runs entirely inside the scan with zero shuffle and ships only
  * group rows. Otherwise they are map-side partials Spark
  * re-aggregates. Group state is bounded per segment
  * ([[AggAccs.GroupFold]]).
  */
final class DynamoGroupedAggReader(
    opts: DynamoOptions, pushed: Array[Filter],
    group: PushedGroupBy, aggs: Seq[PushedAgg],
    partition: DynamoInputPartition,
    adv: Seq[PredicateV2.VPred] = Nil,
    sample: Option[PushedSample] = None)
    extends PartitionReader[InternalRow] {

  private val items = new ItemSource(opts, pushed, adv, sample, partition)
  // grouping ⊇ the full primary key (`unique`): the store holds one
  // item per key, so every item is its own final group — a one-group
  // flush streams rows with zero group state, at any segment size
  private val rows = new AggAccs.GroupFold(group.fields, aggs).rows(items,
    if (group.unique) 1 else opts.maxPushedGroups, group.complete && !group.unique)

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    items.metrics

  override def close(): Unit = ()
}

/** Pushed top-N over one segment: drains the wrapped row reader
  * (pushed filters, TTL, rate limiting, and metrics all run there
  * unchanged) through a bounded heap of size n, then emits the
  * segment's n best rows. Memory is O(n) regardless of segment size —
  * at 100 TB a `ORDER BY price DESC LIMIT 100` ships 100 rows per
  * segment instead of the table. The decoded rows are fresh
  * `GenericInternalRow`s ([[Codec.rowReader]]), so they are safe to
  * retain without copying.
  */
final class DynamoTopNReader(
    rows: DynamoPartitionReader, schema: StructType, topN: PushedTopN)
    extends PartitionReader[InternalRow] {

  private val ord = topN.ordering(schema)

  /** Max-heap on output order: head = the worst of the kept rows. */
  private lazy val best: Iterator[InternalRow] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
    while (rows.next()) {
      val r = rows.get()
      if (heap.size < topN.n) heap.enqueue(r)
      else if (ord.compare(r, heap.head) < 0) { heap.dequeue(); heap.enqueue(r) }
    }
    heap.dequeueAll.reverseIterator // ascending output order
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (best.hasNext) { current = best.next(); true } else false

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    rows.currentMetricsValues()

  override def close(): Unit = rows.close()
}

/** Aggregate-only scan (pushed COUNT(*)/MIN/MAX): each segment emits
  * ONE row of per-segment partials — no full-row decode, no row
  * shipping. COUNT mirrors DynamoDB's `Select=COUNT`; MIN/MAX decode
  * just the aggregated attribute per matching item. Capacity is still
  * consumed (and rate-limited): an aggregate scan reads every matching
  * item server-side.
  */
final class DynamoAggReaderFactory(opts: DynamoOptions, pushed: Array[Filter], aggs: Seq[PushedAgg],
    adv: Seq[PredicateV2.VPred] = Nil,
    sample: Option[PushedSample] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case z: DynamoZoneAnswerPartition => new DynamoAnswerReader(None, aggs, z)
      case p: DynamoInputPartition =>
        new DynamoAggReader(opts, pushed, aggs, p, adv, sample)
    }
}

/** The ungrouped statistics answer: ONE partition carrying the
  * stats-derived wire values, computed on the driver from zone maps
  * or page statistics ([[DynamoScan.planInputPartitions]]'s fast
  * path) — the scan reads zero items at any table size.
  */
final case class DynamoZoneAnswerPartition(values: Seq[Option[AttrVal]])
    extends InputPartition

/** The grouped page-statistics answer plan: group rows computed on the
  * driver from page sidecars ([[DynamoScan.planInputPartitions]]) —
  * `(pinned hash value, answered aggregate wire values)` per group,
  * zero items read. Carries a segment id and a [[HasPartitionKey]] so
  * a per-shard split of the answered groups can honor the scan's
  * declared KeyGroupedPartitioning (group rows land on the segment
  * their shard owns, exactly like scanned rows would).
  */
final case class DynamoGroupAnswerPartition(segment: Int,
    rows: Seq[(AttrVal, Seq[Option[AttrVal]])])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(segment)
}

/** Emits the rows of a statistics-answered partition — the one row of
  * a [[DynamoZoneAnswerPartition]], one row per group of a
  * [[DynamoGroupAnswerPartition]] — decoding each through the SAME
  * [[Codec]] path the scan readers use, so the answer is
  * bit-identical to the scanned aggregate.
  */
final class DynamoAnswerReader(group: Option[PushedGroupBy], aggs: Seq[PushedAgg],
    partition: InputPartition) extends PartitionReader[InternalRow] {
  private val decode = Codec.rowReader(StructType(group.toSeq.flatMap(_.fields) ++
    aggs.zipWithIndex.map { case (a, i) => a.resultField(i) }))
  private def aggItem(vals: Seq[Option[AttrVal]]): Item =
    vals.zipWithIndex.collect { case (Some(v), i) => s"agg$i" -> v }.toMap
  private val items: Iterator[Item] = partition match {
    case z: DynamoZoneAnswerPartition => Iterator.single(aggItem(z.values))
    case g: DynamoGroupAnswerPartition => g.rows.iterator.map { case (h, vals) =>
      aggItem(vals) ++ group.map(_.fields.head.name -> h) }
  }
  private var cur: InternalRow = _
  override def next(): Boolean = items.hasNext && { cur = decode(items.next()); true }
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}

/** Aggregate accumulators and the group fold shared by the ungrouped
  * ([[DynamoAggReader]]) and grouped ([[DynamoGroupedAggReader]])
  * pushed scans and by aggregates pushed over a join
  * ([[DynamoJoinReader]]) — one machinery, so the paths cannot
  * disagree on aggregate semantics.
  */
private[dynamo] object AggAccs {
  /** One accumulator per pushed aggregate, in push order. */
  sealed trait Acc { def update(item: Item): Unit; def result: Any }
  private final class CountAcc extends Acc {
    var n = 0L
    def update(item: Item): Unit = n += 1
    def result: Any = n
  }
  /** MIN/MAX share one extremum accumulator, differing only in the
    * comparison sign. Values decode through the same [[Codec]] path as
    * row reads (one-field schema), so pushed and unpushed plans cannot
    * disagree; Catalyst's interpreted ordering compares them in the
    * column's own domain. Absent/null attributes are skipped, matching
    * Spark's null-excluding min/max.
    */
  private final class ExtremumAcc(field: StructField, sign: Int) extends Acc {
    private val decode = Codec.rowReader(StructType(Seq(field)))
    private val ord =
      org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(field.dataType)
    private var best: Any = null
    def update(item: Item): Unit = {
      val row = decode(item)
      if (!row.isNullAt(0)) {
        val v = row.get(0, field.dataType)
        if (best == null || sign * ord.compare(v, best) < 0) best = v
      }
    }
    def result: Any = best
  }
  /** COUNT(col)/SUM share the one-field decode the extrema use, so a
    * pushed aggregate counts/sums exactly what the row path would.
    * SUM over the long family adds with `Math.addExact`: Spark 4 runs
    * ANSI by default and its own sum throws on long overflow — a
    * silently wrapping partial would diverge from the unpushed plan.
    */
  /** AVG over the integer family (complete pushes only): exact double
    * sum + count, final division — identical to Spark's Average on
    * integral input at any accumulation order.
    */
  private final class AvgAcc(field: StructField) extends Acc {
    private val decode = Codec.rowReader(StructType(Seq(field)))
    private var n = 0L
    private var d = 0.0
    def update(item: Item): Unit = {
      val row = decode(item)
      if (!row.isNullAt(0)) {
        n += 1
        d += (field.dataType match {
          case LongType => row.getLong(0).toDouble
          case IntegerType => row.getInt(0).toDouble
          case ShortType => row.getShort(0).toDouble
          case ByteType => row.getByte(0).toDouble
          case other => throw new IllegalStateException(s"avg over $other")
        })
      }
    }
    def result: Any = if (n == 0) null else d / n
  }
  private final class CountColAcc(field: StructField) extends Acc {
    private val decode = Codec.rowReader(StructType(Seq(field)))
    private var n = 0L
    def update(item: Item): Unit = if (!decode(item).isNullAt(0)) n += 1
    def result: Any = n
  }
  private final class SumAcc(field: StructField, wide: DataType) extends Acc {
    private val decode = Codec.rowReader(StructType(Seq(field)))
    private var any = false
    private var l = 0L
    private var d = 0.0
    private var bd = BigDecimal(0) // decimal sums: exact, no overflow
    def update(item: Item): Unit = {
      val row = decode(item)
      if (!row.isNullAt(0)) {
        any = true
        (field.dataType, wide) match {
          case (_, LongType) =>
            val v = field.dataType match {
              case LongType => row.getLong(0)
              case IntegerType => row.getInt(0).toLong
              case ShortType => row.getShort(0).toLong
              case ByteType => row.getByte(0).toLong
              case other => throw new IllegalStateException(s"long sum over $other")
            }
            l = Math.addExact(l, v)
          case (dt: DecimalType, _) =>
            bd += row.getDecimal(0, dt.precision, dt.scale).toBigDecimal
          case (FloatType, _) => d += row.getFloat(0)
          case _ => d += row.getDouble(0)
        }
      }
    }
    def result: Any = if (!any) null else wide match {
      case LongType => l
      case w: DecimalType =>
        // the per-item decodes are exact, so only the TOTAL can
        // overflow the widened type — where Spark's ANSI decimal sum
        // raises too; never return a value where the real plan errors
        val dec = org.apache.spark.sql.types.Decimal(bd)
        if (!dec.changePrecision(w.precision, w.scale))
          throw new ArithmeticException(
            s"SUM(${field.name}) overflows ${w.sql} " +
              "(pushed decimal sum, ANSI parity)")
        dec
      case _ => d
    }
  }
  def make(aggs: Seq[PushedAgg]): Array[Acc] = aggs.map {
    case PushedAgg.CountAll => new CountAcc
    case PushedAgg.CountOf(f) => new CountColAcc(f)
    case PushedAgg.SumOf(f, w) => new SumAcc(f, w)
    case PushedAgg.MinOf(f) => new ExtremumAcc(f, 1)
    case PushedAgg.MaxOf(f) => new ExtremumAcc(f, -1)
    case PushedAgg.AvgOf(f) => new AvgAcc(f)
  }.toArray

  /** Spark's grouping and equality equate 0.0 with -0.0 and all NaNs;
    * boxed Double/Float equals does neither, so normalize map-key values.
    */
  def normKey(v: Any): Any = v match {
    case d: java.lang.Double if d.isNaN => java.lang.Double.valueOf(Double.NaN)
    case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.isNaN => java.lang.Float.valueOf(Float.NaN)
    case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
    case other => other
  }

  /** Hash aggregation of items into rows `(group values..., aggregate
    * results...)`. Group values decode through the same [[Codec]] path
    * as row reads. Groups emit in first-seen order, so re-runs over the
    * same items emit identically.
    */
  final class GroupFold(fields: Seq[StructField], aggs: Seq[PushedAgg]) {
    private val decode = Codec.rowReader(StructType(fields))
    private val types = fields.map(_.dataType)

    /** State is bounded. A partial fold emits its accumulated rows
      * downstream whenever the map holds `maxGroups` groups and starts
      * fresh — Spark's final aggregate merges the extra partials, so a
      * `GROUP BY <high-cardinality column>` holds at most `maxGroups`
      * groups no matter how many items arrive. A `complete` fold's rows
      * are final, so it cannot flush; completeness is only claimed when
      * the plan-time cardinality screen says groups look bounded
      * ([[DynamoScanBuilder.groupsLookBounded]]), off a one-page
      * sample. A non-representative page can admit a grouping whose
      * cardinality scales with rows, so past 16 × `maxGroups` groups a
      * complete fold fails loudly with the remedy instead of letting
      * one segment eat the executor heap.
      */
    def rows(items: Iterator[Item], maxGroups: Int, complete: Boolean): Iterator[InternalRow] =
      new Iterator[InternalRow] {
        private val flushAt = if (complete) Int.MaxValue else maxGroups
        private val hardCap =
          if (complete) math.min(16L * maxGroups, Int.MaxValue - 1L).toInt else Int.MaxValue
        private val groups = scala.collection.mutable.LinkedHashMap
          .empty[List[Any], (Array[Any], Array[Acc])]
        private var batch: Iterator[InternalRow] = Iterator.empty
        private var drained = false

        private def refill(): Unit = {
          while (items.hasNext && groups.size < flushAt) {
            val it = items.next()
            val g = decode(it)
            val vals = Array.tabulate[Any](types.length)(i =>
              if (g.isNullAt(i)) null else g.get(i, types(i)))
            val (_, accs) = groups.getOrElseUpdate(vals.map(normKey).toList, (vals, make(aggs)))
            if (groups.size > hardCap)
              throw new IllegalStateException(
                s"complete grouped pushdown exceeded $hardCap groups in one " +
                  s"segment (16 x maxPushedGroups): the plan-time cardinality sample " +
                  s"was not representative for grouping " +
                  s"[${fields.map(_.name).mkString(", ")}]. Raise maxPushedGroups " +
                  "if this group count is genuinely bounded and fits executor memory; " +
                  "otherwise rerun the query with the aggregate kept Spark-side " +
                  "(e.g. group on an expression, which the scan builder never claims).")
            accs.foreach(_.update(it))
          }
          if (!items.hasNext) drained = true
          batch = groups.values.toVector.iterator.map { case (vals, accs) =>
            InternalRow.fromSeq(vals.toSeq ++ accs.map(_.result))
          }
          groups.clear()
        }

        override def hasNext: Boolean = {
          while (!batch.hasNext && !drained) refill()
          batch.hasNext
        }

        override def next(): InternalRow =
          if (hasNext) batch.next() else throw new NoSuchElementException
      }
  }
}

final class DynamoAggReader(
    opts: DynamoOptions, pushed: Array[Filter], aggs: Seq[PushedAgg],
    partition: DynamoInputPartition,
    adv: Seq[PredicateV2.VPred] = Nil,
    sample: Option[PushedSample] = None)
    extends PartitionReader[InternalRow] {

  private val items = new ItemSource(opts, pushed, adv, sample, partition)
  private val accs: Array[AggAccs.Acc] = AggAccs.make(aggs)
  private var emitted = false

  override def next(): Boolean =
    !emitted && {
      items.foreach(it => accs.foreach(_.update(it)))
      emitted = true
      true
    }

  override def get(): InternalRow =
    InternalRow.fromSeq(accs.map(_.result).toSeq)

  // The aggregate scan consumes capacity like any other scan, so it
  // reports the same UI metrics as the row readers (items the pushed
  // filters dropped never reach the aggregates).
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    items.metrics

  override def close(): Unit = ()
}

// ---------------------------------------------------------------------------
// Write path (A11–A14, A16)
// ---------------------------------------------------------------------------

/** Put by default; `update=true` → upsert-merge per item; `delete=true`
  * → delete by primary key [REF: datasource/DynamoWriteBuilder.scala,
  * DynamoDataWriter.scala]. `SupportsTruncate` backs
  * `mode("overwrite")`: content is wiped driver-side before tasks
  * write — non-atomic like every write here (A14), so concurrent
  * readers can observe the empty window. `SupportsOverwriteV2` backs
  * `df.writeTo(t).overwrite(cond)` / `INSERT OVERWRITE ... WHERE`:
  * rows matching the condition are deleted driver-side (same
  * [[DeleteWhere]] scan as SQL DELETE) before tasks append the new
  * rows. Acceptance is exactness, like the scan side: every predicate
  * must translate through [[PredicateV2.translate]] — store-evaluable
  * v1 filters or the exact v2 residue — otherwise the overwrite is
  * REJECTED outright (Spark fails the query rather than silently
  * deleting the wrong row set).
  */
final class DynamoWriteBuilder(opts: DynamoOptions, schema: StructType)
    extends WriteBuilder with SupportsOverwriteV2 {
  private var truncateFirst = false
  private var overwriteWhere: Option[Seq[Either[Filter, PredicateV2.VPred]]] = None
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def canOverwrite(predicates: Array[v2filter.Predicate]): Boolean = {
    val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    predicates.forall(p => PredicateV2.translate(p, schema, ansi).isDefined)
  }

  override def overwrite(predicates: Array[v2filter.Predicate]): WriteBuilder = {
    val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    val tr = predicates.toSeq.map(p => PredicateV2.translate(p, schema, ansi))
    // Spark gates on canOverwrite, but guard anyway: accepting a
    // half-translated condition would delete the wrong rows.
    require(tr.forall(_.isDefined),
      s"overwrite condition not store-evaluable: ${predicates.mkString(", ")}")
    overwriteWhere = Some(tr.flatten)
    this
  }

  override def build(): Write =
    new DynamoWrite(opts, schema, truncateFirst, overwriteWhere)
}

final class DynamoWrite(
    opts: DynamoOptions, schema: StructType, truncateFirst: Boolean = false,
    overwriteWhere: Option[Seq[Either[Filter, PredicateV2.VPred]]] = None)
    extends Write with RequiresDistributionAndOrdering {

  /** Placement facts for the clustering request: table meta when the
    * table exists, declared options for a first write. Empty/partial
    * keys (or keys missing from the write schema) degrade to an
    * unspecified distribution — [[WriteSetup.validateSchema]] owns the
    * actionable error for genuinely key-less writes.
    */
  private lazy val placement: (Seq[String], Seq[String], Int) = {
    val store = new LocalKVStore(opts.path)
    if (store.exists(opts.tableName)) {
      val m = store.describe(opts.tableName)
      (DynamoScan.placementCols(m), Seq(m.hashKey) ++ m.rangeKey, m.shards)
    } else {
      val keys = opts.hashKey.toSeq ++ opts.rangeKey
      (opts.hashKey.toSeq, keys, opts.shards)
    }
  }
  private def clusterable: Boolean =
    opts.clusterWrite != "off" && placement._2.nonEmpty &&
      placement._2.forall(schema.fieldNames.contains)

  /** `shard` mode clusters by the store's own placement bucket — the
    * SAME `graft.dynamo.bucket` function scans report for SPJ, so a
    * `INSERT INTO t SELECT ... FROM t2` where t2 is bucket-aligned
    * needs no exchange at all — and `key` mode by the partition-key
    * column (resolvable without a function catalog). Shard mode makes
    * the whole job write O(shards) journal files: every shard's rows
    * converge on one task instead of every task touching every shard.
    */
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    if (!clusterable) Distributions.unspecified()
    else if (opts.clusterWrite == "shard")
      Distributions.clustered(Array(
        v2expr.Expressions.bucket(placement._3, placement._1: _*)))
    else
      Distributions.clustered(
        placement._1.map(c => v2expr.Expressions.column(c): v2expr.Expression).toArray)
  }

  // Advisory: let AQE split a skewed shard/key group across tasks —
  // each split still writes only its own shard's files.
  override def distributionStrictlyRequired(): Boolean = false

  /** Key-sorted tasks write key-clustered journal files: replay and
    * compaction touch each shard's keys in runs, and the 25-row write
    * batches hit the rate limiter with locality instead of random
    * shard hops.
    */
  override def requiredOrdering(): Array[v2expr.SortOrder] =
    if (!clusterable) Array.empty
    else placement._2.map(c => v2expr.Expressions.sort(
      v2expr.Expressions.column(c),
      v2expr.SortDirection.ASCENDING): v2expr.SortOrder).toArray
  override def toBatch: BatchWrite =
    new DynamoBatchWrite(opts, schema, truncateFirst, overwriteWhere)
  override def toStreaming: StreamingWrite = {
    if (truncateFirst || overwriteWhere.isDefined) throw new UnsupportedOperationException(
      "complete-mode streaming (truncate/overwrite per epoch) is not supported; " +
        "use outputMode update or append")
    new DynamoStreamingWrite(opts, schema)
  }

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new WriteMetrics.RowsWritten, new WriteMetrics.BytesWritten)
}

/** Writer metrics (Spark UI, SQL tab): rows and journal bytes written
  * — the write-side twin of [[ScanMetrics]] (DynamoDB's consumed-WCU
  * observability, in bytes rather than capacity units).
  */
private object WriteMetrics {
  final class RowsWritten extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "rowsWritten"
    override def description(): String = "rows appended to the write journal"
  }
  final class BytesWritten extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "bytesWritten"
    override def description(): String = "journal bytes written"
  }
}

/** Driver-side write setup shared by the batch and streaming sinks:
  * create the table on first write (key schema from options) and split
  * the write-rate budget across writers (A16: targetCapacity × WCU /
  * numPartitions).
  */
private object WriteSetup {
  def ratePerWriter(opts: DynamoOptions, numPartitions: Int): Double = {
    val store = new LocalKVStore(opts.path)
    if (!store.exists(opts.tableName)) {
      val hk = opts.hashKey.getOrElse(throw new IllegalArgumentException(
        s"table ${opts.tableName} does not exist; option 'hashKey' is required to create it"))
      store.createTable(opts.tableName,
        TableMeta(hk, opts.rangeKey, opts.shards, opts.throughput.getOrElse(1000000L)))
    }
    DynamoScan.partitionRate(opts, store.describe(opts.tableName), numPartitions)
  }

  /** Driver-side fail-fast: every written row needs the primary key,
    * so a write schema without the key columns can only fail — catch
    * it at planning time with an actionable message instead of a
    * per-task "item missing hash key" (classic trigger: positional
    * `INSERT INTO t VALUES ...` — the table accepts any schema for
    * partial-column updates, so names must come from the statement).
    */
  def validateSchema(opts: DynamoOptions, schema: StructType): Unit = {
    require(!(opts.ifNotExists && (opts.update || opts.delete)),
      "ifNotExists=true is a conditional PUT mode; it cannot combine " +
        "with update=true or delete=true")
    require(!opts.ifExists || (opts.update && !opts.delete && !opts.ifNotExists),
      "ifExists=true is a condition on update mode: set update=true " +
        "and no other write mode")
    val store = new LocalKVStore(opts.path)
    if (store.exists(opts.tableName)) {
      val meta = store.describe(opts.tableName)
      val missing = (Seq(meta.hashKey) ++ meta.rangeKey)
        .filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"write schema ${schema.fieldNames.mkString("(", ", ", ")")} is missing key " +
          s"column(s) ${missing.mkString(", ")} of table ${opts.tableName}; " +
          "for SQL INSERT, supply an explicit column list")
    } else {
      opts.hashKey.foreach { hk =>
        val missing = (Seq(hk) ++ opts.rangeKey).filterNot(schema.fieldNames.contains)
        require(missing.isEmpty,
          s"write schema is missing declared key column(s) ${missing.mkString(", ")}")
      }
    }
  }
}

final class DynamoBatchWrite(
    opts: DynamoOptions, schema: StructType, truncateFirst: Boolean = false,
    overwriteWhere: Option[Seq[Either[Filter, PredicateV2.VPred]]] = None)
    extends BatchWrite {

  /** `seq` stamps this job's WAL files so replay orders jobs by
    * submission time.
    *
    * The truncate runs DRIVER-SIDE, before any task writes, and is as
    * non-atomic as the rest of the write path (A14). Two hazards
    * beyond the concurrent-reader empty window documented on the
    * builder: (1) a SELF-referential overwrite — a query reading the
    * same dynamo table it overwrites — wipes the input before the
    * read executes (Spark's lazy scans have not run when this factory
    * is created), yielding an empty result, not an error: stage
    * through a different table name; (2) a job that fails after this
    * point leaves the table truncated with the old content
    * unrecoverable — DynamoDB itself has no transactional
    * table-replace either; keep a copy if the overwrite must be
    * revertible.
    */
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    WriteSetup.validateSchema(opts, schema)
    if (truncateFirst) {
      val store = new LocalKVStore(opts.path)
      if (store.exists(opts.tableName)) store.truncateTable(opts.tableName)
    }
    // Overwrite-by-filter: delete the matching rows (same scan as SQL
    // DELETE — TTL-visible items only, rate-limited) before any task
    // writes. Same non-atomic window and self-referential hazard as
    // the truncate above.
    overwriteWhere.foreach { conds =>
      val store = new LocalKVStore(opts.path)
      if (store.exists(opts.tableName))
        DeleteWhere.run(opts, conds, tag = "ovw")
    }
    new DynamoWriterFactory(opts, schema,
      WriteSetup.ratePerWriter(opts, info.numPartitions), seq = System.currentTimeMillis())
  }

  /** Job-level commit is non-atomic by default, like the reference
    * [REF: datasource/DynamoBatchWrite.scala]: each task publishes its
    * own WAL files atomically at task commit, and tasks that committed
    * before a job-level abort stay published (keyed upserts make
    * re-runs converge). Failed/aborted tasks publish nothing — see
    * [[graft.sources.dynamo.LocalKVStore.WalWriter]].
    *
    * `transactional=job` upgrades this to a COMMIT FENCE: tasks only
    * staged their transactions, and this driver hook publishes every
    * staged handle — reached exclusively when ALL tasks committed, so
    * one failing task aborts the job with nothing visible, including
    * the tasks that had already committed. The publish loop itself is
    * sequential renames: atomic against task failures by construction,
    * while a driver crash mid-loop can leave a prefix published (the
    * classic committer caveat — keyed upserts make a re-run converge).
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    DynamoTxnFence.publishAll(opts, messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    DynamoTxnFence.discardAll(opts, messages)
}

/** Driver-side transaction fence shared by the batch and per-epoch
  * streaming commits: publish (or discard) every staged transaction
  * the tasks shipped in their commit messages, in writer-id order so
  * replay order is deterministic across re-runs.
  */
private object DynamoTxnFence {
  private def staged(messages: Array[WriterCommitMessage]): Seq[StagedTxn] =
    messages.toSeq.collect {
      case DynamoWriterCommit(_, Some(st)) => st
    }.sortBy(_.writerId)
  def publishAll(opts: DynamoOptions, messages: Array[WriterCommitMessage]): Unit = {
    val st = staged(messages)
    if (st.nonEmpty)
      // under the table transaction lock: the fence's renames must not
      // interleave with another transaction's check-evaluate-publish
      new LocalKVStore(opts.path).transactPublishAll(st)
  }
  def discardAll(opts: DynamoOptions, messages: Array[WriterCommitMessage]): Unit = {
    val st = staged(messages)
    if (st.nonEmpty) {
      val store = new LocalKVStore(opts.path)
      st.foreach(store.transactDiscard)
    }
  }
}

/** Structured Streaming sink (`df.writeStream.format("dynamo")`) — a
  * capability extension beyond the reference, which has no streaming
  * surface. Each micro-batch reuses the batch writer over the
  * shard-keyed WAL with `seq = queryStartMillis + epochId`, so WAL
  * replay orders epochs within a run and runs by start time. Commit is
  * non-atomic per the store's model (A14); because every op is keyed
  * by the item's primary key, a re-delivered epoch after failure
  * re-appends the same per-key end state — item-level idempotence, the
  * same at-least-once contract DynamoDB writers live with. Use
  * `update=true` for streaming upserts (e.g. an aggregation in update
  * output mode), `delete=true` for retraction feeds.
  */
final class DynamoStreamingWrite(opts: DynamoOptions, schema: StructType) extends StreamingWrite {
  private val queryStart = System.currentTimeMillis()

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    WriteSetup.validateSchema(opts, schema)
    val rate = WriteSetup.ratePerWriter(opts, info.numPartitions)
    new DynamoStreamingWriterFactory(opts, schema, rate, queryStart)
  }

  // `transactional=job` makes each EPOCH atomic: tasks stage, and the
  // per-epoch driver commit publishes every staged handle together.
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    DynamoTxnFence.publishAll(opts, messages)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    DynamoTxnFence.discardAll(opts, messages)
}

final class DynamoStreamingWriterFactory(
    opts: DynamoOptions, schema: StructType, rate: Double, queryStart: Long)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DynamoDataWriter(opts, schema, rate, seq = queryStart + epochId, partitionId, taskId)
}

final case class DynamoWriterCommit(rows: Long,
    staged: Option[StagedTxn] = None) extends WriterCommitMessage

final class DynamoWriterFactory(opts: DynamoOptions, schema: StructType, rate: Double, seq: Long)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DynamoDataWriter(opts, schema, rate, seq, partitionId, taskId)
}

/** Executor-side writer: buffers `writeBatchSize` (25) rows, then
  * flushes the batch to the shard-keyed WAL, post-paying consumed WCU
  * (1 unit ≈ 1 KB written) against the task's rate budget
  * [REF: datasource/DynamoDataWriter.scala — batch buffer + rate].
  */
final class DynamoDataWriter(
    opts: DynamoOptions, schema: StructType, rate: Double, seq: Long,
    partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val store = new LocalKVStore(opts.path)
  private val meta = store.describe(opts.tableName)
  private val encode = Codec.rowWriter(schema)
  private val limiter = new RateLimiter(rate)
  // taskId in the writer id keeps a speculative/retried attempt's WAL
  // buffer distinct from the original's; only the attempt that reaches
  // commit() publishes, the loser's abort() discards. Lazy: a
  // transactional writer never touches the per-shard WAL — its whole
  // op set stages and publishes inside ONE transactWrite at commit.
  private lazy val wal = store.walWriter(opts.tableName, seq, f"p$partitionId%05d-t$taskId")

  /** DynamoDB bounds `TransactWriteItems` at 100 ops; the
    * transactional writer inherits the bound per task.
    */
  private val txnCap = 100

  private val keyAttrs: Set[String] = Set(meta.hashKey) ++ meta.rangeKey
  private val buffer = new scala.collection.mutable.ArrayBuffer[store.Op](opts.writeBatchSize)
  private var rows = 0L
  private var bytes = 0L

  override def write(record: InternalRow): Unit = {
    val item = encode(record)
    // UpdateItem semantics: an update touches ONLY the attributes the
    // row provides — null columns are "not provided", not "set to
    // null" (DynamoDB's SET cannot write NULL; the reference's update
    // path likewise skips null columns). This is what lets a CDC
    // UPDATE event — whose decoded row holds nulls for every attr the
    // original update didn't carry — re-apply without erasing the
    // target's other attributes. Puts keep nulls: a put replaces the
    // whole item, so an explicit null column IS the item's content.
    val op: store.Op =
      if (opts.delete) store.Delete(item.view.filterKeys(keyAttrs).toMap)
      else if (opts.updateAction == "add") {
        // UpdateItem ADD (atomic counter): every non-null non-key
        // column is a numeric increment — a write-side aggregation
        // (repeated keys accumulate, absent attrs start at 0)
        val adds = item.collect {
          case (k, AttrVal.N(v)) if !keyAttrs(k) => k -> v }
        val bad = item.collectFirst {
          case (k, v) if !keyAttrs(k) && v != AttrVal.Null &&
            !v.isInstanceOf[AttrVal.N] => k }
        bad.foreach(k => throw new IllegalArgumentException(
          s"updateAction=add requires numeric columns; '$k' is not a number"))
        store.AddTo(
          item.view.filterKeys(k => keyAttrs(k) || adds.contains(k)).toMap, adds)
      } else if (opts.updateAction == "remove") {
        // UpdateItem REMOVE: every non-null non-key column names an
        // attribute to remove (its value is ignored)
        val targets = item.keysIterator
          .filter(k => !keyAttrs(k) && item(k) != AttrVal.Null).toSeq
        store.RemoveAttrs(item.view.filterKeys(keyAttrs).toMap ++
          targets.map(_ -> (AttrVal.Null: AttrVal)))
      }
      else if (opts.update && opts.ifExists)
        store.UpdateIfExists(item.filter(_._2 != AttrVal.Null))
      else if (opts.update) store.Update(item.filter(_._2 != AttrVal.Null))
      else if (opts.ifNotExists) store.PutIfAbsent(item)
      else store.Put(item)
    buffer += op
    rows += 1
    if (opts.transactional != "off") {
      // the whole task is ONE transaction — no partial flush allowed
      if (buffer.size > txnCap) throw new IllegalStateException(
        s"transactional write: task $partitionId holds more than $txnCap rows " +
          "(the TransactWriteItems bound). Repartition the input so every " +
          "partition fits one transaction, or drop the transactional option")
    } else if (buffer.size >= opts.writeBatchSize) flush()
  }

  private def flush(): Unit = {
    if (buffer.nonEmpty) {
      var batchBytes = 0L
      // append returns the journal line length — byte accounting rides
      // the ONE serialization instead of re-encoding every item (the
      // encode, not the I/O, is the bulk-load hot path); WCU costing
      // now counts actual journal bytes (op tag included), marginally
      // more faithful than the bare item form it replaced
      buffer.foreach { op => batchBytes += wal.append(op) }
      wal.flush()
      limiter.acquire(math.max(1.0, batchBytes.toDouble / opts.bytesPerWCU))
      bytes += batchBytes
      buffer.clear()
    }
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(ScanMetrics.TaskMetric("rowsWritten", rows),
      ScanMetrics.TaskMetric("bytesWritten", bytes))

  // Task-level atomic: commit publishes this task's WAL files with an
  // atomic rename; abort discards the unpublished buffers, so a failed
  // task leaves nothing visible. Job-level commit stays non-atomic
  // like the reference (A14): tasks that committed before a job abort
  // remain published. Transactional TASK mode strengthens the task
  // commit from per-shard renames to ONE rename for the whole op set
  // ([[LocalKVStore.transactWrite]]): no reader or change-feed
  // consumer can observe part of this task's write. JOB mode only
  // STAGES here and ships the handle to the driver, whose commit
  // fence publishes every task's transaction together — or none.
  override def commit(): WriterCommitMessage =
    if (opts.transactional != "off") {
      var staged: Option[StagedTxn] = None
      if (buffer.nonEmpty) {
        val batchBytes = buffer.iterator
          .map(op => ItemJson.write(op.item).length.toLong).sum
        val writerId = f"p$partitionId%05d-t$taskId"
        if (opts.transactional == "job")
          staged = Some(store.transactStage(opts.tableName, seq, writerId, buffer.toSeq))
        else
          store.transactWrite(opts.tableName, seq, writerId, buffer.toSeq)
        limiter.acquire(math.max(1.0, batchBytes.toDouble / opts.bytesPerWCU))
        bytes += batchBytes
        buffer.clear()
      }
      DynamoWriterCommit(rows, staged)
    } else { flush(); wal.close(); DynamoWriterCommit(rows) }
  override def abort(): Unit =
    // transactional: nothing staged before commit, and stage/publish
    // clean their own buffers on failure — no residue either way
    if (opts.transactional == "off") wal.abort()
  override def close(): Unit = ()
}

/** Columnar bulk-ingest path. Spark 4.1.2's DSv2 write surface is
  * row-only (`DataWriter[InternalRow]`; no columnar-write negotiation
  * exists upstream), so the columnar input is taken from the PLAN:
  * when the DataFrame's executed plan ends in a columnar segment
  * (e.g. a parquet scan of a flat schema, the 100 TB ingest shape)
  * and every column is in the columnar type set, `ingest` consumes
  * `executeColumnar()` directly — ColumnarBatch cells encode via
  * [[Codec.vectorCellWriter]] (per-type vector getters over the SAME
  * value→AttrVal conversion the row writer uses) and feed the SAME
  * [[LocalKVStore.WalWriter]], so wire form, placement, zone-map
  * sidecars and publish semantics are shared with the row path by
  * construction. Skipping the ColumnarToRow materialization is the
  * win: parquet vectors go to journal lines without building an
  * UnsafeRow per item. Anything else — nested schema, a plan with no
  * columnar tail, update/delete/transactional modes — falls back to
  * the ordinary row write (`df.write.format("dynamo")`), which stays
  * the general path. Returns true iff the columnar path ran.
  */
object DynamoColumnarIngest {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, SparkPlan, WholeStageCodegenExec}

  /** The plan's full-output columnar segment, if one exists: unwrap
    * codegen/adapter/AQE shells and strip the final ColumnarToRow. A
    * Project/Filter above the transition means the columnar output is
    * NOT the DataFrame's output — no segment, take the row path. An
    * AQE-wrapped plan recurses into the current physical plan (for a
    * bare scan AQE has nothing to re-plan, so the pre-execution plan
    * IS the final one; a plan AQE could still rewrite has exchanges
    * above the scan and lands in the row fallback anyway).
    */
  private def columnarTail(p: SparkPlan): Option[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      columnarTail(a.executedPlan)
    case w: WholeStageCodegenExec => columnarTail(w.child)
    case i: InputAdapter          => columnarTail(i.child)
    case c: ColumnarToRowExec     => Some(c.child)
    case other if other.supportsColumnar => Some(other)
    case _ => None
  }

  private def flat(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | BooleanType | StringType | BinaryType |
         TimestampType | DateType => true
    case _ => false
  }

  /** Flat primitives plus one level of array-of-primitive (the
    * embedding-table shape, `Array[Float]` columns): the type set
    * [[Codec.vectorCellWriter]] reads out of column vectors.
    */
  def supported(schema: StructType): Boolean =
    schema.fields.nonEmpty && schema.fields.forall(_.dataType match {
      case ArrayType(et, _) => flat(et)
      case other => flat(other)
    })

  def ingest(df: DataFrame, path: String, tableName: String,
      hashKey: String, rangeKey: Option[String] = None,
      shards: Int = 16,
      options: Map[String, String] = Map.empty): Boolean = {
    val schema = df.schema
    val tail =
      if (supported(schema)) columnarTail(df.queryExecution.executedPlan)
      else None
    tail match {
      case None =>
        var w = df.write.format("dynamo")
        options.foreach { case (k, v) => w = w.option(k, v) }
        w = w.option("path", path).option("tableName", tableName)
          .option("hashKey", hashKey).option("shards", shards.toString)
        rangeKey.foreach(rk => w = w.option("rangeKey", rk))
        w.mode("append").save()
        false
      case Some(colPlan) =>
        // One DynamoOptions through the SAME parser the row path uses:
        // bytesPerWCU / targetCapacity / throughput overrides apply to
        // both paths, so the claimed write-rate parity holds at any
        // option setting, not just the defaults.
        val jopts = new java.util.HashMap[String, String]()
        options.foreach { case (k, v) => jopts.put(k, v) }
        jopts.put("path", path); jopts.put("tableName", tableName)
        jopts.put("hashKey", hashKey); jopts.put("shards", shards.toString)
        rangeKey.foreach(jopts.put("rangeKey", _))
        val opts = DynamoOptions(jopts)
        val store = new LocalKVStore(path)
        if (!store.exists(tableName))
          store.createTable(tableName,
            TableMeta(hashKey, rangeKey, shards,
              opts.throughput.getOrElse(1000000L)))
        val meta = store.describe(tableName)
        val missing = (Seq(meta.hashKey) ++ meta.rangeKey)
          .filterNot(schema.fieldNames.contains)
        require(missing.isEmpty,
          s"ingest schema ${schema.fieldNames.mkString("(", ", ", ")")} is " +
            s"missing key column(s) ${missing.mkString(", ")} of $tableName")
        val seq = System.currentTimeMillis()
        val names = schema.fields.map(_.name)
        val cells = schema.fields.map(f => Codec.vectorCellWriter(f.dataType))
        val rdd = colPlan.executeColumnar()
        // write-rate parity with the row path: the SAME
        // WriteSetup.ratePerWriter / bytesPerWCU model, fed by the
        // same parsed options — the two paths differ ONLY in encode
        // shape
        val ratePerWriter = WriteSetup.ratePerWriter(opts, rdd.getNumPartitions)
        val bytesPerWCU = opts.bytesPerWCU
        rdd.foreachPartition { batches =>
          val st = new LocalKVStore(path)
          val tc = org.apache.spark.TaskContext.get()
          // the walWriter (seq, writerId) uniqueness contract: fold the
          // task ATTEMPT id in, like the row writer does with taskId —
          // a retried or speculative attempt must never CREATE+APPEND
          // onto a dead attempt's (possibly torn) buffer. A crashed
          // attempt's buffer stays an invisible dot-prefixed orphan;
          // duplicate SUCCESSFUL attempts publish idempotent Puts
          // (plain-Put mode only), converging to the same state.
          val wal = st.walWriter(tableName, seq,
            f"colw-p${tc.partitionId()}%05d-a${tc.taskAttemptId()}")
          val limiter = new RateLimiter(ratePerWriter)
          try {
            batches.foreach { batch =>
              val nCols = names.length
              val cols = Array.tabulate(nCols)(batch.column)
              var r = 0
              var batchBytes = 0L
              val nRows = batch.numRows()
              while (r < nRows) {
                val b = Map.newBuilder[String, AttrVal]
                var c = 0
                while (c < nCols) {
                  b += names(c) -> (if (cols(c).isNullAt(r)) AttrVal.Null
                    else cells(c)(cols(c), r))
                  c += 1
                }
                batchBytes += wal.append(st.Put(b.result()))
                r += 1
              }
              if (nRows > 0) limiter.acquire(
                math.max(1.0, batchBytes.toDouble / bytesPerWCU))
            }
            wal.close()
          } catch { case e: Throwable => wal.abort(); throw e }
        }
        true
    }
  }
}
