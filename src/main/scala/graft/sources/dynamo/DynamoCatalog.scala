package graft.sources.dynamo

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, StagedTable, StagingTableCatalog, SupportsWrite, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.{expressions => v2expr}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin over one store root: `spark.sql.catalog.<name> =
  * graft.sources.dynamo.DynamoCatalog` (+ `.path` option) makes every
  * store table addressable as `<name>.<table>` in SQL and
  * `spark.table` — the multi-table face of the same connector the
  * path-based `format("dynamo")` reads expose one table at a time.
  *
  * Implementing [[FunctionCatalog]] is what unlocks
  * storage-partitioned joins: Catalyst resolves the `bucket(shards,
  * keyCols)` transform a [[DynamoScan]] reports through the owning
  * catalog's function registry, and two co-sharded tables then join
  * with no exchange on either side. Path-based reads have no owning
  * catalog, so only catalog-loaded tables get the shuffle-free plan —
  * the reason this class exists.
  */
class DynamoCatalog extends TableCatalog with FunctionCatalog
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var root: String = _
  // catalog-level read defaults (readPartitions, targetCapacity, ...)
  // forwarded into every table's options — `spark.table` has no
  // per-read option surface, the catalog IS that surface
  private var defaults: Map[String, String] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires option 'path' (store root): " +
          s"spark.sql.catalog.$name.path = /store/root"))
    defaults = options.asCaseSensitiveMap().asScala.toMap - "path"
  }

  private def tableOpts(table: String): DynamoOptions = {
    val m = new util.HashMap[String, String]()
    defaults.foreach { case (k, v) => m.put(k, v) }
    m.put("path", root)
    m.put("tableName", table)
    DynamoOptions(m)
  }

  override def name(): String = catalogName

  private def store = new LocalKVStore(root)

  /** Flat namespace: every identifier resolves by its table name (the
    * store has no database level); a namespace, if given, is ignored.
    */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(dir)) Array.empty
    else {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p.resolve("meta.json")))
        // in-flight CTAS staging dirs are not tables yet
        .filterNot(_.getFileName.toString.startsWith(".stage-"))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  override def tableExists(ident: Identifier): Boolean = store.exists(ident.name())

  private def schemaPath(table: String) =
    java.nio.file.Paths.get(root, table, "schema.json")

  /** Publish a table's schema file whole: written to a temporary
    * sibling, then renamed over `schema.json` — the store's own
    * publish rule. [[loadAt]] reads the file without the ALTER lock,
    * so an in-place rewrite could show it an empty or partial file.
    */
  private def publishSchema(table: String, schema: StructType): Unit = {
    val sp = schemaPath(table)
    val tmp = java.nio.file.Files.createTempFile(sp.getParent, ".schema-", ".json.tmp")
    try {
      java.nio.file.Files.writeString(tmp, schema.json)
      java.nio.file.Files.move(tmp, sp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** SQL time travel over the WAL journal (the `asOfSeq` read option
    * surfaced as standard syntax): `VERSION AS OF <seq>` addresses the
    * journal's publish-sequence space directly (epoch-millis — the
    * number a CDC offset or `walFileNames` exposes), and
    * `TIMESTAMP AS OF <ts>` maps Spark's microsecond timestamp into
    * the same space, since publish sequences ARE clock stamps. The
    * snapshot reaches back to the last compaction (compaction folds
    * and deletes the journal); the scan builder rejects writes against
    * a time-travel relation.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val seq = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF on a dynamo table takes a journal sequence " +
          s"(epoch-millis publish stamp), got '$version'")
    }
    loadAt(ident, Some(seq))
  }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    loadAt(ident, Some(timestampMicros / 1000L))

  private def loadAt(ident: Identifier, asOfSeq: Option[Long]): Table = {
    if (!store.exists(ident.name())) throw new NoSuchTableException(ident)
    // quarantine gate: a crashed point-in-time restore must not load
    store.assertNotRestorePending(ident.name())
    // DDL-declared schema wins (authoritative types, works on an empty
    // table); tables seeded through the path-based writer fall back to
    // sample inference like a path-based read would
    val sp = schemaPath(ident.name())
    val schema =
      if (java.nio.file.Files.isRegularFile(sp))
        DataType.fromJson(java.nio.file.Files.readString(sp)).asInstanceOf[StructType]
      else store.sampleSchemaCached(ident.name())
    val opts = asOfSeq.fold(tableOpts(ident.name()))(seq =>
      tableOpts(ident.name()).copy(asOfSeq = Some(seq)))
    new DynamoTable(opts, schema, acceptAnySchema = false)
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (store.exists(ident.name())) throw new TableAlreadyExistsException(ident)
    val props = new CaseInsensitiveStringMap(properties)
    val hashKey = Option(props.get("hashKey")).getOrElse(
      throw new IllegalArgumentException(
        s"CREATE TABLE ${ident.name()} requires table property 'hashKey'"))
    val rangeKey = Option(props.get("rangeKey"))
    // PARTITIONED BY is honored only in the one form the store can
    // satisfy — bucket(n, <partition key>), DynamoDB's placement
    // (sort keys cluster within the partition) — and rejected loudly
    // otherwise rather than silently dropped.
    val bucketShards = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name() == "bucket" =>
        val refs = t.references().map(_.fieldNames().mkString("."))
        val n = t.arguments().collectFirst {
          case l: v2expr.Literal[_] if l.value().isInstanceOf[Int] =>
            l.value().asInstanceOf[Int]
        }
        require(refs.toSeq == Seq(hashKey) && n.isDefined,
          s"PARTITIONED BY must be bucket(n, $hashKey) " +
            s"— the store's only layout (partition-key placement) — got ${t.describe()}")
        n
      case other => throw new UnsupportedOperationException(
        s"unsupported PARTITIONED BY ${other.map(_.describe()).mkString(", ")}: " +
          "only bucket(n, <primary key>) matches the store layout")
    }
    store.createTable(ident.name(), TableMeta(
      hashKey = hashKey,
      rangeKey = rangeKey,
      shards = bucketShards.orElse(Option(props.get("shards")).map(_.toInt)).getOrElse(16),
      throughput = Option(props.get("throughput")).map(_.toLong).getOrElse(100L)))
    publishSchema(ident.name(), schema)
    new DynamoTable(tableOpts(ident.name()), schema, acceptAnySchema = false)
  }

  /** ALTER TABLE ADD/DROP COLUMN: pure metadata on a schemaless item
    * store — adding a column exposes an attribute existing items
    * simply lack (reads see null), dropping one hides it without
    * touching a byte of data. Anything that would require rewriting
    * items (RENAME — old attrs wouldn't follow; type changes — stored
    * values may not decode) is rejected loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!store.exists(ident.name())) throw new NoSuchTableException(ident)
    val meta = store.describe(ident.name())
    val keyCols = Set(meta.hashKey) ++ meta.rangeKey
    val sp = schemaPath(ident.name())
    // The schema update is a read-modify-write of one file: two
    // concurrent ALTER TABLEs (possibly from different JVMs) would
    // lose one change to last-writer-wins — serialize through an OS
    // file lock next to the schema file. FileChannel.lock() only
    // arbitrates BETWEEN JVMs (a second locker in the same JVM gets
    // OverlappingFileLockException, not a wait), so same-process
    // callers first serialize on a process-wide monitor keyed by the
    // lock-file path.
    val lockPath = java.nio.file.Paths.get(root, ident.name(), ".schema.lock")
    DynamoCatalog.jvmLock(lockPath.toString).synchronized {
      val ch = java.nio.channels.FileChannel.open(
        lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val fileLock = ch.lock()
        try {
          val current =
            if (java.nio.file.Files.isRegularFile(sp))
              DataType.fromJson(java.nio.file.Files.readString(sp)).asInstanceOf[StructType]
            else store.sampleSchemaCached(ident.name())
          val updated = changes.foldLeft(current) {
            case (sch, add: TableChange.AddColumn) =>
              require(add.fieldNames().length == 1,
                "ALTER TABLE: nested columns are not supported")
              val col = add.fieldNames().head
              require(add.isNullable,
                s"new column $col must be nullable: existing items lack the attribute")
              require(!sch.fieldNames.contains(col), s"column $col already exists")
              // DROP then ADD under a different type would re-expose the
              // stored attribute as something its values may not decode
              // to — a re-added column must come back under a type the
              // stored values actually carry (numeric widening is fine,
              // the decoder reads N as any numeric).
              store.sampleSchemaCached(ident.name())
                .find(_.name == col).foreach { stored =>
                  val ok = stored.dataType == add.dataType() ||
                    (stored.dataType.isInstanceOf[NumericType] &&
                      add.dataType().isInstanceOf[NumericType])
                  require(ok,
                    s"column $col exists in stored items as " +
                      s"${stored.dataType.simpleString}; re-adding it as " +
                      s"${add.dataType().simpleString} would fail decode at read time")
                }
              sch.add(StructField(col, add.dataType(), nullable = true))
            case (sch, del: TableChange.DeleteColumn) =>
              require(del.fieldNames().length == 1,
                "ALTER TABLE: nested columns are not supported")
              val col = del.fieldNames().head
              require(!keyCols(col), s"cannot drop key column $col")
              if (!sch.fieldNames.contains(col)) {
                require(del.ifExists, s"no such column $col"); sch
              } else StructType(sch.filterNot(_.name == col))
            case (_, other) => throw new UnsupportedOperationException(
              s"ALTER TABLE change ${other.getClass.getSimpleName} is not supported " +
                "(renames and type changes would require rewriting stored items)")
          }
          publishSchema(ident.name(), updated)
          new DynamoTable(tableOpts(ident.name()), updated, acceptAnySchema = false)
        } finally fileLock.release()
      } finally ch.close()
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!store.exists(ident.name())) return false
    // DynamoDB DeletionProtectionEnabled: DeleteTable on a protected
    // table is a ValidationException; everything else still works
    if (store.describe(ident.name()).deletionProtection)
      throw new IllegalStateException(
        s"table ${ident.name()} has deletion protection enabled; " +
          "disable it first: CALL <catalog>.set_deletion_protection(" +
          s"'${ident.name()}', false)")
    val dir = java.nio.file.Paths.get(root, ident.name())
    val s = java.nio.file.Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally s.close()
    true
  }

  /** RENAME TABLE — one atomic directory move. Nothing under a table
    * dir embeds the table name (meta/schema/shards/WAL/GSI files are
    * all name-relative), so the move IS the rename. As non-atomic
    * against concurrent writers as the rest of the store (A14): a
    * writer holding the old path mid-job publishes into a recreated
    * old-name dir, exactly like DynamoDB's delete-and-recreate dance
    * (which has no rename at all).
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!store.exists(oldIdent.name())) throw new NoSuchTableException(oldIdent)
    if (store.exists(newIdent.name())) throw new TableAlreadyExistsException(newIdent)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(root, oldIdent.name()),
      java.nio.file.Paths.get(root, newIdent.name()),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- StagingTableCatalog: atomic CTAS / RTAS ----------------------
  //
  // CREATE TABLE AS SELECT through a plain TableCatalog is two visible
  // steps (create, then append) — a failed query leaves an empty or
  // half-written table behind, and readers can observe it. Staging
  // writes the WHOLE result into a hidden `.stage-*` directory first;
  // commit is ONE atomic directory move into the final name, abort
  // deletes the staging dir. A CTAS either exists complete or not at
  // all — the DDL-level counterpart of the transactional write modes.

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replacing: Boolean): StagedTable = {
    if (!replacing && store.exists(ident.name()))
      throw new TableAlreadyExistsException(ident)
    val tmp = s".stage-${ident.name()}-${System.currentTimeMillis()}"
    val inner = createTable(Identifier.of(ident.namespace(), tmp),
      schema, partitions, properties).asInstanceOf[DynamoTable]
    new DynamoStagedTable(inner, root, tmp, ident, replacing)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replacing = false)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (!store.exists(ident.name())) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties, replacing = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replacing = true)

  // ---- ViewCatalog: SQL views persisted in the store root ----------
  //
  // `CREATE VIEW <cat>.v AS SELECT …` persists the view definition
  // (SQL text, resolution context, schema, column metadata) as one
  // JSON document under `<root>/_views/` — the catalog-level
  // counterpart of DynamoDB-over-Athena's named queries, and the last
  // Spark 4 catalog surface the plugin lacked. Spark re-parses the
  // stored SQL against the stored catalog/namespace context at read
  // time, so views survive sessions and roots can be shared. Writes
  // are tmp+atomic-rename like every other store artifact.

  import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, ViewAlreadyExistsException}
  import org.apache.spark.sql.connector.catalog.{View, ViewChange, ViewInfo}

  private def viewsDir = java.nio.file.Paths.get(root, "_views")

  /** One filesystem-safe token per identifier part: URL-encode, then
    * escape '.' and '*' which URLEncoder leaves bare — '.' is the
    * part separator in the stored file name and must not occur inside
    * a part, and a quoted view name containing '/' or '..' must not
    * be able to escape `_views/`. The namespace is part of the key,
    * so same-named views in different namespaces cannot collide.
    */
  private def viewToken(part: String): String =
    java.net.URLEncoder.encode(part, "UTF-8")
      .replace(".", "%2E").replace("*", "%2A")
  private def viewPath(ident: Identifier) = viewsDir.resolve(
    (ident.namespace() :+ ident.name()).map(viewToken).mkString(".") + ".json")

  override def listViews(namespace: String*): Array[Identifier] = {
    if (!java.nio.file.Files.isDirectory(viewsDir)) return Array.empty
    val want = namespace.toArray
    val s = java.nio.file.Files.list(viewsDir)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map { n =>
        val parts = n.stripSuffix(".json").split('.')
          .map(t => java.net.URLDecoder.decode(t, "UTF-8"))
        Identifier.of(parts.init, parts.last)
      }
      .filter(_.namespace().sameElements(want))
      .toArray
    finally s.close()
  }

  override def viewExists(ident: Identifier): Boolean =
    java.nio.file.Files.isRegularFile(viewPath(ident))

  private def writeViewDoc(ident: Identifier, sql: String, cat: String,
      ns: Array[String], schema: StructType, qcn: Array[String],
      aliases: Array[String], comments: Array[String],
      props: Map[String, String]): Unit = {
    java.nio.file.Files.createDirectories(viewsDir)
    def sl(xs: Array[String]): AttrVal = AttrVal.L(
      Option(xs).getOrElse(Array.empty[String]).toVector
        .map(x => if (x == null) AttrVal.Null else AttrVal.S(x)))
    val doc: Map[String, AttrVal] = Map(
      "sql" -> AttrVal.S(sql),
      "currentCatalog" -> AttrVal.S(cat),
      "currentNamespace" -> sl(ns),
      "schema" -> AttrVal.S(schema.json),
      "queryColumnNames" -> sl(qcn),
      "columnAliases" -> sl(aliases),
      "columnComments" -> sl(comments),
      "properties" -> AttrVal.M(props.map { case (k, v) => k -> (AttrVal.S(v): AttrVal) }))
    val tmp = viewsDir.resolve(
      "." + viewPath(ident).getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, ItemJson.write(doc).getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, viewPath(ident),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  override def loadView(ident: Identifier): View = {
    val p = viewPath(ident)
    if (!java.nio.file.Files.isRegularFile(p)) throw new NoSuchViewException(ident)
    val m = ItemJson.parse(new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8))
    def str(k: String) = m(k).asInstanceOf[AttrVal.S].v
    def arr(k: String): Array[String] = m(k).asInstanceOf[AttrVal.L].v.map {
      case AttrVal.S(x) => x
      case _ => null
    }.toArray
    new View {
      override def name(): String = ident.name()
      override def query(): String = str("sql")
      override def currentCatalog(): String = str("currentCatalog")
      override def currentNamespace(): Array[String] = arr("currentNamespace")
      override def schema(): StructType =
        DataType.fromJson(str("schema")).asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = arr("queryColumnNames")
      override def columnAliases(): Array[String] = arr("columnAliases")
      override def columnComments(): Array[String] = arr("columnComments")
      override def properties(): util.Map[String, String] =
        m("properties").asInstanceOf[AttrVal.M].v.map {
          case (k, AttrVal.S(v)) => k -> v
          case (k, other) => throw new IllegalStateException(s"view prop $k: $other")
        }.asJava
    }
  }

  override def createView(info: ViewInfo): View = {
    if (viewExists(info.ident)) throw new ViewAlreadyExistsException(info.ident)
    writeViewDoc(info.ident, info.sql, info.currentCatalog,
      info.currentNamespace, info.schema, info.queryColumnNames,
      info.columnAliases, info.columnComments,
      info.properties.asScala.toMap)
    loadView(info.ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident)
    var props = v.properties().asScala.toMap
    changes.foreach {
      case sp: ViewChange.SetProperty => props += (sp.property() -> sp.value())
      case rp: ViewChange.RemoveProperty => props -= rp.property()
      case other => throw new IllegalArgumentException(
        s"unsupported view change: $other")
    }
    writeViewDoc(ident, v.query(), v.currentCatalog(),
      v.currentNamespace(), v.schema(), v.queryColumnNames(),
      v.columnAliases(), v.columnComments(), props)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    java.nio.file.Files.deleteIfExists(viewPath(ident))

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from)) throw new NoSuchViewException(from)
    if (viewExists(to)) throw new ViewAlreadyExistsException(to)
    java.nio.file.Files.move(viewPath(from), viewPath(to),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- ProcedureCatalog: store maintenance as SQL CALL ------------
  //
  // DynamoDB's admin APIs (UpdateTable, TTL deletion, index backfill)
  // surfaced as Spark 4 stored procedures over the DISTRIBUTED
  // maintenance jobs — `CALL dyn.compact('t')` runs the shard-parallel
  // fold, not a driver loop. Each returns a one-row summary.

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    DynamoProcedures.names.map(Identifier.of(namespace, _))

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    DynamoProcedures.load(root, ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure ${ident.name()}; available: " +
          DynamoProcedures.names.mkString(", ")))

  // ---- FunctionCatalog: the bucket transform the scans report ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") DynamoBucketFunction
    else throw new NoSuchFunctionException(ident)
}

/** Store maintenance as Spark 4 stored procedures (`CALL dyn.<p>(…)`):
  * every body dispatches to the DISTRIBUTED [[DynamoMaintenance]] job
  * (one task per shard) through `SparkSession.active`, so `CALL` is a
  * cluster operation, not a driver loop — the way table maintenance
  * must run when a shard holds a terabyte. Each returns a one-row
  * summary through a driver-side [[org.apache.spark.sql.connector.read.LocalScan]].
  */
private object DynamoProcedures {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  val names: Array[String] =
    Array("compact", "build_index", "reshard", "reap_expired", "history",
      "backup_table", "restore_table", "replication_lag",
      "set_deletion_protection", "execute_statement",
      "execute_transaction", "batch_execute_statement",
      "contributor_insights", "update_throughput", "describe_table")

  def load(root: String, name: String): Option[UnboundProcedure] = name match {
    // PartiQL ExecuteStatement (the service's statement-based data
    // API): a translator onto the connector's own reads and journal
    // write ops — see [[PartiQL]] for the supported subset and the
    // service-semantics notes (duplicate INSERT, single-item
    // UPDATE/DELETE key rule). `parameters` binds `?` placeholders,
    // as a DYNAMODB_JSON value list: '[{"S":"a"},{"N":"1"}]'.
    case "execute_statement" => Some(proc(name,
      "PartiQL ExecuteStatement analogue: single-table SELECT/INSERT/" +
        "UPDATE/DELETE with key conditions, begins_with/contains/IN/" +
        "BETWEEN/IS [NOT] MISSING, ORDER BY and RETURNING ALL OLD|NEW " +
        "*; SELECT runs the connector's own read plan (pushdown " +
        "intact); writes ride the store's conditional journal ops; " +
        "parameters = DYNAMODB_JSON value list binding ? placeholders; " +
        "limit/consistent_read/next_token are the API's request " +
        "parameters (SELECT only); a SELECT page is bounded at ~1 MB " +
        "and a truncated page carries its continuation token in an " +
        "extra next_token column; unsupported syntax fails loudly",
      Array(ProcedureParameter.in("statement", StringType).build(),
        ProcedureParameter.in("parameters", StringType).defaultValue("''").build(),
        ProcedureParameter.in("limit", IntegerType).defaultValue("-1").build(),
        ProcedureParameter.in("consistent_read", BooleanType).defaultValue("false").build(),
        ProcedureParameter.in("next_token", StringType).defaultValue("''").build())) { in =>
      val statement = in.getUTF8String(0).toString
      val params = Option(in.getUTF8String(1)).map(_.toString.trim)
        .filter(_.nonEmpty).map(ItemJson.parseAttrVector)
        .getOrElse(Vector.empty)
      val limit = Some(in.getInt(2)).filter(_ >= 0)
      val token = Option(in.getUTF8String(4)).map(_.toString.trim)
        .filter(_.nonEmpty)
      PartiQL.execute(root, statement, params, limit, in.getBoolean(3), token)
    })
    // PartiQL ExecuteTransaction: `;`-separated INSERT/UPDATE/DELETE
    // statements, all-or-nothing through the store's cross-table
    // transaction commit; per-statement conditions (duplicate INSERT,
    // missing-item UPDATE) CANCEL the whole transaction — see
    // [[PartiQL.executeTransaction]].
    case "execute_transaction" => Some(proc(name,
      "PartiQL ExecuteTransaction analogue: ;-separated INSERT/UPDATE/" +
        "DELETE statements applied all-or-nothing via the cross-table " +
        "transaction commit (a duplicate INSERT or missing-item UPDATE " +
        "cancels the whole transaction), or an all-SELECT list served " +
        "as ONE cross-table-consistent snapshot read (TransactGetItems); " +
        "mixing reads and writes is rejected; <=100 statements; " +
        "parameters bind positionally as a DYNAMODB_JSON value list",
      Array(ProcedureParameter.in("statements", StringType).build(),
        ProcedureParameter.in("parameters", StringType).defaultValue("''").build())) { in =>
      val statements = in.getUTF8String(0).toString
      val params = Option(in.getUTF8String(1)).map(_.toString.trim)
        .filter(_.nonEmpty).map(ItemJson.parseAttrVector)
        .getOrElse(Vector.empty)
      PartiQL.executeTransaction(root, statements, params)
    })
    // PartiQL BatchExecuteStatement: non-transactional batch — each
    // statement commits or fails on its own, per-statement
    // success/error in the result (the BatchStatementResponse shape).
    case "batch_execute_statement" => Some(proc(name,
      "PartiQL BatchExecuteStatement analogue: ;-separated statements " +
        "run NON-transactionally, each committing or failing on its " +
        "own; result reports per-statement applied/rows/error; <=25 " +
        "statements; parameters bind positionally as a DYNAMODB_JSON " +
        "value list",
      Array(ProcedureParameter.in("statements", StringType).build(),
        ProcedureParameter.in("parameters", StringType).defaultValue("''").build())) { in =>
      val statements = in.getUTF8String(0).toString
      val params = Option(in.getUTF8String(1)).map(_.toString.trim)
        .filter(_.nonEmpty).map(ItemJson.parseAttrVector)
        .getOrElse(Vector.empty)
      PartiQL.executeBatch(root, statements, params)
    })
    // Contributor Insights analogue (the service's hot-key CloudWatch
    // feature): rank hash keys by stored volume + recent write
    // traffic, ALL from sidecars — page directories attribute items/
    // bytes to every key large enough to own pure pages (hash-group
    // alignment guarantees that from ~32 rows up — exactly the keys
    // that CAN be hot), and the since-last-compaction journal counts
    // writes per key. Zero item reads from base shards; the journal
    // between compactions is recent-writes-sized by construction. The
    // skew this surfaces is what drives salting/resharding decisions
    // at 100 TB — a key owning a whole shard's pages is the
    // throttling hot partition DynamoDB's CI exists to catch.
    case "contributor_insights" => Some(proc(name,
      "hot-key report (Contributor Insights analogue): top hash keys " +
        "by stored items/bytes (from page-directory sidecars; keys " +
        "big enough to own pure pages — the only ones that can be " +
        "hot) plus write counts from the since-last-compaction " +
        "journal; zero item reads",
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("top_n", IntegerType).defaultValue("10").build())) { in =>
      val t = in.getUTF8String(0).toString
      val topN = in.getInt(1)
      require(topN > 0, "top_n must be positive")
      val store = new LocalKVStore(root)
      val meta = store.describe(t)
      // stored volume per key, from pure pages (minH == maxH); a
      // hash-only table holds one item per key, so none of its keys
      // can own a page and its directory is not consulted
      final case class Acc(var items: Long = 0L, var bytes: Long = 0L,
        var shard: Int = -1, var writes: Long = 0L)
      val byKey = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
      if (meta.rangeKey.isDefined) (0 until meta.shards).foreach { sh =>
        store.pageDirectory(t, sh, None).foreach { idx =>
          idx.pages.foreach { p =>
            if (p.minH == p.maxH) {
              val a = byKey.getOrElseUpdate(p.minH, Acc())
              a.items += p.stats.flatMap(_.items).getOrElse(0L)
              a.bytes += p.len
              a.shard = sh
            }
          }
        }
      }
      // recent write traffic per key, from the journal (CI's actual
      // signal is traffic; a brand-new hot writer has no base pages
      // yet and shows up here)
      store.walFileNames(t).foreach { f =>
        store.readWalFile(t, f).foreach { case (_, item, _) =>
          item.get(meta.hashKey).foreach { hv =>
            val enc = LocalKVStore.encKeyAttr(hv)
            val a = byKey.getOrElseUpdate(enc, Acc())
            a.writes += 1
            // layout-1 tables with a range key place by FULL key, which
            // a hash-only journal attribution can't compute — leave the
            // shard unknown (-1) rather than throw on keyOf's missing
            // range key (layout>=2 places by hash alone, always safe)
            if (a.shard < 0 && (meta.layout >= 2 || meta.rangeKey.isEmpty))
              a.shard = store.shardOf(meta, Map(meta.hashKey -> hv))
          }
        }
      }
      val schema = StructType(Seq(
        StructField("hash_key", StringType, nullable = false),
        StructField("shard", IntegerType, nullable = false),
        StructField("items", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false),
        StructField("writes_since_compaction", LongType, nullable = false)))
      val rows = byKey.toSeq
        .sortBy { case (_, a) => (-(a.items + a.writes), -a.bytes) }
        .take(topN)
        .map { case (enc, a) =>
          val disp = LocalKVStore.decKeyAttr(enc) match {
            case Some(AttrVal.S(v)) => v
            case Some(AttrVal.N(v)) => v.bigDecimal.toPlainString
            case _ => enc
          }
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(disp), a.shard, a.items, a.bytes,
            a.writes)): InternalRow
        }
      (schema, rows.toArray)
    })
    // On-demand backup (DynamoDB OnDemandBackup): consistent copy of
    // the table into another store root — restore = open a store (or
    // point a catalog) at the destination. Registered GSIs rebuild at
    // the destination from the restored base.
    case "backup_table" => Some(proc(name,
      "consistent on-demand backup of a table into another store root " +
        "(journal-before-base copy order keeps it consistent under " +
        "concurrent writers/compaction); INCREMENTAL when the " +
        "destination's manifest proves the base unchanged — only new " +
        "journal files ship; registered GSIs rebuild at the destination",
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("dest_root", StringType).build())) { in =>
      val (t, dest) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString)
      new LocalKVStore(root).backupTableIncremental(t, dest)
      summary("table" -> t, "dest_root" -> dest)
    })
    // RestoreTableFromBackup: the same consistent copy run in reverse —
    // the backup root's table lands in THIS catalog's store. Refuses
    // to overwrite an existing table (DynamoDB restores to a new
    // table; delete or rename first).
    case "restore_table" => Some(proc(name,
      "restore a table from a backup root into this catalog's store " +
        "(refuses to overwrite an existing table); registered GSIs " +
        "rebuild from the restored base",
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("backup_root", StringType).build())) { in =>
      val (t, src) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString)
      val here = new LocalKVStore(root)
      require(!here.exists(t),
        s"table '$t' already exists in this store — restore targets a " +
          "new table (drop or rename the existing one first)")
      new LocalKVStore(src).backupTable(t, root)
      summary("table" -> t, "backup_root" -> src)
    })
    // DESCRIBE HISTORY analogue (DynamoDB streams' DescribeStream +
    // Delta's history, over the WAL): one row per published journal
    // file in replay order — publish seq (the CDC offset space and
    // VERSION AS OF coordinate), writer id, target shard ("all" =
    // atomic transaction), op count and bytes. Window reaches back to
    // the last compaction, which folds and deletes the journal —
    // exactly the asOfSeq time-travel window this log lets a user
    // pick a version from. Driver-side read: the journal between
    // compactions is recent-writes-sized by construction.
    case "history" => Some(proc(name,
      "journal publish log since the last compaction: one row per " +
        "published WAL file in replay order (pub_seq = CDC offset / " +
        "VERSION AS OF coordinate)",
      Array(ProcedureParameter.in("table", StringType).build())) { in =>
      val t = in.getUTF8String(0).toString
      val store = new LocalKVStore(root)
      val schema = StructType(Seq(
        StructField("pub_seq", LongType, nullable = false),
        StructField("writer", StringType, nullable = false),
        StructField("shard", StringType, nullable = false),
        StructField("n_ops", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false),
        StructField("file", StringType, nullable = false)))
      val rows = store.walFileNames(t).sorted.map { f =>
        val core = f.stripPrefix("wal-").stripSuffix(".jsonl")
        val seq = core.takeWhile(_ != '-').toLong
        val shardSuffix = core.substring(core.lastIndexOf("-s") + 2)
        val writer = core.drop(core.indexOf('-') + 1)
          .stripSuffix(s"-s$shardSuffix")
        var ops = 0L; var bytes = 0L
        store.readWalFile(t, f).foreach { case (_, _, len) =>
          ops += 1; bytes += len }
        new GenericInternalRow(Array[Any](
          seq, UTF8String.fromString(writer),
          UTF8String.fromString(shardSuffix), ops, bytes,
          UTF8String.fromString(f))): InternalRow
      }
      (schema, rows.toArray)
    })
    // Global Tables lag diagnostic (the DescribeTableReplicaAutoScaling
    // / CloudWatch ReplicationLatency analogue): one row per peer root
    // — how far that peer's replicated view of THIS region trails this
    // store's journal head, in the journal's clock coordinates
    // (milliseconds under the production epoch-millis contract; 0 =
    // fully caught up). Driver-side: reads two sidecar numbers per
    // peer, no data scan.
    case "replication_lag" => Some(proc(name,
      "replication lag per peer root: how far each peer's view of this " +
        "region trails this store's journal head (journal-clock ms; " +
        "0 = caught up); peer_roots is comma-separated",
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("my_region", StringType).build(),
        ProcedureParameter.in("peer_roots", StringType).build())) { in =>
      val t = in.getUTF8String(0).toString
      val region = in.getUTF8String(1).toString
      val peers = in.getUTF8String(2).toString
        .split(',').map(_.trim).filter(_.nonEmpty)
      val src = new LocalKVStore(root)
      val schema = StructType(Seq(
        StructField("peer_root", StringType, nullable = false),
        StructField("watermark", LongType, nullable = false),
        StructField("lag_ms", LongType, nullable = false)))
      val rows = peers.map { p =>
        val dst = new LocalKVStore(p)
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(p),
          Replication.watermark(dst, t, region),
          Replication.replicationLag(src, region, dst, t))): InternalRow
      }
      (schema, rows.toArray)
    })
    case "compact" => Some(proc(name,
      "fold every shard's journal into its base file (one task per shard); " +
        "refresh materialized GSI copies; reclaim sealed transaction files",
      Array(ProcedureParameter.in("table", StringType).build())) { in =>
      val t = in.getUTF8String(0).toString
      DynamoMaintenance.compact(org.apache.spark.sql.SparkSession.active, root, t)
      summary("table" -> t, "journal_empty" -> true)
    })
    case "build_index" => Some(proc(name,
      "distributed GSI backfill: one task per base shard streams into " +
        "per-index-shard part files; freshness marker stamped from the " +
        "pre-scan view version",
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("index", StringType).build())) { in =>
      val (t, ix) = (in.getUTF8String(0).toString, in.getUTF8String(1).toString)
      DynamoMaintenance.buildIndex(org.apache.spark.sql.SparkSession.active, root, t, ix)
      summary("table" -> t, "index" -> ix)
    })
    case "reshard" => Some(proc(name,
      "re-bucket into a new shard count (UpdateTable's capacity move): " +
        "compact, split every old shard's items per new shard in one " +
        "distributed pass, swap the layout",
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("new_shards", IntegerType).build())) { in =>
      val (t, n) = (in.getUTF8String(0).toString, in.getInt(1))
      DynamoMaintenance.reshard(org.apache.spark.sql.SparkSession.active, root, t, n)
      summary("table" -> t, "shards" -> n)
    })
    // DescribeTable (the service's most-called API): table metadata
    // plus ItemCount/TableSizeBytes. Like the service's (updated
    // roughly six-hourly there), the count here is sidecar-derived —
    // exact as of the shard stats' last rewrite, never a scan; -1
    // when some shard's stats are unreadable (unknowable ≠ 0).
    case "describe_table" => Some(proc(name,
      "DescribeTable analogue: shards, throughput, placement layout, " +
        "deletion protection, index names, item count and byte size " +
        "from sidecars (count -1 when some shard's stats are " +
        "unreadable); zero item reads",
      Array(ProcedureParameter.in("table", StringType).build())) { in =>
      val t = in.getUTF8String(0).toString
      val st = new LocalKVStore(root)
      val meta = st.describe(t)
      val perShard = st.tableZoneStats(t, meta.shards).map(_.flatMap(_.items))
      val itemCount = if (perShard.forall(_.isDefined)) perShard.flatten.sum
        else -1L
      summary("table" -> t, "shards" -> meta.shards,
        "throughput" -> meta.throughput, "layout" -> meta.layout,
        "deletion_protection" -> meta.deletionProtection,
        "item_count" -> itemCount, "size_bytes" -> st.sizeBytes(t),
        "indexes" -> meta.indexes.keys.toSeq.sorted.mkString(","))
    })
    // UpdateTable's ProvisionedThroughput move: the number feeds the
    // connector's A3/A16 capacity math (scan rate = throughput *
    // targetCapacity / segments; write rate likewise), so raising it
    // IS capacity scaling here — the autoscaling half is autoReshard
    // (partition growth), already scheduled-job-shaped.
    case "update_throughput" => Some(proc(name,
      "UpdateTable ProvisionedThroughput analogue: set the table's " +
        "throughput units; the scan/write rate limiters' capacity math " +
        "picks it up at the next plan",
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("throughput", LongType).build())) { in =>
      val (t, n) = (in.getUTF8String(0).toString, in.getLong(1))
      require(n > 0, s"throughput must be positive, got $n")
      val st = new LocalKVStore(root)
      // refuse quarantined destinations, and take the table's txn/meta
      // lock so the describe→copy→createTable read-modify-write can't
      // silently drop a concurrent createIndex/reshard meta update
      st.assertNotRestorePending(t)
      st.underTxnLock(t) {
        st.createTable(t, st.describe(t).copy(throughput = n))
      }
      summary("table" -> t, "throughput" -> n)
    })
    case "set_deletion_protection" => Some(proc(name,
      "toggle DeleteTable protection (UpdateTable's " +
        "DeletionProtectionEnabled): while enabled, DROP TABLE is " +
        "rejected; data operations are unaffected",
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("enabled", BooleanType).build())) { in =>
      val (t, on) = (in.getUTF8String(0).toString, in.getBoolean(1))
      val st = new LocalKVStore(root)
      st.assertNotRestorePending(t) // same RMW discipline as update_throughput
      st.underTxnLock(t) {
        st.createTable(t, st.describe(t).copy(deletionProtection = on))
      }
      summary("table" -> t, "deletion_protection" -> on)
    })
    case "reap_expired" => Some(proc(name,
      "delete TTL-expired items (DynamoDB's background TTL deletion), " +
        "CDC/replication-VISIBLE: each shard publishes delete markers " +
        "(Streams REMOVE parity) before the physical fold; region = " +
        "stamped Global-Tables deletes (tombstones ship to replicas); " +
        "fold => false defers the physical reclaim so a lagging change " +
        "feed keeps its delivery window",
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("ttl_attribute", StringType).build(),
        ProcedureParameter.in("now_epoch_s", LongType).build(),
        ProcedureParameter.in("region", StringType).defaultValue("''").build(),
        ProcedureParameter.in("fold", BooleanType).defaultValue("true").build())) { in =>
      val (t, a, now) =
        (in.getUTF8String(0).toString, in.getUTF8String(1).toString, in.getLong(2))
      val region = Option(in.getUTF8String(3)).map(_.toString).filter(_.nonEmpty)
      val fold = in.getBoolean(4)
      DynamoMaintenance.reapExpired(
        org.apache.spark.sql.SparkSession.active, root, t, a, now, region, fold)
      summary("table" -> t, "ttl_attribute" -> a, "fold" -> fold)
    })
    case _ => None
  }

  /** One-row driver-side result: (column, value) pairs typed by the
    * value (String/Boolean/Int/Long cover every summary here).
    */
  private def summary(cols: (String, Any)*): (StructType, Array[InternalRow]) = {
    val schema = StructType(cols.map {
      case (n, _: String) => StructField(n, StringType, nullable = false)
      case (n, _: Boolean) => StructField(n, BooleanType, nullable = false)
      case (n, _: Int) => StructField(n, IntegerType, nullable = false)
      case (n, _: Long) => StructField(n, LongType, nullable = false)
      case (n, v) => throw new IllegalStateException(s"summary $n: $v")
    })
    val row = new GenericInternalRow(cols.map {
      case (_, v: String) => UTF8String.fromString(v): Any
      case (_, v) => v: Any
    }.toArray)
    (schema, Array[InternalRow](row))
  }

  private def proc(procName: String, desc: String,
      params: Array[ProcedureParameter])(
      body: InternalRow => (StructType, Array[InternalRow])): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] = params
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (schema, resultRows) = body(input)
          util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = resultRows
            override def readSchema(): StructType = schema
          }).iterator()
        }
      }
    }
}

/** A CTAS/RTAS staging handle: all writes land in the hidden
  * `.stage-*` table; [[commitStagedChanges]] publishes it with ONE
  * atomic directory move (replace: the old table moves to a trash dir
  * first, so the final name flips old→new in a single rename — a
  * reader caught mid-replace sees old or new, never a blend), and
  * [[abortStagedChanges]] deletes the staging dir leaving no trace.
  */
private final class DynamoStagedTable(
    inner: DynamoTable, root: String, tmpName: String,
    finalIdent: Identifier, replacing: Boolean)
    extends StagedTable with SupportsWrite {

  override def name(): String = finalIdent.name()
  override def schema(): StructType = inner.schema()
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    inner.capabilities()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    inner.newWriteBuilder(info)

  private def deleteDir(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val s = java.nio.file.Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }

  override def commitStagedChanges(): Unit = {
    val tmp = java.nio.file.Paths.get(root, tmpName)
    val fin = java.nio.file.Paths.get(root, finalIdent.name())
    if (java.nio.file.Files.exists(fin)) {
      if (!replacing) {
        deleteDir(tmp)
        throw new TableAlreadyExistsException(finalIdent)
      }
      // move the old table aside so the final name swaps in one rename
      val trash = java.nio.file.Paths.get(root, s"$tmpName-replaced")
      java.nio.file.Files.move(fin, trash,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.move(tmp, fin,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      deleteDir(trash)
    } else {
      java.nio.file.Files.move(tmp, fin,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  override def abortStagedChanges(): Unit =
    deleteDir(java.nio.file.Paths.get(root, tmpName))
}

/** The store's shard function as a V2 catalog function. Two scans'
  * `bucket` transforms compare equal through [[BoundFunction
  * .canonicalName]], which is what lets Catalyst prove co-partitioning
  * without evaluating anything; `produceResult` nevertheless computes
  * the REAL placement (identical to [[LocalKVStore.shardOf]]) so a
  * plan that does evaluate it (e.g. shuffling one mismatched side)
  * agrees with the files on disk.
  */
object DynamoBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, keyCols...): shard id of the store's key-hash layout"

  override def bind(inputType: StructType): BoundFunction = {
    val types = inputType.fields.map(_.dataType)
    require(types.nonEmpty, "bucket() needs at least one argument")
    new ScalarFunction[Int] {
      override def inputTypes(): Array[DataType] = types
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.dynamo.bucket"
      override def isResultNullable: Boolean = false

      // args arrive as (numBuckets, key attrs...) — the literal rides
      // first in the transform's argument list
      override def produceResult(input: InternalRow): Int = {
        val n = input.getInt(0)
        val parts = (1 until input.numFields).map { i =>
          types(i) match {
            case StringType => "s:" + input.getUTF8String(i).toString
            case LongType => "n:" + BigDecimal(input.getLong(i))
              .bigDecimal.stripTrailingZeros.toPlainString
            case IntegerType => "n:" + BigDecimal(input.getInt(i))
              .bigDecimal.stripTrailingZeros.toPlainString
            case DoubleType => "n:" + BigDecimal(input.getDouble(i))
              .bigDecimal.stripTrailingZeros.toPlainString
            case BinaryType => "b:" + java.util.Base64.getEncoder
              .encodeToString(input.getBinary(i))
            case other => throw new UnsupportedOperationException(
              s"bucket over $other key is not supported")
          }
        }
        math.floorMod(parts.mkString("|").hashCode, n)
      }
    }
  }
}

object DynamoCatalog {
  /** Process-wide ALTER TABLE locks, keyed by lock-file path: the
    * in-JVM half of the two-level serialization in [[DynamoCatalog
    * .alterTable]] (the OS file lock is the cross-JVM half, and throws
    * rather than waits for same-JVM contention).
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[dynamo] def jvmLock(path: String): Object =
    jvmLocks.computeIfAbsent(path, _ => new Object)
}
