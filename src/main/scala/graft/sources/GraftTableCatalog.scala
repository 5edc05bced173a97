package graft.sources

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, FunctionCatalog, Identifier, MetadataColumn, NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsDelete, SupportsMetadataColumns, SupportsNamespaces, SupportsPartitionManagement, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning => V2Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsDelta, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft_cat` — a V2 [[TableCatalog]] plugin: the engine's lake-table
  * layer, giving plain SQL the full lifecycle over connector-owned
  * tables (`CREATE TABLE` / atomic CTAS / `INSERT INTO` / `INSERT
  * OVERWRITE` / `DELETE FROM` / schema evolution / `VERSION AS OF` time
  * travel / `.snapshots`, `.partitions` and `.changes` metadata tables),
  * with the transaction discipline the 100 TB lake formats
  * (Iceberg/Delta) use:
  *
  *  - every commit writes an IMMUTABLE versioned manifest
  *    (`v{N}.manifest`, created fail-if-exists so a concurrent writer
  *    loses cleanly) and then swaps the `latest` pointer by atomic
  *    rename — readers see version N or N+1, never a mix;
  *  - data files are never mutated or deleted by commits: an overwrite
  *    or delete publishes a new manifest referencing a new file set, so
  *    EVERY prior version stays exactly readable (`VERSION AS OF n`)
  *    until an explicit `sys.expire_versions`;
  *  - manifests carry per-file row counts, byte sizes, per-long-column
  *    min/max AND per-column null presence, so scans report honest
  *    statistics and SKIP files a pushed predicate disproves, while
  *    DELETE's metadata-only fast path never drops a file whose NULL
  *    rows the predicate does not match (Iceberg's strict evaluator
  *    requires nullCount==0 for exactly this);
  *  - HIDDEN PARTITIONING (identity / bucket(n) / days transforms, the
  *    Iceberg partition-spec model): partition values ride each
  *    manifest entry, scans prune partitions BEFORE file stats, two
  *    same-spec tables join storage-partitioned (zero exchange), and
  *    `.partitions` reports partition-level statistics;
  *  - `DELETE FROM` runs Iceberg-style: files whose partition values or
  *    stats prove all-match are DROPPED from the manifest
  *    (metadata-only), none-match files survive untouched, and boundary
  *    files either rewrite (copy-on-write, the default) or — with
  *    `delete.mode`='merge-on-read' — commit a small POSITION DELETE
  *    FILE that readers anti-merge, so a 10-row delete never rewrites a
  *    hot 1 GB file; `sys.compact` applies and drops delete files;
  *  - CTAS is ATOMIC via [[StagingTableCatalog]]: the table builds in a
  *    hidden staging directory and publishes by one directory rename —
  *    a poisoned CTAS write leaves NO table behind;
  *  - schema evolution is FIELD-ID based (ADD / RENAME / DROP COLUMN):
  *    each manifest entry records the field ids and types its file was
  *    written under, so renames never rewrite data and old files stay
  *    readable under the new schema — the Iceberg column-mapping rule;
  *  - `.changes` is the CHANGE DATA FEED: row-level `_change_type`
  *    insert/delete rows derived from each version's added/removed
  *    files and delete-file deltas, readable as a batch table or a
  *    streaming source — folding the feed reproduces the table.
  *
  * Storage types are LONG / DOUBLE / STRING (nullable), a deliberate
  * floor: the demonstration is the CATALOG and COMMIT protocol, not an
  * encoding. Single-writer-per-table is assumed (the reference
  * pipeline's own discipline); the fail-if-exists manifest create turns
  * a violated assumption into a clean error, not corruption.
  * CatalogSpec pins each contract; q267–q282 hash-gate the SQL surface
  * against DuckDB replaying the same mutations. */
class GraftTableCatalog extends CatalogPlugin with TableCatalog
    with SupportsNamespaces with ProcedureCatalog with ViewCatalog
    with StagingTableCatalog with FunctionCatalog {
  import GraftTableCatalog._

  private var catalogName = "graft_cat"
  private var root: File = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = new File(Option(options.get("root"))
      .getOrElse(s"${graft.GraftSession.WorkRoot}/graft_cat"))
    root.mkdirs()
  }
  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("db")

  private def nsDir(namespace: Array[String]): File = {
    require(namespace.length == 1 && namespace(0).matches("[A-Za-z0-9_]+"),
      s"graft_cat namespaces are one level: ${namespace.mkString(".")}")
    new File(root, namespace(0))
  }
  /** Identifier shapes the catalog can possibly own. Anything else maps
    * to NoSuchTableException in the lookup paths (NOT a require failure:
    * Spark's resolution fallback only catches the analysis exceptions,
    * so a 4-part probe must read as TABLE_OR_VIEW_NOT_FOUND, not a raw
    * requirement error). */
  private def identOk(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      ident.namespace()(0).matches("[A-Za-z0-9_]+") &&
      ident.name.matches("[A-Za-z0-9_]+")
  private def tableDir(ident: Identifier): File = {
    require(ident.name.matches("[A-Za-z0-9_]+"),
      s"illegal table name ${ident.name}")
    new File(nsDir(ident.namespace), ident.name)
  }

  // ---- namespaces ----
  override def listNamespaces(): Array[Array[String]] =
    root.listFiles().filter(_.isDirectory).map(d => Array(d.getName))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && namespace(0).matches("[A-Za-z0-9_]+") &&
      nsDir(namespace).isDirectory
  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Map.of()
    else throw new NoSuchNamespaceException(name() +: namespace.toSeq)
  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    nsDir(namespace).mkdirs()
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    sys.error("graft_cat namespaces carry no metadata")
  /** Emptiness and cascade account for BOTH table directories and
    * persisted `*.view.json` files — a views-only namespace is not
    * "empty", and a cascade drop removes views too instead of silently
    * failing the final directory delete after destroying the tables. */
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!d.isDirectory) return false
    // abandoned staging dirs (a crashed atomic CTAS) are clutter, not
    // content: they never block a drop and always delete
    val (staging, rest) = d.listFiles().toSeq.partition(
      f => f.isDirectory && f.getName.startsWith("."))
    val tables = rest.filter(_.isDirectory)
    val views = rest.filter(_.getName.endsWith(".view.json"))
    require(cascade || (tables.isEmpty && views.isEmpty),
      s"namespace ${namespace.mkString(".")} is not empty")
    (staging ++ tables).foreach(deleteRecursively)
    views.foreach(_.delete())
    d.delete()
  }

  // ---- tables ----
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!d.isDirectory)
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    d.listFiles()
      .filter(t => !t.getName.startsWith(".") && // hide CTAS staging dirs
        new File(t, SchemaFile).exists())
      .map(t => Identifier.of(namespace, t.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    // `db.t.snapshots` / `db.t.partitions` / `db.t.changes` — the
    // Iceberg-style metadata tables, served from the manifest chain.
    if (ident.namespace.length == 2 && MetaTables.contains(ident.name)) {
      val ns = ident.namespace
      if (ns(0).matches("[A-Za-z0-9_]+") && ns(1).matches("[A-Za-z0-9_]+")) {
        val base = tableDir(Identifier.of(ns.take(1), ns(1)))
        if (new File(base, SchemaFile).exists()) ident.name match {
          case MetaSnapshots => return new SnapshotsTable(base, ns(1))
          case MetaPartitions => return new PartitionsTable(base, ns(1))
          case MetaRefs => return new RefsTable(base, ns(1))
          case MetaFiles => return new FilesTable(base, ns(1))
          case MetaManifests => return new ManifestsTable(base, ns(1))
          case MetaChanges => return new ChangesTable(base,
            s"${ns.mkString(".")}.$MetaChanges")
        }
      }
    }
    // `db.t.branch_<name>` — the WRITABLE branch handle (the Iceberg
    // branch identifier): reads serve the branch head, INSERT/DML commit
    // to the branch's own manifest chain, `sys.fast_forward` publishes.
    if (ident.namespace.length == 2 && ident.name.startsWith(BranchPrefix)) {
      val ns = ident.namespace
      if (ns(0).matches("[A-Za-z0-9_]+") && ns(1).matches("[A-Za-z0-9_]+")) {
        val base = tableDir(Identifier.of(ns.take(1), ns(1)))
        val bname = ident.name.stripPrefix(BranchPrefix)
        if (new File(base, SchemaFile).exists() &&
            readBranchRefs(base).contains(bname))
          return new CatalogTable(base,
            s"${(name() +: ns).mkString(".")}.${ident.name}",
            pinned = None, branch = Some(bname))
      }
    }
    if (!identOk(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    if (!new File(dir, SchemaFile).exists())
      throw new NoSuchTableException(ident)
    new CatalogTable(dir, qualified(ident), pinned = None)
  }

  /** Time travel: `VERSION AS OF n` pins the scan to manifest n, which is
    * immutable — later commits can never change what n returns. The
    * CURRENT schema applies to every version (older files map by field
    * id and null-pad): one consistent view, not Iceberg's per-snapshot
    * schema. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!identOk(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    if (!new File(dir, SchemaFile).exists())
      throw new NoSuchTableException(ident)
    // `VERSION AS OF 'name'` — REF-ADDRESSABLE time travel: a TAG
    // resolves to its pinned (expiry-retained) version; a BRANCH name
    // serves the branch's current head through the same read machinery
    // as the db.t.branch_<name> handle (expiry pins its base and
    // unpublished files). A dangling ref fails listing both namespaces.
    val v = if (version.matches("-?[0-9]+")) version.toLong
      else readRefs(dir).get(version) match {
        case Some(tv) => tv
        case None if readBranchRefs(dir).contains(version) =>
          return new CatalogTable(dir,
            s"${qualified(ident)}@branch_$version",
            pinned = None, branch = Some(version))
        case None => throw new IllegalArgumentException(
          s"${qualified(ident)} has no tag or branch '$version'; " +
            s"tags: ${readRefs(dir).keys.toSeq.sorted.mkString(", ")}; " +
            s"branches: ${readBranchRefs(dir).keys.toSeq.sorted.mkString(", ")}")
      }
    require(v >= 1 && v <= readLatest(dir),
      s"${qualified(ident)} has versions 1..${readLatest(dir)}; got $v")
    require(new File(dir, s"v$v.manifest").exists(),
      s"${qualified(ident)} version $v was expired by sys.expire_versions")
    new CatalogTable(dir, s"${qualified(ident)}@v$v", pinned = Some(v))
  }

  /** `TIMESTAMP AS OF t`: the greatest version committed at or before t
    * (manifests record their commit wall-clock). Spark hands micros. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!identOk(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    if (!new File(dir, SchemaFile).exists())
      throw new NoSuchTableException(ident)
    val ms = timestamp / 1000L
    val v = (1L to readLatest(dir))
      .filter(v => new File(dir, s"v$v.manifest").exists())
      .filter(v => readManifest(dir, v).commitMs <= ms)
      .lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"${qualified(ident)} has no commit at or before timestamp $ms ms"))
    new CatalogTable(dir, s"${qualified(ident)}@v$v", pinned = Some(v))
  }

  private def qualified(ident: Identifier): String =
    (name() +: ident.namespace :+ ident.name).mkString(".")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : Table = {
    val dir = tableDir(ident)
    if (new File(dir, SchemaFile).exists())
      throw new TableAlreadyExistsException(ident)
    require(!viewFile(ident).exists(),
      s"a VIEW named ${qualified(ident)} already exists")
    setupTableDir(dir, schema, partitions, properties)
    new CatalogTable(dir, qualified(ident), pinned = None)
  }

  /** All CREATE-time validation plus the on-disk layout (schema, column
    * mapping, partition spec, properties, the v1 `create` commit) —
    * shared by the direct CREATE path and the staged (atomic CTAS)
    * path, which builds the same layout in a hidden directory. */
  private def setupTableDir(dir: File, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Unit = {
    // the codec's null bitmap is one long — 65th column would wrap it
    require(schema.fields.length <= 64,
      s"graft_cat tables hold at most 64 columns; got ${schema.fields.length}")
    schema.fields.foreach { f =>
      require(Codec.supported(f.dataType),
        s"graft_cat stores LONG/DOUBLE/STRING; ${f.name} is ${f.dataType}")
      require(!ReservedCols(f.name),
        s"${f.name} is a reserved metadata column name")
      // manifest stats serialize as key:lo:hi joined by ';' — a name
      // carrying either delimiter would brick every later read
      require(f.name.matches("[A-Za-z0-9_]+"),
        s"illegal column name ${f.name} (letters, digits, _ only)")
    }
    val mapping = ColMapping(schema.indices.toList,
      schema.fields.length, evolved = false)
    val spec = parseTransforms(partitions, schema)
      .map(p => p.copy(id = mapping.ids(p.id))) // schema index → field id
    val reserved = Set("provider", "owner", "location", "external",
      "comment", "option.path")
    val props = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap.filterNot { case (k, _) => reserved(k) }
    }
    props.get(WriteOrderByProp).foreach { cols =>
      cols.split(",").map(_.trim).foreach { c =>
        require(schema.fieldNames.contains(c),
          s"$WriteOrderByProp column $c is not in the schema")
        // only LONG columns carry manifest min/max — ordering by anything
        // else buys no skipping, so it is rejected rather than implied
        require(schema(c).dataType == LongType,
          s"$WriteOrderByProp supports LONG columns; $c is ${schema(c).dataType}")
      }
    }
    props.get(WritePartitionsProp).foreach { n =>
      require(n.matches("[0-9]+") && n.toInt >= 0,
        s"$WritePartitionsProp must be a non-negative integer; got $n")
    }
    props.get(DeleteModeProp).foreach { m =>
      require(m == "copy-on-write" || m == "merge-on-read",
        s"$DeleteModeProp is copy-on-write or merge-on-read; got $m")
    }
    props.get(UpsertKeyProp).foreach { k =>
      require(schema.fieldNames.contains(k),
        s"$UpsertKeyProp column $k is not in the schema")
      require(schema(k).dataType == LongType ||
        schema(k).dataType == StringType,
        s"$UpsertKeyProp supports LONG/STRING keys; $k is ${schema(k).dataType}")
    }
    props.get(UpdateModeProp).foreach { m =>
      require(m == "copy-on-write" || m == "merge-on-read",
        s"$UpdateModeProp is copy-on-write or merge-on-read; got $m")
    }
    props.get(WriteDistributionProp).foreach { m =>
      require(m == "none" || m == "hash",
        s"$WriteDistributionProp is none or hash; got $m")
      require(m == "none" || spec.nonEmpty,
        s"$WriteDistributionProp=hash needs a partitioned table")
    }
    new File(dir, "data").mkdirs()
    writeSchema(dir, schema)
    writeMapping(dir, mapping)
    if (spec.nonEmpty) writeSpec(dir, spec)
    if (props.nonEmpty) writeProps(dir, props)
    commitVersion(dir, expectedLatest = 0L, op = "create", files = Seq.empty)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----
  /** The staged table builds in a hidden `.stg-*` directory; nothing is
    * visible (not listed, not loadable) until `commitStagedChanges`
    * publishes it by ONE directory rename. A poisoned CTAS write aborts
    * the stage and leaves NO table: nothing is visible until one atomic
    * rename publishes all of it, for table creation too (CatalogSpec
    * pins it). */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : StagedTable = {
    if (new File(tableDir(ident), SchemaFile).exists())
      throw new TableAlreadyExistsException(ident)
    require(!viewFile(ident).exists(),
      s"a VIEW named ${qualified(ident)} already exists")
    stage(ident, schema, partitions, properties, replace = false)
  }

  /** RTAS: `REPLACE TABLE ... AS SELECT` rebuilds the definition from
    * scratch (fresh version history, like a DROP+CREATE that readers
    * never see half-done). The swap is two renames — old table aside,
    * staged table in — so the not-atomic window is the rename pair, not
    * the write. */
  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : StagedTable = {
    if (!new File(tableDir(ident), SchemaFile).exists())
      throw new NoSuchTableException(ident)
    require(!viewFile(ident).exists(),
      s"a VIEW named ${qualified(ident)} already exists")
    stage(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : StagedTable = {
    // same collision rule as stageCreate: a TABLE must never shadow a
    // VIEW of the same name (both would persist and resolve)
    require(!viewFile(ident).exists(),
      s"a VIEW named ${qualified(ident)} already exists")
    stage(ident, schema, partitions, properties, replace = true)
  }

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String],
      replace: Boolean): StagedTable = {
    val ns = nsDir(ident.namespace)
    require(ns.isDirectory, s"no namespace ${ident.namespace.mkString(".")}")
    val tmp = new File(ns,
      s".stg-${ident.name}-${java.util.UUID.randomUUID().toString.take(8)}")
    setupTableDir(tmp, schema, partitions, properties)
    new GraftStagedTable(tmp, tableDir(ident), qualified(ident), replace)
  }

  /** Schema evolution, FIELD-ID based (the Iceberg column-mapping rule):
    * the mapping file carries one stable id per live column, every data
    * file records the ids it was written under, and readers resolve
    * columns by id — so ADD appends a fresh id (old files null-pad),
    * RENAME touches only the schema file (zero data movement), and DROP
    * removes the id (old files' values for it are simply never
    * projected, and stay readable via time travel). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!new File(dir, SchemaFile).exists())
      throw new NoSuchTableException(ident)
    var schema = readSchema(dir)
    var mapping = readMapping(dir, schema)
    var props = readProps(dir)
    val spec = readSpec(dir)
    // RENAME/DROP resolve columns by FIELD ID; a pre-v2 data file carries
    // no ids (positional only), so evolving over one would mis-map its
    // columns. Compaction rewrites such files with ids — require it first.
    lazy val allEntriesCarryIds: Boolean = {
      val latest = readLatest(dir)
      latest == 0 || readManifest(dir, latest).files.forall(e =>
        e.fieldIds.nonEmpty)
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft_cat has no nested columns")
        require(add.isNullable,
          "added columns must be nullable (old files null-pad)")
        require(add.position() == null,
          "added columns always append at the end")
        require(Codec.supported(add.dataType),
          s"graft_cat stores LONG/DOUBLE/STRING; got ${add.dataType}")
        require(schema.fields.length < 64, // the codec's one-long null bitmap
          "graft_cat tables hold at most 64 columns")
        val nm = add.fieldNames()(0)
        require(!ReservedCols(nm),
          s"$nm is a reserved metadata column name")
        require(nm.matches("[A-Za-z0-9_]+"), s"illegal column name $nm")
        require(!schema.fieldNames.contains(nm), s"column $nm already exists")
        schema = schema.add(nm, add.dataType, nullable = true)
        mapping = mapping.copy(ids = mapping.ids :+ mapping.nextId,
          nextId = mapping.nextId + 1)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1, "graft_cat has no nested columns")
        require(allEntriesCarryIds,
          "this table has pre-v2 data files without field ids; " +
            "run sys.compact before RENAME COLUMN")
        val from = rn.fieldNames()(0)
        val to = rn.newName
        require(schema.fieldNames.contains(from), s"no column $from")
        require(!schema.fieldNames.contains(to), s"column $to already exists")
        require(!ReservedCols(to),
          s"$to is a reserved metadata column name")
        require(to.matches("[A-Za-z0-9_]+"), s"illegal column name $to")
        val i = schema.fieldIndex(from)
        schema = StructType(schema.fields.updated(i,
          schema.fields(i).copy(name = to)))
        // ids are untouched — old files keep reading; name-keyed stats in
        // PRE-evolution manifests stop resolving (conservative, not wrong)
        mapping = mapping.copy(evolved = true)
        props.get(WriteOrderByProp).foreach { cols =>
          props += WriteOrderByProp -> cols.split(",").map(_.trim)
            .map(c => if (c == from) to else c).mkString(",")
        }
        if (props.get(UpsertKeyProp).contains(from))
          props += UpsertKeyProp -> to
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1, "graft_cat has no nested columns")
        require(allEntriesCarryIds,
          "this table has pre-v2 data files without field ids; " +
            "run sys.compact before DROP COLUMN")
        val c = del.fieldNames()(0)
        if (!schema.fieldNames.contains(c)) {
          require(del.ifExists() == java.lang.Boolean.TRUE, s"no column $c")
        } else {
          require(schema.fields.length > 1, "cannot drop the last column")
          val i = schema.fieldIndex(c)
          require(!spec.exists(_.id == mapping.ids(i)),
            s"$c is a partition source column")
          require(!props.get(WriteOrderByProp).exists(
            _.split(",").map(_.trim).contains(c)),
            s"$c is a $WriteOrderByProp column; unset the property first")
          require(!props.get(UpsertKeyProp).contains(c),
            s"$c is the $UpsertKeyProp column; unset the property first")
          schema = StructType(schema.fields.patch(i, Nil, 1))
          mapping = mapping.copy(ids = mapping.ids.patch(i, Nil, 1),
            evolved = true)
        }
      case c =>
        sys.error(s"graft_cat supports ADD/RENAME/DROP COLUMN evolution; got $c")
    }
    writeSchema(dir, schema)
    writeMapping(dir, mapping)
    writeProps(dir, props)
    new CatalogTable(dir, qualified(ident), pinned = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!new File(dir, SchemaFile).exists()) false
    else { deleteRecursively(dir); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace.sameElements(newIdent.namespace),
      "rename stays within a namespace")
    if (!new File(tableDir(oldIdent), SchemaFile).exists())
      throw new NoSuchTableException(oldIdent)
    if (new File(tableDir(newIdent), SchemaFile).exists())
      throw new TableAlreadyExistsException(newIdent)
    require(!viewFile(newIdent).exists(),
      s"a VIEW named ${qualified(newIdent)} already exists")
    Files.move(tableDir(oldIdent).toPath, tableDir(newIdent).toPath)
  }

  private def deleteRecursively(f: File): Unit = GraftTableCatalog.deleteTree(f)

  // ---- views (`CREATE VIEW graft_cat.db.v AS SELECT ...`) ----
  // A view is its recorded SQL plus the resolution context Spark needs
  // to replay it (catalog, namespace, schema, output names) — stored as
  // one JSON file beside the table dirs, published by atomic rename.
  // Persisted views are the catalog surface the reference's BI layer
  // would sit on: logic ships to every session, not every notebook.
  private def viewFile(ident: Identifier): File =
    new File(nsDir(ident.namespace), s"${ident.name}.view.json")

  override def listViews(namespace: String*): Array[Identifier] = {
    val d = nsDir(namespace.toArray)
    if (!d.isDirectory)
      throw new NoSuchNamespaceException(name() +: namespace)
    d.listFiles().filter(_.getName.endsWith(".view.json"))
      .map(f => Identifier.of(namespace.toArray,
        f.getName.stripSuffix(".view.json")))
  }

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      ident.namespace()(0).matches("[A-Za-z0-9_]+") && viewFile(ident).exists()

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident)) throw new NoSuchViewException(ident)
    StoredView.read(viewFile(ident), qualified(ident))
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    require(namespaceExists(ident.namespace),
      s"no namespace ${ident.namespace.mkString(".")}")
    require(!new File(tableDir(ident), SchemaFile).exists(),
      s"a TABLE named ${qualified(ident)} already exists")
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    // exclusive reservation, the manifest-commit discipline: a racing
    // creator dies here instead of silently overwriting
    Files.createFile(viewFile(ident).toPath)
    StoredView.write(viewFile(ident), info)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident).asInstanceOf[StoredView]
    val props = changes.foldLeft(v.props) {
      case (p, set: ViewChange.SetProperty) => p + (set.property -> set.value)
      case (p, rm: ViewChange.RemoveProperty) => p - rm.property
      case (p, _) => p
    }
    StoredView.writeRecord(viewFile(ident), v.copy(props = props))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      ident.namespace()(0).matches("[A-Za-z0-9_]+") && viewFile(ident).delete()

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace.sameElements(newIdent.namespace),
      "rename stays within a namespace")
    if (!viewExists(oldIdent)) throw new NoSuchViewException(oldIdent)
    if (viewExists(newIdent)) throw new ViewAlreadyExistsException(newIdent)
    require(!new File(tableDir(newIdent), SchemaFile).exists(),
      s"a TABLE named ${qualified(newIdent)} already exists")
    Files.move(viewFile(oldIdent).toPath, viewFile(newIdent).toPath)
  }

  // ---- procedures (`CALL graft_cat.sys.compact('db', 't', ...)`) ----
  private[sources] def resolveTableDir(ns: String, table: String): File = {
    val dir = tableDir(Identifier.of(Array(ns), table))
    if (!new File(dir, SchemaFile).exists())
      throw new NoSuchTableException(Identifier.of(Array(ns), table))
    dir
  }
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("sys")))
      Array(Identifier.of(Array("sys"), "compact"),
        Identifier.of(Array("sys"), "expire_versions"),
        Identifier.of(Array("sys"), "create_view"),
        Identifier.of(Array("sys"), "drop_view"),
        Identifier.of(Array("sys"), "tag"),
        Identifier.of(Array("sys"), "drop_tag"),
        Identifier.of(Array("sys"), "branch"),
        Identifier.of(Array("sys"), "drop_branch"),
        Identifier.of(Array("sys"), "fast_forward"),
        Identifier.of(Array("sys"), "set_partition_spec"),
        Identifier.of(Array("sys"), "rewrite_deletes"),
        Identifier.of(Array("sys"), "remove_orphans"),
        Identifier.of(Array("sys"), "rewrite_sorted"))
    else Array.empty
  // ---- functions ----
  /** [[FunctionCatalog]] exposing the partition `bucket` transform as a
    * V2 function: Spark resolves a bucket-partitioned scan's
    * KeyGroupedPartitioning by loading `bucket` from the TABLE's own
    * catalog (the Iceberg wiring) — without this, storage-partitioned
    * joins on bucket specs silently fall back to shuffles. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty[String], "bucket"))
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket") GraftBucketFunction
    else throw new NoSuchFunctionException(ident)

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    (ident.namespace.toSeq, ident.name) match {
      case (Seq("sys"), "compact") => new CompactProcedure(this)
      case (Seq("sys"), "expire_versions") => new ExpireProcedure(this)
      case (Seq("sys"), "create_view") => new CreateViewProcedure(this)
      case (Seq("sys"), "drop_view") => new DropViewProcedure(this)
      case (Seq("sys"), "tag") => new TagProcedure(this)
      case (Seq("sys"), "drop_tag") => new DropTagProcedure(this)
      case (Seq("sys"), "branch") => new BranchProcedure(this)
      case (Seq("sys"), "drop_branch") => new DropBranchProcedure(this)
      case (Seq("sys"), "fast_forward") => new FastForwardProcedure(this)
      case (Seq("sys"), "set_partition_spec") =>
        new SetPartitionSpecProcedure(this)
      case (Seq("sys"), "rewrite_deletes") =>
        new RewriteDeletesProcedure(this)
      case (Seq("sys"), "remove_orphans") =>
        new RemoveOrphansProcedure(this)
      case (Seq("sys"), "rewrite_sorted") =>
        new RewriteSortedProcedure(this)
      case _ => sys.error(s"graft_cat has no procedure " +
        s"${(ident.namespace :+ ident.name).mkString(".")}; " +
        "see SHOW PROCEDURES IN graft_cat.sys")
    }
}

object GraftTableCatalog {
  val SchemaFile = "schema.json"
  val MetaSnapshots = "snapshots"
  val MetaPartitions = "partitions"
  val MetaChanges = "changes"
  val MetaRefs = "refs"
  val MetaFiles = "files"
  val MetaManifests = "manifests"
  val MetaTables: Set[String] =
    Set(MetaSnapshots, MetaPartitions, MetaChanges, MetaRefs, MetaFiles,
      MetaManifests)
  /** Metadata column: the data file a row lives in — the GROUP key the
    * row-level operations (UPDATE/MERGE/DELETE rewrites) narrow by. */
  val FileMetaCol = "_file"
  /** Metadata column: the row's raw position within its data file —
    * (_file, _pos) is the ROW ID the delta-based (merge-on-read)
    * row-level operations address deletes by. */
  val PosMetaCol = "_pos"
  /** Table property: how UPDATE and MERGE execute (a row-level DELETE
    * follows [[DeleteModeProp]] instead).
    * 'copy-on-write' (default) rewrites whole matched files via the
    * group-based plan; 'merge-on-read' uses Spark's delta-based plan
    * ([[org.apache.spark.sql.connector.write.SupportsDelta]]): matched
    * rows become POSITION DELETES on their source files plus small
    * insert files — a 10-row update touches 10 rows, not a file. */
  val UpdateModeProp = "update.mode"
  /** Table property: CSV of columns the WRITE path range-distributes and
    * sorts by, so every insert lands with disjoint per-file min/max —
    * file skipping works on any data, not only pre-sorted feeds. */
  val WriteOrderByProp = "write.order_by"
  /** Table property: exact writer partition count for ordered writes
    * (0 = let AQE size them) — at toy scale AQE rightly coalesces a tiny
    * range exchange to one file, which hides the disjoint-stats layout. */
  val WritePartitionsProp = "write.partitions"
  /** Table property: how a partitioned INSERT distributes rows.
    * 'none' (default) = fanout — each task writes one file per partition
    * tuple it sees; 'hash' = the write DEMANDS a clustered distribution
    * on the partition transforms (Iceberg's write.distribution-mode=
    * hash), so each tuple lands in ONE task and file counts track
    * partitions, not tasks × partitions — at 100 TB the difference
    * between 10k files and 10M. */
  val WriteDistributionProp = "write.distribution"
  /** Table property: UPSERT key column. When set, every INSERT (batch or
    * streaming epoch) SUPERSEDES prior rows carrying the same key: the
    * write commits its data files PLUS an EQUALITY DELETE file (the
    * distinct keys written), sequence-tagged so readers anti-join it
    * against every OLDER data file only — the Iceberg v2 CDC-apply
    * path. `sys.compact` applies and drops the key files. Batches are
    * expected key-unique (the CDC contract). */
  val UpsertKeyProp = "write.upsert.key"

  /** `write.bloom.columns` — comma-separated LONG/STRING columns that get
    * a PER-FILE BLOOM FILTER SIDECAR (`<file>.bloom`, 64 KiB per column,
    * the Iceberg puffin model): point predicates (`=` / `IN`) on an
    * UNSORTED column then skip files min/max ranges cannot — the filter
    * proves definite ABSENCE, planning opens the sidecar (kilobytes)
    * instead of the data file. ~0.1% false-positive rate at 50k distinct
    * values per file; a false positive costs one data-file scan, never
    * correctness. */
  val BloomColsProp = "write.bloom.columns"
  /** Writers BUILD at 2^21 bits (32768 longs, 256 KiB) and FOLD DOWN to
    * the smallest power-of-2 size with expected fp <= ~2% for the rows
    * actually flushed (OR-ing halves preserves `h mod m` probe positions
    * for power-of-2 m) — a 50k-row file ships ~64 KiB, a 1k-row file
    * ~2 KiB, a 125k-row file keeps the full 256 KiB instead of the fixed
    * 64 KiB that measured ~14% fp. Readers size probes from the sidecar
    * (`nWords` rides the format), so old fixed-size sidecars keep
    * probing identically. */
  private[sources] val BloomWords = 32768
  private[sources] val BloomMinWords = 32 // 2 Kib floor
  /** Fold a build-size filter to its ship size for `rows` values: need
    * m >= ~8.7*n bits for fp(k=4) <= 2%. */
  private[sources] def bloomSized(bits: Array[Long], rows: Long)
      : Array[Long] = {
    val neededBits = math.max(1L, 9L * rows)
    var targetWords = BloomMinWords
    while (targetWords.toLong * 64 < neededBits && targetWords < bits.length)
      targetWords <<= 1
    var cur = bits
    while (cur.length > targetWords) {
      val half = cur.length >> 1
      val next = new Array[Long](half)
      var i = 0
      while (i < half) { next(i) = cur(i) | cur(i + half); i += 1 }
      cur = next
    }
    cur
  }
  /** Normalize a LONG into the unsigned 32-bit code space its z-order
    * bits interleave from: position within the column's [lo, hi] span,
    * computed in doubles (monotone to within double precision — exact
    * rank is irrelevant, clustering only needs neighborhood order; the
    * double form also sidesteps `hi - lo` overflow on extreme spans). */
  private[sources] def zCode32(v: Long, lo: Long, hi: Long): Long =
    if (hi <= lo) 0L
    else {
      val f = (v.toDouble - lo.toDouble) / (hi.toDouble - lo.toDouble)
      val c = (f * 4294967295.0).toLong
      if (c < 0L) 0L else if (c > 4294967295L) 4294967295L else c
    }

  /** Morton interleave: bit 63-b of the key is bit (31 - b/k) of column
    * b%k's 32-bit code — round-robin from the MSB, so the top bits of
    * every column dominate equally and a range probe on ANY of the k
    * columns maps to contiguous key runs. k >= 2 (a single column sorts
    * plainly); compare keys UNSIGNED (column 0's bit 31 lands in the
    * sign bit). */
  private[sources] def zInterleave(codes: Array[Long]): Long = {
    val k = codes.length
    var key = 0L
    var b = 0
    while (b < 64) {
      key = (key << 1) | ((codes(b % k) >>> (31 - b / k)) & 1L)
      b += 1
    }
    key
  }

  /** splitmix64 — the value hash bloom bits derive from (LONGs). */
  private[sources] def bloomMixLong(v0: Long): Long = {
    var v = v0 + 0x9E3779B97F4A7C15L
    v = (v ^ (v >>> 30)) * 0xBF58476D1CE4E5B9L
    v = (v ^ (v >>> 27)) * 0x94D049BB133111EBL
    v ^ (v >>> 31)
  }
  /** FNV-1a 64 over UTF-8 bytes (STRINGs) — identical on write + probe.
    * `off` lets the vectorized writer mix straight out of its scratch
    * buffer without re-copying the string bytes. */
  private[sources] def bloomMixBytes(b: Array[Byte], len: Int,
      off: Int = 0): Long = {
    var h = 0xCBF29CE484222325L
    var i = off
    val end = off + len
    while (i < end) { h ^= (b(i) & 0xffL); h *= 0x100000001B3L; i += 1 }
    bloomMixLong(h)
  }
  /** k=4 double-hashed probes; the bit-space is the ARRAY's size (always
    * a power of 2), so a folded filter and the build filter agree. */
  private[sources] def bloomSet(bits: Array[Long], h: Long): Unit = {
    val h2 = (h >>> 32) | (h << 32)
    val m = bits.length * 64L
    var i = 0
    while (i < 4) {
      val idx = ((h + i * h2) & Long.MaxValue) % m
      bits((idx >>> 6).toInt) |= (1L << (idx & 63))
      i += 1
    }
  }
  private[sources] def bloomMightContain(bits: Array[Long], h: Long)
      : Boolean = {
    val h2 = (h >>> 32) | (h << 32)
    val m = bits.length * 64L
    var i = 0
    while (i < 4) {
      val idx = ((h + i * h2) & Long.MaxValue) % m
      if ((bits((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }
  /** Sidecar format: per column `int32 fieldId, int32 nWords, longs`. */
  private[sources] def writeBloomSidecar(f: File,
      cols: Seq[(Int, Array[Long])]): Unit = {
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(f), 1 << 16))
    try cols.foreach { case (id, bits) =>
      out.writeInt(id); out.writeInt(bits.length)
      bits.foreach(out.writeLong)
    } finally out.close()
  }
  private[sources] def readBloomSidecar(f: File): Map[Int, Array[Long]] = {
    if (!f.exists()) return Map.empty
    val in = new DataInputStream(new BufferedInputStream(
      new FileInputStream(f), 1 << 16))
    try {
      val out = Map.newBuilder[Int, Array[Long]]
      while (in.available() > 0) {
        val id = in.readInt(); val n = in.readInt()
        val bits = new Array[Long](n)
        var i = 0
        while (i < n) { bits(i) = in.readLong(); i += 1 }
        out += id -> bits
      }
      out.result()
    } finally in.close()
  }
  /** Writer-facing bloom config: schema POSITIONS of the indexed
    * columns (validated: present, LONG or STRING). */
  private[sources] def bloomEncOf(dir: File, schema: StructType): String =
    readProps(dir).get(BloomColsProp) match {
      case Some(cols) => cols.split(",").map(_.trim).filter(_.nonEmpty)
        .map { c =>
          require(schema.fieldNames.contains(c),
            s"$BloomColsProp names unknown column '$c'")
          require(schema(c).dataType == LongType ||
            schema(c).dataType == StringType,
            s"$BloomColsProp supports LONG/STRING; '$c' is ${schema(c).dataType}")
          schema.fieldIndex(c).toString
        }.mkString(",")
      case None => ""
    }

  /** Deleting a data file always removes its bloom sidecar with it. */
  private[sources] def deleteDataAndSidecar(dataDir: File, n: String)
      : Boolean = {
    val f = new File(dataDir, n)
    val existed = f.exists()
    if (existed) f.delete()
    val b = new File(dataDir, n + ".bloom")
    if (b.exists()) b.delete()
    existed
  }

  /** Bloom-sidecar file pruning: TRUE = cannot rule the file out. Only
    * `=` / `IN` shapes on indexed columns consult the sidecar (64 KiB
    * read, lazily, only for files that survived partition + min/max
    * pruning); a missing sidecar or unindexed column is conservative. */
  private[sources] def bloomMayMatch(dir: File, schema: StructType,
      mp: ColMapping, e: Entry, filters: Array[Filter]): Boolean = {
    if (e.bloomCols.isEmpty) return true
    lazy val side = readBloomSidecar(
      new File(new File(dir, "data"), e.name + ".bloom"))
    def hashOf(c: String, v: Any): Option[(Int, Long)] = {
      val i = schema.fieldNames.indexOf(c)
      if (i < 0) None
      else {
        val id = mp.ids(i)
        if (!e.bloomCols.contains(id)) None
        else longLit(v).map(x => (id, bloomMixLong(x)))
          .orElse(strLit(v).map { sv =>
            val b = sv.getBytes(StandardCharsets.UTF_8)
            (id, bloomMixBytes(b, b.length))
          })
      }
    }
    def ok(f: Filter): Boolean = f match {
      case EqualTo(c, v) => hashOf(c, v) match {
        case Some((id, h)) =>
          side.get(id).forall(bits => bloomMightContain(bits, h))
        case None => true
      }
      case In(c, vs) => vs.isEmpty || vs.exists(v => ok(EqualTo(c, v)))
      case And(l, r) => ok(l) && ok(r)
      case Or(l, r) => ok(l) || ok(r)
      case _ => true
    }
    filters.forall(ok)
  }
  /** Table property: how `DELETE FROM` treats boundary files.
    * 'copy-on-write' (default) rewrites them; 'merge-on-read' commits a
    * position delete file readers anti-merge — the Iceberg v2 read path,
    * so a 10-row delete never rewrites a 1 GB file. It governs both DELETE
    * paths: the metadata delete ([[deleteWhere]]) and the row-level one a
    * predicate that is not a data-source `Filter` takes. */
  val DeleteModeProp = "delete.mode"
  /** The identifier suffix addressing a writable branch:
    * `db.t.branch_<name>` (the Iceberg Spark identifier shape). */
  val BranchPrefix = "branch_"
  /** The CDF's two synthetic columns (the Delta CDF names). */
  val ChangeTypeCol = "_change_type"
  val ChangeVersionCol = "_version"
  /** A zero-byte manifest reservation older than this (and still
    * unpublished) is treated as a crashed writer's orphan and reclaimed;
    * younger ones are presumed LIVE (a writer between reserve and fill)
    * and the commit fails loudly instead of racing it. */
  val OrphanReclaimMs: Long = 10L * 60 * 1000
  /** Names no user column may take: the scan's metadata columns AND the
    * `.changes` table's synthetic CDF columns (a user column named
    * `_change_type` would duplicate-name the CDF schema). */
  val ReservedCols: Set[String] =
    Set(FileMetaCol, PosMetaCol, ChangeTypeCol, ChangeVersionCol)
  /** Synthesize an EQUI-HEIGHT histogram from per-file (lo, hi, rows,
    * ndv) spans — the piecewise-uniform density the manifest already
    * implies, no data scan: the CDF at any point is the sum of each
    * file's rows scaled by how much of the file's span lies below it;
    * bin boundaries invert that CDF at multiples of rows/bins (binary
    * search, the CDF is monotone), and each bin's ndv prorates the
    * overlapping files' distinct estimates. Skewed layouts (most rows
    * bunched in a narrow range) therefore price correctly under
    * Catalyst's FilterEstimation, where a bare [min, max] assumes
    * uniformity over the whole span. */
  private[sources] def manifestHistogram(
      spans: Seq[(Long, Long, Long, Long)], totalRows: Long)
      : Option[org.apache.spark.sql.connector.read.colstats.Histogram] = {
    if (spans.length < 2 || spans.length > 4096 || totalRows <= 0)
      return None
    val gLo = spans.map(_._1).min.toDouble
    val gHi = spans.map(_._2).max.toDouble
    if (gHi <= gLo) return None
    def cdf(x: Double): Double = {
      var s = 0.0
      spans.foreach { case (lo, hi, r, _) =>
        if (x >= hi) s += r.toDouble
        else if (x > lo)
          s += r.toDouble * (x - lo) / (hi.toDouble - lo.toDouble)
      }
      s
    }
    val nBins = math.min(64, math.max(4, spans.length))
    val h = totalRows.toDouble / nBins
    val cuts = new Array[Double](nBins + 1)
    cuts(0) = gLo; cuts(nBins) = gHi
    var i = 1
    while (i < nBins) {
      val target = i * h
      var lo = gLo; var hi = gHi
      var it = 0
      while (it < 64) {
        val mid = (lo + hi) / 2
        if (cdf(mid) < target) lo = mid else hi = mid
        it += 1
      }
      cuts(i) = (lo + hi) / 2
      i += 1
    }
    val binArr = Array.tabulate[
        org.apache.spark.sql.connector.read.colstats.HistogramBin](nBins) {
      b =>
        val bl = cuts(b); val bh = cuts(b + 1)
        var nv = 0.0
        spans.foreach { case (lo, hi, r, nd) =>
          val width = hi.toDouble - lo.toDouble + 1.0
          val ndv = if (nd > 0) nd.toDouble else math.min(width, r.toDouble)
          val ov = math.min(bh, hi.toDouble + 1.0) - math.max(bl, lo.toDouble)
          if (ov > 0) nv += ndv * (ov / width)
        }
        val ndvL = math.max(1L, math.min(nv.toLong, h.toLong + 1L))
        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
          override def lo(): Double = bl
          override def hi(): Double = bh
          override def ndv(): Long = ndvL
        }
    }
    Some(new org.apache.spark.sql.connector.read.colstats.Histogram {
      override def height(): Double = h
      override def bins(): Array[
        org.apache.spark.sql.connector.read.colstats.HistogramBin] = binArr
    })
  }

  /** A position delete file: `rows` positions (longs, raw file order)
    * of `dataFile` rows that are logically deleted. */
  case class DeleteFile(name: String, rows: Long)

  /** An equality delete file: `rows` DISTINCT upsert-key values written
    * at commit `seq`; readers anti-join it against every data file with
    * a SMALLER seq (newer files are immune — their rows are the
    * replacements). */
  case class EqDelete(name: String, rows: Long, seq: Long)

  /** One manifest entry: an immutable data file plus everything a
    * planner needs without opening it.
    *
    *  - `stats`: per-LONG-column min/max over NON-NULL values, keyed
    *    `#<fieldId>` (v2) or by column name (legacy manifests);
    *  - `nullFree`: columns PROVEN to contain no nulls (same key space);
    *    `None` means a legacy manifest with no null bookkeeping — every
    *    "all rows match" proof then fails, never the other way (the
    *    Iceberg strict-evaluator rule: a comparison predicate cannot
    *    match a NULL, so metadata-only DELETE needs nullCount==0);
    *  - `fieldIds`: positional field ids the file was written under
    *    (empty = legacy 0..cols-1) — the column-mapping indirection that
    *    makes RENAME free and DROP read-compatible;
    *  - `typeCodes`: positional storage types (L/D/S; empty = legacy,
    *    derive from the current schema prefix — valid because legacy
    *    tables predate DROP);
    *  - `partition`: this file's partition tuple under the spec
    *    GENERATION it was written under (encoded; empty = unpartitioned);
    *  - `specId`: index into the table's spec history (specs.json) — the
    *    Iceberg per-file spec id, so `SET PARTITION SPEC` never rewrites
    *    data: old files keep pruning under their own layout;
    *  - `sums`: per-LONG-column EXACT sums over non-null values (same
    *    `#<fieldId>` key space; absent = legacy file or the writer hit
    *    long overflow) — what SUM pushdown answers from;
    *  - `ndv`: per-column ESTIMATED distinct non-null values (linear
    *    counting at write; same `#<fieldId>` keys) — feeds CBO column
    *    statistics, never a correctness proof;
    *  - `deletes`: position delete files readers anti-merge. */
  case class Entry(name: String, rows: Long, bytes: Long, cols: Int,
      stats: Map[String, (Long, Long)],
      nullFree: Option[Set[String]] = None,
      fieldIds: Seq[Int] = Seq.empty,
      typeCodes: String = "",
      partition: Seq[String] = Seq.empty,
      deletes: Seq[DeleteFile] = Seq.empty,
      seq: Long = 0L,
      specId: Int = 0,
      sums: Map[String, Long] = Map.empty,
      bloomCols: Seq[Int] = Seq.empty,
      ndv: Map[String, Long] = Map.empty) {
    /** Live rows MINUS positional deletes; an upper bound while equality
      * deletes are outstanding (they resolve per-row at read). */
    def liveRows: Long = rows - deletes.map(_.rows).sum
    def idsOrLegacy: Seq[Int] =
      if (fieldIds.nonEmpty) fieldIds else 0 until cols
  }

  /** `epochs` = committed streaming micro-batch markers, carried forward
    * by EVERY commit (including overwrites: a replayed epoch must stay a
    * no-op even after the table's content was replaced) — file list and
    * epoch set live in one immutable manifest so they can never
    * disagree (separate files could be one rename apart after a crash
    * between renames). Markers are
    * NAMESPACED BY QUERY (`<queryId>:<epochId>`, the stable checkpoint
    * query id Spark keys micro-batch idempotence on) so replay detection
    * is per-stream: a FRESH stream (new checkpoint, epoch ids restart at
    * 0) writing to a table — or a branch inheriting main's epoch set —
    * never has its first batches misclassified as replays of some OTHER
    * stream's epochs. Bare-long markers parse in from pre-namespace
    * manifests and stay carried; they can no longer match any live
    * stream (by design — cross-query matching was the data-loss bug). */
  case class Manifest(version: Long, op: String, files: Seq[Entry],
      epochs: Set[String] = Set.empty, commitMs: Long = 0L,
      eqDeletes: Seq[EqDelete] = Seq.empty,
      segs: Seq[Segment] = Seq.empty)

  /** One manifest-list reference to an immutable SEGMENT file (`sg-*.seg`,
    * a block of F entry lines): `count` entries, rows/bytes totals, and a
    * PARTITION-RANGE SUMMARY planning prunes on BEFORE reading the
    * segment — the Iceberg manifest-list design. Summary grammar:
    * `-` (no pruning possible) or `p<specId>|<slot>|<slot>...` with one
    * slot per partition transform: `*` unknown, `N` all-null,
    * `l<lo>:<hi>` encoded-long range (identity long / bucket ordinal /
    * day ordinal), `s<urlenc>` uniform identity string; a trailing `!`
    * marks "some entries null in this slot" (never emitted by
    * URLEncoder, so unambiguous). */
  case class SegRef(name: String, count: Long, rows: Long, bytes: Long,
      summary: String)
  case class Segment(ref: SegRef, entries: Seq[Entry])

  /** Segment files PARSED (driver-side planning/commit I/O) — the
    * observability behind the partition-pruned-planning pins: a point
    * probe on a partitioned table must consult only matching segments. */
  val segmentsRead = new AtomicLong(0)

  /** The column mapping (mapping.json): one STABLE field id per live
    * column, parallel to the current schema. `evolved` flips true on the
    * first RENAME/DROP — from then on, name-keyed stats in pre-evolution
    * manifests are ignored (conservative: pruning weakens, correctness
    * holds). Absent file = legacy table: ids are schema positions. */
  case class ColMapping(ids: Seq[Int], nextId: Int, evolved: Boolean)

  /** One partition-spec transform: `kind` ∈ identity|bucket|days, `arg`
    * the bucket count (0 otherwise), `id` the SOURCE column's field id
    * (stable across renames). */
  case class PT(kind: String, arg: Int, id: Int)

  // Test-only observability (single-JVM local mode), the SeriesSource
  // counters' discipline: data files actually opened by readers, and the
  // last DELETE's split.
  val filesOpened = new AtomicLong(0)
  /** Test-only: runs once inside rewrite_deletes' OCC attempt, after the
    * head manifest is read — a spec injects a concurrent CDC commit here
    * to drive the rebase path deterministically. */
  val rewriteDeletesRaceHook =
    new java.util.concurrent.atomic.AtomicReference[Runnable](null)
  val lastDeleteDropped = new AtomicLong(-1)
  val lastDeleteRewritten = new AtomicLong(-1)
  val lastDeleteKept = new AtomicLong(-1)
  /** merge-on-read: boundary files that took a position-delete file
    * instead of a rewrite in the last DELETE. */
  val lastDeleteMorFiles = new AtomicLong(-1)
  /** boundary files the last DELETE kept UNREAD because a bloom sidecar
    * disproved its point predicate. */
  val lastDeleteBloomKept = new AtomicLong(-1)

  private[sources] def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }

  def writeSchema(dir: File, schema: StructType): Unit = {
    val tmp = new File(dir, s".schema.tmp.${java.util.UUID.randomUUID}")
    Files.write(tmp.toPath, schema.json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, SchemaFile).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
  def readSchema(dir: File): StructType =
    DataType.fromJson(new String(Files.readAllBytes(
      new File(dir, SchemaFile).toPath), StandardCharsets.UTF_8))
      .asInstanceOf[StructType]

  private def writeJsonAtomic(dir: File, fileName: String,
      body: String): Unit = {
    val tmp = new File(dir, s".$fileName.tmp.${java.util.UUID.randomUUID}")
    Files.write(tmp.toPath, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, fileName).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
  private def readFileOpt(dir: File, fileName: String): Option[String] = {
    val f = new File(dir, fileName)
    if (!f.exists()) None
    else Some(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
  }

  /** Table properties (props.json): `write.order_by` / `write.partitions`
    * / `delete.mode`. Reserved Spark-managed keys are not persisted. */
  def writeProps(dir: File, props: Map[String, String]): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    writeJsonAtomic(dir, "props.json",
      org.json4s.jackson.Serialization.write(props))
  }
  def readProps(dir: File): Map[String, String] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    readFileOpt(dir, "props.json")
      .map(org.json4s.jackson.Serialization.read[Map[String, String]])
      .getOrElse(Map.empty)
  }

  def writeMapping(dir: File, mp: ColMapping): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    writeJsonAtomic(dir, "mapping.json",
      org.json4s.jackson.Serialization.write(mp))
  }
  def readMapping(dir: File, schema: StructType): ColMapping = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    readFileOpt(dir, "mapping.json")
      .map(org.json4s.jackson.Serialization.read[ColMapping])
      .getOrElse(ColMapping(schema.indices.toList,
        schema.fields.length, evolved = false))
  }

  /** Named snapshot refs (refs.json): TAGS pinning a version by name —
    * readable via `VERSION AS OF 'name'` and retained through
    * `sys.expire_versions` (the Iceberg refs model: a tagged training
    * snapshot survives GC until the tag drops). */
  def readRefs(dir: File): Map[String, Long] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    readFileOpt(dir, "refs.json")
      .map(org.json4s.jackson.Serialization.read[Map[String, Long]])
      .getOrElse(Map.empty)
  }
  def writeRefs(dir: File, refs: Map[String, Long]): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    writeJsonAtomic(dir, "refs.json",
      org.json4s.jackson.Serialization.write(refs))
  }

  /** A WRITABLE branch ref (branches.json): `base` = the MAIN version the
    * branch forked from (pinned against expiry while the branch lives),
    * `head` = the branch-local commit count (0 = no branch commits yet;
    * the branch state is then exactly the base manifest). Branch commits
    * live in their own `b-<name>.v<K>.manifest` chain — the MAIN chain
    * stays strictly linear, so snapshots / CDF / time travel never see a
    * branch commit until `sys.fast_forward` publishes the branch head as
    * ONE new main version (write-audit-publish, the Iceberg branch
    * model). */
  case class BranchRef(base: Long, head: Long)

  def readBranchRefs(dir: File): Map[String, BranchRef] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    readFileOpt(dir, "branches.json")
      .map(org.json4s.jackson.Serialization.read[Map[String, BranchRef]])
      .getOrElse(Map.empty)
  }
  def writeBranchRefs(dir: File, refs: Map[String, BranchRef]): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    writeJsonAtomic(dir, "branches.json",
      org.json4s.jackson.Serialization.write(refs))
  }

  /** Serialize ALL branches.json mutations through an exclusive-create
    * lock. Unlike the manifest chains (which CAS on per-version files),
    * the branch-ref map is ONE shared file mutated by branch create,
    * branch commits, fast_forward and drop_branch — an unguarded
    * read-modify-write from two concurrent operations on DIFFERENT
    * branches silently drops one update (e.g. a committed head advance,
    * stranding its manifest so the next commit dies on a non-reclaimable
    * FileAlreadyExistsException). The lock spans only the
    * read-apply-write of a <1 KiB JSON file; contention waits briefly
    * then fails loudly; a crashed holder's lock reclaims after
    * [[OrphanReclaimMs]], mirroring manifest reservations. Threads of one
    * process first queue on a per-lock monitor, so the file protocol only
    * ever arbitrates between processes: a waiter that read a stale mtime
    * before another thread reclaimed the orphan would otherwise steal the
    * new holder's FRESH lock, and while it sat in the tomb a third thread
    * could create the lock and run alongside the holder. */
  def mutateBranchRefs(dir: File)(
      f: Map[String, BranchRef] => Map[String, BranchRef])
      : Map[String, BranchRef] = {
    val lock = new File(dir, ".branches.lock")
    branchLockMonitors.computeIfAbsent(lock.getCanonicalPath,
      _ => new Object).synchronized(lockedMutateBranchRefs(dir, lock, f))
  }
  private val branchLockMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockedMutateBranchRefs(dir: File, lock: File,
      f: Map[String, BranchRef] => Map[String, BranchRef])
      : Map[String, BranchRef] = {
    var held = false
    var attempts = 0
    while (!held) {
      try { Files.createFile(lock.toPath); held = true }
      catch {
        case _: FileAlreadyExistsException =>
          if (lock.exists() &&
              System.currentTimeMillis - lock.lastModified() >
                OrphanReclaimMs) {
            // Reclaim by ATOMIC RENAME + post-rename identity check, not
            // delete+create: with two waiters on one stale lock, a bare
            // delete lets waiter B read the stale mtime, then delete the
            // FRESH lock waiter A just created — both enter and one
            // branches.json update is lost. The rename to a unique tomb
            // succeeds for exactly one waiter and grants it EXCLUSIVE
            // ownership of whatever file was at the path — so the mtime
            // re-check on the tomb is race-free: a genuinely stale tomb
            // is discarded (both waiters then retry createFile fairly);
            // a FRESH tomb means we just stole a live holder's lock —
            // restore it by renaming back (the path is empty unless
            // another PROCESS created the lock while the theft was in
            // flight; then fail LOUDLY rather than let two holders
            // proceed).
            val tomb = new File(dir,
              s".branches.lock.tomb.${java.util.UUID.randomUUID}")
            try {
              Files.move(lock.toPath, tomb.toPath,
                StandardCopyOption.ATOMIC_MOVE)
              if (System.currentTimeMillis - tomb.lastModified() >
                  OrphanReclaimMs) tomb.delete()
              else Files.move(tomb.toPath, lock.toPath,
                StandardCopyOption.ATOMIC_MOVE) // no REPLACE: loud if raced
            } catch {
              case _: NoSuchFileException => () // another waiter reclaimed
              case e: FileAlreadyExistsException =>
                throw new IllegalStateException(
                  s"branch-lock reclaim on $lock raced a concurrent " +
                    "create while restoring a stolen fresh lock", e)
            }
          } else {
            attempts += 1
            if (attempts > 500) throw new IllegalStateException(
              s"could not acquire branch-ref lock $lock after 5s — " +
                "a concurrent branch operation is stuck")
            Thread.sleep(10)
          }
      }
    }
    try {
      val next = f(readBranchRefs(dir))
      writeBranchRefs(dir, next)
      next
    } finally Files.deleteIfExists(lock.toPath)
  }

  private[sources] def branchManifestFile(dir: File, name: String,
      k: Long): File = new File(dir, s"b-$name.v$k.manifest")

  private[sources] def branchRefOf(dir: File, name: String): BranchRef =
    readBranchRefs(dir).getOrElse(name, throw new IllegalArgumentException(
      s"$dir has no branch '$name'; " +
        s"branches: ${readBranchRefs(dir).keys.toSeq.sorted.mkString(", ")}"))

  /** The manifest a reader/writer of `branch` (None = main) sees NOW. */
  def headManifest(dir: File, branch: Option[String]): Manifest =
    branch match {
      case None =>
        val v = readLatest(dir)
        if (v == 0) Manifest(0, "none", Seq.empty) else readManifest(dir, v)
      case Some(b) =>
        val r = branchRefOf(dir, b)
        if (r.head > 0) parseManifest(branchManifestFile(dir, b, r.head), r.head)
        else if (r.base > 0) readManifest(dir, r.base)
        else Manifest(0, "none", Seq.empty)
    }

  /** The commit CAS token for `branch`: main's latest, or the branch's
    * local head count. */
  def headVersion(dir: File, branch: Option[String]): Long = branch match {
    case None => readLatest(dir)
    case Some(b) => branchRefOf(dir, b).head
  }

  /** Publish branch commit `expectedHead + 1`: same exclusive-create
    * discipline as [[commitVersion]] on the branch's own manifest chain,
    * then the branches.json head advances. The branch pointer swap is
    * single-writer like the rest of the table (a racer dies at the
    * exclusive create, before the pointer moves). */
  def commitBranchVersion(dir: File, name: String, expectedHead: Long,
      op: String, files: Seq[Entry], epochs: Set[String] = Set.empty,
      eqDeletes: Seq[EqDelete] = Seq.empty,
      prev: Option[Manifest] = None): Long = {
    val r = branchRefOf(dir, name)
    // a stale CAS token is a RETRYABLE race, same as losing the
    // exclusive-create on the main chain — surface it as the exception
    // retryingCommit rebases on, so concurrent branch appends/stream
    // epochs rebase instead of failing loudly on the pointer read
    if (r.head != expectedHead) throw new FileAlreadyExistsException(
      s"branch '$name' advanced to head ${r.head} (expected $expectedHead)")
    val next = expectedHead + 1
    val target = branchManifestFile(dir, name, next)
    try Files.createFile(target.toPath) // a racer dies loudly here
    catch {
      case e: FileAlreadyExistsException =>
        // same stale-orphan rule as the main chain: reclaim only a
        // zero-byte, never-published (head still below it), AGED
        // reservation — a crashed writer must not brick the branch
        if (target.length() == 0 && branchRefOf(dir, name).head < next &&
            System.currentTimeMillis - target.lastModified() >
              OrphanReclaimMs) {
          Files.delete(target.toPath)
          Files.createFile(target.toPath)
        } else throw e
    }
    // segment reuse against the branch's own previous head (or, for the
    // first branch commit, the forked base manifest on main — segment
    // files are immutable and table-dir-scoped, so cross-chain reuse by
    // reference is sound)
    val prevSegs = prev.map(_.segs).getOrElse {
      if (expectedHead > 0)
        parseManifest(branchManifestFile(dir, name, expectedHead),
          expectedHead).segs
      else if (r.base > 0) readManifest(dir, r.base).segs
      else Seq.empty
    }
    val tmp = new File(dir, s".manifest.tmp.${java.util.UUID.randomUUID}")
    Files.write(tmp.toPath,
      manifestBody(op, planSegments(dir, prevSegs, files), epochs, eqDeletes)
        .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, target.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    mutateBranchRefs(dir) { refs =>
      val cur = refs.getOrElse(name, throw new IllegalStateException(
        s"branch '$name' was dropped while its commit v$next was in flight"))
      refs + (name -> cur.copy(head = next))
    }
    next
  }

  /** Branch-aware commit dispatch: main commits advance `latest`, branch
    * commits advance the branch's own chain. */
  def commitHead(dir: File, branch: Option[String], expected: Long,
      op: String, files: Seq[Entry], epochs: Set[String] = Set.empty,
      eqDeletes: Seq[EqDelete] = Seq.empty,
      prev: Option[Manifest] = None): Long = branch match {
    case None =>
      commitVersion(dir, expected, op, files, epochs, eqDeletes, prev)
    case Some(b) =>
      commitBranchVersion(dir, b, expected, op, files, epochs, eqDeletes, prev)
  }

  /** CREATE-time write of the GENERATION-0 layout (partition.json).
    * After creation this file is immutable — spec evolution appends to
    * specs.json only, so the current layout + its spec id are always
    * ONE atomic read (see [[readSpecs]]). */
  def writeSpec(dir: File, spec: Seq[PT]): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    writeJsonAtomic(dir, "partition.json",
      org.json4s.jackson.Serialization.write(spec))
  }
  private def readSpec0(dir: File): Seq[PT] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    readFileOpt(dir, "partition.json")
      .map(org.json4s.jackson.Serialization.read[Seq[PT]])
      .getOrElse(Seq.empty)
  }
  /** The table's CURRENT partition layout — the last specs.json
    * generation, derived from the same single read that yields the
    * current spec id. Reading layout and id from two separate files
    * could race `sys.set_partition_spec` and tag new data files with
    * the NEW specId but OLD-layout tuples (which would then prune
    * under the wrong transforms); one source of truth removes the
    * race by construction. */
  def readSpec(dir: File): Seq[PT] =
    readSpecs(dir).lastOption.getOrElse(Seq.empty)

  /** The table's SPEC HISTORY (specs.json): one entry per partition-spec
    * generation, current = last; every data file records the generation
    * it was written under (`Entry.specId`), so evolving the spec never
    * rewrites data — old files prune under the OLD transforms, new files
    * under the new (the Iceberg partition-spec-evolution model). A table
    * that never evolved has no specs.json: its single generation is
    * partition.json (spec id 0, written once at CREATE). */
  def readSpecs(dir: File): Seq[Seq[PT]] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    readFileOpt(dir, "specs.json")
      .map(org.json4s.jackson.Serialization.read[Seq[Seq[PT]]])
      .getOrElse(Seq(readSpec0(dir)))
  }
  /** Append a new spec generation: ONE atomic specs.json swap carries
    * both the new layout and (implicitly, by position) its spec id;
    * partition.json is untouched (it remains the immutable gen-0
    * record that seeds specs.json for never-evolved tables). */
  def appendSpec(dir: File, spec: Seq[PT]): Int = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val specs = readSpecs(dir) :+ spec
    writeJsonAtomic(dir, "specs.json",
      org.json4s.jackson.Serialization.write(specs))
    specs.length - 1
  }

  /** CREATE-time transform validation. Returned PTs carry the SCHEMA
    * INDEX in `id`; the caller remaps to field ids. */
  private[sources] def parseTransforms(ts: Array[Transform],
      schema: StructType): Seq[PT] = ts.toSeq.map { t =>
    val refs = t.references()
    require(refs.length == 1 && refs(0).fieldNames().length == 1,
      s"unsupported partition transform $t")
    val c = refs(0).fieldNames()(0)
    require(schema.fieldNames.contains(c),
      s"partition column $c is not in the schema")
    val idx = schema.fieldIndex(c)
    val dt = schema(idx).dataType
    t.name() match {
      case "identity" =>
        require(dt == LongType || dt == StringType,
          s"identity partitioning supports LONG/STRING; $c is $dt")
        PT("identity", 0, idx)
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(sys.error(s"bucket transform without a count: $t"))
        require(n >= 1 && n <= 100000, s"bucket count out of range: $n")
        require(dt == LongType || dt == StringType,
          s"bucket partitioning supports LONG/STRING; $c is $dt")
        PT("bucket", n, idx)
      case "days" =>
        require(dt == LongType,
          s"days() partitions epoch-millis LONG columns; $c is $dt")
        PT("days", 0, idx)
      case other => sys.error(
        s"graft_cat supports identity/bucket/days partitioning; got $other")
    }
  }

  /** The catalog's bucket function (both sides of a storage-partitioned
    * join are graft_cat tables, so only self-consistency matters). */
  def bucketOf(v: Any, n: Int): Int = {
    val bytes = v match {
      case l: Long =>
        val b = new Array[Byte](8)
        var x = l; var i = 0
        while (i < 8) { b(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
        b
      case l: java.lang.Long =>
        val b = new Array[Byte](8)
        var x = l.longValue(); var i = 0
        while (i < 8) { b(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
        b
      case s: String => s.getBytes(StandardCharsets.UTF_8)
      case u: UTF8String => u.getBytes
      case other => sys.error(s"unbucketable value $other")
    }
    Math.floorMod(scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x5bd1e995), n)
  }

  private val DayMs = 86400000L

  /** One partition-tuple slot, encoded for the manifest: `n` = null,
    * `l<long>` = numeric result, `s<url-encoded>` = identity string. */
  def encodePartValue(kind: String, arg: Int, v: Any): String =
    if (v == null) "n"
    else kind match {
      case "identity" => v match {
        case l: Long => s"l$l"
        case l: java.lang.Long => s"l$l"
        case s: String => "s" + URLEncoder.encode(s, "UTF-8")
        case u: UTF8String => "s" + URLEncoder.encode(u.toString, "UTF-8")
        case other => sys.error(s"unsupported identity partition value $other")
      }
      case "bucket" => s"l${bucketOf(v, arg)}"
      case "days" =>
        val ms = v match {
          case l: Long => l
          case l: java.lang.Long => l.longValue()
          case other => sys.error(s"days() needs a LONG; got $other")
        }
        s"l${Math.floorDiv(ms, DayMs)}"
      case other => sys.error(s"unknown transform $other")
    }

  def readLatest(dir: File): Long = {
    val f = new File(dir, "latest")
    if (!f.exists()) 0L
    else new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).trim.toLong
  }

  def readManifest(dir: File, version: Long): Manifest =
    parseManifest(new File(dir, s"v$version.manifest"), version)

  private[sources] def parseEntryLine(a: Array[String]): Entry = {
    val stats = if (a(5).isEmpty) Map.empty[String, (Long, Long)]
      else a(5).split(";").map { s =>
        val p = s.split(":"); (p(0), (p(1).toLong, p(2).toLong))
      }.toMap
    if (a.length >= 11) {
      val nullFree = if (a(6) == "-") Set.empty[String]
        else a(6).split(";").toSet
      val ids = if (a(7).isEmpty) Seq.empty[Int]
        else a(7).split(",").map(_.toInt).toSeq
      val partition = if (a(9) == "-") Seq.empty[String]
        else a(9).split(";").toSeq
      val deletes = if (a(10) == "-") Seq.empty[DeleteFile]
        else a(10).split(";").map { s =>
          val p = s.split(":"); DeleteFile(p(0), p(1).toLong)
        }.toSeq
      val seq = if (a.length >= 12) a(11).toLong else 0L
      val specId = if (a.length >= 13) a(12).toInt else 0
      val sums = if (a.length >= 15 && a(13) != "-")
        a(13).split(";").map { s =>
          val p = s.split(":"); (p(0), p(1).toLong)
        }.toMap
      else Map.empty[String, Long]
      val bloomCols = if (a.length >= 16 && a(14) != "-")
        a(14).split(";").map(_.toInt).toSeq else Seq.empty[Int]
      val ndv = if (a.length >= 16 && a(15) != "-")
        a(15).split(";").map { s =>
          val p = s.split(":"); (p(0), p(1).toLong)
        }.toMap
      else Map.empty[String, Long]
      Entry(a(1), a(2).toLong, a(3).toLong, a(4).toInt, stats,
        Some(nullFree), ids, a(8), partition, deletes, seq, specId, sums,
        bloomCols, ndv)
    } else {
      // legacy (pre-v2) line: no null bookkeeping (nullFree = None →
      // no metadata-only delete proof), ids/types positional
      Entry(a(1), a(2).toLong, a(3).toLong, a(4).toInt, stats)
    }
  }

  /** Parse one SEGMENT file (a block of F lines). Counted — the
    * planning-pruning pins read [[segmentsRead]]. */
  private[sources] def loadSegment(dir: File, name: String): Seq[Entry] = {
    segmentsRead.incrementAndGet()
    new String(Files.readAllBytes(new File(dir, name).toPath),
      StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty)
      .map(l => parseEntryLine(l.split("\t", -1))).toSeq
  }

  /** The list-level pieces of a version manifest, WITHOUT loading any
    * referenced segment: header, inline (legacy) entries, segment refs,
    * eq-delete runs, epochs. Planning prunes `refs` by partition summary
    * before reading a single segment; everything else loads eagerly via
    * [[parseManifest]]. */
  private[sources] def parseManifestList(f: File)
      : (String, Long, Seq[Entry], Seq[SegRef], Set[String], Seq[EqDelete]) = {
    val lines = new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty).toSeq
    val op = lines.collectFirst { case l if l.startsWith("O\t") =>
      l.split("\t")(1) }.getOrElse("unknown")
    val inline = lines.collect { case l if l.startsWith("F\t") =>
      parseEntryLine(l.split("\t", -1)) }
    val refs = lines.collect { case l if l.startsWith("M\t") =>
      val a = l.split("\t", -1)
      SegRef(a(1), a(2).toLong, a(3).toLong, a(4).toLong, a(5))
    }
    val epochs = lines.collect { case l if l.startsWith("E\t") =>
      l.split("\t")(1)
    }.toSet
    val commitMs = lines.collectFirst { case l if l.startsWith("T\t") =>
      l.split("\t")(1).toLong }.getOrElse(0L)
    val eq = lines.collect { case l if l.startsWith("Q\t") =>
      val a = l.split("\t")
      EqDelete(a(1), a(2).toLong, a(3).toLong)
    }
    (op, commitMs, inline, refs, epochs, eq)
  }

  /** Load a batch of segment files CONCURRENTLY (driver-side planning
    * I/O: 64 segments of a large table parse in parallel instead of
    * serially — at 100 TB the difference between one round-trip of
    * storage latency and sixty-four). Order-preserving via the name
    * map; [[segmentsRead]] increments stay exact (atomic). */
  private[sources] def loadSegments(dir: File, names: Seq[String])
      : Map[String, Seq[Entry]] =
    if (names.length <= 1)
      names.map(n => n -> loadSegment(dir, n)).toMap
    else {
      import scala.jdk.CollectionConverters._
      val arr = new Array[(String, Seq[Entry])](names.length)
      names.zipWithIndex.toList.asJava.parallelStream().forEach { p =>
        arr(p._2) = p._1 -> loadSegment(dir, p._1)
      }
      arr.toMap
    }

  private[sources] def parseManifest(f: File, version: Long): Manifest = {
    val (op, commitMs, inline, refs, epochs, eq) = parseManifestList(f)
    val byName = loadSegments(f.getParentFile, refs.map(_.name))
    val segs = refs.map(r => Segment(r, byName(r.name)))
    Manifest(version, op, inline ++ segs.flatMap(_.entries), epochs,
      commitMs, eq, segs)
  }

  /** The PLANNING view of a manifest: list-level facts (version, op,
    * epochs, eq-delete runs, segment refs) parsed eagerly; file entries
    * loaded PER SEGMENT, on demand, after partition-summary pruning —
    * so a point probe on a 1024-file table parses only the segments
    * whose partition ranges may match, not the whole file list. */
  private[sources] final class PlanManifest(val dir: File,
      val version: Long, val op: String, val epochs: Set[String],
      val eqDeletes: Seq[EqDelete], inline: Seq[Entry], refs: Seq[SegRef]) {
    private val cache =
      scala.collection.mutable.HashMap.empty[String, Seq[Entry]]
    /** Load the named segments, fetching the uncached ones in ONE
      * parallel batch ([[loadSegments]]). */
    private def segs(names: Seq[String]): Seq[Entry] = {
      val missing = names.filterNot(cache.contains)
      if (missing.nonEmpty) cache ++= loadSegments(dir, missing)
      names.flatMap(cache)
    }
    def files: Seq[Entry] = inline ++ segs(refs.map(_.name))
    def pruned(filters: Array[Filter], schema: StructType, mp: ColMapping,
        specs: Seq[Seq[PT]]): Seq[Entry] =
      if (filters.isEmpty) files
      else inline ++ segs(refs
        .filter(r => segMayMatch(r.summary, filters, schema, mp, specs))
        .map(_.name))
  }

  private[sources] def emptyPlan(dir: File): PlanManifest =
    new PlanManifest(dir, 0, "none", Set.empty, Seq.empty, Seq.empty,
      Seq.empty)

  private[sources] def parsePlan(dir: File, f: File, version: Long)
      : PlanManifest = {
    val (op, _, inline, refs, epochs, eq) = parseManifestList(f)
    new PlanManifest(dir, version, op, epochs, eq, inline, refs)
  }

  /** [[headManifest]]'s lazy twin for the read path. */
  private[sources] def planHead(dir: File, branch: Option[String])
      : PlanManifest = branch match {
    case None =>
      val v = readLatest(dir)
      if (v == 0) emptyPlan(dir)
      else parsePlan(dir, new File(dir, s"v$v.manifest"), v)
    case Some(b) =>
      val r = branchRefOf(dir, b)
      if (r.head > 0) parsePlan(dir, branchManifestFile(dir, b, r.head), r.head)
      else if (r.base > 0)
        parsePlan(dir, new File(dir, s"v${r.base}.manifest"), r.base)
      else emptyPlan(dir)
  }

  /** Collect segment files referenced by NO existing manifest (main or
    * branch chains). Age-guarded: a fresh unreferenced segment may be an
    * in-flight commit's (reservation held, list not yet published) —
    * only segments older than [[OrphanReclaimMs]] are reclaimed. */
  private[sources] def gcSegments(dir: File,
      graceMs: Long = OrphanReclaimMs): Long = {
    val ls = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    val retained: Set[String] = ls
      .filter(f => f.getName.matches("v\\d+\\.manifest") ||
        (f.getName.startsWith("b-") && f.getName.endsWith(".manifest")))
      .flatMap(f => parseManifestList(f)._4.map(_.name)).toSet
    var n = 0L
    ls.foreach { f =>
      if (f.getName.startsWith("sg-") && f.getName.endsWith(".seg") &&
          !retained.contains(f.getName) &&
          System.currentTimeMillis - f.lastModified() > graceMs) {
        if (f.delete()) n += 1
      }
    }
    n
  }

  /** Test doorway: a zero-grace sweep lets specs observe segment GC
    * without waiting out the reclaim window. */
  def gcSegmentsForTest(dir: File, graceMs: Long): Long =
    gcSegments(dir, graceMs)

  /** Test doorway: build an adaptively-sized bloom over `n` distinct
    * longs, probe `probes` absent keys — (shipped words, measured fp). */
  def bloomFpForTest(n: Int, probes: Int): (Int, Double) = {
    val bits = new Array[Long](BloomWords)
    var i = 0
    while (i < n) { bloomSet(bits, bloomMixLong(i.toLong)); i += 1 }
    val sized = bloomSized(bits, n.toLong)
    var fp = 0
    var j = 0
    while (j < probes) {
      if (bloomMightContain(sized, bloomMixLong((n + j).toLong))) fp += 1
      j += 1
    }
    (sized.length, fp.toDouble / probes)
  }

  /** LINEAR-COUNTING distinct estimator (one 2 KiB bitmap per tracked
    * column): hash each non-null value into 2^14 buckets; the estimate
    * m*ln(m/empty) is tight through ~m/2 distincts and degrades toward
    * the row-count upper bound as the bitmap saturates — always an
    * ESTIMATE for CBO, never a correctness proof. */
  final val NdvBits = 1 << 14
  final class NdvSketch {
    val words = new Array[Long](NdvBits / 64)
    def add(h: Long): Unit = {
      val b = (h & (NdvBits - 1)).toInt
      words(b >> 6) |= 1L << (b & 63)
    }
    def estimate(rows: Long): Long = {
      var set = 0
      var i = 0
      while (i < words.length) { set += java.lang.Long.bitCount(words(i)); i += 1 }
      val empty = NdvBits - set
      if (empty == 0) rows
      else math.min(rows,
        math.max(set.toLong, math.round(NdvBits * math.log(NdvBits.toDouble / empty))))
    }
  }

  /** Publish version `expectedLatest + 1`: the manifest file is created
    * FAIL-IF-EXISTS (a concurrent writer that raced us dies here, before
    * anything is visible), then the `latest` pointer swaps by atomic
    * rename. Data files are never deleted — every committed version
    * stays readable. A zero-byte reservation whose version was never
    * published (a writer crashed between reserve and fill; `latest`
    * still points below it) is reclaimed instead of bricking the table
    * with FileAlreadyExistsException forever. */
  private[sources] def entryLine(e: Entry): String = {
    val st = e.stats.toSeq.sortBy(_._1)
      .map { case (c, (lo, hi)) => s"$c:$lo:$hi" }.mkString(";")
    val nf = e.nullFree match {
      case Some(s) if s.isEmpty => "-"
      case Some(s) => s.toSeq.sorted.mkString(";")
      case None => "-" // writers always know; None only ever parses in
    }
    // a LEGACY entry (no recorded ids/types) must round-trip as legacy:
    // fabricating positional ids here would satisfy the
    // compact-before-RENAME/DROP guard while the '?' types still fall
    // back to the current-schema prefix — after a DROP that prefix
    // misaligns the codec and silently decodes garbage
    val ids = e.fieldIds.mkString(",")
    val types = if (e.typeCodes.nonEmpty) e.typeCodes else "?" * e.cols
    val part = if (e.partition.isEmpty) "-" else e.partition.mkString(";")
    val dels = if (e.deletes.isEmpty) "-"
      else e.deletes.map(d => s"${d.name}:${d.rows}").mkString(";")
    val sm = if (e.sums.isEmpty) "-"
      else e.sums.toSeq.sortBy(_._1)
        .map { case (c, v) => s"$c:$v" }.mkString(";")
    // trailing tab-terminated spare field keeps the format extensible:
    // a parser sees >= 15 fields whenever sums are meaningful
    val bl = if (e.bloomCols.isEmpty) "-" else e.bloomCols.mkString(";")
    val nv = if (e.ndv.isEmpty) "-"
      else e.ndv.toSeq.sortBy(_._1)
        .map { case (c, v) => s"$c:$v" }.mkString(";")
    s"F\t${e.name}\t${e.rows}\t${e.bytes}\t${e.cols}\t$st\t$nf\t$ids\t$types\t$part\t$dels\t${e.seq}\t${e.specId}\t$sm\t$bl\t$nv\t-"
  }

  /** The partition-range summary planning prunes on (grammar on
    * [[SegRef]]). Computable only when every entry shares ONE spec
    * generation and a full-length tuple; `-` otherwise (never wrong,
    * just unprunable). Works on the ENCODED slot values, so identity
    * longs, bucket ordinals and day ordinals all summarize as one
    * integer range; the PT kind re-interprets the range at prune time
    * exactly as [[fileFacts]] does per file. */
  private[sources] def segSummary(entries: Seq[Entry]): String = {
    if (entries.isEmpty) return "-"
    val sids = entries.map(_.specId).distinct
    if (sids.length != 1) return "-"
    val n = entries.head.partition.length
    if (n == 0 || entries.exists(_.partition.length != n)) return "-"
    val slots = (0 until n).map { i =>
      val vs = entries.map(_.partition(i))
      val nulls = vs.count(_ == "n")
      if (nulls == vs.length) "N"
      else {
        val nn = vs.filter(_ != "n")
        val bang = if (nulls > 0) "!" else ""
        if (nn.forall(_.startsWith("l"))) {
          val xs = nn.map(_.tail.toLong)
          s"l${xs.min}:${xs.max}$bang"
        } else if (nn.forall(_.startsWith("s")) && nn.distinct.length == 1) {
          nn.head + bang
        } else "*"
      }
    }
    s"p${sids.head}|${slots.mkString("|")}"
  }

  /** "Might any file in this segment match every filter?" — false only
    * when the summary DISPROVES some filter for the whole segment, i.e.
    * every member file is provably non-matching. Synthesizes the same
    * [[FileFacts]] shape [[fileFacts]] builds per file, but with the
    * slot's value RANGE (a strict weakening of every member's facts, so
    * a segment-level disproof is a per-file disproof). */
  private[sources] def segMayMatch(summary: String, filters: Array[Filter],
      schema: StructType, mp: ColMapping, specs: Seq[Seq[PT]]): Boolean = {
    if (filters.isEmpty || !summary.startsWith("p")) return true
    val parts = summary.split("\\|", -1)
    val sid = parts(0).tail.toInt
    if (sid < 0 || sid >= specs.length) return true
    val spec = specs(sid)
    if (spec.length != parts.length - 1) return true
    var rng = Map.empty[String, (Long, Long)]
    var nullFree = Set.empty[String]
    var allNull = Set.empty[String]
    var strVal = Map.empty[String, String]
    var bucket = Map.empty[String, (Int, Int)]
    spec.zipWithIndex.foreach { case (pt, i) =>
      val slot = parts(i + 1)
      val idx = mp.ids.indexOf(pt.id)
      if (idx >= 0 && slot != "*") {
        val c = schema.fields(idx).name
        if (slot == "N") allNull += c
        else {
          val hasNull = slot.endsWith("!")
          val core = if (hasNull) slot.dropRight(1) else slot
          if (core.startsWith("l")) {
            val b = core.tail.split(":")
            val (lo, hi) = (b(0).toLong, b(1).toLong)
            pt.kind match {
              case "identity" => rng += c -> (lo, hi)
              case "days" => rng += c -> (lo * DayMs, hi * DayMs + DayMs - 1)
              case "bucket" => if (lo == hi) bucket += c -> (lo.toInt, pt.arg)
              case _ => ()
            }
            if (!hasNull) nullFree += c
          } else if (core.startsWith("s") && pt.kind == "identity") {
            strVal += c -> URLDecoder.decode(core.tail, "UTF-8")
            if (!hasNull) nullFree += c
          }
        }
      }
    }
    val facts = FileFacts(rng, nullFree, allNull, strVal, bucket)
    filters.forall(mayMatch(_, facts))
  }

  /** Write one immutable segment file; unique name, whole-file write. */
  private[sources] def writeSegment(dir: File, entries: Seq[Entry]): Segment = {
    val name = s"sg-${java.util.UUID.randomUUID.toString.take(12)}.seg"
    Files.write(new File(dir, name).toPath,
      entries.map(entryLine).mkString("\n").getBytes(StandardCharsets.UTF_8))
    Segment(SegRef(name, entries.length.toLong, entries.map(_.rows).sum,
      entries.map(_.bytes).sum, segSummary(entries)), entries)
  }

  /** Segment count ceiling: beyond it a commit folds the smallest half
    * into its new segment (array-doubling amortization — a full fold
    * costs O(folded entries) once per ~MaxSegments/2 commits, keeping
    * the steady-state commit O(delta), never O(files)). */
  val MaxSegments = 64

  /** INCREMENTAL COMMIT planning — the Iceberg manifest-list reuse rule:
    * a previous segment whose entries ALL survive byte-identical in the
    * new file list is reused BY REFERENCE (zero bytes rewritten); every
    * other entry (appends, rewrites, delete-touched files) lands in ONE
    * new segment. A pure append therefore writes only its own entries +
    * the list; a row-level op rewrites only the segments it touched. */
  private def planSegments(dir: File, prevSegs: Seq[Segment],
      files: Seq[Entry]): Seq[Segment] = {
    val byName = files.iterator.map(e => e.name -> e).toMap
    var covered = Set.empty[String]
    var reused = prevSegs.filter { sg =>
      val ok = sg.entries.nonEmpty &&
        sg.entries.forall(e => byName.get(e.name).contains(e)) &&
        !sg.entries.exists(e => covered(e.name))
      if (ok) covered ++= sg.entries.iterator.map(_.name)
      ok
    }
    var rest = files.filterNot(e => covered(e.name))
    if (reused.length >= MaxSegments) {
      val smallestFirst = reused.sortBy(_.entries.length)
      val fold = smallestFirst.take(reused.length - MaxSegments / 2).toSet
      rest = rest ++ reused.filter(fold).flatMap(_.entries)
      reused = reused.filterNot(fold)
    }
    if (rest.isEmpty) reused else reused :+ writeSegment(dir, rest)
  }

  private def manifestBody(op: String, segs: Seq[Segment],
      epochs: Set[String], eqDeletes: Seq[EqDelete]): String =
    (Seq(s"O\t$op",
      s"T\t${System.currentTimeMillis}")
      ++ segs.map(sg => s"M\t${sg.ref.name}\t${sg.ref.count}" +
        s"\t${sg.ref.rows}\t${sg.ref.bytes}\t${sg.ref.summary}")
      ++ eqDeletes.map(q => s"Q\t${q.name}\t${q.rows}\t${q.seq}")
      ++ epochs.toSeq.sorted.map(e => s"E\t$e")).mkString("\n")

  def commitVersion(dir: File, expectedLatest: Long, op: String,
      files: Seq[Entry], epochs: Set[String] = Set.empty,
      eqDeletes: Seq[EqDelete] = Seq.empty,
      prev: Option[Manifest] = None): Long = {
    val next = expectedLatest + 1
    // Reserve the version with an exclusive create — POSIX rename REPLACES
    // silently, so rename alone cannot lose a race loudly. Exactly one
    // racer owns the reservation; filling it by atomic rename is then
    // safe, and readers never look at vN before `latest` points there.
    val target = new File(dir, s"v$next.manifest")
    try Files.createFile(target.toPath)
    catch {
      case e: FileAlreadyExistsException =>
        // Reclaim ONLY a demonstrably stale reservation: zero bytes,
        // never published (latest still below it), AND older than the
        // staleness window. A LIVE writer between reserve and fill is
        // none of these — deleting its reservation would let both
        // writers ATOMIC_MOVE onto vN and the loser's files would
        // silently vanish (the lost-update the exclusive create exists
        // to prevent).
        if (target.length() == 0 && readLatest(dir) < next &&
            System.currentTimeMillis - target.lastModified() >
              OrphanReclaimMs) {
          Files.delete(target.toPath)
          Files.createFile(target.toPath) // a genuine racer still loses here
        } else throw e
    }
    // Segments are planned and written ONLY after the reservation is won
    // (a lost race writes zero segment bytes); `prev` — the manifest the
    // caller derived `files` from — supplies the reuse candidates
    // without a second O(files) parse. A pure append reuses every prior
    // segment by reference and writes one segment of just its delta.
    val prevSegs = prev.map(_.segs).getOrElse {
      val pf = new File(dir, s"v$expectedLatest.manifest")
      if (expectedLatest > 0 && pf.exists())
        parseManifest(pf, expectedLatest).segs
      else Seq.empty
    }
    val body =
      manifestBody(op, planSegments(dir, prevSegs, files), epochs, eqDeletes)
    val tmp = new File(dir, s".manifest.tmp.${java.util.UUID.randomUUID}")
    Files.write(tmp.toPath, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, target.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val ptmp = new File(dir, s".latest.tmp.${java.util.UUID.randomUUID}")
    Files.write(ptmp.toPath, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(ptmp.toPath, new File(dir, "latest").toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** OPTIMISTIC CONCURRENCY (the Iceberg commit model): a writer that
    * loses the exclusive-create race re-reads the head, re-derives its
    * manifest against it (each caller supplies its own rebase +
    * validation rules), and retries — so two non-conflicting writers
    * BOTH land instead of the second dying on a token mismatch. Bounded
    * retries keep sustained contention loud. */
  val MaxCommitRetries = 5

  /** Run `attempt(expected)` — which must re-derive its view of the
    * table FROM `expected` and commit with it as the CAS token — and on
    * a lost reservation race retry against the advanced head. The
    * attempt itself decides whether a rebase is sound and throws
    * (non-FileAlreadyExists) when it is not; that failure propagates. */
  def retryingCommit[T](dir: File, branch: Option[String], first: Long)(
      attempt: Long => T): T = {
    var expected = first
    var tries = 0
    while (true) {
      try return attempt(expected)
      catch {
        case e: FileAlreadyExistsException =>
          tries += 1
          if (tries > MaxCommitRetries) throw new IllegalStateException(
            s"commit on $dir lost $MaxCommitRetries optimistic retries " +
              "(sustained writer contention)", e)
          Thread.sleep(tries * 10L)
          expected = headVersion(dir, branch)
      }
    }
    sys.error("unreachable")
  }

  /** The manifest as of version `v` on `branch` (0 = empty table). */
  def manifestAt(dir: File, branch: Option[String], v: Long): Manifest =
    branch match {
      case None =>
        if (v == 0) Manifest(0, "none", Seq.empty) else readManifest(dir, v)
      case Some(b) =>
        if (v > 0) parseManifest(branchManifestFile(dir, b, v), v)
        else {
          val r = branchRefOf(dir, b)
          if (r.base > 0) readManifest(dir, r.base)
          else Manifest(0, "none", Seq.empty)
        }
    }

  /** Rebase-soundness proof for a ROW-LEVEL op (DELETE/UPDATE/MERGE/
    * compaction) that scanned `base` and now faces `head`: every file
    * of `base` must survive BYTE-IDENTICAL (same deletes, seq, spec)
    * and no equality deletes may have been added — i.e. the intervening
    * commits were pure appends. The op's decisions (which rows match,
    * which files rewrite) then still hold; concurrently APPENDED rows
    * are simply outside its snapshot (snapshot isolation, Iceberg's
    * default validation level). Anything else — a concurrent delete,
    * rewrite, upsert or overwrite — fails the commit loudly. */
  def pureAppendsSince(base: Manifest, head: Manifest): Boolean = {
    val cur = head.files.map(e => e.name -> e).toMap
    base.files.forall(e => cur.get(e.name).contains(e)) &&
      head.eqDeletes == base.eqDeletes
  }

  /** The storage types and their one-letter manifest codes. A data
    * file's bytes are encoded by [[CatalogFileWriter]] alone and decoded
    * by [[CatalogColumnarReader]] alone, with the types the FILE was
    * written under (schema evolution maps by field id). */
  object Codec {
    def supported(t: DataType): Boolean =
      t == LongType || t == DoubleType || t == StringType

    def typeCode(t: DataType): Char = t match {
      case LongType => 'L'
      case DoubleType => 'D'
      case StringType => 'S'
      case other => sys.error(s"unsupported $other")
    }
    def codeType(c: Char): DataType = c match {
      case 'L' => LongType
      case 'D' => DoubleType
      case 'S' => StringType
      case other => sys.error(s"unknown type code $other")
    }
  }

  /** Everything the planner can PROVE about one data file without
    * opening it, keyed by CURRENT column name (field-id resolution and
    * partition-transform inversion already applied):
    *  - `rng`: value bounds for LONG columns (file stats, tightened or
    *    replaced by identity/days partition values);
    *  - `nullFree`: columns proven to contain NO nulls — required for
    *    every "all rows match" proof (a NULL matches no comparison);
    *  - `allNull`: columns proven ALL-null (identity partition value n);
    *  - `strVal`: exact string value (identity string partition);
    *  - `bucket`: (bucketValue, bucketCount) for bucket partitions. */
  case class FileFacts(rng: Map[String, (Long, Long)],
      nullFree: Set[String], allNull: Set[String] = Set.empty,
      strVal: Map[String, String] = Map.empty,
      bucket: Map[String, (Int, Int)] = Map.empty)

  /** Assemble [[FileFacts]] for one entry under the CURRENT schema.
    * Stats keyed `#<id>` always resolve; legacy name-keyed stats resolve
    * only while the table never renamed/dropped a column (`evolved` —
    * after that, a stale name could alias a different field, so they are
    * conservatively ignored). */
  def fileFacts(e: Entry, schema: StructType, mp: ColMapping,
      spec: Seq[PT]): FileFacts = {
    var rng = Map.empty[String, (Long, Long)]
    var nullFree = Set.empty[String]
    var allNull = Set.empty[String]
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val id = mp.ids(i)
      if (!e.idsOrLegacy.contains(id)) {
        // the file PREDATES this column (or its id was dropped and
        // re-added): every read null-pads it — provably all-null, so
        // equality/IsNotNull predicates prune the file outright
        allNull += f.name
      } else {
        e.stats.get(s"#$id")
          .orElse(if (!mp.evolved) e.stats.get(f.name) else None)
          .foreach(v => rng += f.name -> v)
        val proven = e.nullFree.exists(s =>
          s.contains(s"#$id") || (!mp.evolved && s.contains(f.name)))
        if (proven) nullFree += f.name
      }
    }
    var strVal = Map.empty[String, String]
    var bucket = Map.empty[String, (Int, Int)]
    if (spec.nonEmpty && e.partition.length == spec.length) {
      spec.zip(e.partition).foreach { case (pt, pv) =>
        val idx = mp.ids.indexOf(pt.id)
        if (idx >= 0) { // a dropped source column can't happen (guarded),
          val c = schema.fields(idx).name // but stay defensive
          (pt.kind, pv) match {
            case (_, "n") => allNull += c
            case ("identity", v) if v.startsWith("l") =>
              val x = v.tail.toLong
              rng += c -> (x, x); nullFree += c
            case ("identity", v) if v.startsWith("s") =>
              strVal += c -> URLDecoder.decode(v.tail, "UTF-8")
              nullFree += c
            case ("bucket", v) if v.startsWith("l") =>
              bucket += c -> (v.tail.toInt, pt.arg); nullFree += c
            case ("days", v) if v.startsWith("l") =>
              val d = v.tail.toLong
              rng += c -> (d * DayMs, d * DayMs + DayMs - 1); nullFree += c
            case _ => ()
          }
        }
      }
    }
    FileFacts(rng, nullFree, allNull, strVal, bucket)
  }

  private def longLit(a: Any): Option[Long] = a match {
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case s: java.lang.Short => Some(s.toLong)
    case b: java.lang.Byte => Some(b.toLong)
    case _ => None
  }
  private def strLit(a: Any): Option[String] = a match {
    case s: String => Some(s)
    case u: UTF8String => Some(u.toString)
    case _ => None
  }

  /** Conservative tri-state "might this file contain a matching row?".
    * `true` means "cannot rule it out". Partition facts make this exact
    * for identity values (incl. strings and all-null partitions) and
    * bucket membership; LONG stats bound the rest. */
  def mayMatch(f: Filter, facts: FileFacts): Boolean = f match {
    case EqualTo(c, v) =>
      if (facts.allNull(c)) false // NULL = x is never TRUE
      else strLit(v) match {
        case Some(s) => facts.strVal.get(c) match {
          case Some(pv) => pv == s
          case None => true
        }
        case None => longLit(v) match {
          case Some(x) =>
            val bucketOk = facts.bucket.get(c)
              .forall { case (b, n) => bucketOf(x, n) == b }
            val rngOk = facts.rng.get(c)
              .forall { case (lo, hi) => x >= lo && x <= hi }
            bucketOk && rngOk
          case None => true
        }
      }
    case GreaterThan(c, v) =>
      !facts.allNull(c) && ((facts.rng.get(c), longLit(v)) match {
        case (Some((_, hi)), Some(x)) => hi > x
        case _ => true
      })
    case GreaterThanOrEqual(c, v) =>
      !facts.allNull(c) && ((facts.rng.get(c), longLit(v)) match {
        case (Some((_, hi)), Some(x)) => hi >= x
        case _ => true
      })
    case LessThan(c, v) =>
      !facts.allNull(c) && ((facts.rng.get(c), longLit(v)) match {
        case (Some((lo, _)), Some(x)) => lo < x
        case _ => true
      })
    case LessThanOrEqual(c, v) =>
      !facts.allNull(c) && ((facts.rng.get(c), longLit(v)) match {
        case (Some((lo, _)), Some(x)) => lo <= x
        case _ => true
      })
    case In(c, vs) =>
      !facts.allNull(c) && vs.exists(v => mayMatch(EqualTo(c, v), facts))
    case IsNull(c) => !facts.nullFree(c)
    case IsNotNull(c) => !facts.allNull(c)
    case And(l, r) => mayMatch(l, facts) && mayMatch(r, facts)
    case Or(l, r) => mayMatch(l, facts) || mayMatch(r, facts)
    case _: AlwaysFalse => false
    case _ => true
  }

  /** "Does EVERY row in this file match?" — provable only when the facts
    * bound the predicate from both sides AND prove the column null-free:
    * per SQL three-valued logic a NULL row matches no comparison, so a
    * file whose stats say (5,5) but that may hold NULLs must NOT take
    * DELETE's metadata-only drop path (the round-14 advice fix; Iceberg's
    * strict evaluator requires nullCount==0 for exactly this). `false`
    * just means "rewrite to be sure". */
  def allMatch(f: Filter, facts: FileFacts): Boolean = f match {
    case EqualTo(c, v) =>
      strLit(v) match {
        case Some(s) => facts.strVal.get(c).contains(s) // implies null-free
        case None => longLit(v) match {
          case Some(x) => facts.nullFree(c) &&
            facts.rng.get(c).exists { case (lo, hi) => lo == x && hi == x }
          case None => false
        }
      }
    case GreaterThan(c, v) => facts.nullFree(c) &&
      ((facts.rng.get(c), longLit(v)) match {
        case (Some((lo, _)), Some(x)) => lo > x
        case _ => false
      })
    case GreaterThanOrEqual(c, v) => facts.nullFree(c) &&
      ((facts.rng.get(c), longLit(v)) match {
        case (Some((lo, _)), Some(x)) => lo >= x
        case _ => false
      })
    case LessThan(c, v) => facts.nullFree(c) &&
      ((facts.rng.get(c), longLit(v)) match {
        case (Some((_, hi)), Some(x)) => hi < x
        case _ => false
      })
    case LessThanOrEqual(c, v) => facts.nullFree(c) &&
      ((facts.rng.get(c), longLit(v)) match {
        case (Some((_, hi)), Some(x)) => hi <= x
        case _ => false
      })
    case In(c, vs) => vs.exists(v => allMatch(EqualTo(c, v), facts))
    case IsNull(c) => facts.allNull(c)
    case IsNotNull(c) => facts.nullFree(c)
    case And(l, r) => allMatch(l, facts) && allMatch(r, facts)
    case Or(l, r) => allMatch(l, facts) || allMatch(r, facts)
    // SQL TRUNCATE TABLE arrives as deleteWhere(AlwaysTrue) — every
    // file drops metadata-only (TRUE matches NULL rows too)
    case _: AlwaysTrue => true
    case _ => false
  }

  /** Row-level predicate evaluation over decoded (boxed, CURRENT-schema-
    * aligned) values — the authority DELETE's boundary path uses.
    * Strings compare in UTF8String's UTF-8 binary order, the SAME order
    * Spark applies to the identical residual predicate at scan time
    * (java.lang.String.compareTo is UTF-16 code-unit order, which
    * disagrees around supplementary characters — the round-14 advice
    * fix). Supported shapes mirror `canDeleteWhere`. */
  def evalFilter(f: Filter, schema: StructType, row: Array[Any]): Boolean = {
    def col(c: String): Any = {
      val i = schema.fieldIndex(c)
      if (i < row.length) row(i) else null
    }
    def cmp(c: String, v: Any): Option[Int] = {
      val x = col(c)
      if (x == null || v == null) None
      else (x, v) match {
        case (a: Long, b: java.lang.Long) => Some(java.lang.Long.compare(a, b))
        case (a: Long, b: java.lang.Integer) =>
          Some(java.lang.Long.compare(a, b.longValue()))
        case (a: Double, b: java.lang.Double) =>
          Some(java.lang.Double.compare(a, b))
        case (a: String, b: String) =>
          Some(UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
        case (a: String, b: UTF8String) =>
          Some(UTF8String.fromString(a).compareTo(b))
        case _ => sys.error(s"type mismatch comparing $c to $v")
      }
    }
    f match {
      case EqualTo(c, v) => cmp(c, v).contains(0)
      case GreaterThan(c, v) => cmp(c, v).exists(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v).exists(_ >= 0)
      case LessThan(c, v) => cmp(c, v).exists(_ < 0)
      case LessThanOrEqual(c, v) => cmp(c, v).exists(_ <= 0)
      case In(c, vs) => vs.exists(v => cmp(c, v).contains(0))
      case IsNull(c) => col(c) == null
      case IsNotNull(c) => col(c) != null
      case And(l, r) => evalFilter(l, schema, row) && evalFilter(r, schema, row)
      case Or(l, r) => evalFilter(l, schema, row) || evalFilter(r, schema, row)
      case Not(x) => !evalFilter(x, schema, row)
      case _: AlwaysTrue => true
      case _: AlwaysFalse => false
      case _ => sys.error(s"unsupported delete filter $f")
    }
  }

  def filterSupported(f: Filter): Boolean = f match {
    case EqualTo(_, _) | GreaterThan(_, _) | GreaterThanOrEqual(_, _) |
         LessThan(_, _) | LessThanOrEqual(_, _) | In(_, _) |
         IsNull(_) | IsNotNull(_) => true
    case _: AlwaysTrue | _: AlwaysFalse => true
    case And(l, r) => filterSupported(l) && filterSupported(r)
    case Or(l, r) => filterSupported(l) && filterSupported(r)
    case Not(x) => filterSupported(x)
    case _ => false
  }

  /** Positional decode types for one file: recorded per entry (v2), or
    * the current-schema prefix for legacy files (valid: legacy tables
    * predate DROP COLUMN, so positions never shifted). */
  private[sources] def fileTypes(e: Entry, schema: StructType): Array[String] =
    if (e.typeCodes.nonEmpty && !e.typeCodes.contains('?'))
      e.typeCodes.map(c => Codec.codeType(c).json).toArray
    else schema.fields.take(e.cols).map(_.dataType.json)

  /** One reader task per data file: positional decode types, the
    * required projection's FILE positions (resolved by field id; -1 =
    * the `_file` metadata column, -2 = null-pad), the delete files to
    * anti-merge, and optional CDF stamping. */
  private[sources] def filePartition(dir: File, tableSchema: StructType,
      mp: ColMapping, required: StructType, e: Entry,
      changeType: String = "", changeVersion: Long = 0L,
      positions: Option[Array[Long]] = None,
      keyVals: Array[Any] = Array.empty,
      eqCtx: Option[(Int, Seq[EqDelete])] = None,
      keysOnly: Array[String] = Array.empty): CatalogFilePartition = {
    val fids = e.idsOrLegacy.toArray
    val srcIdx = required.fields.map { f =>
      if (f.name == FileMetaCol) -1
      else if (f.name == PosMetaCol) -3
      else {
        val id = mp.ids(tableSchema.fieldIndex(f.name))
        val p = fids.indexOf(id)
        if (p >= 0) p else -2
      }
    }
    // the key column rides the FILE positionally (anti-join runs before
    // projection, so it needn't survive column pruning)
    val (eqPaths, eqPos, eqStr) = eqCtx match {
      case Some((keyIdx, dels)) =>
        val live = dels.filter(_.seq > e.seq)
        val pos = fids.indexOf(mp.ids(keyIdx))
        if (pos < 0) (Array.empty[String], -1, false)
        else (live.map(d =>
          new File(new File(dir, "data"), d.name).getPath).toArray,
          pos, tableSchema.fields(keyIdx).dataType == StringType)
      case None => (Array.empty[String], -1, false)
    }
    require(keysOnly.isEmpty || eqPos >= 0,
      s"keys-only filter over ${e.name} without a resolvable key position")
    CatalogFilePartition(
      new File(new File(dir, "data"), e.name).getPath, e.name,
      e.rows, fileTypes(e, tableSchema), srcIdx,
      e.deletes.map(d =>
        new File(new File(dir, "data"), d.name).getPath).toArray,
      positions, changeType, changeVersion, keyVals,
      eqPaths, eqPos, eqStr, keysOnly,
      required.fields.map(_.dataType.json), e.seq)
  }

  /** SORTED equality-delete key files, probed by memory-mapped binary
    * search — the bounded-memory replacement for materializing key sets
    * into per-task HashSets. On-disk layout (values in ascending order;
    * strings in UTF8String's unsigned-byte order, the SAME order the
    * engine compares strings everywhere):
    *
    *   LONG file:   int64 n, then n × int64 values
    *   STRING file: int64 n, int64 offTablePos,
    *                then n × (int32 len, bytes),
    *                then n × int64 absolute record positions
    *
    * A reader holds ONE mapped buffer per outstanding key file (heap
    * cost O(runs), zero heap-resident keys — the page cache owns the
    * bytes); each probe is a binary search per run. A month of 10M-row
    * CDC batches stays readable in constant heap, and `sys.compact`
    * still collapses the runs entirely. */
  object EqKeys {
    private def map(path: String): java.nio.ByteBuffer = {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(path))
      try ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY,
        0, ch.size())
      finally ch.close()
    }

    /** Unsigned lexicographic compare of `probe` vs the record at index
      * `i` of a mapped STRING run — UTF8String's binary order. */
    private def cmpStr(buf: java.nio.ByteBuffer, offPos: Long, i: Long,
        probe: Array[Byte], probeLen: Int): Int = {
      val rec = buf.getLong((offPos + 8 * i).toInt)
      val len = buf.getInt(rec.toInt)
      val base = rec.toInt + 4
      var k = 0
      val n = math.min(probeLen, len)
      while (k < n) {
        val a = probe(k) & 0xff
        val b = buf.get(base + k) & 0xff
        if (a != b) return a - b
        k += 1
      }
      probeLen - len
    }

    /** Suffix marking a MERGED run (per-key max seq entries) written by
      * `sys.rewrite_deletes`; plain `.keys` runs carry one run-level seq
      * in their manifest entry and are pre-filtered per file. */
    val MergedSuffix = ".keyseq"

    /** One probeable set of runs. Thread-confined (each reader task
      * builds its own — ByteBuffer positions are never mutated here, all
      * reads are absolute). `fileSeq` is the PROBING file's sequence:
      * plain runs were already filtered to seq > fileSeq at plan time
      * and answer on membership alone; a merged run stores each key's
      * MAX source seq and suppresses only when that seq > fileSeq —
      * exactly equivalent to probing the original runs one by one. */
    final class Lookup(paths: Array[String], isStr: Boolean,
        fileSeq: Long = Long.MinValue) {
      private val runs: Array[java.nio.ByteBuffer] = paths.map(map)
      private val isMerged: Array[Boolean] =
        paths.map(_.endsWith(MergedSuffix))
      def isEmpty: Boolean = runs.forall(b => b.capacity == 0 ||
        b.getLong(0) == 0L)

      def containsLong(v: Long): Boolean = {
        var r = 0
        while (r < runs.length) {
          val buf = runs(r)
          if (buf.capacity >= 8) {
            val n = buf.getLong(0)
            var lo = 0L; var hi = n - 1
            var found = false
            while (!found && lo <= hi) {
              val mid = (lo + hi) >>> 1
              val x = buf.getLong((8 + 8 * mid).toInt)
              if (x == v) {
                if (!isMerged(r) ||
                    buf.getLong((8 + 8 * n + 8 * mid).toInt) > fileSeq)
                  return true
                found = true // key present but its delete predates the file
              }
              else if (x < v) lo = mid + 1
              else hi = mid - 1
            }
          }
          r += 1
        }
        false
      }

      def containsBytes(probe: Array[Byte], probeLen: Int): Boolean = {
        var r = 0
        while (r < runs.length) {
          val buf = runs(r)
          if (buf.capacity >= 16) {
            val n = buf.getLong(0)
            val offPos = buf.getLong(8)
            var lo = 0L; var hi = n - 1
            var found = false
            while (!found && lo <= hi) {
              val mid = (lo + hi) >>> 1
              val c = cmpStr(buf, offPos, mid, probe, probeLen)
              if (c == 0) {
                if (!isMerged(r)) return true
                val rec = buf.getLong((offPos + 8 * mid).toInt)
                val len = buf.getInt(rec.toInt)
                if (buf.getLong(rec.toInt + 4 + len) > fileSeq) return true
                found = true
              }
              else if (c > 0) lo = mid + 1
              else hi = mid - 1
            }
          }
          r += 1
        }
        false
      }

      /** Boxed convenience for the driver-side (row-at-a-time) paths. A
        * probe of the other key kind than the runs hold is absent (it
        * would otherwise read the runs in the wrong layout). */
      def contains(a: Any): Boolean = a match {
        case null => false
        case l: java.lang.Long => !isStr && containsLong(l)
        case s: String => isStr && contains(UTF8String.fromString(s))
        case u: UTF8String =>
          val b = u.getBytes
          isStr && containsBytes(b, b.length)
        case other => sys.error(s"unprobeable key $other")
      }
    }

    def lookup(paths: Array[String], isStr: Boolean,
        fileSeq: Long = Long.MinValue): Lookup =
      new Lookup(paths, isStr, fileSeq)

    /** Streaming iterator over one run's (key, seq) records in key
      * order. Plain runs yield `runSeq` for every key; merged runs
      * yield their stored per-key seqs. Long keys box for the driver-
      * side k-way merge (run counts, not row counts). */
    def iterate(path: String, isStr: Boolean, runSeq: Long)
        : Iterator[(Any, Long)] = {
      val buf = map(path)
      val merged = path.endsWith(MergedSuffix)
      if (buf.capacity < 8) return Iterator.empty
      val n = buf.getLong(0)
      if (isStr) {
        val offPos = buf.getLong(8)
        (0L until n).iterator.map { i =>
          val rec = buf.getLong((offPos + 8 * i).toInt)
          val len = buf.getInt(rec.toInt)
          val b = new Array[Byte](len)
          var k = 0
          while (k < len) { b(k) = buf.get(rec.toInt + 4 + k); k += 1 }
          val seq = if (merged) buf.getLong(rec.toInt + 4 + len) else runSeq
          (new String(b, StandardCharsets.UTF_8): Any, seq)
        }
      } else {
        (0L until n).iterator.map { i =>
          val seq = if (merged) buf.getLong((8 + 8 * n + 8 * i).toInt)
            else runSeq
          (java.lang.Long.valueOf(buf.getLong((8 + 8 * i).toInt)): Any, seq)
        }
      }
    }

    /** Write a MERGED run: per-key MAX seq records, keys ascending.
      * LONG layout:   int64 n, n x int64 keys, n x int64 seqs
      * STRING layout: int64 n, int64 offTablePos,
      *                n x (int32 len, bytes, int64 seq),
      *                n x int64 absolute record positions
      * (the plain layouts plus a seq per key — `cmpStr` and the binary
      * searches read both shapes). */
    def writeMerged(file: File, entries: Iterator[(Any, Long)],
        isStr: Boolean): Long =
      writeMerged(file, entries, isStr, Int.MaxValue.toLong)

    /** STREAMING write — O(1) memory regardless of key count: records
      * stream straight to the run file while the trailing section (LONG
      * seqs / STRING offset table) spills to a sidecar temp file that is
      * appended afterwards; the two header longs back-patch last. The
      * only remaining bound is the mapped-read format itself (one
      * MappedByteBuffer address range): crossing `cap` (2 GiB, test-
      * overridable) still fails LOUDLY before writing past it. */
    def writeMerged(file: File, entries: Iterator[(Any, Long)],
        isStr: Boolean, cap: Long): Long = {
      val tmp = new File(file.getParentFile, file.getName + ".tail")
      val out = new DataOutputStream(new java.io.BufferedOutputStream(
        new FileOutputStream(file)))
      val tail = new DataOutputStream(new java.io.BufferedOutputStream(
        new FileOutputStream(tmp)))
      var n = 0L
      var closed = false
      def capCheck(total: Long): Unit = require(total <= cap,
        "merged equality-delete run would exceed 2 GiB — expire old " +
          "versions and compact before re-merging")
      try {
        if (isStr) {
          out.writeLong(0L); out.writeLong(0L) // n, offPos: patched below
          var at = 16L
          entries.foreach { case (k, sq) =>
            val b = k.asInstanceOf[String].getBytes(StandardCharsets.UTF_8)
            tail.writeLong(at)
            out.writeInt(b.length); out.write(b); out.writeLong(sq)
            at += 4 + b.length + 8
            n += 1
            capCheck(at + 8L * n)
          }
          tail.close()
          Files.copy(tmp.toPath, out) // the offset table
          out.close(); closed = true
          val raf = new java.io.RandomAccessFile(file, "rw")
          try { raf.writeLong(n); raf.writeLong(at) } finally raf.close()
        } else {
          out.writeLong(0L) // n: patched below
          entries.foreach { case (k, sq) =>
            out.writeLong(k.asInstanceOf[java.lang.Long].longValue)
            tail.writeLong(sq)
            n += 1
            capCheck(8L + 16L * n)
          }
          tail.close()
          Files.copy(tmp.toPath, out) // the seq column
          out.close(); closed = true
          val raf = new java.io.RandomAccessFile(file, "rw")
          try raf.writeLong(n) finally raf.close()
        }
        n
      } finally {
        if (!closed) { try out.close() catch { case _: Throwable => () } }
        try tail.close() catch { case _: Throwable => () }
        tmp.delete()
      }
    }

    /** Write one task's DISTINCT keys as a sorted run. Capped at 2 GiB
      * per run (a single MappedByteBuffer's address range) — ~250M long
      * keys per TASK per batch; a bigger CDC batch should shard tasks. */
    def write(file: File, keys: Iterable[Any], isStr: Boolean): Long = {
      val out = new DataOutputStream(new java.io.BufferedOutputStream(
        new FileOutputStream(file)))
      try {
        if (isStr) {
          val bs = keys.map(_.asInstanceOf[String]
            .getBytes(StandardCharsets.UTF_8)).toArray
          java.util.Arrays.sort(bs,
            new java.util.Comparator[Array[Byte]] {
              override def compare(a: Array[Byte], b: Array[Byte]): Int =
                java.util.Arrays.compareUnsigned(a, b)
            })
          out.writeLong(bs.length.toLong)
          var pos = 16L
          val offs = new Array[Long](bs.length)
          var i = 0
          while (i < bs.length) {
            offs(i) = pos; pos += 4 + bs(i).length; i += 1
          }
          require(pos + 8L * bs.length <= Int.MaxValue.toLong,
            s"equality-delete key run would exceed 2 GiB ($pos bytes of " +
              "keys) — shard the CDC batch across more tasks")
          out.writeLong(pos) // offset-table position
          bs.foreach { b => out.writeInt(b.length); out.write(b) }
          offs.foreach(out.writeLong)
          bs.length.toLong
        } else {
          val ls = keys.map(_.asInstanceOf[java.lang.Long].longValue).toArray
          require(8L + 8L * ls.length <= Int.MaxValue.toLong,
            "equality-delete key run would exceed 2 GiB — shard the " +
              "CDC batch across more tasks")
          java.util.Arrays.sort(ls)
          out.writeLong(ls.length.toLong)
          ls.foreach(out.writeLong)
          ls.length.toLong
        }
      } finally out.close()
    }

    /** Streaming k-way check that the runs are pairwise disjoint (each
      * run is internally sorted+distinct by construction): O(total)
      * time, O(runs) heap — the commit-time CDC-contract check without
      * the driver-side union. Returns the first duplicated key, if any. */
    def firstOverlap(paths: Seq[String], isStr: Boolean): Option[Any] = {
      val bufs = paths.map(map).toArray
      val n = bufs.map(b => if (b.capacity >= 8) b.getLong(0) else 0L)
      val idx = new Array[Long](bufs.length)
      if (isStr) {
        def rec(r: Int): (Int, Int) = { // (absolute pos, len) of current
          val off = bufs(r).getLong((bufs(r).getLong(8) + 8 * idx(r)).toInt)
          (off.toInt + 4, bufs(r).getInt(off.toInt))
        }
        def cmp(a: Int, b: Int): Int = {
          val (pa, la) = rec(a); val (pb, lb) = rec(b)
          var k = 0
          val m = math.min(la, lb)
          while (k < m) {
            val x = bufs(a).get(pa + k) & 0xff
            val y = bufs(b).get(pb + k) & 0xff
            if (x != y) return x - y
            k += 1
          }
          la - lb
        }
        while (true) {
          val live = bufs.indices.filter(r => idx(r) < n(r))
          if (live.length < 2) return None
          var best = live.head // global min by pairwise compare
          live.tail.foreach { r => if (cmp(r, best) < 0) best = r }
          val dup = live.exists(r => r != best && cmp(r, best) == 0)
          if (dup) {
            val (p, l) = rec(best)
            val b = new Array[Byte](l)
            var k = 0
            while (k < l) { b(k) = bufs(best).get(p + k); k += 1 }
            return Some(new String(b, StandardCharsets.UTF_8))
          }
          idx(best) += 1
        }
        None
      } else {
        def cur(r: Int): Long = bufs(r).getLong((8 + 8 * idx(r)).toInt)
        while (true) {
          val live = bufs.indices.filter(r => idx(r) < n(r))
          if (live.length < 2) return None
          var best = live.head
          live.tail.foreach { r => if (cur(r) < cur(best)) best = r }
          if (live.exists(r => r != best && cur(r) == cur(best)))
            return Some(cur(best): java.lang.Long)
          idx(best) += 1
        }
        None
      }
    }
  }

  /** The upsert WRITE encoding ("<schemaPos>:<L|S>") or "". */
  private[sources] def upsertEncOf(dir: File, schema: StructType): String =
    readProps(dir).get(UpsertKeyProp)
      .filter(schema.fieldNames.contains)
      .map { k =>
        val i = schema.fieldIndex(k)
        s"$i:${if (schema.fields(i).dataType == StringType) "S" else "L"}"
      }.getOrElse("")

  /** Cross-task key-uniqueness check for one upsert batch: per-task key
    * files are SORTED and distinct by construction, so a streaming k-way
    * merge over the runs finds any cross-task duplicate in O(total)
    * time and O(tasks) heap — no driver-side union ever materializes.
    * On violation the batch's files are reclaimed BEFORE the loud
    * failure — a rejected commit must strand nothing. */
  private[sources] def requireDisjointKeys(dir: File,
      taskKeys: Seq[(String, Long)], cleanup: Seq[String]): Unit = {
    val isStr = {
      val schema = readSchema(dir)
      readProps(dir).get(UpsertKeyProp).filter(schema.fieldNames.contains)
        .exists(k => schema(k).dataType == StringType)
    }
    EqKeys.firstOverlap(taskKeys.map(t =>
      new File(new File(dir, "data"), t._1).getPath), isStr) match {
      case Some(dup) =>
        cleanup.foreach(n => deleteDataAndSidecar(new File(dir, "data"), n))
        throw new IllegalStateException(
          s"upsert batch carries key $dup in more than one task — " +
            "one row per key per batch is the CDC contract; " +
            "nothing was committed")
      case None => ()
    }
  }

  /** The upsert read context for one table state: (key column's CURRENT
    * schema index, the manifest's equality deletes). None when the table
    * has no upsert key or no outstanding key files. */
  private[sources] def upsertCtx(dir: File, schema: StructType,
      eqDeletes: Seq[EqDelete]): Option[(Int, Seq[EqDelete])] =
    readProps(dir).get(UpsertKeyProp) match {
      case Some(k) if eqDeletes.nonEmpty && schema.fieldNames.contains(k) =>
        Some((schema.fieldIndex(k), eqDeletes))
      case _ => None
    }

  /** Load + merge position delete files into one sorted skip array. */
  private[sources] def loadDeletePositions(paths: Array[String]): Array[Long] =
    if (paths.isEmpty) Array.empty
    else paths.flatMap { p =>
      val f = new File(p)
      val n = (f.length() / 8).toInt
      val in = new DataInputStream(new BufferedInputStream(
        new FileInputStream(f)))
      try Array.fill(n)(in.readLong()) finally in.close()
    }.sorted

  /** Write one position delete file; returns its [[DeleteFile]]. */
  private[sources] def writeDeleteFile(dir: File,
      positions: Seq[Long]): DeleteFile = {
    val name = s"del-${java.util.UUID.randomUUID().toString.take(12)}.del"
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(new File(new File(dir, "data"), name))))
    try positions.sorted.foreach(out.writeLong) finally out.close()
    DeleteFile(name, positions.length.toLong)
  }

  /** Write CURRENT-schema-aligned boxed rows (strings as java String)
    * as one data file through [[CatalogFileWriter]] — the driver-side
    * rewrite path: DELETE's copy-on-write boundary, sys.compact and
    * rewrite_sorted. The table's bloom sidecars are rebuilt, so
    * point-lookup pruning survives table maintenance. */
  private[sources] def writeLocalFile(dir: File, prefix: String,
      schema: StructType, mp: ColMapping, partition: Seq[String],
      rows: Iterable[Array[Any]], seq: Long = 0L, specId: Int = 0): Entry = {
    val bloomEnc = bloomEncOf(dir, schema)
    val w = new CatalogFileWriter(new File(dir, "data"),
      s"$prefix-${java.util.UUID.randomUUID().toString.take(12)}",
      partition, schema.fields.map(_.dataType), mp.ids.toArray,
      if (bloomEnc.isEmpty) Array.empty else bloomEnc.split(",").map(_.toInt))
    try {
      rows.foreach(r => w.writeRow(new GenericInternalRow(r.map {
        case v: String => UTF8String.fromString(v)
        case v => v
      })))
      w.finish(seq, specId)
    } finally w.closeOut()
  }

  /** Decode one whole file through [[CatalogColumnarReader]] (position
    * and equality deletes applied), each row ALIGNED to the current
    * schema by field id, strings as java String. Returns (rawPos,
    * alignedRow) pairs — the boundary-delete and compact machinery. The
    * reader is built directly, not through the scan's factory, so
    * driver-side maintenance never counts as a scan in `filesOpened`. */
  private[graft] def readAligned(dir: File, e: Entry, schema: StructType,
      mp: ColMapping,
      eqCtx: Option[(Int, Seq[EqDelete])] = None)
      : IndexedSeq[(Long, Array[Any])] = {
    val types = schema.fields.map(_.dataType)
    val reader = new CatalogColumnarReader(filePartition(dir, schema, mp,
      schema.add(PosMetaCol, LongType), e, eqCtx = eqCtx))
    val out = IndexedSeq.newBuilder[(Long, Array[Any])]
    try while (reader.next()) {
      val batch = reader.get()
      val pos = batch.column(types.length)
      (0 until batch.numRows()).foreach { r =>
        out += pos.getLong(r) -> Array.tabulate[Any](types.length) { i =>
          val v = batch.column(i)
          if (v.isNullAt(r)) null
          else types(i) match {
            case LongType => v.getLong(r)
            case DoubleType => v.getDouble(r)
            case _ => v.getUTF8String(r).toString
          }
        }
      }
    } finally reader.close()
    out.result()
  }

  /** Derive the CHANGE DATA FEED splits for versions (fromV, toV]: diff
    * consecutive retained manifests — removed files' live rows become
    * deletes, added files' live rows become inserts, a same-file
    * delete-set extension emits exactly the delta positions as deletes
    * (delete files are append-only per entry, so the delta is the
    * suffix). `compact` versions emit nothing: they replace files with a
    * byte-different, row-identical layout. The baseline below a
    * partially-expired history is the first retained manifest (its full
    * content reads as the net insert) — for a RESTARTED STREAM that is
    * silent duplication, so streams fail loudly instead
    * (`failOnExpiredStart`). */
  private[sources] def changeSplits(dir: File, schema: StructType,
      fromV: Long, toV: Long, failOnExpiredStart: Boolean)
      : Array[InputPartition] = {
    val mp = readMapping(dir, schema)
    def exists(v: Long) = new File(dir, s"v$v.manifest").exists()
    var baselined = (fromV to 1L by -1).exists(exists)
    val baseManifest: Option[Manifest] =
      if (baselined) (fromV to 1L by -1).find(exists)
        .map(v => readManifest(dir, v))
      else {
        if (fromV >= 1 && failOnExpiredStart)
          throw new IllegalStateException(
            s"change feed offset v$fromV of $dir was expired by " +
              "sys.expire_versions — restart the stream from scratch " +
              "or retain more versions")
        None
      }
    var prev: Map[String, Entry] = baseManifest
      .map(_.files.map(e => e.name -> e).toMap).getOrElse(Map.empty)
    val upsertKeyIdx: Int = readProps(dir).get(UpsertKeyProp)
      .filter(schema.fieldNames.contains).map(schema.fieldIndex)
      .getOrElse(-1)
    // the baseline's OWN equality deletes: a restarted stream must not
    // re-retract them, and the rows they killed must not re-emit
    var prevEq: Seq[EqDelete] =
      baseManifest.map(_.eqDeletes).getOrElse(Seq.empty)
    def ctxOf(dels: Seq[EqDelete]): Option[(Int, Seq[EqDelete])] =
      if (upsertKeyIdx >= 0 && dels.nonEmpty) Some((upsertKeyIdx, dels))
      else None
    val out = Seq.newBuilder[InputPartition]
    ((fromV + 1) to toV).filter(exists).foreach { v =>
      val m = readManifest(dir, v)
      if (m.eqDeletes.nonEmpty && upsertKeyIdx < 0)
        throw new UnsupportedOperationException(
          s"v$v of $dir carries equality deletes but the table has no " +
            s"resolvable $UpsertKeyProp column — the change feed cannot " +
            "derive row-level changes; run sys.compact first")
      val cur = m.files.map(e => e.name -> e).toMap
      // the first RETAINED manifest after an expired prefix is the net
      // baseline, whatever its op — skipping a leading compact would
      // lose the whole table from the feed. rewrite_deletes is a pure
      // metadata swap (same files, same suppression outcome): emitting
      // its merged run as "new deletes" would re-retract every key
      // rewrite_sorted joins compact here: a clustering rewrite changes
      // file names, never live rows — emitting it would retract and
      // re-insert the whole table
      if ((m.op != "compact" && m.op != "rewrite_deletes" &&
          m.op != "rewrite_sorted") || !baselined) {
        prev.valuesIterator.filterNot(e => cur.contains(e.name)).foreach {
          e => // removed file: its rows LIVE AS OF v-1 are deletes —
            // "live" includes the eq filter, else rows an upsert already
            // retracted would double-delete when a rewrite removes them
            out += filePartition(dir, schema, mp, schema, e,
              changeType = "delete", changeVersion = v,
              eqCtx = ctxOf(prevEq))
        }
        cur.valuesIterator.filterNot(e => prev.contains(e.name)).foreach {
          e => // added file: its live rows are inserts (the eq filter
            // only matters for the first-retained-baseline case, where
            // "added" files are old and may carry superseded rows)
            out += filePartition(dir, schema, mp, schema, e,
              changeType = "insert", changeVersion = v,
              eqCtx = ctxOf(m.eqDeletes))
        }
        cur.valuesIterator.foreach { e =>
          prev.get(e.name).foreach { pe =>
            val delta = e.deletes.drop(pe.deletes.length)
            if (delta.nonEmpty) {
              val positions = loadDeletePositions(delta.map(d =>
                new File(new File(dir, "data"), d.name).getPath).toArray)
              out += filePartition(dir, schema, mp, schema,
                pe.copy(deletes = Seq.empty),
                changeType = "delete", changeVersion = v,
                positions = Some(positions))
            }
          }
        }
        // an UPSERT's new key files retract the LIVE older instances of
        // the upserted keys: for each pre-existing file, emit the rows
        // whose key the new files replaced (keysOnly), alive at v-1
        // (earlier key files still anti-merge, as do position deletes)
        val prevEqNames = prevEq.map(_.name).toSet
        val newDels = m.eqDeletes.filterNot(d => prevEqNames.contains(d.name))
        if (newDels.nonEmpty) {
          val newPaths = newDels.map(d =>
            new File(new File(dir, "data"), d.name).getPath).toArray
          prev.valuesIterator.foreach { pe =>
            val earlier = m.eqDeletes.filter(d =>
              d.seq > pe.seq && !newDels.exists(_.name == d.name))
            out += filePartition(dir, schema, mp, schema, pe,
              changeType = "delete", changeVersion = v,
              eqCtx = Some((upsertKeyIdx, earlier)),
              keysOnly = newPaths)
          }
        }
      }
      prev = cur
      prevEq = m.eqDeletes
      baselined = true
    }
    out.result().toArray
  }
}

private class CatalogTable(dir: File, tableName: String,
    pinned: Option[Long], branch: Option[String] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns with SupportsRowLevelOperations
    with SupportsPartitionManagement {
  import GraftTableCatalog._

  override def name(): String = tableName
  override def schema(): StructType = readSchema(dir)

  /** The table's partition spec, reported back to Spark (DESCRIBE shows
    * it; the write path routes rows by it; SPJ plans against it). */
  override def partitioning(): Array[Transform] = {
    val s = schema()
    val mp = readMapping(dir, s)
    readSpec(dir).map { p =>
      val c = s.fields(mp.ids.indexOf(p.id)).name
      p.kind match {
        case "identity" => Expressions.identity(c)
        case "bucket" => Expressions.bucket(p.arg, c)
        case "days" => Expressions.days(c)
        case other => sys.error(s"unknown transform $other")
      }
    }.toArray
  }

  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = FileMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file backing the row"
    }, new MetadataColumn {
      override def name(): String = PosMetaCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row position within its data file"
    })

  /** UPDATE / MERGE / (non-metadata) DELETE. The command picks the mode
    * property: DELETE reads [[DeleteModeProp]], UPDATE and MERGE read
    * [[UpdateModeProp]]; 'merge-on-read' plans the delta-based operation
    * below, and the default is GROUP-BASED copy-on-write:
    * Spark narrows the scan to the files that contain matching rows via
    * a `_file IN <subquery>` runtime filter, reads those files WHOLE
    * (the per-branch conditions carry row semantics), and the write's
    * commit swaps exactly the planned files for the rewritten ones —
    * untouched files keep their manifest entries byte-for-byte
    * (CatalogSpec pins it). The Iceberg COW path in miniature; at
    * 100 TB a point UPDATE costs one file's rewrite, not a table's. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty, s"$tableName is a time-travel snapshot: read-only")
    val modeProp = info.command() match {
      case org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE => DeleteModeProp
      case _ => UpdateModeProp
    }
    if (readProps(dir).get(modeProp).contains("merge-on-read"))
      () => new CatalogDeltaOperation(dir, schema(), info.command(), branch)
    else
      () => new CatalogRowLevelOperation(dir, schema(), info.command(), branch)
  }
  override def capabilities(): java.util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION backs `MERGE INTO ... WITH SCHEMA
    // EVOLUTION`: the analyzer turns a wider merge source into
    // alterTable AddColumn changes (nullable, appended — exactly the
    // evolution this catalog supports) in the same transaction
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  private def liveManifest(): Manifest =
    if (branch.isDefined) headManifest(dir, branch)
    else {
      val v = pinned.getOrElse(readLatest(dir))
      if (v == 0) Manifest(0, "none", Seq.empty) else readManifest(dir, v)
    }

  /** The lazy planning twin of [[liveManifest]] — segment entries load
    * only after partition-summary pruning (scan path). */
  private def livePlan(): PlanManifest =
    if (branch.isDefined) planHead(dir, branch)
    else {
      val v = pinned.getOrElse(readLatest(dir))
      if (v == 0) emptyPlan(dir)
      else parsePlan(dir, new File(dir, s"v$v.manifest"), v)
    }

  // ---- SupportsPartitionManagement: the plain-SQL DDL surface over the
  // manifest chain. `SHOW PARTITIONS` lists the CURRENT spec
  // generation's live tuples (older generations report via the
  // `.partitions` metadata table); `ALTER TABLE ... DROP PARTITION` is
  // the partition-aligned METADATA-ONLY delete — entries drop from the
  // manifest, no data file is read or written. Partitions materialize
  // through writes (the hidden-partitioning model), so ADD PARTITION is
  // deliberately unsupported.
  private def curSpecAndId: (Seq[PT], Int) = {
    val specs = readSpecs(dir)
    (specs.lastOption.getOrElse(Seq.empty), specs.length - 1)
  }

  /** DERIVED field names, the Iceberg partition-field convention:
    * identity keeps the column name (so `PARTITION (g=5)` just works),
    * bucket(n) surfaces as `<col>_bucket` (the bucket ordinal), days as
    * `<col>_day` (the epoch-day ordinal). */
  override def partitionSchema(): StructType = {
    val s = schema()
    val mp = readMapping(dir, s)
    val (spec, _) = curSpecAndId
    spec.foldLeft(new StructType()) { (st, p) =>
      val i = mp.ids.indexOf(p.id)
      val c = if (i >= 0) s.fields(i).name else s"#${p.id}"
      p.kind match {
        case "identity" => st.add(c, s.fields(i).dataType, nullable = true)
        case "bucket" => st.add(s"${c}_bucket", IntegerType, nullable = true)
        case "days" => st.add(s"${c}_day", LongType, nullable = true)
        case other => sys.error(s"unknown transform $other")
      }
    }
  }

  private def decodeSlot(pt: PT, pv: String): Any = pv match {
    case "n" => null
    case v if v.startsWith("s") =>
      UTF8String.fromString(URLDecoder.decode(v.tail, "UTF-8"))
    case v if pt.kind == "bucket" => Integer.valueOf(v.tail.toInt)
    case v => java.lang.Long.valueOf(v.tail.toLong)
  }
  private def encodeSlot(v: Any): String = v match {
    case null => "n"
    case u: UTF8String => "s" + URLEncoder.encode(u.toString, "UTF-8")
    case s: String => "s" + URLEncoder.encode(s, "UTF-8")
    case other => s"l$other" // Int bucket ordinal / Long value / day
  }

  override def listPartitionIdentifiers(names: Array[String],
      partial: InternalRow): Array[InternalRow] = {
    val (spec, cur) = curSpecAndId
    if (spec.isEmpty) return Array.empty
    val ps = partitionSchema()
    require(names.length == partial.numFields,
      s"partial ident has ${partial.numFields} values for ${names.length} names")
    val nameIdx = names.map(ps.fieldIndex)
    val wanted = nameIdx.indices.map { i =>
      if (partial.isNullAt(i)) null
      else partial.get(i, ps.fields(nameIdx(i)).dataType)
    }
    liveManifest().files
      .filter(e => e.specId == cur && e.partition.length == spec.length)
      .map(_.partition).distinct
      .map(t => spec.zip(t).map { case (pt, pv) => decodeSlot(pt, pv) })
      .filter(vals => nameIdx.indices.forall(i =>
        java.util.Objects.equals(vals(nameIdx(i)), wanted(i))))
      .map(vals => new GenericInternalRow(vals.toArray[Any]): InternalRow)
      .toArray
  }

  /** Metadata-only: the partition's entries drop from the manifest as
    * one commit; every data file survives untouched for time travel. */
  override def dropPartition(ident: InternalRow): Boolean = {
    require(pinned.isEmpty, s"$tableName is a time-travel snapshot: read-only")
    val (spec, cur) = curSpecAndId
    require(spec.nonEmpty, s"$tableName is not partitioned")
    val ps = partitionSchema()
    val tuple = spec.indices.map(i => encodeSlot(
      if (ident.isNullAt(i)) null
      else ident.get(i, ps.fields(i).dataType)))
    val m = liveManifest()
    val latest = headVersion(dir, branch)
    val (hit, kept) = m.files.partition(e =>
      e.specId == cur && e.partition == tuple)
    if (hit.isEmpty) false
    else {
      // OCC: pure appends rebase (snapshot isolation — files appended
      // after the drop's snapshot survive, even into this partition);
      // conflicts fail loudly
      retryingCommit(dir, branch, latest) { expected =>
        val cur = manifestAt(dir, branch, expected)
        if (expected != latest && !pureAppendsSince(m, cur))
          throw new IllegalStateException(
            s"DROP PARTITION on $dir raced a CONFLICTING commit " +
              s"(v$latest -> v$expected is not append-only): re-run")
        val baseNames = m.files.map(_.name).toSet
        val appended = cur.files.filterNot(e => baseNames.contains(e.name))
        commitHead(dir, branch, expected, "drop_partition",
          kept ++ appended, cur.epochs,
          if (kept.isEmpty && appended.isEmpty) Seq.empty else m.eqDeletes,
          prev = Some(cur))
      }
      lastDeleteDropped.set(hit.length.toLong)
      lastDeleteRewritten.set(0L)
      lastDeleteKept.set(kept.length.toLong)
      true
    }
  }

  /** `TRUNCATE TABLE t PARTITION (...)` — for a lake table, removing a
    * partition's rows IS the metadata-only entry drop (the partition
    * "exists" again the moment a write lands rows in it). */
  override def truncatePartition(ident: InternalRow): Boolean = {
    if (!partitionExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(tableName, ident, partitionSchema())
    dropPartition(ident)
  }

  override def createPartition(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$tableName: partitions materialize via writes (hidden " +
        "partitioning) — ADD PARTITION has nothing to create")
  override def replacePartitionMetadata(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$tableName: partitions carry no mutable metadata")
  override def loadPartitionMetadata(ident: InternalRow)
      : java.util.Map[String, String] = {
    val (spec, cur) = curSpecAndId
    val ps = partitionSchema()
    val tuple = spec.indices.map(i => encodeSlot(
      if (ident.isNullAt(i)) null
      else ident.get(i, ps.fields(i).dataType)))
    val es = liveManifest().files.filter(e =>
      e.specId == cur && e.partition == tuple)
    // the SupportsPartitionManagement contract: an absent partition is
    // an ERROR, not a phantom {files:0} row (mirrors truncatePartition)
    if (es.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(tableName, ident, ps)
    java.util.Map.of("files", es.length.toString,
      "rows", es.map(_.liveRows).sum.toString,
      "bytes", es.map(_.bytes).sum.toString)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CatalogScanBuilder(dir, schema(), livePlan(),
      Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L),
      streamBranch = branch)

  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    readProps(dir).foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty, s"$tableName is a time-travel snapshot: read-only")
    val s = schema()
    require(info.schema().fields.map(f => (f.name, f.dataType)).toSeq ==
      s.fields.map(f => (f.name, f.dataType)).toSeq,
      s"$tableName expects ${s.simpleString}; got ${info.schema().simpleString}")
    val props = readProps(dir)
    // the equality-delete seq ordering is defined against the MAIN
    // commit sequence; branch-local seqs would misorder after a
    // fast-forward, so upsert-keyed tables take CDC on main only
    require(branch.isEmpty || !props.contains(UpsertKeyProp),
      s"$tableName: upsert-keyed tables do not support branch writes " +
        "(equality-delete sequencing is defined on the main chain)")
    // hash distribution clusters on the partition transforms (identity /
    // bucket ride V2 expression resolution; a days() transform keeps the
    // fanout path — Spark types days() for DATE/TIMESTAMP, not epoch-ms)
    val clusterOn: Seq[org.apache.spark.sql.connector.expressions.Expression] =
      if (!props.get(WriteDistributionProp).contains("hash")) Seq.empty
      else {
        val mp = readMapping(dir, s)
        readSpec(dir).flatMap { p =>
          val i = mp.ids.indexOf(p.id)
          if (i < 0) None else p.kind match {
            case "identity" => Some(Expressions.column(s.fields(i).name))
            case "bucket" => Some(Expressions.bucket(p.arg, s.fields(i).name))
            case _ => None
          }
        }
      }
    new CatalogWriteBuilder(dir, s,
      props.get(WriteOrderByProp)
        .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty),
      props.get(WritePartitionsProp).map(_.toInt).getOrElse(0),
      clusterOn, branch, info.queryId())
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    // decline filters touching columns outside the DATA schema (e.g. the
    // _file metadata column): the row evaluator has no value for them —
    // declining routes the delete to the group-based row-level path,
    // whose scan DOES expose _file
    val dataCols = schema().fieldNames.toSet
    pinned.isEmpty && filters.forall(f =>
      filterSupported(f) && f.references.forall(dataCols.contains))
  }

  /** The Iceberg delete split, now over FULL file facts (partition
    * values + stats + null presence): proven all-match files DROP from
    * the manifest (metadata-only — on an identity-partitioned table a
    * partition-aligned DELETE never touches data), proven none-match
    * files survive untouched, and only boundary files pay — a rewrite
    * under copy-on-write, or a small position delete file under
    * `delete.mode`='merge-on-read' (the Iceberg v2 read path: a 10-row
    * delete on a 1 GB file writes 80 bytes, and `sys.compact` applies
    * it later). The commit is one new manifest version; prior versions
    * keep serving the old file set. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val s = schema()
    val mp = readMapping(dir, s)
    val specs = readSpecs(dir)
    def specOf(e: Entry): Seq[PT] =
      if (e.specId >= 0 && e.specId < specs.length) specs(e.specId)
      else Seq.empty
    val m = liveManifest()
    val latest = headVersion(dir, branch)
    val mor = readProps(dir).get(DeleteModeProp).contains("merge-on-read")
    val eqCtx = upsertCtx(dir, s, m.eqDeletes)
    var dropped = 0L; var rewritten = 0L; var kept = 0L; var morFiles = 0L
    var bloomKept = 0L
    val remaining = m.files.flatMap { e =>
      val facts = fileFacts(e, s, mp, specOf(e))
      val every = filters.nonEmpty && filters.forall(allMatch(_, facts))
      val any = filters.forall(mayMatch(_, facts))
      if (every) { dropped += 1; None } // metadata-only drop
      else if (!any) { kept += 1; Some(e) } // provably untouched
      else if (!bloomMayMatch(dir, s, mp, e, filters)) {
        // a point-predicate DELETE whose sidecar proves absence: the
        // boundary file is untouched WITHOUT decoding a row
        kept += 1; bloomKept += 1; Some(e)
      } else {
        // boundary file: decode live rows (field-id aligned, existing
        // deletes applied) and split by the predicate
        val live = readAligned(dir, e, s, mp, eqCtx)
        val (hit, miss) = live.partition { case (_, row) =>
          filters.forall(evalFilter(_, s, row)) }
        if (hit.isEmpty) { kept += 1; Some(e) }
        else if (miss.isEmpty) { dropped += 1; None }
        else if (mor) {
          morFiles += 1
          Some(e.copy(deletes =
            e.deletes :+ writeDeleteFile(dir, hit.map(_._1))))
        } else {
          rewritten += 1
          // survivors keep the file's partition tuple (rows of one file
          // share it by construction) — the new file stays prunable; the
          // rewrite MATERIALIZED any equality deletes, so it takes the
          // new sequence and they never re-apply
          Some(writeLocalFile(dir, "rw", s, mp, e.partition,
            miss.map(_._2), seq = latest + 1, specId = e.specId))
        }
      }
    }
    // OCC: rebase over pure appends (appended files are outside this
    // DELETE's snapshot and survive untouched — snapshot isolation);
    // anything else fails loudly. The split decisions and any rewritten
    // files were computed ONCE above and are reused across attempts.
    // An emptied table needs no key files (nothing left to supersede).
    retryingCommit(dir, branch, latest) { expected =>
      val cur = manifestAt(dir, branch, expected)
      if (expected != latest && !pureAppendsSince(m, cur))
        throw new IllegalStateException(
          s"DELETE on $dir raced a CONFLICTING commit " +
            s"(v$latest -> v$expected is not append-only): re-run")
      val baseNames = m.files.map(_.name).toSet
      val appended = cur.files.filterNot(e => baseNames.contains(e.name))
      commitHead(dir, branch, expected, "delete", remaining ++ appended,
        cur.epochs,
        if (remaining.isEmpty && appended.isEmpty) Seq.empty
        else m.eqDeletes, prev = Some(cur))
    }
    lastDeleteDropped.set(dropped)
    lastDeleteBloomKept.set(bloomKept)
    lastDeleteRewritten.set(rewritten)
    lastDeleteKept.set(kept)
    lastDeleteMorFiles.set(morFiles)
  }
}

private class CatalogScanBuilder(dir: File, schema: StructType,
    manifest: GraftTableCatalog.PlanManifest, startingVersion: Long = 0L,
    streamBranch: Option[String] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import GraftTableCatalog._
  private var skipFilters = Array.empty[Filter]
  private var required: StructType = schema
  private var pushedAgg: Option[(StructType, Seq[Array[Any]])] = None

  /** AGGREGATE PUSHDOWN INTO MANIFEST STATISTICS — the Iceberg
    * count-from-metadata behavior: an unfiltered, ungrouped COUNT(*) /
    * COUNT(col) / MIN(col) / MAX(col) answers from the manifest WITHOUT
    * opening a data file (at 100 TB: kilobytes of manifest instead of a
    * full scan). Strictly proof-gated, declining to a normal scan when
    * exactness is not provable:
    *  - pushed filters tolerate PARTITION-ALIGNED predicates: files
    *    proven all-match contribute, proven no-match drop, any
    *    partially-matching file declines the whole push;
    *  - AVG(col): exact manifest sum / null-free live-row count,
    *    complete-pushdown only;
    *  - outstanding equality deletes → decline everything (liveRows is
    *    an upper bound until compaction);
    *  - COUNT(*): liveRows sums stay exact THROUGH position deletes;
    *  - COUNT(col): needs every file proven null-free for the column
    *    (then every live row counts, deletes included);
    *  - MIN/MAX(col): LONG stats over non-null values (SQL min/max
    *    ignore nulls, same domain); any position delete on any file
    *    declines — the extremal row may be the deleted one; every file
    *    must either carry bounds for the column or prove it all-null. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    pushedAgg = answerFromManifest(agg)
    pushedAgg.isDefined
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = answerFromManifest(agg).isDefined

  private def answerFromManifest(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, CountStar, Max, Min, Sum}
    if (manifest.eqDeletes.nonEmpty) return None
    val mp = readMapping(dir, schema)
    val specs = readSpecs(dir)
    // segment-level pruning first: a summary-disproven segment is a
    // proof that EVERY file in it is wholly non-matching, so dropping
    // it whole preserves the classification below
    val allFacts: Seq[(Entry, FileFacts)] =
      manifest.pruned(skipFilters, schema, mp, specs).map(e =>
        (e, fileFacts(e, schema, mp,
          if (e.specId >= 0 && e.specId < specs.length) specs(e.specId)
          else Seq.empty)))
    // PARTITION-PREDICATE-TOLERANT: classify every live file against the
    // pushed filters — wholly matching files contribute, wholly
    // non-matching files drop, a PARTIAL file (may contain matching rows
    // but not provably all) declines the push. Spark only offers the
    // aggregation when no residual filter remains, i.e. when pushFilters
    // absorbed everything, so partials cannot actually occur here — the
    // check keeps the proof local instead of relying on that contract.
    var partial = false
    val facts: Seq[(Entry, FileFacts)] = allFacts.filter { case (_, ft) =>
      if (skipFilters.forall(allMatch(_, ft))) true
      else {
        if (skipFilters.forall(mayMatch(_, ft))) partial = true
        false
      }
    }
    if (partial) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 &&
        schema.fieldNames.contains(r.fieldNames()(0)) =>
        Some(r.fieldNames()(0))
      case _ => None
    }

    /** The aggregate values over one file subset (the whole table, or
      * one partition group) — None anywhere means decline the push. */
    def aggsOver(sub: Seq[(Entry, FileFacts)])
        : Option[Seq[(String, DataType, Boolean, Any)]] = {
      val hasPosDeletes = sub.exists(_._1.deletes.nonEmpty)
      def extremum(col: String, lo: Boolean): Option[Any] =
        if (hasPosDeletes || schema(col).dataType != LongType) None
        else {
          // per file: Some(None) = provably all-null (contributes
          // nothing), Some(Some(b)) = bound, None = unprovable → decline.
          // Read the EXACT per-file stats, never facts.rng: for a
          // days()-transform source column, fileFacts overwrites the
          // stats with the synthesized day-wide pruning range
          // [dayStart, dayStart+86399999] — sound for skipping, but an
          // extremum served from it would be a value no row holds.
          val key = s"#${mp.ids(schema.fieldIndex(col))}"
          val per: Seq[Option[Option[Long]]] = sub.map { case (e, f) =>
            if (f.allNull(col)) Some(None)
            else e.stats.get(key)
              .orElse(if (!mp.evolved) e.stats.get(col) else None) match {
              case Some(r) => Some(Some(if (lo) r._1 else r._2))
              case None => None
            }
          }
          if (per.exists(_.isEmpty)) None
          else {
            val bounds = per.flatten.flatten
            Some(if (bounds.isEmpty) null
              else if (lo) (bounds.min: java.lang.Long)
              else (bounds.max: java.lang.Long))
          }
        }
      val cols = agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          Some(("count_star", LongType, false,
            sub.map(_._1.liveRows).sum: Any))
        case c: Count if !c.isDistinct =>
          colOf(c.column()).flatMap { col =>
            if (sub.forall(_._2.nullFree(col)))
              Some(("count", LongType, false,
                sub.map(_._1.liveRows).sum: Any))
            else None
          }
        case m: Min =>
          colOf(m.column()).flatMap(col => extremum(col, lo = true)
            .map(v => ("min", LongType, true, v)))
        case m: Max =>
          colOf(m.column()).flatMap(col => extremum(col, lo = false)
            .map(v => ("max", LongType, true, v)))
        case s: Sum if !s.isDistinct =>
          // per-file EXACT sums over non-null values (the manifest's
          // `sums` field): same proof shape as min/max — every file must
          // either carry the sum or be provably value-free for the
          // column; deletes or a recorded-overflow file decline; the
          // final fold declines on overflow too (ANSI would fail there)
          colOf(s.column()).flatMap { col =>
            if (hasPosDeletes || schema(col).dataType != LongType) None
            else {
              val key = s"#${mp.ids(schema.fieldIndex(col))}"
              val per: Seq[Option[Option[Long]]] = sub.map { case (e, f) =>
                if (f.allNull(col)) Some(None)
                else if (f.rng.contains(col)) e.sums.get(key).map(Some(_))
                else None // values unprovable (legacy / all-null-in-file)
              }
              if (per.exists(_.isEmpty)) None
              else {
                val vals = per.flatten.flatten
                if (vals.isEmpty) Some(("sum", LongType, true, null: Any))
                else try Some(("sum", LongType, true,
                  (vals.reduce(Math.addExact(_: Long, _: Long))
                    : java.lang.Long): Any))
                catch { case _: ArithmeticException => None }
              }
            }
          }
        case a: Avg if !a.isDistinct =>
          // avg = exact manifest sum / exact non-null count. Provable
          // when every file is null-free for the column (count is then
          // liveRows), carries its sum, and no position deletes touch
          // the subset; Spark only pushes Avg under
          // supportCompletePushDown, so the division happens once, here.
          colOf(a.column()).flatMap { col =>
            if (hasPosDeletes || schema(col).dataType != LongType) None
            else if (!sub.forall(_._2.nullFree(col))) None
            else {
              val key = s"#${mp.ids(schema.fieldIndex(col))}"
              val per = sub.map(_._1.sums.get(key))
              if (per.exists(_.isEmpty)) None
              else try {
                val n = sub.map(_._1.liveRows).sum
                if (n == 0L) Some(("avg", DoubleType, true, null: Any))
                else {
                  val s = per.flatten.reduce(Math.addExact(_: Long, _: Long))
                  Some(("avg", DoubleType, true,
                    (java.lang.Double.valueOf(s.toDouble / n)): Any))
                }
              } catch { case _: ArithmeticException => None }
            }
          }
        case _ => None // stddev/distinct: not derivable from stats
      }
      if (cols.exists(_.isEmpty)) None else Some(cols.map(_.get))
    }

    def schemaOf(groupFields: Seq[(String, DataType)],
        aggs: Seq[(String, DataType, Boolean, Any)]): StructType = {
      val withGroups = groupFields.foldLeft(new StructType()) {
        case (s, (n, dt)) => s.add(n, dt, nullable = true)
      }
      aggs.zipWithIndex.foldLeft(withGroups) {
        case (s, ((nm, dt, nullable, _), i)) =>
          s.add(s"${nm}_$i", dt, nullable)
      }
    }

    if (agg.groupByExpressions().isEmpty) {
      aggsOver(facts).map(aggs =>
        (schemaOf(Seq.empty, aggs), Seq(aggs.map(_._4).toArray)))
    } else {
      // GROUP BY pushdown — every group column must be an IDENTITY
      // partition source under the CURRENT spec and every file must
      // carry a current-generation tuple: the manifest then holds one
      // exact group per live partition value (the partition-histogram
      // query a 100 TB operator runs daily, served from kilobytes).
      val spec = specs.last
      val cur = specs.length - 1
      val groupCols = agg.groupByExpressions().toSeq.map(colOf)
      if (groupCols.exists(_.isEmpty)) return None
      if (!allFacts.forall { case (e, _) =>
        e.specId == cur && e.partition.length == spec.length }) return None
      val slotOf: Seq[Int] = groupCols.flatten.map { c =>
        val id = mp.ids(schema.fieldIndex(c))
        spec.indexWhere(p => p.kind == "identity" && p.id == id)
      }
      if (slotOf.exists(_ < 0)) return None
      def decode(pv: String): Any = pv match {
        case "n" => null
        case v if v.startsWith("s") =>
          UTF8String.fromString(URLDecoder.decode(v.tail, "UTF-8"))
        case v => java.lang.Long.valueOf(v.tail.toLong)
      }
      val grouped = facts.groupBy { case (e, _) =>
        slotOf.map(e.partition(_))
      }
      val rowsOpt = grouped.toSeq.map { case (key, sub) =>
        aggsOver(sub).map { aggs =>
          (aggs,
            key.map(decode)
              ++ aggs.map(_._4))
        }
      }
      if (rowsOpt.exists(_.isEmpty) || rowsOpt.isEmpty) None
      else {
        val aggsShape = rowsOpt.head.get._1
        val groupFields = groupCols.flatten.map(c =>
          (c, schema(c).dataType))
        Some((schemaOf(groupFields, aggsShape),
          rowsOpt.map(_.get._2.toArray)))
      }
    }
  }

  /** File skipping, not filtering: every filter stays RESIDUAL (Spark
    * re-applies them all), but files whose facts (partition values
    * FIRST — exact, then min/max stats) disprove a conjunct are never
    * planned — the connector-level partition pruning + zone map. */
  /** Filters the scan ABSORBED: provably exact at FILE granularity —
    * every live file either all-matches (partition value, day range or
    * stats prove it, nulls included) or no-matches. File skipping then
    * IS the filter, so Spark re-applies nothing — and, because no
    * post-scan filter remains, a downstream Aggregation becomes
    * eligible for manifest pushdown (`SELECT count(*) ... WHERE g = 5`
    * answers metadata-only). Partial files keep the filter RESIDUAL,
    * exactly as before. */
  private var absorbed = Array.empty[Filter]
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    skipFilters = filters
    val mp = readMapping(dir, schema)
    val specs = readSpecs(dir)
    // absorption proof over the SURVIVING segments only: a pruned
    // segment's files are provably non-matching (never scanned), so
    // absorbing a filter needs all-match/no-match proof only where a
    // row could actually be produced
    val facts = manifest.pruned(filters, schema, mp, specs)
      .map(e => fileFacts(e, schema, mp,
        if (e.specId >= 0 && e.specId < specs.length) specs(e.specId)
        else Seq.empty))
    val (abs, residual) = filters.partition(f =>
      facts.forall(ft => allMatch(f, ft) || !mayMatch(f, ft)))
    absorbed = abs
    residual
  }
  override def pushedFilters(): Array[Filter] = absorbed

  /** May include the `_file` metadata column — the reader stamps it. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = pushedAgg match {
    case Some((st, rows)) =>
      // the manifest IS the answer: a LocalScan serves it driver-side —
      // zero tasks, zero files opened (CatalogSpec pins the counter)
      new CatalogAggScan(dir, st, rows)
    case None =>
      val mp = readMapping(dir, schema)
      val specs = readSpecs(dir)
      def specOf(e: Entry): Seq[PT] =
        if (e.specId >= 0 && e.specId < specs.length) specs(e.specId)
        else Seq.empty
      val live = manifest.pruned(skipFilters, schema, mp, specs)
        .filter { e =>
          val facts = fileFacts(e, schema, mp, specOf(e))
          skipFilters.forall(mayMatch(_, facts)) &&
            bloomMayMatch(dir, schema, mp, e, skipFilters)
        }
      new CatalogScan(dir, schema, mp, specs, required, live,
        manifest.version, startingVersion,
        upsertCtx(dir, schema, manifest.eqDeletes), streamBranch)
  }
}

/** A pushed-down aggregate answered entirely from the manifest — one
  * row for the ungrouped form, one per live partition value for the
  * GROUP-BY-partition-column form. */
private class CatalogAggScan(dir: File, st: StructType,
    aggRows: Seq[Array[Any]]) extends Scan with LocalScan {
  override def readSchema(): StructType = st
  override def rows(): Array[InternalRow] =
    aggRows.map(v => new GenericInternalRow(v): InternalRow).toArray
  override def description(): String =
    s"graft_cat manifest-aggregate $dir ${st.fieldNames.mkString(",")}"
}

private class CatalogScan(dir: File, tableSchema: StructType,
    mp: GraftTableCatalog.ColMapping, specs: Seq[Seq[GraftTableCatalog.PT]],
    required: StructType, files: Seq[GraftTableCatalog.Entry],
    version: Long, startingVersion: Long = 0L,
    eqCtx: Option[(Int, Seq[GraftTableCatalog.EqDelete])] = None,
    streamBranch: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeFiltering {
  import GraftTableCatalog._
  /** The CURRENT spec generation (writers' layout; SPJ plans on it). */
  private val spec: Seq[PT] = specs.lastOption.getOrElse(Seq.empty)
  private val curSpecId: Int = specs.length - 1
  private def specOf(e: Entry): Seq[PT] =
    if (e.specId >= 0 && e.specId < specs.length) specs(e.specId)
    else Seq.empty
  /** Files surviving the RUNTIME filter (DPP: a selective join hands the
    * scan its build keys before partitions plan — non-matching
    * partitions' files never exist). None = no runtime narrowing. */
  @volatile private var runtimeKept: Option[Seq[Entry]] = None
  private def liveFiles: Seq[Entry] = runtimeKept.getOrElse(files)

  /** Partition source columns accept runtime filters. This COEXISTS
    * with KeyGroupedPartitioning: BatchScanExec regroups the filtered
    * partitions by key (every input partition carries its key), so a
    * runtime-pruned SPJ stays well-formed — the Iceberg combination. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // EVERY spec generation's source columns accept runtime filters: a
    // DPP key on an OLD generation's column still prunes its files. Only
    // columns the pruned read schema kept are reported: Spark resolves
    // each against the scan's output, so a pruned-away partition column
    // would fail planning of any join keyed on other columns.
    specs.flatten.distinct.flatMap { p =>
      val i = mp.ids.indexOf(p.id)
      if (i < 0) None
      else Some(tableSchema.fields(i).name)
    }.distinct.filter(required.fieldNames.contains)
      .map(Expressions.column).toArray
  override def filter(filters: Array[Filter]): Unit =
    if (filters.nonEmpty)
      runtimeKept = Some(files.filter { e =>
        val facts = fileFacts(e, tableSchema, mp, specOf(e))
        filters.forall(mayMatch(_, facts))
      })

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // version-offset tailing is defined on the MAIN chain only; silently
    // tailing main from a branch handle would read the wrong table
    require(streamBranch.isEmpty,
      s"streaming reads address the main table, not branch " +
        s"'${streamBranch.getOrElse("")}' — fast-forward first")
    new CatalogMicroBatchStream(dir, tableSchema, required, startingVersion)
  }
  override def description(): String =
    s"graft_cat $dir v$version files=${files.length} " +
      s"cols=${required.fieldNames.mkString(",")}"

  /** Decode one entry's partition tuple into SPJ key-row values (order
    * parallels the spec): identity long → long, identity string →
    * UTF8String, bucket → int, days → long day ordinal, null → null. */
  private def keyVals(e: Entry): Array[Any] =
    if (e.specId != curSpecId || e.partition.length != spec.length)
      Array.empty // an old-generation file has no key under the current spec
    else spec.zip(e.partition).map {
      case (_, "n") => null
      case (PT("identity", _, _), v) if v.startsWith("s") =>
        UTF8String.fromString(URLDecoder.decode(v.tail, "UTF-8"))
      case (PT("identity", _, _), v) => java.lang.Long.valueOf(v.tail.toLong)
      case (PT("bucket", _, _), v) => java.lang.Integer.valueOf(v.tail.toInt)
      case (PT("days", _, _), v) => java.lang.Long.valueOf(v.tail.toLong)
      case (_, other) => sys.error(s"bad partition value $other")
    }.toArray[Any]

  override def planInputPartitions(): Array[InputPartition] =
    liveFiles.map(e => filePartition(dir, tableSchema, mp, required, e,
      keyVals = keyVals(e), eqCtx = eqCtx): InputPartition).toArray

  /** STORAGE-PARTITIONED JOIN through the catalog: every file carries
    * its partition tuple as a [[HasPartitionKey]], so two tables created
    * with the same spec co-locate partition-for-partition and an
    * equi-join on the partition source columns runs with ZERO exchange
    * on either side (`spark.sql.sources.v2.bucketing.enabled` — Spark
    * groups same-key files into one task). Reported only when the spec
    * is identity/bucket (days inverts a range, not a key), every planned
    * file carries a tuple, and the source columns survive pruning (the
    * key expressions must resolve against the scan's output). */
  private def spjEligible: Boolean = {
    val srcCols = spec.map(p => {
      val i = mp.ids.indexOf(p.id)
      if (i >= 0) tableSchema.fields(i).name else ""
    })
    // evaluated over liveFiles, not the pre-runtime-filter set: after a
    // DPP narrowing the reported partitioning must describe exactly the
    // partitions that will plan (a count from the wider set would exceed
    // the planned partitions' distinct keys — fragile across Spark
    // versions even where BatchScanExec regroups by key)
    spec.nonEmpty && liveFiles.nonEmpty &&
      spec.forall(p => p.kind == "identity" || p.kind == "bucket") &&
      liveFiles.forall(e =>
        e.specId == curSpecId && e.partition.length == spec.length) &&
      srcCols.forall(c => c.nonEmpty && required.fieldNames.contains(c))
  }

  override def outputPartitioning(): V2Partitioning = {
    val srcCols = spec.map(p => {
      val i = mp.ids.indexOf(p.id)
      if (i >= 0) tableSchema.fields(i).name else ""
    })
    if (!spjEligible) new UnknownPartitioning(liveFiles.length)
    else new KeyGroupedPartitioning(
      spec.zip(srcCols).map {
        case (PT("identity", _, _), c) => Expressions.identity(c)
        case (PT("bucket", n, _), c) => Expressions.bucket(n, c)
        case (p, _) => sys.error(s"unreachable: $p")
      }.toArray,
      liveFiles.map(_.partition).distinct.length)
  }

  /** Always COLUMNAR: the vectorized codec decode. */
  override def createReaderFactory(): PartitionReaderFactory =
    CatalogColumnarReaderFactory
  /** V2 CUSTOM METRICS: files actually opened and rows decoded, as
    * first-class SQL metrics — the file-skipping story, observable on
    * every executed plan rather than only via the test counters. */
  override def supportedCustomMetrics(): Array[CustomMetric] =
    CatalogScanMetrics.supported
  /** Scan statistics for the optimizer. Beyond rows/bytes, the manifest
    * serves PER-COLUMN statistics to Catalyst's CBO
    * (`spark.sql.cbo.enabled`): exact min/max folded from the per-file
    * stats, nullCount=0 where every file proves the column null-free,
    * and a distinct-count ESTIMATE bounded by the value range and the
    * row count. With them, FilterEstimation prices range predicates and
    * JoinEstimation prices key cardinalities — a selectively-filtered
    * leg broadcasts instead of shuffling, and multi-way joins reorder —
    * all from kilobytes of manifest, no ANALYZE pass over 100 TB. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.bytes).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(files.map(_.liveRows).sum)
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val totalRows = files.map(_.liveRows).sum
      val totalBytes = files.map(_.bytes).sum
      def put(name: String, loOpt: Option[Long], hiOpt: Option[Long],
          nullFree: Boolean, dvOpt: Long, len: Long,
          hist: Option[
            org.apache.spark.sql.connector.read.colstats.Histogram] = None)
          : Unit =
        out.put(Expressions.column(name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats.Histogram] =
              hist.map(java.util.Optional.of(_)).getOrElse(
                java.util.Optional.empty())
            override def min(): java.util.Optional[Object] =
              loOpt.map(v => java.util.Optional.of(
                java.lang.Long.valueOf(v): Object))
                .getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] =
              hiOpt.map(v => java.util.Optional.of(
                java.lang.Long.valueOf(v): Object))
                .getOrElse(java.util.Optional.empty[Object]())
            override def nullCount(): java.util.OptionalLong =
              if (nullFree) java.util.OptionalLong.of(0L)
              else java.util.OptionalLong.empty()
            override def distinctCount(): java.util.OptionalLong =
              if (dvOpt > 0) java.util.OptionalLong.of(dvOpt)
              else java.util.OptionalLong.empty()
            override def avgLen(): java.util.OptionalLong =
              java.util.OptionalLong.of(len)
            override def maxLen(): java.util.OptionalLong =
              java.util.OptionalLong.of(len)
          })
      required.fields.foreach { f =>
        if (tableSchema.fieldNames.contains(f.name)) {
          val id = mp.ids(tableSchema.fieldIndex(f.name))
          val key = s"#$id"
          def statOf(e: Entry): Option[(Long, Long)] = e.stats.get(key)
            .orElse(if (!mp.evolved) e.stats.get(f.name) else None)
          val allNullFree = files.forall(e => e.nullFree.exists(s =>
            s.contains(key) || (!mp.evolved && s.contains(f.name))))
          // ndv: estimated (sum of per-file linear-counting sketches,
          // capped at live rows); declined when any live file with rows
          // lacks a sketch for the column — an honest "unknown" beats a
          // confident undercount
          val dvOpt =
            if (totalRows > 0 && files.forall(e => e.rows == 0 ||
                e.ndv.contains(key) || !e.idsOrLegacy.contains(id)))
              math.min(files.flatMap(_.ndv.get(key)).sum,
                math.max(totalRows, 1L))
            else -1L
          if (f.dataType == LongType) {
            // HONEST bounds — the extremum discipline on the estimate
            // surface: min/max report only when EVERY live file either
            // carries exact stats for the column or is provably
            // value-free (all-null in-file, or it predates the column
            // and reads null-padded); an evolved table never reports
            // bounds narrower than its data
            // same tri-state as the MIN/MAX pushdown's extremum proof: a
            // file bounds the column (exact stats), is provably
            // value-free (predates the column, reads null-padded), or
            // DECLINES the whole estimate — stats-less entries prove
            // nothing, so an evolved/legacy table never reports bounds
            // narrower than its data
            val per: Seq[Option[Option[(Long, Long)]]] = files.map { e =>
              if (!e.idsOrLegacy.contains(id)) Some(None) // null-padded
              else statOf(e).map(r => Some(r))
            }
            val (loOpt, hiOpt) =
              if (per.exists(_.isEmpty)) (None, None)
              else {
                val bs = per.flatten.flatten
                if (bs.isEmpty) (None, None)
                else (Some(bs.map(_._1).min), Some(bs.map(_._2).max))
              }
            val dv =
              if (dvOpt > 0) dvOpt
              else (loOpt, hiOpt) match {
                case (Some(lo), Some(hi)) =>
                  (BigInt(hi) - BigInt(lo) + 1)
                    .min(BigInt(math.max(totalRows, 1L))).max(BigInt(1))
                    .toLong
                case _ => -1L
              }
            // histogram only when bounds did NOT decline — every live
            // file contributed an exact span, so the piecewise density
            // is honest
            val hist =
              if (loOpt.isEmpty) None
              else manifestHistogram(
                files.zip(per).collect {
                  case (e, Some(Some((lo, hi)))) if e.liveRows > 0 =>
                    (lo, hi, e.liveRows, e.ndv.getOrElse(key, 0L))
                }, totalRows)
            if (loOpt.isDefined || allNullFree || dv > 0)
              put(f.name, loOpt, hiOpt, allNullFree, dv, 8L, hist)
          } else if (f.dataType == StringType) {
            // strings: estimated ndv (when every live file carries a
            // sketch), proven nullCount=0, and a row-width avgLen upper
            // bound (manifest bytes / rows — honest, not per-column)
            val len = if (totalRows > 0)
              math.max(1L, totalBytes / math.max(totalRows, 1L)) else 1L
            if (dvOpt > 0 || allNullFree)
              put(f.name, None, None, allNullFree, dvOpt, len)
          }
        }
      }
      out
    }
  }
}

/** One reader task: `srcIdx` maps required output positions to file
  * positions (-1 = `_file`, -2 = null-pad for columns the file
  * predates); `deletePaths` anti-merge as a sorted position skip list;
  * `positions` (CDF delta-deletes) restricts emission to exactly those
  * raw positions; `changeType`/`changeVersion` stamp the two CDF
  * columns; `keyVals` is the partition tuple for SPJ grouping. */
private case class CatalogFilePartition(path: String, fileName: String,
    rows: Long, typeJson: Array[String], srcIdx: Array[Int],
    deletePaths: Array[String] = Array.empty,
    positions: Option[Array[Long]] = None,
    changeType: String = "", changeVersion: Long = 0L,
    keyVals: Array[Any] = Array.empty,
    eqDeletePaths: Array[String] = Array.empty,
    eqKeyPos: Int = -1, eqKeyIsStr: Boolean = false,
    keysOnlyPaths: Array[String] = Array.empty,
    outTypeJson: Array[String] = Array.empty,
    fileSeq: Long = Long.MinValue)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(keyVals)
}

/** The one read path ([[PartitionReaderFactory.supportColumnarReads]]):
  * [[CatalogColumnarReader]], the one decoder of [[CatalogFileWriter]]'s
  * files, decodes straight into `OnHeapColumnVector`s — no per-row
  * `GenericInternalRow`, no boxed values, and strings land as raw UTF-8
  * bytes. Constant columns (`_file`, null-pads for columns a file
  * predates, CDF stamps) ride `ConstantColumnVector`s. A row is skipped
  * when a position delete names it, when a newer upsert key file holds
  * its key, or (CDF positions-only mode) when it is not a listed
  * position; a skipped row never advances the batch slot. Every
  * partition reads columnar, so Spark never asks for a row reader. */
private object CatalogColumnarReaderFactory extends PartitionReaderFactory {
  import GraftTableCatalog._
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft_cat scans read columnar only: supportColumnarReads is true " +
        "for every partition, so no row reader exists")
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    filesOpened.incrementAndGet()
    new CatalogColumnarReader(p.asInstanceOf[CatalogFilePartition])
  }
}

private class CatalogColumnarReader(fp: CatalogFilePartition)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import GraftTableCatalog._
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val BatchRows = 4096
  private val types: Array[DataType] = fp.typeJson.map(DataType.fromJson)
  private val outTypes: Array[DataType] =
    fp.outTypeJson.map(DataType.fromJson)
  // memory-mapped decode: CatalogFileWriter writes big-endian, which is
  // ByteBuffer's default order — values read straight off the
  // page cache with no stream indirection (a DataInputStream pays
  // method-call + bounds overhead per VALUE; at 4096-row batches that
  // overhead, not boxing, dominated the first columnar cut)
  private val buf: java.nio.ByteBuffer = {
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(fp.path))
    try ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY, 0, ch.size())
    finally ch.close()
  }
  private val skips = loadDeletePositions(fp.deletePaths)
  private val eqKeys: GraftTableCatalog.EqKeys.Lookup =
    EqKeys.lookup(fp.eqDeletePaths, fp.eqKeyIsStr, fp.fileSeq)
  private val keysOnly: Option[GraftTableCatalog.EqKeys.Lookup] =
    if (fp.keysOnlyPaths.isEmpty) None
    else Some(EqKeys.lookup(fp.keysOnlyPaths, fp.eqKeyIsStr))
  private val eqActive =
    fp.eqKeyPos >= 0 && (fp.eqDeletePaths.nonEmpty || keysOnly.isDefined)
  private val only = fp.positions.map(_.sorted)

  // file position -> output slot (-1 = not projected); required names
  // are unique, so at most one output per file column
  private val fileToOut: Array[Int] = {
    val a = Array.fill(types.length)(-1)
    fp.srcIdx.zipWithIndex.foreach { case (s, i) => if (s >= 0) a(s) = i }
    a
  }
  // output slots carrying the _pos metadata column (row-varying)
  private val posOut: Array[Int] =
    fp.srcIdx.zipWithIndex.collect { case (-3, i) => i }

  private val writable = new Array[OnHeapColumnVector](fp.srcIdx.length)
  private val vectors: Array[ColumnVector] = {
    val base: Array[ColumnVector] = fp.srcIdx.indices.map { i =>
      fp.srcIdx(i) match {
        case -1 =>
          val cv = new ConstantColumnVector(BatchRows, StringType)
          cv.setUtf8String(UTF8String.fromString(fp.fileName))
          cv: ColumnVector
        case -3 =>
          writable(i) = new OnHeapColumnVector(BatchRows, LongType)
          writable(i): ColumnVector
        case s if s >= 0 =>
          writable(i) = new OnHeapColumnVector(BatchRows, outTypes(i))
          writable(i): ColumnVector
        case _ => // the file predates this (evolved) column: all null
          val cv = new ConstantColumnVector(BatchRows, outTypes(i))
          cv.setNull()
          cv: ColumnVector
      }
    }.toArray
    if (fp.changeType.isEmpty) base
    else {
      val ct = new ConstantColumnVector(BatchRows, StringType)
      ct.setUtf8String(UTF8String.fromString(fp.changeType))
      val cv = new ConstantColumnVector(BatchRows, LongType)
      cv.setLong(fp.changeVersion)
      base ++ Array[ColumnVector](ct, cv)
    }
  }
  private val batch = new ColumnarBatch(vectors)

  private var pos = -1L
  private var si = 0
  private var oi = 0
  private var read = 0L
  private var scratch = new Array[Byte](64)

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(CatalogScanMetrics.task("filesOpened", 1L),
      CatalogScanMetrics.task("rowsRead", read))

  /** Consume one row's bytes without materializing it. */
  private def skipRow(): Unit = {
    val bits = buf.getLong()
    var c = 0
    while (c < types.length) {
      if ((bits & (1L << c)) == 0) types(c) match {
        case StringType =>
          val len = buf.getInt() // advances 4 first; THEN skip the bytes
          buf.position(buf.position() + len)
        case _ => buf.position(buf.position() + 8)
      }
      c += 1
    }
  }

  /** Decode one row into batch slot `n`; returns whether it emits (a
    * discarded row leaves slot `n` to be overwritten by the next). */
  private def decodeRow(n: Int): Boolean = {
    // clear null marks a discarded previous occupant may have left
    var i = 0
    while (i < writable.length) {
      if (writable(i) != null) writable(i).putNotNull(n)
      i += 1
    }
    i = 0
    while (i < posOut.length) {
      writable(posOut(i)).putLong(n, pos); i += 1
    }
    val bits = buf.getLong()
    // key probes run AT the key column (raw bytes — no String per row)
    var keyPresent = false
    var keyInEq = false
    var keyInOnly = false
    var c = 0
    while (c < types.length) {
      val out = fileToOut(c)
      if ((bits & (1L << c)) != 0) {
        if (out >= 0) writable(out).putNull(n)
      } else types(c) match {
        case LongType =>
          val v = buf.getLong()
          if (out >= 0) writable(out).putLong(n, v)
          if (eqActive && c == fp.eqKeyPos) {
            keyPresent = true
            keyInEq = eqKeys.containsLong(v)
            keysOnly.foreach(inc => keyInOnly = inc.containsLong(v))
          }
        case DoubleType =>
          val v = buf.getDouble()
          if (out >= 0) writable(out).putDouble(n, v)
        case _ =>
          val len = buf.getInt()
          if (len > scratch.length)
            scratch = new Array[Byte](math.max(len, scratch.length * 2))
          buf.get(scratch, 0, len)
          if (out >= 0) writable(out).putByteArray(n, scratch, 0, len)
          if (eqActive && c == fp.eqKeyPos) {
            keyPresent = true
            keyInEq = eqKeys.containsBytes(scratch, len)
            keysOnly.foreach(inc => keyInOnly = inc.containsBytes(scratch, len))
          }
      }
      c += 1
    }
    if (!eqActive) true
    else {
      var emit = !(keyPresent && keyInEq)
      if (emit && keysOnly.isDefined) emit = keyPresent && keyInOnly
      emit
    }
  }

  private val onlyArr: Array[Long] = only.orNull

  override def next(): Boolean = {
    var w = 0
    while (w < writable.length) {
      if (writable(w) != null) writable(w).reset()
      w += 1
    }
    var n = 0
    var exhausted = false
    while (n < BatchRows && !exhausted && pos + 1 < fp.rows) {
      if (onlyArr != null && oi >= onlyArr.length)
        exhausted = true // no more CDF positions in this file
      else {
        pos += 1
        val preEmit =
          if (onlyArr != null) {
            if (oi < onlyArr.length && onlyArr(oi) == pos) { oi += 1; true }
            else false
          } else if (si < skips.length && skips(si) == pos) {
            si += 1; false
          } else true
        if (!preEmit) skipRow()
        else if (decodeRow(n)) n += 1
      }
    }
    batch.setNumRows(n)
    read += n
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = batch.close() // the mapping frees with GC
}

/** The atomic-CTAS staged table: a fully-formed table directory hidden
  * under `.stg-*`, published by ONE directory rename in
  * `commitStagedChanges` — readers see no table, then the whole table;
  * a failed CTAS write aborts the stage and the namespace is untouched
  * (CatalogSpec pins the poisoned-job case). */
private class GraftStagedTable(tmp: File, finalDir: File,
    tableName: String, replace: Boolean)
    extends StagedTable with SupportsWrite {
  import GraftTableCatalog._
  private val inner = new CatalogTable(tmp, tableName, pinned = None)
  override def name(): String = tableName
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): java.util.Map[String, String] =
    inner.properties()
  override def capabilities(): java.util.Set[TableCapability] =
    inner.capabilities()
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit =
    if (!replace) {
      try Files.move(tmp.toPath, finalDir.toPath,
        StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e @ (_: FileAlreadyExistsException |
                  _: java.nio.file.FileSystemException) =>
          deleteTree(tmp) // a concurrent creator won; leave no debris
          throw new IllegalStateException(
            s"table $tableName was created concurrently", e)
      }
    } else {
      // REPLACE swaps by two renames (POSIX offers no atomic dir
      // exchange): old aside, staged in, old removed — the non-atomic
      // window is the instant between renames, never a half-written table
      val trash = new File(finalDir.getParentFile,
        s".trash-${java.util.UUID.randomUUID().toString.take(8)}")
      val existed = finalDir.exists()
      if (existed) Files.move(finalDir.toPath, trash.toPath,
        StandardCopyOption.ATOMIC_MOVE)
      Files.move(tmp.toPath, finalDir.toPath, StandardCopyOption.ATOMIC_MOVE)
      if (existed) deleteTree(trash)
    }
  override def abortStagedChanges(): Unit = deleteTree(tmp)
}

private class CatalogWriteBuilder(dir: File, schema: StructType,
    orderBy: Seq[String] = Seq.empty, numPartitions: Int = 0,
    clusterOn: Seq[org.apache.spark.sql.connector.expressions.Expression] =
      Seq.empty,
    branch: Option[String] = None, queryId: String = "")
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  private def streamingWrite()
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    // each micro-batch commits on the addressed chain: main directly,
    // or a branch's own chain (STREAMING WAP — the audited stream
    // publishes atomically via sys.fast_forward; epoch markers ride
    // the branch manifests and carry through the publish, so replay
    // idempotence survives it)
    new CatalogStreamingWrite(dir, schema, branch, queryId)

  /** With `write.order_by` set, the write DEMANDS a range distribution +
    * in-partition sort on those columns (RequiresDistributionAndOrdering)
    * — Spark inserts the exchange/sort, every task file covers a disjoint
    * key range, and the manifest's min/max stats come out TIGHT, so file
    * skipping works on arbitrary inserts. The Iceberg write-ordered-by
    * contract: the write path organizes data for the read path. */
  override def build(): Write =
    if (orderBy.isEmpty && clusterOn.isEmpty) new Write {
      override def toBatch: BatchWrite =
        new CatalogBatchWrite(dir, schema, doTruncate, branch)
      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite = streamingWrite()
    }
    else if (orderBy.isEmpty) new Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      // write.distribution=hash: rows cluster BY PARTITION TRANSFORM
      // before the writers, so each tuple lands in one task and the
      // fanout writer opens one file for it
      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution =
        org.apache.spark.sql.connector.distributions.Distributions
          .clustered(clusterOn.toArray)
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        Array.empty
      override def requiredNumPartitions(): Int = numPartitions
      override def toBatch: BatchWrite =
        new CatalogBatchWrite(dir, schema, doTruncate, branch)
      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite = streamingWrite()
    }
    else new Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.expressions.SortDirection
      private def sorts = orderBy.map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
        .toArray
      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution =
        org.apache.spark.sql.connector.distributions.Distributions
          .ordered(sorts)
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        sorts
      override def requiredNumPartitions(): Int = numPartitions
      override def toBatch: BatchWrite =
        new CatalogBatchWrite(dir, schema, doTruncate, branch)
      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite = streamingWrite()
    }
}

/** `writeStream.toTable("graft_cat.db.t")` — each micro-batch is ONE
  * versioned commit (`stream-epoch`), and the manifest's epoch set makes
  * a post-crash replayed micro-batch a NO-OP: exactly-once-effective at
  * the catalog level, with time travel straight through the stream's
  * history (every epoch is a version). */
private[graft] class CatalogStreamingWrite(dir: File, schema: StructType,
    branch: Option[String] = None, queryId: String = "")
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import GraftTableCatalog._
  private val jobUid = java.util.UUID.randomUUID().toString.take(8)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory = {
    new File(dir, "data").mkdirs()
    val mp = readMapping(dir, schema)
    val specs = readSpecs(dir) // ONE read: layout + id stay consistent
    val spec = specs.last
    CatalogStreamingWriterFactory(dir.getPath, jobUid, schema.json,
      mp.ids.mkString(","),
      spec.map(p => s"${p.kind}:${p.arg}:${mp.ids.indexOf(p.id)}")
        .mkString(";"),
      upsertEncOf(dir, schema), specs.length - 1, bloomEncOf(dir, schema))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    def entriesOf(msgs: Seq[WriterCommitMessage]): Seq[Entry] =
      msgs.flatMap { case CatalogCommit(es, _) => es; case _ => Seq.empty }
    def keysOf(msgs: Seq[WriterCommitMessage]): Seq[(String, Long)] =
      msgs.flatMap { case CatalogCommit(_, k) => k; case _ => None }
    val taskKeys = keysOf(messages.toSeq)
    if (taskKeys.nonEmpty) requireDisjointKeys(dir, taskKeys,
      cleanup = entriesOf(messages.toSeq).map(_.name) ++ taskKeys.map(_._1))
    // epoch appends rebase like batch appends (OCC): a batch writer
    // landing between micro-batches no longer kills the stream
    // replay markers are PER-QUERY: `<queryId>:<epochId>`, the stable
    // checkpoint id Spark defines micro-batch idempotence on — a fresh
    // stream's epoch 0 never collides with another stream's epoch 0
    // already in the table's (or, via the branch base, main's) epoch set
    val epochTok = s"$queryId:$epochId"
    val toDelete = retryingCommit(dir, branch,
        headVersion(dir, branch)) { latest =>
      val m = manifestAt(dir, branch, latest)
      if (m.epochs.contains(epochTok)) {
        // replayed micro-batch: the commit is a no-op, and the replay's
        // freshly written task files (data AND key files) would
        // otherwise strand forever (referenced by no manifest)
        entriesOf(messages.toSeq).map(_.name) ++ taskKeys.map(_._1)
      } else {
        val newSeq = latest + 1
        val (kept, empty) = entriesOf(messages.toSeq)
          .map(_.copy(seq = newSeq)).partition(_.rows > 0)
        val upsert = taskKeys.nonEmpty && m.files.nonEmpty
        val eq =
          if (upsert) m.eqDeletes ++ taskKeys.filter(_._2 > 0)
            .map { case (n, r) => EqDelete(n, r, newSeq) }
          else m.eqDeletes
        commitHead(dir, branch, latest, "stream-epoch", m.files ++ kept,
          m.epochs + epochTok, eq, prev = Some(m))
        val dropKeys = if (upsert) taskKeys.filter(_._2 == 0).map(_._1)
          else taskKeys.map(_._1)
        empty.map(_.name) ++ dropKeys // zero-row leftovers
      }
    }
    toDelete.foreach(n => deleteDataAndSidecar(new File(dir, "data"), n))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case CatalogCommit(es, k) =>
        (es.map(_.name) ++ k.map(_._1)).foreach(n =>
          deleteDataAndSidecar(new File(dir, "data"), n))
      case _ => ()
    }
}

private case class CatalogStreamingWriterFactory(dirPath: String,
    jobUid: String, schemaJson: String, idsCsv: String, specEnc: String,
    upsertEnc: String = "", specId: Int = 0, bloomEnc: String = "")
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    CatalogWriterFactory(dirPath, s"$jobUid-e$epochId", schemaJson,
      idsCsv, specEnc, upsertEnc, specId, bloomEnc)
      .createWriter(partitionId, taskId)
}

private[graft] case class CatalogCommit(entries: Seq[GraftTableCatalog.Entry],
    eqKeys: Option[(String, Long)] = None)
  extends WriterCommitMessage

/** The batch commit protocol on the versioned chain: per-task files
  * named by (jobUid, partition, task) so attempts and applications never
  * collide; nothing visible until the driver publishes manifest N+1. An
  * overwrite REFERENCES only the new files — it deletes nothing, so
  * `VERSION AS OF` keeps working behind it. */
private class CatalogBatchWrite(dir: File, schema: StructType,
    truncate: Boolean, branch: Option[String] = None) extends BatchWrite {
  import GraftTableCatalog._
  private val jobUid = java.util.UUID.randomUUID().toString.take(8)
  private val expectedLatest = headVersion(dir, branch)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    new File(dir, "data").mkdirs()
    val mp = readMapping(dir, schema)
    val specs = readSpecs(dir) // ONE read: layout + id stay consistent
    val spec = specs.last
    CatalogWriterFactory(dir.getPath, jobUid, schema.json,
      mp.ids.mkString(","),
      spec.map(p => s"${p.kind}:${p.arg}:${mp.ids.indexOf(p.id)}")
        .mkString(";"),
      upsertEncOf(dir, schema), specs.length - 1, bloomEncOf(dir, schema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val raw = messages.toSeq.flatMap {
      case CatalogCommit(es, _) => es
      case _ => Seq.empty
    }
    val taskKeys = messages.toSeq.flatMap {
      case CatalogCommit(_, k) => k
      case _ => None
    }
    if (taskKeys.nonEmpty) requireDisjointKeys(dir, taskKeys,
      cleanup = raw.map(_.name) ++ taskKeys.map(_._1))
    // OPTIMISTIC COMMIT: every attempt re-derives base/seq/eq from the
    // `expected` it is handed, so a lost race rebases onto the advanced
    // head and BOTH writers land (appends and upserts always rebase —
    // the commit order defines upsert LWW sequencing). INSERT OVERWRITE
    // never rebases: replaying a truncate over a concurrent commit
    // would silently discard what that writer just published.
    val dropped = retryingCommit(dir, branch, expectedLatest) { expected =>
      if (truncate && expected != expectedLatest)
        throw new IllegalStateException(
          s"INSERT OVERWRITE of $dir raced a concurrent commit " +
            s"(v$expectedLatest -> v$expected): an overwrite rebase would " +
            "drop the other writer's rows — re-run the overwrite")
      val newSeq = expected + 1
      val all = raw.map(_.copy(seq = newSeq))
      val added = all.filter(_.rows > 0) // empty task files add only noise
      // Epoch markers carry through EVERY commit — truncate replaces the
      // file list, never the stream's progress record.
      val m = manifestAt(dir, branch, expected)
      val (base, epochs, oldEq) =
        (if (truncate) Seq.empty[Entry] else m.files, m.epochs,
          if (truncate) Seq.empty[EqDelete] else m.eqDeletes)
      // UPSERT: the write's key files supersede same-key rows in every
      // OLDER file (seq-tagged equality deletes); with no older data the
      // key files are dead weight and drop immediately
      val upsert = taskKeys.nonEmpty && !truncate
      val (eq, dropKeys) =
        if (upsert && base.nonEmpty)
          (oldEq ++ taskKeys.filter(_._2 > 0)
            .map { case (n, r) => EqDelete(n, r, newSeq) },
            taskKeys.filter(_._2 == 0).map(_._1))
        else (oldEq, taskKeys.map(_._1))
      commitHead(dir, branch, expected,
        if (truncate) "overwrite"
        else if (upsert && base.nonEmpty) "upsert"
        else "append",
        base ++ added, epochs, eq, prev = Some(m))
      all.filter(_.rows == 0).map(_.name) ++ dropKeys
    }
    dropped.foreach(n => deleteDataAndSidecar(new File(dir, "data"), n))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case CatalogCommit(es, k) =>
        (es.map(_.name) ++ k.map(_._1)).foreach(n =>
          deleteDataAndSidecar(new File(dir, "data"), n))
      case _ => ()
    }
}

/** Task-side writer. On a PARTITIONED table every task routes rows to
  * one open file per partition tuple it sees (the Iceberg fanout
  * writer), computing transform values inline — identity / bucket(n) /
  * days — so partition layout is HIDDEN from writers: they insert rows,
  * the table places them. Per-file stats key by FIELD ID and track null
  * presence (the metadata DELETE's proof obligations). */
private case class CatalogWriterFactory(dirPath: String, jobUid: String,
    schemaJson: String, idsCsv: String, specEnc: String,
    upsertEnc: String = "", specId: Int = 0, bloomEnc: String = "")
    extends DataWriterFactory {
  import GraftTableCatalog._
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // upsert mode: collect this task's DISTINCT keys for the commit's
      // equality delete file ("<schemaPos>:<L|S>")
      private val upsert: Option[(Int, Boolean)] =
        if (upsertEnc.isEmpty) None
        else {
          val p = upsertEnc.split(":")
          Some((p(0).toInt, p(1) == "S"))
        }
      private val upsertKeys = new java.util.LinkedHashSet[Any]()
      private val schema =
        DataType.fromJson(schemaJson).asInstanceOf[StructType]
      private val types = schema.fields.map(_.dataType)
      private val ids: Array[Int] =
        if (idsCsv.isEmpty) Array.empty else idsCsv.split(",").map(_.toInt)
      private val spec: Array[(String, Int, Int)] =
        if (specEnc.isEmpty) Array.empty
        else specEnc.split(";").map { s =>
          val p = s.split(":"); (p(0), p(1).toInt, p(2).toInt)
        }
      private val stem = s"part-$jobUid-p$partitionId-t$taskId"
      private val dataDir = new File(dirPath, "data")

      // schema positions carrying a per-file bloom sidecar
      private val bloomPos: Array[Int] =
        if (bloomEnc.isEmpty) Array.empty
        else bloomEnc.split(",").map(_.toInt)
      private def newSink(tuple: Seq[String], suffix: String) =
        new CatalogFileWriter(dataDir, s"$stem$suffix", tuple, types, ids,
          bloomPos)

      private val sinks =
        collection.mutable.LinkedHashMap[Seq[String], CatalogFileWriter]()
      private var nextSuffix = 0

      // unpartitioned writes skip the per-row tuple + map lookup; for
      // partitioned writes the last sink is cached (clustered input —
      // the hash-distribution write path — then hits the map ~once per
      // partition change, not once per row)
      private var soleSink: CatalogFileWriter = null
      private var lastTuple: Seq[String] = null
      private var lastSink: CatalogFileWriter = null
      private def sinkFor(row: InternalRow): CatalogFileWriter =
        if (spec.isEmpty) {
          if (soleSink == null) {
            soleSink = newSink(Seq.empty, "")
            sinks.put(Seq.empty, soleSink)
          }
          soleSink
        } else {
          val tuple: Seq[String] = spec.toSeq.map { case (kind, arg, pos) =>
            val v: Any = if (row.isNullAt(pos)) null
              else types(pos) match {
                case LongType => row.getLong(pos)
                case StringType => row.getUTF8String(pos)
                case t => sys.error(s"unpartitionable type $t")
              }
            encodePartValue(kind, arg, v)
          }
          if (tuple == lastTuple) lastSink
          else {
            val sk = sinks.getOrElseUpdate(tuple, {
              val s = newSink(tuple, s"-k$nextSuffix")
              nextSuffix += 1
              s
            })
            lastTuple = tuple; lastSink = sk
            sk
          }
        }

      override def write(row: InternalRow): Unit = {
        upsert.foreach { case (pos, isStr) =>
          require(!row.isNullAt(pos),
            "upsert key must be non-null (the CDC contract)")
          val key: Any =
            if (isStr) row.getUTF8String(pos).toString
            else (row.getLong(pos): java.lang.Long)
          // the CDC contract: ONE row per key per batch — a duplicate
          // would land two "live" rows (equality deletes only reach
          // OLDER files), so it fails the write, not the reader
          require(upsertKeys.add(key),
            s"duplicate upsert key $key within one batch")
        }
        sinkFor(row).writeRow(row)
      }
      override def commit(): WriterCommitMessage = {
        val entries = sinks.values.toSeq.map(_.finish(0L, specId))
        val eqKeys = upsert.filter(_ => !upsertKeys.isEmpty)
          .map { case (_, isStr) =>
            import scala.jdk.CollectionConverters._
            val name = s"eq-$stem.keys"
            // SORTED run (EqKeys layout): readers binary-search it
            // memory-mapped instead of materializing a heap set
            val n = EqKeys.write(new File(dataDir, name),
              upsertKeys.asScala, isStr)
            (name, n)
          }
        CatalogCommit(entries, eqKeys)
      }
      override def abort(): Unit = {
        sinks.values.foreach { sk =>
          sk.closeOut()
          deleteDataAndSidecar(dataDir, sk.name)
        }
        ()
      }
      override def close(): Unit = sinks.values.foreach(_.closeOut())
    }
}

/** The one data-file encoder, used by the task writers
  * ([[CatalogWriterFactory]]) and the driver-side rewrites
  * ([[GraftTableCatalog.writeLocalFile]]) alike. Each row is a null
  * bitmap long, then every non-null value: LONG and DOUBLE as 8
  * big-endian bytes, STRING as an int length and its UTF-8 bytes;
  * [[CatalogColumnarReader]] is the one decoder. Rows encode straight
  * from `InternalRow` accessors into a growable byte scratch (flushed in
  * 64 KiB chunks), with per-column stats in PRIMITIVE arrays — no boxed
  * values, no DataOutputStream, no per-row string-keyed map updates. */
private[sources] final class CatalogFileWriter(dataDir: File, stem: String,
    tuple: Seq[String], types: Array[DataType], ids: Array[Int],
    bloomPos: Array[Int]) {
  import GraftTableCatalog._
  val name = s"$stem.bin"
  private val file = new File(dataDir, name)
  // 0=LONG 1=DOUBLE 2=STRING — an int switch beats a DataType match
  // in the per-value hot loop
  private val tcodes: Array[Int] = types.map {
    case LongType => 0
    case DoubleType => 1
    case StringType => 2
    case t => sys.error(s"unsupported $t")
  }
  private val ch = new FileOutputStream(file)
  private var buf = new Array[Byte](1 << 16)
  private var pos = 0
  private var closed = false
  private var rows = 0L
  private val hasNull = new Array[Boolean](types.length)
  private val hasVal = new Array[Boolean](types.length)
  private val lo = new Array[Long](types.length)
  private val hi = new Array[Long](types.length)
  // exact per-column sums over non-null LONG values; a column that
  // overflows Long drops out (SUM pushdown then declines)
  private val sum = new Array[Long](types.length)
  private val sumBad = new Array[Boolean](types.length)
  private val blooms: Array[Array[Long]] =
    Array.fill(bloomPos.length)(new Array[Long](BloomWords))
  // per-column distinct sketches (LONG + STRING), 2 KiB each —
  // one mix + one OR per non-null value on the hot path
  private val ndvs: Array[NdvSketch] = Array.tabulate(types.length)(i =>
    if (tcodes(i) == 0 || tcodes(i) == 2) new NdvSketch else null)
  // the string hash computed while the bytes sit in the scratch —
  // the bloom loop reuses it instead of re-materializing the
  // UTF8String's bytes (allocation-free hot path)
  private val strHash = new Array[Long](types.length)

  private def flushBuf(): Unit =
    if (pos > 0) { ch.write(buf, 0, pos); pos = 0 }
  private def ensure(n: Int): Unit =
    if (pos + n > buf.length) {
      flushBuf()
      if (n > buf.length)
        buf = new Array[Byte](Integer.highestOneBit(n) << 1)
    }
  private def putLong(v: Long): Unit = {
    ensure(8); val p = pos
    buf(p) = (v >>> 56).toByte; buf(p + 1) = (v >>> 48).toByte
    buf(p + 2) = (v >>> 40).toByte; buf(p + 3) = (v >>> 32).toByte
    buf(p + 4) = (v >>> 24).toByte; buf(p + 5) = (v >>> 16).toByte
    buf(p + 6) = (v >>> 8).toByte; buf(p + 7) = v.toByte
    pos = p + 8
  }

  def writeRow(row: InternalRow): Unit = {
    val n = tcodes.length
    var bits = 0L
    var i = 0
    while (i < n) {
      if (row.isNullAt(i)) { bits |= (1L << i); hasNull(i) = true }
      i += 1
    }
    putLong(bits)
    i = 0
    while (i < n) {
      if ((bits & (1L << i)) == 0) (tcodes(i): @annotation.switch) match {
        case 0 =>
          val v = row.getLong(i)
          putLong(v)
          if (hasVal(i)) {
            if (v < lo(i)) lo(i) = v
            if (v > hi(i)) hi(i) = v
          } else { hasVal(i) = true; lo(i) = v; hi(i) = v }
          if (!sumBad(i)) {
            val s0 = sum(i); val s1 = s0 + v
            if (((s0 ^ s1) & (v ^ s1)) < 0) sumBad(i) = true
            else sum(i) = s1
          }
          ndvs(i).add(bloomMixLong(v))
        case 1 => // doubleToLongBits (not Raw): canonical NaN, the
          // exact bytes DataOutputStream.writeDouble produced
          putLong(java.lang.Double.doubleToLongBits(row.getDouble(i)))
        case 2 =>
          // a UTF8String's bytes ARE the encoding — copied once,
          // straight into the scratch, no String/byte[] detour
          val u = row.getUTF8String(i)
          val len = u.numBytes()
          ensure(4 + len)
          val p = pos
          buf(p) = (len >>> 24).toByte; buf(p + 1) = (len >>> 16).toByte
          buf(p + 2) = (len >>> 8).toByte; buf(p + 3) = len.toByte
          u.writeToMemory(buf,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + p + 4)
          pos = p + 4 + len
          val h = bloomMixBytes(buf, len, p + 4)
          ndvs(i).add(h)
          strHash(i) = h
      }
      i += 1
    }
    var bi = 0
    while (bi < bloomPos.length) {
      val p = bloomPos(bi)
      if ((bits & (1L << p)) == 0) {
        val h = if (tcodes(p) == 0) bloomMixLong(row.getLong(p))
          else strHash(p)
        bloomSet(blooms(bi), h)
      }
      bi += 1
    }
    rows += 1
  }

  private def statsMap: Map[String, (Long, Long)] =
    types.indices.collect {
      case i if tcodes(i) == 0 && hasVal(i) =>
        s"#${ids(i)}" -> (lo(i), hi(i))
    }.toMap
  private def sumsMap: Map[String, Long] =
    types.indices.collect {
      case i if tcodes(i) == 0 && hasVal(i) && !sumBad(i) =>
        s"#${ids(i)}" -> sum(i)
    }.toMap
  private def ndvMap: Map[String, Long] =
    types.indices.collect {
      case i if ndvs(i) != null && rows > 0 =>
        s"#${ids(i)}" -> ndvs(i).estimate(rows)
    }.toMap
  def closeOut(): Unit =
    if (!closed) { closed = true; flushBuf(); ch.close() }

  /** Close the file, write its bloom sidecar, and describe it as a
    * manifest entry: stats key by field id, and null presence is kept so
    * pruning and metadata DELETE keep their proofs. */
  def finish(seq: Long, specId: Int): Entry = {
    closeOut()
    val nullFree = types.indices.collect {
      case i if !hasNull(i) => s"#${ids(i)}"
    }.toSet
    if (bloomPos.nonEmpty && rows > 0)
      writeBloomSidecar(new File(dataDir, name + ".bloom"),
        bloomPos.toSeq.zipWithIndex.map { case (p, bi) =>
          (ids(p), bloomSized(blooms(bi), rows))
        })
    Entry(name, rows, file.length(), types.length, statsMap,
      Some(nullFree), ids.toSeq, types.map(Codec.typeCode).mkString,
      tuple, Seq.empty, seq, specId, sumsMap,
      if (rows > 0) bloomPos.toSeq.map(ids(_)) else Seq.empty, ndvMap)
  }
}

/** The group-based row-level operation (UPDATE / MERGE / DELETE
  * fallback). One instance spans the statement: its SCAN records which
  * files it finally planned (post runtime group filter), its WRITE's
  * commit replaces exactly those files — the scan→write handshake that
  * makes copy-on-write surgical instead of table-wide. */
private class CatalogRowLevelOperation(dir: File, tableSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import GraftTableCatalog._

  /** Files the COW scan planned for the CURRENT execution — what the
    * write will replace. Volatile: planning and commit are different
    * threads; single-statement scope, so last-plan-wins is exact. */
  @volatile private[sources] var plannedFiles: Set[String] = Set.empty

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  /** `_file` must ride the scan so Spark can group and runtime-filter
    * rows by the file they live in. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CatalogScanBuilder(dir, tableSchema, planHead(dir, branch)) {
      override def build(): Scan = super.build() match {
        case base: CatalogScan =>
          new CatalogCowScan(base, CatalogRowLevelOperation.this)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fields.map(f => (f.name, f.dataType)).toSeq ==
      tableSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"row-level write expects ${tableSchema.simpleString}; " +
        s"got ${info.schema().simpleString}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new CatalogReplaceGroupsWrite(dir, tableSchema,
            CatalogRowLevelOperation.this, branch)
      }
    }
  }
}

/** The COW scan: the base catalog scan plus (a) the `_file` runtime
  * group filter and (b) planned-file reporting into the operation.
  * Rows are never dropped below file granularity — whole surviving
  * files flow out (position deletes still anti-merge), and the
  * rewritten plan's per-branch conditions do the row-level work. */
private class CatalogCowScan(base: CatalogScan, op: CatalogRowLevelOperation)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  import GraftTableCatalog._
  @volatile private var keep: Option[Set[String]] = None

  override def readSchema(): StructType = base.readSchema()
  override def toBatch: Batch = this
  override def description(): String = "cow " + base.description()
  override def estimateStatistics(): Statistics = base.estimateStatistics()
  override def supportedCustomMetrics(): Array[CustomMetric] =
    CatalogScanMetrics.supported
  override def createReaderFactory(): PartitionReaderFactory =
    CatalogColumnarReaderFactory

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(FileMetaCol))
  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In(FileMetaCol, vs) =>
      val names = vs.map {
        case s: String => s
        case u: UTF8String => u.toString
        case other => String.valueOf(other)
      }.toSet
      keep = Some(names)
    case _ => () // advisory; an unabsorbed filter just skips narrowing
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = base.planInputPartitions()
      .map(_.asInstanceOf[CatalogFilePartition])
      .filter(p => keep.forall(_.contains(p.fileName)))
    // the handshake: exactly these files will be replaced at commit
    op.plannedFiles = parts.map(_.fileName).toSet
    parts.toArray[InputPartition]
  }
}

/** ReplaceData's batch write: standard task files + a commit that swaps
  * the operation's planned files for the rewritten ones, as one new
  * version. Files outside the planned set keep their manifest entries
  * untouched — the proof the rewrite was group-local. A replaced file's
  * position-delete files drop with it (the rewrite materialized the
  * live rows). */
private class CatalogReplaceGroupsWrite(dir: File, schema: StructType,
    op: CatalogRowLevelOperation, branch: Option[String] = None)
    extends BatchWrite {
  import GraftTableCatalog._
  private val jobUid = java.util.UUID.randomUUID().toString.take(8)
  private val expectedLatest = headVersion(dir, branch)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    new File(dir, "data").mkdirs()
    val mp = readMapping(dir, schema)
    val specs = readSpecs(dir) // ONE read: layout + id stay consistent
    val spec = specs.last
    CatalogWriterFactory(dir.getPath, jobUid, schema.json,
      mp.ids.mkString(","),
      spec.map(p => s"${p.kind}:${p.arg}:${mp.ids.indexOf(p.id)}")
        .mkString(";"),
      upsertEncOf(dir, schema), specs.length - 1, bloomEncOf(dir, schema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val raw = messages.toSeq.flatMap {
      case CatalogCommit(es, _) => es
      case _ => Seq.empty
    }
    // the COW rewrite materialized its groups' live rows, so the
    // per-row machinery (not the key files) carries upsert semantics
    // here; a group write never adds equality deletes
    val dropKeys = messages.toSeq.flatMap {
      case CatalogCommit(_, k) => k.map(_._1)
      case _ => None
    }
    val baseM = manifestAt(dir, branch, expectedLatest)
    val replaced = op.plannedFiles
    // OCC for a group rewrite: rebase is sound ONLY over pure appends
    // (every scanned file byte-identical, no new eq deletes) — the
    // planned-file swap then still replaces exactly what was read;
    // anything else fails loudly (Iceberg's conflicting-files check)
    val dropped = retryingCommit(dir, branch, expectedLatest) { expected =>
      val m = manifestAt(dir, branch, expected)
      if (expected != expectedLatest && !pureAppendsSince(baseM, m))
        throw new IllegalStateException(
          s"row-level ${op.command()} on $dir raced a CONFLICTING commit " +
            s"(v$expectedLatest -> v$expected is not append-only): " +
            "re-run the statement against the new version")
      val newSeq = expected + 1
      val all = raw.map(_.copy(seq = newSeq))
      val added = all.filter(_.rows > 0)
      commitHead(dir, branch, expected,
        op.command().name().toLowerCase(java.util.Locale.ROOT),
        m.files.filterNot(e => replaced.contains(e.name)) ++ added,
        m.epochs, m.eqDeletes, prev = Some(m))
      all.filter(_.rows == 0).map(_.name)
    }
    (dropped ++ dropKeys).foreach(n =>
      deleteDataAndSidecar(new File(dir, "data"), n))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case CatalogCommit(es, k) =>
        (es.map(_.name) ++ k.map(_._1)).foreach(n =>
          deleteDataAndSidecar(new File(dir, "data"), n))
      case _ => ()
    }
}

/** The DELTA-BASED row-level operation (`update.mode`='merge-on-read',
  * [[SupportsDelta]]): Spark's rewrite plans address matched rows by
  * ROW ID — the (_file, _pos) pair the scan stamps — and hand the write
  * per-row delete/insert calls, so a 10-row UPDATE commits a few
  * position-delete entries plus one small insert file with ZERO data
  * files rewritten (the Iceberg v2 merge-on-read WRITE path; the
  * group-based copy-on-write operation remains the default). Updates
  * are represented as delete+insert pairs, which is also exactly what
  * the change feed derives from the resulting manifest diff. */
private class CatalogDeltaOperation(dir: File, tableSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with SupportsDelta {
  import GraftTableCatalog._

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(FileMetaCol), Expressions.column(PosMetaCol))
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  /** A PLAIN catalog scan: the delta plan pushes the condition itself
    * (file skipping applies), reads only candidate rows, and addresses
    * them by row id — no whole-group reads, no `_file IN` handshake. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CatalogScanBuilder(dir, tableSchema, planHead(dir, branch))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new CatalogDeltaBatchWrite(dir, tableSchema, cmd, branch)
      }
    }
}

/** One delta task's outcome: new data files (inserts) plus, per source
  * file, the raw positions this task deleted. */
private[graft] case class CatalogDeltaCommit(
    entries: Seq[GraftTableCatalog.Entry],
    deletes: Map[String, Array[Long]]) extends WriterCommitMessage

private class CatalogDeltaBatchWrite(dir: File, schema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    branch: Option[String] = None)
    extends DeltaBatchWrite {
  import GraftTableCatalog._
  private val jobUid = java.util.UUID.randomUUID().toString.take(8)
  private val expectedLatest = headVersion(dir, branch)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    new File(dir, "data").mkdirs()
    val mp = readMapping(dir, schema)
    val specs = readSpecs(dir) // ONE read: layout + id stay consistent
    val spec = specs.last
    CatalogDeltaWriterFactory(dir.getPath, jobUid, schema.json,
      mp.ids.mkString(","),
      spec.map(p => s"${p.kind}:${p.arg}:${mp.ids.indexOf(p.id)}")
        .mkString(";"), specs.length - 1, bloomEncOf(dir, schema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.toSeq.collect { case d: CatalogDeltaCommit => d }
    // merge per-file delete positions across tasks (each row matched
    // once, so the arrays are disjoint; writeDeleteFile sorts). The
    // delete FILES are written once, outside the OCC loop — their
    // content is independent of the rebase base, and re-writing them
    // per attempt would strand the earlier attempts' files
    val deleted: Map[String, DeleteFile] = parts.flatMap(_.deletes.toSeq)
      .groupBy(_._1).collect { case (f, ps) if ps.exists(_._2.nonEmpty) =>
        f -> writeDeleteFile(dir, ps.flatMap(_._2))
      }
    val baseM = manifestAt(dir, branch, expectedLatest)
    // OCC for a MOR delta: same soundness rule as the group rewrite —
    // position deletes were computed against the scanned files, so
    // rebase only over pure appends; conflicts fail loudly
    val dropped = retryingCommit(dir, branch, expectedLatest) { expected =>
      val m = manifestAt(dir, branch, expected)
      if (expected != expectedLatest && !pureAppendsSince(baseM, m))
        throw new IllegalStateException(
          s"row-level $cmd on $dir raced a CONFLICTING commit " +
            s"(v$expectedLatest -> v$expected is not append-only): " +
            "re-run the statement against the new version")
      val newSeq = expected + 1
      val added = parts.flatMap(_.entries).map(_.copy(seq = newSeq))
        .filter(_.rows > 0)
      val files = m.files.map { e =>
        deleted.get(e.name) match {
          case Some(df) => e.copy(deletes = e.deletes :+ df)
          case _ => e // untouched entries stay byte-identical
        }
      } ++ added
      commitHead(dir, branch, expected,
        cmd.name().toLowerCase(java.util.Locale.ROOT),
        files, m.epochs, m.eqDeletes, prev = Some(m))
      parts.flatMap(_.entries).filter(_.rows == 0).map(_.name)
    }
    dropped.foreach(n => deleteDataAndSidecar(new File(dir, "data"), n))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case d: CatalogDeltaCommit => d.entries.foreach(e =>
        deleteDataAndSidecar(new File(dir, "data"), e.name))
      case _ => ()
    }
}

/** Task-side delta writer: inserts route through the standard
  * (partition-aware) writer; deletes accumulate (file, position) pairs.
  * With updates represented as delete+insert, `update` never fires —
  * implemented anyway for API completeness. */
private case class CatalogDeltaWriterFactory(dirPath: String,
    jobUid: String, schemaJson: String, idsCsv: String, specEnc: String,
    specId: Int = 0, bloomEnc: String = "")
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val inner = CatalogWriterFactory(dirPath, jobUid,
        schemaJson, idsCsv, specEnc,
        specId = specId, bloomEnc = bloomEnc)
        .createWriter(partitionId, taskId)
      private val dels =
        collection.mutable.HashMap[String, collection.mutable.ArrayBuffer[Long]]()
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        dels.getOrElseUpdate(id.getUTF8String(0).toString,
          collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(1)
      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = { delete(meta, id); insert(row) }
      override def insert(row: InternalRow): Unit = inner.write(row)
      override def commit(): WriterCommitMessage = {
        val entries = inner.commit() match {
          case CatalogCommit(es, _) => es
          case other => sys.error(s"unexpected inner commit $other")
        }
        CatalogDeltaCommit(entries,
          dels.map { case (f, ps) => f -> ps.toArray }.toMap)
      }
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
}

/** `graft_cat.db.<t>.snapshots` — one row per committed version, straight
  * from the manifest chain (metadata-sized: the scan never touches data
  * files). The Iceberg metadata-table surface in miniature. Row counts
  * are LIVE rows (position deletes subtracted); on an upsert table with
  * OUTSTANDING equality deletes they are an upper bound (key files
  * resolve per-row at read — compaction restores exactness). */
private class SnapshotsTable(dir: File, table: String) extends Table
    with SupportsRead {
  import GraftTableCatalog._
  override def name(): String = s"$table.snapshots"
  override def schema(): StructType = SnapshotsTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = SnapshotsTable.schema
      override def toBatch: Batch = this
      override def description(): String = s"graft_cat snapshots $dir"
      override def planInputPartitions(): Array[InputPartition] = {
        // expired versions (sys.expire_versions) drop out of the history
        val rows = (1L to readLatest(dir))
          .filter(v => new File(dir, s"v$v.manifest").exists())
          .map { v =>
            val m = readManifest(dir, v)
            (v, m.op, m.files.length.toLong, m.files.map(_.liveRows).sum)
          }
        Array(SnapshotRows(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        SnapshotsReaderFactory
    }
}

private object SnapshotsTable {
  val schema: StructType = new StructType()
    .add("version", LongType, nullable = false)
    .add("operation", StringType, nullable = false)
    .add("files", LongType, nullable = false)
    .add("rows", LongType, nullable = false)
}

private case class SnapshotRows(rows: Seq[(Long, String, Long, Long)])
  extends InputPartition

private object SnapshotsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rs = p.asInstanceOf[SnapshotRows].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rs.length }
      override def get(): InternalRow = {
        val (v, op, nf, nr) = rs(i)
        new GenericInternalRow(
          Array[Any](v, UTF8String.fromString(op), nf, nr))
      }
      override def close(): Unit = ()
    }
  }
}

/** `graft_cat.db.<t>.files` — the PER-FILE operational view of the head
  * manifest (the Iceberg files metadata table): one row per live data
  * file with its partition tuple, spec generation, raw/live row counts,
  * position-delete accounting, bloom-indexed columns and rendered
  * per-column min/max — the standard debugging surface ("which file
  * holds the skew", "did the delete land as MOR", "is this file
  * bloom-indexed") served from kilobytes of metadata. */
private class FilesTable(dir: File, table: String) extends Table
    with SupportsRead {
  import GraftTableCatalog._
  override def name(): String = s"$table.files"
  override def schema(): StructType = FilesTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = FilesTable.schema
      override def toBatch: Batch = this
      override def description(): String = s"graft_cat files $dir"
      override def planInputPartitions(): Array[InputPartition] = {
        val m = headManifest(dir, None)
        val rows = m.files.map { e =>
          val part = if (e.partition.isEmpty) "-"
            else e.partition.mkString(";")
          val st = e.stats.toSeq.sortBy(_._1)
            .map { case (c, (lo, hi)) => s"$c:$lo:$hi" }.mkString(";")
          val bl = if (e.bloomCols.isEmpty) "-"
            else e.bloomCols.sorted.mkString(";")
          Seq[Any](e.name, part, e.specId.toLong, e.rows, e.liveRows,
            e.bytes, e.seq, e.deletes.length.toLong,
            e.deletes.map(_.rows).sum, bl, if (st.isEmpty) "-" else st)
        }
        Array(FileRows(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        FilesReaderFactory
    }
}

private object FilesTable {
  val schema: StructType = new StructType()
    .add("file", StringType, nullable = false)
    .add("partition", StringType, nullable = false)
    .add("spec_id", LongType, nullable = false)
    .add("rows", LongType, nullable = false)
    .add("live_rows", LongType, nullable = false)
    .add("bytes", LongType, nullable = false)
    .add("seq", LongType, nullable = false)
    .add("delete_files", LongType, nullable = false)
    .add("deleted_rows", LongType, nullable = false)
    .add("bloom_columns", StringType, nullable = false)
    .add("stats", StringType, nullable = false)
}

/** `graft_cat.db.<t>.manifests` — the MANIFEST-LIST view of the head
  * version (Iceberg's manifests metadata table): one row per segment
  * reference with its entry/row/byte totals, the partition-range
  * summary planning prunes on, and whether the segment was REUSED from
  * the prior version (the incremental-commit story made visible: a
  * healthy append chain shows every prior segment reused and one new
  * one). Pre-segment legacy manifests surface their inline entries as
  * one `-` row. Served from list-level metadata alone — no segment
  * file is opened. */
private class ManifestsTable(dir: File, table: String) extends Table
    with SupportsRead {
  import GraftTableCatalog._
  override def name(): String = s"$table.manifests"
  override def schema(): StructType = ManifestsTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = ManifestsTable.schema
      override def toBatch: Batch = this
      override def description(): String = s"graft_cat manifests $dir"
      override def planInputPartitions(): Array[InputPartition] = {
        val v = readLatest(dir)
        if (v == 0) return Array(FileRows(Seq.empty))
        val (_, _, inline, refs, _, _) =
          parseManifestList(new File(dir, s"v$v.manifest"))
        val prior: Set[String] =
          if (v <= 1) Set.empty
          else parseManifestList(
            new File(dir, s"v${v - 1}.manifest"))._4
            .map(_.name).toSet
        val segRows = refs.map { r =>
          Seq[Any](r.name, r.count, r.rows, r.bytes, r.summary,
            prior.contains(r.name))
        }
        val legacy =
          if (inline.isEmpty) Seq.empty
          else Seq(Seq[Any]("-", inline.length.toLong,
            inline.map(_.rows).sum, inline.map(_.bytes).sum, "-", false))
        Array(FileRows(segRows ++ legacy))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        FilesReaderFactory
    }
}

private object ManifestsTable {
  val schema: StructType = new StructType()
    .add("segment", StringType, nullable = false)
    .add("entries", LongType, nullable = false)
    .add("rows", LongType, nullable = false)
    .add("bytes", LongType, nullable = false)
    .add("partition_summary", StringType, nullable = false)
    .add("reused", org.apache.spark.sql.types.BooleanType,
      nullable = false)
}

private case class FileRows(rows: Seq[Seq[Any]]) extends InputPartition

private object FilesReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rs = p.asInstanceOf[FileRows].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rs.length }
      override def get(): InternalRow = new GenericInternalRow(
        rs(i).map {
          case st: String => UTF8String.fromString(st): Any
          case x => x
        }.toArray)
      override def close(): Unit = ()
    }
  }
}

/** `graft_cat.db.<t>.partitions` — PARTITION-LEVEL STATISTICS from the
  * manifest chain alone: one row per live partition tuple with file,
  * row and byte totals. At 100 TB this is how an operator answers "is
  * the layout skewed, which partition is hot" from kilobytes — the
  * Iceberg partitions metadata table. Unpartitioned tables report one
  * all-table row with an empty key. */
private class PartitionsTable(dir: File, table: String) extends Table
    with SupportsRead {
  import GraftTableCatalog._
  override def name(): String = s"$table.partitions"
  override def schema(): StructType = PartitionsTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = PartitionsTable.schema
      override def toBatch: Batch = this
      override def description(): String = s"graft_cat partitions $dir"
      override def planInputPartitions(): Array[InputPartition] = {
        val s = GraftTableCatalog.readSchema(dir)
        val mp = readMapping(dir, s)
        val specs = readSpecs(dir)
        val v = readLatest(dir)
        val files = if (v == 0) Seq.empty else readManifest(dir, v).files
        // labels resolve under each file's OWN spec generation — after a
        // SET PARTITION SPEC, old and new layouts report side by side
        def label(specId: Int, tuple: Seq[String]): String = {
          val spec = if (specId >= 0 && specId < specs.length) specs(specId)
            else Seq.empty
          if (spec.isEmpty || tuple.length != spec.length) ""
          else spec.zip(tuple).map { case (pt, pv) =>
            val i = mp.ids.indexOf(pt.id)
            val c = if (i >= 0) s.fields(i).name else s"#${pt.id}"
            val key = pt.kind match {
              case "identity" => c
              case "bucket" => s"${c}_bucket"
              case "days" => s"${c}_day"
              case other => other
            }
            val value = pv match {
              case "n" => "null"
              case x if x.startsWith("s") => URLDecoder.decode(x.tail, "UTF-8")
              case x => x.tail
            }
            s"$key=$value"
          }.mkString("/")
        }
        val rows = files.groupBy(e => (e.specId, e.partition)).toSeq
          .map { case ((sid, tuple), es) =>
            (label(sid, tuple), es.length.toLong, es.map(_.liveRows).sum,
              es.map(_.bytes).sum)
          }.sortBy(_._1)
        Array(PartitionRows(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        PartitionsReaderFactory
    }
}

private object PartitionsTable {
  val schema: StructType = new StructType()
    .add("partition", StringType, nullable = false)
    .add("files", LongType, nullable = false)
    .add("rows", LongType, nullable = false)
    .add("bytes", LongType, nullable = false)
}

private case class PartitionRows(rows: Seq[(String, Long, Long, Long)])
  extends InputPartition

private object PartitionsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rs = p.asInstanceOf[PartitionRows].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rs.length }
      override def get(): InternalRow = {
        val (part, nf, nr, nb) = rs(i)
        new GenericInternalRow(
          Array[Any](UTF8String.fromString(part), nf, nr, nb))
      }
      override def close(): Unit = ()
    }
  }
}

/** `graft_cat.db.<t>.refs` — the named refs: one row per TAG (pinned
  * version) and per BRANCH (its base/fork version, plus the local head
  * count), from refs.json + branches.json. The `tag` column keeps its
  * name for both kinds (it is the ref NAME); `type` disambiguates. */
private class RefsTable(dir: File, table: String) extends Table
    with SupportsRead {
  import GraftTableCatalog._
  override def name(): String = s"$table.refs"
  override def schema(): StructType = RefsTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with LocalScan {
      override def readSchema(): StructType = RefsTable.schema
      override def description(): String = s"graft_cat refs $dir"
      override def rows(): Array[InternalRow] = {
        val tags = readRefs(dir).toSeq.sortBy(_._1).map { case (tag, v) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(tag), v,
            UTF8String.fromString("tag"), 0L)): InternalRow
        }
        val branches = readBranchRefs(dir).toSeq.sortBy(_._1)
          .map { case (n, r) =>
            new GenericInternalRow(Array[Any](UTF8String.fromString(n),
              r.base, UTF8String.fromString("branch"), r.head)): InternalRow
          }
        (tags ++ branches).toArray
      }
    }
}

private object RefsTable {
  val schema: StructType = new StructType()
    .add("tag", StringType, nullable = false)
    .add("version", LongType, nullable = false)
    .add("type", StringType, nullable = false)
    .add("head", LongType, nullable = false)
}

/** `graft_cat.db.<t>.changes` — the CHANGE DATA FEED (Delta CDF shape):
  * row-level `_change_type` ∈ insert|delete rows with the committing
  * `_version`, DERIVED from the manifest chain — added files emit their
  * live rows as inserts, removed files emit theirs as deletes, and a
  * merge-on-read delete emits exactly its delta positions. UPDATE/MERGE
  * appear as delete+insert pairs (their replaced/added files), compact
  * emits nothing (layout, not change). Folding the feed (inserts minus
  * deletes, as multisets) reproduces the table at any version —
  * CatalogSpec pins it for the batch read and for a streamed fold across
  * restarts. Readable as a batch table
  * or a streaming source (offsets are versions; `startingVersion`
  * skips the backlog). */
private class ChangesTable(dir: File, tableName: String) extends Table
    with SupportsRead {
  import GraftTableCatalog._
  override def name(): String = tableName
  override def schema(): StructType = {
    val base = readSchema(dir)
    base.add(ChangeTypeCol, StringType, nullable = false)
      .add(ChangeVersionCol, LongType, nullable = false)
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val startingVersion =
      Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L)
    () => new ChangesScan(dir, readSchema(dir), schema(), startingVersion)
  }
}

private class ChangesScan(dir: File, base: StructType, out: StructType,
    startingVersion: Long) extends Scan with Batch {
  import GraftTableCatalog._
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ChangesMicroBatchStream(dir, base, startingVersion)
  override def description(): String =
    s"graft_cat changes $dir from=v$startingVersion"
  override def planInputPartitions(): Array[InputPartition] =
    changeSplits(dir, base, startingVersion, readLatest(dir),
      failOnExpiredStart = false)
  override def createReaderFactory(): PartitionReaderFactory =
    CatalogColumnarReaderFactory
}

private class ChangesMicroBatchStream(dir: File, base: StructType,
    startingVersion: Long)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import GraftTableCatalog._
  override def initialOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    VersionOffset(math.max(0L, startingVersion))
  override def latestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    VersionOffset(readLatest(dir))
  override def deserializeOffset(json: String)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    VersionOffset(json.toLong)
  override def commit(
      end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset)
      : Array[InputPartition] =
    changeSplits(dir, base,
      start.asInstanceOf[VersionOffset].v,
      end.asInstanceOf[VersionOffset].v,
      failOnExpiredStart = true)
  override def createReaderFactory(): PartitionReaderFactory =
    CatalogColumnarReaderFactory
}

/** The catalog table as a STREAMING SOURCE — version-offset tailing:
  * offsets are manifest versions, and each micro-batch reads the data
  * files NEWLY REFERENCED by append-family commits (`append`,
  * `stream-epoch`, `overwrite`) in the offset window. Row-level
  * mutations reference rewritten copies of EXISTING rows, so their
  * commits emit nothing here — the APPEND feed; the `.changes` table is
  * the full CDF with change types. A `fast_forward` WAP publish emits
  * its branch's files when the publish was pure-insert, and fails
  * loudly when the branch mutated pre-existing rows (appends cannot
  * represent it). `startingVersion` (default 0 = full
  * history) skips the backlog. Offsets are plain version numbers, so a
  * restart from the checkpoint resumes exactly; expired versions inside
  * a window are skipped (expire_versions bounds history explicitly). */
private class CatalogMicroBatchStream(dir: File, tableSchema: StructType,
    required: StructType, startingVersion: Long)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import GraftTableCatalog._
  private val AppendOps = Set("append", "stream-epoch", "overwrite")

  override def initialOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    VersionOffset(math.max(0L, startingVersion))
  override def latestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    VersionOffset(readLatest(dir))
  override def deserializeOffset(json: String)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    VersionOffset(json.toLong)
  override def commit(
      end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    val mp = readMapping(dir, tableSchema)
    // Walk the window carrying the file set seen SO FAR: "new" means new
    // versus the last retained manifest at or before v, not just v-1 —
    // a mid-window expired manifest must not make old files look new,
    // and non-append commits still advance the baseline so a delete's
    // rewritten copies never surface at the next append.
    def exists(v: Long) = new File(dir, s"v$v.manifest").exists()
    // baseline = the last RETAINED manifest at or before the start
    // offset. If the checkpointed version was expired, the baseline is
    // unrecoverable (append manifests list base ++ added, so an empty
    // baseline would silently re-emit the whole table): fail loudly —
    // expiring versions a live stream's checkpoint still needs is an
    // operator error, same contract as expired VERSION AS OF reads.
    var seen: Map[String, Entry] = (s to 1L by -1).find(exists)
      .map(v => readManifest(dir, v).files.map(e => e.name -> e).toMap)
      .getOrElse {
        if (s >= 1)
          throw new IllegalStateException(
            s"stream offset v$s of $dir was expired by sys.expire_versions" +
              " — restart the stream from scratch or retain more versions")
        Map.empty
      }
    val out = Seq.newBuilder[InputPartition]
    ((s + 1) to e).filter(exists).foreach { v =>
      val m = readManifest(dir, v)
      val cur = m.files.map(e => e.name -> e).toMap
      if (AppendOps.contains(m.op))
        m.files.filterNot(f => seen.contains(f.name)).foreach { f =>
          out += filePartition(dir, tableSchema, mp, required, f)
        }
      else if (m.op == "fast_forward") {
        // a WAP publish that only INSERTED on its branch is an append:
        // every previously-seen file survives byte-identical (same
        // delete set) and the branch's files emit. A publish carrying
        // branch DML (rewrites/position deletes on old files) cannot be
        // represented as appends — fail loudly, the `.changes` feed is
        // the surface that can.
        // identity check on the delete FILE NAMES, not counts: a branch
        // that swapped one position-delete file for another of equal
        // count would pass a length test and silently mis-stream
        val pure = seen.forall { case (n, pe) =>
          cur.get(n).exists(_.deletes.map(_.name) == pe.deletes.map(_.name))
        }
        if (!pure) throw new UnsupportedOperationException(
          s"v$v of $dir is a fast-forward publish that MUTATED " +
            "pre-existing rows — the append feed cannot represent it; " +
            "read the .changes change data feed instead")
        m.files.filterNot(f => seen.contains(f.name)).foreach { f =>
          out += filePartition(dir, tableSchema, mp, required, f)
        }
      }
      seen = cur
    }
    out.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    CatalogColumnarReaderFactory
}

private case class VersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** One-row result set for a maintenance procedure (`CALL` surfaces the
  * row to SQL via [[LocalScan]]). */
private case class ProcResult(resultSchema: StructType,
    values: Array[Any]) extends LocalScan {
  override def readSchema(): StructType = resultSchema
  override def rows(): Array[InternalRow] =
    Array(new GenericInternalRow(values))
  override def description(): String = "graft_cat procedure result"
}

/** `CALL graft_cat.sys.compact(ns, table, target_bytes)` — bin-packs
  * live data files smaller than `target_bytes` into consolidated files
  * and APPLIES outstanding position-delete files (a file carrying
  * deletes always rewrites, whatever its size — compaction is where
  * merge-on-read debt is repaid), committing the new file list as one
  * `compact` version. Packing is PER PARTITION TUPLE: files of
  * different partitions never merge, so pruning survives maintenance.
  * Reads are byte-equivalent before and after (CatalogSpec pins the
  * hash), prior versions keep serving the original files, and
  * at-target delete-free files are left alone. The Iceberg
  * `rewrite_data_files` surface in miniature. */
private class CompactProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "compact"
  override def description(): String =
    "bin-pack data files below target_bytes and apply delete files"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "compact"
      override def isDeterministic: Boolean = false // commits a version
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("target_bytes", LongType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val target = input.getLong(2)
        val schema = readSchema(dir)
        val mp = readMapping(dir, schema)
        val latest = readLatest(dir)
        val m = readManifest(dir, latest)
        // candidates: small files, files carrying merge-on-read delete
        // debt, files older than an outstanding equality delete (upsert
        // debt), and pre-v2 files without field ids (compact is also the
        // format upgrader — RENAME/DROP require ids)
        val maxEqSeq = if (m.eqDeletes.isEmpty) 0L
          else m.eqDeletes.map(_.seq).max
        val eqCtx = upsertCtx(dir, schema, m.eqDeletes)
        val (cand, big) = m.files.partition(e =>
          e.bytes < target || e.deletes.nonEmpty || e.fieldIds.isEmpty ||
            e.seq < maxEqSeq)
        val orderIdx = readProps(dir).get(WriteOrderByProp).toSeq
          .flatMap(_.split(",")).map(_.trim)
          .filter(schema.fieldNames.contains).map(schema.fieldIndex)
        // per-(spec-generation, partition-tuple) deterministic greedy
        // packing over the manifest order — cross-partition (or
        // cross-generation) merges would destroy pruning
        val merged = cand.groupBy(e => (e.specId, e.partition)).toSeq
          .sortBy { case ((sid, t), _) => (sid, t.mkString(";")) }
          .flatMap { case ((specId, tuple), es) =>
            val bins = es.foldLeft(List.empty[List[Entry]]) {
              case (acc, e) => acc match {
                case head :: tail
                  if head.map(_.bytes).sum + e.bytes <= target =>
                  (e :: head) :: tail
                case _ => List(e) :: acc
              }
            }.map(_.reverse).reverse
            bins.map { bin =>
              if (bin.length == 1 && bin.head.deletes.isEmpty &&
                  bin.head.fieldIds.nonEmpty && bin.head.seq >= maxEqSeq)
                bin.head // nothing to gain from a rewrite
              else {
                val rows = bin.flatMap(e =>
                  readAligned(dir, e, schema, mp, eqCtx).map(_._2))
                // a write.order_by table keeps its contract through
                // maintenance: the bin's rows re-sort before writing
                val sorted = if (orderIdx.isEmpty) rows
                  else rows.sortBy(r => orderIdx.map(i => r(i) match {
                    case l: Long => l
                    case _ => Long.MinValue // nulls first (LONG-only)
                  }).toIndexedSeq)(
                    scala.math.Ordering.Implicits
                      .seqOrdering[IndexedSeq, Long])
                writeLocalFile(dir, "cp", schema, mp, tuple, sorted,
                  seq = latest + 1, specId = specId)
              }
            }
          }
        // every candidate rewrite materialized the outstanding equality
        // deletes and non-candidates are at least as new — the key files
        // drop from the manifest (expire reclaims the bytes later)
        commitVersion(dir, latest, "compact", big ++ merged, m.epochs,
          prev = Some(m))
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(CompactProcedure.resultSchema,
            Array[Any](m.files.length.toLong,
              (big ++ merged).length.toLong,
              m.files.map(_.liveRows).sum))).iterator()
      }
    }
}

private object CompactProcedure {
  val resultSchema: StructType = new StructType()
    .add("files_before", LongType, nullable = false)
    .add("files_after", LongType, nullable = false)
    .add("rows", LongType, nullable = false)
}

/** `CALL graft_cat.sys.expire_versions(ns, table, keep_last)` — the
  * explicit garbage collection that bounds time travel: manifests older
  * than the retained window are removed, and data/delete files
  * referenced by NO retained manifest are deleted. Until this is
  * called, commits never delete anything — the procedure is where the
  * "every version stays readable" contract is deliberately and visibly
  * traded for space (Iceberg's `expire_snapshots`). Expired
  * `VERSION AS OF` reads fail with a clear error; the snapshots table
  * drops the expired rows. */
private class ExpireProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "expire_versions"
  override def description(): String =
    "drop manifests beyond keep_last and delete unreferenced data files"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "expire_versions"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("keep_last", LongType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val keep = input.getLong(2)
        require(keep >= 1, s"keep_last must be >= 1; got $keep")
        val latest = readLatest(dir)
        val minKeep = math.max(1L, latest - keep + 1)
        // TAGGED versions are pinned, and so is every live branch's BASE
        // (a branch with no local commits reads its base manifest):
        // expiry never drops them — release the ref first
        val branchRefs = readBranchRefs(dir)
        val pinnedVs = readRefs(dir).values.toSet ++
          branchRefs.values.map(_.base).filter(_ > 0)
        val expired = (1L until minKeep).filterNot(pinnedVs)
          .filter(v => new File(dir, s"v$v.manifest").exists())
        def refsOf(e: Entry): Seq[String] = e.name +: e.deletes.map(_.name)
        def allRefs(m: Manifest): Seq[String] =
          m.files.flatMap(refsOf) ++ m.eqDeletes.map(_.name)
        // branch manifests pin THEIR file references too: an unpublished
        // branch commit's files must survive main-history GC
        val branchFileRefs = branchRefs.toSeq.flatMap { case (n, r) =>
          (1L to r.head).map(k => branchManifestFile(dir, n, k))
            .filter(_.exists())
            .flatMap(f => allRefs(parseManifest(f, 0)))
        }.toSet
        val retainedRefs = ((minKeep to latest) ++ pinnedVs).distinct
          .filter(v => new File(dir, s"v$v.manifest").exists())
          .flatMap(v => allRefs(readManifest(dir, v))).toSet ++
          branchFileRefs
        var filesDeleted = 0L
        expired.foreach { v =>
          allRefs(readManifest(dir, v)).foreach { n =>
            if (!retainedRefs.contains(n)) {
              if (deleteDataAndSidecar(new File(dir, "data"), n))
                filesDeleted += 1
            }
          }
        }
        // manifests go LAST: a crash mid-expire leaves extra data files
        // (harmless garbage), never a manifest pointing at deleted data
        expired.foreach(v => new File(dir, s"v$v.manifest").delete())
        gcSegments(dir) // segment files referenced only by expired lists
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(ExpireProcedure.resultSchema,
            Array[Any](expired.length.toLong, filesDeleted))).iterator()
      }
    }
}

private object ExpireProcedure {
  val resultSchema: StructType = new StructType()
    .add("versions_expired", LongType, nullable = false)
    .add("files_deleted", LongType, nullable = false)
}

/** `CALL graft_cat.sys.tag(ns, table, name, version)` — pin a committed
  * version under a NAME (the Iceberg tag ref): `VERSION AS OF 'name'`
  * reads it, and `sys.expire_versions` retains it until the tag drops.
  * The reproducible-training-run primitive: a run pins `train-2026-08`
  * once and the snapshot outlives any retention policy. */
private class TagProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "tag"
  override def description(): String =
    "pin version under a name; VERSION AS OF name reads it, expiry keeps it"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "tag"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("version", LongType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val tag = input.getUTF8String(2).toString
        val v = input.getLong(3)
        require(tag.matches("[A-Za-z_][A-Za-z0-9_.-]*"),
          s"illegal tag name '$tag' (must not read as a version number)")
        require(v >= 1 && v <= readLatest(dir),
          s"no version $v to tag (1..${readLatest(dir)})")
        require(new File(dir, s"v$v.manifest").exists(),
          s"version $v was already expired")
        val refs = readRefs(dir)
        require(!refs.contains(tag),
          s"tag '$tag' already points at v${refs(tag)}; drop it first")
        writeRefs(dir, refs + (tag -> v))
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(TagProcedure.resultSchema,
            Array[Any](UTF8String.fromString(tag), v))).iterator()
      }
    }
}

private object TagProcedure {
  val resultSchema: StructType = new StructType()
    .add("tag", StringType, nullable = false)
    .add("version", LongType, nullable = false)
}

/** `CALL graft_cat.sys.drop_tag(ns, table, name)` — release the pin;
  * the version becomes expirable again. */
private class DropTagProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "drop_tag"
  override def description(): String = "drop a named snapshot tag"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "drop_tag"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val tag = input.getUTF8String(2).toString
        val refs = readRefs(dir)
        if (refs.contains(tag)) writeRefs(dir, refs - tag)
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(DropTagProcedure.resultSchema,
            Array[Any](refs.contains(tag)))).iterator()
      }
    }
}

private object DropTagProcedure {
  val resultSchema: StructType = new StructType()
    .add("dropped", org.apache.spark.sql.types.BooleanType,
      nullable = false)
}

/** `CALL graft_cat.sys.branch(ns, table, name)` — create a WRITABLE
  * branch at the current main version (the Iceberg branch ref): reads
  * and writes address it as `db.t.branch_<name>`, nothing a branch
  * commit does is visible on main, and `sys.fast_forward` publishes the
  * branch head as ONE main commit — write-audit-publish as a catalog
  * primitive, not a session convention. The fork-point version is
  * pinned against `sys.expire_versions` while the branch lives. */
private class BranchProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "branch"
  override def description(): String =
    "create writable branch at the current version; address as db.t.branch_<name>"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "branch"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val bname = input.getUTF8String(2).toString
        require(bname.matches("[A-Za-z][A-Za-z0-9_]*"),
          s"illegal branch name '$bname'")
        require(!readProps(dir).contains(UpsertKeyProp),
          "upsert-keyed tables do not support branches " +
            "(equality-delete sequencing is defined on the main chain)")
        val base = readLatest(dir)
        mutateBranchRefs(dir) { refs =>
          require(!refs.contains(bname),
            s"branch '$bname' already exists (head ${refs(bname).head})")
          refs + (bname -> BranchRef(base, 0))
        }
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(BranchProcedure.resultSchema,
            Array[Any](UTF8String.fromString(bname), base))).iterator()
      }
    }
}

private object BranchProcedure {
  val resultSchema: StructType = new StructType()
    .add("branch", StringType, nullable = false)
    .add("base_version", LongType, nullable = false)
}

/** `CALL graft_cat.sys.drop_branch(ns, table, name)` — discard the
  * branch: its manifests delete, and data files referenced by NO
  * retained main manifest and no other branch are reclaimed (an
  * abandoned audit leaves no orphans). */
private class DropBranchProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "drop_branch"
  override def description(): String =
    "drop a branch and reclaim its unpublished files"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "drop_branch"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val bname = input.getUTF8String(2).toString
        val refs = readBranchRefs(dir)
        var filesDeleted = 0L
        val dropped = refs.contains(bname)
        if (dropped) {
          val r = refs(bname)
          def allRefs(m: Manifest): Seq[String] =
            m.files.flatMap(e => e.name +: e.deletes.map(_.name)) ++
              m.eqDeletes.map(_.name)
          val manifests = (1L to r.head)
            .map(k => branchManifestFile(dir, bname, k)).filter(_.exists())
          val mine = manifests.flatMap(f => allRefs(parseManifest(f, 0))).toSet
          // retained elsewhere: every existing main manifest + every
          // OTHER branch's manifests
          val retained = ((1L to readLatest(dir))
            .filter(v => new File(dir, s"v$v.manifest").exists())
            .flatMap(v => allRefs(readManifest(dir, v))) ++
            (refs - bname).toSeq.flatMap { case (n, o) =>
              (1L to o.head).map(k => branchManifestFile(dir, n, k))
                .filter(_.exists())
                .flatMap(f => allRefs(parseManifest(f, 0)))
            }).toSet
          (mine -- retained).foreach { n =>
            if (deleteDataAndSidecar(new File(dir, "data"), n))
              filesDeleted += 1
          }
          manifests.foreach(_.delete())
          mutateBranchRefs(dir)(_ - bname)
          gcSegments(dir) // segments referenced only by the dropped chain
        }
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(DropBranchProcedure.resultSchema,
            Array[Any](dropped, filesDeleted))).iterator()
      }
    }
}

private object DropBranchProcedure {
  val resultSchema: StructType = new StructType()
    .add("dropped", org.apache.spark.sql.types.BooleanType,
      nullable = false)
    .add("files_reclaimed", LongType, nullable = false)
}

/** `CALL graft_cat.sys.fast_forward(ns, table, name)` — PUBLISH: the
  * branch head's file set commits as one new MAIN version (op
  * `fast_forward`), so main readers and the change feed see the whole
  * audited batch atomically. Requires main unmoved since the fork (the
  * Iceberg fast-forward ancestor rule) — a diverged main fails loudly
  * rather than silently merging. The branch re-bases onto the published
  * version and stays usable. */
private class FastForwardProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "fast_forward"
  override def description(): String =
    "publish a branch head as the next main version (WAP publish)"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "fast_forward"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val bname = input.getUTF8String(2).toString
        val r = branchRefOf(dir, bname)
        require(r.head > 0,
          s"branch '$bname' has no commits to publish")
        val mainLatest = readLatest(dir)
        require(mainLatest == r.base,
          s"main advanced from v${r.base} to v$mainLatest since branch " +
            s"'$bname' forked — fast-forward requires an unchanged base")
        val bm = parseManifest(branchManifestFile(dir, bname, r.head), r.head)
        val mainEpochs = if (mainLatest == 0) Set.empty[String]
          else readManifest(dir, mainLatest).epochs
        val v = commitVersion(dir, mainLatest, "fast_forward", bm.files,
          mainEpochs ++ bm.epochs, bm.eqDeletes, prev = Some(bm))
        mutateBranchRefs(dir)(_ + (bname -> BranchRef(v, 0)))
        // the branch chain is published (its content IS main v); clear it
        // so the next branch commit starts a fresh local chain at v1
        (1L to r.head).map(k => branchManifestFile(dir, bname, k))
          .foreach(_.delete())
        gcSegments(dir) // intermediate branch commits' folded segments
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(FastForwardProcedure.resultSchema,
            Array[Any](UTF8String.fromString(bname), v))).iterator()
      }
    }
}

private object FastForwardProcedure {
  val resultSchema: StructType = new StructType()
    .add("branch", StringType, nullable = false)
    .add("published_version", LongType, nullable = false)
}

/** `CALL graft_cat.sys.set_partition_spec(ns, table, spec)` — PARTITION
  * SPEC EVOLUTION: append a new spec generation (e.g. `'days(ms)'`,
  * `'bucket(8, k)'`, `'g'` for identity, `''` to unpartition) WITHOUT
  * touching a single data file. Existing files keep their generation's
  * layout and keep pruning under it (per-file spec ids, the Iceberg
  * model); new writes land under the new transforms. The 100 TB reality
  * this serves: a table that partitioned by day at 1 TB re-partitions by
  * hour at 100 TB, and the old years never rewrite. */

/** `CALL graft_cat.sys.rewrite_deletes(ns, table)` — EQUALITY-DELETE RUN
  * MAINTENANCE: outstanding key runs accumulate one per CDC batch, so
  * reader probe cost grows O(runs x log n) and every run file stays
  * pinned until compaction. This k-way-merges ALL outstanding runs into
  * ONE sorted run carrying each key's MAX source seq — probe outcomes
  * are provably identical (a row is suppressed iff max{seq of runs
  * containing its key} > its file's seq), the commit is pure metadata
  * (zero data files touched), and the old run files age out with their
  * manifests via sys.expire_versions. The Iceberg
  * rewrite_position_delete_files analog for the equality-delete side. */
private class RewriteDeletesProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "rewrite_deletes"
  override def description(): String =
    "k-way merge outstanding equality-delete key runs into one sorted run"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "rewrite_deletes"
      override def isDeterministic: Boolean = false // commits a version
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val schema = readSchema(dir)
        val latest = readLatest(dir)
        val m = if (latest == 0) Manifest(0, "none", Seq.empty)
          else readManifest(dir, latest)
        if (m.eqDeletes.length <= 1) {
          // nothing to merge: zero or one run is already minimal
          return java.util.List.of[org.apache.spark.sql.connector.read.Scan](
            ProcResult(RewriteDeletesProcedure.resultSchema,
              Array[Any](m.eqDeletes.length.toLong,
                m.eqDeletes.length.toLong,
                m.eqDeletes.map(_.rows).sum))).iterator()
        }
        val isStr = readProps(dir).get(UpsertKeyProp)
          .filter(schema.fieldNames.contains)
          .exists(k => schema(k).dataType == StringType)
        // k-way merge the sorted runs, keeping each key's MAX seq (the
        // exact equivalent of probing every run: suppression tests
        // max-seq > fileSeq). The merge runs INSIDE the OCC attempt
        // against the run set of the head it will commit over — a
        // concurrent CDC batch that lands mid-merge just means the
        // retry re-merges with the new run included (same seq
        // semantics), instead of failing loudly; and an attempt's
        // merged file is deleted before any rethrow/retry, so a raced
        // call never strands an unreferenced run in data/.
        def mergeRuns(runs: Seq[EqDelete], outName: String): Long = {
          val iters = runs.map(d => EqKeys.iterate(
            new File(new File(dir, "data"), d.name).getPath, isStr, d.seq)
            .buffered)
          def lt(a: Any, b: Any): Boolean = (a, b) match {
            case (x: java.lang.Long, y: java.lang.Long) => x < y
            case (x: String, y: String) =>
              java.util.Arrays.compareUnsigned(
                x.getBytes(StandardCharsets.UTF_8),
                y.getBytes(StandardCharsets.UTF_8)) < 0
            case other => sys.error(s"unorderable keys $other")
          }
          val mergedEntries = new Iterator[(Any, Long)] {
            override def hasNext: Boolean = iters.exists(_.hasNext)
            override def next(): (Any, Long) = {
              var minKey: Any = null
              iters.foreach { it =>
                if (it.hasNext && (minKey == null || lt(it.head._1, minKey)))
                  minKey = it.head._1
              }
              var maxSeq = Long.MinValue
              iters.foreach { it =>
                while (it.hasNext && it.head._1 == minKey) {
                  maxSeq = math.max(maxSeq, it.next()._2)
                }
              }
              (minKey, maxSeq)
            }
          }
          EqKeys.writeMerged(
            new File(new File(dir, "data"), outName), mergedEntries, isStr)
        }
        var runsBefore = m.eqDeletes.length.toLong
        var keys = 0L
        var pending: String = null
        def dropPending(): Unit = if (pending != null) {
          new File(new File(dir, "data"), pending).delete()
          pending = null
        }
        try retryingCommit(dir, None, latest) { expected =>
          val cur = manifestAt(dir, None, expected)
          dropPending() // a lost race invalidates the previous merge
          Option(rewriteDeletesRaceHook.getAndSet(null)).foreach(_.run())
          if (cur.eqDeletes.length <= 1) {
            // a racer already merged (or compaction resolved the runs)
            runsBefore = cur.eqDeletes.length.toLong
            keys = cur.eqDeletes.map(_.rows).sum
          } else {
            runsBefore = cur.eqDeletes.length.toLong
            val name =
              s"eq-merged-${java.util.UUID.randomUUID.toString.take(8)}" +
                EqKeys.MergedSuffix
            pending = name
            keys = mergeRuns(cur.eqDeletes, name)
            val maxSeq = cur.eqDeletes.map(_.seq).max
            commitVersion(dir, expected, "rewrite_deletes", cur.files,
              cur.epochs, Seq(EqDelete(name, keys, maxSeq)),
              prev = Some(cur))
            pending = null // committed: the manifest references it now
          }
        } catch { case t: Throwable => dropPending(); throw t }
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(RewriteDeletesProcedure.resultSchema,
            Array[Any](runsBefore, 1L, keys))).iterator()
      }
    }
}

private object RewriteDeletesProcedure {
  val resultSchema: StructType = new StructType()
    .add("runs_before", LongType, nullable = false)
    .add("runs_after", LongType, nullable = false)
    .add("keys", LongType, nullable = false)
}

/** `CALL graft_cat.sys.remove_orphans(ns, table, older_than_ms)` — the
  * Iceberg `remove_orphan_files` maintenance verb: crashed writers
  * strand data files, bloom sidecars and delete runs by DESIGN (a
  * failed commit leaves garbage, never a dangling reference), and this
  * sweep reclaims them. A file in `data/` is an ORPHAN iff no existing
  * manifest — any main version still on disk, any branch commit —
  * references it (a `.bloom` sidecar is referenced through its base
  * data file). The grace window is the in-flight-writer guard: a file
  * younger than `older_than_ms` may belong to a commit whose manifest
  * is not yet published, so it always survives; size the window above
  * the longest plausible write (Iceberg defaults to 3 days). Also
  * sweeps manifest-list segment files referenced by no list. */
private class RemoveOrphansProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "remove_orphans"
  override def description(): String =
    "delete data/ files no manifest references, older than the grace window"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "remove_orphans"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("older_than_ms", LongType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val grace = input.getLong(2)
        require(grace >= 0, s"older_than_ms must be >= 0; got $grace")
        // EVERY manifest still on disk pins its references — not just
        // retained history: an unpublished branch commit, a tag-pinned
        // version and the head all protect their files identically
        val manifests = Option(dir.listFiles()).map(_.toSeq)
          .getOrElse(Seq.empty)
          .filter(f => f.getName.matches("v\\d+\\.manifest") ||
            (f.getName.startsWith("b-") && f.getName.endsWith(".manifest")))
        val referenced: Set[String] = manifests.flatMap { f =>
          val m = parseManifest(f, 0)
          m.files.flatMap(e => e.name +: e.deletes.map(_.name)) ++
            m.eqDeletes.map(_.name)
        }.toSet
        val now = System.currentTimeMillis
        var removed = 0L
        var bytes = 0L
        Option(new File(dir, "data").listFiles()).map(_.toSeq)
          .getOrElse(Seq.empty).foreach { f =>
            val base =
              if (f.getName.endsWith(".bloom"))
                f.getName.dropRight(".bloom".length)
              else f.getName
            if (!referenced.contains(base) &&
                now - f.lastModified() > grace) {
              val len = f.length()
              if (f.delete()) { removed += 1; bytes += len }
            }
          }
        val segs = gcSegments(dir, grace)
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(RemoveOrphansProcedure.resultSchema,
            Array[Any](removed, bytes, segs))).iterator()
      }
    }
}

private object RemoveOrphansProcedure {
  val resultSchema: StructType = new StructType()
    .add("files_deleted", LongType, nullable = false)
    .add("bytes_reclaimed", LongType, nullable = false)
    .add("segments_deleted", LongType, nullable = false)
}

/** `CALL graft_cat.sys.rewrite_sorted(ns, table, cols, target_bytes)` —
  * MULTI-DIMENSIONAL CLUSTERING maintenance (Iceberg
  * `rewrite_data_files` with a sort/z-order strategy, Delta OPTIMIZE
  * ZORDER BY): rewrites every live file so rows land in sort order —
  * one column sorts plainly; two or more interleave into a Morton
  * z-key, so each output file covers a tight HYPER-RECTANGLE of the
  * value space and a range probe on ANY clustered column prunes to
  * ~n^((k-1)/k) of the files instead of all of them (an append-ordered
  * table prunes on nothing but arrival time). Clustering is per
  * (spec-generation, partition-tuple) — files of different partitions
  * never merge, so partition pruning survives. The rewrite materializes
  * all outstanding position/equality-delete debt (same as `compact`),
  * output files split at `target_bytes`, bloom sidecars rebuild, rows
  * are byte-equivalent before and after, prior versions keep serving
  * the original files, and the change feed skips the commit (no rows
  * changed). LONG columns only — loud error otherwise; nulls cluster
  * first. */
private class RewriteSortedProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "rewrite_sorted"
  override def description(): String =
    "rewrite live files clustered by a sort or z-order over LONG columns"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "rewrite_sorted"
      override def isDeterministic: Boolean = false // commits a version
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("cols", StringType).build(),
        ProcedureParameter.in("target_bytes", LongType).build(),
        ProcedureParameter.in("mode", StringType)
          .defaultValue("'local'").build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val nsStr = input.getUTF8String(0).toString
        val tableStr = input.getUTF8String(1).toString
        val dir = cat.resolveTableDir(nsStr, tableStr)
        val colsArg = input.getUTF8String(2).toString
        val target = input.getLong(3)
        val mode = input.getUTF8String(4).toString
        require(mode == "local" || mode == "distributed",
          s"mode must be 'local' or 'distributed'; got '$mode'")
        require(target >= 1, s"target_bytes must be >= 1; got $target")
        val schema = readSchema(dir)
        val mp = readMapping(dir, schema)
        val cols = colsArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "cols must name at least one column")
        require(cols.distinct.length == cols.length,
          s"duplicate column in '$colsArg'")
        val colIdx = cols.map { c =>
          require(schema.fieldNames.contains(c),
            s"clustering column $c is not in the schema")
          require(schema(c).dataType == LongType,
            s"rewrite_sorted clusters LONG columns; $c is ${schema(c).dataType}")
          schema.fieldIndex(c)
        }.toArray
        val latest = readLatest(dir)
        val m = if (latest == 0) Manifest(0, "none", Seq.empty)
          else readManifest(dir, latest)
        val eqCtx = upsertCtx(dir, schema, m.eqDeletes)
        def longAt(r: Array[Any], i: Int): Long = r(i) match {
          case l: Long => l
          case _ => Long.MinValue // nulls cluster first
        }
        val out: Seq[Entry] = if (mode == "distributed")
          RewriteSortedProcedure.distributed(cat, nsStr, tableStr, dir,
            schema, mp, m, latest, colIdx, target)
        else m.files.groupBy(e => (e.specId, e.partition)).toSeq
          .sortBy { case ((sid, t), _) => (sid, t.mkString(";")) }
          .flatMap { case ((specId, tuple), es) =>
            val rows = es.flatMap(e =>
              readAligned(dir, e, schema, mp, eqCtx).map(_._2))
            if (rows.isEmpty) Seq.empty
            else {
              val sorted =
                if (colIdx.length == 1)
                  rows.sortBy(r => longAt(r, colIdx(0)))
                else {
                  // per-column [lo, hi] over the LIVE rows, then Morton
                  val k = colIdx.length
                  val lo = Array.fill(k)(Long.MaxValue)
                  val hi = Array.fill(k)(Long.MinValue)
                  rows.foreach { r =>
                    var j = 0
                    while (j < k) {
                      r(colIdx(j)) match {
                        case v: Long =>
                          if (v < lo(j)) lo(j) = v
                          if (v > hi(j)) hi(j) = v
                        case _ => () // nulls don't shape the span
                      }
                      j += 1
                    }
                  }
                  val codes = new Array[Long](k)
                  rows.map { r =>
                    var j = 0
                    while (j < k) {
                      codes(j) =
                        if (r(colIdx(j)) == null) 0L
                        else zCode32(longAt(r, colIdx(j)), lo(j), hi(j))
                      j += 1
                    }
                    (zInterleave(codes), r)
                  }.sortBy(_._1)(Ordering.fromLessThan[Long](
                    java.lang.Long.compareUnsigned(_, _) < 0)).map(_._2)
                }
              val totalBytes = es.map(_.bytes).sum
              val nFiles = math.max(1L,
                math.ceil(totalBytes.toDouble / target).toLong)
              val per = math.max(1,
                math.ceil(sorted.length.toDouble / nFiles).toInt)
              sorted.grouped(per).map(chunk =>
                writeLocalFile(dir, "zs", schema, mp, tuple, chunk,
                  seq = latest + 1, specId = specId)).toSeq
            }
          }
        // every live file was rewritten at the new sequence with the
        // delete debt materialized — position deletes are gone and the
        // equality-delete runs drop from the manifest (like compact)
        commitVersion(dir, latest, "rewrite_sorted", out, m.epochs,
          prev = Some(m))
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(RewriteSortedProcedure.resultSchema,
            Array[Any](m.files.length.toLong, out.length.toLong,
              out.map(_.rows).sum,
              UTF8String.fromString(cols.mkString(","))))).iterator()
      }
    }
}

private object RewriteSortedProcedure {
  val resultSchema: StructType = new StructType()
    .add("files_before", LongType, nullable = false)
    .add("files_after", LongType, nullable = false)
    .add("rows", LongType, nullable = false)
    .add("clustered_by", StringType, nullable = false)

  /** DISTRIBUTED clustering rewrite — zero driver-side row
    * materialization (the Iceberg `rewrite_data_files` action shape):
    * the CLUSTER does the work through the engine's own surfaces. The
    * snapshot reads back through the catalog (`VERSION AS OF` the head
    * — MOR position deletes and equality deletes apply in the scan,
    * exactly-the-committed-state semantics), the z-key computes as a
    * CODEGEN'D COLUMN EXPRESSION (the same per-column 32-bit span
    * codes + Morton interleave as the local path, built from
    * shiftleft/shiftright/bitwise ops — no UDF; the sign bit XORs so
    * signed range partitioning orders the unsigned key correctly), a
    * `repartitionByRange(nFiles)` + `sortWithinPartitions` lands each
    * z-run in ONE task, and the VECTORIZED WRITER writes the files —
    * stats, sums, ndv sketches and bloom sidecars all rebuild for free
    * — into a scratch table whose files then MOVE (same-filesystem
    * rename) into the target's data directory and commit as the
    * rewrite version. Scope: unpartitioned, non-evolved tables with
    * exact manifest stats on every clustered column (everything else
    * declines loudly to mode 'local'); a lost commit race strands the
    * moved files for `sys.remove_orphans`, never corrupts. */
  def distributed(cat: GraftTableCatalog, ns: String, table: String,
      dir: java.io.File, schema: StructType,
      mp: GraftTableCatalog.ColMapping, m: GraftTableCatalog.Manifest,
      latest: Long, colIdx: Array[Int], target: Long)
      : Seq[GraftTableCatalog.Entry] = {
    import GraftTableCatalog._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    val specs = readSpecs(dir)
    require(specs.last.isEmpty, "rewrite_sorted mode 'distributed' " +
      "supports unpartitioned tables; partitioned tables use mode 'local'")
    require(!mp.evolved, "rewrite_sorted mode 'distributed' supports " +
      "non-evolved tables (field-id remap); use mode 'local'")
    if (m.files.isEmpty) return Seq.empty
    val bounds: Seq[(Long, Long)] = colIdx.toSeq.map { i =>
      val key = s"#${mp.ids(i)}"
      val st = m.files.map(_.stats.get(key))
      require(st.forall(_.isDefined), "mode 'distributed' needs exact " +
        s"manifest stats on ${schema.fields(i).name}; use mode 'local'")
      val bs = st.flatten
      (bs.map(_._1).min, bs.map(_._2).max)
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val src = spark.sql(
      s"SELECT * FROM graft_cat.$ns.$table VERSION AS OF $latest")
    def code(j: Int): Column = {
      val c = col(schema.fields(colIdx(j)).name)
      val (lo, hi) = bounds(j)
      if (hi <= lo) lit(0L)
      else {
        val f = (c.cast("double") - lit(lo.toDouble)) /
          lit(hi.toDouble - lo.toDouble)
        coalesce(least(greatest((f * lit(4294967295.0)).cast("long"),
          lit(0L)), lit(4294967295L)), lit(0L))
      }
    }
    val sortKey: Column =
      if (colIdx.length == 1) col(schema.fields(colIdx(0)).name)
      else {
        val codes = colIdx.indices.map(code)
        var key: Column = lit(0L)
        var b = 0
        while (b < 64) {
          key = shiftleft(key, 1).bitwiseOR(
            shiftright(codes(b % colIdx.length), 31 - b / colIdx.length)
              .bitwiseAND(lit(1L)))
          b += 1
        }
        // unsigned z-order under SIGNED range partitioning: flip bit 63
        key.bitwiseXOR(lit(Long.MinValue))
      }
    val totalBytes = m.files.map(_.bytes).sum
    val nFiles = math.max(1L,
      math.ceil(totalBytes.toDouble / target).toLong).toInt
    val tmp = s"rwtmp_${java.util.UUID.randomUUID.toString.take(8)
      .replace("-", "")}"
    val bloomProp = readProps(dir).get(BloomColsProp)
      .map(v => s" TBLPROPERTIES ('$BloomColsProp'='$v')").getOrElse("")
    spark.sql(s"CREATE TABLE graft_cat.$ns.$tmp (${schema.toDDL})$bloomProp")
    try {
      src.withColumn("__gz", sortKey)
        .repartitionByRange(nFiles, col("__gz"))
        .sortWithinPartitions("__gz")
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .writeTo(s"graft_cat.$ns.$tmp").append()
      val tdir = cat.resolveTableDir(ns, tmp)
      val tm = readManifest(tdir, readLatest(tdir))
      val srcData = new java.io.File(tdir, "data")
      val dstData = new java.io.File(dir, "data")
      tm.files.map { e =>
        require(new java.io.File(srcData, e.name)
          .renameTo(new java.io.File(dstData, e.name)),
          s"could not move ${e.name} into ${dstData}")
        val bl = new java.io.File(srcData, e.name + ".bloom")
        if (bl.exists()) bl.renameTo(new java.io.File(dstData,
          e.name + ".bloom"))
        e.copy(seq = latest + 1, specId = specs.length - 1,
          partition = Seq.empty)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS graft_cat.$ns.$tmp")
  }
}

private class SetPartitionSpecProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  import GraftTableCatalog._
  override def name(): String = "set_partition_spec"
  override def description(): String =
    "append a new partition-spec generation; existing files keep theirs"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "set_partition_spec"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("spec", StringType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dir = cat.resolveTableDir(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val specStr = input.getUTF8String(2).toString.trim
        val schema = readSchema(dir)
        val mp = readMapping(dir, schema)
        def fieldIdOf(c: String): Int = {
          require(schema.fieldNames.contains(c),
            s"partition column $c is not in the schema")
          mp.ids(schema.fieldIndex(c))
        }
        def typeOf(c: String): DataType = schema(c).dataType
        val Bucket = """bucket\(\s*([0-9]+)\s*,\s*([A-Za-z0-9_]+)\s*\)""".r
        val Days = """days\(\s*([A-Za-z0-9_]+)\s*\)""".r
        val Ident = """(?:identity\(\s*)?([A-Za-z0-9_]+)\s*\)?""".r
        // split on TOP-LEVEL commas only: bucket(n,c) carries its own
        val parts: Seq[String] = {
          val out = Seq.newBuilder[String]
          var depth = 0; val sb = new StringBuilder
          specStr.foreach {
            case '(' => depth += 1; sb.append('(')
            case ')' => depth -= 1; sb.append(')')
            case ',' if depth == 0 => out += sb.toString; sb.clear()
            case ch => sb.append(ch)
          }
          out += sb.toString
          out.result().map(_.trim).filter(_.nonEmpty)
        }
        val spec: Seq[PT] =
          if (specStr.isEmpty) Seq.empty
          else parts.map {
            case Bucket(n, c) =>
              require(n.toInt >= 1 && n.toInt <= 100000,
                s"bucket count out of range: $n")
              require(typeOf(c) == LongType || typeOf(c) == StringType,
                s"bucket partitioning supports LONG/STRING; $c is ${typeOf(c)}")
              PT("bucket", n.toInt, fieldIdOf(c))
            case Days(c) =>
              require(typeOf(c) == LongType,
                s"days() partitions epoch-millis LONG columns; $c is ${typeOf(c)}")
              PT("days", 0, fieldIdOf(c))
            case Ident(c) =>
              require(typeOf(c) == LongType || typeOf(c) == StringType,
                s"identity partitioning supports LONG/STRING; $c is ${typeOf(c)}")
              PT("identity", 0, fieldIdOf(c))
            case other => sys.error(
              s"unparseable transform '$other' (identity/bucket(n,c)/days(c))")
          }
        require(spec.nonEmpty ||
          !readProps(dir).get(WriteDistributionProp).contains("hash"),
          s"$WriteDistributionProp=hash needs a partitioned table; " +
            "unset the property before unpartitioning")
        val id = appendSpec(dir, spec)
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(SetPartitionSpecProcedure.resultSchema,
            Array[Any](id.toLong,
              UTF8String.fromString(if (specStr.isEmpty) "unpartitioned"
                else specStr)))).iterator()
      }
    }
}

private object SetPartitionSpecProcedure {
  val resultSchema: StructType = new StructType()
    .add("spec_id", LongType, nullable = false)
    .add("spec", StringType, nullable = false)
}

/** A persisted V2 view: the recorded SQL plus its resolution context,
  * one JSON file published by atomic rename (null column aliases /
  * comments ride a NUL sentinel — JSON-library-agnostic). */
private[sources] case class StoredView(viewName: String, sql: String,
    cat: String, ns: Seq[String], schemaJson: String,
    queryCols: Seq[String], aliases: Seq[String], comments: Seq[String],
    props: Map[String, String]) extends View {
  override def name(): String = viewName
  override def query(): String = sql
  override def currentCatalog(): String = cat
  override def currentNamespace(): Array[String] = ns.toArray
  override def schema(): StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
  override def queryColumnNames(): Array[String] = queryCols.toArray
  override def columnAliases(): Array[String] =
    aliases.map(a => if (a == StoredView.Nul) null else a).toArray
  override def columnComments(): Array[String] =
    comments.map(c => if (c == StoredView.Nul) null else c).toArray
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

private[sources] object StoredView {
  val Nul: String = 0.toChar.toString // the NUL sentinel for JSON nulls
  private case class Rec(sql: String, cat: String, ns: Seq[String],
      schemaJson: String, queryCols: Seq[String], aliases: Seq[String],
      comments: Seq[String], props: Map[String, String])
  implicit private val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private def nulify(a: Array[String]): Seq[String] =
    Option(a).map(_.toSeq.map(x => if (x == null) Nul else x))
      .getOrElse(Seq.empty)

  private def writeAtomic(f: File, body: String): Unit = {
    val tmp = new File(f.getParentFile,
      s".view.tmp.${java.util.UUID.randomUUID}")
    Files.write(tmp.toPath, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, f.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def write(f: File, info: ViewInfo): Unit = {
    import scala.jdk.CollectionConverters._
    writeAtomic(f, org.json4s.jackson.Serialization.write(Rec(
      info.sql, info.currentCatalog,
      Option(info.currentNamespace).map(_.toSeq).getOrElse(Seq.empty),
      info.schema.json,
      Option(info.queryColumnNames).map(_.toSeq).getOrElse(Seq.empty),
      nulify(info.columnAliases), nulify(info.columnComments),
      Option(info.properties)
        .map(_.asScala.toMap).getOrElse(Map.empty))))
  }

  def writeRecord(f: File, v: StoredView): Unit =
    writeAtomic(f, org.json4s.jackson.Serialization.write(Rec(
      v.sql, v.cat, v.ns, v.schemaJson, v.queryCols, v.aliases,
      v.comments, v.props)))

  def read(f: File, qualifiedName: String): StoredView = {
    val r = org.json4s.jackson.Serialization.read[Rec](
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
    StoredView(qualifiedName, r.sql, r.cat, r.ns, r.schemaJson,
      r.queryCols, r.aliases, r.comments, r.props)
  }
}

/** `CALL graft_cat.sys.create_view(ns, name, sql)` — view DDL on the
  * procedure surface, because OSS Spark's `CREATE VIEW` statement
  * refuses non-session catalogs outright (ResolveSessionCatalog throws
  * CATALOG_OPERATION before any extension rule runs) while `CALL` IS
  * wired. The view's schema is derived by ANALYZING the SQL in the
  * active session (no execution), then stored with the resolution
  * context; reads resolve through the injected
  * [[graft.plans.ResolveGraftViews]] rule. Use qualified table names in
  * the view SQL — unqualified references resolve in the READER's
  * session context. */
private class CreateViewProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  override def name(): String = "create_view"
  override def description(): String =
    "persist a view definition (ns, name, sql) in the catalog"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "create_view"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("sql", StringType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val ns = input.getUTF8String(0).toString
        val viewName = input.getUTF8String(1).toString
        val sql = input.getUTF8String(2).toString
        val spark = org.apache.spark.sql.SparkSession.active
        val schema = spark.sql(sql).schema // analysis only, no job
        val ident = Identifier.of(Array(ns), viewName)
        cat.createView(new org.apache.spark.sql.connector.catalog.ViewInfo(
          ident, sql, cat.name(), Array(ns), schema,
          schema.fieldNames, Array.empty[String], Array.empty[String],
          java.util.Map.of[String, String]()))
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(CreateViewProcedure.resultSchema,
            Array[Any](org.apache.spark.unsafe.types.UTF8String
              .fromString(s"${cat.name()}.$ns.$viewName"),
              schema.fields.length.toLong))).iterator()
      }
    }
}

private object CreateViewProcedure {
  val resultSchema: StructType = new StructType()
    .add("view", StringType, nullable = false)
    .add("columns", LongType, nullable = false)
}

/** `CALL graft_cat.sys.drop_view(ns, name)` — the DDL complement. */
private class DropViewProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
  override def name(): String = "drop_view"
  override def description(): String = "drop a persisted view (ns, name)"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "drop_view"
      override def isDeterministic: Boolean = false
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("ns", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val dropped = cat.dropView(Identifier.of(
          Array(input.getUTF8String(0).toString),
          input.getUTF8String(1).toString))
        java.util.List.of[org.apache.spark.sql.connector.read.Scan](
          ProcResult(DropViewProcedure.resultSchema,
            Array[Any](dropped))).iterator()
      }
    }
}

private object DropViewProcedure {
  val resultSchema: StructType = new StructType()
    .add("dropped", org.apache.spark.sql.types.BooleanType,
      nullable = false)
}

/** The catalog scans' custom-metric definitions (one instance per scan —
  * Spark aggregates per-reader task values with the sum semantics). */
private[sources] object CatalogScanMetrics {
  def supported: Array[CustomMetric] =
    Array(new FilesOpenedMetric, new RowsReadMetric)
  def task(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

// top-level + zero-arg: Spark's SQL UI listener re-instantiates metric
// classes reflectively to aggregate task values — an inner class with
// constructor params would log "no zero-argument constructor" and drop
// the metric from the UI
private[sources] class FilesOpenedMetric extends CustomSumMetric {
  override def name(): String = "filesOpened"
  override def description(): String =
    "data files opened by graft_cat readers"
}
private[sources] class RowsReadMetric extends CustomSumMetric {
  override def name(): String = "rowsRead"
  override def description(): String = "rows decoded by graft_cat readers"
}

/** The partition `bucket` transform as a V2 [[ScalarFunction]] — the
  * SAME hash the write path routes rows with ([[GraftTableCatalog
  * .bucketOf]]), so the values Spark compares during a
  * storage-partitioned join are exactly the values that placed the
  * files. Two scans of bucket(n)-spec'd graft_cat tables bind to
  * functions with equal canonical names, which is what makes their
  * KeyGroupedPartitionings compatible. */
private[sources] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): graft_cat's partition transform hash"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket(numBuckets, col); got ${inputType.simpleString}")
    inputType.fields(1).dataType match {
      case LongType => new GraftBucketBound(LongType)
      case StringType => new GraftBucketBound(StringType)
      case t => throw new UnsupportedOperationException(s"bucket over $t")
    }
  }
}

private class GraftBucketBound(col: DataType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, col)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = s"graft_cat.bucket(${col.simpleString})"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(1)) null
    else col match {
      case LongType =>
        Int.box(GraftTableCatalog.bucketOf(input.getLong(1), input.getInt(0)))
      case _ =>
        Int.box(GraftTableCatalog.bucketOf(input.getUTF8String(1),
          input.getInt(0)))
    }
}
