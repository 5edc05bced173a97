package graft.sources

import java.io.{DataOutputStream, File, FileOutputStream}
import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsNamespaces, Table, TableCatalog, TableChange, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import CatalogFormat._
import CatalogManifests._

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
        // ids are untouched — old files keep reading
        mapping = mapping.copy(evolved = true)
        props.get(WriteOrderByProp).foreach { cols =>
          props += WriteOrderByProp -> cols.split(",").map(_.trim)
            .map(c => if (c == from) to else c).mkString(",")
        }
        if (props.get(UpsertKeyProp).contains(from))
          props += UpsertKeyProp -> to
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1, "graft_cat has no nested columns")
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

  /** `write.bloom.columns` — comma-separated LONG/STRING columns whose
    * values each data file indexes in a PARQUET BLOOM FILTER (split-block,
    * in the file itself, sized adaptively up to 256 KiB per column):
    * point predicates (`=` / `IN`) on an UNSORTED column then skip files
    * min/max ranges cannot — the filter proves definite ABSENCE, and
    * planning reads the footer and the filter (kilobytes) instead of the
    * data. Filters are sized for 0.1% false positives; a false
    * positive costs one data-file scan, never correctness. */
  val BloomColsProp = "write.bloom.columns"
  /** Table property: how a `DELETE FROM` that is not metadata-only runs.
    * 'copy-on-write' (default) rewrites the files holding matching rows;
    * 'merge-on-read' commits a position delete file readers anti-merge —
    * the Iceberg v2 read path, so a 10-row delete never rewrites a 1 GB
    * file. A metadata-only DELETE (every file all-match or none-match)
    * only drops manifest entries under either mode. */
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
    *    `#<fieldId>`;
    *  - `nullFree`: columns PROVEN to contain no nulls (same key space)
    *    — a column absent here fails every "all rows match" proof, never
    *    the other way (the Iceberg strict-evaluator rule: a comparison
    *    predicate cannot match a NULL, so metadata-only DELETE needs
    *    nullCount==0);
    *  - `fieldIds`: positional field ids the file was written under —
    *    the column-mapping indirection that makes RENAME free and DROP
    *    read-compatible;
    *  - `typeCodes`: the storage type (L/D/S) each column was written
    *    under, positionally — a record for planners and tools; the
    *    reader decodes by the Parquet footer and maps by field id;
    *  - `partition`: this file's partition tuple under the spec
    *    GENERATION it was written under (encoded; empty = unpartitioned);
    *  - `specId`: index into the table's spec history (specs.json) — the
    *    Iceberg per-file spec id, so `SET PARTITION SPEC` never rewrites
    *    data: old files keep pruning under their own layout;
    *  - `sums`: per-LONG-column EXACT sums over non-null values (same
    *    `#<fieldId>` key space; absent = the writer hit long overflow)
    *    — what SUM pushdown answers from;
    *  - `ndv`: per-column ESTIMATED distinct non-null values (linear
    *    counting at write; same `#<fieldId>` keys) — feeds CBO column
    *    statistics, never a correctness proof;
    *  - `deletes`: position delete files readers anti-merge. */
  case class Entry(name: String, rows: Long, bytes: Long, cols: Int,
      stats: Map[String, (Long, Long)],
      nullFree: Set[String],
      fieldIds: Seq[Int],
      typeCodes: String,
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
    * first RENAME/DROP (rewrite_sorted's distributed mode declines such
    * tables). Absent file = ids are schema positions. */
  case class ColMapping(ids: Seq[Int], nextId: Int, evolved: Boolean)

  /** One partition-spec transform: `kind` ∈ identity|bucket|days, `arg`
    * the bucket count (0 otherwise), `id` the SOURCE column's field id
    * (stable across renames). */
  case class PT(kind: String, arg: Int, id: Int)

  // Test-only observability (single-JVM local mode), the SeriesSource
  // counters' discipline: data files actually opened by readers.
  val filesOpened = new AtomicLong(0)
  /** Test-only: runs once inside rewrite_deletes' OCC attempt, after the
    * head manifest is read — a spec injects a concurrent CDC commit here
    * to drive the rebase path deterministically. */
  val rewriteDeletesRaceHook =
    new java.util.concurrent.atomic.AtomicReference[Runnable](null)

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

  private[sources] val DayMs = 86400000L

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

  /** A slot back as a row value: null, an identity string as a
    * UTF8String, a bucket ordinal as an Int, any other slot as a Long. */
  def decodePartValue(kind: String, pv: String): Any = pv match {
    case "n" => null
    case v if v.startsWith("s") =>
      UTF8String.fromString(URLDecoder.decode(v.tail, "UTF-8"))
    case v if kind == "bucket" => Integer.valueOf(v.tail.toInt)
    case v => java.lang.Long.valueOf(v.tail.toLong)
  }

  def readLatest(dir: File): Long = {
    val f = new File(dir, "latest")
    if (!f.exists()) 0L
    else new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).trim.toLong
  }

  def readManifest(dir: File, version: Long): Manifest =
    parseManifest(new File(dir, s"v$version.manifest"), version)

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

  /** Publish version `expectedLatest + 1`: the manifest file is created
    * FAIL-IF-EXISTS (a concurrent writer that raced us dies here, before
    * anything is visible), then the `latest` pointer swaps by atomic
    * rename. Data files are never deleted — every committed version
    * stays readable. A zero-byte reservation whose version was never
    * published (a writer crashed between reserve and fill; `latest`
    * still points below it) is reclaimed instead of bricking the table
    * with FileAlreadyExistsException forever. */
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
        cleanup.foreach(n => deleteDataFile(new File(dir, "data"), n))
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
    if (eqDeletes.isEmpty) None
    else Some(upsertKeyIndex(dir, schema)).filter(_ >= 0).map((_, eqDeletes))

  /** The upsert key column's schema index, or -1. */
  private[sources] def upsertKeyIndex(dir: File, schema: StructType): Int =
    readProps(dir).get(UpsertKeyProp).filter(schema.fieldNames.contains)
      .map(schema.fieldIndex).getOrElse(-1)
}
