package graft.sources

import java.io.File
import java.net.URLDecoder

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import CatalogChanges._
import CatalogFormat._
import CatalogManifests._
import CatalogPruning._

/** The change data feed derived from consecutive manifests. */
private[sources] object CatalogChanges {
  import GraftTableCatalog._

  /** The change feed's reader: every column of `base`, plus the upsert
    * key files' anti-join. */
  private[sources] def changesReader(dir: File, base: StructType)
      : PartitionReaderFactory =
    readerFactory(base, readMapping(dir, base), base,
      upsertKeyIndex(dir, base))

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
    val upsertKeyIdx = upsertKeyIndex(dir, schema)
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
            out += filePartition(dir, schema, mp, e,
              changeType = "delete", changeVersion = v,
              eqCtx = ctxOf(prevEq))
        }
        cur.valuesIterator.filterNot(e => prev.contains(e.name)).foreach {
          e => // added file: its live rows are inserts (the eq filter
            // only matters for the first-retained-baseline case, where
            // "added" files are old and may carry superseded rows)
            out += filePartition(dir, schema, mp, e,
              changeType = "insert", changeVersion = v,
              eqCtx = ctxOf(m.eqDeletes))
        }
        cur.valuesIterator.foreach { e =>
          prev.get(e.name).foreach { pe =>
            val delta = e.deletes.drop(pe.deletes.length)
            if (delta.nonEmpty) {
              val positions = loadDeletePositions(delta.map(d =>
                new File(new File(dir, "data"), d.name).getPath).toArray)
              out += filePartition(dir, schema, mp,
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
            out += filePartition(dir, schema, mp, pe,
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
  * one). Served from list-level metadata alone — no segment file is
  * opened. */
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
        val refs = parseManifestList(new File(dir, s"v$v.manifest"))._3
        val prior: Set[String] =
          if (v <= 1) Set.empty
          else parseManifestList(
            new File(dir, s"v${v - 1}.manifest"))._3
            .map(_.name).toSet
        Array(FileRows(refs.map { r =>
          Seq[Any](r.name, r.count, r.rows, r.bytes, r.summary,
            prior.contains(r.name))
        }))
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
    changesReader(dir, base)
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
    changesReader(dir, base)
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
          out += filePartition(dir, tableSchema, mp, f)
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
          out += filePartition(dir, tableSchema, mp, f)
        }
      }
      seen = cur
    }
    out.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory(tableSchema, readMapping(dir, tableSchema), required, -1)
}

private case class VersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}
