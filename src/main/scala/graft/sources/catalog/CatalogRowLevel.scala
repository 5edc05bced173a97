package graft.sources

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsDelta, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import CatalogFormat._
import CatalogManifests._

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
    base.createReaderFactory()

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
      deleteDataFile(new File(dir, "data"), n))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case CatalogCommit(es, k) =>
        (es.map(_.name) ++ k.map(_._1)).foreach(n =>
          deleteDataFile(new File(dir, "data"), n))
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
    dropped.foreach(n => deleteDataFile(new File(dir, "data"), n))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case d: CatalogDeltaCommit => d.entries.foreach(e =>
        deleteDataFile(new File(dir, "data"), e.name))
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
