package graft.sources

import java.io.File
import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

import CatalogFormat._

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
    toDelete.foreach(n => deleteDataFile(new File(dir, "data"), n))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case CatalogCommit(es, k) =>
        (es.map(_.name) ++ k.map(_._1)).foreach(n =>
          deleteDataFile(new File(dir, "data"), n))
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
    dropped.foreach(n => deleteDataFile(new File(dir, "data"), n))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case CatalogCommit(es, k) =>
        (es.map(_.name) ++ k.map(_._1)).foreach(n =>
          deleteDataFile(new File(dir, "data"), n))
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
  @transient private lazy val fileSchema = withFieldIds(
    DataType.fromJson(schemaJson).asInstanceOf[StructType].fields.toSeq,
    if (idsCsv.isEmpty) Seq.empty else idsCsv.split(",").map(_.toInt).toSeq)
  // one Parquet writer conf per factory instance, shared by its files
  @transient private lazy val conf = writerConf(fileSchema)
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
      private val types = fileSchema.fields.map(_.dataType)
      private val spec: Array[(String, Int, Int)] =
        if (specEnc.isEmpty) Array.empty
        else specEnc.split(";").map { s =>
          val p = s.split(":"); (p(0), p(1).toInt, p(2).toInt)
        }
      private val stem = s"part-$jobUid-p$partitionId-t$taskId"
      private val dataDir = new File(dirPath, "data")

      // schema positions whose Parquet bloom filters the writer builds
      private val bloomPos: Array[Int] =
        if (bloomEnc.isEmpty) Array.empty
        else bloomEnc.split(",").map(_.toInt)
      private def newSink(tuple: Seq[String], suffix: String) =
        new CatalogFileWriter(dataDir, s"$stem$suffix", tuple, fileSchema,
          conf, bloomPos)

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
          deleteDataFile(dataDir, sk.name)
        }
        ()
      }
      override def close(): Unit = sinks.values.foreach(_.closeOut())
    }
}
