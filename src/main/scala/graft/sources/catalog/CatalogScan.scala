package graft.sources

import java.io.File
import java.net.{URLDecoder, URLEncoder}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsPartitionManagement, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, LocalScan, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning => V2Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import CatalogFormat._
import CatalogManifests._
import CatalogPruning._

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
      .map(t => spec.zip(t).map { case (pt, pv) => decodePartValue(pt.kind, pv) })
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

  /** A DELETE runs here only when it is METADATA-ONLY: every live file
    * is proven all-match (it drops from the manifest) or none-match (by
    * min/max and partition facts, or a bloom filter that rules its point
    * predicate out; it stays untouched). Otherwise this says no, and
    * Spark runs the row-level plan it already built: under copy-on-write
    * [[CatalogRowLevelOperation]] rewrites the files holding matches and
    * keeps rows where `NOT (cond <=> true)`; under
    * `delete.mode`='merge-on-read' [[CatalogDeltaOperation]] writes
    * position deletes. Spark evaluates every row either way, so a DELETE
    * has one predicate evaluator and NULL stays NULL. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && deleteSplit(liveManifest(), filters).forall(_._2.isDefined)

  /** Each live file under a DELETE's filters: `Some(true)` when every row
    * matches, `Some(false)` when none can (by file facts or its bloom
    * filters), `None` for a boundary file, which only Spark's row-level
    * plan can split. */
  private def deleteSplit(m: Manifest, filters: Array[Filter])
      : Seq[(Entry, Option[Boolean])] = {
    val s = schema()
    val mp = readMapping(dir, s)
    val specs = readSpecs(dir)
    m.files.map { e =>
      val spec =
        if (e.specId >= 0 && e.specId < specs.length) specs(e.specId)
        else Seq.empty
      val facts = fileFacts(e, s, mp, spec)
      if (filters.forall(allMatch(_, facts))) (e, Some(true))
      else if (!filters.forall(mayMatch(_, facts)) ||
        !bloomMayMatch(dir, s, mp, e, filters)) (e, Some(false))
      else (e, None)
    }
  }

  /** The metadata-only DELETE [[canDeleteWhere]] accepted: all-match
    * files drop, none-match files stay, as one new manifest version;
    * prior versions keep serving the old file set. The split is taken
    * again over the manifest this commits on: a non-append commit
    * between planning and here (a `sys.compact` merging an all-match
    * and a none-match file, say) can leave a boundary file, and the
    * statement then fails rather than keep or drop that file whole. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val m = liveManifest()
    val latest = headVersion(dir, branch)
    val split = deleteSplit(m, filters)
    split.collectFirst { case (e, None) => e }.foreach { e =>
      throw new IllegalStateException(
        s"DELETE on $dir raced a CONFLICTING commit: ${e.name} is no " +
          "longer all-match or none-match: re-run")
    }
    val remaining = split.collect { case (e, Some(false)) => e }
    // OCC: rebase over pure appends (appended files are outside this
    // DELETE's snapshot and survive untouched — snapshot isolation);
    // anything else fails loudly. An emptied table needs no key files
    // (nothing left to supersede).
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
  }
}

private class CatalogScanBuilder(dir: File, schema: StructType,
    manifest: PlanManifest, startingVersion: Long = 0L,
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
    *    declines — the extremal row may be the deleted one; a file
    *    without stats for the column holds no value of it. */
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
          // The writer records a LONG column's stats exactly when the
          // file holds a non-null value, so a file without them is
          // value-free (all-null, or it predates the column) and
          // contributes nothing. Read the EXACT per-file stats, never
          // facts.rng: for a days()-transform source column, fileFacts
          // overwrites the stats with the synthesized day-wide pruning
          // range [dayStart, dayStart+86399999] — sound for skipping,
          // but an extremum served from it would be a value no row holds.
          val key = s"#${mp.ids(schema.fieldIndex(col))}"
          val bounds = sub.flatMap(_._1.stats.get(key)).map(r => if (lo) r._1 else r._2)
          Some(if (bounds.isEmpty) null
            else if (lo) (bounds.min: java.lang.Long)
            else (bounds.max: java.lang.Long))
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
          // `sums` field): same proof shape as min/max — a file without
          // stats for the column is value-free, a file with stats must
          // carry the sum; deletes or a recorded-overflow file decline;
          // the final fold declines on overflow too (ANSI would fail there)
          colOf(s.column()).flatMap { col =>
            if (hasPosDeletes || schema(col).dataType != LongType) None
            else {
              val key = s"#${mp.ids(schema.fieldIndex(col))}"
              val per: Seq[Option[Option[Long]]] = sub.map { case (e, _) =>
                if (!e.stats.contains(key)) Some(None)
                else e.sums.get(key).map(Some(_))
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
      val grouped = facts.groupBy { case (e, _) =>
        slotOf.map(e.partition(_))
      }
      val rowsOpt = grouped.toSeq.map { case (key, sub) =>
        aggsOver(sub).map { aggs =>
          (aggs,
            key.map(decodePartValue("identity", _)) ++ aggs.map(_._4))
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
    else spec.zip(e.partition)
      .map { case (pt, pv) => decodePartValue(pt.kind, pv) }.toArray[Any]

  override def planInputPartitions(): Array[InputPartition] =
    liveFiles.map(e => filePartition(dir, tableSchema, mp, e,
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

  /** Always COLUMNAR: Spark's vectorized Parquet reader. */
  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory(tableSchema, mp, required, eqCtx.fold(-1)(_._1))
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
          val allNullFree = files.forall(_.nullFree(key))
          // ndv: estimated (sum of per-file linear-counting sketches,
          // capped at live rows); declined when any live file with rows
          // lacks a sketch for the column — an honest "unknown" beats a
          // confident undercount
          val dvOpt =
            if (totalRows > 0 && files.forall(e => e.rows == 0 ||
                e.ndv.contains(key) || !e.fieldIds.contains(id)))
              math.min(files.flatMap(_.ndv.get(key)).sum,
                math.max(totalRows, 1L))
            else -1L
          if (f.dataType == LongType) {
            // HONEST bounds — the MIN/MAX pushdown's extremum proof on
            // the estimate surface: the writer records a LONG column's
            // exact stats whenever the file holds a non-null value, so
            // every live file either bounds the column or is value-free
            // (all-null in-file, or it predates the column and reads
            // null-padded); the bounds are never narrower than the data
            val bs = files.flatMap(_.stats.get(key))
            val (loOpt, hiOpt) =
              if (bs.isEmpty) (None, None)
              else (Some(bs.map(_._1).min), Some(bs.map(_._2).max))
            val dv =
              if (dvOpt > 0) dvOpt
              else (loOpt, hiOpt) match {
                case (Some(lo), Some(hi)) =>
                  (BigInt(hi) - BigInt(lo) + 1)
                    .min(BigInt(math.max(totalRows, 1L))).max(BigInt(1))
                    .toLong
                case _ => -1L
              }
            // histogram from every file's exact span; value-free files
            // add none
            val hist =
              if (loOpt.isEmpty) None
              else manifestHistogram(
                files.flatMap(e => e.stats.get(key).collect {
                  case (lo, hi) if e.liveRows > 0 =>
                    (lo, hi, e.liveRows, e.ndv.getOrElse(key, 0L))
                }), totalRows)
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

/** One reader task, one data file: `deletePaths` anti-merge as a sorted
  * position skip list; `positions` (CDF delta-deletes) restricts
  * emission to exactly those raw positions; `changeType`/`changeVersion`
  * stamp the two CDF columns; `keyVals` is the partition tuple for SPJ
  * grouping. The projection is the scan's reader factory's. */
private case class CatalogFilePartition(path: String, fileName: String,
    bytes: Long,
    deletePaths: Array[String] = Array.empty,
    positions: Option[Array[Long]] = None,
    changeType: String = "", changeVersion: Long = 0L,
    keyVals: Array[Any] = Array.empty,
    eqDeletePaths: Array[String] = Array.empty,
    keysOnlyPaths: Array[String] = Array.empty,
    fileSeq: Long = Long.MinValue)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(keyVals)
}

/** Per-file pruning facts and filter evaluation (bloom filters
  * included), reader task construction, and the manifest-derived CBO
  * histogram. */
private[sources] object CatalogPruning {
  import GraftTableCatalog._

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

  /** Assemble [[FileFacts]] for one entry under the CURRENT schema:
    * stats and null proofs resolve by the column's field id (`#<id>`). */
  def fileFacts(e: Entry, schema: StructType, mp: ColMapping,
      spec: Seq[PT]): FileFacts = {
    var rng = Map.empty[String, (Long, Long)]
    var nullFree = Set.empty[String]
    var allNull = Set.empty[String]
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val id = mp.ids(i)
      if (!e.fieldIds.contains(id)) {
        // the file PREDATES this column (or its id was dropped and
        // re-added): every read null-pads it — provably all-null, so
        // equality/IsNotNull predicates prune the file outright
        allNull += f.name
      } else {
        e.stats.get(s"#$id").foreach(v => rng += f.name -> v)
        if (e.nullFree(s"#$id")) nullFree += f.name
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

  /** One reader task per data file: the delete files to anti-merge,
    * the key files newer than it (only when the file holds the key
    * column), and optional CDF stamping. */
  private[sources] def filePartition(dir: File, tableSchema: StructType,
      mp: ColMapping, e: Entry,
      changeType: String = "", changeVersion: Long = 0L,
      positions: Option[Array[Long]] = None,
      keyVals: Array[Any] = Array.empty,
      eqCtx: Option[(Int, Seq[EqDelete])] = None,
      keysOnly: Array[String] = Array.empty): CatalogFilePartition = {
    val data = new File(dir, "data")
    val (eqPaths, hasKey) = eqCtx match {
      case Some((keyIdx, dels)) if e.fieldIds.contains(mp.ids(keyIdx)) =>
        (dels.filter(_.seq > e.seq).map(d =>
          new File(data, d.name).getPath).toArray, true)
      case _ => (Array.empty[String], false)
    }
    require(keysOnly.isEmpty || hasKey,
      s"keys-only filter over ${e.name} without a resolvable key column")
    CatalogFilePartition(new File(data, e.name).getPath, e.name, e.bytes,
      e.deletes.map(d => new File(data, d.name).getPath).toArray,
      positions, changeType, changeVersion, keyVals, eqPaths, keysOnly, e.seq)
  }

  /** Bloom filter file pruning: TRUE = cannot rule the file out. Only
    * `=` / `IN` shapes on the entry's bloom columns probe the Parquet
    * bloom filters in the data file's footer, read through
    * [[Footers.bloomMayHold]] once per file and only for files that
    * survived partition and min/max pruning. A listed column with no
    * filter in the file fails loudly: the table predates native Parquet
    * bloom filters. */
  private[sources] def bloomMayMatch(dir: File, schema: StructType,
      mp: ColMapping, e: Entry, filters: Array[Filter]): Boolean = {
    if (e.bloomCols.isEmpty) return true
    def probe(c: String, v: Any): Option[(Int, Any)] = {
      val i = schema.fieldNames.indexOf(c)
      if (i < 0 || !e.bloomCols.contains(mp.ids(i))) None
      else (schema(i).dataType match {
        case LongType => longLit(v)
        case StringType => strLit(v)
        case _ => None
      }).map(mp.ids(i) -> _)
    }
    def probes(f: Filter): Seq[(Int, Any)] = f match {
      case EqualTo(c, v) => probe(c, v).toSeq
      case In(c, vs) => vs.toSeq.flatMap(probe(c, _))
      case And(l, r) => probes(l) ++ probes(r)
      case Or(l, r) => probes(l) ++ probes(r)
      case _ => Seq.empty
    }
    val all = filters.toSeq.flatMap(probes).distinct
    if (all.isEmpty) return true
    val path = new File(new File(dir, "data"), e.name).getPath
    val held = all.zip(Footers.bloomMayHold(SparkSession.active, path, all))
      .map { case (p, h) => p -> h.getOrElse(throw new IllegalStateException(
        s"$path has no Parquet bloom filter for field id ${p._1}; the table " +
          "predates native Parquet bloom filters and must be recreated")) }
      .toMap
    def ok(f: Filter): Boolean = f match {
      case EqualTo(c, v) => probe(c, v).forall(held)
      case In(c, vs) => vs.isEmpty || vs.exists(v => ok(EqualTo(c, v)))
      case And(l, r) => ok(l) && ok(r)
      case Or(l, r) => ok(l) || ok(r)
      case _ => true
    }
    filters.forall(ok)
  }
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
