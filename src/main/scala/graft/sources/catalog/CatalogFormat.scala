package graft.sources

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, LongType, MetadataBuilder, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

import CatalogFormat._
import CatalogPruning._

/** The data-file format helpers: storage type codes, the Parquet writer
  * and reader confs, z-order keys, the NDV sketch,
  * position delete files, and whole-file rewrite/decode through
  * [[CatalogFileWriter]] and [[CatalogColumnarReader]]. */
private[sources] object CatalogFormat {
  import GraftTableCatalog._

  /** The storage types and their one-letter manifest codes. */
  object Codec {
    def supported(t: DataType): Boolean =
      t == LongType || t == DoubleType || t == StringType
    def typeCode(t: DataType): Char = t match {
      case LongType => 'L'
      case DoubleType => 'D'
      case StringType => 'S'
      case other => sys.error(s"unsupported $other")
    }
  }

  /** Data files are Parquet: [[CatalogFileWriter]] writes them through
    * Spark's `ParquetWriteSupport`, and [[CatalogColumnarReader]] reads
    * them through Spark's vectorized Parquet reader. */
  private[sources] val DataFileSuffix = ".parquet"

  /** `fields` tagged with their field ids (`parquet.field.id`): every
    * file carries its ids, and readers resolve columns by id, so a
    * rename reads old files and a file that predates a column reads it
    * as NULL. */
  private[sources] def withFieldIds(fields: Seq[StructField],
      ids: Seq[Int]): StructType =
    StructType(fields.zip(ids).map { case (f, id) =>
      f.copy(nullable = true, metadata = new MetadataBuilder()
        .putLong(ParquetUtils.FIELD_ID_METADATA_KEY, id).build())
    })

  /** The Hadoop conf every [[CatalogFileWriter]] over one file schema
    * shares: `ParquetUtils.prepareWrite` sets each key
    * `ParquetWriteSupport` reads. */
  private[sources] def writerConf(fileSchema: StructType): Configuration = {
    val job = Job.getInstance(new Configuration(false))
    val sqlConf = SQLConf.get
    ParquetUtils.prepareWrite(sqlConf, job, fileSchema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    job.getConfiguration
  }

  /** One scan's reader factory. Parquet reads the `required` table
    * columns by field id, then the upsert key column `keyIdx` when key
    * files may apply and the scan does not project it, then Spark's
    * row-index column, which carries `_pos` and positions the deletes.
    * The keys mirror `ParquetScan.createReaderFactory`, on a conf of its
    * own; reading by field id is switched on in that conf only. */
  private[sources] def readerFactory(tableSchema: StructType, mp: ColMapping,
      required: StructType, keyIdx: Int): CatalogColumnarReaderFactory = {
    val cols = required.fieldNames.toSeq.filter(tableSchema.fieldNames.contains)
    val keyCol = if (keyIdx >= 0) tableSchema(keyIdx).name else ""
    val read = if (keyIdx < 0 || cols.contains(keyCol)) cols else cols :+ keyCol
    val idx = read.map(tableSchema.fieldIndex)
    val readSchema = withFieldIds(idx.map(tableSchema(_)), idx.map(mp.ids))
      .add(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
    val sqlConf = SQLConf.get
    val conf = new Configuration(false) // the broadcast carries these keys only
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readSchema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readSchema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> sqlConf.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> sqlConf.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> sqlConf.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sqlConf.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED ->
        sqlConf.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sqlConf.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        sqlConf.parquetReaderRespectUnknownTypeAnnotation,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED -> true
    ).foreach { case (entry, v) => conf.setBoolean(entry.key, v) }
    CatalogColumnarReaderFactory(
      GraftSqlShim.parquetReaderFactory(SparkSession.active.sparkContext,
        sqlConf, conf, readSchema),
      required.fieldNames.map {
        case FileMetaCol => -1
        case PosMetaCol => read.length
        case n => read.indexOf(n)
      },
      read.indexOf(keyCol), sqlConf.parquetVectorizedReaderBatchSize)
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

  /** splitmix64 — the value hash the NDV sketch buckets LONGs by. */
  private[sources] def mixLong(v0: Long): Long = {
    var v = v0 + 0x9E3779B97F4A7C15L
    v = (v ^ (v >>> 30)) * 0xBF58476D1CE4E5B9L
    v = (v ^ (v >>> 27)) * 0x94D049BB133111EBL
    v ^ (v >>> 31)
  }
  /** FNV-1a 64 over the first `len` UTF-8 bytes of `b`, then
    * [[mixLong]] — the NDV sketch's STRING hash, mixed straight out of
    * the writer's scratch buffer. */
  private[sources] def mixBytes(b: Array[Byte], len: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < len) { h ^= (b(i) & 0xffL); h *= 0x100000001B3L; i += 1 }
    mixLong(h)
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

  /** Delete one file of `dataDir`; true when it existed. */
  private[sources] def deleteDataFile(dataDir: File, n: String): Boolean = {
    val f = new File(dataDir, n)
    val existed = f.exists()
    if (existed) f.delete()
    existed
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
    * rewrite path of sys.compact and rewrite_sorted. The rewritten file
    * carries fresh bloom filters, so point-lookup pruning survives table
    * maintenance. */
  private[sources] def writeLocalFile(dir: File, prefix: String,
      schema: StructType, mp: ColMapping, partition: Seq[String],
      rows: Iterable[Array[Any]], seq: Long = 0L, specId: Int = 0): Entry = {
    val bloomEnc = bloomEncOf(dir, schema)
    val fileSchema = withFieldIds(schema.fields.toSeq, mp.ids)
    val w = new CatalogFileWriter(new File(dir, "data"),
      s"$prefix-${java.util.UUID.randomUUID().toString.take(12)}",
      partition, fileSchema, writerConf(fileSchema),
      if (bloomEnc.isEmpty) Array.empty else bloomEnc.split(",").map(_.toInt))
    try {
      rows.foreach(r => w.writeRow(new GenericInternalRow(r.map {
        case v: String => UTF8String.fromString(v)
        case v => v
      })))
      w.finish(seq, specId)
    } finally w.closeOut()
  }

  /** A whole-file decoder through [[CatalogColumnarReader]] (position
    * and equality deletes applied), each row ALIGNED to the current
    * schema by field id, strings as java String. Returns (rawPos,
    * alignedRow) pairs — the compact and rewrite_sorted machinery. The
    * reader factory is built once per call and each reader directly,
    * not through [[CatalogColumnarReaderFactory.createColumnarReader]],
    * so driver-side maintenance never counts as a scan in
    * `filesOpened`. */
  private[graft] def readAligned(dir: File, schema: StructType,
      mp: ColMapping, eqCtx: Option[(Int, Seq[EqDelete])] = None)
      : Entry => IndexedSeq[(Long, Array[Any])] = {
    val types = schema.fields.map(_.dataType)
    val factory = readerFactory(schema, mp, schema.add(PosMetaCol, LongType),
      eqCtx.fold(-1)(_._1))
    e => {
      val reader = new CatalogColumnarReader(
        filePartition(dir, schema, mp, e, eqCtx = eqCtx), factory)
      val out = IndexedSeq.newBuilder[(Long, Array[Any])]
      try while (reader.next()) {
        val batch = reader.get()
        (0 until batch.numRows()).foreach { r =>
          val row = batch.getRow(r) // one reused row object
          out += row.getLong(types.length) -> Array.tabulate[Any](types.length) {
            i => if (row.isNullAt(i)) null else row.get(i, types(i)) match {
              case u: UTF8String => u.toString
              case v => v
            }
          }
        }
      } finally reader.close()
      out.result()
    }
  }
}

/** The one read path ([[PartitionReaderFactory.supportColumnarReads]]),
  * built once per scan by [[CatalogFormat.readerFactory]]: every
  * partition reads through [[CatalogColumnarReader]], so Spark never
  * asks for a row reader. `outIdx` maps each required column to its
  * Parquet batch column (-1 = `_file`; `_pos` maps to the row index, the
  * last column); `keyAt` is the upsert key's batch column (-1 = none);
  * `batchRows` is the Parquet reader's batch capacity. */
private[sources] case class CatalogColumnarReaderFactory(
    parquet: ParquetPartitionReaderFactory, outIdx: Array[Int], keyAt: Int,
    batchRows: Int) extends PartitionReaderFactory {
  import GraftTableCatalog._
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft_cat scans read columnar only: supportColumnarReads is true " +
        "for every partition, so no row reader exists")
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    filesOpened.incrementAndGet()
    new CatalogColumnarReader(p.asInstanceOf[CatalogFilePartition], this)
  }
}

/** Reads one data file through Spark's vectorized Parquet reader.
  * `_file` and the CDF stamps ride `ConstantColumnVector`s. A row is
  * dropped when a position delete names it, when a newer upsert key
  * file holds its key, or (CDF positions-only mode) when it is not a
  * listed position. A batch that drops no row passes through
  * untouched; one that drops rows is viewed through [[RowIdVector]]s. */
private class CatalogColumnarReader(fp: CatalogFilePartition,
    f: CatalogColumnarReaderFactory) extends PartitionReader[ColumnarBatch] {
  import GraftTableCatalog._

  private val in = f.parquet.buildColumnarReader(PartitionedFile(
    InternalRow.empty, SparkPath.fromPathString(fp.path), 0L, fp.bytes,
    fileSize = fp.bytes))
  private val skips = loadDeletePositions(fp.deletePaths)
  private val posAt = f.parquet.readDataSchema.length - 1
  private val keyIsStr =
    f.keyAt >= 0 && f.parquet.readDataSchema(f.keyAt).dataType == StringType
  private val eqKeys: EqKeys.Lookup =
    EqKeys.lookup(fp.eqDeletePaths, keyIsStr, fp.fileSeq)
  private val keysOnly: Option[EqKeys.Lookup] =
    if (fp.keysOnlyPaths.isEmpty) None
    else Some(EqKeys.lookup(fp.keysOnlyPaths, keyIsStr))
  private val eqActive =
    f.keyAt >= 0 && (fp.eqDeletePaths.nonEmpty || keysOnly.isDefined)
  private val only: Array[Long] = fp.positions.map(_.sorted).orNull
  private val filtering = eqActive || only != null || skips.nonEmpty

  private var whole: ColumnarBatch = _ // the Parquet batch's columns as-is
  private var kept: ColumnarBatch = _ // the same columns through row ids
  private val rowIds = new Array[Int](f.batchRows)
  private var current: ColumnarBatch = _
  private var si = 0
  private var oi = 0
  private var read = 0L
  private var scratch = new Array[Byte](64)

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(CatalogScanMetrics.task("filesOpened", 1L),
      CatalogScanMetrics.task("rowsRead", read))

  private def bind(src: ColumnarBatch): Unit = {
    val file = new ConstantColumnVector(1, StringType)
    file.setUtf8String(UTF8String.fromString(fp.fileName))
    val base = f.outIdx.map(j => if (j < 0) file else src.column(j))
    val cols: Array[ColumnVector] =
      if (fp.changeType.isEmpty) base
      else {
        val ct = new ConstantColumnVector(1, StringType)
        ct.setUtf8String(UTF8String.fromString(fp.changeType))
        val cv = new ConstantColumnVector(1, LongType)
        cv.setLong(fp.changeVersion)
        base ++ Array[ColumnVector](ct, cv)
      }
    whole = new ColumnarBatch(cols)
    kept = new ColumnarBatch(cols.map {
      case c: ConstantColumnVector => c
      case c => new RowIdVector(c, rowIds)
    })
  }

  /** Whether the row whose key sits at row `r` of `c` survives the key
    * files: a newer key file holding it drops it, and in keys-only mode
    * only a key the listed files hold survives. */
  private def keyKeeps(c: ColumnVector, r: Int): Boolean = {
    if (c.isNullAt(r)) return keysOnly.isEmpty
    if (keyIsStr) {
      val u = c.getUTF8String(r)
      val len = u.numBytes()
      if (len > scratch.length)
        scratch = new Array[Byte](math.max(len, scratch.length * 2))
      u.writeToMemory(scratch, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
      !eqKeys.containsBytes(scratch, len) &&
        keysOnly.forall(_.containsBytes(scratch, len))
    } else {
      val v = c.getLong(r)
      !eqKeys.containsLong(v) && keysOnly.forall(_.containsLong(v))
    }
  }

  override def next(): Boolean = {
    while ((only == null || oi < only.length) && in.next()) {
      val src = in.get()
      if (whole == null) bind(src)
      val n = src.numRows()
      var k = n
      if (filtering) {
        val pos = src.column(posAt)
        val key = if (eqActive) src.column(f.keyAt) else null
        k = 0
        var r = 0
        while (r < n) {
          val p = pos.getLong(r)
          var keep = true
          if (only != null) {
            while (oi < only.length && only(oi) < p) oi += 1
            keep = oi < only.length && only(oi) == p
          } else {
            while (si < skips.length && skips(si) < p) si += 1
            keep = si >= skips.length || skips(si) != p
          }
          if (keep && key != null) keep = keyKeeps(key, r)
          if (keep) { rowIds(k) = r; k += 1 }
          r += 1
        }
      }
      if (k > 0) {
        current = if (k == n) whole else kept
        current.setNumRows(k)
        read += k
        return true
      }
    }
    false
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = in.close()
}

/** A column viewed through a row-id map: row `i` of the view is row
  * `ids(i)` of `base`. A batch that drops rows is compacted this way
  * without copying a value (the shape of Iceberg's
  * `ColumnVectorWithFilter`). Columns are flat, so there is no child. */
private final class RowIdVector(base: ColumnVector, ids: Array[Int])
    extends ColumnVector(base.dataType()) {
  override def close(): Unit = ()
  override def hasNull(): Boolean = base.hasNull()
  override def numNulls(): Int =
    throw new UnsupportedOperationException("a row-id view counts no nulls")
  override def isNullAt(r: Int): Boolean = base.isNullAt(ids(r))
  override def getBoolean(r: Int): Boolean = base.getBoolean(ids(r))
  override def getByte(r: Int): Byte = base.getByte(ids(r))
  override def getShort(r: Int): Short = base.getShort(ids(r))
  override def getInt(r: Int): Int = base.getInt(ids(r))
  override def getLong(r: Int): Long = base.getLong(ids(r))
  override def getFloat(r: Int): Float = base.getFloat(ids(r))
  override def getDouble(r: Int): Double = base.getDouble(ids(r))
  override def getArray(r: Int): ColumnarArray = base.getArray(ids(r))
  override def getMap(r: Int): ColumnarMap = base.getMap(ids(r))
  override def getDecimal(r: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(ids(r), precision, scale)
  override def getUTF8String(r: Int): UTF8String = base.getUTF8String(ids(r))
  override def getBinary(r: Int): Array[Byte] = base.getBinary(ids(r))
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException("graft_cat columns are flat")
}

/** Builds a [[CatalogFileWriter]]'s Parquet writer over a local file. */
private final class CatalogParquetBuilder(out: OutputFile)
    extends ParquetWriter.Builder[InternalRow, CatalogParquetBuilder](out) {
  override def self(): CatalogParquetBuilder = this
  override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
    new ParquetWriteSupport

  /** Parquet's split-block bloom filter on each of `cols`, sized
    * adaptively: the writer keeps 8 candidate sizes from 256 KiB down to
    * 2 KiB, each sized for a 0.1% false-positive rate, and ships the
    * smallest that holds the distinct values it saw: 2 KiB for 1,000
    * longs, 128 KiB for 50,000 and 256 KiB for 125,000. */
  def withBlooms(cols: Seq[String]): CatalogParquetBuilder =
    if (cols.isEmpty) this
    else cols.foldLeft(withAdaptiveBloomFilterEnabled(true)
        .withMaxBloomFilterBytes(256 * 1024)) { (b, c) =>
      b.withBloomFilterEnabled(c, true).withBloomFilterCandidateNumber(c, 8)
        .withBloomFilterFPP(c, 0.001)
    }
}

/** The one data-file encoder, used by the task writers
  * ([[CatalogWriterFactory]]) and the driver-side rewrites
  * ([[CatalogFormat.writeLocalFile]]) alike. Rows go to Spark's
  * `ParquetWriteSupport` through a `LocalOutputFile`, under `fileSchema`
  * (the columns tagged with their field ids) and a `conf` built once by
  * [[CatalogFormat.writerConf]]. Per-column stats ride alongside in
  * PRIMITIVE arrays: min/max and exact sums for LONGs, null presence and
  * NDV sketches. The columns at `bloomPos` get Parquet bloom filters
  * ([[CatalogParquetBuilder.withBlooms]]). */
private[sources] final class CatalogFileWriter(dataDir: File, stem: String,
    tuple: Seq[String], fileSchema: StructType, conf: Configuration,
    bloomPos: Array[Int]) {
  import GraftTableCatalog._
  val name = stem + DataFileSuffix
  private val file = new File(dataDir, name)
  private val types = fileSchema.fields.map(_.dataType)
  private val ids = fileSchema.fields.map(ParquetUtils.getFieldId)
  // a char switch beats a DataType match in the per-value hot loop
  private val tcodes: Array[Char] = types.map(Codec.typeCode)
  private val writer = new CatalogParquetBuilder(new LocalOutputFile(file.toPath))
    .withConf(conf)
    .withCompressionCodec(CompressionCodecName.fromConf(
      conf.get(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION)))
    .withBlooms(bloomPos.toSeq.map(fileSchema(_).name))
    .build()
  private var rows = 0L
  private val hasNull = new Array[Boolean](types.length)
  private val hasVal = new Array[Boolean](types.length)
  private val lo = new Array[Long](types.length)
  private val hi = new Array[Long](types.length)
  // exact per-column sums over non-null LONG values; a column that
  // overflows Long drops out (SUM pushdown then declines)
  private val sum = new Array[Long](types.length)
  private val sumBad = new Array[Boolean](types.length)
  // per-column distinct sketches (LONG + STRING), 2 KiB each —
  // one mix + one OR per non-null value on the hot path
  private val ndvs: Array[NdvSketch] = Array.tabulate(types.length)(i =>
    if (tcodes(i) != 'D') new NdvSketch else null)
  private var scratch = new Array[Byte](64)

  def writeRow(row: InternalRow): Unit = {
    val n = tcodes.length
    var i = 0
    while (i < n) {
      if (row.isNullAt(i)) hasNull(i) = true
      else (tcodes(i): @annotation.switch) match {
        case 'L' =>
          val v = row.getLong(i)
          if (hasVal(i)) {
            if (v < lo(i)) lo(i) = v
            if (v > hi(i)) hi(i) = v
          } else { hasVal(i) = true; lo(i) = v; hi(i) = v }
          if (!sumBad(i)) {
            val s0 = sum(i); val s1 = s0 + v
            if (((s0 ^ s1) & (v ^ s1)) < 0) sumBad(i) = true
            else sum(i) = s1
          }
          ndvs(i).add(mixLong(v))
        case 'S' =>
          // a UTF8String's bytes ARE the UTF-8 encoding the hash mixes
          val u = row.getUTF8String(i)
          val len = u.numBytes()
          if (len > scratch.length)
            scratch = new Array[Byte](Integer.highestOneBit(len) << 1)
          u.writeToMemory(scratch,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
          ndvs(i).add(mixBytes(scratch, len))
        case _ => ()
      }
      i += 1
    }
    writer.write(row)
    rows += 1
  }

  private def statsMap: Map[String, (Long, Long)] =
    types.indices.collect {
      case i if tcodes(i) == 'L' && hasVal(i) =>
        s"#${ids(i)}" -> (lo(i), hi(i))
    }.toMap
  private def sumsMap: Map[String, Long] =
    types.indices.collect {
      case i if tcodes(i) == 'L' && hasVal(i) && !sumBad(i) =>
        s"#${ids(i)}" -> sum(i)
    }.toMap
  private def ndvMap: Map[String, Long] =
    types.indices.collect {
      case i if ndvs(i) != null && rows > 0 =>
        s"#${ids(i)}" -> ndvs(i).estimate(rows)
    }.toMap
  /** Idempotent: the Parquet writer closes once. */
  def closeOut(): Unit = writer.close()

  /** Close the file and describe it as a
    * manifest entry: stats key by field id, and null presence is kept so
    * pruning and metadata DELETE keep their proofs. */
  def finish(seq: Long, specId: Int): Entry = {
    closeOut()
    val nullFree = types.indices.collect {
      case i if !hasNull(i) => s"#${ids(i)}"
    }.toSet
    Entry(name, rows, file.length(), types.length, statsMap,
      nullFree, ids.toSeq, tcodes.mkString,
      tuple, Seq.empty, seq, specId, sumsMap,
      if (rows > 0) bloomPos.toSeq.map(ids(_)) else Seq.empty, ndvMap)
  }
}
