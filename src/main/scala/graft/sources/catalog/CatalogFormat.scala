package graft.sources

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import CatalogFormat._
import CatalogPruning._

/** The data-file format helpers: storage type codes, bloom sidecars
  * and z-order keys, the NDV sketch, position delete files, and
  * whole-file rewrite/decode through [[CatalogFileWriter]] and
  * [[CatalogColumnarReader]]. */
private[sources] object CatalogFormat {
  import GraftTableCatalog._

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

/** The one data-file encoder, used by the task writers
  * ([[CatalogWriterFactory]]) and the driver-side rewrites
  * ([[CatalogFormat.writeLocalFile]]) alike. Each row is a null
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
      nullFree, ids.toSeq, types.map(Codec.typeCode).mkString,
      tuple, Seq.empty, seq, specId, sumsMap,
      if (rows > 0) bloomPos.toSeq.map(ids(_)) else Seq.empty, ndvMap)
  }
}
