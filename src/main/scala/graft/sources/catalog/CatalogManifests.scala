package graft.sources

import java.io.File
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import CatalogFormat.DataFileSuffix
import CatalogPruning._

/** The manifest and segment file grammar: entry lines, manifest lists,
  * segment summaries, and the lazy planning view of a manifest. */
private[sources] object CatalogManifests {
  import GraftTableCatalog._

  /** One segment entry line, as [[entryLine]] writes it: 17 tab-separated
    * fields, ids and type codes for every column. Anything shorter or
    * without them was written before manifest v2 and is refused. */
  private[sources] def parseEntryLine(f: File, a: Array[String]): Entry = {
    def preV2(why: String): Nothing = throw new IllegalStateException(
      s"$f: $why; the table predates manifest v2 and must be recreated")
    if (a.length < 17) preV2(s"an entry line has ${a.length} fields, not 17")
    val cols = a(4).toInt
    val ids = if (a(7).isEmpty) Seq.empty[Int]
      else a(7).split(",").map(_.toInt).toSeq
    if (ids.length != cols || a(8).length != cols ||
        a(8).exists(c => "LDS".indexOf(c) < 0))
      preV2(s"entry ${a(1)} lacks field ids or type codes")
    if (!a(1).endsWith(DataFileSuffix)) throw new IllegalStateException(
      s"$f: entry ${a(1)} is not a Parquet data file; the table predates " +
        "the Parquet data format and must be recreated")
    def longs(i: Int): Map[String, Long] =
      if (a(i) == "-") Map.empty
      else a(i).split(";").map { s =>
        val p = s.split(":"); (p(0), p(1).toLong)
      }.toMap
    val stats = if (a(5).isEmpty) Map.empty[String, (Long, Long)]
      else a(5).split(";").map { s =>
        val p = s.split(":"); (p(0), (p(1).toLong, p(2).toLong))
      }.toMap
    val nullFree = if (a(6) == "-") Set.empty[String]
      else a(6).split(";").toSet
    val partition = if (a(9) == "-") Seq.empty[String]
      else a(9).split(";").toSeq
    val deletes = if (a(10) == "-") Seq.empty[DeleteFile]
      else a(10).split(";").map { s =>
        val p = s.split(":"); DeleteFile(p(0), p(1).toLong)
      }.toSeq
    val bloomCols = if (a(14) == "-") Seq.empty[Int]
      else a(14).split(";").map(_.toInt).toSeq
    Entry(a(1), a(2).toLong, a(3).toLong, cols, stats, nullFree, ids, a(8),
      partition, deletes, a(11).toLong, a(12).toInt, longs(13), bloomCols,
      longs(15))
  }

  /** Parse one SEGMENT file (a block of F lines). Counted — the
    * planning-pruning pins read [[segmentsRead]]. */
  private[sources] def loadSegment(dir: File, name: String): Seq[Entry] = {
    segmentsRead.incrementAndGet()
    val f = new File(dir, name)
    new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty)
      .map(l => parseEntryLine(f, l.split("\t", -1))).toSeq
  }

  /** The list-level pieces of a version manifest, WITHOUT loading any
    * referenced segment: header, segment refs, eq-delete runs, epochs.
    * Planning prunes `refs` by partition summary before reading a single
    * segment; everything else loads eagerly via [[parseManifest]]. File
    * entries live only in segments: an inline `F` line is a pre-v2
    * manifest and is refused. */
  private[sources] def parseManifestList(f: File)
      : (String, Long, Seq[SegRef], Set[String], Seq[EqDelete]) = {
    val lines = new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty).toSeq
    if (lines.exists(_.startsWith("F\t")))
      throw new IllegalStateException(s"$f: inline F entries; the table " +
        "predates manifest v2 and must be recreated")
    val op = lines.collectFirst { case l if l.startsWith("O\t") =>
      l.split("\t")(1) }.getOrElse("unknown")
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
    (op, commitMs, refs, epochs, eq)
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
    val (op, commitMs, refs, epochs, eq) = parseManifestList(f)
    val byName = loadSegments(f.getParentFile, refs.map(_.name))
    val segs = refs.map(r => Segment(r, byName(r.name)))
    Manifest(version, op, segs.flatMap(_.entries), epochs, commitMs, eq,
      segs)
  }

  /** The PLANNING view of a manifest: list-level facts (version, op,
    * epochs, eq-delete runs, segment refs) parsed eagerly; file entries
    * loaded PER SEGMENT, on demand, after partition-summary pruning —
    * so a point probe on a 1024-file table parses only the segments
    * whose partition ranges may match, not the whole file list. */
  private[sources] final class PlanManifest(val dir: File,
      val version: Long, val op: String, val epochs: Set[String],
      val eqDeletes: Seq[EqDelete], refs: Seq[SegRef]) {
    private val cache =
      scala.collection.mutable.HashMap.empty[String, Seq[Entry]]
    /** Load the named segments, fetching the uncached ones in ONE
      * parallel batch ([[loadSegments]]). */
    private def segs(names: Seq[String]): Seq[Entry] = {
      val missing = names.filterNot(cache.contains)
      if (missing.nonEmpty) cache ++= loadSegments(dir, missing)
      names.flatMap(cache)
    }
    def files: Seq[Entry] = segs(refs.map(_.name))
    def pruned(filters: Array[Filter], schema: StructType, mp: ColMapping,
        specs: Seq[Seq[PT]]): Seq[Entry] =
      if (filters.isEmpty) files
      else segs(refs
        .filter(r => segMayMatch(r.summary, filters, schema, mp, specs))
        .map(_.name))
  }

  private[sources] def emptyPlan(dir: File): PlanManifest =
    new PlanManifest(dir, 0, "none", Set.empty, Seq.empty, Seq.empty)

  private[sources] def parsePlan(dir: File, f: File, version: Long)
      : PlanManifest = {
    val (op, _, refs, epochs, eq) = parseManifestList(f)
    new PlanManifest(dir, version, op, epochs, eq, refs)
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
      .flatMap(f => parseManifestList(f)._3.map(_.name)).toSet
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

  private[sources] def entryLine(e: Entry): String = {
    val st = e.stats.toSeq.sortBy(_._1)
      .map { case (c, (lo, hi)) => s"$c:$lo:$hi" }.mkString(";")
    val nf = if (e.nullFree.isEmpty) "-"
      else e.nullFree.toSeq.sorted.mkString(";")
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
    s"F\t${e.name}\t${e.rows}\t${e.bytes}\t${e.cols}\t$st\t$nf\t${e.fieldIds.mkString(",")}\t${e.typeCodes}\t$part\t$dels\t${e.seq}\t${e.specId}\t$sm\t$bl\t$nv\t-"
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
}
