package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, View, ViewInfo}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import CatalogFormat._
import CatalogManifests._

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
        // debt, and files older than an outstanding equality delete
        // (upsert debt)
        val maxEqSeq = if (m.eqDeletes.isEmpty) 0L
          else m.eqDeletes.map(_.seq).max
        val eqCtx = upsertCtx(dir, schema, m.eqDeletes)
        lazy val readLive = readAligned(dir, schema, mp, eqCtx)
        val (cand, big) = m.files.partition(e =>
          e.bytes < target || e.deletes.nonEmpty || e.seq < maxEqSeq)
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
                  bin.head.seq >= maxEqSeq)
                bin.head // nothing to gain from a rewrite
              else {
                val rows = bin.flatMap(e => readLive(e).map(_._2))
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
              if (deleteDataFile(new File(dir, "data"), n))
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
            if (deleteDataFile(new File(dir, "data"), n))
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
  * strand data files and delete files by DESIGN (a failed commit
  * leaves garbage, never a dangling reference), and this sweep reclaims
  * them. A file in `data/` is an ORPHAN iff no existing manifest — any
  * main version still on disk, any branch commit — references it. The
  * grace window is the in-flight-writer guard: a file
  * younger than `older_than_ms` may belong to a commit whose manifest
  * is not yet published, so it always survives; size the window above
  * the longest plausible write (Iceberg defaults to 3 days). Also
  * sweeps manifest-list segment files referenced by no list. */
private class RemoveOrphansProcedure(cat: GraftTableCatalog)
    extends UnboundProcedure {
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
            if (!referenced.contains(f.getName) &&
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
  * output files split at `target_bytes`, bloom filters rebuild, rows
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
        lazy val readLive = readAligned(dir, schema, mp, eqCtx)
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
            val rows = es.flatMap(e => readLive(e).map(_._2))
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
    * stats, sums, ndv sketches and bloom filters all rebuild for free
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
