package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Scale

/** Scale-pattern queries: q28 salted aggregation over the (5-value, i.e.
  * maximally skewed) event_type key; q29 bucketed co-located fact join.
  * Results are byte-identical to their unsalted/unbucketed equivalents —
  * which is exactly what the oracles assert. */
object ScaleQueries {
  import Queries.Q

  /** q28: two-stage salted count+sum by event_type. Oracle is the DIRECT
    * aggregation — the algebraic merge must be exact (decimal sums). */
  val q28SaltedAgg: Q = (s, d) =>
    Scale.saltedAgg(
        Tables.eventsRawNanos(s, d), col("event_type"), col("event_id"), salts = 16)(
        "cnt" -> count(lit(1)),
        "total_dec" -> sum(col("value").cast(DecimalType(18, 6))))
      .select(col("k").as("event_type"), col("cnt"),
        col("total_dec").cast(DoubleType).as("total_value"))

  /** q119: salted skew JOIN — [[graft.operators.Scale.saltedJoin]] over the
    * catalog's one genuinely pathological key (event_type: 5 values over
    * the whole events table, ~N/5 probe rows per key), enriching every
    * event with its type's total. The build side here is derived (5 rows)
    * — in the regime this operator exists for it is a type→config table
    * too big to broadcast; the mechanics are identical and the gate only
    * needs result-equality to the PLAIN join (the salt must be invisible).
    * Plan-pinned: a merge join keyed (event_type, _salt), probe exchange
    * partitioned on BOTH columns — the hot key's rows spread over 8
    * reducers — and no broadcast anywhere. */
  val q119SaltedJoin: Q = (s, d) => {
    val ev = Tables.eventsRawNanos(s, d)
    val dim = ev.groupBy(col("event_type")).agg(count(lit(1)).as("type_total"))
    Scale.saltedJoin(ev.select(col("event_id"), col("event_type")), dim,
      "event_type", probeSaltSource = col("event_id"), salts = 8)
  }

  /** Scale-dir tag for write-once table names: layouts from different
    * scales must never alias each other. */
  private[graft] def sfTag(d: String): String =
    java.nio.file.Paths.get(d).getFileName.toString.replaceAll("[^A-Za-z0-9]", "_")

  /** q29: lineitem ⋈ orders on the order key, both sides bucketed (16
    * buckets) on that key — the join itself is exchange-free AND sort-free
    * (plan-asserted in PlanSpec); only the final small aggregation
    * shuffles. Sort-free is earned in two halves: [[Scale.writeBucketed]]
    * writes ONE sorted file per bucket (a reader may only trust bucket
    * sort order when the bucket is a single file), and the scoped
    * `bucketedTableScan.outputOrdering` conf makes the scan REPORT that
    * order to the planner (off by Spark's default because un-curated
    * bucketed tables rarely keep one file per bucket and the check lists
    * files at planning time — a curated write-once layout is precisely
    * the case that pays that planning cost once and saves two full sorts
    * on every join). */
  val q29BucketedJoin: Q = (s, d) =>
    SessionConf.withValue(s,
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true") {
      q29Direct(s, d).localCheckpoint(true)
    }

  /** The q29 plan builder (PlanSpec pins this inside the same scoped
    * conf; the gated entry materializes it so the conf scope closes). */
  private[graft] def q29Direct(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val tag = sfTag(d)
    val liName = s"graft_lineitem_b_$tag"
    val oName = s"graft_orders_b_$tag"
    // Regenerated source parquet (same dir, new bytes) must invalidate the
    // derived bucketed copy — the fingerprint feeds the write-once spec.
    Scale.writeBucketed(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      liName, "l_orderkey", 16, Scale.dirFingerprint(s"$d/lineitem.parquet"))
    Scale.writeBucketed(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
      oName, "o_orderkey", 16, Scale.dirFingerprint(s"$d/orders.parquet"))
    val li = s.table(liName)
    val o = s.table(oName)
    // merge hint: at test SF the orders side is broadcastable, which would
    // bypass the bucket layout; the hint pins the both-sides-large plan this
    // operator exists for (bucket-aligned SortMergeJoin, no join shuffle).
    li.join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("line_cnt"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(24, 6))).cast(DoubleType).as("revenue"))
  }

  /** q72: MERGE-style corpus upsert — the incremental form of the
    * reference's drop-and-rebuild refresh (`etl.py:22-29`; the users dim's
    * full `INSERT … SELECT DISTINCT` reload, `sql_queries.py:155-159`, is
    * the SCD1 shape this replaces). The documents corpus is CTASed into the
    * `graft_cat` table `db.corpus_base_<sf>` `PARTITIONED BY (lang)`
    * ([[corpusTable]]); a deterministic daily batch (updates: en docs with
    * doc_id % 7 = 3 get re-crawled text; inserts: en docs with
    * doc_id % 11 = 5 spawn new ids) lands by one `MERGE INTO`
    * ([[mergeCorpus]]) — update-on-match, insert-on-miss, one new table
    * version. `lang` joins the `ON` clause because an update never moves a
    * key across partitions (SCD1 on non-partition attributes), so the
    * runtime filter on `lang` leaves only the en files in the merge's scan:
    * the de/es/fr/zh data files stay referenced by name, unrewritten
    * (OperationalSpec), and PlanSpec pins the files the merge opens below
    * the table's file count. The batch is a pure function of the SOURCE
    * table, which is also what the oracle replays relationally. */
  private[graft] def mergeBatch(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val en = docs.filter(col("lang") === "en")
    val upd = en.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id"), col("lang"), lit("merge_upsert").as("source"),
        concat(lit("rev2 "), col("text")).as("text"))
    val ins = en.filter(pmod(col("doc_id"), lit(11)) === 5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        lit("merge_insert").as("source"), concat(lit("new "), col("text")).as("text"))
    // n_chars is recomputed for batch rows (en text is ASCII, so Spark's
    // and DuckDB's character counts agree) — the SCD1 "latest attributes
    // win" contract covers derived columns too.
    upd.union(ins).withColumn("n_chars", length(col("text")).cast(LongType))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
  }

  /** The corpus columns q72 and q78 keep in `graft_cat`. */
  private[graft] val CorpusCols = Seq("doc_id", "source", "n_chars", "text", "lang")

  /** A fresh `graft_cat` copy of the documents corpus, `PARTITIONED BY
    * (lang)`: drop, then CTAS of `cols` (which must include `lang`), so
    * every run starts from the raw corpus the way the q27x catalog
    * queries do. Returns the table name. */
  private[graft] def corpusTable(s: org.apache.spark.sql.SparkSession, d: String,
      stem: String, cols: Seq[String]): String = {
    val t = IngestQueries.catTable(s, d, stem)
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (lang) AS
             |SELECT ${cols.mkString(", ")}
             |FROM ${Tables.view(s, d, "documents")}""".stripMargin)
    t
  }

  /** Apply [[mergeBatch]], projected to `cols`, to the corpus table `t`
    * as one `MERGE INTO` keyed on (doc_id, lang). */
  private[graft] def mergeCorpus(s: org.apache.spark.sql.SparkSession, d: String,
      t: String, cols: Seq[String]): Unit = {
    val b = s"graft_merge_batch_${sfTag(d)}"
    mergeBatch(Tables.documents(s, d)).select(cols.map(col): _*)
      .createOrReplaceTempView(b)
    s.sql(s"""MERGE INTO $t t USING $b b
             |ON t.doc_id = b.doc_id AND t.lang = b.lang
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  }

  val q72MergeUpsert: Q = (s, d) => {
    val t = corpusTable(s, d, "corpus_base", CorpusCols)
    mergeCorpus(s, d, t, CorpusCols)
    s.table(t)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
  }

  /** q120: snapshot time travel through `graft_cat`: the documents corpus
    * is CTASed as v1 (the raw snapshot) and [[mergeCorpus]] commits q72's
    * batch as v2; both versions are TAGGED (`raw`, `merged`),
    * `sys.expire_versions` keeps the last 2, and the query reads BOTH back
    * with `VERSION AS OF '<tag>'` (0 and 1 versions ago — never
    * recomputed), emitting the per-lang profile of each. Yesterday's
    * corpus stays queryable next to today's (as-of debugging, incident
    * rollback, version diffs), bounded by retention, and a tag outlives
    * retention. The oracle recomputes both snapshots relationally — the
    * version mechanics must be invisible to results. OperationalSpec pins
    * that an expiry down to one version keeps both tags readable. */
  val q120TimeTravel: Q = (s, d) => {
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val t = corpusTable(s, d, "docs_tt", cols)
    val stem = t.split('.').last
    val dir = IngestQueries.catDir(s, stem)
    def tag(name: String): Unit = s.sql(s"CALL graft_cat.sys.tag('db', " +
      s"'$stem', '$name', ${graft.sources.GraftTableCatalog.readLatest(dir)})")
    tag("raw")
    mergeCorpus(s, d, t, cols)
    tag("merged")
    s.sql(s"CALL graft_cat.sys.expire_versions('db', '$stem', 2)")
    def profile(ago: Int, name: String) =
      s.sql(s"SELECT * FROM $t VERSION AS OF '$name'")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .select(lit(ago).as("versions_ago"), col("lang"),
          col("n_docs"), col("total_chars"))
    profile(0, "merged").unionByName(profile(1, "raw"))
  }

  /** The write-once layout tables OWNED by each catalog query (base names;
    * the sf tag is appended per scale). One map to extend when a new
    * write-once layout is added — it feeds both the global purge below and
    * Bench's per-iteration resets (each layout query must pay its OWN
    * build in every timed iteration, or the reported minimum is always the
    * warm readback and a build regression is invisible). */
  val layoutsByQuery: Map[String, Seq[String]] = Map(
    "q29_bucketed_join"     -> Seq("graft_lineitem_b", "graft_orders_b"),
    "q51_partition_pruning" -> Seq("graft_docs_part"),
    "q126_layout_audit"     -> Seq("graft_docs_part"),
    "q128_zone_map"         -> Seq("graft_events_zm", "graft_events_zmidx"),
    "q169_bloom_skipping"   -> Seq("graft_docs_bl", "graft_docs_blidx"),
    "q132_checkpoint_resume" -> Seq("graft_kmeans_ckpt"),
    "q52_ann_ivf_pruned"    -> Seq("graft_emb_ivf"),
    "q235_sketch_store"     -> Seq("graft_sketch_daily"),
    "q238_profile_history"  -> Seq("graft_profile_daily"),
    "q55_compaction"        -> Seq("graft_docs_compact"),
    "q56_schema_evolution"  -> Seq("graft_evo_a", "graft_evo_b"),
    "q237_orc_scan"         -> Seq("graft_orders_orc"),
    "q57_zorder_layout"     -> Seq("graft_events_z"),
    "q205_hilbert_layout"   -> Seq("graft_events_h"),
    "q217_incremental_sessions" -> Seq("graft_sessions_state"),
    "q73_incremental_dedup" -> Seq("graft_corpus_sh", "graft_corpus_bands"),
    "q78_incremental_refresh" -> Seq("graft_corpus_fp", "graft_corpus_fpb"),
    "q103_incremental_agg"  -> Seq("graft_lang_state"),
    "q153_ivm_join"         -> Seq("graft_ivm_state"),
    "q173_grain_cascade"    -> Seq("graft_daily_state"))

  /** Drop the given sf-tagged write-once layouts (catalog entries + files)
    * so the next run measures the build, not a warm reuse. */
  def purgeLayouts(s: org.apache.spark.sql.SparkSession, d: String,
      baseNames: Seq[String]): Unit = {
    val tag = sfTag(d)
    baseNames.foreach { b =>
      val t = s"${b}_$tag"
      s.sql(s"DROP TABLE IF EXISTS $t")
      Scale.deleteRecursively(java.nio.file.Paths.get(
        new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, t))
    }
  }

  /** Drop EVERY sf-tagged write-once layout — Bench's whole-catalog purge
    * when the warmup scale equals the timed scale. */
  def purgeWriteOnceLayouts(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    purgeLayouts(s, d, layoutsByQuery.values.flatten.toSeq)

  /** q51: partition-pruned read over a Hive-partitioned layout. The
    * documents table is materialized once per scale partitioned by lang
    * (`lang=en/`, `lang=de/`, …); the read-back filter on the partition key
    * is resolved at PLANNING time — the scan lists only the two matching
    * directories (PartitionFilters, plan-pinned), the other languages'
    * files are never opened. The oracle filters the flat table: layout must
    * not change results, only pruning. */
  val q51PartitionPruning: Q = (s, d) => {
    val tag = sfTag(d)
    val lay = Scale.writePartitioned(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"), col("lang")),
      s"graft_docs_part_$tag", "lang", Scale.dirFingerprint(s"$d/documents.parquet"))
    lay.read(s)
      .filter(col("lang").isin("en", "de"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** q126: derived-layout integrity audit — the consistency check every
    * lake with write-once derived copies (q51's partitioned layout here)
    * needs on a schedule: per partition key, row counts AND an
    * order-independent content signature (bit_xor of the row-digest
    * hash60 — XOR is commutative/associative with no overflow, so ANY
    * partitioning computes the same signature) from BOTH the source table
    * and the layout, full-outer-merged so a missing partition on either
    * side still surfaces as a row with `consistent = false`. A stale,
    * truncated, or bit-rotted layout shows exactly which partition
    * diverged; the healthy state is all-true (which is what the oracle —
    * computing both legs from the SAME source relation — asserts, plus
    * the signature arithmetic itself).
    *
    * Scale shape: two scan-shaped aggregations (map-side-collapsed to one
    * row per lang) and a 5-row merge join — the audit never moves data,
    * only signatures. */
  val q126LayoutAudit: Q = (s, d) => {
    val layout = Scale.writePartitioned(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"), col("lang")),
      s"graft_docs_part_${sfTag(d)}", "lang", Scale.dirFingerprint(s"$d/documents.parquet"))
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lang"), graft.operators.TextOps.hash60(concat_ws("|",
        col("doc_id"), col("source"), col("n_chars"))).as("h"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("rows"), expr("bit_xor(h)").as("sig"))
    val src = sig(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang")))
      .withColumnsRenamed(Map("rows" -> "src_rows", "sig" -> "src_sig"))
    val lay = sig(layout.read(s))
      .withColumnsRenamed(Map("rows" -> "layout_rows", "sig" -> "layout_sig"))
    src.join(lay, Seq("lang"), "full_outer")
      .select(col("lang"), col("src_rows"), col("layout_rows"),
        col("src_sig"), col("layout_sig"),
        (col("src_rows") <=> col("layout_rows") &&
          col("src_sig") <=> col("layout_sig")).as("consistent"))
  }

  /** q127: targeted forget-delete — the GDPR/right-to-be-forgotten (and
    * takedown/retention-purge) capability: a `DELETE FROM` over the
    * corpus's own lang-partitioned `graft_cat` copy ([[corpusTable]])
    * removes a deterministic target set (de docs with doc_id ≡ 2 mod 5)
    * and the query returns the post-delete corpus. `pmod` rules out a
    * metadata-only delete, so Spark's row-level plan runs, and the
    * `lang = 'de'` conjunct prunes its rewrite to de's files; a re-run
    * finds no targets and writes no data file; a delete covering a whole
    * partition drops its files metadata-only (OperationalSpec pins all
    * three). The oracle is the
    * source minus the target predicate — the delete machinery must be
    * invisible to surviving rows. */
  val q127ForgetDelete: Q = (s, d) => {
    val t = corpusTable(s, d, "docs_del", Seq("doc_id", "source", "n_chars", "lang"))
    s.sql(s"DELETE FROM $t WHERE lang = 'de' AND pmod(doc_id, 5) = 2")
    s.table(t).select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** q128: zone-map data skipping — the EXPLICIT file-level form of the
    * pruning q57's Z-order gets implicitly from parquet row-group stats
    * (and the mechanism behind Delta/Iceberg file-stats skipping): events
    * lay out range-partitioned by `value` (8 files, each covering a tight
    * value interval), and a per-file (min, max, rows) zone map is
    * PERSISTED as a write-once sidecar table fingerprint-chained to the
    * layout it indexes — exactly q169's Bloom-sidecar discipline (layout
    * rebuild → new file names/mtimes → new fingerprint → sidecar
    * rebuilds). A selective BETWEEN predicate consults the SIDECAR first —
    * only files whose interval intersects the predicate are handed to the
    * scan; the rest are never opened. The sidecar is BUILT from the
    * layout's parquet footers ([[graft.sources.Footers]]: one driver-side
    * metadata read per file, no layout scan and no Spark job besides the
    * sidecar's one-file write), and each query-time consult reads only
    * sidecar rows: both are bounded by FILE COUNT (that is what makes
    * external indexes work: metadata ∝ files, not rows). A file whose
    * footer has no min/max for `value` (parquet-java writes none for a
    * double column holding a NaN) is indexed as (−∞, +∞), so it is always
    * a hit; a zero-row file gets no sidecar row.
    * OperationalSpec asserts real skipping (hit files < total files) and
    * relocation-proof name resolution; MetricsSpec pins that the
    * consult's ONLY scan is the sidecar (8 rows, never the layout); the
    * oracle is the flat filter — skipping must be invisible to
    * results. */
  private val ZM_LO = 40.0
  private val ZM_HI = 45.0
  private[graft] val ZM_FILES = 8

  /** Build (write-once) the range layout + its zone-map sidecar; return
    * both. The sidecar is one row per file: (f, vlo, vhi, n_rows). */
  private[graft] def zoneMapLayout(s: org.apache.spark.sql.SparkSession,
      d: String): (Scale.Layout, Scale.Layout) = {
    val lay = Scale.writeOnce(
      Tables.events(s, d).select(col("event_id"), col("value"))
        .filter(col("value").isNotNull)
        .repartitionByRange(ZM_FILES, col("value")),
      s"graft_events_zm_${sfTag(d)}", Scale.dirFingerprint(s"$d/events.parquet"))
    // The sidecar stores file NAMES, not absolute paths: the write-once
    // fingerprint (relative names + size + mtime) is relocation-blind, so
    // a moved/re-rooted warehouse (mv, rsync -a, CI cache restore) would
    // read "intact" while absolute paths pointed at the old root. Names
    // resolve against the layout dir at consult time — relocation-proof.
    val idx = Scale.writeOnce(zoneMapIndex(s, lay),
      // the tag versions the sidecar's CONTENT discipline (file names;
      // footer-built, a file without min/max indexed as (−∞, +∞)), which
      // schema alone can't distinguish: a sidecar built under an older
      // discipline must not satisfy the spec
      s"graft_events_zmidx_${sfTag(d)}", s"names/v3|${Scale.dirFingerprint(lay.dir)}")
    (lay, idx)
  }

  /** The zone-map sidecar rows of `lay`, one per non-empty file, from the
    * files' footers, as a one-partition local frame. */
  private[graft] def zoneMapIndex(s: org.apache.spark.sql.SparkSession,
      lay: Scale.Layout): org.apache.spark.sql.DataFrame = {
    val rows = graft.sources.Footers.columnRanges(s, lay.dir, "value")
      .filter(_.rows > 0)
      .map { r =>
        val (lo, hi) = r.bounds.getOrElse((Double.NegativeInfinity, Double.PositiveInfinity))
        org.apache.spark.sql.Row(r.file, lo, hi, r.rows)
      }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("f", StringType), StructField("vlo", DoubleType),
      StructField("vhi", DoubleType), StructField("n_rows", LongType))))
      .coalesce(1)
  }

  /** The file NAME of the scan's current input — what a portable sidecar
    * indexes by (absolute paths break when the layout relocates). */
  private[graft] def fileBasename: org.apache.spark.sql.Column =
    regexp_extract(input_file_name(), "[^/]+$", 0)

  val q128ZoneMap: Q = (s, d) => {
    val (lay, idx) = zoneMapLayout(s, d)
    val hit = zoneMapHits(s, idx, ZM_LO, ZM_HI)
    (if (hit.isEmpty) lay.read(s).limit(0) else lay.read(s, hit: _*))
      .filter(col("value") >= ZM_LO && col("value") <= ZM_HI)
      .select(col("event_id"), col("value"))
  }

  /** The sidecar read the consult is allowed — exposed as a DataFrame so
    * MetricsSpec can prove the consult's only scan is the sidecar. */
  private[graft] def zoneMapConsult(s: org.apache.spark.sql.SparkSession,
      idx: Scale.Layout): org.apache.spark.sql.DataFrame =
    idx.read(s).select(col("f"), col("vlo"), col("vhi"))

  /** The zone-map consultation: file names whose [vlo, vhi] interval
    * intersects [lo, hi], FROM THE SIDECAR ONLY — the layout is never
    * scanned here (MetricsSpec pins that). Driver-side collect ∝ file
    * count; callers resolve names against the layout dir. */
  private[graft] def zoneMapHits(s: org.apache.spark.sql.SparkSession,
      idx: Scale.Layout, lo: Double, hi: Double): Seq[String] =
    zoneMapConsult(s, idx)
      .collect()
      .filter(r => r.getDouble(1) <= hi && r.getDouble(2) >= lo)
      .map(_.getString(0)).toSeq

  /** q169: BLOOM-FILTER file skipping — the point-lookup complement of
    * q128's zone maps: min/max intervals prune range predicates but are
    * useless for equality lookups on a key the layout is NOT ordered by
    * (here the layout is range-partitioned by n_chars, so every file's
    * doc_id interval spans the whole domain). A per-file Bloom filter —
    * [[BF_K]] md5-derived bit positions per key in an [[BF_M]]-bit bitmap,
    * the q154/q165 word monoid again, so the filter builds as one
    * map-side bit_or aggregate — answers "might this file contain key x"
    * from [[BF_M]]/63 words of metadata per file. The index is a
    * WRITE-ONCE SIDECAR table fingerprint-chained to the layout it
    * indexes (layout rebuild → new file names → sidecar rebuilds), which
    * is exactly the Delta/Iceberg/Parquet-bloom deployment shape: metadata
    * ∝ files, consulted BEFORE the scan, only candidate files opened.
    * False positives cost an extra file read, never a wrong row — the
    * flat-filter oracle enforces that. OperationalSpec asserts the
    * candidate set is a strict subset of the files and that an absent key
    * blooms negative (zero files opened).
    *
    * Scale shape: the probe reads ~[[BF_FILES]]·[[BF_M]]/63 sidecar rows
    * (driver-side, bounded by file count), then scans ONLY candidate
    * files with the IN-list pushed to parquet. At 100 TB the sidecar for
    * a million-file table is ~65M tiny rows — still a metadata-scale
    * lookup joinable against probe batches instead of collected. */
  private[graft] val BF_M = 4096L
  private[graft] val BF_K = 4
  private val BF_FILES = 16
  /** Probe workload: keys present at every scale + one key absent at every
    * scale (doc_ids are dense 0..N−1; 999999937 exceeds any sf). */
  private[graft] val BF_PROBES: Seq[Long] =
    Seq(3L, 77L, 240L, 499L, 1234L, 2718L, 4242L, 999999937L)

  /** The Spark-side bloom positions of a key column: k salted 60-bit md5
    * hashes mod m (the q31/q37 content-stable hash discipline). */
  private def bloomPositions(key: org.apache.spark.sql.Column) = {
    import graft.operators.TextOps
    (0 until BF_K).map(i =>
      pmod(TextOps.hash60(concat(lit(s"bf$i:"),
        key.cast(StringType))), lit(BF_M)))
  }

  /** The same positions for a literal key, driver-side (bit-identical md5
    * arithmetic — this is the probe path, which never touches the data). */
  private[graft] def bloomPositionsJvm(key: Long): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until BF_K).map { i =>
      val hex = md.digest(s"bf$i:$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % BF_M
    }
  }

  /** Build (write-once) the layout + its bloom sidecar; return both. */
  private[graft] def bloomLayout(s: org.apache.spark.sql.SparkSession,
      d: String): (Scale.Layout, Scale.Layout) = {
    val lay = Scale.writeOnce(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartitionByRange(BF_FILES, col("n_chars"), col("doc_id")),
      s"graft_docs_bl_${sfTag(d)}",
      Scale.dirFingerprint(s"$d/documents.parquet"))
    val pos = bloomPositions(col("doc_id"))
    val idx = Scale.writeOnce(
      lay.read(s)
        // file NAMES, not absolute paths — same relocation-proofing as the
        // q128 zone-map sidecar (the fingerprint can't see a moved root)
        .select(fileBasename.as("f"), col("doc_id"))
        .select(col("f"), explode(array(pos: _*)).as("pos"))
        .select(col("f"), expr("pos div 63").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").as("m"))
        .groupBy(col("f"), col("word")).agg(expr("bit_or(m)").as("mask")),
      // names/v2: see zoneMapLayout — a stale absolute-path sidecar must
      // not satisfy the spec after the name-keyed consult change
      s"graft_docs_blidx_${sfTag(d)}", s"names/v2|${Scale.dirFingerprint(lay.dir)}")
    (lay, idx)
  }

  /** Consult the sidecar: file NAMES where EVERY bit of at least one probe
    * key is set (callers resolve against the layout dir). Exposed so
    * OperationalSpec can assert real skipping. */
  private[graft] def bloomCandidates(s: org.apache.spark.sql.SparkSession,
      idx: Scale.Layout, probes: Seq[Long]): Seq[String] = {
    val masks: Map[String, Map[Long, Long]] =
      idx.read(s).collect()
        .groupBy(_.getString(0))
        .map { case (f, rs) =>
          f -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val want = probes.map(k =>
      bloomPositionsJvm(k).map(p => (p / 63, 1L << (p % 63).toInt)))
    masks.collect { case (f, words)
        if want.exists(_.forall { case (w, bit) =>
          (words.getOrElse(w, 0L) & bit) != 0L }) => f }.toSeq
  }

  val q169BloomSkipping: Q = (s, d) => {
    val (lay, idx) = bloomLayout(s, d)
    val hit = bloomCandidates(s, idx, BF_PROBES)
    (if (hit.isEmpty) lay.read(s).limit(0) else lay.read(s, hit: _*))
      .filter(col("doc_id").isin(BF_PROBES: _*))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** q55: stats-driven compaction — rewrite `documents` into ~128 KB
    * files (count from Catalyst size stats, not a constant) and read the
    * compacted copy back. Identity semantics: the oracle reads the
    * original flat table — layout maintenance must never change data. */
  val q55Compaction: Q = (s, d) => {
    Scale.compact(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      s"graft_docs_compact_${sfTag(d)}", 128L * 1024,
      Scale.dirFingerprint(s"$d/documents.parquet"))
      .read(s).select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** q57: Z-order clustered layout — events rewritten once, globally
    * range-partitioned and sorted by the Morton interleave of
    * (user_id, floor(value)), then probed with a 2-D range predicate.
    * Sorting by z packs rows close in BOTH dimensions into the same
    * parquet row groups, so their min/max statistics skip row groups for
    * selective 2-D scans — which a single-column sort order cannot do
    * (row-group skipping happens at read time and is invisible in the
    * plan; what the oracle gates is the z arithmetic and that the layout
    * never changes the data). The build's one range exchange is the
    * honest cost — paid once, amortized over every probe. */
  private val Z_BITS = 16

  val q57ZorderLayout: Q = (s, d) => {
    val z = Scale.zOrder2(col("user_id"),
      floor(col("value")).cast(org.apache.spark.sql.types.LongType), Z_BITS)
    val lay = Scale.writeOnce(
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
        .withColumn("z", z)
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions(col("z")),
      s"graft_events_z_${sfTag(d)}",
      // The z expression's identity (not a hand-bumped literal) gates the
      // layout: an arithmetic/bits change rebuilds instead of serving
      // stale z values.
      Scale.dirFingerprint(s"$d/events.parquet") + s"|z=${z.toString.hashCode}")
    lay.read(s)
      .filter(col("user_id").between(10, 40) && col("value").between(5.0, 10.0))
      .select(col("event_id"), col("user_id"), col("value"), col("z"))
  }

  /** q205: HILBERT-curve clustered layout — q57's Z-order sibling with the
    * curve whose h-consecutive cells are always edge-adjacent (no diagonal
    * jumps), so h-sorted row groups cover tighter 2-D rectangles and
    * min/max skipping prunes at least as well for the same probes. Same
    * write-once discipline, same one range exchange paid at build, same
    * 2-D range probe; the gate pins the h arithmetic (an unrolled CTE
    * chain in the oracle — [[graft.operators.Scale.hilbert2Ctes]]) and
    * that the layout never changes the data. OperationalSpec proves
    * adjacency and bijectivity exhaustively and pins the native expression
    * to the JVM reference. */
  val q205HilbertLayout: Q = (s, d) => {
    val h = Scale.hilbert2(col("user_id"),
      floor(col("value")).cast(org.apache.spark.sql.types.LongType), Z_BITS)
    val lay = Scale.writeOnce(
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
        .withColumn("h", h)
        .repartitionByRange(8, col("h"))
        .sortWithinPartitions(col("h")),
      s"graft_events_h_${sfTag(d)}",
      // the fingerprint carries an explicit algorithm version, not the
      // Column's identity: only a change of the h VALUES may rebuild
      Scale.dirFingerprint(s"$d/events.parquet") + s"|h=hilbert2/v2/b=$Z_BITS")
    lay.read(s)
      .filter(col("user_id").between(10, 40) && col("value").between(5.0, 10.0))
      .select(col("event_id"), col("user_id"), col("value"), col("h"))
  }

  /** q173: GRAIN-CASCADE rollup maintenance — the silver→gold discipline
    * every lakehouse metrics layer runs: the FINEST grain (per-type DAILY
    * decimal moments) is the only thing computed from the corpus and is
    * persisted as a write-once state table; the coarser grains (weekly,
    * monthly) re-aggregate FROM THAT STATE — the plan's week/month
    * subtrees scan the K-row daily parquet, never events (PlanSpec pins
    * exactly that). This works because (count, decimal-sum) is the q103
    * commutative monoid, and it is the moments twin of q154's
    * week-from-day bitmap property — here promoted to a first-class gated
    * query whose oracle aggregates every grain DIRECTLY from the corpus:
    * hash-green proves state-derived ≡ recomputed, exactly, in DECIMAL.
    * Week and month both cascade from daily (never week→month: ISO weeks
    * straddle month boundaries, so months only re-aggregate from grains
    * that nest — the cascade encodes which grains nest, which IS the
    * correctness content of a rollup layer).
    *
    * Scale shape: ONE corpus exchange (the daily aggregate, map-side
    * combined) amortized across every grain and every downstream read;
    * each coarser grain is a K-row→K-row aggregate, metadata-sized. At
    * 100 TB the daily state for 5 types × years of days is a few
    * thousand rows serving every dashboard grain with zero corpus
    * re-scans. */
  val q173GrainCascade: Q = (s, d) => {
    val daily = Scale.writeOnce(
      Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("period"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).as("s")),
      s"graft_daily_state_${sfTag(d)}",
      Scale.dirFingerprint(s"$d/events.parquet")).read(s)
    def coarser(grain: String) = daily
      .groupBy(col("event_type"),
        date_trunc(grain, col("period")).as("period"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
    daily.withColumn("grain", lit("day"))
      .unionByName(coarser("week").withColumn("grain", lit("week")))
      .unionByName(coarser("month").withColumn("grain", lit("month")))
      .select(col("event_type"), col("grain"), col("period"), col("n"),
        col("s").cast(DoubleType).as("total"))
  }

  /** q103: incremental aggregate maintenance — the operational answer to
    * "our per-language corpus statistics must stay current as batches
    * land, and re-scanning 100 TB per batch is not an option". The
    * per-lang state (n_docs, n_tokens, n_chars) is an ALGEBRAIC aggregate
    * — a commutative monoid — so state ⊕ delta(batch) ≡ recompute(corpus ∪
    * batch); that equivalence is exactly what the DuckDB oracle gates
    * (the oracle recomputes from scratch; the engine never does). Derived
    * non-algebraic stats (avg here) are computed at READ time from the
    * monoid fields — the rule that makes a stat maintainable.
    *
    * Scale shape: the corpus contributes through its materialized
    * write-once state (a K-row parquet, K = |langs|); the only scan of
    * the raw documents table in the steady-state plan is the BATCH, with
    * the doc_id split pushed to the parquet scan (plan-pinned). The merge
    * union is K+K rows into a K-row aggregate — free. A new batch costs
    * O(batch), never O(corpus). */
  /** The q103 monoid builder — also the streaming twin: applied to a
    * document feed, Structured Streaming's aggregation state IS this
    * monoid (each micro-batch folds its delta into the per-group sums),
    * so a Complete-mode stream equals the batch aggregate under any
    * chopping of the feed (StreamingSpec). */
  private[graft] def langStats(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("text").isNotNull)
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(org.apache.spark.sql.functions.size(
          graft.operators.TextOps.words(col("text"))).cast(
            org.apache.spark.sql.types.LongType)).as("n_tokens"),
        sum(length(col("text")).cast(
          org.apache.spark.sql.types.LongType)).as("n_chars"))

  val q103IncrementalAgg: Q = (s, d) => {
    val state = Scale.writeOnce(
      langStats(Tables.documents(s, d).filter(col("doc_id") >= DedupQueries.BATCH_MAX_ID)),
      s"graft_lang_state_${sfTag(d)}",
      Scale.dirFingerprint(s"$d/documents.parquet") +
        s"|split=${DedupQueries.BATCH_MAX_ID}")
    val delta = langStats(
      Tables.documents(s, d).filter(col("doc_id") < DedupQueries.BATCH_MAX_ID))
    state.read(s).unionByName(delta)
      .groupBy(col("lang")).agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        (col("n_tokens").cast(org.apache.spark.sql.types.DoubleType) /
          col("n_docs").cast(org.apache.spark.sql.types.DoubleType))
          .as("avg_tokens"))
  }

  /** q153: incremental maintenance of a JOIN view — the delta-join algebra
    * Δ(O ⋈ L) = ΔO⋈L₀ ∪ O₀⋈ΔL ∪ ΔO⋈ΔL that differential-dataflow / DBSP
    * systems are built on, here as the q103 pattern extended from
    * aggregates to joins: q103's monoid state maintains a GROUP BY under
    * new rows; this maintains the revenue-by-(priority, returnflag) view
    * of orders ⋈ lineitem when BOTH base tables receive a batch, without
    * recomputing the base join.
    *
    * Arms: rows split old/delta by the salted-md5 arithmetic (~10% of each
    * table is "the new batch"), so all three delta terms are
    * data-exercised (ΔO⋈ΔL — new orders whose new line items arrived in
    * the same batch — matches ~1%). The base view over O₀ ⋈ L₀ is
    * materialized ONCE as a write-once K-row state layout
    * ([[Scale.writeOnce]], fingerprint-gated like q103); the returned
    * steady-state plan reads those K rows and computes ONLY delta terms.
    *
    * Exactness: revenue takes the q28 DECIMAL discipline per row, so
    * partial sums are associative and `state + Σ(delta terms)` is
    * bit-equal to the oracle's from-scratch recompute — the whole gate: an
    * IVM whose incremental answer drifts from recompute is worse than no
    * IVM. The output also carries each group's delta contribution
    * (delta_items / delta_revenue), replayed by the oracle via the same
    * arm arithmetic.
    *
    * Scale shape: delta terms BROADCAST the delta side — ΔO⋈L₀ and O₀⋈ΔL
    * build on Δ and STREAM the base scan with zero base-side exchange
    * (plan-pinned: no SortMergeJoin anywhere in the steady-state plan); a
    * batch too big to broadcast degrades to a keyed shuffle of batch plus
    * matching base keys, never a base rebuild. View state is
    * K = |priorities| × |returnflags| rows. Steady-state cost: O(base
    * scan + batch) with zero base shuffles, vs O(base join) for
    * recompute. */
  val q153IvmJoin: Q = (s, d) => {
    import graft.operators.TextOps
    // The md5-based arm split is the per-row cost center (state build +
    // every delta term filters on it). Layout-adaptive rebalance puts the
    // hash work on every core; the q84 nondeterministic fence keeps the
    // arm FILTERS from being pushed back through the exchange into the
    // one-task scan (the arm value itself is a pure function of the key —
    // the oracle replays it — the fence only blocks optimizer movement).
    def fenced(c: org.apache.spark.sql.Column) =
      when(spark_partition_id() >= 0, c)
    val o = Tables.spreadForCompute(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        fenced(pmod(TextOps.hash60(concat(lit("ivmo:"),
          col("o_orderkey").cast(StringType))), lit(10L))).as("o_arm"))
    val l = Tables.spreadForCompute(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice"), col("l_discount")),
        col("l_orderkey"), col("l_linenumber"))
      .select(col("l_orderkey"), col("l_returnflag"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(24, 6)).as("rev"),
        fenced(pmod(TextOps.hash60(concat(lit("ivml:"),
          col("l_orderkey").cast(StringType), lit(":"),
          col("l_linenumber").cast(StringType))), lit(10L))).as("l_arm"))
    def view(j: org.apache.spark.sql.DataFrame) =
      j.groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("rev")).as("r"))
    val oOld = o.filter(col("o_arm") =!= 0); val oNew = o.filter(col("o_arm") === 0)
    val lOld = l.filter(col("l_arm") =!= 0); val lNew = l.filter(col("l_arm") === 0)
    val state = Scale.writeOnce(
      view(oOld.join(lOld, col("o_orderkey") === col("l_orderkey"))),
      s"graft_ivm_state_${sfTag(d)}",
      Scale.dirFingerprint(s"$d/orders.parquet", s"$d/lineitem.parquet")
        + "|arms=10")
    val delta = view(
      broadcast(oNew).join(lOld, col("o_orderkey") === col("l_orderkey"))
        .unionByName(oOld.join(broadcast(lNew),
          col("o_orderkey") === col("l_orderkey")))
        .unionByName(broadcast(oNew).join(lNew,
          col("o_orderkey") === col("l_orderkey"))))
    state.read(s).withColumn("is_delta", lit(false))
      .unionByName(delta.withColumn("is_delta", lit(true)))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(sum(col("n")).as("n_items"),
        sum(col("r")).cast(DoubleType).as("revenue"),
        sum(when(col("is_delta"), col("n")).otherwise(0L)).as("delta_items"),
        coalesce(sum(when(col("is_delta"), col("r"))).cast(DoubleType),
          lit(0.0)).as("delta_revenue"))
  }

  /** A WAP publish refused: every failed audit by name, in audit order.
    * The job fails loudly and main keeps its previous version. */
  final case class AuditFailure(table: String, failed: Seq[String])
    extends RuntimeException(
      s"WAP audit failed for $table: ${failed.mkString(", ")}")

  /** Write-audit-publish through a `graft_cat` branch: `sys.branch` forks
    * `audit` at main's head, `df` is INSERTed into `t.branch_audit`, and
    * the audits run against the branch — the staged files readers would
    * see, not a re-plan of `df`. A full pass publishes the branch as one
    * main version (`sys.fast_forward`); any failure drops the branch
    * (reclaiming its files) and throws [[AuditFailure]], so main never
    * sees the candidate. The branch is dropped either way. */
  private[graft] def auditPublish(s: org.apache.spark.sql.SparkSession, t: String,
      df: org.apache.spark.sql.DataFrame,
      audits: Seq[(String, org.apache.spark.sql.DataFrame => Boolean)]): Unit = {
    val stem = t.split('.').last
    val v = s"graft_wap_$stem"
    s.sql(s"CALL graft_cat.sys.branch('db', '$stem', 'audit')")
    df.createOrReplaceTempView(v)
    s.sql(s"INSERT INTO $t.branch_audit SELECT * FROM $v")
    val staged = s.table(s"$t.branch_audit")
    val failed = audits.collect { case (name, check) if !check(staged) => name }
    if (failed.isEmpty)
      s.sql(s"CALL graft_cat.sys.fast_forward('db', '$stem', 'audit')")
    s.sql(s"CALL graft_cat.sys.drop_branch('db', '$stem', 'audit')")
    if (failed.nonEmpty) throw AuditFailure(t, failed)
  }

  /** q115: write-audit-publish promotion of the documents snapshot —
    * [[auditPublish]] into a fresh `graft_cat` table with the three audits
    * a fact publish always carries (non-empty, primary key unique, primary
    * key non-null), read back from main. The oracle is the identity (q55's
    * rule: promotion machinery must be invisible to results); what makes
    * the protocol REAL is OperationalSpec — a deliberately failing audit
    * must leave main's version and rows unchanged and no branch behind. */
  val q115WapPublish: Q = (s, d) => {
    val t = IngestQueries.catTable(s, d, "docs_wap")
    s.sql(s"CREATE TABLE $t (doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT)")
    auditPublish(s, t,
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      Seq(
        "non_empty" -> (df => df.count() > 0),
        "pk_unique" -> (df =>
          df.select(col("doc_id")).distinct().count() == df.count()),
        "pk_not_null" -> (df =>
          df.filter(col("doc_id").isNull).count() == 0)))
    s.table(t)
  }

  /** q239: STATS-DRIVEN BROADCAST DECISION — the cost-based-optimizer
    * demonstration. The customer dim lives as a write-once CATALOG table
    * ([[graft.operators.Scale.writeTable]]) with `ANALYZE … FOR COLUMNS`
    * row/column statistics ([[graft.operators.Scale.ensureAnalyzed]]);
    * the query joins orders to the dim filtered to ONE nation and
    * aggregates revenue by market segment. The planner knobs are scoped
    * ([[withCboConf]]): `spark.sql.cbo.enabled` +
    * `cbo.joinReorder.enabled` on, and `autoBroadcastJoinThreshold`
    * pinned to HALF the dim's catalog totalSize — so the broadcast can
    * only happen if the optimizer reasons BELOW table granularity:
    * FilterEstimation takes the equality predicate's selectivity from the
    * column stats (1/ndv(c_nationkey) ≈ 4%) and shrinks the filtered
    * dim's estimate under the threshold, flipping the join static plan to
    * BroadcastHashJoin; the identical query with CBO off keeps the
    * table-level size through the Filter (above threshold by
    * construction) and static-plans a SortMergeJoin. PlanSpec pins BOTH
    * directions of the flip ("q239 CBO: the broadcast decision is
    * provably stats-driven"); the committed `work/ab_q239_cbo.json`
    * recorded what the static decision is worth at sf0.1: with CBO the
    * fact side pays ZERO shuffle-write records, without it the whole
    * orders projection rides an exchange before AQE can rescue the join.
    * That is the 100 TB point — AQE converts SMJ→BHJ only after the
    * fact's map stage has already been written; statistics move the
    * decision to PLANNING time, before any byte shuffles (Redshift's
    * ANALYZE-fed planner role, SURVEY §4, made explicit in Catalyst).
    * Execution happens INSIDE the conf scope (localCheckpoint) so the
    * returned frame's plan was decided under the scoped stats regime. */
  private[graft] def q239DimTable(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val name = s"graft_customer_cbo_${sfTag(d)}"
    Scale.writeTable(Tables.customer(s, d), name,
      Scale.dirFingerprint(s"$d/customer.parquet"))
    Scale.ensureAnalyzed(s, name,
      Seq("c_custkey", "c_nationkey", "c_mktsegment"))
    name
  }

  private[graft] def q239Agg(s: org.apache.spark.sql.SparkSession, d: String,
      dim: String): org.apache.spark.sql.DataFrame = {
    val c = s.table(dim).filter(col("c_nationkey") === 3)
      .select(col("c_custkey"), col("c_mktsegment"))
    Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(24, 6)))
          .cast(DoubleType).as("total_price"))
  }

  /** Scoped CBO regime: estimation + join reorder + a threshold derived
    * from the dim's own catalog stats (half its totalSize — between the
    * unfiltered table size and any sane filtered estimate, at EVERY
    * scale, so the pin never depends on absolute byte counts). */
  private[graft] def withCboConf[T](s: org.apache.spark.sql.SparkSession,
      on: Boolean, thresholdBytes: BigInt)(body: => T): T =
    SessionConf.withValue(s, "spark.sql.cbo.enabled", on.toString) {
      SessionConf.withValue(s, "spark.sql.cbo.joinReorder.enabled", on.toString) {
        SessionConf.withValue(s, "spark.sql.autoBroadcastJoinThreshold",
            thresholdBytes.toString) {
          body
        }
      }
    }

  val q239CboBroadcast: Q = (s, d) => {
    val dim = q239DimTable(s, d)
    val thr = Scale.tableSizeInBytes(s, dim) / 2
    withCboConf(s, on = true, thr) {
      q239Agg(s, d, dim).localCheckpoint(true)
    }
  }

  /** An analyzed write-once catalog copy of any base table — q239's dim
    * recipe generalized for the multi-table CBO queries. */
  private[graft] def cboCatalogTable(s: org.apache.spark.sql.SparkSession,
      d: String, base: String, df: org.apache.spark.sql.DataFrame,
      statCols: Seq[String]): String = {
    val name = s"graft_${base}_cbo_${sfTag(d)}"
    Scale.writeTable(df, name, Scale.dirFingerprint(s"$d/$base.parquet"))
    Scale.ensureAnalyzed(s, name, statCols)
    name
  }

  /** q242: STATS-DRIVEN JOIN REORDER — the second half of the CBO
    * demonstration (q239 pinned the broadcast decision; this pins the
    * join-order decision). Three analyzed catalog tables — orders,
    * customer, nation — joined in a deliberately BAD written order:
    * fact ⋈ customer FIRST, then the nation dim whose `n_name` equality
    * filter keeps ONE row (selectivity 1/ndv from the ANALYZE column
    * stats). Catalyst without CBO preserves the written order, paying an
    * |orders|-sized intermediate; with `cbo.joinReorder.enabled` the
    * DP reorderer consults the stats and joins customer to the 1-row
    * filtered nation FIRST, shrinking the intermediate to |customer|/25
    * before the fact joins in. PlanSpec pins the flip STRUCTURALLY on the
    * optimized logical plan: the innermost Join's base relations are
    * {customer, nation} with CBO on and {orders, customer} with it off.
    * Results are order-independent (the oracle gates that); at 100 TB the
    * reorder is the difference between shuffling the fact against the
    * full dim product and against a pre-filtered sliver — the
    * ANALYZE-fed planning Redshift does implicitly (SURVEY §4), made
    * explicit and pinned in Catalyst. Executed inside the conf scope
    * (localCheckpoint) like q239. */
  private[graft] def q242Tables(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String, String) = (
    cboCatalogTable(s, d, "orders",
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_totalprice")),
      Seq("o_custkey", "o_orderpriority")),
    // customer reuses q239's analyzed copy VERBATIM — same table name,
    // same spec, so the two CBO queries never thrash the write-once gate
    q239DimTable(s, d),
    cboCatalogTable(s, d, "nation", Tables.nation(s, d),
      Seq("n_nationkey", "n_name")))

  private[graft] def q242Join(s: org.apache.spark.sql.SparkSession,
      tables: (String, String, String)): org.apache.spark.sql.DataFrame = {
    val (o, c, n) = tables
    // the BAD written order: fact first, selective dim last
    s.table(o)
      .join(s.table(c), col("o_custkey") === col("c_custkey"))
      .join(s.table(n), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(24, 6)))
          .cast(DoubleType).as("total_price"))
  }

  /** The reorder scope: estimation + DP join reorder, broadcast threshold
    * untouched (the reorder is a LOGICAL decision; q239 owns the
    * physical-broadcast pin). */
  private[graft] def withReorderConf[T](s: org.apache.spark.sql.SparkSession,
      on: Boolean)(body: => T): T =
    SessionConf.withValue(s, "spark.sql.cbo.enabled", on.toString) {
      SessionConf.withValue(s, "spark.sql.cbo.joinReorder.enabled", on.toString) {
        body
      }
    }

  val q242CboReorder: Q = (s, d) => {
    val tables = q242Tables(s, d)
    withReorderConf(s, on = true) {
      q242Join(s, tables).localCheckpoint(true)
    }
  }

  /** q243: RUNTIME BLOOM-FILTER JOIN PUSHDOWN — Catalyst's third runtime
    * filtering mechanism, completing the set the engine already pins
    * (dynamic partition pruning on the IVF cells; stats-driven static
    * decisions in q239/q242). A selective dim join — lineitem against
    * part filtered to ONE brand (~1/25 of the dim) — where the dim
    * predicate is on a NON-join, NON-partition column, so neither DPP
    * nor a parquet min/max pushdown on the fact can exploit it.
    * `InjectRuntimeFilter` rewrites the plan at OPTIMIZATION time: a
    * `bloom_filter_agg(xxhash64(p_partkey))` scalar subquery built over
    * the filtered dim, and a `might_contain(…, xxhash64(l_partkey))`
    * predicate inserted into the fact's scan filter — so ~24/25 of
    * lineitem dies AT THE SCAN, before paying the join exchange. The
    * broadcast threshold is pinned off inside the scope because the demo
    * is the shuffle-join regime (at 100 TB the dim exceeds any broadcast
    * threshold; a BroadcastHashJoin would filter pre-shuffle anyway and
    * make the bloom filter moot — Catalyst itself refuses to inject one
    * under a broadcast for exactly that reason). The app-side size
    * threshold is scoped to 0 because its 10 GB default is sized for
    * real clusters, not sf0.1 fixtures — the conf is the knob, the
    * rewrite is the capability. PlanSpec pins BOTH arms: with the
    * feature on the optimized plan carries `bloom_filter_agg` +
    * `might_contain`; with it off, neither. Results are
    * filter-independent (bloom false-positive rows still die in the
    * join); the oracle gates that. Executed inside the conf scope
    * (localCheckpoint), q239's discipline. */
  private[graft] def withRuntimeFilterConf[T](s: org.apache.spark.sql.SparkSession,
      on: Boolean)(body: => T): T =
    SessionConf.withValue(s, "spark.sql.optimizer.runtime.bloomFilter.enabled",
        on.toString) {
      // scoped in BOTH arms, so `enabled` is the only variable
      SessionConf.withValue(s,
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
          "0") {
        SessionConf.withValue(s, "spark.sql.autoBroadcastJoinThreshold", "-1") {
          body
        }
      }
    }

  private[graft] def q243Join(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dim = Tables.part(s, d).filter(col("p_brand") === "Brand#4")
      .select(col("p_partkey"), col("p_size"))
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_size"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(DecimalType(24, 6)))
          .cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(24, 6)))
          .cast(DoubleType).as("sum_price"))
  }

  val q243RuntimeBloom: Q = (s, d) =>
    withRuntimeFilterConf(s, on = true) {
      q243Join(s, d).localCheckpoint(true)
    }

  /** q244: AQE SKEW-JOIN SPLIT — the REACTIVE complement to q28/q119's
    * proactive salt. A merge join over a Zipf-skewed key (P(k=1) ≈ 1/2 —
    * one key owns half the corpus) where `OptimizeSkewedJoin` detects the
    * hot reduce partition from the map-output statistics at RUNTIME and
    * splits it into advisory-sized chunks, duplicating the matching build
    * partition per chunk — the executed SortMergeJoin is tagged
    * `skew=true` and no reducer carries the hot key alone. The key and
    * payload are md5-derived integer arithmetic (q187's discipline), so
    * the oracle replays them bit-for-bit in DuckDB.
    *
    * Three preconditions, each a real at-scale lesson (measured here, not
    * guessed — each was individually observed blocking the split):
    *  1. The rule's pattern needs both SMJ children to be Sort directly
    *     over a shuffle stage, and splitting must not break a parent's
    *     required distribution: an aggregate keyed on (or piggybacking
    *     on) the join key rides the join's hashpartitioning, so AQE
    *     refuses the split that would invalidate it. The demo aggregates
    *     by a key the join partitioning cannot serve (k mod 16 computed
    *     post-join), and both inputs are materialized flat.
    *  2. Split granularity is PER MAP OUTPUT: a single-mapper input
    *     cannot be split at all (the local parquet is one split). The
    *     probe side is repartitioned into 64 map tasks first — on a real
    *     cluster the fact side arrives with thousands of mappers and this
    *     step is the status quo, not an extra cost.
    *  3. Detection is on BYTES, not rows: a constant hot key compresses
    *     so well that a 50%-of-rows partition can sit below the byte
    *     threshold. The payload column is an md5-derived 60-bit integer —
    *     incompressible, so bytes track rows (at 100 TB real payloads do
    *     this on their own).
    * The scoped thresholds (32 KB skew threshold, 16 KB advisory) are
    * toy-scale resolution for the 256 MB defaults; `skewJoin.enabled` is
    * Spark's default-on — the conf scope shrinks the ruler, the split
    * logic is stock. PlanSpec pins `skew=true` with the feature on and
    * its absence with it off; results are split-independent (the oracle
    * gates that). Salt (q119) remains the plan-stable PROACTIVE form —
    * this entry is the engine catching the skew it didn't see coming. */
  private[graft] val SKEW_M = 1048576L

  private[graft] def q244SkewBase(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, d).select(
      expr(s"$SKEW_M div (cast(conv(substring(md5(concat('skew:', l_orderkey, ':', l_linenumber)), 1, 15), 16, 10) as bigint) % $SKEW_M + 1)")
        .as("k"),
      expr("cast(conv(substring(md5(concat('p:', l_orderkey, ':', l_linenumber)), 1, 15), 16, 10) as bigint)")
        .as("v"),
      col("l_quantity"))

  private[graft] def withSkewConf[T](s: org.apache.spark.sql.SparkSession,
      on: Boolean)(body: => T): T =
    SessionConf.withValue(s, "spark.sql.adaptive.skewJoin.enabled", on.toString) {
      // toy-scale rulers for the 256 MB / 64 MB cluster defaults — scoped
      // in BOTH arms so `enabled` is the only variable
      SessionConf.withValue(s,
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "32768") {
        SessionConf.withValue(s,
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0") {
          SessionConf.withValue(s,
              "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384") {
            SessionConf.withValue(s, "spark.sql.autoBroadcastJoinThreshold",
                "-1") {
              body
            }
          }
        }
      }
    }

  /** Write-once inputs (INPUT MANUFACTURING, not an engine layout — the
    * query's point is the runtime split at serve time, so the synthetic
    * Zipf corpus is not in [[layoutsByQuery]]'s per-iteration purge, the
    * q239 catalog-table treatment): probe re-laid into 64 map tasks by
    * the repartition INSIDE the measured query — the map count the join
    * exchange sees is the repartition's output count, immune to
    * small-file packing at the scan. */
  private[graft] def q244Inputs(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val fp = Scale.dirFingerprint(s"$d/lineitem.parquet")
    val base = Scale.writeOnce(q244SkewBase(s, d),
      s"graft_skew_base_${sfTag(d)}", fp)
    val dim = Scale.writeOnce(
      base.read(s).groupBy(col("k"))
        .agg(count(lit(1)).as("key_rows")),
      s"graft_skew_dim_${sfTag(d)}", fp)
    (base.read(s).repartition(64), dim.read(s))
  }

  private[graft] def q244Join(base: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    base.hint("merge").join(dim, Seq("k"))
      .groupBy(pmod(col("k"), lit(16L)).as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("key_rows")).as("sum_key_rows"),
        sum(pmod(col("v"), lit(9973L))).as("sum_vmod"),
        sum(col("l_quantity").cast(DecimalType(24, 6)))
          .cast(DoubleType).as("sum_qty"))

  val q244AqeSkewJoin: Q = (s, d) => {
    val (base, dim) = q244Inputs(s, d)
    withSkewConf(s, on = true) {
      q244Join(base, dim).localCheckpoint(true)
    }
  }

  /** q245/q246: AUTOMATIC MATERIALIZED-VIEW REWRITE — full design in
    * [[graft.plans.MvCatalog]]'s scaladoc. Here: the write-once summary
    * of `documents` at (lang, source) grain with the four distributive
    * measures, registered for the query's scope; the query itself is
    * written against the RAW documents scan and never mentions the MV.
    * q245 serves the MV's own grain; q246 NAVIGATES to a coarser grain
    * (lang only — the monoid re-merge: counts sum, sums sum, mins min).
    * The oracle computes the identical SQL over the raw table in DuckDB —
    * the strongest available proof the rewrite is invisible. PlanSpec
    * pins the swap itself: registered, the optimized plan scans the MV
    * and not the corpus; unregistered, the corpus. */
  private[graft] def q245MvDef(s: org.apache.spark.sql.SparkSession,
      d: String): graft.plans.MvCatalog.MvDef = {
    import graft.plans.MvCatalog._
    val mv = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("cnt_rows"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
    val lay = Scale.writeOnce(mv, s"graft_docs_mv_${sfTag(d)}",
      Scale.dirFingerprint(s"$d/documents.parquet"))
    val rel = lay.read(s).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.getOrElse(sys.error(s"MV at ${lay.dir} did not analyze to a relation"))
    MvDef(
      source = ScanSource(java.nio.file.Paths.get(d, "documents.parquet")
        .toAbsolutePath.normalize.toString),
      groupCols = Set("lang", "source"),
      measures = Map(
        "cnt_rows" -> CntRows,
        "sum_chars" -> SumOf("n_chars"),
        "min_chars" -> MinOf("n_chars"),
        "max_chars" -> MaxOf("n_chars")),
      mv = rel)
  }

  /** The user-shaped queries — raw scans, no MV in sight. */
  private[graft] def q245Direct(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"))

  private[graft] def q246Direct(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"))

  val q245MvRewrite: Q = (s, d) =>
    graft.plans.MvCatalog.withMv(s, q245MvDef(s, d)) {
      q245Direct(s, d).localCheckpoint(true)
    }

  val q246MvNavigate: Q = (s, d) =>
    graft.plans.MvCatalog.withMv(s, q245MvDef(s, d)) {
      q246Direct(s, d).localCheckpoint(true)
    }

  /** q247: the FILTERED navigation — a predicate on a grain column
    * (lang = 'en', never a grouping key of this query) strips with the
    * scan, re-applies to the summary, and the coarser-grain merge serves
    * the rest. The predicate selects whole MV groups, which is exactly
    * why it commutes with the monoid merge — a predicate on a NON-grain
    * column would (correctly) leave the query on the raw scan. */
  private[graft] def q247Direct(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"))

  val q247MvFiltered: Q = (s, d) =>
    graft.plans.MvCatalog.withMv(s, q245MvDef(s, d)) {
      q247Direct(s, d).localCheckpoint(true)
    }

  /** q249: the JOIN-AGGREGATE MV — aggregate navigation over the STAR
    * JOIN itself. The summary is built over orders ⋈ customer at
    * (c_mktsegment, c_nationkey) grain; the registered source is the
    * JOIN SHAPE ([[graft.plans.MvCatalog.JoinSource]]), so the reporting
    * query — written as the raw join + nation filter + segment rollup,
    * q239's exact reporting shape — is served with NO join in the plan at
    * all: the fact scan, the dim scan, AND the join exchange vanish, and
    * what executes is a grain-filtered merge of summary rows. Measures
    * are count/min/max (order-independent at any re-grouping); a
    * double SUM is deliberately NOT registered — re-merging a float sum
    * changes the addition order, and the rewrite must stay bit-invisible
    * to the hash gate (the type-stability guard's floating sibling).
    * This is the AutoMV endgame for the reference's reporting surface:
    * `test_etl.ipynb`'s validation aggregates never touch the star. */
  private[graft] def q249MvDef(s: org.apache.spark.sql.SparkSession,
      d: String): graft.plans.MvCatalog.MvDef = {
    import graft.plans.MvCatalog._
    val mv = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("cnt_rows"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
    val lay = Scale.writeOnce(mv, s"graft_ord_cust_mv_${sfTag(d)}",
      Scale.dirFingerprint(s"$d/orders.parquet") + "|" +
        Scale.dirFingerprint(s"$d/customer.parquet"))
    val rel = lay.read(s).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.getOrElse(sys.error(s"MV at ${lay.dir} did not analyze to a relation"))
    def abs(t: String) = java.nio.file.Paths.get(d, t)
      .toAbsolutePath.normalize.toString
    MvDef(
      source = JoinSource(abs("orders.parquet"), abs("customer.parquet"),
        "o_custkey", "c_custkey"),
      groupCols = Set("c_mktsegment", "c_nationkey"),
      measures = Map(
        "cnt_rows" -> CntRows,
        "min_price" -> MinOf("o_totalprice"),
        "max_price" -> MaxOf("o_totalprice")),
      mv = rel)
  }

  /** The user-shaped reporting query: the raw star join, never the MV. */
  private[graft] def q249Direct(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === 3)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))

  val q249MvJoinAgg: Q = (s, d) =>
    graft.plans.MvCatalog.withMv(s, q249MvDef(s, d)) {
      q249Direct(s, d).localCheckpoint(true)
    }

  /** q248: CACHED-INTERMEDIATE REUSE — `cache()` as the scan-once,
    * serve-many discipline (the in-session sibling of the write-once
    * stores: same dedup-the-scan idea, memory instead of parquet, gone
    * with the session). A per-lang summary is cached; TWO consumers —
    * the per-lang report and the corpus-wide total re-aggregated FROM
    * the summary — both resolve to `InMemoryRelation` through Catalyst's
    * cache manager (plan-pinned), so the corpus parquet is scanned
    * exactly once no matter how many consumers follow. The union of the
    * two legs makes the reuse a single gated result; the oracle replays
    * both legs from the raw table via a CTE. At 100 TB the cached
    * summary is |langs| rows replicated on executors — the corpus scan
    * is the thing being deduplicated, and a second consumer costs
    * nothing new. `unpersist` in `finally` keeps the session's memory
    * ledger clean (Bench's between-queries release is the backstop). */
  val q248CachedReuse: Q = (s, d) => {
    val perLang = Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .cache()
    try {
      val byLang = perLang.select(lit("by_lang").as("section"), col("lang"),
        col("n_docs"), col("total_chars"))
      val total = perLang.agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("total_chars")).as("total_chars"))
        .select(lit("total").as("section"), lit(null).cast(StringType).as("lang"),
          col("n_docs"), col("total_chars"))
      byLang.unionAll(total).localCheckpoint(true)
    } finally perLang.unpersist()
  }

  /** q254: AUTOMATIC EXCHANGE REUSE — the planner capability q248's
    * explicit cache() complements: when one query references the same
    * subplan twice, Catalyst's exchange-reuse rule deduplicates the
    * shuffle WITHOUT the author asking (no cache call, no temp table).
    * The query is the natural shape that hits it — an extremes report:
    * top-5 and bottom-5 customers by exact decimal revenue, both branches
    * of the UNION reading the same per-customer aggregate. The plan
    * carries the aggregate's exchange ONCE and a ReusedExchange pointer
    * for the second branch (PlanSpec-pinned), so at 100 TB the fact scan
    * + partial aggregate + shuffle run once, not per branch — and under
    * AQE the reused exchange is a reused STAGE (materialized map output
    * served to both consumers). Each branch's ORDER BY … LIMIT is a
    * TakeOrderedAndProject heap (q07's discipline), never a global sort.
    * Revenue is an exact DECIMAL sum gated as its canonical string; ranks
    * are total-ordered by the (rev, custkey) tie-break. */
  val q254ExchangeReuse: Q = (s, d) => {
    val per = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"),
        count(lit(1)).as("n_orders"))
    val top = per.orderBy(col("rev").desc, col("o_custkey")).limit(5)
      .withColumn("side", lit("top"))
    val bot = per.orderBy(col("rev").asc, col("o_custkey")).limit(5)
      .withColumn("side", lit("bottom"))
    top.unionByName(bot)
      .select(col("side"), col("o_custkey"),
        col("rev").cast(StringType).as("rev_str"), col("n_orders"))
  }

  val queries: Map[String, Q] = Map(
    "q254_exchange_reuse" -> q254ExchangeReuse,
    "q239_cbo_broadcast" -> q239CboBroadcast,
    "q242_cbo_reorder"  -> q242CboReorder,
    "q243_runtime_bloom" -> q243RuntimeBloom,
    "q244_aqe_skew_join" -> q244AqeSkewJoin,
    "q245_mv_rewrite"   -> q245MvRewrite,
    "q246_mv_navigate"  -> q246MvNavigate,
    "q247_mv_filtered"  -> q247MvFiltered,
    "q248_cached_reuse" -> q248CachedReuse,
    "q249_mv_join_agg"  -> q249MvJoinAgg,
    "q115_wap_publish" -> q115WapPublish,
    "q103_incremental_agg" -> q103IncrementalAgg,
    "q153_ivm_join"     -> q153IvmJoin,
    "q28_salted_agg"    -> q28SaltedAgg,
    "q119_salted_join"  -> q119SaltedJoin,
    "q29_bucketed_join" -> q29BucketedJoin,
    "q51_partition_pruning" -> q51PartitionPruning,
    "q126_layout_audit" -> q126LayoutAudit,
    "q127_forget_delete" -> q127ForgetDelete,
    "q128_zone_map" -> q128ZoneMap,
    "q169_bloom_skipping" -> q169BloomSkipping,
    "q173_grain_cascade" -> q173GrainCascade,
    "q55_compaction"    -> q55Compaction,
    "q57_zorder_layout" -> q57ZorderLayout,
    "q205_hilbert_layout" -> q205HilbertLayout,
    "q72_merge_upsert"  -> q72MergeUpsert,
    "q120_time_travel"  -> q120TimeTravel)

  val oracle: Map[String, String] = Map(
    // Exchange reuse is physical-only: the oracle states the extremes
    // report directly, the decimal revenue gated as its canonical string.
    "q254_exchange_reuse" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |t AS (SELECT 'top' AS side, o_custkey, rev, n_orders FROM per
        |      ORDER BY rev DESC, o_custkey LIMIT 5),
        |b AS (SELECT 'bottom' AS side, o_custkey, rev, n_orders FROM per
        |      ORDER BY rev ASC, o_custkey LIMIT 5)
        |SELECT side, o_custkey, CAST(rev AS VARCHAR) AS rev_str, n_orders
        |FROM (SELECT * FROM t UNION ALL SELECT * FROM b)""".stripMargin,
    // The CBO knobs change the PLAN, never the rows — the oracle is the
    // plain relational statement of the join.
    "q239_cbo_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey = 3
        |GROUP BY c_mktsegment""".stripMargin,
    "q242_cbo_reorder" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |GROUP BY o_orderpriority""".stripMargin,
    // The runtime bloom filter is plan surgery, not semantics: the oracle
    // is the plain selective join.
    "q243_runtime_bloom" ->
      """SELECT p_size, count(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#4'
        |GROUP BY p_size""".stripMargin,
    // The skew split is physical surgery on reduce partitions; semantics
    // is the plain join, with the Zipf key + payload replayed as the same
    // md5 integer arithmetic (q187's discipline).
    "q244_aqe_skew_join" ->
      s"""WITH base AS (SELECT
        |    $SKEW_M // (CAST(CAST(('0x' || substr(md5('skew:' ||
        |      CAST(l_orderkey AS VARCHAR) || ':' ||
        |      CAST(l_linenumber AS VARCHAR)), 1, 15)) AS UBIGINT)
        |      AS BIGINT) % $SKEW_M + 1) AS k,
        |    CAST(CAST(('0x' || substr(md5('p:' ||
        |      CAST(l_orderkey AS VARCHAR) || ':' ||
        |      CAST(l_linenumber AS VARCHAR)), 1, 15)) AS UBIGINT)
        |      AS BIGINT) AS v,
        |    l_quantity
        |  FROM lineitem),
        |dim AS (SELECT k, CAST(count(*) AS BIGINT) AS key_rows
        |  FROM base GROUP BY k)
        |SELECT base.k % 16 AS grp, count(*) AS n_rows,
        |  CAST(SUM(key_rows) AS BIGINT) AS sum_key_rows,
        |  CAST(SUM(v % 9973) AS BIGINT) AS sum_vmod,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_qty
        |FROM base JOIN dim ON base.k = dim.k
        |GROUP BY 1""".stripMargin,
    // The MV rewrite must be invisible: the oracle computes the SAME query
    // over the RAW documents table — if the engine's answer (served from
    // the summary) drifts by one row, the hash gate fails.
    "q245_mv_rewrite" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents
        |GROUP BY lang, source""".stripMargin,
    "q246_mv_navigate" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars
        |FROM documents
        |GROUP BY lang""".stripMargin,
    "q247_mv_filtered" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents
        |WHERE lang = 'en'
        |GROUP BY source""".stripMargin,
    // The join-MV rewrite must be invisible: the oracle runs the raw join.
    "q249_mv_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey = 3
        |GROUP BY c_mktsegment""".stripMargin,
    // Cache reuse is physical-only: both legs replayed from the raw table.
    "q248_cached_reuse" ->
      """WITH per_lang AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY lang)
        |SELECT 'by_lang' AS section, lang, n_docs, total_chars FROM per_lang
        |UNION ALL
        |SELECT 'total' AS section, CAST(NULL AS VARCHAR) AS lang,
        |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST(SUM(total_chars) AS BIGINT) AS total_chars
        |FROM per_lang""".stripMargin,
    // Every grain aggregated DIRECTLY from the corpus: the state cascade
    // must be indistinguishable from recomputation.
    "q173_grain_cascade" ->
      """WITH g AS (
        |  SELECT event_type, 'day' AS grain, date_trunc('day', ts) AS period,
        |    value FROM events WHERE value IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, 'week', date_trunc('week', ts), value
        |  FROM events WHERE value IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, 'month', date_trunc('month', ts), value
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, grain, period, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM g GROUP BY 1, 2, 3""".stripMargin,
    // Identity: promotion machinery must be invisible to results.
    "q115_wap_publish" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",
    // From-scratch recompute of the maintained view, same arm arithmetic
    // for the delta attribution: state + delta terms must be bit-equal.
    "q153_ivm_join" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(('0x' || substr(md5('ivmo:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
        |      AS UBIGINT) % 10 AS BIGINT) AS arm
        |  FROM orders),
        |l AS (SELECT l_orderkey, l_returnflag,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6)) AS rev,
        |    CAST(CAST(('0x' || substr(md5('ivml:' || CAST(l_orderkey AS VARCHAR)
        |        || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15))
        |      AS UBIGINT) % 10 AS BIGINT) AS arm
        |  FROM lineitem),
        |j AS (SELECT o.o_orderpriority, l.l_returnflag, l.rev,
        |    (o.arm = 0 OR l.arm = 0) AS is_delta
        |  FROM o JOIN l ON o.o_orderkey = l.l_orderkey)
        |SELECT o_orderpriority, l_returnflag, count(*) AS n_items,
        |  CAST(sum(rev) AS DOUBLE) AS revenue,
        |  count(*) FILTER (WHERE is_delta) AS delta_items,
        |  CAST(coalesce(sum(rev) FILTER (WHERE is_delta), 0) AS DOUBLE)
        |    AS delta_revenue
        |FROM j GROUP BY 1, 2""".stripMargin,
    // Full recompute over corpus ∪ batch: the monoid-merge equivalence is
    // the thing under test.
    "q103_incremental_agg" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |    AS n_tokens,
        |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_tokens
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY lang""".stripMargin,
    // The plain join: the salt must be invisible to results.
    "q119_salted_join" ->
      """SELECT e.event_id, e.event_type, t.type_total
        |FROM events e JOIN (SELECT event_type, count(*) AS type_total
        |  FROM events GROUP BY event_type) t USING (event_type)""".stripMargin,
    "q28_salted_agg" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q29_bucketed_join" ->
      """SELECT o.o_orderpriority, count(*) AS line_cnt,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,6)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority""".stripMargin,
    // Both legs from the SAME relation: the audit must read all-green, and
    // the signature arithmetic (hash60 of the joined fields, bit_xor) must
    // match bit-for-bit.
    "q126_layout_audit" ->
      """WITH sig AS (SELECT lang, count(*) AS rows_n,
        |    bit_xor(CAST(('0x' || substr(md5(
        |      CAST(doc_id AS VARCHAR) || '|' || source || '|'
        |        || CAST(n_chars AS VARCHAR)), 1, 15)) AS UBIGINT)) AS sig
        |  FROM documents GROUP BY lang)
        |SELECT lang, rows_n AS src_rows, rows_n AS layout_rows,
        |  CAST(sig AS BIGINT) AS src_sig, CAST(sig AS BIGINT) AS layout_sig,
        |  true AS consistent
        |FROM sig""".stripMargin,
    // The flat filter: skipping must be invisible to results.
    "q128_zone_map" ->
      """SELECT event_id, value FROM events
        |WHERE value IS NOT NULL AND value >= 40.0 AND value <= 45.0""".stripMargin,
    // The flat IN-list: bloom consultation and file skipping must be
    // invisible to results (false positives cost reads, never rows).
    "q169_bloom_skipping" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id IN (${BF_PROBES.mkString(", ")})""".stripMargin,
    // Source minus the target predicate: the delete machinery must be
    // invisible to surviving rows.
    "q127_forget_delete" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE NOT (lang = 'de' AND doc_id % 5 = 2)""".stripMargin,
    // Flat-table filter: the partitioned layout must be invisible to results.
    "q51_partition_pruning" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang IN ('en', 'de')""".stripMargin,
    // Identity: compaction is layout maintenance, never a data change.
    "q55_compaction" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",
    // Both snapshots recomputed relationally (v2 = the q72 merge replay):
    // the version log, directories, and disk round-trip must be invisible.
    "q120_time_travel" ->
      """WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
        |upd AS (SELECT doc_id, lang, 'merge_upsert' AS source,
        |    'rev2 ' || text AS text FROM en WHERE doc_id % 7 = 3),
        |ins AS (SELECT doc_id + 1000000 AS doc_id, lang, 'merge_insert' AS source,
        |    'new ' || text AS text FROM en WHERE doc_id % 11 = 5),
        |batch AS (SELECT doc_id, lang, source, length(text) AS n_chars
        |  FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)),
        |v2 AS (SELECT d.lang, d.n_chars FROM documents d
        |    WHERE d.doc_id NOT IN (SELECT doc_id FROM batch)
        |  UNION ALL SELECT lang, n_chars FROM batch)
        |SELECT CAST(0 AS INTEGER) AS versions_ago, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM v2 GROUP BY lang
        |UNION ALL
        |SELECT CAST(1 AS INTEGER), lang, count(*),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents GROUP BY lang""".stripMargin,
    // Relational replay of the merge: anti-join the batch keys out of the
    // base, union the batch back in. The layout mechanics (staging, moves,
    // partition pruning) must be invisible to results.
    "q72_merge_upsert" ->
      """WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
        |upd AS (SELECT doc_id, lang, 'merge_upsert' AS source,
        |    'rev2 ' || text AS text FROM en WHERE doc_id % 7 = 3),
        |ins AS (SELECT doc_id + 1000000 AS doc_id, lang, 'merge_insert' AS source,
        |    'new ' || text AS text FROM en WHERE doc_id % 11 = 5),
        |batch AS (SELECT doc_id, lang, source, length(text) AS n_chars, text
        |  FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)),
        |keep AS (SELECT d.doc_id, d.lang, d.source, d.n_chars, d.text
        |  FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM batch))
        |SELECT doc_id, lang, source, n_chars, text FROM keep
        |UNION ALL
        |SELECT doc_id, lang, source, n_chars, text FROM batch""".stripMargin,
    // The identical quadrant-rotation recurrence, unrolled one CTE per
    // level; layout must not change results.
    "q205_hilbert_layout" -> Scale.hilbert2Ctes(
      s"""SELECT event_id, user_id, value,
         |  CAST(user_id AS BIGINT) % ${1L << Z_BITS} AS x0,
         |  CAST(floor(value) AS BIGINT) % ${1L << Z_BITS} AS y0
         |FROM events
         |WHERE user_id BETWEEN 10 AND 40 AND value BETWEEN 5.0 AND 10.0""".stripMargin,
      Z_BITS),
    // Same Morton interleave arithmetic; layout must not change results.
    "q57_zorder_layout" ->
      s"""SELECT event_id, user_id, value,
         |  CAST(${Scale.zOrder2Sql("user_id", "CAST(floor(value) AS BIGINT)", Z_BITS)} AS BIGINT) AS z
         |FROM events
         |WHERE user_id BETWEEN 10 AND 40 AND value BETWEEN 5.0 AND 10.0""".stripMargin)
}
