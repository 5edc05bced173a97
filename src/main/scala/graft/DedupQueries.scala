package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.operators.{Dedup, Similarity, TextOps}

/** Dedup queries over `documents`. The MinHash/LSH and blocked operators
  * return *verified* pairs (exact Jaccard ≥ threshold over their candidate
  * sets), so the DuckDB oracle — which computes exact Jaccard over ALL pairs
  * (feasible at sf0.01) — matches iff the banding/blocking had full recall
  * at the threshold, which is exactly the property worth gating. */
object DedupQueries {
  import Queries.Q

  val q20DedupExact: Q = (s, d) =>
    Dedup.exactGroups(Tables.documents(s, d), col("doc_id"), col("text"))

  val q21DedupMinhashLsh: Q = (s, d) =>
    Dedup.minhashLshPairs(Tables.documentsDistributed(s, d), threshold = 0.8)

  /** q151: exact Jaccard similarity self-join via prefix filtering — the
    * LOSSLESS global answer at τ = 3/5 over the same 3-shingle sets q21
    * approximates at 0.8 and q22 block-bounds at 0.6. The oracle is the
    * unconstrained all-pairs exact Jaccard, so hash-green means the
    * AllPairs prefix rule missed nothing (see
    * [[graft.operators.Dedup.prefixFilterPairs]] for the proof and the
    * posting-list scale argument). */
  val q151PrefixJoin: Q = (s, d) =>
    Dedup.prefixFilterPairs(Tables.documentsDistributed(s, d), 3, 5)

  val q22DedupNgramBlocked: Q = (s, d) =>
    Dedup.blockedNgramPairs(Tables.documentsDistributed(s, d), threshold = 0.6)

  val q30DedupSimhash: Q = (s, d) =>
    // plain keyed repartition, NOT the explicit-width spreadForCompute the
    // other per-doc pipelines use (r19 opt): q30's cost is the (i, piece)
    // merge self-join, not the fingerprint map side, and the AQE-stable
    // width consistently measured +0.2 s here (0.60 → 0.80 min-of-5 ×3
    // interleaved runs) while q19 (fingerprints alone) improved — keep
    // AQE free to coalesce the byte-light exchange feeding the SMJ
    Dedup.simhashPairs(TextQueries.simhashDf(
      Tables.documents(s, d).repartition(col("doc_id"))), maxHamming = 3)

  /** q35: embedding-cosine near-dup — banded sign-bucket LSH over the
    * `embeddings` table, exact-cosine verified at τ. The oracle encodes the
    * SAME banding constraint (like q22/q24), so the gate pins the candidate
    * mechanics and the verify exactly. */
  private val ND_PLANES = 4
  private val ND_BANDS = 6
  private val ND_TAU = 0.42
  private lazy val ndGrids: Seq[Array[Array[Int]]] =
    (0 until ND_BANDS).map(b => Similarity.mdGrid(s"nd$b", ND_PLANES, 64))

  val q35DedupEmbedding: Q = (s, d) =>
    Dedup.cosineNearDupPairs(Tables.embeddings(s, d), ND_TAU, ndGrids)

  /** q44: duplicate-cluster resolution — connected components over the
    * q21 MinHash/LSH verified pairs, labeling EVERY document with its
    * cluster's minimum doc_id (itself when unpaired), plus cluster size and
    * the keep-this-one canonical flag. The oracle recomputes the same
    * transitive closure with a DuckDB recursive CTE over the exact-Jaccard
    * pair set, so the gate covers both the pair recall (as q21) and the
    * fixpoint of the distributed label propagation. */
  val q44DedupClusters: Q = (s, d) =>
    Dedup.resolveClusters(
      Tables.documents(s, d).select(col("doc_id")),
      Dedup.minhashLshPairs(Tables.documentsDistributed(s, d), threshold = 0.8)
        .select(col("doc_a"), col("doc_b")))

  /** q47: block-level boilerplate removal. The synthetic corpus has no
    * newlines, so "paragraphs" are aligned 16-word blocks; any block
    * recurring in ≥ 2 distinct documents is boilerplate (the corpus's
    * near-dup structure makes dozens of such blocks real). Per doc: block
    * counts, boilerplate fraction, and the cleaned-document digest. */
  private val BOIL_BLOCK = 16
  private val BOIL_MIN_DOCS = 2

  val q47Boilerplate: Q = (s, d) => {
    val w = col("w")
    val nblk = ceil(size(w).cast(org.apache.spark.sql.types.DoubleType) /
      lit(BOIL_BLOCK.toDouble)).cast(org.apache.spark.sql.types.IntegerType)
    // nblk = 0 guard: sequence(0, -1) auto-steps DOWN and would invent two
    // spurious segments ([0, -1]) where the oracle's range(0, 0) is empty.
    // Unreachable via TextOps.words today (split('') = ['']), but
    // segmentBoilerplate accepts any segmenter — keep the edge sound.
    val segs = when(nblk <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nblk - 1),
        i => concat_ws(" ", slice(w, i * BOIL_BLOCK + 1, lit(BOIL_BLOCK)))))
    Dedup.segmentBoilerplate(
      Tables.documentsDistributed(s, d).filter(col("text").isNotNull)
        // q86's fence: pin the token array to a real column so the
        // interpreted segment lambda slices a materialized array instead
        // of re-running the regex split per block
        .select(col("doc_id"),
          when(spark_partition_id() >= 0, TextOps.words(col("text"))).as("w")),
      segs, BOIL_MIN_DOCS)
  }

  /** q110: content-defined chunking — the storage-dedup primitive (Rabin
    * splitting, the rsync/LBFS/backup-system classic, and the sub-document
    * unit for training-corpus near-dup work): a document splits wherever
    * the rolling hash of its last [[CDC_W]] characters ≡ 0 mod
    * [[CDC_MASK]], so chunk boundaries move WITH the content — insert one
    * word and only the chunk containing the edit changes its digest, while
    * fixed-width blocks (q47's segmentation) would shift every block after
    * the edit. Output: one row per chunk with its md5, the dedupable unit.
    *
    * Determinism: the window hash is the hash60 idiom (md5 of the 4-char
    * window, first 15 hex digits as BIGINT) — byte-identical in both
    * engines by construction, and immune to the codepoint-vs-surrogate
    * divergence a charCodeAt-style rolling hash would hit on this
    * corpus's non-BMP characters. Boundaries, chunk extents, and digests
    * follow integer-exactly. Chunking is per-row column arithmetic — zero
    * shuffles; the cut array materializes ONCE per doc behind the
    * q84/q86 nondeterministic fence. */
  private[graft] val CDC_W = 4
  private[graft] val CDC_MASK = 64

  val q110CdcChunks: Q = (s, d) =>
    cdcChunks(Tables.documentsDistributed(s, d))

  /** The chunker over any (doc_id, text) frame — OperationalSpec drives it
    * with an edited twin to pin the boundary-locality property (a prefix
    * edit must leave suffix chunk digests intact). */
  private[graft] def cdcChunks(docs: org.apache.spark.sql.DataFrame) = {
    val cuts = GraftExtensions.call("cdc_cuts", col("text"), lit(CDC_W), lit(CDC_MASK))
    val bounds = zip_with(
      col("cuts"),
      slice(col("cuts"), lit(2), size(col("cuts"))), // one shorter: tail hi null
      (lo, hi) => struct(lo.as("lo"), hi.as("hi")))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        when(spark_partition_id() >= 0, cuts).as("cuts"))
      .select(col("doc_id"), col("text"), posexplode(filter(bounds,
        b => b.getField("hi") > b.getField("lo"))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("chunk_idx"),
        (col("col.hi") - col("col.lo")).as("chunk_len"),
        md5(substr(col("text"), (col("col.lo") + 1).cast("int"),
          (col("col.hi") - col("col.lo")).cast("int"))).as("chunk_md5"))
  }

  /** q111: cross-source duplication matrix — q21's verified near-dup
    * pairs rolled up by (source_a, source_b): which crawls duplicate
    * which, at what rate. This is the dashboard number behind "drop crawl
    * X, it's 90% re-crawl of Y" decisions; the rate normalizes pair
    * counts by the possible-pair count (n·(n−1)/2 within a source,
    * n_a·n_b across), so a big crawl can't look dirty by size alone.
    *
    * Determinism: counts are exact; the rate is ONE division of two
    * exact BIGINTs (the q83 rule — no quantization needed).
    *
    * Scale shape: q21's banded-LSH plan unchanged; the pair→source
    * lookups broadcast the PAIR side (survivors are few — the corpus
    * never reshuffles for the rollup); the matrix aggregate is
    * |sources|²-bounded. */
  val q111SourceDupMatrix: Q = (s, d) => {
    val pairs = q21DedupMinhashLsh(s, d).select(col("doc_a"), col("doc_b"))
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val cnt = Tables.documents(s, d)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val withSrc = src.join(broadcast(pairs), col("doc_id") === col("doc_a"))
      .select(col("doc_b"), col("source").as("sa"))
      .join(src, col("doc_id") === col("doc_b"))
      .select(least(col("sa"), col("source")).as("source_a"),
        greatest(col("sa"), col("source")).as("source_b"))
    withSrc.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .join(broadcast(cnt.select(col("source").as("source_a"), col("n").as("na"))),
        Seq("source_a"))
      .join(broadcast(cnt.select(col("source").as("source_b"), col("n").as("nb"))),
        Seq("source_b"))
      .withColumn("possible_pairs",
        when(col("source_a") === col("source_b"),
          expr("na * (na - 1) DIV 2")).otherwise(col("na") * col("nb")))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("possible_pairs"),
        (col("n_pairs").cast(org.apache.spark.sql.types.DoubleType) /
          col("possible_pairs").cast(org.apache.spark.sql.types.DoubleType))
          .as("dup_rate"))
  }

  /** q73: incremental dedup — a new batch of documents (doc_id < 50, the
    * fixed-size "daily crawl") probed against the EXISTING corpus
    * (doc_id ≥ 50) through a write-once fingerprint layout, with zero
    * corpus-side shuffle. The corpus shingle sets and LSH band keys are
    * materialized once per scale ([[graft.operators.Scale.writeOnce]],
    * fingerprint-gated like q29's buckets — and purged per bench iteration
    * so the build cost stays visible); the probe broadcasts the batch's
    * band keys and shingle sets against them (two straight scans into
    * broadcast joins, plan-pinned). Same hashing and τ=0.8 as q21, so the
    * all-pairs oracle — restricted to batch×corpus pairs — gates both the
    * banding recall and the probe mechanics. */
  private[graft] val BATCH_MAX_ID = 50
  private val INC_K = 3
  private val INC_TAU = 0.8

  val q73IncrementalDedup: Q = (s, d) => {
    val tag = ScaleQueries.sfTag(d)
    val fp = graft.operators.Scale.dirFingerprint(s"$d/documents.parquet") +
      s"|k=$INC_K|b=32|r=4|split=$BATCH_MAX_ID"
    val corpus = Tables.documentsDistributed(s, d).filter(col("doc_id") >= BATCH_MAX_ID)
    // Shingle once, band from the materialized shingles: the corpus text is
    // read exactly once across both layout builds.
    val sh = graft.operators.Scale.writeOnce(
      Dedup.shingleSets(corpus, INC_K), s"graft_corpus_sh_$tag", fp)
    val bands = graft.operators.Scale.writeOnce(
      Dedup.bandKeys(sh.read(s), bands = 32, rows = 4),
      s"graft_corpus_bands_$tag", fp)
    val batch = Tables.documents(s, d).filter(col("doc_id") < BATCH_MAX_ID)
    Dedup.incrementalNearDupPairs(
      bands.read(s), sh.read(s), batch, INC_TAU, INC_K)
  }

  /** q78: the daily operational loop, closed end-to-end — the piece that
    * ties q72 and q73 together: (day 0) the corpus base (q72's `graft_cat`
    * table, [[ScaleQueries.corpusTable]]) and a LANG-PARTITIONED
    * fingerprint layout (shingle sets + band keys) are materialized; (day
    * 1) a merge batch upserts into the corpus ([[ScaleQueries.mergeCorpus]],
    * only lang=en rewritten) and the fingerprint layouts REFRESH ONLY THAT
    * PARTITION — recompute en and write it with Spark's dynamic partition
    * overwrite (`partitionOverwriteMode=dynamic` as a per-write option), so
    * de/es/fr/zh fingerprint files stay byte-identical (OperationalSpec);
    * (day 2) the next batch probes the refreshed fingerprints with the q73
    * operator. The fingerprint layouts hold `array<bigint>` shingle sets,
    * which `graft_cat` does not store, so they stay write-once parquet
    * layouts. At 100 TB this is the whole point of partitioned
    * fingerprints: corpus maintenance costs O(affected partitions) for the
    * data AND for the derived index — nothing re-fingerprints the other 99%.
    *
    * The oracle replays the merge relationally (q72's CTEs) and computes
    * all-pairs exact Jaccard of the day-2 batch against the MERGED corpus
    * — so the gate covers the merge, the partial refresh, and the probe in
    * one check; the newly inserted near-dup copies (doc_id+1000000) must
    * show up as matches, which only happens if the refresh really folded
    * the merge into the fingerprints. */
  val q78IncrementalRefresh: Q = (s, d) => {
    import graft.operators.Scale
    val tag = ScaleQueries.sfTag(d)
    val base = ScaleQueries.corpusTable(s, d, "corpus_base", ScaleQueries.CorpusCols)
    val srcFp = Scale.dirFingerprint(s"$d/documents.parquet") +
      s"|k=$INC_K|b=32|r=4|split=$BATCH_MAX_ID"
    def shOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.shingleSets(
        // deliberately the COALESCIBLE form (r19: explicit width measured
        // +0.5 s here, twice — the wide shingle spread multiplies the
        // partitioned layout's output files, and this operator's cost is
        // the write, not the shingling)
        df.filter(col("doc_id") >= BATCH_MAX_ID).repartition(col("doc_id")),
        INC_K, keep = Seq("lang"))
    // replace the partitions `df` holds, leave every other one untouched
    def refresh(lay: Scale.Layout, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(lay.dir)
    // day 0: fingerprint layouts over the pre-merge base (write-once: a
    // warm run reuses them; the refresh below makes the final state
    // identical either way — the merge only ever changes en)
    val fpSh = Scale.writePartitioned(
      shOf(s.table(base)), s"graft_corpus_fp_$tag", "lang", srcFp)
    val fpBands = Scale.writePartitioned(
      Dedup.bandKeys(fpSh.read(s), bands = 32, rows = 4, keep = Seq("lang")),
      s"graft_corpus_fpb_$tag", "lang", srcFp)
    // day 1: merge arrives; fingerprints refresh ONLY the affected partition
    ScaleQueries.mergeCorpus(s, d, base, ScaleQueries.CorpusCols)
    refresh(fpSh, shOf(s.table(base).filter(col("lang") === "en")))
    refresh(fpBands, Dedup.bandKeys(fpSh.read(s).filter(col("lang") === "en"),
      bands = 32, rows = 4, keep = Seq("lang")))
    // day 2: the next batch probes the refreshed fingerprints (q73's operator)
    Dedup.incrementalNearDupPairs(
      fpBands.read(s), fpSh.read(s),
      Tables.documents(s, d).filter(col("doc_id") < BATCH_MAX_ID), INC_TAU, INC_K)
  }

  /** q84: edit-distance near-dup pairs — q22's blocking with the
    * character-level banded-Levenshtein verifier
    * ([[Dedup.blockedEditPairs]]): pairs within 24 edits on the 128-char
    * prefix (both scales show a wide stable gap there: true dups sit ≤16
    * edits, the noise floor starts ~70). Catches small in-place edits
    * Jaccard barely registers.
    *
    * The word-count block width is the candidate-count dial: at 32 the
    * block key barely discriminated (doc lengths cluster — 2.48M DP pairs
    * at sf0.1 for 79 survivors, 13.5 s); at 8 the same survivors emerge
    * from 0.8M pairs (every measured true pair differs by ≤1 word; the
    * ±bucket guarantee still covers 8–16 words of drift, ~3× the edit
    * budget's plausible word-count effect on a 128-char prefix). */
  private val EDIT_MAX = 24
  private val EDIT_PREFIX = 128
  private val EDIT_BUCKET = 8

  val q84DedupEdit: Q = (s, d) =>
    Dedup.blockedEditPairs(Tables.documentsDistributed(s, d), EDIT_MAX,
      EDIT_PREFIX, EDIT_BUCKET)

  /** q86: span-level exact-substring duplication signal
    * ([[Dedup.spanDuplication]]) — per-doc duplicated-span fraction at a
    * 10-token window (the corpus's min doc length, so every doc has ≥ 1
    * span and the result covers the whole table). */
  private val SPAN_W = 10

  val q86SpanDedup: Q = (s, d) =>
    Dedup.spanDuplication(Tables.documentsDistributed(s, d), SPAN_W)

  /** q38: decontamination — corpus docs sharing ≥ 3 distinct word trigrams
    * with any doc of the (small, broadcast) eval set. */
  private val EVAL_MAX_ID = 25
  private val DECON_K = 3
  private val DECON_MIN = 3

  val q38Decontamination: Q = (s, d) => {
    val docs = Tables.documentsDistributed(s, d)
    Dedup.contaminationPairs(
      docs.filter(col("doc_id") >= EVAL_MAX_ID),
      docs.filter(col("doc_id") < EVAL_MAX_ID),
      DECON_K, DECON_MIN)
  }

  /** q82: q38's decontamination in the eval-too-big-to-broadcast regime —
    * bloom-filter semi-join reduction (see
    * [[Dedup.bloomContaminationPairs]]). Same pairs, same counts: the
    * oracle is q38's SQL verbatim, so the gate proves the bloom prefilter
    * is invisible to results (no false negatives) every round. */
  private val BLOOM_EST = 4096L
  private val BLOOM_BITS = 65536L

  val q82BloomDecontam: Q = (s, d) => {
    val docs = Tables.documentsDistributed(s, d)
    Dedup.bloomContaminationPairs(
      docs.filter(col("doc_id") >= EVAL_MAX_ID),
      docs.filter(col("doc_id") < EVAL_MAX_ID),
      DECON_K, DECON_MIN, BLOOM_EST, BLOOM_BITS)
  }

  /** q108: keep-best cluster resolution — the curation refinement of
    * q44's min-id canonical rule: inside each near-dup cluster, KEEP the
    * highest-quality member (q65's shared quality score; doc_id breaks
    * ties), prune the rest. Min-id is arbitrary; argmax-quality is what a
    * production curation pass actually ships — the one decision that
    * determines which copy of every duplicated document survives into the
    * training mix.
    *
    * Determinism: the score is the q65 contract (bit-exact in both
    * engines), so ranking on the raw double with the doc_id tiebreak is
    * boundary-safe (the q23 rule).
    *
    * Scale shape: q44's iterative label propagation unchanged, plus one
    * quality scan of the corpus (in-scan arithmetic, no shuffle) and one
    * cluster-keyed window for the argmax — the window input is the
    * (doc_id, cluster, score) triple, never text. */
  val q108KeepBest: Q = (s, d) => {
    val clusters = q44DedupClusters(s, d).select(col("doc_id"), col("cluster_id"))
    // Measured (r18 opt): rebalancing this scan before the quality scoring
    // lost ~0.2 s — the score is cheap native arithmetic, not worth an
    // extra raw-text exchange. Kept in-scan.
    val scored = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextQueries.qualityScore(col("text")).as("quality_score"))
    clusters.join(scored, Seq("doc_id"))
      .withColumn("kept", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality_score").desc, col("doc_id"))) === 1)
  }

  /** q116: dedup-aware train/val/test split — the leakage-safe assignment a
    * training pipeline needs before any eval number can be trusted. Phase 1
    * assigns every document by content-independent hash (the q31 idiom:
    * hash60 of "split:"+doc_id mod 100 → 90/5/5 train/val/test), stable
    * across runs, machines, and engines. Phase 2 audits the assignment
    * against the corpus's NEAR-DUP structure (q21's verified MinHash/LSH
    * pairs): a pair straddling two splits leaks training text into eval —
    * the eval doc is a paraphrase of a training doc, and its loss measures
    * memorization, not generalization (the cross-split twin of q38's
    * corpus-vs-benchmark decontamination). The repair: every document
    * touching a cross-split pair moves to train — the contaminated eval row
    * is worthless as eval but still good training data, so it is recycled,
    * not discarded.
    *
    * Scale shape: the split is a PURE FUNCTION of doc_id, so the audit
    * computes both endpoints' splits IN-SCAN on the pair list — no
    * pairs-to-assignment join exists. The leaked-id set (∝ leaking pairs,
    * tiny) broadcasts back onto the corpus scan; the corpus pays q21's
    * pair machinery plus ONE broadcast hash join and nothing else
    * (plan-pinned). */
  private val SPLIT_SALT = "split:"

  private[graft] def splitOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = pmod(TextOps.hash60(concat(lit(SPLIT_SALT),
      id.cast(org.apache.spark.sql.types.StringType))), lit(100L))
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  }

  val q116SplitLeakage: Q = (s, d) => {
    val leakedIds = Dedup.minhashLshPairs(Tables.documentsDistributed(s, d), threshold = 0.8)
      .filter(splitOf(col("doc_a")) =!= splitOf(col("doc_b")))
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("leaked", lit(true))
    Tables.documents(s, d).select(col("doc_id"))
      .join(broadcast(leakedIds), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        splitOf(col("doc_id")).as("split_assigned"),
        coalesce(col("leaked"), lit(false)).as("leaked"),
        when(coalesce(col("leaked"), lit(false)), "train")
          .otherwise(splitOf(col("doc_id"))).as("split_final"))
  }

  /** q124: contrastive training-pair assembly — the SimCSE/CLIP-style
    * batch builder: every verified near-dup pair (q21) becomes an (anchor,
    * positive) example, and each example draws [[NEG_K]] deterministic
    * negatives by hashing (k, anchor, positive) into the corpus's dense
    * id space [0, N). Accidental hits on the anchor or positive are
    * dropped (deterministic filter, not re-rolled — the oracle replays
    * the same rule). N is a 1-row scalar broadcast; the sampling itself
    * is pure column arithmetic — no join into `documents` exists (sparse
    * id spaces would route through q100's rank index instead). On top of
    * q21's pair machinery this adds ZERO keyed exchanges. */
  private val NEG_K = 3L

  val q124ContrastivePairs: Q = (s, d) => {
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    Dedup.minhashLshPairs(Tables.documentsDistributed(s, d), threshold = 0.8)
      .select(col("doc_a"), col("doc_b"))
      .crossJoin(broadcast(n))
      .select(col("doc_a"), col("doc_b"),
        explode(sequence(lit(0L), lit(NEG_K - 1L))).as("k"), col("n"))
      .withColumn("neg_id", pmod(TextOps.hash60(concat(
        lit("neg:"), col("k").cast(org.apache.spark.sql.types.StringType),
        lit(":"), col("doc_a").cast(org.apache.spark.sql.types.StringType),
        lit(":"), col("doc_b").cast(org.apache.spark.sql.types.StringType))),
        col("n")))
      .filter(col("neg_id") =!= col("doc_a") && col("neg_id") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("k"), col("neg_id"))
  }

  /** q172: probabilistic RECORD LINKAGE (Fellegi–Sunter) — entity
    * resolution across two noisy sources that share NO reliable key: the
    * companion to the content-dedup family for the structured-records
    * side (CRM merges, supplier/customer master data, the dedup step
    * before any entity-keyed training join). Source A is `customer`;
    * source B is the same population through a lossy channel (a
    * deterministic perturbation: every 5th name case-mangled, every 7th
    * balance shifted past the tolerance, every 11th segment blanked — so
    * agreement patterns, and BOTH verdicts, are data-exercised with known
    * ground truth riding along as `is_true`). The pipeline is the
    * classic three stages, all integer-exact:
    *  - BLOCKING on (nationkey, last digit of the name): candidate pairs
    *    only within a block, ~N²/250 instead of N² — and the block key
    *    survives the perturbations by construction (digits don't case);
    *  - FIELD COMPARISON: name exact, balance within 100 cents (decimal
    *    cents compare — never float), segment exact;
    *  - SCORING: Fellegi–Sunter agreement/disagreement weights in
    *    integer centi-log-odds (+4000/−1000 name, +2500/−500 balance,
    *    +1500/−500 segment), match ≥ 6000, possible ≥ 3000, the rest
    *    dropped.
    *
    * Scale shape: ONE equi-join on the block key (both sides
    * hash-partition by block — no broadcast needed when both sources are
    * large), per-pair arithmetic is codegen'd integer compares, and the
    * block-size distribution is exactly what q161's skew pre-flight
    * audits. Missed matches are the declared blocking recall loss every
    * real linkage system tolerates (a name perturbation that crossed
    * blocks would be invisible — here the block key is perturbation-proof,
    * so recall loss is zero BY CONSTRUCTION and the gate can assert the
    * full truth set). */
  val q172RecordLinkage: Q = (s, d) => {
    val base = Tables.customer(s, d)
    def blockKey(name: org.apache.spark.sql.Column) =
      substring(name, -1, 1)
    val a = base.select(col("c_custkey").as("a_key"),
      col("c_name").as("a_name"), col("c_nationkey").as("nation"),
      (col("c_acctbal").cast(DecimalType(14, 2)) * 100)
        .cast(LongType).as("a_cents"),
      col("c_mktsegment").as("a_seg"), blockKey(col("c_name")).as("blk"))
    val b = base.select(col("c_custkey").as("b_key"),
      when(pmod(col("c_custkey"), lit(5)) === 0, upper(col("c_name")))
        .otherwise(col("c_name")).as("b_name"),
      col("c_nationkey").as("nation"),
      ((col("c_acctbal") +
        when(pmod(col("c_custkey"), lit(7)) === 0, lit(500.0))
          .otherwise(lit(0.0))).cast(DecimalType(14, 2)) * 100)
        .cast(LongType).as("b_cents"),
      when(pmod(col("c_custkey"), lit(11)) === 0, lit("UNKNOWN"))
        .otherwise(col("c_mktsegment")).as("b_seg"),
      blockKey(col("c_name")).as("blk"))
    a.join(b, Seq("nation", "blk"))
      .withColumn("score",
        when(col("a_name") === col("b_name"), lit(4000L)).otherwise(lit(-1000L)) +
        when(abs(col("a_cents") - col("b_cents")) <= 100L, lit(2500L))
          .otherwise(lit(-500L)) +
        when(col("a_seg") === col("b_seg"), lit(1500L)).otherwise(lit(-500L)))
      .filter(col("score") >= 3000L)
      .select(col("a_key"), col("b_key"), col("score"),
        when(col("score") >= 6000L, lit("match")).otherwise(lit("possible"))
          .as("verdict"),
        (col("a_key") === col("b_key")).as("is_true"))
  }

  val queries: Map[String, Q] = Map(
    "q172_record_linkage" -> q172RecordLinkage,
    "q124_contrastive_pairs"  -> q124ContrastivePairs,
    "q116_split_leakage"      -> q116SplitLeakage,
    "q110_cdc_chunks"         -> q110CdcChunks,
    "q111_source_dup_matrix"  -> q111SourceDupMatrix,
    "q108_keep_best"          -> q108KeepBest,
    "q20_dedup_exact"         -> q20DedupExact,
    "q21_dedup_minhash_lsh"   -> q21DedupMinhashLsh,
    "q22_dedup_ngram_blocked" -> q22DedupNgramBlocked,
    "q30_dedup_simhash"       -> q30DedupSimhash,
    "q35_dedup_embedding"     -> q35DedupEmbedding,
    "q38_decontamination"     -> q38Decontamination,
    "q82_bloom_decontam"      -> q82BloomDecontam,
    "q84_dedup_edit"          -> q84DedupEdit,
    "q86_span_dedup"          -> q86SpanDedup,
    "q44_dedup_clusters"      -> q44DedupClusters,
    "q47_boilerplate"         -> q47Boilerplate,
    "q73_incremental_dedup"   -> q73IncrementalDedup,
    "q78_incremental_refresh" -> q78IncrementalRefresh,
    "q151_prefix_join"        -> q151PrefixJoin)

  /** Shared oracle CTE: distinct k-word shingle sets per doc. */
  private def shinglesCte(k: Int): String = {
    val km1 = k - 1
    s"""w AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(w) - $km1, 1) + 1),
       |    i -> array_to_string(w[i:i+$km1], ' ')))) AS s FROM w),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin
  }

  private def jaccardSelect(extraJoin: String, threshold: Double): String =
    s"""inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da AS doc_a, db AS doc_b,
       |  CAST(i AS DOUBLE) / (za.n + zb.n - i) AS jaccard
       |FROM inter
       |JOIN sz za ON za.doc_id = da
       |JOIN sz zb ON zb.doc_id = db
       |$extraJoin
       |WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= $threshold""".stripMargin

  private lazy val deconSql: String =
    s"""WITH ${shinglesCte(DECON_K)},
       |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id < $EVAL_MAX_ID),
       |co AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id >= $EVAL_MAX_ID)
       |SELECT corpus_id, eval_id, count(*) AS shared_ngrams
       |FROM co JOIN ev USING (s)
       |GROUP BY 1, 2
       |HAVING count(*) >= $DECON_MIN""".stripMargin

  /** q44's full transitive-closure replay (recursive CTE over the exact
    * Jaccard pair set) — shared by the q44 gate and q108's keep-best. */
  private lazy val clustersSql: String =
    s"""WITH RECURSIVE ${shinglesCte(3)},
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT da AS doc_a, db AS doc_b
       |  FROM inter JOIN sz za ON za.doc_id = da JOIN sz zb ON zb.doc_id = db
       |  WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
       |  UNION
       |  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r),
       |lab AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
       |labeled AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lab l ON l.node = d.doc_id),
       |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY 1)
       |SELECT labeled.doc_id, labeled.cluster_id, csz.cluster_size,
       |  labeled.doc_id = labeled.cluster_id AS is_canonical
       |FROM labeled JOIN csz USING (cluster_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    // The same perturbation channel, blocking rule, cent compares and
    // integer weights, replayed relationally.
    "q172_record_linkage" ->
      """WITH a AS (SELECT c_custkey AS a_key, c_name AS a_name,
        |    c_nationkey AS nation,
        |    CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) AS a_cents,
        |    c_mktsegment AS a_seg,
        |    substr(c_name, length(c_name), 1) AS blk
        |  FROM customer),
        |b AS (SELECT c_custkey AS b_key,
        |    CASE WHEN c_custkey % 5 = 0 THEN upper(c_name) ELSE c_name END
        |      AS b_name,
        |    c_nationkey AS nation,
        |    CAST(CAST(c_acctbal + CASE WHEN c_custkey % 7 = 0
        |        THEN 500.0 ELSE 0.0 END AS DECIMAL(14,2)) * 100 AS BIGINT)
        |      AS b_cents,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END
        |      AS b_seg,
        |    substr(c_name, length(c_name), 1) AS blk
        |  FROM customer),
        |p AS (SELECT a_key, b_key,
        |    (CASE WHEN a_name = b_name THEN 4000 ELSE -1000 END
        |     + CASE WHEN abs(a_cents - b_cents) <= 100 THEN 2500 ELSE -500 END
        |     + CASE WHEN a_seg = b_seg THEN 1500 ELSE -500 END) AS score
        |  FROM a JOIN b USING (nation, blk))
        |SELECT a_key, b_key, CAST(score AS BIGINT) AS score,
        |  CASE WHEN score >= 6000 THEN 'match' ELSE 'possible' END AS verdict,
        |  a_key = b_key AS is_true
        |FROM p WHERE score >= 3000""".stripMargin,
    "q20_dedup_exact" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS text_hash,
        |  count(*) AS n_copies, min(doc_id) AS canonical_id
        |FROM documents
        |GROUP BY 1""".stripMargin,
    // All-pairs exact Jaccard at threshold 0.8 — the LSH result must equal it.
    "q21_dedup_minhash_lsh" ->
      s"""WITH ${shinglesCte(3)},
         |${jaccardSelect("", 0.8)}""".stripMargin,
    // All-pairs exact Jaccard at 0.6, UNCONSTRAINED — hash-green proves the
    // prefix filter's recall is exactly 100% (the losslessness theorem, on
    // real data).
    "q151_prefix_join" ->
      s"""WITH ${shinglesCte(3)},
         |${jaccardSelect("", 0.6)}""".stripMargin,
    // q21's pairs replayed; negatives replayed as the same salted-md5
    // arithmetic over the dense id space, same drop-on-collision rule.
    "q124_contrastive_pairs" ->
      s"""WITH pr AS (WITH ${shinglesCte(3)},
         |${jaccardSelect("", 0.8)}),
         |nn AS (SELECT count(*) AS n FROM documents),
         |kk AS (SELECT unnest(range(0, $NEG_K)) AS k),
         |c AS (SELECT pr.doc_a, pr.doc_b, CAST(kk.k AS BIGINT) AS k,
         |    CAST(CAST(('0x' || substr(md5('neg:' || CAST(kk.k AS VARCHAR)
         |        || ':' || CAST(pr.doc_a AS VARCHAR)
         |        || ':' || CAST(pr.doc_b AS VARCHAR)), 1, 15)) AS UBIGINT)
         |      % nn.n AS BIGINT) AS neg_id
         |  FROM pr, kk, nn)
         |SELECT doc_a, doc_b, k, neg_id FROM c
         |WHERE neg_id <> doc_a AND neg_id <> doc_b""".stripMargin,
    // q21's pairs replayed, split assignment replayed as the same md5
    // bucket arithmetic, leak repair replayed as the same move-to-train.
    "q116_split_leakage" ->
      s"""WITH pr AS (WITH ${shinglesCte(3)},
         |${jaccardSelect("", 0.8)}),
         |sp AS (SELECT doc_id,
         |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
         |         ELSE 'test' END AS split_assigned
         |  FROM (SELECT doc_id,
         |      CAST(('0x' || substr(md5('$SPLIT_SALT' || CAST(doc_id AS VARCHAR)), 1, 15))
         |        AS UBIGINT) % 100 AS b
         |    FROM documents)),
         |x AS (SELECT pr.doc_a, pr.doc_b
         |  FROM pr JOIN sp sa ON sa.doc_id = pr.doc_a
         |  JOIN sp sb ON sb.doc_id = pr.doc_b
         |  WHERE sa.split_assigned <> sb.split_assigned),
         |lk AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc_a AS doc_id FROM x UNION ALL SELECT doc_b FROM x))
         |SELECT sp.doc_id, sp.split_assigned,
         |  lk.doc_id IS NOT NULL AS leaked,
         |  CASE WHEN lk.doc_id IS NOT NULL THEN 'train'
         |       ELSE sp.split_assigned END AS split_final
         |FROM sp LEFT JOIN lk ON lk.doc_id = sp.doc_id""".stripMargin,
    // q21's pairs replayed, then the (source, source) rollup with exact
    // possible-pair denominators.
    "q111_source_dup_matrix" ->
      s"""WITH pr AS (WITH ${shinglesCte(3)},
         |${jaccardSelect("", 0.8)}),
         |src AS (SELECT doc_id, source FROM documents),
         |cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |px AS (SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b
         |  FROM pr JOIN src sa ON sa.doc_id = pr.doc_a
         |  JOIN src sb ON sb.doc_id = pr.doc_b),
         |m AS (SELECT source_a, source_b, count(*) AS n_pairs
         |  FROM px GROUP BY 1, 2),
         |x AS (SELECT m.source_a, m.source_b, m.n_pairs,
         |    CASE WHEN m.source_a = m.source_b THEN ca.n * (ca.n - 1) // 2
         |         ELSE ca.n * cb.n END AS possible_pairs
         |  FROM m JOIN cnt ca ON ca.source = m.source_a
         |  JOIN cnt cb ON cb.source = m.source_b)
         |SELECT source_a, source_b, n_pairs, possible_pairs,
         |  CAST(n_pairs AS DOUBLE) / CAST(possible_pairs AS DOUBLE) AS dup_rate
         |FROM x""".stripMargin,
    // Blocked variant: the oracle applies the same (lang, ±1 length-bucket)
    // candidate constraint the Spark side's exploded keys encode.
    "q22_dedup_ngram_blocked" ->
      s"""WITH ${shinglesCte(2)},
         |blk AS (SELECT doc_id, lang, len(w) // 32 AS b FROM w),
         |${jaccardSelect(
           """JOIN blk ba ON ba.doc_id = da
             |JOIN blk bb ON bb.doc_id = db AND bb.lang = ba.lang
             |  AND abs(ba.b - bb.b) <= 1""".stripMargin, 0.6)}""".stripMargin,
    // All-pairs exact hamming over the identical fingerprints — pigeonhole
    // blocking has recall 1 at hamming <= 3, so the sets must be equal.
    "q30_dedup_simhash" ->
      s"""WITH fp AS (${TextQueries.simhashSql})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    // Inverted-index n-gram overlap; string shingles in the oracle vs
    // 64-bit-hashed shingles in the plan — identical counts up to a
    // ~2^-64 per-shingle collision chance (same argument as q21/q22).
    "q38_decontamination" -> deconSql,
    // The bloom-prefiltered variant must return exactly the exact answer
    // (no false negatives): q38's oracle verbatim.
    "q82_bloom_decontam" -> deconSql,
    // String spans in the oracle vs xxhash64'd spans in the plan — identical
    // counts up to the ~2^-64 per-span collision chance (the q21 argument).
    "q86_span_dedup" -> {
      val wm1 = SPAN_W - 1
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents WHERE text IS NOT NULL),
         |spans AS (SELECT doc_id,
         |    array_to_string(w[CAST(i AS INTEGER):CAST(i + $wm1 AS INTEGER)], ' ') AS s
         |  FROM w, UNNEST(range(1, len(w) - $wm1 + 1)) r(i)),
         |c AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS c FROM spans)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
         |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |    AS dup_frac
         |FROM c GROUP BY doc_id""".stripMargin
    },
    // Same blocking as q22; DuckDB's unbanded levenshtein equals the
    // banded result wherever the banded one answers (<= threshold).
    "q84_dedup_edit" ->
      s"""WITH w AS (SELECT doc_id, lang, text,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS nw
         |  FROM documents),
         |blk AS (SELECT doc_id, lang, text, nw // $EDIT_BUCKET AS b FROM w)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(levenshtein(substr(a.text, 1, $EDIT_PREFIX),
         |                   substr(b.text, 1, $EDIT_PREFIX)) AS INTEGER)
         |    AS edit_dist
         |FROM blk a JOIN blk b
         |  ON a.lang = b.lang AND abs(a.b - b.b) <= 1 AND a.doc_id < b.doc_id
         |WHERE levenshtein(substr(a.text, 1, $EDIT_PREFIX),
         |                  substr(b.text, 1, $EDIT_PREFIX)) <= $EDIT_MAX""".stripMargin,
    // All-pairs exact Jaccard at τ=0.8 restricted to batch×corpus pairs —
    // the incremental probe through the materialized fingerprints must
    // equal the all-pairs gate on exactly those pairs (same recall argument
    // as q21; the layout must be invisible to results).
    "q73_incremental_dedup" ->
      s"""WITH ${shinglesCte(INC_K)},
         |inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s
         |  WHERE a.doc_id < $BATCH_MAX_ID AND b.doc_id >= $BATCH_MAX_ID
         |  GROUP BY 1, 2)
         |SELECT da AS batch_id, db AS corpus_id,
         |  CAST(i AS DOUBLE) / (za.n + zb.n - i) AS jaccard
         |FROM inter
         |JOIN sz za ON za.doc_id = da
         |JOIN sz zb ON zb.doc_id = db
         |WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= $INC_TAU""".stripMargin,
    // The merge replayed relationally (q72's CTEs), then all-pairs exact
    // Jaccard of the day-2 batch against the MERGED corpus — one gate over
    // merge + partial fingerprint refresh + probe. The inserted near-dup
    // copies (doc_id+1000000) must appear as matches.
    "q78_incremental_refresh" -> {
      val km1 = INC_K - 1
      s"""WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
         |upd AS (SELECT doc_id, 'rev2 ' || text AS text FROM en WHERE doc_id % 7 = 3),
         |ins AS (SELECT doc_id + 1000000 AS doc_id, 'new ' || text AS text
         |  FROM en WHERE doc_id % 11 = 5),
         |b AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         |merged AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM b)
         |  UNION ALL SELECT doc_id, text FROM b),
         |uni AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < $BATCH_MAX_ID
         |  UNION ALL SELECT doc_id, text FROM merged WHERE doc_id >= $BATCH_MAX_ID),
         |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM uni),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(w) - $km1, 1) + 1),
         |    i -> array_to_string(w[i:i+$km1], ' ')))) AS s FROM w),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS da, b2.doc_id AS db, count(*) AS i
         |  FROM sh a JOIN sh b2 ON a.s = b2.s
         |  WHERE a.doc_id < $BATCH_MAX_ID AND b2.doc_id >= $BATCH_MAX_ID
         |  GROUP BY 1, 2)
         |SELECT da AS batch_id, db AS corpus_id,
         |  CAST(i AS DOUBLE) / (za.n + zb.n - i) AS jaccard
         |FROM inter
         |JOIN sz za ON za.doc_id = da
         |JOIN sz zb ON zb.doc_id = db
         |WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= $INC_TAU""".stripMargin
    },
    // Banded sign-bucket LSH with the identical md5-derived hyperplanes;
    // the oracle applies the same (band, bucket) candidate constraint and
    // the same 0.0-seeded left-fold cosine (bit-equal to cosine_sim).
    "q35_dedup_embedding" -> embeddingOracle,
    // Transitive closure over the exact-Jaccard τ=0.8 pair set (q21's
    // oracle semantics) via recursive CTE; min reachable id per node.
    "q44_dedup_clusters" -> clustersSql,
    // Same hash60 window rule, same cut assembly, same digests.
    "q110_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, text, len(text) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |cu AS (SELECT doc_id, text,
        |    list_sort(list_distinct(list_concat(list_concat(
        |      [CAST(0 AS BIGINT)],
        |      CASE WHEN n < 4 THEN CAST([] AS BIGINT[])
        |           ELSE list_filter(range(CAST(4 AS BIGINT), CAST(n + 1 AS BIGINT)),
        |             i -> CAST(('0x' || substr(md5(
        |                    substr(text, CAST(i - 3 AS INTEGER), 4)), 1, 15))
        |                  AS UBIGINT) % 64 = 0)
        |      END),
        |      [CAST(n AS BIGINT)]))) AS cuts
        |  FROM t)
        |SELECT doc_id, CAST(j AS INTEGER) AS chunk_idx,
        |  cuts[CAST(j + 1 AS INTEGER)] - cuts[CAST(j AS INTEGER)] AS chunk_len,
        |  md5(substr(text, CAST(cuts[CAST(j AS INTEGER)] + 1 AS INTEGER),
        |      CAST(cuts[CAST(j + 1 AS INTEGER)] - cuts[CAST(j AS INTEGER)]
        |        AS INTEGER))) AS chunk_md5
        |FROM cu, UNNEST(range(1, len(cuts))) s(j)
        |WHERE cuts[CAST(j + 1 AS INTEGER)] > cuts[CAST(j AS INTEGER)]""".stripMargin,
    // q44's transitive closure + q65's score + the argmax keep window.
    "q108_keep_best" ->
      s"""WITH c AS (SELECT doc_id, cluster_id FROM ($clustersSql) t),
         |tok AS (SELECT doc_id,
         |    regexp_split_to_array(trim(text), '\\s+') AS w,
         |    length(text) AS char_len,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
         |      AS punct_cnt
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id,
         |    ${TextQueries.qualityScoreSql("w", "punct_cnt", "char_len")}
         |      AS quality_score
         |  FROM tok),
         |j AS (SELECT c.doc_id, c.cluster_id, s.quality_score
         |  FROM c JOIN s USING (doc_id))
         |SELECT doc_id, cluster_id, quality_score,
         |  (row_number() OVER (PARTITION BY cluster_id
         |     ORDER BY quality_score DESC, doc_id)) = 1 AS kept
         |FROM j""".stripMargin,
    // Same aligned 16-word block segmentation, md5 per block, >= 2 distinct
    // docs -> boilerplate; cleaned digest = kept block hashes in order.
    "q47_boilerplate" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents WHERE text IS NOT NULL),
         |seg AS (SELECT doc_id, i,
         |    md5(array_to_string(w[(i*$BOIL_BLOCK+1):(i*$BOIL_BLOCK+$BOIL_BLOCK)], ' ')) AS h
         |  FROM w, unnest(range(0, CAST(ceil(len(w) / ${BOIL_BLOCK.toDouble}) AS INT))) AS t(i)),
         |bo AS (SELECT h, TRUE AS boiler FROM (
         |    SELECT h, count(DISTINCT doc_id) AS nd FROM seg GROUP BY 1)
         |  WHERE nd >= $BOIL_MIN_DOCS),
         |m AS (SELECT seg.doc_id, seg.i, seg.h, coalesce(bo.boiler, FALSE) AS boiler
         |  FROM seg LEFT JOIN bo USING (h))
         |SELECT doc_id,
         |  count(*) AS n_segments,
         |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  md5(coalesce(string_agg(h, ',' ORDER BY i) FILTER (WHERE NOT boiler), ''))
         |    AS clean_md5,
         |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |    AS boiler_frac
         |FROM m GROUP BY doc_id""".stripMargin)

  private def ndHpList(g: Array[Array[Int]], p: Int): String =
    g(p).map(k => s"($k)/CAST(1000 AS DOUBLE)").mkString("[", ",", "]")

  private def ndBucketSql(g: Array[Array[Int]], v: String): String =
    (0 until ND_PLANES).map { p =>
      s"(CASE WHEN ${SimilarityQueries.dotSql(v, ndHpList(g, p))} >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  private def embeddingOracle: String = {
    val dot = SimilarityQueries.dotSql _
    val bands = ndGrids.zipWithIndex.map { case (g, b) =>
      s"SELECT vec_id, embedding, $b AS band, ${ndBucketSql(g, "embedding")} AS bucket FROM e"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |bands AS ($bands),
       |pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |e2 AS (SELECT vec_id, embedding,
       |  sqrt(${dot("embedding", "embedding")}) AS nrm FROM e)
       |SELECT vec_a, vec_b,
       |  ${dot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cosine
       |FROM pairs JOIN e2 x ON vec_a = x.vec_id JOIN e2 y ON vec_b = y.vec_id
       |WHERE ${dot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= $ND_TAU""".stripMargin
  }
}
