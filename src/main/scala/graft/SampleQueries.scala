package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextOps

/** Corpus-shaping operators a training-data pipeline runs after scoring:
  * deterministic stratified sampling and per-stratum length statistics.
  */
object SampleQueries {
  import Queries.Q

  /** Per-language keep rates (percent): the over-represented language is
    * downsampled, the rest kept — the classic corpus rebalancing step. */
  private val keepPct: Seq[(String, Int)] =
    Seq("en" -> 40, "de" -> 100, "es" -> 100, "fr" -> 100, "zh" -> 80)

  private[graft] def rateCol(lang: Column): Column =
    keepPct.foldLeft(when(lit(false), lit(0))) {
      case (acc, (l, r)) => acc.when(lang === l, lit(r))
    }.otherwise(lit(0))

  /** q31: hash-bucket stratified sampling — keep a document iff its 60-bit
    * content-independent hash (md5 of the id, so the decision is stable
    * across runs, machines, and engines) falls under the language's rate;
    * emit the importance weight 100/rate for downstream statistics.
    * Unlike `df.sample()`, this is deterministic, join-stable (the same id
    * always lands the same way), and needs no RNG state — the only sampling
    * discipline that works on a 1000-executor re-runnable pipeline. */
  val q31StratifiedSample: Q = (s, d) => {
    val bucket = pmod(TextOps.hash60(col("doc_id").cast(StringType)), lit(100))
    val rate = rateCol(col("lang"))
    Tables.documents(s, d)
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"),
        (lit(100.0) / rate.cast(DoubleType)).as("weight"))
  }

  /** q32: per-language word-count distribution — exact interpolated
    * percentiles (p50/p90/p99) + mean. Exact percentile = a sort per
    * group; for 100 TB you'd swap in approx_percentile (t-digest sketch,
    * mergeable map-side) and accept bounded error — kept exact here so the
    * oracle can assert equality. */
  val q32TokenPercentiles: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), size(TextOps.words(col("text"))).as("wc"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        percentile(col("wc"), lit(0.5)).as("p50"),
        percentile(col("wc"), lit(0.9)).as("p90"),
        percentile(col("wc"), lit(0.99)).as("p99"),
        // decimal sum, not avg(): double partial sums are order-dependent
        // across partitions; the exact sum divides deterministically
        (sum(col("wc").cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1)))
          .as("mean_wc"))

  /** q168: EXACT percentiles WITHOUT the per-group sort — the third member
    * of the percentile ladder: q32 is exact-by-sort (collects every value
    * per group), q40 is approximate (t-digest, rows-only gate); this is
    * exact AND mergeable, exploiting that the metric's domain is bounded
    * integers (word counts): the corpus collapses to a (lang, wc) → count
    * HISTOGRAM first (map-side combined, the value-distribution state an
    * ANALYZE pass ships), the cumulative walk runs over NDV(wc) rows —
    * never corpus rows — and the discrete percentile is the smallest value
    * whose cumulative count covers ⌈p·n⌉, decided by integer
    * cross-multiplication (100·cum ≥ pct·n), so no IEEE operation exists
    * anywhere in the query. Discrete ("type 1") percentiles, not q32's
    * interpolated ones: the answer is always a value that occurs in the
    * data.
    *
    * Scale shape: one groupBy exchange carrying NDV(lang, wc) rows (for
    * text word-counts, thousands — regardless of corpus size), one
    * NDV-sized window per lang, one 5-row final aggregate. Histogram
    * states merge by addition across shards/days (the q152/q154 mergeable
    * discipline). The oracle computes the same percentiles the brute way —
    * row_number over every value — so the gate proves the histogram path
    * against the full sort it replaces. */
  val q168HistogramPercentiles: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(s, d)
      .select(col("lang"), size(TextOps.words(col("text"))).as("wc"))
      .groupBy(col("lang"), col("wc")).agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy(col("lang")).orderBy(col("wc"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
    def pctVal(pct: Int): Column =
      min(when(col("cum") * 100 >= col("n") * pct, col("wc")))
    cum.groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        pctVal(50).as("p50"), pctVal(90).as("p90"), pctVal(99).as("p99"))
  }

  /** q175: importance-WEIGHTED exact percentiles over the q31 stratified
    * sample — the statistics half of the sampling contract: q31 keeps a
    * deterministic hash-bucket sample with per-language importance
    * weights; this query proves the weighted estimator is itself an exact,
    * replayable operator. The q168 histogram discipline carries over with
    * weights: per (lang, n_chars) the INTEGER centi-weights (10000/rate —
    * exact for every configured rate) sum map-side, the cumulative walk
    * runs over NDV rows, and the weighted discrete percentile is the
    * smallest value whose cumulative weight covers p·W by integer
    * cross-multiplication. No IEEE operation exists in the query; the
    * sample-vs-corpus estimation error (the statistical claim) is bounded
    * separately by OperationalSpec against the full-corpus percentiles.
    *
    * Scale shape: the sample predicate is in-scan (no RNG state, no
    * join), the histogram exchange carries NDV(lang, n_chars) rows, and
    * weights never leave integer arithmetic — the exact-replay property
    * that makes a weighted-sample dashboard auditable. */
  val q175WeightedPercentiles: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val bucket = pmod(TextOps.hash60(col("doc_id").cast(StringType)), lit(100))
    val rate = rateCol(col("lang"))
    val hist = Tables.documents(s, d)
      .filter(bucket < rate)
      .select(col("lang"), col("n_chars"),
        (lit(10000) / rate).cast(LongType).as("w_centi"))
      .groupBy(col("lang"), col("n_chars"))
      .agg(sum(col("w_centi")).as("wc"))
    val cum = hist
      .withColumn("cumw", sum(col("wc"))
        .over(Window.partitionBy(col("lang")).orderBy(col("n_chars"))))
      .withColumn("totw", sum(col("wc")).over(Window.partitionBy(col("lang"))))
    def wp(pct: Int) =
      min(when(col("cumw") * 100 >= col("totw") * pct, col("n_chars")))
    cum.groupBy(col("lang"))
      .agg(max(col("totw")).as("total_weight_centi"),
        wp(50).as("wp50"), wp(90).as("wp90"), wp(99).as("wp99"))
  }

  /** q177: QUANTILE NORMALIZATION across sources — the batch-effect
    * correction for merging heterogeneous corpora (the cross-source score
    * problem q123 calibrates at decile granularity, solved exactly at
    * full rank granularity): each document's score is replaced by the
    * POOLED distribution's value at the same relative rank, so every
    * source's normalized scores follow one common distribution and a
    * single global cutoff treats sources fairly. All rank arithmetic is
    * integer: within-source rank r by (score, doc_id) — tie-free by the
    * unique id — target pooled rank k = ⌈r·N_pool/N_src⌉ as
    * (r·N_pool + N_src − 1) div N_src, and the pooled value at rank k
    * comes from the pooled HISTOGRAM's cumulative rank intervals
    * [cum−cnt+1, cum] (the q168 discipline — no global row sort
    * anywhere).
    *
    * Scale shape: one window per source partition (corpus rows, hash-
    * partitioned by source), a histogram collapse to NDV rows, a 1-row
    * pool-size broadcast, and the rank→value lookup as a range join
    * against the BROADCAST histogram — NDV(score) stays bounded while
    * the corpus grows, so the broadcast holds at any scale. */
  val q177QuantileNorm: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars").as("score"))
    val ranked = docs
      .withColumn("r", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("score"), col("doc_id"))))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col("source"))))
    val total = docs.agg(count(lit(1)).as("n_pool"))
    // Layout-adaptive two-stage prefix scan over the histogram (r19 opt,
    // guide §2.5): on cluster-scale inputs the partition-less window
    // would serialize all distinct scores through one task; bucketing by
    // v div 64 (monotone in v) runs the cum per bucket with broadcast
    // bucket offsets — identical values, parallel frame. Narrow local
    // inputs keep the one-window form (measured cheaper at sf0.1); the
    // lazy checkpoint keeps the histogram aggregation computed once for
    // the wide branch's two consumers.
    val wide = graft.operators.PrefixScan.wideScan(docs)
    val hist0 = docs.groupBy(col("score").as("v")).agg(count(lit(1)).as("cnt"))
    val hist = graft.operators.PrefixScan.runningAdaptive(
      if (wide) hist0.localCheckpoint(false) else hist0,
      Nil, expr("v div 64"), Seq(col("v")),
      Seq((col("cnt"), "sum", "cumhi")),
      exclusive = false, parallel = wide)
      .withColumn("cumlo", col("cumhi") - col("cnt") + 1)
    ranked.crossJoin(broadcast(total))
      .withColumn("k",
        expr("(r * n_pool + n_src - 1) div n_src"))
      .join(broadcast(hist),
        col("k") >= col("cumlo") && col("k") <= col("cumhi"))
      .select(col("doc_id"), col("source"), col("score"),
        col("v").as("norm_score"))
  }

  /** q37: deterministic training-shard materialization — every document
    * gets a stable shard id (md5-hash mod n, engine-portable like q31's
    * buckets) and a position within its shard, ordered by a second
    * independent content-stable hash (the "global shuffle" of training
    * data WITHOUT a global sort: order is decided per shard, so the only
    * exchange is the shard hash partitioning — at 100 TB each shard sorts
    * independently and writes its file; no range exchange, no skew from
    * data order). Ties cannot occur: the position hash is keyed by the
    * unique doc_id. */
  private val N_SHARDS = 8

  val q37TrainingShards: Q = (s, d) => {
    val shard = pmod(TextOps.hash60(col("doc_id").cast(StringType)), lit(N_SHARDS))
    val order = TextOps.saltedOrd("shuf:")
    Tables.documents(s, d)
      .select(col("doc_id"), shard.cast(IntegerType).as("shard"), order.as("ord"))
      .withColumn("position",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("ord"))))
      .select(col("doc_id"), col("shard"), col("position"))
  }

  /** q40: the 100 TB sketch path q32's scaladoc promises — mergeable
    * approximations instead of exact sorts: `approx_percentile` (t-digest,
    * map-side mergeable, no per-group sort) and `approx_count_distinct`
    * (HyperLogLog++, fixed 2.5KB state per group vs an exact distinct's
    * keyed shuffle of every value). No DuckDB oracle — sketch internals
    * differ across engines — so the gate records the weaker rows-only
    * check; the EXACT twins (q32, q20) stay the correctness anchors, and
    * the spec below bounds the sketch error against them. */
  val q40ApproxStats: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), size(TextOps.words(col("text"))).as("wc"),
        substring(col("text"), 1, 32).as("prefix32"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        approx_count_distinct(col("prefix32")).as("approx_distinct_prefixes"),
        approx_percentile(col("wc"), lit(0.5), lit(10000)).as("p50_approx"),
        approx_percentile(col("wc"), lit(0.99), lit(10000)).as("p99_approx"))

  /** q70: q40's EXACT distinct twin under the hash gate — per-language
    * `count(distinct prefix32)` through Spark's exact distinct aggregation
    * (the Expand-based two-shuffle plan: every distinct value rides the
    * exchange once, then collapses per key). This is the plan HLL replaces
    * at 100 TB — kept oracle-green as the correctness anchor the q40
    * sketch is bounded against (SketchSpec), exactly the q65↔q54 pairing:
    * sketch headline rows-only, exact twin hash-exact. */
  val q70DistinctExact: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), substring(col("text"), 1, 32).as("prefix32"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("prefix32")).as("distinct_prefixes"))

  /** q74: deterministic multi-epoch reshuffle — q37's training shards,
    * re-permuted per epoch. Training runs want a DIFFERENT global order
    * every epoch without ever paying a global sort: both the shard
    * assignment and the within-shard order are salted by the epoch
    * (`hash60("ep<e>s:"||id)` / `hash60("ep<e>o:"||id)`), so epoch e's
    * layout is a fresh pseudo-random permutation, reproducible from
    * (doc_id, epoch) alone — a failed epoch re-materializes bit-identically
    * on any cluster. All epochs build in ONE job and ONE exchange: the
    * epoch column is exploded in-scan (a generator, not a shuffle) and the
    * window partitions by (epoch, shard), so the hash exchange carries each
    * doc once per epoch and each (epoch, shard) cell sorts independently —
    * no range exchange, no cross-epoch barrier, same scale shape as q37.
    * OperationalSpec asserts the epochs really are pairwise different
    * permutations; the plan pin holds the single-exchange shape. */
  private[graft] val N_EPOCHS = 2

  val q74EpochReshuffle: Q = (s, d) => {
    val idStr = col("doc_id").cast(StringType)
    val epStr = col("epoch").cast(StringType)
    val shard = pmod(TextOps.hash60(concat(lit("ep"), epStr, lit("s:"), idStr)), lit(N_SHARDS))
    val ord = TextOps.hash60(concat(lit("ep"), epStr, lit("o:"), idStr))
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(N_EPOCHS - 1))).as("epoch"))
      .select(col("doc_id"), col("epoch"),
        shard.cast(IntegerType).as("shard"), ord.as("ord"))
      .withColumn("position",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("epoch"), col("shard")).orderBy(col("ord"))))
      .select(col("doc_id"), col("epoch"), col("shard"), col("position"))
  }

  /** q48: fixed-length sequence packing — the step after q37's sharding
    * that turns documents into training sequences: documents are laid
    * back-to-back in each shard's deterministic order, and a document
    * starting at running-token offset t belongs to sequence floor(t/L)
    * at offset t mod L (straddlers continue into the next sequence at
    * read time). One window per shard partition — the only exchange is
    * the shard hash partitioning, same scale shape as q37: no global
    * sort, each shard packs independently. */
  private val SEQ_LEN = 1024

  val q48SequencePack: Q = (s, d) => {
    val shard = pmod(TextOps.hash60(col("doc_id").cast(StringType)), lit(N_SHARDS))
    val order = TextOps.saltedOrd("shuf:")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("ord"))
    Tables.documents(s, d)
      .select(col("doc_id"), shard.cast(IntegerType).as("shard"), order.as("ord"),
        size(TextOps.words(col("text"))).as("n_tokens"))
      .withColumn("start_tok", coalesce(
        sum(col("n_tokens")).over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("start_tok") / lit(SEQ_LEN.toDouble)).cast(LongType).as("seq_id"),
        pmod(col("start_tok"), lit(SEQ_LEN.toLong)).as("seq_off"))
  }

  /** q49: mixture rebalancing — hit a target language mixture with maximal
    * data retention: the bottleneck language (smallest actual/target ratio)
    * keeps 100% and every other language downsamples to C·target_l/actual_l,
    * where C = min_l(actual_l/target_l). The global stats feed back into the
    * per-row decision through two tiny broadcast joins (5-row lang counts ×
    * 1-row scale constant) — the corpus itself NEVER shuffles and nothing
    * touches the driver; the keep decision is the same deterministic
    * hash-bucket sampling as q31. */
  private val targetMix: Seq[(String, Double)] =
    Seq("en" -> 0.30, "de" -> 0.20, "es" -> 0.20, "fr" -> 0.20, "zh" -> 0.10)

  private def targetCol(lang: Column): Column =
    targetMix.foldLeft(when(lit(false), lit(0.0))) {
      case (acc, (l, t)) => acc.when(lang === l, lit(t))
    }.otherwise(lit(0.0))

  val q49MixtureRebalance: Q = (s, d) => mixtureRebalance(Tables.documents(s, d))

  private[graft] def mixtureRebalance(docs: org.apache.spark.sql.DataFrame) = {
    // Langs outside the target mix get target 0: excluded from the
    // bottleneck min (NULL ratio — ANSI mode would otherwise throw
    // DIVIDE_BY_ZERO on the double division) and kept at rate 0.
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("ratio", when(targetCol(col("lang")) > 0,
        col("n").cast(DoubleType) / targetCol(col("lang"))))
    val scale = counts.agg(min(col("ratio")).as("c"))
    val rates = counts.crossJoin(broadcast(scale))
      .select(col("lang"),
        when(targetCol(col("lang")) > 0,
          col("c") * targetCol(col("lang")) / col("n").cast(DoubleType))
          .otherwise(lit(0.0)).as("rate"))
    val bucket = pmod(TextOps.hash60(col("doc_id").cast(StringType)), lit(10000))
    docs.join(broadcast(rates), "lang")
      .select(col("doc_id"), col("lang"), col("rate"),
        (bucket.cast(DoubleType) < col("rate") * 10000.0).as("kept"))
  }

  /** q63: exact-size stratified sample — min(`EXACT_N`, stratum size)
    * docs per language (q31's rate sampler yields binomially-varying
    * sizes; quota jobs need fixed counts — and must still handle a
    * stratum SMALLER than its quota, which this under-fills with no
    * error: check per-stratum row counts downstream if short batches are
    * fatal). Deterministic: rank within each language by the salted
    * content-independent id hash and keep the first N — same sample on
    * every run/engine, no RNG state, uniform inclusion within each
    * stratum. One hash exchange on lang + per-partition sort; the rank
    * never leaves the partition. */
  private val EXACT_N = 20

  val q63ExactSample: Q = (s, d) => {
    val ord = TextOps.saltedOrd("xs:")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), ord.as("ord"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("ord"))))
      .filter(col("rk") <= EXACT_N)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  /** q87: deterministic weighted (PPS) systematic sampling — pick K
    * documents with probability proportional to size, without RNG state and
    * without a global sort. Classic systematic sampling: lay the corpus on
    * a [0, T) weight axis in a content-stable pseudo-random order
    * (hash60("ws:"||id), the q31/q37 discipline), drop K evenly spaced
    * thresholds, and pick the doc whose interval covers each threshold —
    * a doc wider than the stride is picked more than once (`n_picks` is the
    * multiplicity: exactly the PPS-with-replacement semantics quota
    * samplers expect). All math is BIGINT — threshold j lands in doc i iff
    * floor(cum_i·K/T) increments — so the sample is bit-reproducible on any
    * engine, and Σ n_picks = K exactly, by telescoping. (cum·K must stay
    * under 2^63: at 10^14 chars × K=100 that holds with 3 orders of margin;
    * past it, widen to DECIMAL.)
    *
    * Scale shape: the weight axis needs a GLOBAL prefix sum — the one
    * primitive a Window can't do distributed (no partition key ⇒ Spark
    * moves the table to a single partition). Two-phase decomposition
    * instead: ord's high bits split the axis into 64 ORDER-ALIGNED range
    * shards (shard = ord >> 54 — shard boundaries respect the global ord
    * order, no range exchange needed to form them); each shard cumsums
    * independently behind ONE hash exchange; the 64 shard totals prefix-sum
    * into offsets on a metadata-scale frame; a broadcast join adds each
    * shard's offset back. The scan reads two stored BIGINT columns
    * (doc_id, n_chars) — weight needs no tokenization pass. */
  private val WS_K = 100
  private val WS_SHARD_SHIFT = 54 // 60-bit ord >> 54 → 64 order-aligned shards

  private[graft] def weightedSystematicSample(
      docs: org.apache.spark.sql.DataFrame, weight: Column, k: Int) = {
    val W = org.apache.spark.sql.expressions.Window
    val narrow = docs.select(col("doc_id"),
      TextOps.hash60(concat(lit("ws:"), col("doc_id").cast(StringType))).as("ord"),
      weight.cast(LongType).as("weight"))
      .withColumn("shard", shiftright(col("ord"), WS_SHARD_SHIFT).cast(IntegerType))
    val cumShard = narrow.withColumn("cum_in",
      sum(col("weight")).over(W.partitionBy(col("shard"))
        .orderBy(col("ord"), col("doc_id")).rowsBetween(Long.MinValue, 0)))
    val totals = narrow.groupBy(col("shard")).agg(sum(col("weight")).as("tot"))
    val offsets = totals.withColumn("offset", coalesce(
      sum(col("tot")).over(W.orderBy(col("shard")).rowsBetween(Long.MinValue, -1)),
      lit(0L)))
    val total = totals.agg(sum(col("tot")).as("total"))
    cumShard.join(broadcast(offsets.select(col("shard"), col("offset"))), "shard")
      .crossJoin(broadcast(total))
      .withColumn("cum_weight", col("offset") + col("cum_in"))
      .withColumn("n_picks",
        expr(s"(cum_weight * $k) div total - ((cum_weight - weight) * $k) div total"))
      .filter(col("n_picks") >= 1)
      .select(col("doc_id"), col("weight"), col("cum_weight"), col("n_picks"))
  }

  val q87WeightedSample: Q = (s, d) =>
    weightedSystematicSample(Tables.documents(s, d), col("n_chars"), WS_K)

  /** q88: robust outlier scoring — per-language median/MAD z-scores over
    * document word counts. Mean/stddev outlier detection is itself skewed
    * by the outliers it hunts; the robust estimator (median absolute
    * deviation, scaled by the normal-consistency constant 1.4826) is the
    * standard curation gate for length-anomalous documents (truncation,
    * concatenation bugs, boilerplate floods).
    *
    * Determinism: wc is an exact integer; both medians interpolate exact
    * halves (q32's argument — integers and integer-diffs below 2^52, so
    * (a+b)/2 is exact in both engines); the z expression is the identical
    * fixed-shape IEEE tree on both sides, and `is_outlier` compares those
    * bit-equal doubles. A constant-length stratum (mad = 0) yields NULL z
    * — surfaced, not crashed (ANSI divide-by-zero).
    *
    * Scale shape: two keyed aggregations on lang (the second over
    * (wc - med) needs med first — inherently two-round), each collapsing
    * map-side to one row per language; the per-doc frame never shuffles —
    * stats come BACK as broadcasts (q49's feedback pattern). Exact
    * per-group percentile sorts per group; at 100 TB swap
    * approx_percentile like q32→q40 and keep this exact twin as the
    * anchor. */
  private val OUT_Z = 2.5

  val q88RobustOutliers: Q = (s, d) => {
    val wcs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(TextOps.words(col("text"))).as("wc"))
    val med = wcs.groupBy(col("lang"))
      .agg(percentile(col("wc"), lit(0.5)).as("med"))
    val withMed = wcs.join(broadcast(med), "lang")
    val mad = withMed.groupBy(col("lang"))
      .agg(percentile(abs(col("wc").cast(DoubleType) - col("med")), lit(0.5))
        .as("mad"))
    val z = (col("wc").cast(DoubleType) - col("med")) /
      (lit(1.4826) * col("mad"))
    withMed.join(broadcast(mad), "lang")
      .select(col("doc_id"), col("lang"), col("wc"), col("med"), col("mad"),
        when(col("mad") > 0, z).as("z"))
      .withColumn("is_outlier", abs(col("z")) > OUT_Z)
  }

  /** q100: global rank assignment — contiguous 1-based sequence numbers in
    * a TOTAL order over the fact table (the "give every sample its index"
    * step a corpus needs before packed shard writes or curriculum
    * ordering). A single-partition window (`row_number() OVER (ORDER BY
    * …)` with no PARTITION BY) moves the whole table through one task —
    * the non-scalable plan Spark itself warns about. The scalable shape is
    * the engine's own two-stage [[graft.operators.PrefixScan]] (the
    * q192/q196 idiom): rank = running COUNT along the total order, i.e.
    * (1) a per-(day-bucket) partitioned window counts rows locally —
    * fully parallel, the bucket key (`l_shipdate`) is non-decreasing
    * along the order so bucket boundaries are order boundaries; (2) one
    * count per bucket collapses map-side to |days| rows of metadata,
    * prefix-sums in a metadata-sized frame, and broadcasts back as each
    * bucket's exclusive offset. Everything stays inside Catalyst —
    * no RDD round-trip, no codegen break (the round-9 q100 used
    * `zipWithIndex`; this is the same three-phase industrial sort with
    * phase 3 expressed as the engine-native scan the repo already owns).
    *
    * Ties (the fact table holds a few fully-duplicate triples) get
    * arbitrary-but-consecutive ranks in any engine; since the tied rows
    * are identical on every projected column, the output MULTISET is
    * engine-independent and the hash gate stays exact. Bucket boundaries
    * only move rows between window partitions — the total order, and
    * therefore every rank (up to tie permutation), is invariant to the
    * bucket granularity (OperationalSpec proves day ≡ month ≡ year). */
  private[graft] def globalRank(s: org.apache.spark.sql.SparkSession,
                                d: String,
                                bucket: org.apache.spark.sql.Column = col("l_shipdate"))
      : org.apache.spark.sql.DataFrame = {
    val keys = Seq("l_shipdate", "l_orderkey", "l_linenumber")
    graft.operators.PrefixScan.running(
      Tables.lineitem(s, d).select(keys.map(col): _*),
      group = Seq.empty,
      bucket = bucket,
      order = keys.map(col),
      value = lit(1L), op = "sum", out = "rank", exclusive = false)
  }

  val q100GlobalRank: Q = (s, d) => globalRank(s, d)

  /** q104: equi-depth histogram — the data-profiling staple (optimizer
    * statistics, drift monitors, feature binning): quartile boundaries of
    * `events.value` from the EXACT percentile, then per-bin count / min /
    * max / total. Equal-width histograms lie about skewed columns;
    * equal-depth bins adapt their boundaries to the mass.
    *
    * Determinism: the three thresholds replicate Spark's exact-percentile
    * interpolation in the oracle literally (the q65 contract, ×3); bin
    * assignment compares against bit-identical thresholds; the per-bin sum
    * runs in DECIMAL (order-independent — a double sum would vary with
    * task order) and casts to double once.
    *
    * Scale shape: one scalar aggregate broadcasts the 3-element threshold
    * array back onto the scan (the q54/q65 pattern — per-row decisions
    * from a broadcast global stat); the per-bin rollup is a 4-group keyed
    * aggregate collapsing map-side. The exact percentile concentrates
    * O(distinct values) on one reducer — q65's declared honest cost; the
    * sketch path for unbounded columns is q40's approx_percentile, same
    * downstream shape. */
  val q104EquidepthHist: Q = (s, d) => {
    val vals = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), col("value"))
    val th = vals.agg(
      expr("percentile(value, array(0.25D, 0.5D, 0.75D))").as("t"))
    vals.crossJoin(broadcast(th))
      .select(col("value"),
        when(col("value") < element_at(col("t"), 1), 0)
          .when(col("value") < element_at(col("t"), 2), 1)
          .when(col("value") < element_at(col("t"), 3), 2)
          .otherwise(3).as("bin"))
      .groupBy(col("bin")).agg(
        count(lit(1)).as("n"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total"))
  }

  /** q105: temperature-scaled mixture weights — the multilingual-corpus
    * sampling rule (α-smoothed multinomial, the standard way to keep
    * high-resource languages from drowning low-resource ones): per
    * language, weight ∝ n^α with α = [[MIX_ALPHA]] < 1, normalized over
    * the corpus; the expected per-language document counts for a fixed
    * [[MIX_TARGET]]-doc epoch follow. q49 APPLIES a hand-set mixture;
    * this computes one from the corpus itself.
    *
    * Determinism: n^α = exp(α·ln n) is transcendental (1-ulp
    * engine-divergent), so each per-lang power is quantized ONCE at the
    * source — floor(n^α·1e6) — and everything downstream is exact integer
    * arithmetic: the normalizer is a BIGINT sum (order-free, unlike a
    * double fold whose rounding depends on task order), the weight and
    * expected count are integer-division micro-ints. ANSI mode faults on
    * overflow rather than corrupting; a corpus big enough to overflow the
    * ×1e6 products upgrades them to DECIMAL (the q83 note).
    *
    * Scale shape: one keyed count shuffle that collapses map-side (K
    * groups), then ALL remaining arithmetic happens on K rows — the
    * per-lang powers, the scalar normalizer (1-row broadcast back), the
    * final weights. A 100 TB corpus pays one count pass, the mixture
    * itself is metadata-sized. */
  private val MIX_ALPHA = 0.7
  private val MIX_TARGET = 1000000L

  val q105TemperatureMix: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("p_micro",
        floor(pow(col("n_docs").cast(DoubleType), lit(MIX_ALPHA)) *
          lit(1000000.0)).cast(LongType))
    val z = counts.agg(sum(col("p_micro")).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"),
        expr("p_micro * 1000000L DIV z").as("weight_micro"),
        expr(s"p_micro * ${MIX_TARGET}L DIV z").as("expected_docs"))
  }

  /** q129: the deterministic weighted interleave SCHEDULE — the data-loader
    * order itself, not just the mixture (q105 computes weights, q49 applies
    * keep-rates, q74 orders epochs; this emits the position key a loader
    * sorts by to interleave sources α-smoothly). Each source's docs get a
    * content-stable within-source order k (the hash60 idiom), and the
    * global key is (k+1)/√n_source — the classic smooth weighted
    * round-robin: a source with 4× the docs advances its key 2× slower per
    * item, so under the √-temperature mixture small sources surface early
    * and often instead of drowning at the tail.
    *
    * Determinism: √ and ÷ are IEEE-correctly-rounded primitives (not
    * transcendental approximations), so both engines produce identical
    * bits from identical (k, n) integers; ties cannot exist across sources
    * with distinct n, and within a source k is unique.
    *
    * Scale shape: ONE source-keyed window exchange carries (doc_id,
    * source, ord) — row_number and the per-source count share the same
    * partition spec, so no second scan and no broadcast exist. */
  val q129InterleaveSchedule: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val bySrc = W.partitionBy(col("source"))
    val ordered = bySrc.orderBy(TextOps.saltedOrd("il:"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("k", row_number().over(ordered) - 1)
      .withColumn("n_source", count(lit(1)).over(bySrc))
      .withColumn("interleave_key",
        (col("k") + lit(1)).cast(DoubleType) /
          sqrt(col("n_source").cast(DoubleType)))
  }

  /** q134: Neyman minimum-variance sample allocation — the survey-design
    * answer to "I can afford [[NEYMAN_K]] documents for human eval; how
    * many from each language?": allocate ∝ n_h·σ_h (big AND
    * internally-varied strata earn more), which minimizes the estimator's
    * variance at fixed budget. Complements the samplers that pick WHICH
    * rows (q31/q63/q85/q87) with the design step that decides HOW MANY.
    *
    * Determinism: per-stratum variance comes from exact BIGINT moment sums
    * ((n·S2 − S1²)/(n·(n−1))), σ via one IEEE-exact sqrt; the weight is
    * then quantized ONCE (floor(n·σ·10⁶), the q105 rule) so the
    * largest-remainder rounding — floor shares by integer division,
    * remainders ranked by the exact integer K·w mod ΣW, lang tie-break —
    * is pure BIGINT and Σalloc = K EXACTLY (no float allocation ever sums
    * to budget; OperationalSpec pins the invariant).
    *
    * Scale shape: one scan collapses to 5 moment rows map-side; windows
    * run over those 5 rows. */
  private[graft] val NEYMAN_K = 1000L

  val q134NeymanAllocation: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val moments = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("lang"), size(TextOps.words(col("text"))).cast(LongType).as("wc"))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(col("wc")).as("s1"),
        sum(col("wc") * col("wc")).as("s2"))
    val sigma = sqrt(
      (col("n") * col("s2") - col("s1") * col("s1")).cast(DoubleType) /
        (col("n") * (col("n") - 1L)).cast(DoubleType))
    val weighted = moments
      .withColumn("wq", floor(col("n").cast(DoubleType) * sigma * lit(1e6)).cast(LongType))
      .withColumn("w_tot", sum(col("wq")).over(W.partitionBy()))
      .withColumn("base", expr(s"($NEYMAN_K * wq) div w_tot"))
      .withColumn("rem", expr(s"($NEYMAN_K * wq) % w_tot"))
      .withColumn("base_tot", sum(col("base")).over(W.partitionBy()))
      .withColumn("rk", row_number().over(
        W.partitionBy(lit(1)).orderBy(col("rem").desc, col("lang"))))
    weighted.select(col("lang"), col("n").as("n_docs"), col("wq"),
      (col("base") + when(col("rk") <= lit(NEYMAN_K) - col("base_tot"), 1L)
        .otherwise(0L)).as("alloc"))
  }

  /** q162: consistent-hash resharding — the elastic-scaling primitive: when
    * a corpus grows from [[CH_SHARDS]] to [[CH_SHARDS]]+1 shards, a
    * mod-N assignment moves ~N/(N+1) of ALL documents (every bucket
    * re-numbers); a consistent-hash ring moves only ~1/(N+1) — the docs
    * whose ring arc the new shard's virtual nodes capture. Each shard
    * owns [[CH_VNODES]] virtual nodes at md5-derived ring positions; a
    * doc belongs to the first ring node at-or-after its own position
    * (wrapping past the top). Both rings' 128/144 positions are
    * PRECOMPUTED LITERALS (the same md5-hash60 arithmetic as the oracle,
    * evaluated once at plan build), so the per-row assignment is a pure
    * in-scan array `filter`/`element_at` — ZERO joins, zero exchanges on
    * the Spark side; the oracle derives the identical ring relationally
    * and resolves the successor with an inequality join.
    *
    * OperationalSpec pins the movement bound the operator exists for:
    * ring movement ≤ a loose multiple of n/(k+1) while mod-N movement
    * sits near n·k/(k+1).
    *
    * Scale shape: assignment is per-row codegen over a 144-element
    * literal — O(corpus) scan work, no shuffle at all; the reshard plan
    * (which docs move where) falls out as a flag column, so the actual
    * data movement job copies ONLY the moved arc. */
  private val CH_SHARDS = 8
  private val CH_VNODES = 16

  private def ring(k: Int): (Seq[Long], Seq[Int]) = {
    val nodes = for (s <- 0 until k; v <- 0 until CH_VNODES)
      yield (TextOps.hash60Jvm(s"ring:$s:$v"), s)
    val sorted = nodes.sortBy(n => (n._1, n._2))
    (sorted.map(_._1), sorted.map(_._2))
  }

  private def ringOwner(h: Column, k: Int): Column = {
    val (ps, ss) = ring(k)
    val posArr = typedlit(ps)
    val shardArr = typedlit(ss)
    val idx = size(filter(posArr, x => x < h))
    when(idx === ps.length, element_at(shardArr, 1))
      .otherwise(element_at(shardArr, idx + 1))
  }

  val q162ConsistentHash: Q = (s, d) => {
    val h = TextOps.hash60(concat(lit("doc:"),
      col("doc_id").cast(StringType)))
    Tables.documents(s, d)
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard_old", ringOwner(col("h"), CH_SHARDS))
      .withColumn("shard_new", ringOwner(col("h"), CH_SHARDS + 1))
      .withColumn("moved", col("shard_old") =!= col("shard_new"))
  }

  /** q227: EXACT distribution-free MEDIAN CONFIDENCE INTERVAL — the
    * order-statistic interval every "is the median really X" question
    * deserves: for each type's daily event counts x_1..x_n, the sign-
    * test/binomial argument gives P(X_(j) ≤ median ≤ X_(n+1−j)) =
    * 1 − 2·P(Bin(n,½) < j) with NO distributional assumption. The rank j
    * is the largest with 40·Σ_{i<j} C(n,i) ≤ 2ⁿ (the ≤2.5% tail as a
    * pure integer inequality — no float ever decides coverage), and the
    * exact coverage numerator 2ⁿ − 2·tail_j ships in the result beside
    * one readability division.
    *
    * The combinatorics (binomial tails in BigInt, the rank selection)
    * run driver-side over the K-row (type, n) aggregate — sketch
    * altitude, the IBLT/q90 rule. The numerators clear 2⁶³ past 62 days,
    * so `cov_num`/`pow2n` ship as canonical decimal STRINGS (the q229
    * DECIMAL/HUGEINT gating convention) and the oracle replays the tails
    * in 128-bit HUGEINT — n ≤ 124 keeps the oracle's incremental
    * binomial products inside INT128. The ENGINE has no such ceiling
    * (BigInt): [[binomialCiSelection]]/[[medianCiFromDaily]] accept a
    * full year (n ≤ 366), gated by spec instead of oracle —
    * OperationalSpec proves the n = 365 selection against an independent
    * Pascal-triangle reference and runs the year-scale CI end-to-end on
    * a synthetic 365-day series.
    * The tail-selection inequality is 40·Σ ≤ 2ⁿ refolded as
    * Σ ≤ ⌊2ⁿ/40⌋ — equivalent on integers, and the 40× product can
    * never overflow the replay. The ORDER STATISTICS stay distributed:
    * one rank window per type picks the j-th, median, and (n+1−j)-th
    * values.
    *
    * Scale shape: the daily collapse is map-side; everything after is
    * K·|days| rows. The point at 100 TB is that exact inference needs
    * only the GROUPED series — the raw stream never reaches the driver. */
  /** The exact binomial rank selection behind q227: largest j with
    * 40·Σ_{i<j} C(n,i) ≤ 2ⁿ (the ≤2.5% tail as a pure integer
    * inequality), returning (j, cov_num, 2ⁿ). Engine ceiling is n ≤ 366
    * — a YEAR of daily counts — because the arithmetic is BigInt with no
    * 128-bit limit; the oracle-gated q227 additionally caps its input at
    * n ≤ 124 (the DuckDB replay's HUGEINT range), and the 124 < n ≤ 366
    * regime is SPEC-gated instead: OperationalSpec replays n = 365
    * against an independent Pascal-triangle reference (the q40/q65 twin
    * discipline, applied to an oracle-arithmetic ceiling rather than a
    * sketch). A tiny series where even j = 1 overshoots degrades to the
    * widest interval (x_(1), x_(n)) with its honest sub-95% coverage. */
  private[graft] def binomialCiSelection(n: Int): (Int, BigInt, BigInt) = {
    require(n >= 1 && n <= 366, s"median CI selection needs 1 ≤ n ≤ 366 (got $n)")
    val binom = new Array[BigInt](n + 1)
    binom(0) = BigInt(1)
    for (i <- 1 to n) binom(i) = binom(i - 1) * (n - i + 1) / i
    val pow2n = BigInt(2).pow(n)
    var j = 0
    var cum = BigInt(0)
    var stop = false
    for (cand <- 1 to (n + 1) / 2 if !stop) {
      val t = cum + binom(cand - 1)
      if (t * 40 <= pow2n) { cum = t; j = cand } else stop = true
    }
    if (j == 0) { j = 1; cum = binom(0) }
    (j, pow2n - 2 * cum, pow2n)
  }

  /** The CI assembly over an arbitrary (event_type, day, x) daily table,
    * shared by the oracle-gated q227 (maxN = 124) and the spec-gated
    * year-scale path (maxN = 366). */
  private[graft] def medianCiFromDaily(s: org.apache.spark.sql.SparkSession,
                                       daily: org.apache.spark.sql.DataFrame,
                                       maxN: Int): org.apache.spark.sql.DataFrame = {
    val ns = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    val sel = ns.toSeq.sorted.map { case (ty, n) =>
      require(n <= maxN, s"median CI for '$ty': n = $n exceeds ceiling $maxN")
      val (j, covNum, pow2n) = binomialCiSelection(n)
      // BigInt → Double is correctly rounded on the JVM; the oracle
      // round-trips its HUGEINTs through VARCHAR (strtod is correctly
      // rounded too), and pow2n is a power of two (exact divisor) — so
      // the readability ratio is bit-identical on both engines at any n.
      (ty, j.toLong, (n + 1 - j).toLong, ((n + 1) / 2).toLong,
        covNum.toString, pow2n.toString,
        covNum.doubleValue / pow2n.doubleValue)
    }
    import s.implicits._
    val selDf = sel.toDF("event_type", "j_rank", "k_rank", "med_rank",
      "cov_num", "pow2n", "coverage")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("x"), col("day"))
    daily.withColumn("rn", row_number().over(w).cast(LongType))
      .join(broadcast(selDf), "event_type")
      .groupBy(col("event_type"), col("j_rank"), col("k_rank"),
        col("cov_num"), col("pow2n"), col("coverage"))
      .agg(count(lit(1)).as("n_days"),
        max(when(col("rn") === col("j_rank"), col("x"))).as("lo_x"),
        max(when(col("rn") === col("med_rank"), col("x"))).as("median_x"),
        max(when(col("rn") === col("k_rank"), col("x"))).as("hi_x"))
      .select(col("event_type"), col("n_days"), col("median_x"),
        col("lo_x"), col("hi_x"), col("j_rank"), col("k_rank"),
        col("cov_num"), col("pow2n"), col("coverage"))
  }

  val q227MedianCi: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x"))
    medianCiFromDaily(s, daily, maxN = 124)
  }

  val queries: Map[String, Q] = Map(
    "q227_median_ci" -> q227MedianCi,
    "q162_consistent_hash" -> q162ConsistentHash,
    "q134_neyman_allocation" -> q134NeymanAllocation,
    "q129_interleave_schedule" -> q129InterleaveSchedule,
    "q105_temperature_mix"  -> q105TemperatureMix,
    "q104_equidepth_hist"   -> q104EquidepthHist,
    "q100_global_rank"      -> q100GlobalRank,
    "q31_stratified_sample" -> q31StratifiedSample,
    "q63_exact_sample"      -> q63ExactSample,
    "q32_token_percentiles" -> q32TokenPercentiles,
    "q168_histogram_percentiles" -> q168HistogramPercentiles,
    "q175_weighted_percentiles" -> q175WeightedPercentiles,
    "q177_quantile_norm" -> q177QuantileNorm,
    "q37_training_shards"   -> q37TrainingShards,
    "q74_epoch_reshuffle"   -> q74EpochReshuffle,
    "q40_approx_stats"      -> q40ApproxStats,
    "q48_sequence_pack"     -> q48SequencePack,
    "q49_mixture_rebalance" -> q49MixtureRebalance,
    "q70_distinct_exact"    -> q70DistinctExact,
    "q87_weighted_sample"   -> q87WeightedSample,
    "q88_robust_outliers"   -> q88RobustOutliers)

  private val rateSql = keepPct
    .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
    .mkString("CASE ", " ", " ELSE 0 END")

  val oracle: Map[String, String] = Map(
    // Binomials re-derived IN SQL by the exact multiplicative fold, the
    // same 40·tail ≤ 2^n integer selection, the same rank picks.
    "q227_median_ci" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |ns AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM daily GROUP BY 1),
        |ii AS (SELECT event_type, n, unnest(range(0, n + 1)) AS i FROM ns),
        |bin AS (SELECT event_type, n, i,
        |    CASE WHEN i = 0 THEN CAST(1 AS HUGEINT)
        |    ELSE CAST(list_reduce(list_prepend(CAST(1 AS HUGEINT),
        |      range(1, i + 1)), (acc, t) -> (acc * (n - i + t)) // t)
        |      AS HUGEINT) END AS c
        |  FROM ii),
        |cum AS (SELECT event_type, n, i,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
        |      AS tail_next
        |  FROM bin),
        |selj AS (SELECT event_type, n,
        |    coalesce(max(CASE WHEN
        |      tail_next <= (CAST(1 AS HUGEINT) << n) // 40
        |      AND i + 1 <= (n + 1) // 2 THEN i + 1 END), 1) AS j
        |  FROM cum GROUP BY 1, 2),
        |tl AS (SELECT s.event_type, s.n, s.j,
        |    coalesce(max(CASE WHEN c.i + 1 = s.j THEN c.tail_next END),
        |      CAST(1 AS HUGEINT)) AS tail
        |  FROM selj s JOIN cum c USING (event_type) GROUP BY 1, 2, 3),
        |sel AS (SELECT event_type, n, j AS j_rank, n + 1 - j AS k_rank,
        |    (n + 1) // 2 AS med_rank,
        |    (CAST(1 AS HUGEINT) << n) - 2 * tail AS cov_num,
        |    (CAST(1 AS HUGEINT) << n) AS pow2n
        |  FROM tl),
        |rk AS (SELECT d.event_type, d.x,
        |    CAST(row_number() OVER (PARTITION BY d.event_type
        |      ORDER BY d.x, d.day) AS BIGINT) AS rn
        |  FROM daily d)
        |SELECT s.event_type, s.n AS n_days,
        |  max(CASE WHEN rk.rn = s.med_rank THEN rk.x END) AS median_x,
        |  max(CASE WHEN rk.rn = s.j_rank THEN rk.x END) AS lo_x,
        |  max(CASE WHEN rk.rn = s.k_rank THEN rk.x END) AS hi_x,
        |  s.j_rank, s.k_rank,
        |  CAST(s.cov_num AS VARCHAR) AS cov_num,
        |  CAST(s.pow2n AS VARCHAR) AS pow2n,
        |  CAST(CAST(s.cov_num AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(s.pow2n AS VARCHAR) AS DOUBLE) AS coverage
        |FROM rk JOIN sel s USING (event_type)
        |GROUP BY s.event_type, s.n, s.j_rank, s.k_rank, s.cov_num,
        |  s.pow2n""".stripMargin,
    // The ring derived relationally from the SAME md5 arithmetic the Spark
    // side baked into literals; successor resolved by inequality join.
    "q162_consistent_hash" -> {
      def h60(arg: String) =
        s"CAST(CAST(('0x' || substr(md5($arg), 1, 15)) AS UBIGINT) AS BIGINT)"
      def ringCte(name: String, k: Int) =
        s"""$name AS (SELECT CAST(sv.s AS INTEGER) AS s,
           |    ${h60("'ring:' || CAST(sv.s AS VARCHAR) || ':' || CAST(sv.v AS VARCHAR)")} AS p
           |  FROM (SELECT ss.s, vv.v FROM
           |    (SELECT unnest(range(0, $k)) AS s) ss,
           |    (SELECT unnest(range(0, $CH_VNODES)) AS v) vv) sv)""".stripMargin
      def ownerCte(name: String, ringName: String, outCol: String) =
        s"""$name AS (SELECT d.doc_id, d.h,
           |    coalesce(arg_min(r.s, r.p),
           |      (SELECT arg_min(s, p) FROM $ringName)) AS $outCol
           |  FROM docs d LEFT JOIN $ringName r ON r.p >= d.h
           |  GROUP BY d.doc_id, d.h)""".stripMargin
      s"""WITH docs AS (SELECT doc_id,
         |    ${h60("'doc:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |${ringCte("ring_old", CH_SHARDS)},
         |${ringCte("ring_new", CH_SHARDS + 1)},
         |${ownerCte("o_old", "ring_old", "shard_old")},
         |${ownerCte("o_new", "ring_new", "shard_new")}
         |SELECT o_old.doc_id, o_old.h, shard_old, shard_new,
         |  shard_old <> shard_new AS moved
         |FROM o_old JOIN o_new ON o_new.doc_id = o_old.doc_id""".stripMargin
    },
    // Exact BIGINT moments, one IEEE sqrt, weight quantized once, then
    // pure-integer largest-remainder rounding — Σalloc = K by construction.
    "q134_neyman_allocation" ->
      s"""WITH m AS (SELECT lang, count(*) AS n,
         |    CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS s1,
         |    CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))
         |      * len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS s2
         |  FROM documents WHERE text IS NOT NULL GROUP BY lang),
         |w AS (SELECT lang, n,
         |    CAST(floor(CAST(n AS DOUBLE) * sqrt(
         |      CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
         |      * 1e6) AS BIGINT) AS wq
         |  FROM m),
         |t AS (SELECT lang, n, wq,
         |    CAST(sum(wq) OVER () AS BIGINT) AS w_tot FROM w),
         |b AS (SELECT lang, n, wq,
         |    ($NEYMAN_K * wq) // w_tot AS base,
         |    ($NEYMAN_K * wq) % w_tot AS rem,
         |    CAST(sum(($NEYMAN_K * wq) // w_tot) OVER () AS BIGINT) AS base_tot,
         |    row_number() OVER (ORDER BY ($NEYMAN_K * wq) % w_tot DESC, lang) AS rk
         |  FROM t)
         |SELECT lang, n AS n_docs, wq,
         |  CAST(base + (CASE WHEN rk <= $NEYMAN_K - base_tot THEN 1 ELSE 0 END)
         |    AS BIGINT) AS alloc
         |FROM b""".stripMargin,
    // Same hash order, same √n divisor — sqrt and ÷ are IEEE-exact
    // primitives, so the key bits match.
    "q129_interleave_schedule" ->
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(('0x' || substr(md5('il:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS UBIGINT), doc_id) - 1 AS INTEGER) AS k,
        |  count(*) OVER (PARTITION BY source) AS n_source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(('0x' || substr(md5('il:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS UBIGINT), doc_id) AS DOUBLE)
        |    / sqrt(CAST(count(*) OVER (PARTITION BY source) AS DOUBLE))
        |    AS interleave_key
        |FROM documents""".stripMargin,
    // pow quantized once at the source; all downstream arithmetic is
    // exact BIGINT (order-free normalizer sum, integer-division weights).
    "q105_temperature_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |p AS (SELECT lang, n_docs,
         |    CAST(floor(pow(CAST(n_docs AS DOUBLE), $MIX_ALPHA) * 1000000.0)
         |      AS BIGINT) AS p_micro
         |  FROM c),
         |z AS (SELECT CAST(sum(p_micro) AS BIGINT) AS z FROM p)
         |SELECT lang, n_docs,
         |  p_micro * 1000000 // z AS weight_micro,
         |  p_micro * $MIX_TARGET // z AS expected_docs
         |FROM p, z""".stripMargin,
    // Spark's exact-percentile interpolation replayed literally (the q65
    // contract) for each of the three quartile cuts; DECIMAL bin sums.
    "q104_equidepth_hist" ->
      """WITH s AS (SELECT event_id, value FROM events WHERE value IS NOT NULL),
        |ord AS (SELECT value AS q, row_number() OVER (ORDER BY value) - 1 AS i
        |  FROM s),
        |p AS (SELECT pq,
        |    pq * CAST(n - 1 AS DOUBLE) AS pos,
        |    CAST(floor(pq * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS lo,
        |    CAST(ceil(pq * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS hi
        |  FROM (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE]) AS pq),
        |       (SELECT count(*) AS n FROM s)),
        |th AS (SELECT p.pq, sum(CASE
        |    WHEN p.lo = p.hi AND ord.i = p.lo THEN ord.q
        |    WHEN ord.i = p.lo THEN (CAST(p.hi AS DOUBLE) - p.pos) * ord.q
        |    WHEN ord.i = p.hi THEN (p.pos - CAST(p.lo AS DOUBLE)) * ord.q
        |    END) AS t
        |  FROM ord, p GROUP BY p.pq),
        |cuts AS (SELECT
        |    max(CASE WHEN pq = 0.25 THEN t END) AS t25,
        |    max(CASE WHEN pq = 0.5  THEN t END) AS t50,
        |    max(CASE WHEN pq = 0.75 THEN t END) AS t75
        |  FROM th),
        |binned AS (SELECT value,
        |    CASE WHEN value < t25 THEN 0 WHEN value < t50 THEN 1
        |         WHEN value < t75 THEN 2 ELSE 3 END AS bin
        |  FROM s, cuts)
        |SELECT bin, count(*) AS n, min(value) AS vmin, max(value) AS vmax,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM binned GROUP BY bin""".stripMargin,
    // Ties rank arbitrarily-but-consecutively in both engines; the tied
    // rows are identical, so the multiset (and its hash) is invariant.
    // NULLS FIRST mirrors Spark's ascending-sort null placement.
    "q100_global_rank" ->
      """SELECT l_shipdate, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER (ORDER BY
        |    l_shipdate NULLS FIRST, l_orderkey NULLS FIRST,
        |    l_linenumber NULLS FIRST) AS BIGINT) AS rank
        |FROM lineitem""".stripMargin,
    // Same salted-hash order, same per-lang rank cut.
    "q63_exact_sample" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |  CAST(('0x' || substr(md5('xs:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS ord
         |FROM documents)
         |SELECT doc_id, lang, rk FROM (
         |  SELECT doc_id, lang, CAST(row_number() OVER
         |    (PARTITION BY lang ORDER BY ord) AS INTEGER) AS rk FROM h)
         |WHERE rk <= $EXACT_N""".stripMargin,
    "q31_stratified_sample" ->
      s"""SELECT doc_id, lang,
         |  100.0::DOUBLE / CAST(($rateSql) AS DOUBLE) AS weight
         |FROM documents
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100
         |      < ($rateSql)""".stripMargin,
    // Same tie-free source ranks, integer ceil to the pooled rank, pooled
    // value from the histogram's cumulative rank intervals.
    "q177_quantile_norm" ->
      """WITH docs AS (SELECT doc_id, source, n_chars AS score FROM documents),
        |r AS (SELECT doc_id, source, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM docs),
        |t AS (SELECT count(*) AS n_pool FROM docs),
        |h AS (SELECT score AS v, count(*) AS cnt FROM docs GROUP BY 1),
        |hc AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cumhi FROM h),
        |hh AS (SELECT v, cumhi - cnt + 1 AS cumlo, cumhi FROM hc),
        |k AS (SELECT doc_id, source, score,
        |    (r * n_pool + n_src - 1) // n_src AS k
        |  FROM r CROSS JOIN t)
        |SELECT doc_id, source, score, v AS norm_score
        |FROM k JOIN hh ON k >= cumlo AND k <= cumhi""".stripMargin,
    // Same hash-bucket sample, same integer centi-weights, percentiles by
    // the same integer cross-multiplied rank rule over a ranked replay.
    "q175_weighted_percentiles" ->
      s"""WITH smp AS (SELECT lang, n_chars,
         |    CAST(10000 / ($rateSql) AS BIGINT) AS w_centi
         |  FROM documents
         |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100
         |        < ($rateSql)),
         |h AS (SELECT lang, n_chars, sum(w_centi) AS wc
         |  FROM smp GROUP BY 1, 2),
         |c AS (SELECT lang, n_chars,
         |    sum(wc) OVER (PARTITION BY lang ORDER BY n_chars) AS cumw,
         |    sum(wc) OVER (PARTITION BY lang) AS totw
         |  FROM h)
         |SELECT lang, CAST(max(totw) AS BIGINT) AS total_weight_centi,
         |  min(CASE WHEN cumw * 100 >= totw * 50 THEN n_chars END) AS wp50,
         |  min(CASE WHEN cumw * 100 >= totw * 90 THEN n_chars END) AS wp90,
         |  min(CASE WHEN cumw * 100 >= totw * 99 THEN n_chars END) AS wp99
         |FROM c GROUP BY lang""".stripMargin,
    "q32_token_percentiles" ->
      """SELECT lang, count(*) AS n_docs,
        |  quantile_cont(wc, 0.5) AS p50,
        |  quantile_cont(wc, 0.9) AS p90,
        |  quantile_cont(wc, 0.99) AS p99,
        |  CAST(sum(CAST(wc AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_wc
        |FROM (SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS wc
        |      FROM documents) GROUP BY lang""".stripMargin,
    // The brute-force formulation the histogram replaces: rank every value
    // with row_number, pick the one at ceil(p*n) — same integer
    // cross-multiplied rank rule, no histogram anywhere.
    "q168_histogram_percentiles" ->
      """WITH v AS (SELECT lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS wc
        |  FROM documents),
        |r AS (SELECT lang, wc,
        |    row_number() OVER (PARTITION BY lang ORDER BY wc) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM v)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        |  min(CASE WHEN rn * 100 >= n * 50 THEN wc END) AS p50,
        |  min(CASE WHEN rn * 100 >= n * 90 THEN wc END) AS p90,
        |  min(CASE WHEN rn * 100 >= n * 99 THEN wc END) AS p99
        |FROM r GROUP BY lang""".stripMargin,
    "q37_training_shards" ->
      s"""WITH h AS (SELECT doc_id,
         |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
         |       % $N_SHARDS AS INTEGER) AS shard,
         |  CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS ord
         |FROM documents)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord) AS INTEGER) AS position
         |FROM h""".stripMargin,
    // Same epoch-salted shard/order hashes, same per-(epoch,shard) rank.
    "q74_epoch_reshuffle" ->
      s"""WITH e AS (SELECT doc_id, CAST(epoch AS INTEGER) AS epoch
         |  FROM documents, UNNEST(range(0, $N_EPOCHS)) t(epoch)),
         |h AS (SELECT doc_id, epoch,
         |  CAST(CAST(('0x' || substr(md5('ep' || CAST(epoch AS VARCHAR) || 's:'
         |      || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
         |    % $N_SHARDS AS INTEGER) AS shard,
         |  CAST(('0x' || substr(md5('ep' || CAST(epoch AS VARCHAR) || 'o:'
         |      || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS ord
         |FROM e)
         |SELECT doc_id, epoch, shard,
         |  CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY ord)
         |    AS INTEGER) AS position
         |FROM h""".stripMargin,
    // Same shard/order hashes as q37 plus the running token sum; a doc
    // starting at offset t lands in sequence t // 1024 at offset t % 1024.
    "q48_sequence_pack" ->
      s"""WITH h AS (SELECT doc_id,
         |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
         |       % $N_SHARDS AS INTEGER) AS shard,
         |  CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS ord,
         |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
         |FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
         |FROM h)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(floor(start_tok / ${SEQ_LEN.toDouble}) AS BIGINT) AS seq_id,
         |  CAST(start_tok % $SEQ_LEN AS BIGINT) AS seq_off
         |FROM c""".stripMargin,
    // Bottleneck-language scaling with the identical double evaluation
    // order ((c * target) / n), then the same hash-bucket keep decision.
    "q49_mixture_rebalance" ->
      s"""WITH a AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |r AS (SELECT lang, n, CASE WHEN ($targetSqlCase) > 0
         |    THEN CAST(n AS DOUBLE) / ($targetSqlCase) END AS ratio FROM a),
         |mc AS (SELECT min(ratio) AS c FROM r),
         |rt AS (SELECT lang, CASE WHEN ($targetSqlCase) > 0
         |    THEN mc.c * ($targetSqlCase) / CAST(n AS DOUBLE)
         |    ELSE 0.0::DOUBLE END AS rate
         |  FROM r, mc)
         |SELECT d.doc_id, d.lang, rt.rate,
         |  CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
         |    % 10000 AS DOUBLE) < rt.rate * 10000.0 AS kept
         |FROM documents d JOIN rt USING (lang)""".stripMargin,
    // One flat window replays the two-phase prefix sum (the decomposition
    // is exact — offsets + in-shard sums telescope to the global cumsum),
    // then the identical BIGINT floor-division pick rule.
    "q87_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS ord,
         |  CAST(n_chars AS BIGINT) AS weight
         |FROM documents),
         |c AS (SELECT doc_id, weight,
         |  CAST(sum(weight) OVER (ORDER BY ord, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_weight
         |FROM h),
         |t AS (SELECT CAST(sum(weight) AS BIGINT) AS total FROM h)
         |SELECT doc_id, weight, cum_weight,
         |  CAST((cum_weight * $WS_K) // total
         |     - ((cum_weight - weight) * $WS_K) // total AS BIGINT) AS n_picks
         |FROM c, t
         |WHERE (cum_weight * $WS_K) // total
         |    > ((cum_weight - weight) * $WS_K) // total""".stripMargin,
    // Same two-round median/MAD pipeline; z is the identical fixed-shape
    // IEEE tree, so is_outlier compares bit-equal doubles.
    "q88_robust_outliers" ->
      s"""WITH wcs AS (SELECT doc_id, lang,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS wc
         |  FROM documents),
         |med AS (SELECT lang, quantile_cont(wc, 0.5) AS med FROM wcs GROUP BY lang),
         |mad AS (SELECT lang,
         |    quantile_cont(abs(CAST(wc AS DOUBLE) - med), 0.5) AS mad
         |  FROM wcs JOIN med USING (lang) GROUP BY lang)
         |SELECT doc_id, lang, CAST(wc AS INTEGER) AS wc, med, mad,
         |  CASE WHEN mad > 0
         |       THEN (CAST(wc AS DOUBLE) - med) / (1.4826 * mad) END AS z,
         |  CASE WHEN mad > 0
         |       THEN abs((CAST(wc AS DOUBLE) - med) / (1.4826 * mad)) > $OUT_Z
         |       END AS is_outlier
         |FROM wcs JOIN med USING (lang) JOIN mad USING (lang)""".stripMargin,
    // Exact distinct — the anchor q40's HLL is bounded against.
    "q70_distinct_exact" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(DISTINCT substr(text, 1, 32)) AS distinct_prefixes
        |FROM documents GROUP BY lang""".stripMargin)

  private def targetSqlCase: String = targetMix
    .map { case (l, t) => s"WHEN lang = '$l' THEN $t::DOUBLE" }
    .mkString("CASE ", " ", " ELSE 0.0::DOUBLE END")
}
