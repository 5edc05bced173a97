package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types._

import graft.GraftExtensions.call

/** Deduplication operators (LLM-data-pipeline extension family 1).
  *
  * Three tiers, all shuffle-bounded — never an all-pairs cross join:
  *  - exact: hash-groupBy on a normalized content digest (one keyed shuffle);
  *  - MinHash/LSH near-dup: signature → band buckets → equi-join within
  *    buckets → exact-Jaccard verification of the (tiny) candidate set;
  *  - blocked pairwise: equi-join on a blocking key (here language +
  *    adjacent length buckets, the sorted-neighborhood pattern) for
  *    corpora where a domain key bounds the comparison set.
  *
  * At 100 TB the candidate-pair count, not the corpus size, is the cost
  * driver; banding/blocking keeps it near-linear while the verification
  * step keeps the output exact for everything the bands surface.
  */
object Dedup {

  /** Normalized content digest — the exact-dedup key: md5 over
    * whitespace-collapsed, lowercased text. Shared by the batch grouping
    * and the streaming dedup so both define "same document" identically. */
  def normalizedHash(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Exact dedup groups: one row per distinct content with its copy count
    * and canonical (minimum) id — the classic "keep first, count the rest"
    * shape. */
  def exactGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(normalizedHash(text).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(id).as("canonical_id"))

  /** Sorted distinct hashed-shingle set of `text`, as 64-bit longs so the
    * verification can merge-intersect without re-comparing strings (Jaccard
    * over the hashed sets equals Jaccard over the strings up to a ~2^-64
    * per-pair collision chance): the native hashed_shingles expression,
    * one fused loop per document. */
  private def shingleCol(k: Int): Column =
    call("hashed_shingles", TextOps.words(col("text")), lit(k))

  private def shingled(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), shingleCol(k).as("sh"))

  /** Public handle on the per-doc sorted distinct hashed-shingle sets
    * (doc_id, sh: array<bigint>) — the corpus fingerprint a write-once
    * layout materializes so incremental probes ([[incrementalNearDupPairs]])
    * never re-shingle the corpus. `keep` names extra columns carried
    * through unchanged (e.g. the partition key of a partitioned
    * fingerprint layout). */
  def shingleSets(docs: DataFrame, k: Int, keep: Seq[String] = Nil): DataFrame =
    docs.select(col("doc_id") +: keep.map(col) :+ shingleCol(k).as("sh"): _*)

  /** LSH band keys (doc_id, b, bk) for a (doc_id, sh) shingle-set table —
    * the banding stage of [[minhashLshPairs]], factored out so a corpus
    * build can materialize it once and a batch probe can compute the SAME
    * keys for new documents (identical hashing ⇒ identical buckets).
    *
    * The native lsh_band_keys expression fuses signature + banding into
    * one projection loop — no explode of shingles, no wide aggregation, no
    * signature shuffle. */
  def bandKeys(sh: DataFrame, bands: Int, rows: Int, keep: Seq[String] = Nil): DataFrame = {
    val ids = "doc_id" +: keep
    sh.select(ids.map(col) :+
        posexplode(call("lsh_band_keys", col("sh"), lit(bands), lit(rows))): _*)
      .toDF(ids ++ Seq("b", "bk"): _*)
  }

  /** Exact Jaccard of two sorted shingle-set columns, |A∩B| / (|A|+|B|-|A∩B|),
    * by the native sorted-merge intersection (no per-pair hash-set
    * allocation). */
  private def jaccardOf(a: Column, b: Column): Column = call("jaccard_sim", a, b)

  /** MinHash + LSH near-duplicate pairs, exact-verified.
    *
    * Hashing strategy: each shingle is hashed ONCE into the document's
    * sorted 64-bit set (hashed_shingles); the 128 minhash permutations
    * re-mix that fixed value as `fmix64(h ^ seed_k)` inside lsh_band_keys
    * (see [[graft.functions.Lsh.bandKeys]]). The hash family is
    * semantically free — the verification step recomputes exact Jaccard.
    * Bands of 4 rows → collision probability 1-(1-j^4)^32 ≥ 1 - 6e-8 at
    * j = 0.8: banding misses essentially nothing above the threshold, and
    * verification discards everything below it.
    *
    * Plan shape: signature and banding are one projection per document
    * (posexplode of the 32 band keys), so nothing shuffles before the
    * candidate equi-join on (band, bandKey); verification joins candidate
    * ids back to shingle sets. All shuffles keyed; cost scales with docs +
    * candidate pairs. */
  def minhashLshPairs(docs: DataFrame, threshold: Double,
                      shingleK: Int = 3, bands: Int = 32, rows: Int = 4): DataFrame = {
    val sh = shingled(docs, shingleK)
    val banded = bandKeys(sh, bands, rows)

    val candidates = banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    verifyJaccard(candidates, sh, threshold)
  }

  /** Exact Jaccard-threshold similarity self-join via PREFIX FILTERING —
    * the lossless AllPairs/PPJoin candidate rule (Bayardo et al., WWW'07;
    * Xiao et al., WWW'08), closing the dedup family's exactness gap:
    * [[minhashLshPairs]] has probabilistic recall and
    * [[blockedNgramPairs]] is declared block-bounded, but here the
    * candidate set PROVABLY contains every pair with J ≥ num/den.
    *
    * The rule: order every document's shingle set by one GLOBAL total
    * order (ascending document frequency, shingle hash as tiebreak — so
    * "rarest first") and index only each document's first
    * p = n − ceil(τ·n) + 1 shingles. Losslessness: suppose a true pair
    * (A,B) shares no indexed prefix shingle. Its globally-smallest shared
    * shingle then sits in A's suffix (or B's, symmetric), so ALL shared
    * shingles do (they are all larger in the order), giving
    * |A∩B| ≤ ceil(τ|A|) − 1 < τ|A| ≤ τ|A∪B| — contradicting J ≥ τ.
    * The threshold is carried as the exact rational num/den: the prefix
    * bound ceil(num·n/den) is pure integer arithmetic
    * ((num·n + den − 1) div den), so no float ever decides a cut.
    *
    * Scale shape: candidates come ONLY from posting lists of each doc's
    * RAREST shingles — a common shingle almost never lands in any prefix,
    * so posting lists stay short by construction (measured sf0.01: 165
    * candidates where 11,533 pairs share ≥ 1 shingle — 70× pruned, zero
    * misses). Three keyed exchanges — shingle-keyed df window, doc-keyed
    * rank window, prefix-shingle candidate join — then candidate ids
    * (small) join back to shingle sets for exact verification; never an
    * all-pairs product, never a driver collect. The oracle is the
    * UNCONSTRAINED all-pairs exact Jaccard, so the hash gate proves the
    * prefix filter's 100% recall on real data every round. */
  def prefixFilterPairs(docs: DataFrame, num: Int, den: Int,
                        shingleK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingled(docs, shingleK)
    val posting = sh
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("h"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .filter(col("rk") <= col("n") - expr(s"($num * n + ${den - 1}) div $den") + lit(1))
      .select(col("h"), col("doc_id"))
    val candidates = posting.as("x").join(posting.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(candidates, sh, num.toDouble / den)
  }

  /** Incremental near-dup probe: a SMALL new batch of documents against a
    * MATERIALIZED corpus fingerprint layout, with zero corpus-side shuffle —
    * the daily-crawl workload: the corpus was fingerprinted once
    * ([[shingleSets]] + [[bandKeys]] written to a write-once layout); each
    * new batch probes those fingerprints without ever re-shingling,
    * re-hashing, or re-shuffling a single corpus row.
    *
    * Plan shape (the point of the operator, plan-pinned in PlanSpec):
    *  - the batch's shingle sets and band keys are computed on the (tiny)
    *    batch side and BROADCAST;
    *  - candidates = corpus band table ⋈_BHJ broadcast(batch bands) on
    *    (b, bk) — the corpus band scan feeds the join directly, no exchange;
    *  - verify = corpus shingle table ⋈_BHJ broadcast(candidates ⋈ batch
    *    shingles) — again a straight scan into a broadcast join;
    *  - the ONLY shuffle in the whole plan is the final distinct over
    *    verified (batch_id, corpus_id, jaccard) survivors — rows ∝ matches,
    *    never ∝ corpus. (A pair hitting several bands is verified more than
    *    once — duplicate verifies of a tiny candidate set are cheaper than
    *    an extra candidate-dedup exchange in the probe path.)
    *
    * At 100 TB the probe's cost is two sequential scans of the fingerprint
    * layout (band keys: 32 longs/doc; shingle sets: ~text-sized) — with the
    * shingle layout written sorted by doc_id, parquet row-group min/max
    * statistics turn the verify scan into point reads of the candidate ids.
    * Uses the same hashing as [[minhashLshPairs]], so banding recall at the
    * threshold is the same 1-(1-j^rows)^bands bound the all-pairs gate
    * proves every round. */
  def incrementalNearDupPairs(corpusBands: DataFrame, corpusShingles: DataFrame,
                              batch: DataFrame, threshold: Double,
                              shingleK: Int = 3, bands: Int = 32,
                              rows: Int = 4): DataFrame = {
    val bSh = shingled(batch, shingleK)
      .select(col("doc_id").as("batch_id"), col("sh").as("bsh"))
    val bBands = bandKeys(
      bSh.select(col("batch_id").as("doc_id"), col("bsh").as("sh")), bands, rows)
      .select(col("doc_id").as("batch_id"), col("b"), col("bk"))

    val candidates = corpusBands.as("c")
      .join(broadcast(bBands).as("p"),
        col("c.b") === col("p.b") && col("c.bk") === col("p.bk"))
      .select(col("p.batch_id"), col("c.doc_id").as("corpus_id"))

    // Batch shingles ride with the candidates into the verify broadcast, so
    // the corpus shingle scan needs no second lookup join.
    val candWithSh = candidates.join(broadcast(bSh), Seq("batch_id"))

    val na = size(col("p.bsh"))
    val nb = size(col("c.sh"))
    corpusShingles.as("c")
      .join(broadcast(candWithSh).as("p"), col("c.doc_id") === col("p.corpus_id"))
      .filter(least(na, nb).cast(DoubleType) >= lit(threshold) * greatest(na, nb))
      .select(col("p.batch_id"), col("p.corpus_id"),
        jaccardOf(col("p.bsh"), col("c.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }

  /** SimHash near-duplicate pairs with GUARANTEED recall at the hamming
    * threshold: a 60-bit fingerprint differs in ≤ `maxHamming` (< 4) bits
    * only if at least one of its four 15-bit pieces is identical
    * (pigeonhole — a theorem, not a probabilistic bound, unlike MinHash
    * banding). Candidates equi-join on (piece index, piece value); the
    * exact hamming verify via bit_count(xor) keeps only true pairs.
    * `fingerprints` is any (doc_id, simhash) table; the merge hint below
    * pins both self-join sides to one shared shuffle stage, so its plan —
    * aggregation or fused scalar projection — executes once. */
  def simhashPairs(fingerprints: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "4-piece pigeonhole blocking guarantees recall only for hamming <= 3")
    // The fingerprint rides along through the piece join (8 extra bytes per
    // exploded row), so the hamming verify needs NO lookup joins back to
    // `fingerprints` — the expensive fingerprint plan appears only in the
    // two sides of this one self-join, whose identical shuffle Spark's
    // ReuseExchange executes once. distinct() runs after the hamming filter:
    // same pair set, fewer rows shuffled into the dedup.
    val pieces = fingerprints
      .select(col("doc_id"), col("simhash"), explode(sequence(lit(0), lit(3))).as("i"))
      .select(col("doc_id"), col("simhash"), col("i"),
        expr("shiftright(simhash, i * 15) & 32767").as("piece"))
      // Merge-join hint: both sides then shuffle on the SAME (i, piece)
      // key with IDENTICAL subplans, so ReuseExchange computes the
      // fingerprint plan once. (Without it Catalyst broadcasts one side —
      // recomputing every fingerprint for the build, and a corpus-wide
      // broadcast is exactly what a 100 TB run cannot do.)
      .hint("merge")
    pieces.as("x").join(pieces.as("y"),
        col("x.i") === col("y.i") && col("x.piece") === col("y.piece") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Decontamination: (corpus doc, eval doc) pairs sharing ≥ `minOverlap`
    * distinct k-word shingles — the standard n-gram overlap check run
    * before training, as an inverted-index equi-join on hashed shingles.
    * The eval side is tiny by construction and is BROADCAST, so the corpus
    * never shuffles for the probe; only matched (corpus, eval, shingle)
    * hits shuffle into the pair-count aggregation — at 100 TB the cost
    * scales with contamination hits, not corpus size. Shingle sets are
    * distinct per doc, so count(*) per pair is exactly |A∩B|. */
  def contaminationPairs(corpus: DataFrame, eval: DataFrame,
                         shingleK: Int, minOverlap: Int): DataFrame = {
    val cSh = shingled(corpus, shingleK)
      .select(col("doc_id").as("corpus_id"), explode(col("sh")).as("h"))
    val eSh = shingled(eval, shingleK)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("h"))
    cSh.join(broadcast(eSh), Seq("h"))
      .groupBy(col("corpus_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minOverlap)
  }

  /** Blocked pairwise EDIT-DISTANCE near-dup pairs — the character-level
    * verifier for corpora where token-set Jaccard is too coarse (small
    * in-place edits barely move a shingle set's Jaccard but land within a
    * few character operations). Candidates come from the same
    * (lang, ±1 length-bucket) blocking as [[blockedNgramPairs]], with each
    * side's comparison PREFIX carried through the block join so the verify
    * needs no lookup joins. The verify itself is Spark's banded
    * `levenshtein(l, r, threshold)` — O(len·maxDist) cells instead of the
    * full O(len²) DP, returning -1 past the threshold, so the per-pair cost
    * is capped no matter how long documents get. Prefix truncation bounds
    * it further (a 200-char prefix decides near-identity for crawl dups;
    * full-text distance would be quadratic in document length for every
    * true dup).
    *
    * Plan note (pinned): the banded DP must run AFTER the fixed-width pair
    * rebalance, never as a join residual. levenshtein is a deterministic
    * scalar, so a bare post-exchange filter gets pushed back through the
    * exchange into the join condition — where the DP inherits the JOIN's
    * parallelism, and AQE's size-based partition coalescing (correct for
    * byte-bound work, blind to CPU-dense residuals) collapses a
    * small-bytes corpus to ONE task: measured 224 s serial vs seconds
    * rebalanced at sf0.1. Two levers pin the scale shape: the rebalance
    * uses an EXPLICIT partition count (REPARTITION_BY_NUM — AQE honors
    * user-fixed widths and will not coalesce them), and the DP is wrapped
    * in an always-true nondeterministic branch
    * (`when(spark_partition_id() >= 0, …)`) so the optimizer cannot
    * substitute it back through the exchange. Candidate-pair bytes cross
    * the wire once either way; the CPU goes where the width is
    * guaranteed. Corpus here is ASCII; cross-engine length units
    * (codepoint vs character) only matter past the BMP — the substr_count
    * parity note applies. */
  def blockedEditPairs(docs: DataFrame, maxDist: Int,
                       prefixLen: Int = 200, bucketWords: Int = 32): DataFrame = {
    val blk = floor(size(TextOps.words(col("text"))) / lit(bucketWords)).cast(IntegerType)
    val keyed = docs.select(col("doc_id"), col("lang"),
        substring(col("text"), 1, prefixLen).as("pfx"), blk.as("blk"))
      .select(col("doc_id"), col("lang"), col("pfx"), col("blk"),
        explode(array(col("blk"), col("blk") + 1)).as("bkey"))
    val candidates = keyed.as("x").join(keyed.as("y"),
        col("x.lang") === col("y.lang") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id") &&
          !(col("x.bkey") === col("x.blk") + 1 && col("y.bkey") === col("y.blk") + 1))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.pfx").as("pa"), col("y.pfx").as("pb"))
    val width = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    candidates
      .repartition(width, col("doc_a"), col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        when(spark_partition_id() >= 0,
          levenshtein(col("pa"), col("pb"), maxDist)).as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** [[contaminationPairs]] for the regime where the eval side is too big
    * to broadcast as a hash relation (a full multi-benchmark suite's
    * shingle set): classic bloom-filter semi-join reduction. The eval
    * shingles aggregate into ONE bloom bitset (a scalar subquery — the
    * OR-merge is order-independent, so the sketch is deterministic at any
    * parallelism, and at `numBits` bits it is ~10× smaller than a
    * broadcast hash relation of the same keys), the corpus side is
    * prefiltered by `bloom_might_contain` INSIDE its scan task before its
    * shuffle, and only surviving shingles enter the sort-merge join. A
    * bloom filter has NO false negatives, so the exact equi-join
    * downstream returns exactly [[contaminationPairs]]' answer — the gate
    * shares q38's oracle; false positives cost only wasted shuffle rows
    * (fpp-bounded), never wrong results. */
  def bloomContaminationPairs(corpus: DataFrame, eval: DataFrame,
                              shingleK: Int, minOverlap: Int,
                              estItems: Long, numBits: Long): DataFrame = {
    val corpusSh = shingled(corpus, shingleK)
      .select(col("doc_id").as("corpus_id"), explode(col("sh")).as("h"))
    val evalSh = shingled(eval, shingleK)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("h"))
    val bloom = evalSh.agg(GraftSqlShim.column(new BloomFilterAggregate(
        GraftSqlShim.expression(col("h")), Literal(estItems), Literal(numBits))
      .toAggregateExpression())).scalar()
    corpusSh.filter(call("bloom_might_contain", bloom, col("h"))).hint("merge")
      .join(evalSh.hint("merge"), "h")
      .groupBy(col("corpus_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minOverlap)
  }

  /** Embedding-cosine near-duplicate pairs: banded random-hyperplane LSH
    * (OR-construction over `grids.length` independent sign-bucketings),
    * exact-cosine verified. The embedding rides through the band self-join
    * (like [[simhashPairs]]' fingerprint), so the verify needs no lookup
    * joins; the merge hint keeps both sides on the same (band, bucket)
    * shuffle — one corpus pass via stage reuse, and no corpus broadcast.
    * A pair colliding in several bands is deduped AFTER the threshold
    * filter (survivors are few; candidates never shuffle for dedup).
    *
    * Recall is the OR-construction's 1-(1-p^planes)^bands — tuned by the
    * grid shape, verified exact; the candidate count per band is
    * |corpus|²/2^planes in expectation, the scale knob at 100 TB. */
  def cosineNearDupPairs(vectors: DataFrame, threshold: Double,
                         grids: Seq[Array[Array[Int]]]): DataFrame = {
    val bandCols = grids.map(g => Similarity.signBucket(col("embedding"), g))
    val banded = vectors
      .select(col("vec_id"), col("embedding"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .hint("merge")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        call("cosine_sim", col("x.embedding"), col("y.embedding")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** Blocked pairwise n-gram Jaccard: candidates are pairs sharing the
    * blocking key (`lang`) and sitting in the same or adjacent word-count
    * bucket (each doc emits its bucket and bucket+1, so an equi-join covers
    * the ±1 neighborhood without a non-equi join).
    *
    * A pair of same-bucket docs matches on both shared keys (b and b+1);
    * the both-at-plus-one join predicate keeps exactly one of the two
    * matches — the algebraic form of a pair-list `distinct()`, decided per
    * match with no dedup shuffle. The skinny candidate pairs are then
    * rebalanced (the block join's parallelism is its key count) and
    * verified via [[verifyJaccard]]'s shingle lookup joins — those DO
    * shuffle |pairs| rows, which is the operator's inherent cost: the
    * block structure bounds |pairs|, quadratic within a block by design. */
  def blockedNgramPairs(docs: DataFrame, threshold: Double,
                        shingleK: Int = 2, bucketWords: Int = 32): DataFrame = {
    val sh = shingled(docs, shingleK)
    val blk = floor(size(TextOps.words(col("text"))) / lit(bucketWords)).cast(IntegerType)
    val keyed = docs.select(col("doc_id"), col("lang"), blk.as("blk"))
      .select(col("doc_id"), col("lang"), col("blk"),
        explode(array(col("blk"), col("blk") + 1)).as("bkey"))

    // A same-bucket pair matches on both its shared keys (b and b+1); the
    // both-at-plus-one predicate keeps exactly one of the two matches — the
    // algebraic form of a pair-list distinct(), evaluated per match instead
    // of shuffling every pair to dedup.
    val candidates = keyed.as("x").join(keyed.as("y"),
        col("x.lang") === col("y.lang") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id") &&
          !(col("x.bkey") === col("x.blk") + 1 && col("y.bkey") === col("y.blk") + 1))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      // Rebalance: the block join's output parallelism is its (lang, bucket)
      // key count; the verify is CPU-dense, so spread pairs over all cores.
      // Both columns, so a hub doc's pairs don't re-concentrate on one task.
      // Explicit width (r19): a count-less repartition is fair game for
      // AQE's byte-based coalescing, which re-serialized this CPU-dense
      // verify on the small-bytes local corpus (the q84/blockedEditPairs
      // lesson applied here).
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))

    verifyJaccard(candidates, sh, threshold)
  }

  /** Paragraph/segment-level boilerplate removal: a segment (paragraph,
    * fixed word block, line — any `segments` expression producing
    * array<string>) that recurs in at least `minDocs` DISTINCT documents is
    * boilerplate (headers, footers, nav text, license blurbs); per document
    * this reports segment counts, the boilerplate fraction, and a digest of
    * the document with boilerplate removed (kept segment hashes joined in
    * original order — the "cleaned corpus" fingerprint without shipping
    * text through the aggregation).
    *
    * Scale shape: segments are md5'd INSIDE the scan task, so both shuffles
    * — the corpus-wide (hash → distinct-doc count) aggregation and the
    * per-doc regroup — carry 32-byte hashes plus ids, never text. The
    * boilerplate side of the join is the output of a `>= minDocs` filter
    * (recurring segments only), orders of magnitude smaller than the
    * corpus; AQE picks broadcast when it fits. */
  def segmentBoilerplate(docs: DataFrame, segments: Column,
      minDocs: Int): DataFrame = {
    val seg = docs
      .select(col("doc_id"), posexplode(segments))
      .toDF("doc_id", "i", "s")
      .select(col("doc_id"), col("i"), md5(col("s")).as("h"))
    val boiler = seg.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"), lit(true).as("boiler"))
    seg.join(boiler, Seq("h"), "left")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
        md5(concat_ws(",", transform(
          // collect_list drops nulls: only kept (non-boiler) segments,
          // re-ordered by index via the struct sort — deterministic.
          array_sort(collect_list(when(col("boiler").isNull,
            struct(col("i"), col("h"))))),
          x => x.getField("h")))).as("clean_md5"))
      .withColumn("boiler_frac",
        col("n_boiler").cast(DoubleType) / col("n_segments"))
  }

  /** Duplicate-cluster resolution: connected components over a verified
    * near-dup pair list. Every id in `ids` is labeled with the MINIMUM id
    * reachable through the pair graph (its own id when unpaired) — the step
    * that turns pairwise dedup output ("A~B, B~C") into per-group decisions
    * ("keep min, drop the rest"), with cluster sizes and a canonical flag.
    *
    * Algorithm: min-label propagation. Each round joins the current label
    * table across the (symmetrized) edge list and keeps the per-node
    * minimum; a fixpoint is reached when no label changes. Monotone-min
    * convergence is exact: at the fixpoint both endpoints of every edge
    * carry equal labels, and the component minimum (whose own label can
    * never drop) has flooded the component.
    *
    * Scale shape: rounds = O(max component diameter), each round ONE
    * equi-join shuffle of |edges| + |nodes| keyed rows — no all-pairs work,
    * no driver-side graph. Near-dup clusters are mutually-similar doc
    * groups, so diameters are small; for adversarially chain-shaped graphs
    * the alternating star-contraction algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", 2014) bounds rounds by
    * O(log n) at the cost of rewriting the edge list every round — the
    * cheaper per-round label join wins for dedup workloads. Labels are
    * localCheckpoint'ed per round (iterative lineage would otherwise grow
    * the plan unboundedly and re-run the expensive pair plan every round);
    * on a multi-executor cluster prefer `spark.sparkContext.setCheckpointDir`
    * + reliable `checkpoint()` so label blocks survive executor loss.
    *
    * Throws after `maxRounds` non-converged rounds — a deterministic
    * failure beats silently-partial clusters. */
  def resolveClusters(ids: DataFrame, pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    val sc = ids.sparkSession.sparkContext
    // localCheckpoint pins RDD blocks in executor storage with no public
    // Dataset-level release; track each checkpoint's persistent RDDs (the
    // delta in getPersistentRDDs around the eager materialization) so a
    // superseded round's blocks are unpersisted instead of accumulating
    // maxRounds copies of the label table until GC. (The delta attribution
    // assumes no concurrent persists in the session, which holds for the
    // sequential Verify/Bench harnesses.)
    def checkpointTracked(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint()
      val added = sc.getPersistentRDDs.collect {
        case (id, r) if !before.contains(id) => r
      }.toSeq
      (out, added)
    }
    def release(rdds: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
      rdds.foreach(_.unpersist(blocking = false))

    // Materialize the symmetrized edges once: the upstream pair plan
    // (MinHash/LSH + verify) must run once, not once per round.
    val (edges, edgesRdds) = checkpointTracked(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v"))))

    // Round 0 fused into initialization: label(u) = min(u, min N(u)).
    var (labels, labelsRdds) = checkpointTracked(
      edges.groupBy(col("u").as("node")).agg(min(col("v")).as("mn"))
        .select(col("node"), least(col("node"), col("mn")).as("label")))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val viaNbr = edges.join(labels, edges("v") === labels("node"))
        .groupBy(edges("u").as("node")).agg(min(col("label")).as("nl"))
      val (next, nextRdds) = checkpointTracked(
        labels.as("l")
          .join(viaNbr.as("n"), col("l.node") === col("n.node"), "left")
          .select(col("l.node").as("node"),
            least(col("l.label"), coalesce(col("n.nl"), col("l.label"))).as("label"),
            (coalesce(col("n.nl"), col("l.label")) < col("l.label")).as("chg")))
      converged = next.filter(col("chg")).isEmpty
      release(labelsRdds) // previous round's labels are superseded
      labels = next.drop("chg")
      labelsRdds = nextRdds
      round += 1
    }
    if (!converged) {
      release(labelsRdds); release(edgesRdds)
      throw new IllegalStateException(
        s"resolveClusters: no fixpoint after $maxRounds rounds — component diameter exceeds bound")
    }
    // The returned plan reads only the final labels checkpoint; the edge
    // blocks are no longer referenced.
    release(edgesRdds)

    val labeled = ids.join(labels, ids("doc_id") === labels("node"), "left")
      .select(ids("doc_id"),
        coalesce(col("label"), ids("doc_id")).as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /** Span-level exact-substring duplication — the per-position dedup signal
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (2022), at fixed window width: every `window`-token span of
    * every document is hashed in-scan; a span whose hash occurs ≥ 2 times
    * ANYWHERE in the corpus (including elsewhere in the same document) is
    * duplicated text. Per document: span count, duplicated-span count, and
    * the duplicated fraction — the signal a curation pass thresholds to trim
    * boilerplate-heavy documents where whole-doc dedup (exactGroups) and
    * near-dup pairs (minhashLshPairs) both say "unique".
    *
    * Scale shape: spans never carry text — each is xxhash64'd inside the
    * scan task, so the ONE corpus-wide exchange is keyed 8-byte hashes (the
    * q21 hashed-shingle collision argument: counts over hashes equal counts
    * over strings up to ~2^-64 per span). The global occurrence count is a
    * window count over that exchange — no self-join, no second shuffle of
    * the span set; the per-doc regroup is the second keyed exchange,
    * carrying two longs per span. A true suffix-array pass (arbitrary-length
    * longest duplicated substrings) trades this for a global sort of every
    * suffix; fixed-width spans keep the exchange linear and are the standard
    * production approximation. */
  def spanDuplication(docs: DataFrame, window: Int): DataFrame = {
    val w = col("w")
    // size < window guard: sequence(1, 0) would auto-step DOWN ([1, 0]) and
    // invent two phantom spans where the oracle's range(1, 1) is empty.
    val spanHashes = when(size(w) >= window,
      transform(sequence(lit(1), size(w) - (window - 1)),
        i => xxhash64(concat_ws(" ", slice(w, i, lit(window))))))
      .otherwise(array().cast("array<bigint>"))
    docs.filter(col("text").isNotNull)
      // materialize the token array ONCE per doc behind a nondeterministic
      // fence (the q84 idiom): higher-order lambdas are interpreted, so a
      // slice(words(text), …) inside the transform would re-run the regex
      // split PER SPAN once CollapseProject inlines it — measured 3.4×
      // at sf0.1 with the array pinned to a real column
      .select(col("doc_id"),
        when(spark_partition_id() >= 0, TextOps.words(col("text"))).as("w"))
      .select(col("doc_id"), explode(spanHashes).as("span_h"))
      .withColumn("c", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("span_h"))))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .withColumn("dup_frac",
        col("dup_spans").cast(DoubleType) / col("n_spans"))
  }

  /** Exact Jaccard over distinct shingle sets for candidate pairs; keeps
    * pairs with jaccard ≥ threshold. |A∪B| = |A|+|B|-|A∩B| avoids
    * materializing the union, and a sound size-ratio prefilter
    * (J ≤ min(|A|,|B|)/max(|A|,|B|), since |A∩B| ≤ min and |A∪B| ≥ max)
    * skips the O(|A|+|B|) intersection for size-mismatched pairs. */
  private def verifyJaccard(candidates: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame = {
    val na = size(col("sa.sh"))
    val nb = size(col("sb.sh"))
    val jaccard = jaccardOf(col("sa.sh"), col("sb.sh"))
    candidates
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(least(na, nb).cast(DoubleType) >= lit(threshold) * greatest(na, nb))
      .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
