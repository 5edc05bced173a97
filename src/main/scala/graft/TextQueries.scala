package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Pii, TextOps, Urls}

/** Text-analysis operators over `documents` (LLM-data-pipeline extension
  * family 4): quality scoring, language-ID heuristic, token counting,
  * min-hash fingerprinting, SimHash. All single-pass, shuffle-free (or one
  * keyed shuffle for SimHash's bit votes), codegen-only — the per-document
  * cost is O(text length) inside the scan task, which is the only shape that
  * survives 100 TB.
  */
/** A candidate point for q140's skyline: one document's two selection
  * criteria. Top-level so the product encoder needs no outer instance. */
final case class SkyPoint(doc_id: Long, lang: String,
    quality_score: Double, n_tokens: Long)

object TextQueries {
  import Queries.Q

  private[graft] val stopwords = Seq("the", "a", "and", "of", "to", "in")
  private val langStops: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "and", "of", "in"),
    "es" -> Seq("el", "la", "los", "de", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** The composite quality score as ONE shared definition — q15 reports it,
    * q39's curation pipeline filters on it; both build this exact Column
    * (and both oracles embed [[qualityScoreSql]]), so the two can never
    * drift. The formula is arbitrary but fixed; what matters is that every
    * term is deterministic double arithmetic with a fixed evaluation order
    * (bit-identical in the oracle). */
  private[graft] def qualityScore(text: Column): Column = {
    val w = TextOps.words(text)
    val charLen = length(text)
    val wordCnt = size(w)
    val punctCnt = charLen - length(regexp_replace(text, "[.,;:!?]", ""))
    val stopHits = TextOps.vocabHits(w, stopwords)
    lit(0.3) * least(lit(1.0), wordCnt.cast(DoubleType) / lit(200.0)) +
      lit(0.4) * (stopHits.cast(DoubleType) / wordCnt) +
      lit(0.3) * (lit(1.0) - punctCnt.cast(DoubleType) / charLen)
  }

  /** The identical score in DuckDB SQL, over a tokenized CTE exposing the
    * word list `w`, punctuation count `punct`, and char count `chars`. */
  private[graft] def qualityScoreSql(w: String, punct: String, chars: String): String =
    s"""0.3::DOUBLE * least(1.0::DOUBLE, CAST(len($w) AS DOUBLE) / 200.0)
       |    + 0.4::DOUBLE * (CAST(len(list_filter($w, x ->
       |        list_contains(${sqlList(stopwords)}, x))) AS DOUBLE) / len($w))
       |    + 0.3::DOUBLE * (1.0::DOUBLE - CAST($punct AS DOUBLE) / $chars)""".stripMargin

  /** q15: quality scoring — length, punctuation ratio, stopword ratio,
    * average word length, composite score (the shared [[qualityScore]]). */
  val q15TextStats: Q = (s, d) => {
    val w = TextOps.words(col("text"))
    val charLen = length(col("text"))
    val wordCnt = size(w)
    val punctCnt = charLen - length(regexp_replace(col("text"), "[.,;:!?]", ""))
    val stopHits = TextOps.vocabHits(w, stopwords)
    Tables.documents(s, d).select(
      col("doc_id"),
      col("lang"),
      charLen.as("char_len"),
      wordCnt.as("word_cnt"),
      (TextOps.intArraySum(transform(w, x => length(x))).cast(DoubleType) / wordCnt)
        .as("avg_word_len"),
      (punctCnt.cast(DoubleType) / charLen).as("punct_ratio"),
      (stopHits.cast(DoubleType) / wordCnt).as("stop_ratio"),
      qualityScore(col("text")).as("quality_score"))
  }

  /** Per-language stopword scores over the in-scan token array — the one
    * definition q16 and q112 share. */
  private[graft] def stopwordScores: Seq[(String, Column)] = {
    val w = TextOps.words(col("text"))
    langStops.map { case (code, sw) => code -> TextOps.vocabHits(w, sw) }
  }

  /** Argmax with the fixed alphabetical tie-break, 'und' on zero evidence
    * — the classifier head both language-ID mechanisms use. */
  private[graft] def argmaxLang(scores: Seq[(String, Column)]): Column = {
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (code, sc)) => acc.when(sc === best, lit(code))
    }
  }

  /** q16: language-ID heuristic — per-language stopword occurrence counts,
    * argmax with a fixed alphabetical tie-break, 'und' when no evidence. */
  val q16LangId: Q = (s, d) => {
    val scores = stopwordScores
    val best = greatest(scores.map(_._2): _*)
    val predicted = argmaxLang(scores)
    Tables.documents(s, d).select(
      col("doc_id"),
      col("lang"),
      predicted.as("predicted"),
      best.as("score"),
      (col("lang") === predicted).as("is_match"))
  }

  /** Characteristic character n-grams per language (the classic Cavnar–
    * Trenkle-style profile, reduced to a fixed discriminative set): q41
    * scores a document by total occurrence count of each language's
    * trigrams and takes the argmax. Complements q16's word-stopword
    * heuristic with the sub-word mechanism that also works on unsegmented
    * scripts. Constants, not learned — deterministic and oracle-able. */
  private[graft] val charNgrams: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("sch", "ich", "ein", "und", "der", "ung"),
    "en" -> Seq("the", "ing", "ion", "and", " of", " to"),
    "es" -> Seq("ión", "los", "ado", " de", "que", "ara"),
    "fr" -> Seq("les", "ait", "eur", " de", "que", "est"))

  /** q41: n-gram language-ID — per-language summed trigram occurrence
    * counts (overlapping matches included via lookahead-free stepping:
    * regexp_count counts non-overlapping, which both engines implement
    * identically), argmax with alphabetical tie-break, 'und' on zero
    * evidence. Single-pass, in-scan, shuffle-free. */
  /** Per-language summed trigram scores — q41 and q112 share this one
    * definition: the native fixed-substring counter (24 direct scans, no
    * regex machinery). The profile n-grams are letters/spaces only, so
    * each count equals `regexp_count` on the same literal
    * (ExprEquivalenceSpec pins it; DuckDB's oracle uses the regexp form). */
  private[graft] def ngramScores: Seq[(String, Column)] =
    charNgrams.map { case (code, ngs) =>
      code -> ngs.map(g => GraftExtensions.call("substr_count", col("text"), lit(g)))
        .reduce(_ + _)
    }

  /** q112: classifier agreement matrix — q16's stopword language-ID and
    * q41's character-n-gram language-ID audited AGAINST EACH OTHER (and
    * the truth label), as a query: the (pred_stop, pred_ngram) confusion
    * matrix with per-cell truth-accuracy counts. This is the q107 move
    * applied to classifiers instead of indexes — when two cheap models
    * disagree, that disagreement surface IS the drift/data-quality
    * signal (and the routing rule for which docs deserve an expensive
    * third opinion).
    *
    * Scale shape: BOTH classifiers evaluate in the SAME single scan (no
    * join of two query outputs — the q97 lesson: DataFrame reuse
    * duplicates the scan subtree); the only exchange carries the
    * ≤ (langs+1)² matrix cells, collapsed map-side. */
  val q112LangAgreement: Q = (s, d) =>
    Tables.documentsDistributed(s, d)
      .select(col("lang"),
        argmaxLang(stopwordScores).as("pred_stop"),
        argmaxLang(ngramScores).as("pred_ngram"))
      .groupBy(col("pred_stop"), col("pred_ngram"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === col("pred_stop"), 1L).otherwise(0L))
          .as("n_stop_right"),
        sum(when(col("lang") === col("pred_ngram"), 1L).otherwise(0L))
          .as("n_ngram_right"))

  /** q230: COHEN'S KAPPA between the two language classifiers — the
    * chance-corrected inter-rater agreement every labeling pipeline
    * should report instead of raw agreement (two raters that both say
    * "en" 90% of the time agree 82% by luck alone). Exact rational:
    * with N docs, A = #agreements, and E = Σ_label row·col the expected
    * agreements ×N, κ = (N·A − E)/(N² − E) — numerator and denominator
    * exact BIGINTs from three keyed counts, one readability division.
    * Rides q112's prediction machinery (stopword argmax vs character
    * n-gram argmax), so the confusion matrix and its summary can never
    * disagree about what the raters said.
    *
    * Scale shape: ONE prediction scan (the q112 plan) — the (r1, r2)
    * label pairs are checkpointed (2 columns × |docs|, trivial) because
    * three consumers need them (agreement fold, row marginals, column
    * marginals) and each would otherwise replay the 24-regex scoring
    * scan; then two label-grain marginal counts joined label-on-label
    * (K rows), one 1-row fold. */
  val q230CohensKappa: Q = (s, d) => {
    val preds = Tables.documentsDistributed(s, d)
      .select(argmaxLang(stopwordScores).as("r1"),
        argmaxLang(ngramScores).as("r2"))
      .localCheckpoint(true)
    val base = preds.agg(count(lit(1)).as("n_docs"),
      sum(when(col("r1") === col("r2"), 1L).otherwise(0L)).as("n_agree"))
    val rows = preds.groupBy(col("r1").as("label")).agg(count(lit(1)).as("r"))
    val cols = preds.groupBy(col("r2").as("label")).agg(count(lit(1)).as("c"))
    val rc = rows.join(cols, "label")
      .agg(sum(col("r") * col("c")).as("sum_rc"))
    base.crossJoin(broadcast(rc))
      .select(col("n_docs"), col("n_agree"), col("sum_rc"),
        (col("n_docs") * col("n_agree") - col("sum_rc")).as("kappa_num"),
        (col("n_docs") * col("n_docs") - col("sum_rc")).as("kappa_den"),
        ((col("n_docs") * col("n_agree") - col("sum_rc"))
          .cast(org.apache.spark.sql.types.DoubleType) /
          (col("n_docs") * col("n_docs") - col("sum_rc"))
            .cast(org.apache.spark.sql.types.DoubleType)).as("kappa"))
  }

  val q41LangIdNgram: Q = (s, d) => {
    val scores = ngramScores
    val best = greatest(scores.map(_._2): _*)
    val predicted = argmaxLang(scores)
    // 24 regex scans per row: compute-dense → rebalance before scoring
    Tables.documentsDistributed(s, d).select(
      col("doc_id"),
      col("lang"),
      predicted.as("predicted"),
      best.cast(IntegerType).as("score"),
      (col("lang") === predicted).as("is_match"))
  }

  /** q17: token counting — whitespace tokens, a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation), the chars/4 heuristic,
    * and byte length. */
  val q17TokenCount: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      size(TextOps.words(col("text"))).as("ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("bpe_ish_tokens"),
      ceil(length(col("text")).cast(DoubleType) / lit(4.0)).as("est_tokens_len4"),
      octet_length(col("text")).as("byte_len"))

  /** q18: document fingerprint — min 60-bit md5 hash over distinct 8-word
    * shingles (the min-hash member of a winnowing-style fingerprint family):
    * two documents sharing any 8-word run have a chance of colliding, equal
    * fingerprints are a strong containment signal. Shingle construction
    * is fused into the digest loop (min_md5_shingle60: the md5 hash60 of
    * every shingle string, minimized); the distinct count comes from the
    * fused hashed-shingle set. */
  val q18Fingerprint: Q = (s, d) => {
    val w = TextOps.words(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      GraftExtensions.call("min_md5_shingle60", w, lit(8)).as("fingerprint"),
      size(GraftExtensions.call("hashed_shingles", w, lit(8))).as("n_shingles"))
  }

  /** q19: 60-bit SimHash over word occurrences (term frequency included).
    * Shape: explode words → per-(doc, word) 60-bit hash → 60 bit-vote sums
    * as ONE grouped aggregation (map-side partial combine collapses each
    * task's rows to one row per doc before the shuffle) → recombine bits.
    * The shuffle carries |docs| rows × 60 ints, independent of corpus size
    * per doc — the scalable shape for fingerprinting at 100 TB. */
  /** (doc_id, simhash) table — shared by q19 and the SimHash near-dup
    * pair detector (q30). Aggregation output = safe to reference many
    * times downstream (pipeline barrier, no projection-collapse risk). */
  def simhashDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // The whole fingerprint is one scalar projection — no explode to
    // |tokens| rows, no 60-column aggregation, no shuffle. A NULL text has
    // no tokens to vote, so it yields no row.
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        GraftExtensions.call("sim_hash60", TextOps.words(col("text"))).as("simhash"))

  val q19Simhash: Q = (s, d) => simhashDf(Tables.documentsDistributed(s, d))

  /** q42: context-window chunking — every document splits into overlapping
    * word windows (window 64, stride 48: 16 words of overlap), one row per
    * chunk, the canonical training-sequence prep. Generator shape
    * (posexplode over the stride sequence + array slice), codegen'd,
    * shuffle-free; chunk content is digested so the gate hash-compares the
    * exact text of every chunk. No chunk is ever fully contained in its
    * predecessor (the start sequence stops at the last start that adds
    * words), so a document shorter than window+overlap yields exactly one
    * chunk and no training sequence is emitted twice. */
  private val CHUNK_WINDOW = 64
  private val CHUNK_STRIDE = 48

  val q42Chunking: Q = (s, d) => {
    val w = TextOps.words(col("text"))
    // Last useful start: a chunk at s only adds words when nw > s + overlap
    // (overlap = window - stride); capping the sequence there drops trailing
    // chunks fully contained in their predecessor while keeping coverage
    // exact (the first dropped start s' satisfies nw <= s' + overlap, so the
    // kept predecessor's window s' - stride + window >= nw spans the tail).
    val lastStart = greatest(
      size(col("w")) - 1 - lit(CHUNK_WINDOW - CHUNK_STRIDE), lit(0))
    Tables.documentsDistributed(s, d)
      .filter(col("text").isNotNull) // oracle and plan agree: no chunks for NULL text
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), lastStart, lit(CHUNK_STRIDE))).as("chunk_start"))
      .select(
        col("doc_id"),
        col("chunk_start"),
        size(slice(col("w"), col("chunk_start") + 1, lit(CHUNK_WINDOW))).as("chunk_words"),
        md5(concat_ws(" ", slice(col("w"), col("chunk_start") + 1, lit(CHUNK_WINDOW))))
          .as("chunk_md5"))
  }

  /** q43: repetition scoring — the duplicated-n-gram quality rule (the
    * Gopher-style repetition filter): the fraction of a document's trigram
    * OCCURRENCES that are repeats of an earlier trigram. High values mark
    * boilerplate/looping text that length and stopword ratios (q15) miss.
    * distinct counts come from the shingle set; totals are pure arithmetic
    * (nw-2 positions, floored at 1 to mirror the short-doc single-shingle
    * contract). Single-pass, in-scan; rebalanced like the other
    * compute-dense text passes. */
  val q43RepetitionScore: Q = (s, d) => {
    val w = TextOps.words(col("text"))
    val total3 = greatest(size(w) - 2, lit(1))
    // distinct count via the fused hashed-shingle set (one loop/doc; equal
    // to the string-set count up to ~2^-64 collisions — q18's precedent)
    val distinct3 = size(GraftExtensions.call("hashed_shingles", w, lit(3)))
    val dupFrac = lit(1.0) - distinct3.cast(DoubleType) / total3.cast(DoubleType)
    Tables.documentsDistributed(s, d)
      .filter(col("text").isNotNull) // oracle and plan agree: no score for NULL text
      .select(
      col("doc_id"),
      total3.cast(IntegerType).as("total_3grams"),
      distinct3.cast(IntegerType).as("distinct_3grams"),
      dupFrac.as("dup_frac_3"),
      (dupFrac > 0.5).as("is_repetitive"))
  }

  /** q45: PII detection + redaction. The synthetic corpus carries no real
    * PII, so the query plants deterministic PII spans first — emails /
    * phones / IPv4s derived from doc_id, appended by the SAME arithmetic in
    * the oracle — then runs the actual operator ([[Pii]]): per-doc match
    * counts and order-fixed placeholder redaction, all codegen'd regex
    * projections in the scan. */
  val q45PiiRedact: Q = (s, d) => {
    val id = col("doc_id")
    val planted = {
      val e = when(pmod(id, lit(3)) === 0,
        concat(col("text"), lit(" Contact user"), id.cast(StringType),
          lit("@example.com now."))).otherwise(col("text"))
      val p = when(pmod(id, lit(4)) === 0,
        concat(e, lit(" call 415-555-"),
          lpad(pmod(id, lit(10000)).cast(StringType), 4, "0"))).otherwise(e)
      when(pmod(id, lit(5)) === 0,
        concat(p, lit(" from host 10."), pmod(id, lit(200)).cast(StringType),
          lit(".0."), pmod(id, lit(250)).cast(StringType))).otherwise(p)
    }
    Tables.documentsDistributed(s, d)
      .filter(col("text").isNotNull)
      .select(id, planted.as("aug"))
      .select(
        id,
        Pii.emailCount(col("aug")).as("n_emails"),
        Pii.phoneCount(col("aug")).as("n_phones"),
        Pii.ipCount(col("aug")).as("n_ips"),
        Pii.redact(col("aug")).as("redacted"))
      .withColumn("has_pii",
        col("n_emails") + col("n_phones") + col("n_ips") > 0)
  }

  private[graft] val urlBlocklist = Seq("spam-site.biz", "tracker.example.net")

  /** q46: URL extraction + domain blocklist filter. URLs are planted
    * deterministically (the synthetic corpus has none — same doc_id
    * arithmetic in the oracle), then the [[Urls]] operator extracts every
    * URL, reduces to sorted distinct hosts, and flags docs touching the
    * blocklist; `kept` is the curation decision. Domains are emitted
    * comma-joined (not as an array) so the oracle hash compares strings. */
  val q46UrlFilter: Q = (s, d) => {
    val id = col("doc_id")
    val planted = {
      val a = when(pmod(id, lit(3)) === 0,
        concat(col("text"), lit(" see https://news.example.com/a"),
          id.cast(StringType), lit(" ok"))).otherwise(col("text"))
      val b = when(pmod(id, lit(4)) === 0,
        concat(a, lit(" img http://cdn"), pmod(id, lit(7)).cast(StringType),
          lit(".assets.io/i.png"))).otherwise(a)
      when(pmod(id, lit(10)) === 0,
        concat(b, lit(" buy http://spam-site.biz/x?q="),
          id.cast(StringType))).otherwise(b)
    }
    val doms = Urls.domains(col("aug"))
    Tables.documentsDistributed(s, d)
      .filter(col("text").isNotNull)
      .select(id, planted.as("aug"))
      .select(
        id,
        size(Urls.urls(col("aug"))).as("n_urls"),
        size(doms).as("n_domains"),
        concat_ws(",", doms).as("domains"),
        Urls.hasBlocked(doms, urlBlocklist).as("has_blocked"))
      .withColumn("kept", !col("has_blocked"))
  }

  /** q53: vocabulary heavy-hitters — the tokenizer-training primitive:
    * per-language token frequencies, top-10 by count. Two aggregations
    * with very different scales: the (lang, token) count is the heavy one
    * and collapses map-side (each task emits its distinct tokens once, so
    * the shuffle carries |local vocab| rows, not |corpus tokens|); the
    * rank then runs over the VOCABULARY (≪ corpus), where a per-lang
    * window is the right tool. Deterministic tie-break (count desc, token
    * asc) keeps the cut stable under equal frequencies. */
  /** q114: vocabulary coverage curve — the tokenizer-design analytic that
    * answers "how big must the vocabulary be?": for each target coverage
    * level (90/95/99% of token OCCURRENCES), the smallest
    * frequency-ranked vocabulary prefix that reaches it, plus the exact
    * occurrence count that prefix covers. The long-tail shape this
    * exposes is the whole argument for subword tokenization (q90/q102):
    * word-level coverage saturates slowly, so the last percents cost
    * thousands of types.
    *
    * Determinism: the threshold test is exact integer cross-multiplication
    * (csum·100 ≥ pct·total — no floating point anywhere near the
    * boundary); ranking ties break on the token string.
    *
    * Scale shape: ONE token-count shuffle collapsing map-side (q53's
    * shape); the cumulative window then runs over the VOCABULARY, not the
    * corpus — bounded, single-partition by declaration (the q83 bounded-
    * vocab note; an unbounded-type corpus swaps in q87's two-phase
    * sharded prefix sum, same semantics); levels explode from a 3-element
    * literal. */
  private val COVERAGE_PCTS = Seq(90, 95, 99)

  val q114VocabCoverage: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // The two-stage scan only engages on cluster-scale inputs (wideScan);
    // then the vocabulary feeds three consumers (total, the scan's local
    // windows, the scan's bucket summary), so the lazy checkpoint keeps
    // the corpus tokenize+count subtree computed ONCE (static plans
    // showed 10 parquet scans for the 4-scan query without it).
    val wide = graft.operators.PrefixScan.wideScan(docs)
    val counts0 = docs.filter(col("text").isNotNull)
      .select(explode(TextOps.words(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val counts = if (wide) counts0.localCheckpoint(false) else counts0
    val tot = counts.agg(sum(col("cnt")).as("total"))
    // Two-stage prefix scan instead of the partition-less window pair
    // (r19 opt, guide §2.5): a single `Window.orderBy` funnels the whole
    // vocabulary through ONE task at 100 TB. The bucket key
    // (−cnt, first char of token) is non-decreasing along the exact sort
    // order (cnt desc, token asc) — struct ordering is field-major, −cnt
    // tracks cnt desc exactly, and a string's first character is monotone
    // in the string under UTF8 binary order — so PrefixScan's
    // per-(bucket) windows + broadcast bucket offsets reproduce the same
    // running values bit-for-bit (the DuckDB oracle keeps the one-window
    // form and stays hash-green). rank = inclusive running count, tie-free
    // because token is unique within the order.
    val ranked = graft.operators.PrefixScan.runningAdaptive(
      counts,
      Nil,
      struct(negate(col("cnt")), substring(col("token"), 1, 1)),
      Seq(col("cnt").desc, col("token")),
      Seq((lit(1L), "sum", "rankL"), (col("cnt"), "sum", "csum")),
      exclusive = false, parallel = wide)
      .withColumn("rank", col("rankL").cast(org.apache.spark.sql.types.IntegerType))
      .drop("rankL")
    ranked.crossJoin(broadcast(tot))
      .select(explode(typedLit(COVERAGE_PCTS)).as("pct"),
        col("rank"), col("csum"), col("total"))
      .filter(col("csum") * 100 >= col("pct") * col("total"))
      .groupBy(col("pct"))
      .agg(min(struct(col("rank"), col("csum"))).as("first"))
      .select(col("pct"),
        col("first.rank").cast(LongType).as("vocab_size"),
        col("first.csum").as("tokens_covered"))
  }

  private val VOCAB_K = 10

  val q53VocabTopK: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(col("lang"), explode(TextOps.words(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("token"))))
      .filter(col("rank") <= VOCAB_K)
      .select(col("lang"), col("token"), col("cnt"), col("rank"))
  }

  /** q152: Count-Min sketch n-gram frequency estimation — the point-query
    * frequency sketch completing the sketch family (q40's HLL answers
    * cardinality, q54's t-digest answers quantiles, q113's MinHash answers
    * similarity), over the corpus's 3-word shingle multiset (16k+ distinct
    * trigrams at sf0.01 — the heavy-hitter n-gram counting job CMS exists
    * for; the 31-word vocabulary itself would never collide): d = [[CM_D]]
    * hash rows × w = [[CM_W]] counters, estimate of any trigram's
    * frequency = min over rows of its bucket's counter — never an
    * underestimate (every occurrence lands in the counter), with the
    * classic P[err > εN] ≤ (1/e)^d bound at w = e/ε.
    *
    * Unlike HLL and t-digest — whose engine-internal state forces rows-only
    * gates — every CMS counter is a plain integer SUM over md5-derived
    * buckets, so the sketch STATE ITSELF is bit-replayable in DuckDB and
    * this sketch query is hash-green: the gate pins the top-[[CM_TOPK]]
    * trigrams' true counts, their sketch estimates, and the exact
    * overcount of each.
    *
    * Counters are built from the collapsed trigram-count table — the
    * combine-then-sketch optimization, bit-identical to per-occurrence
    * ingestion because counter addition is associative and commutative
    * over the same multiset. The true counts exist here as the gate's
    * comparator; a production pipeline keeps only the 1,024 counters.
    *
    * Scale shape: one trigram-keyed count exchange (shared by comparator
    * and sketch), then the counter build collapses map-side to ≤ d·w rows per
    * task — the sketch is O(d·w) memory at ANY corpus size, merges by
    * element-wise addition across partitions/days/sources (the property
    * [[graft.SketchSpec]] pins), and the 1,024-row counter table
    * broadcasts for estimate lookups. No driver-side data, no second
    * corpus pass. */
  private[graft] val CM_D = 4
  private[graft] val CM_W = 256
  private val CM_TOPK = 50

  /** The d×w counter table (r, b, c) for a word-count table — public to the
    * spec so mergeability (half-corpus counters sum to whole-corpus
    * counters) is testable against the same code the query runs. */
  private[graft] def cmCounters(wc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    wc.select(col("true_cnt"),
        explode(sequence(lit(0), lit(CM_D - 1))).as("r"), col("word"))
      .select(col("r"),
        pmod(TextOps.hash60(concat(lit("cm"), col("r").cast("string"),
          lit(":"), col("word"))), lit(CM_W.toLong)).as("b"),
        col("true_cnt"))
      .groupBy(col("r"), col("b")).agg(sum(col("true_cnt")).as("c"))

  /** The sketched items: ALL 3-word shingle occurrences (multiset — no
    * array_distinct, unlike the dedup family's set semantics: frequency
    * needs every occurrence), collapsed to (word, true_cnt). */
  private[graft] def cmItemCounts(docs: org.apache.spark.sql.DataFrame) =
    docs.select(TextOps.words(col("text")).as("w"))
      .select(explode(transform(
        sequence(lit(0), greatest(size(col("w")) - 3, lit(0))),
        i => concat_ws(" ", slice(col("w"), i + lit(1), lit(3))))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("true_cnt"))

  val q152CountminFreq: Q = (s, d) => {
    // the multiset shingle explode (3-word concat per occurrence) is
    // in-scan string CPU — rebalance (layout-adaptive no-op at
    // many-row-group inputs) so it runs at core width
    val wc = cmItemCounts(Tables.spreadForCompute(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      col("doc_id")))
    val counters = cmCounters(wc)
    wc.orderBy(col("true_cnt").desc, col("word")).limit(CM_TOPK)
      .select(col("word"), col("true_cnt"),
        explode(sequence(lit(0), lit(CM_D - 1))).as("r"))
      .withColumn("b", pmod(TextOps.hash60(concat(lit("cm"),
        col("r").cast("string"), lit(":"), col("word"))), lit(CM_W.toLong)))
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy(col("word"), col("true_cnt"))
      .agg(min(col("c")).as("cm_est"))
      .withColumn("overcount", col("cm_est") - col("true_cnt"))
  }

  /** q160: token-budget curation fill — the assembly op every training-mix
    * spec ends with: "take the BEST documents of each language until its
    * token budget is spent". Complements the q54/q65 quantile cutoffs
    * (relative thresholds) with the absolute-budget form: per language,
    * quality-rank the docs ([[qualityScore]], doc_id tiebreak → total
    * order) and keep every doc that STARTS before the [[FILL_BUDGET]]-th
    * token (cum − own < B: greedy fill including the boundary doc). The
    * running token sum is integer arithmetic over a unique ordering, so
    * the kept set is bit-deterministic; the score itself is
    * transcendental-free (divisions and a `least`), hence raw-double
    * gated like q98.
    *
    * Scale shape: one lang-keyed window exchange carrying (ids, token
    * counts, score) — never text; rank and running sum share the
    * exchange and sort. The budget filter is per-row; no driver
    * collect, no second pass. */
  private val FILL_BUDGET = 5000L

  val q160BudgetFill: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("q").desc, col("doc_id"))
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(TextOps.words(col("text"))).cast(LongType).as("n_tokens"),
        qualityScore(col("text")).as("q"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < FILL_BUDGET)
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        col("q").as("quality"), col("rnk"), col("cum_tokens"))
  }

  /** q54: adaptive quality cutoff — "drop the worst quartile" without a
    * fixed constant: the global p25 of the shared quality score broadcasts
    * back as the per-row threshold (the q49 discipline: per-row decisions
    * from a broadcast global stat, never a driver round-trip; the corpus
    * itself never shuffles). The headline threshold is `approx_percentile`
    * — a mergeable fixed-size quantile sketch, so every map task emits
    * O(accuracy) state and the single-partition merge is O(tasks ·
    * accuracy), NOT the exact `percentile`'s O(distinct scores) value→count
    * map that concentrates near-corpus-sized state on one reducer over a
    * real-valued score. The sketch's rank error is ≤ n/accuracy (pinned
    * against the exact twin in SketchSpec), so the gate is rows-only (the
    * q40 pattern); [[q65QualityCutoffExact]] is the hash-exact oracle twin.
    * NULL texts are filtered on BOTH paths (the repo-wide NULL-text parity
    * convention): Spark's percentile family skips NULL inputs while a
    * positional oracle counts the rows, so the pin keeps the twins honest
    * the day a NULL document enters the fixtures. The scored projection is
    * PERSISTED (memory-and-disk) so the corpus parses once: the threshold
    * pass materializes the narrow (doc_id, lang, double) projection — a
    * tiny fraction of the raw text bytes — and the output pass reads it
    * back instead of re-scanning and re-scoring 100 TB of text
    * (plan-pinned: both branches are InMemoryTableScans). */
  private[graft] val CUTOFF_ACCURACY = 10000

  val q54QualityCutoff: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("quality_score"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val th = scored.agg(
      approx_percentile(col("quality_score"), lit(0.25), lit(CUTOFF_ACCURACY)).as("t"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        (col("quality_score") >= col("t")).as("kept"))
  }

  /** q65: q54's exact oracle twin — same cutoff semantics through Spark's
    * EXACT `percentile`, kept because the oracle asserts bit-identical
    * equality (and SketchSpec bounds q54's sketch against it). The honest
    * cost statement that demoted this from the headline: exact percentile
    * buffers a value→count map — O(distinct scores), near-O(corpus) over a
    * real-valued score — and merges it on ONE reducer; fine as the
    * correctness anchor at test SF, a scale-killer as the gated plan.
    * Oracle parity: the oracle replicates Spark's interpolation formula
    * `(hi-pos)*q_lo + (pos-lo)*q_hi` literally (one addition, bitwise
    * commutative), so the threshold is bit-identical — no last-ulp flake
    * against DuckDB's `lo + frac*(hi-lo)` formulation. */
  val q65QualityCutoffExact: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("quality_score"))
    val th = scored.agg(percentile(col("quality_score"), lit(0.25)).as("t"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        (col("quality_score") >= col("t")).as("kept"))
  }

  /** q140: Pareto-frontier (skyline) selection — per language, the documents
    * no other document of that language beats on BOTH curation criteria at
    * once (higher quality AND more tokens, strictly better in at least
    * one): the multi-criteria selection that replaces a weighted scalar
    * score when the weights are unknown — the frontier is every
    * best-possible trade-off, and threshold queries (q54/q65) pick FROM it.
    * Equal-criteria ties are incomparable, so tied documents all stay.
    *
    * Scale shape — the two-stage distributed skyline: (1) a per-partition
    * block-nested-loop prune inside mapPartitions (the imperative
    * altitude: a running per-lang frontier, O(frontier) per row, emitted
    * at partition end) cuts candidates from |docs| to ~|local frontiers|
    * with ZERO shuffle — a point dominated locally is dominated globally,
    * and dominance is transitive, so the prune is lossless; (2) the exact
    * resolve runs only on the pruned union: collapse to distinct
    * (lang, quality) with the per-quality max token count, one per-lang
    * window over DISTINCT quality values (rows-frame-safe because
    * grouping made the order key unique; cm = best token count at any
    * STRICTLY higher quality), and a keyed join back onto candidates:
    * kept ⇔ n == mx (no same-quality point strictly longer) AND
    * cm < n (nothing strictly better on both axes). The window runs over
    * frontier-sized data, never the corpus — the single-partition-window
    * trap this formulation exists to avoid.
    *
    * Determinism: quality is the shared bit-identical [[qualityScore]]
    * tree, token counts are exact integers, and the skyline of a SET is
    * order-free — partitioning cannot change the result (the q74/q100
    * invariance discipline; the oracle is the quadratic NOT EXISTS
    * dominance definition itself). */
  val q140ParetoFrontier: Q = (s, d) => paretoFrontier(Tables.documents(s, d))

  /** The skyline builder behind q140, on any (doc_id, lang, text) frame —
    * the OperationalSpec feeds it re-partitioned copies of the same set to
    * prove the local prune is slice-invariant. */
  private[graft] def paretoFrontier(docs: org.apache.spark.sql.DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    val pts = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        qualityScore(col("text")).as("quality_score"),
        size(TextOps.words(col("text"))).cast(LongType).as("n_tokens"))
      .as[SkyPoint]
    def dominates(a: SkyPoint, b: SkyPoint): Boolean =
      a.quality_score >= b.quality_score && a.n_tokens >= b.n_tokens &&
        (a.quality_score > b.quality_score || a.n_tokens > b.n_tokens)
    val cand = pts.mapPartitions { it =>
      val front = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.ArrayBuffer[SkyPoint]]
      it.foreach { p =>
        val f = front.getOrElseUpdate(p.lang,
          scala.collection.mutable.ArrayBuffer.empty[SkyPoint])
        if (!f.exists(dominates(_, p))) {
          val kept = f.filterNot(dominates(p, _)); kept += p
          front(p.lang) = kept
        }
      }
      front.valuesIterator.flatten
    }.toDF()
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("lang")).orderBy(col("quality_score").desc)
      .rowsBetween(W.unboundedPreceding, -1)
    val g = cand.groupBy(col("lang"), col("quality_score"))
      .agg(max(col("n_tokens")).as("mx"))
      .withColumn("cm", max(col("mx")).over(w))
    cand.join(g, Seq("lang", "quality_score"))
      .filter(col("n_tokens") === col("mx") &&
        (col("cm").isNull || col("cm") < col("n_tokens")))
      .select(col("doc_id"), col("lang"), col("quality_score"), col("n_tokens"))
  }

  /** q75: character-class entropy — the classic "does this look like prose
    * or like noise/markup/minified junk" curation signal: Shannon entropy
    * over a FIXED six-class character alphabet (lower, upper, digit, space,
    * the q15 punctuation set, other), classes summed in declared order.
    * Low entropy ⇒ one class dominates (all-caps shouting, digit dumps,
    * whitespace padding); natural prose sits in a characteristic band.
    * Single-pass, in-scan, shuffle-free — the q15 shape.
    *
    * Determinism contract: the per-class counts are exact integers (gated
    * directly), and the entropy summation is a fixed-order IEEE expression
    * tree the oracle replicates term by term — but `ln` itself is NOT
    * bit-portable (measured: JVM Math.log and DuckDB ln disagree by 1 ulp
    * on ~0.04% of this corpus's class ratios). So the gated entropy column
    * is quantized to integer MICRO-bits via floor(bits·1e6): both engines
    * run the identical multiply+floor, and a flip would need an integer
    * within ~1e-10 of the product — dominated by the exact-count gate
    * beside it. ln(2) enters as a literal double constant, not each
    * engine's ln(2), for the same reason. */
  val q75CharEntropy: Q = (s, d) => {
    val n = length(col("text"))
    // The native char_class_counts expression: all six counts in ONE byte
    // scan, value-identical to the per-class regex definition
    // (`[a-z]`, `[A-Z]`, `[0-9]`, `[ ]`, `[.,;:!?]`, other — see its
    // scaladoc; ExprEquivalenceSpec pins it).
    val counts = GraftExtensions.call("char_class_counts", col("text"))
    val Seq(cLower, cUpper, cDigit, cSpace, cPunct, cOther) =
      (1 to 6).map(i => element_at(counts, i))
    val nD = n.cast(DoubleType)
    def term(c: Column): Column = {
      val p = c.cast(DoubleType) / nD
      when(c > 0, p * log(p)).otherwise(lit(0.0))
    }
    val sumTerms = term(cLower) + term(cUpper) + term(cDigit) +
      term(cSpace) + term(cPunct) + term(cOther)
    val bits = -sumTerms / lit(0.6931471805599453)
    Tables.documents(s, d)
      .filter(col("text").isNotNull && n > 0)
      .select(col("doc_id"), col("lang"),
        n.cast(LongType).as("n_chars"),
        cLower.cast(LongType).as("c_lower"),
        cUpper.cast(LongType).as("c_upper"),
        cDigit.cast(LongType).as("c_digit"),
        cSpace.cast(LongType).as("c_space"),
        cPunct.cast(LongType).as("c_punct"),
        cOther.cast(LongType).as("c_other"),
        floor(bits * lit(1000000.0)).cast(LongType).as("entropy_mbits"))
  }

  /** q123: cross-source quality calibration — a mixed corpus carries
    * quality scores whose raw scales are incomparable across
    * crawls/classifiers; rank-based calibration (percent_rank WITHIN
    * source) puts every source on [0,1] before any global keep-rate is
    * applied. Output is the per-(source, decile) calibration table —
    * bucket population and raw-score range — the mapping that translates
    * "keep the top 30%" into per-source raw cutoffs.
    *
    * Determinism: the window orders by (q, doc_id) — tie-free, so
    * percent_rank is exactly (rank−1)/(n−1) with identical IEEE steps in
    * both engines; decile = least(floor(10·pct), 9) keeps the pct = 1.0
    * row in the top bucket.
    *
    * Scale shape: ONE source-keyed window exchange carrying (doc_id,
    * source, q) triples — never text — then a ≤10-row-per-source
    * aggregation that collapses map-side. The per-source sort is the
    * exact-percentile discipline (q32's note); at true scale the window
    * swaps for q100's range-partitioned rank. */
  val q123SourceCalibration: Q = (s, d) => {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("q"), col("doc_id"))
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), qualityScore(col("text")).as("q"))
      .withColumn("pct", percent_rank().over(win))
      .withColumn("decile", least(floor(col("pct") * 10), lit(9L)))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("q")).as("q_min"), max(col("q")).as("q_max"))
  }

  /** q131: the map-column higher-order surface — q118's lambda coverage
    * extended to MapType: per document, the word→count map is built
    * IN-ROW (aggregate over the token array into a map accumulator — no
    * explode, no shuffle), then transform_values doubles each count
    * (weighting hook), map_filter keeps repeated words only, and
    * map_keys/map_values explode the survivors back to rows. Everything
    * between scan and generator is per-row lambda work; the only
    * wide operation in the plan is nothing at all — zero exchanges.
    * The oracle computes the same (doc_id, word, weighted count) rows
    * relationally (DuckDB's MAP type never crosses the gate — rows do),
    * which is exactly the point: map columns are an ENGINE-side layout
    * choice and must be invisible to relational results. */
  val q131MapSurface: Q = (s, d) => {
    // first 64 tokens: the fold rebuilds the accumulator per token
    // (O(tokens·distinct) interpreted lambda work), so the surface demo
    // bounds it; a production counter is explode + groupBy (q53's shape)
    val toks = slice(TextOps.words(col("text")), 1, 64)
    val counts = aggregate(
      toks,
      map().cast(org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType)),
      (acc, w) => map_concat(
        map_filter(acc, (k, _) => k =!= w),
        map(w, coalesce(element_at(acc, w), lit(0L)) + 1L)))
    // the per-token map rebuild is interpreted-lambda CPU fused into the
    // scan — rebalance (layout-adaptive, no-op at many-row-group inputs)
    // so the fold runs at core width
    Tables.spreadForCompute(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"),
        map_filter(transform_values(counts, (_, v) => v * 2L),
          (_, v) => v > 2L).as("m"))
      .select(col("doc_id"), explode(col("m")).as(Seq("t", "v")))
  }

  /** q184: RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    * keyword/keyphrase miner: candidate phrases are the maximal stopword-
    * free word runs, each word scores degree/frequency (degree = Σ length
    * of phrases it appears in — words that live in long phrases score
    * high; frequency = raw occurrences), and a phrase scores the sum of
    * its words' scores. Top 5 phrases per language, with occurrence
    * counts.
    *
    * Phrase extraction is pure string arithmetic IN THE SCAN: whitespace
    * is doubled so every stopword occurrence owns non-overlapping
    * delimiters, one global regexp_replace turns ` stopword ` into a
    * sentinel, and split/transform/filter produce the per-occurrence word
    * arrays with zero exchanges (consecutive stopwords and edge positions
    * fall out of the padding — no lookaround, because RE2 engines don't
    * have it and the oracle must run the SAME regex). The word score is
    * integer MILLI-units — (1000·deg) div freq — so phrase scores are
    * exact BIGINT sums: classic RAKE's rational deg/freq sum would be a
    * float whose summation order the engines could disagree on; the
    * quantized form is order-free and hash-gates, and ranking is total
    * ((score, occ, phrase) — no float tie anywhere).
    *
    * Scale shape: three keyed exchanges — (lang, word) stats, the
    * (lang, phrase) occurrence collapse, and the score join — each over
    * phrase/vocabulary rows that collapse map-side, never raw text; the
    * top-5 rank filter pushes into WindowGroupLimit. A bounded vocabulary
    * would let the word-score side broadcast (the q94 shape); the keyed
    * join is the unbounded-vocab default. */
  val q184RakeKeywords: Q = (s, d) => rake(Tables.documents(s, d))

  /** The RAKE machinery behind q184, on any (lang, text) frame — exposed
    * so OperationalSpec can replay a hand-scored document. */
  private[graft] def rake(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val alt = stopwords.mkString("|")
    val t2 = regexp_replace(
      concat(lit(" "), regexp_replace(trim(col("text")), "\\s+", "  "), lit(" ")),
      s" ($alt) ", " ~ ")
    val phrRows = docs
      .select(col("lang"), explode(filter(
        transform(split(t2, "~"),
          x => filter(split(trim(x), "\\s+"), w => w =!= "")),
        a => size(a) > 0)).as("ws"))
      .select(col("lang"), array_join(col("ws"), " ").as("phrase"),
        size(col("ws")).cast(LongType).as("plen"), col("ws"))
    val wordScores = phrRows
      .select(col("lang"), col("plen"), explode(col("ws")).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("lang"), col("word"), expr("(1000 * deg) div freq").as("sw"))
    val scored = phrRows.groupBy(col("lang"), col("phrase"))
      .agg(count(lit(1)).as("occ"))
      .select(col("lang"), col("phrase"), col("occ"),
        explode(split(col("phrase"), " ")).as("word"))
      .join(wordScores, Seq("lang", "word"))
      .groupBy(col("lang"), col("phrase"))
      .agg(max(col("occ")).as("occ"), sum(col("sw")).as("score_milli"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(col("score_milli").desc, col("occ").desc, col("phrase"))
    scored.withColumn("rank", row_number().over(W).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("phrase"), col("occ"),
        col("score_milli"))
  }

  /** q185: the feature-hashing vectorizer (Weinberger et al. 2009) — the
    * text side of every large-scale linear/logistic baseline and the
    * de-facto preprocessing for hashed n-gram features: each token maps
    * straight to one of [[FH_DIM]] buckets by hash, so there is NO
    * vocabulary, no fit pass, no dictionary to broadcast or drift — the
    * property that makes it the only vectorizer that works on an
    * unbounded stream — and an unseen word at serving time lands exactly
    * where training put it. The companion SIGN hash (bit 12 of the same
    * md5-derived integer) makes colliding words cancel in expectation
    * instead of piling up, the standard collision-debiasing refinement;
    * both raw tf and the signed sum are emitted per (doc, bucket).
    *
    * Everything is integer arithmetic on the shared hash60 idiom — the
    * oracle replays bucket and sign from the same md5 — so the sparse
    * matrix hash-gates exactly. Scale shape: one scan, tokens hashed
    * in-flight (no vocabulary side input exists by construction), one
    * (doc, bucket) exchange whose rows are already collapsed map-side;
    * when a consumer wants one sparse-vector ROW per document instead of
    * triples, q131's in-row map-fold removes even that exchange. */
  val q185FeatureHashing: Q = (s, d) => {
    val h = TextOps.hash60(concat(lit("fh:"), col("word")))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .select(col("doc_id"), h.as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(FH_DIM)).as("bucket"),
        (pmod(expr(s"h div $FH_DIM"), lit(2L)) * lit(2L) - lit(1L)).as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"), sum(col("sgn")).as("tf_signed"))
  }

  private val FH_DIM = 4096L

  val queries: Map[String, Q] = Map(
    "q185_feature_hashing" -> q185FeatureHashing,
    "q184_rake_keywords" -> q184RakeKeywords,
    "q131_map_surface" -> q131MapSurface,
    "q123_source_calibration" -> q123SourceCalibration,
    "q15_text_stats"  -> q15TextStats,
    "q75_char_entropy" -> q75CharEntropy,
    "q45_pii_redact"  -> q45PiiRedact,
    "q46_url_filter"  -> q46UrlFilter,
    "q53_vocab_topk"  -> q53VocabTopK,
    "q114_vocab_coverage" -> q114VocabCoverage,
    "q54_quality_cutoff" -> q54QualityCutoff,
    "q65_quality_cutoff_exact" -> q65QualityCutoffExact,
    "q152_countmin_freq" -> q152CountminFreq,
    "q160_budget_fill" -> q160BudgetFill,
    "q140_pareto_frontier" -> q140ParetoFrontier,
    "q43_repetition_score" -> q43RepetitionScore,
    "q16_lang_id"     -> q16LangId,
    "q17_token_count" -> q17TokenCount,
    "q18_fingerprint" -> q18Fingerprint,
    "q19_simhash"     -> q19Simhash,
    "q41_lang_id_ngram" -> q41LangIdNgram,
    "q112_lang_agreement" -> q112LangAgreement,
    "q230_cohens_kappa" -> q230CohensKappa,
    "q42_chunking"    -> q42Chunking)

  // ---------------------------------------------------------------------
  // DuckDB oracles. `w` is always regexp_split_to_array(trim(text),'\s+')
  // — identical tokenization to TextOps.words.
  // ---------------------------------------------------------------------

  private def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("[", ",", "]")

  val oracle: Map[String, String] = Map(
    // Same md5-derived bucket and sign bits, same integer sums.
    "q185_feature_hashing" ->
      s"""WITH toks AS (SELECT doc_id, u.w AS word
         |  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(w)
         |  WHERE u.w <> ''),
         |h AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5('fh:' || word), 1, 15)) AS UBIGINT) AS h
         |  FROM toks),
         |b AS (SELECT doc_id, CAST(h % $FH_DIM AS BIGINT) AS bucket,
         |    CAST((h // $FH_DIM) % 2 AS BIGINT) * 2 - 1 AS sgn FROM h)
         |SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf,
         |  CAST(sum(sgn) AS BIGINT) AS tf_signed
         |FROM b GROUP BY 1, 2""".stripMargin,
    // Same doubled-space sentinel regex, same integer milli-scores, same
    // total ranking — the phrase machinery replayed in DuckDB's RE2.
    "q184_rake_keywords" -> {
      val alt = stopwords.mkString("|")
      s"""WITH t2 AS (SELECT lang,
         |    regexp_replace(' ' || regexp_replace(trim(text), '\\s+', '  ', 'g')
         |        || ' ', ' ($alt) ', ' ~ ', 'g') AS tx
         |  FROM documents),
         |pr AS (SELECT lang,
         |    list_filter(string_split_regex(trim(p), '\\s+'), w -> w <> '') AS ws
         |  FROM t2, unnest(string_split(tx, '~')) AS u(p)),
         |phr AS (SELECT lang, array_to_string(ws, ' ') AS phrase,
         |    CAST(len(ws) AS BIGINT) AS plen, ws
         |  FROM pr WHERE len(ws) > 0),
         |wr AS (SELECT lang, plen, u.w AS word FROM phr, unnest(ws) AS u(w)),
         |wstats AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(plen) AS BIGINT) AS deg
         |  FROM wr GROUP BY 1, 2),
         |swt AS (SELECT lang, word, (1000 * deg) // freq AS sw FROM wstats),
         |oc AS (SELECT lang, phrase, CAST(count(*) AS BIGINT) AS occ
         |  FROM phr GROUP BY 1, 2),
         |px AS (SELECT oc.lang, oc.phrase, oc.occ, u.w AS word
         |  FROM oc, unnest(string_split(oc.phrase, ' ')) AS u(w)),
         |sc AS (SELECT px.lang, px.phrase, max(px.occ) AS occ,
         |    CAST(sum(s.sw) AS BIGINT) AS score_milli
         |  FROM px JOIN swt s ON s.lang = px.lang AND s.word = px.word
         |  GROUP BY 1, 2),
         |r AS (SELECT lang, phrase, occ, score_milli,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY score_milli DESC, occ DESC, phrase) AS BIGINT) AS rank
         |  FROM sc)
         |SELECT lang, rank, phrase, occ, score_milli FROM r WHERE rank <= 5"""
        .stripMargin
    },
    // Same score, same (q DESC, doc_id) total order, same integer running
    // sum, same strict start-before-budget rule.
    "q160_budget_fill" ->
      s"""WITH t AS (SELECT doc_id, lang, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS w,
         |    length(text) AS char_len,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
         |    ${qualityScoreSql("w", "punct_cnt", "char_len")} AS q
         |  FROM t),
         |r AS (SELECT *, CAST(row_number() OVER win AS INTEGER) AS rnk,
         |    CAST(sum(n_tokens) OVER win AS BIGINT) AS cum_tokens
         |  FROM s WINDOW win AS (PARTITION BY lang ORDER BY q DESC, doc_id))
         |SELECT lang, doc_id, n_tokens, q AS quality, rnk, cum_tokens
         |FROM r WHERE cum_tokens - n_tokens < $FILL_BUDGET""".stripMargin,
    // Same md5-bucket arithmetic, same integer counter sums, same min-over-
    // rows estimate — the sketch state replayed bit-for-bit.
    "q152_countmin_freq" -> {
      def bucket(r: String, w: String) =
        s"CAST(CAST(('0x' || substr(md5('cm' || CAST($r AS VARCHAR) || ':' || $w), 1, 15)) AS UBIGINT) % $CM_W AS BIGINT)"
      s"""WITH w AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents),
         |t AS (SELECT unnest(list_transform(
         |    range(1, greatest(len(w) - 2, 1) + 1),
         |    i -> array_to_string(w[i:i+2], ' '))) AS word FROM w),
         |wc AS (SELECT word, count(*) AS true_cnt FROM t GROUP BY 1),
         |rr AS (SELECT unnest(range(0, $CM_D)) AS r),
         |cnt AS (SELECT r, ${bucket("r", "word")} AS b,
         |    CAST(sum(true_cnt) AS BIGINT) AS c
         |  FROM wc, rr GROUP BY 1, 2),
         |topk AS (SELECT word, true_cnt FROM wc
         |  ORDER BY true_cnt DESC, word LIMIT $CM_TOPK),
         |e AS (SELECT topk.word, topk.true_cnt, min(cnt.c) AS cm_est
         |  FROM topk CROSS JOIN rr
         |  JOIN cnt ON cnt.r = rr.r AND cnt.b = ${bucket("rr.r", "topk.word")}
         |  GROUP BY 1, 2)
         |SELECT word, true_cnt, cm_est, cm_est - true_cnt AS overcount
         |FROM e""".stripMargin
    },
    // Same class regexes, same fixed-order term sum, same literal ln(2),
    // same floor-to-micro-bits quantization (see the q75 scaladoc for why
    // the quantization exists: ln is not bit-portable across engines).
    "q75_char_entropy" -> {
      def term(c: String) =
        s"CASE WHEN $c > 0 THEN (CAST($c AS DOUBLE)/CAST(n AS DOUBLE))*ln(CAST($c AS DOUBLE)/CAST(n AS DOUBLE)) ELSE 0.0 END"
      s"""WITH c AS (SELECT doc_id, lang, length(text) AS n,
         |    length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS c_lower,
         |    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS c_upper,
         |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS c_digit,
         |    length(text) - length(regexp_replace(text, '[ ]', '', 'g')) AS c_space,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS c_punct
         |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
         |k AS (SELECT *, n - c_lower - c_upper - c_digit - c_space - c_punct AS c_other FROM c)
         |SELECT doc_id, lang,
         |  CAST(n AS BIGINT) AS n_chars,
         |  CAST(c_lower AS BIGINT) AS c_lower, CAST(c_upper AS BIGINT) AS c_upper,
         |  CAST(c_digit AS BIGINT) AS c_digit, CAST(c_space AS BIGINT) AS c_space,
         |  CAST(c_punct AS BIGINT) AS c_punct, CAST(c_other AS BIGINT) AS c_other,
         |  CAST(floor((-(${term("c_lower")} + ${term("c_upper")} + ${term("c_digit")}
         |    + ${term("c_space")} + ${term("c_punct")} + ${term("c_other")})
         |    / 0.6931471805599453) * 1000000.0) AS BIGINT) AS entropy_mbits
         |FROM k""".stripMargin
    },
    // Same rank/cumsum, same exact integer cross-multiplied threshold.
    "q114_vocab_coverage" ->
      s"""WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
         |    AS token FROM documents WHERE text IS NOT NULL),
         |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |r AS (SELECT token, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, token) AS rank,
         |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS csum
         |  FROM c),
         |lv AS (SELECT unnest([${COVERAGE_PCTS.mkString(", ")}]) AS pct),
         |hit AS (SELECT pct, rank, csum FROM r, lv, tot
         |  WHERE csum * 100 >= pct * total)
         |SELECT CAST(pct AS INTEGER) AS pct,
         |  CAST(min(rank) AS BIGINT) AS vocab_size,
         |  CAST(min(CASE WHEN rank = mr THEN csum END) AS BIGINT)
         |    AS tokens_covered
         |FROM (SELECT *, min(rank) OVER (PARTITION BY pct) AS mr FROM hit)
         |GROUP BY pct""".stripMargin,
    "q53_vocab_topk" ->
      s"""WITH t AS (SELECT lang,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
         |  FROM documents),
         |c AS (SELECT lang, token, count(*) AS cnt FROM t GROUP BY 1, 2),
         |r AS (SELECT lang, token, cnt, CAST(row_number() OVER
         |    (PARTITION BY lang ORDER BY cnt DESC, token) AS INTEGER) AS rank
         |  FROM c)
         |SELECT lang, token, cnt, rank FROM r WHERE rank <= $VOCAB_K""".stripMargin,
    // q54 itself has NO oracle entry: its approx_percentile threshold is a
    // sketch whose internals differ across engines, so the gate records the
    // weaker rows-only check (the q40 pattern) and SketchSpec bounds the
    // rank error against the exact twin below.
    // Same score formula; the cut replicates Spark's exact-percentile
    // interpolation literally — (hi-pos)*q_lo + (pos-lo)*q_hi over the
    // 0-based sorted index, raw value when the position is integral —
    // rather than quantile_cont's lo + frac*(hi-lo), which can differ in
    // the last ulp and flip boundary rows.
    // The map column never crosses the gate — the exploded rows do: same
    // first-64-token counts, same ×2 weighting, same >2 filter.
    "q131_map_surface" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')[1:64]) AS t
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, t, count(*) * 2 AS v
        |FROM w GROUP BY doc_id, t
        |HAVING count(*) * 2 > 2""".stripMargin,
    // Same shared score, same tie-free window, same decile arithmetic.
    "q123_source_calibration" ->
      s"""WITH t AS (SELECT doc_id, source, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS w,
         |    length(text) AS char_len,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, source,
         |    ${qualityScoreSql("w", "punct_cnt", "char_len")} AS q
         |  FROM t),
         |p AS (SELECT source, q,
         |    percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id) AS pct
         |  FROM s),
         |dd AS (SELECT source,
         |    least(CAST(floor(pct * 10) AS BIGINT), 9) AS decile, q FROM p)
         |SELECT source, decile, count(*) AS n_docs,
         |  min(q) AS q_min, max(q) AS q_max
         |FROM dd GROUP BY source, decile""".stripMargin,
    "q65_quality_cutoff_exact" ->
      s"""WITH t AS (SELECT doc_id, lang, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS w,
         |    length(text) AS char_len,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, lang,
         |    ${qualityScoreSql("w", "punct_cnt", "char_len")} AS q
         |  FROM t),
         |ord AS (SELECT q, row_number() OVER (ORDER BY q) - 1 AS i FROM s),
         |p AS (SELECT 0.25::DOUBLE * CAST(count(*) - 1 AS DOUBLE) AS pos,
         |    CAST(floor(0.25::DOUBLE * CAST(count(*) - 1 AS DOUBLE)) AS BIGINT) AS lo,
         |    CAST(ceil(0.25::DOUBLE * CAST(count(*) - 1 AS DOUBLE)) AS BIGINT) AS hi
         |  FROM s),
         |th AS (SELECT sum(CASE
         |    WHEN p.lo = p.hi AND ord.i = p.lo THEN ord.q
         |    WHEN ord.i = p.lo THEN (CAST(p.hi AS DOUBLE) - p.pos) * ord.q
         |    WHEN ord.i = p.hi THEN (p.pos - CAST(p.lo AS DOUBLE)) * ord.q
         |    END) AS t
         |  FROM ord, p)
         |SELECT doc_id, lang, q AS quality_score, q >= th.t AS kept
         |FROM s, th""".stripMargin,
    // The dominance DEFINITION itself (quadratic NOT EXISTS) over the same
    // bit-identical score — the distributed prune must reproduce it exactly.
    "q140_pareto_frontier" ->
      s"""WITH t AS (SELECT doc_id, lang, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS w,
         |    length(text) AS char_len,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, lang,
         |    ${qualityScoreSql("w", "punct_cnt", "char_len")} AS quality_score,
         |    CAST(len(w) AS BIGINT) AS n_tokens
         |  FROM t)
         |SELECT doc_id, lang, quality_score, n_tokens FROM s p
         |WHERE NOT EXISTS (SELECT 1 FROM s o
         |  WHERE o.lang = p.lang
         |    AND o.quality_score >= p.quality_score
         |    AND o.n_tokens >= p.n_tokens
         |    AND (o.quality_score > p.quality_score
         |         OR o.n_tokens > p.n_tokens))""".stripMargin,
    // Identical deterministic PII planting (same doc_id arithmetic), then
    // the same RE2/Java-compatible patterns: counts before redaction,
    // redaction in the same fixed order (email -> ip -> phone).
    "q45_pii_redact" ->
      s"""WITH a1 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN text || ' Contact user' || doc_id || '@example.com now.'
         |      ELSE text END AS t
         |  FROM documents WHERE text IS NOT NULL),
         |a2 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0
         |      THEN t || ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      ELSE t END AS t FROM a1),
         |a3 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN t || ' from host 10.' || (doc_id % 200) || '.0.' || (doc_id % 250)
         |      ELSE t END AS t FROM a2)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Pii.EMAIL}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${Pii.PHONE}')) AS INT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '${Pii.IPV4}')) AS INT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '${Pii.EMAIL}', '[EMAIL]', 'g'),
         |    '${Pii.IPV4}', '[IP]', 'g'),
         |    '${Pii.PHONE}', '[PHONE]', 'g') AS redacted,
         |  len(regexp_extract_all(t, '${Pii.EMAIL}'))
         |    + len(regexp_extract_all(t, '${Pii.PHONE}'))
         |    + len(regexp_extract_all(t, '${Pii.IPV4}')) > 0 AS has_pii
         |FROM a3""".stripMargin,
    // Same planted URLs; regexp_extract_all group 0, host via group 1,
    // sorted distinct hosts comma-joined, blocklist via list_filter.
    "q46_url_filter" ->
      s"""WITH a1 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN text || ' see https://news.example.com/a' || doc_id || ' ok'
         |      ELSE text END AS t
         |  FROM documents WHERE text IS NOT NULL),
         |a2 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0
         |      THEN t || ' img http://cdn' || (doc_id % 7) || '.assets.io/i.png'
         |      ELSE t END AS t FROM a1),
         |a3 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0
         |      THEN t || ' buy http://spam-site.biz/x?q=' || doc_id
         |      ELSE t END AS t FROM a2),
         |x AS (SELECT doc_id,
         |    regexp_extract_all(t, '${Urls.URL}') AS urls,
         |    list_sort(list_distinct(list_transform(
         |      regexp_extract_all(t, '${Urls.URL}'),
         |      u -> regexp_extract(u, '${Urls.HOST}', 1)))) AS doms
         |  FROM a3)
         |SELECT doc_id,
         |  CAST(len(urls) AS INT) AS n_urls,
         |  CAST(len(doms) AS INT) AS n_domains,
         |  coalesce(array_to_string(doms, ','), '') AS domains,
         |  len(list_filter(doms, x -> list_contains(
         |    ${sqlList(urlBlocklist)}, x))) > 0 AS has_blocked,
         |  NOT (len(list_filter(doms, x -> list_contains(
         |    ${sqlList(urlBlocklist)}, x))) > 0) AS kept
         |FROM x""".stripMargin,
    "q15_text_stats" ->
      s"""WITH t AS (SELECT doc_id, lang, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS w,
         |    length(text) AS char_len,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt
         |  FROM documents),
         |t2 AS (SELECT *, len(w) AS word_cnt,
         |    len(list_filter(w, x -> list_contains(${sqlList(stopwords)}, x))) AS stop_hits
         |  FROM t)
         |SELECT doc_id, lang, char_len, word_cnt,
         |  CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / word_cnt AS avg_word_len,
         |  CAST(punct_cnt AS DOUBLE) / char_len AS punct_ratio,
         |  CAST(stop_hits AS DOUBLE) / word_cnt AS stop_ratio,
         |  ${qualityScoreSql("w", "punct_cnt", "char_len")} AS quality_score
         |FROM t2""".stripMargin,
    "q16_lang_id" ->
      s"""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents),
         |sc AS (SELECT doc_id, lang,
         |${langStops.map { case (c, sw) =>
             s"    len(list_filter(w, x -> list_contains(${sqlList(sw)}, x))) AS s_$c" }
             .mkString(",\n")}
         |  FROM t),
         |m AS (SELECT *, greatest(${langStops.map("s_" + _._1).mkString(",")}) AS best FROM sc)
         |SELECT doc_id, lang,
         |  CASE WHEN best = 0 THEN 'und'
         |${langStops.map { case (c, _) => s"    WHEN s_$c = best THEN '$c'" }.mkString("\n")}
         |  END AS predicted,
         |  best AS score,
         |  lang = (CASE WHEN best = 0 THEN 'und'
         |${langStops.map { case (c, _) => s"    WHEN s_$c = best THEN '$c'" }.mkString("\n")}
         |  END) AS is_match
         |FROM m""".stripMargin,
    "q17_token_count" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens,
        |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_tokens_len4,
        |  octet_length(encode(text)) AS byte_len
        |FROM documents""".stripMargin,
    "q18_fingerprint" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(w) - 7, 1) + 1),
        |    i -> array_to_string(w[i:i+7], ' '))) AS s FROM t)
        |SELECT doc_id,
        |  list_aggregate(list_transform(s,
        |    x -> CAST(('0x' || substr(md5(x), 1, 15)) AS UBIGINT)::BIGINT), 'min') AS fingerprint,
        |  len(s) AS n_shingles
        |FROM sh""".stripMargin,
    "q19_simhash" -> simhashSql,
    "q43_repetition_score" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT doc_id,
        |    greatest(len(w) - 2, 1) AS total_3grams,
        |    len(list_distinct(list_transform(
        |      range(1, greatest(len(w) - 2, 1) + 1),
        |      i -> array_to_string(w[i:i+2], ' ')))) AS distinct_3grams
        |  FROM w)
        |SELECT doc_id, CAST(total_3grams AS INTEGER) AS total_3grams,
        |  CAST(distinct_3grams AS INTEGER) AS distinct_3grams,
        |  1.0::DOUBLE - CAST(distinct_3grams AS DOUBLE) / CAST(total_3grams AS DOUBLE)
        |    AS dup_frac_3,
        |  (1.0::DOUBLE - CAST(distinct_3grams AS DOUBLE) / CAST(total_3grams AS DOUBLE))
        |    > 0.5 AS is_repetitive
        |FROM t""".stripMargin,
    // range() is exclusive-end and sequence() inclusive → +1 on the same
    // last-useful-start bound (words of empty text is [""], so nw >= 1;
    // NULL text is filtered on both sides).
    "q42_chunking" ->
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id,
         |  CAST(s AS INTEGER) AS chunk_start,
         |  CAST(len(w[s + 1 : s + $CHUNK_WINDOW]) AS INTEGER) AS chunk_words,
         |  md5(array_to_string(w[s + 1 : s + $CHUNK_WINDOW], ' ')) AS chunk_md5
         |FROM w, UNNEST(range(0,
         |  greatest(len(w) - 1 - ${CHUNK_WINDOW - CHUNK_STRIDE}, 0) + 1,
         |  $CHUNK_STRIDE)) AS t(s)""".stripMargin,
    // Same prediction CTEs as q112, folded to the exact kappa rationals.
    "q230_cohens_kappa" -> {
      val stopScores = langStops.map { case (c, sw) =>
        c -> s"len(list_filter(w, x -> list_contains(${sqlList(sw)}, x)))" }
      val sBest = stopScores.map(x => s"(${x._2})").mkString("greatest(", ", ", ")")
      val sPred = stopScores.map { case (c, x) => s"WHEN ($x) = sbest THEN '$c'" }
        .mkString("CASE WHEN sbest = 0 THEN 'und' ", " ", " END")
      val ngScores = charNgrams.map { case (code, ngs) =>
        code -> ngs.map(g => s"len(regexp_extract_all(text, '$g'))").mkString(" + ") }
      val nBest = ngScores.map(x => s"(${x._2})").mkString("greatest(", ", ", ")")
      val nPred = ngScores.map { case (c, x) => s"WHEN ($x) = nbest THEN '$c'" }
        .mkString("CASE WHEN nbest = 0 THEN 'und' ", " ", " END")
      s"""WITH t AS (SELECT text,
         |    regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         |b AS (SELECT text, w, $sBest AS sbest, $nBest AS nbest FROM t),
         |p AS (SELECT $sPred AS r1, $nPred AS r2 FROM b),
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_agree FROM p),
         |rws AS (SELECT r1 AS label, CAST(count(*) AS BIGINT) AS r
         |  FROM p GROUP BY 1),
         |cls AS (SELECT r2 AS label, CAST(count(*) AS BIGINT) AS c
         |  FROM p GROUP BY 1),
         |rc AS (SELECT CAST(sum(r * c) AS BIGINT) AS sum_rc
         |  FROM rws JOIN cls USING (label))
         |SELECT n_docs, n_agree, sum_rc,
         |  n_docs * n_agree - sum_rc AS kappa_num,
         |  n_docs * n_docs - sum_rc AS kappa_den,
         |  CAST(n_docs * n_agree - sum_rc AS DOUBLE)
         |    / CAST(n_docs * n_docs - sum_rc AS DOUBLE) AS kappa
         |FROM base, rc""".stripMargin
    },
    "q112_lang_agreement" -> {
      val stopScores = langStops.map { case (c, sw) =>
        c -> s"len(list_filter(w, x -> list_contains(${sqlList(sw)}, x)))" }
      val sBest = stopScores.map(x => s"(${x._2})").mkString("greatest(", ", ", ")")
      val sPred = stopScores.map { case (c, x) => s"WHEN ($x) = sbest THEN '$c'" }
        .mkString("CASE WHEN sbest = 0 THEN 'und' ", " ", " END")
      val ngScores = charNgrams.map { case (code, ngs) =>
        code -> ngs.map(g => s"len(regexp_extract_all(text, '$g'))").mkString(" + ") }
      val nBest = ngScores.map(x => s"(${x._2})").mkString("greatest(", ", ", ")")
      val nPred = ngScores.map { case (c, x) => s"WHEN ($x) = nbest THEN '$c'" }
        .mkString("CASE WHEN nbest = 0 THEN 'und' ", " ", " END")
      s"""WITH t AS (SELECT lang, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
         |b AS (SELECT lang, text, w, $sBest AS sbest, $nBest AS nbest FROM t),
         |p AS (SELECT lang, $sPred AS pred_stop, $nPred AS pred_ngram FROM b)
         |SELECT pred_stop, pred_ngram, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN lang = pred_stop THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_stop_right,
         |  CAST(sum(CASE WHEN lang = pred_ngram THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ngram_right
         |FROM p GROUP BY 1, 2""".stripMargin
    },
    "q41_lang_id_ngram" -> {
      val scoreSql = charNgrams.map { case (code, ngs) =>
        code -> ngs.map(g => s"len(regexp_extract_all(text, '$g'))").mkString(" + ")
      }
      val best = scoreSql.map(s => s"(${s._2})").mkString("greatest(", ", ", ")")
      val pred = scoreSql
        .map { case (c, s) => s"WHEN ($s) = best THEN '$c'" }
        .mkString("CASE WHEN best = 0 THEN 'und' ", " ", " END")
      s"""WITH t AS (SELECT doc_id, lang, text, $best AS best FROM documents)
         |SELECT doc_id, lang,
         |  $pred AS predicted,
         |  CAST(best AS INTEGER) AS score,
         |  (lang = ($pred)) AS is_match
         |FROM t""".stripMargin
    })

  /** The q19 oracle SQL, exposed so the q30 near-dup oracle can stage the
    * identical fingerprints. */
  lazy val simhashSql: String =
    """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents),
      |h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS UBIGINT) AS h FROM w),
      |v AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM h, (SELECT unnest(range(60)) AS b) bits GROUP BY doc_id, b)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN v > 0 THEN (1::UBIGINT << b) ELSE 0::UBIGINT END) AS BIGINT) AS simhash
      |FROM v GROUP BY doc_id""".stripMargin
}
