package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Similarity-search queries over `embeddings` (array<float> ×64).
  * q23 is the exact brute-force baseline; q24 is the LSH-bucketed ANN scale
  * path. Both are verified bit-exactly: the cosine is a fixed-order double
  * fold that DuckDB reproduces via list_reduce with a prepended 0.0
  * accumulator, and the ANN hyperplanes are deterministic md5-derived
  * constants embedded identically in plan and oracle. */
object SimilarityQueries {
  import Queries.Q

  private val K_BRUTE = 5
  private val K_ANN = 3
  private val PLANES = 8
  private val DIM = 64
  private val CELLS = 16
  private[graft] val NPROBE = 2
  private lazy val grid = Similarity.hyperplaneGrid(PLANES, DIM)
  private[graft] lazy val cents = Similarity.mdGrid("iv", CELLS, DIM)

  private def queriesOf(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d).filter(col("vec_id") < 8)

  /** q23: exact cosine top-k, in the scale shape — the typed partial top-k
    * Aggregator ([[graft.functions.TopKAgg]]): each map task keeps only its
    * local k best per query, so the aggregation exchange carries ≤ k rows
    * per (query, task) instead of the window formulation's |queries|·|corpus|
    * scored rows. The window form lives on as [[q34TopkWindowTwin]] with the
    * IDENTICAL oracle SQL, so the gate proves the two interchangeable every
    * round (same answer, boundedly cheaper shuffle). */
  val q23CosineTopK: Q = (s, d) =>
    aggregatedTopK(s, d)

  val q24AnnLsh: Q = (s, d) =>
    Similarity.lshTopK(Tables.embeddings(s, d), queriesOf(s, d), K_ANN, grid)

  val q33AnnIvf: Q = (s, d) =>
    Similarity.ivfTopK(Tables.embeddings(s, d), queriesOf(s, d), K_ANN, cents, NPROBE)

  /** q52: q33's IVF over a cell-partitioned corpus layout — the probe's
    * cell join dynamically prunes the partitioned scan to the probed
    * directories (DPP, plan-pinned). Same candidates, same ranks: the
    * oracle is q33's SQL verbatim. */
  val q52AnnIvfPruned: Q = (s, d) => ivfPrunedWith(s, d, queriesOf(s, d))

  /** q52's builder with a caller-supplied query set — MetricsSpec probes it
    * with ONE query to measure the pruned scan's row volume (the full q52
    * query set collectively probes nearly every cell at test SF, which
    * would make an aggregate-volume pin vacuous). */
  private[graft] def ivfPrunedWith(s: org.apache.spark.sql.SparkSession,
      d: String, queries: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Similarity.ivfTopKPartitioned(Tables.embeddings(s, d), queries,
      K_ANN, cents, NPROBE,
      assigned => {
        // The layout depends on the source data AND the centroid grid: a
        // CELLS/grid change must rebuild, not reuse stale cell assignments.
        val centsSig = s"${cents.length}x${cents.headOption.fold(0)(_.length)}:" +
          cents.flatten.mkString(",").hashCode
        graft.operators.Scale.writePartitioned(
          assigned.select(col("vec_id"), col("embedding"), col("cell")),
          s"graft_emb_ivf_${ScaleQueries.sfTag(d)}", "cell",
          graft.operators.Scale.dirFingerprint(s"$d/embeddings.parquet") +
            s"|cents=$centsSig")
          .read(s)
      })

  /** The shared bounded-shuffle formulation behind q23 (see its scaladoc). */
  private def aggregatedTopK(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.functions.udaf
    val vectors = Tables.embeddings(s, d)
    val queries = queriesOf(s, d)
    val scored = vectors.as("v").join(broadcast(queries.as("q")),
        col("q.vec_id") =!= col("v.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("v.vec_id").as("neighbor_id"),
        GraftExtensions.call("cosine_sim", col("q.embedding"), col("v.embedding")).as("sim"))
    val topk = udaf(graft.functions.TopKAgg.topK(K_BRUTE))
    scored.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        col("col.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.sim").as("sim"))
  }

  /** q34: the window-rank formulation, kept as q23's oracle twin — it
    * shuffles every scored row into the per-query window (fine at test SF,
    * the expensive exact baseline at scale) and must keep producing q23's
    * exact answer: the oracle is the SAME SQL, so the bounded Aggregator
    * can never silently drift from the reference semantics. */
  val q34TopkWindowTwin: Q = (s, d) =>
    Similarity.bruteForceTopK(Tables.embeddings(s, d), queriesOf(s, d), K_BRUTE)

  /** q69: scalar int8 quantization of the embedding column — per-vector
    * min/max affine codes in [0,255], the compression step every
    * billion-vector ANN index applies before sharding (4× smaller than
    * fp32; recall loss is bounded by the per-vector range). Pure
    * per-row column arithmetic: codegen'd `transform` HOF over the array,
    * no shuffle at all — scales linearly with executors. Output is
    * EXPLODED to (vec_id, dim, code) scalars so the gate hash-checks every
    * code exactly; the arithmetic is float→double (exact widening) with a
    * floor, so Spark and DuckDB agree bit-for-bit — max elements hit code
    * 255 exactly, degenerate constant vectors (vmax == vmin) code to 0. */
  val q69EmbedQuantize: Q = (s, d) => {
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        array_min(col("embedding")).cast(DoubleType).as("vmin"),
        array_max(col("embedding")).cast(DoubleType).as("vmax"),
        posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast(IntegerType).as("dim"),
        when(col("vmax") === col("vmin"), lit(0))
          .otherwise(floor((col("col").cast(DoubleType) - col("vmin")) * 255.0
            / (col("vmax") - col("vmin"))))
          .cast(IntegerType).as("code"))
  }

  /** q76: product-quantization codes — q69's scalar quantization upgraded
    * to the index-grade form: the 64-dim embedding splits into M=8
    * subvectors of 8 dims; each subspace has a K=16-entry codebook and a
    * vector's code in that subspace is the L2-nearest codebook entry
    * (8 bytes/vector total, 32× smaller than fp32 — the memory layout
    * IVF-PQ indexes shard across a cluster). The codebooks are
    * DATA-DERIVED and deterministic: subspace m's entries are the m-th
    * subvectors of the K seed vectors vec_id < 16 (no iterative training,
    * so plan and oracle replay identically — a Lloyd refinement would add
    * order-dependent float summation and break the bit gate).
    *
    * Plan shape: subvector explode is a generator in-scan; the 128-row
    * codebook broadcasts; argmin is min(struct(dist, k)) — an algebraic
    * aggregate with map-side partials and a deterministic (dist, k)
    * lexicographic tie-break (the oracle's ORDER BY dist, k). ONE keyed
    * shuffle of (vec_id, m) partial minima — linear in vectors, scale-free
    * in K·M. Distances run through the fused native l2_sq (a fixed-order
    * left fold — see L2SquaredDistance). OperationalSpec bounds the
    * reconstruction quality against q23's exact cosine ranking. */
  private[graft] val PQ_M = 8
  private[graft] val PQ_SUBDIM = 8
  private[graft] val PQ_K = 16

  /** (vec_id, m, sv): the M subvectors of every embedding, exploded. */
  private[graft] def pqSubvectors(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(transform(
        sequence(lit(0), lit(PQ_M - 1)),
        m => slice(col("embedding"), m * PQ_SUBDIM + 1, lit(PQ_SUBDIM)))))
      .toDF("vec_id", "m", "sv")

  /** (k, m, cent): the deterministic seed codebook (vec_id < PQ_K). */
  private[graft] def pqCodebook(s: org.apache.spark.sql.SparkSession, d: String) =
    pqSubvectors(s, d).filter(col("vec_id") < PQ_K)
      .select(col("vec_id").cast(org.apache.spark.sql.types.IntegerType).as("k"),
        col("m"), col("sv").as("cent"))

  val q76PqCodes: Q = (s, d) =>
    pqSubvectors(s, d)
      .join(broadcast(pqCodebook(s, d)), Seq("m"))
      .select(col("vec_id"), col("m"),
        struct(GraftExtensions.call("l2_sq", col("sv"), col("cent").cast("array<double>"))
          .as("dist"), col("k")).as("dk"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("dk")).as("best"))
      .select(col("vec_id"), col("m"), col("best.k").as("code"))

  /** q79: IVF-PQ search — the q33 (coarse cells) × q76 (PQ codes)
    * composition, i.e. the modern ANN index end-to-end: probe nprobe
    * cells, score candidates by ADC over the 8-byte codes, exact-re-rank a
    * 10-deep shortlist. See [[Similarity.ivfPqTopK]] for the scale story;
    * the oracle replays cells, codes, ADC, shortlist, and re-rank in full,
    * so the gate pins every stage including both deterministic tie-break
    * chains. Output schema matches q33 (NOT its results — PQ shortlisting
    * may legitimately drop a true neighbor; OperationalSpec bounds that
    * recall against q23's exact ranking for the codes themselves). */
  private[graft] val PQ_SHORTLIST = 10

  val q79AnnIvfPq: Q = (s, d) =>
    Similarity.ivfPqTopK(Tables.embeddings(s, d), queriesOf(s, d), K_ANN,
      cents, NPROBE, PQ_SHORTLIST, q76PqCodes(s, d), pqCodebook(s, d))

  /** q107: ANN recall audit — recall@k of each approximate index (q24's
    * banded LSH, q33's IVF) against the q23 exact ranking, per query and
    * per index family, AS A QUERY: the index-quality monitor a production
    * ANN deployment runs continuously (on a sampled query set) to catch
    * recall rot when the data distribution drifts away from the hash
    * family. The side-by-side is the point — at this corpus the audit
    * reports IVF ≈ 0.9 while the single-grid LSH scores 0.0, exactly the
    * drift signal that triggers re-tuning the hash family. The exact leg
    * is the audit's declared cost — it runs on the sample, never the full
    * query load; all legs are the already-pinned scan-shaped top-k plans,
    * and everything after them is k-row-per-query arithmetic.
    * recall = n_hit/k is one exact IEEE division of two small integers —
    * gate-safe raw (the q98 rule). */
  val q107AnnRecall: Q = (s, d) => {
    val exact = q23CosineTopK(s, d).filter(col("rank") <= K_ANN)
      .select(col("query_id"), col("neighbor_id"))
    def leg(tag: String, approx: org.apache.spark.sql.DataFrame) = {
      val hits = exact
        .join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(lit(tag).as("index"), col("query_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L))
            .cast(org.apache.spark.sql.types.DoubleType) /
            lit(K_ANN.toDouble)).as("recall"))
    }
    leg("lsh", q24AnnLsh(s, d)).unionByName(leg("ivf", q33AnnIvf(s, d)))
  }

  /** q118: the higher-order array-function surface — transform / filter /
    * exists / forall / aggregate / zip_with / reverse in ONE projection
    * over the embedding column, the q95-style coverage row for the lambda
    * API (Spark's SQL-standard answer to per-element array work without
    * explode). Per vector: dimension count, positive-component count, an
    * any-extreme flag, an all-bounded flag, the L1 norm, and the
    * dot-with-own-reverse — each a different HOF, all fused into the scan.
    *
    * Determinism: every float promotes to double BEFORE any arithmetic
    * (IEEE-exact), folds are left-to-right with an explicit 0.0 seed on
    * both engines (the q23 dotSql discipline: list_reduce over a
    * list_prepend(0.0, …)), and comparisons use exactly-representable
    * constants (0, 2.5, 16.0) so no rounding can flip a boolean.
    *
    * Scale shape: zero shuffles, zero joins, one column-pruned scan —
    * per-row lambda work parallelizes embarrassingly. HOF lambdas are
    * interpreted (not codegen'd) in Spark; the native-expression upgrade
    * path (functions/ package, q23's cosine_sim precedent) applies the
    * day a profile shows the lambda interpreter on the critical path. */
  val q118HofSurface: Q = (s, d) => {
    import org.apache.spark.sql.types.DoubleType
    val ed = transform(col("embedding"), x => x.cast(DoubleType))
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).as("n_dims"),
      size(filter(ed, x => x > 0.0)).as("n_pos"),
      exists(ed, x => abs(x) > 2.5).as("has_extreme"),
      forall(ed, x => abs(x) < 16.0).as("all_small"),
      aggregate(transform(ed, x => abs(x)), lit(0.0), (acc, x) => acc + x)
        .as("l1_norm"),
      aggregate(zip_with(ed, reverse(ed), (a, b) => a * b), lit(0.0),
        (acc, x) => acc + x).as("rev_dot"))
  }

  private val KNN_K = 5

  /** q212: kNN-CLASSIFIER EVALUATION — the "is this embedding space any
    * good" workload every labeled corpus runs: hold out every 10th vector
    * as a test set, retrieve each test vector's [[KNN_K]] cosine-nearest
    * TRAIN vectors, majority-vote their labels, and report prediction vs
    * truth per test vector. This is the eval loop of retrieval-based
    * classification (and the sanity gate before shipping an index built
    * on these vectors): q107 audits the INDEX's recall, q212 audits the
    * SPACE's label coherence.
    *
    * Determinism: similarities are q23's exact cosine fold (the same
    * native expression);
    * the k-neighbor cut ranks by the TOTAL order (sim desc, train id);
    * the vote breaks count ties by smaller label — every choice is a
    * declared total order the oracle replays.
    *
    * Scale shape: the test side (|corpus|/10 rows) is the broadcast side
    * of the scored pairing, the corpus streams (q23's contract); the
    * rank-and-vote moves k rows per test vector through one test-keyed
    * window + one (test, label) count. At 10⁹ train vectors the brute
    * pairing swaps for q33's IVF candidates — the vote stage is
    * unchanged. */
  val q212KnnClassify: Q = (s, d) => {
    val test = Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("true_label"))
    val train = Tables.spreadForCompute(
      Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
          col("label").as("t_label")),
      col("t_id"))
    // the |train|×|test| cosine scoring streams the train side — rebalance
    // it (layout-adaptive, no-op at many-row-group inputs) so the scoring
    // runs at core width instead of one task per input row group
    val scored = train.join(broadcast(test), lit(true))
      .select(col("q_id"), col("true_label"), col("t_id"), col("t_label"),
        GraftExtensions.call("cosine_sim", col("q_emb"), col("t_emb")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("t_id"))
    val nbrs = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KNN_K)
    val vw = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("t_label"))
    nbrs.groupBy(col("q_id"), col("true_label"), col("t_label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("q_id"),
        col("true_label").cast(org.apache.spark.sql.types.LongType)
          .as("true_label"),
        col("t_label").cast(org.apache.spark.sql.types.LongType)
          .as("pred_label"),
        col("n_votes"),
        (col("t_label") === col("true_label")).as("correct"))
  }

  val queries: Map[String, Q] = Map(
    "q212_knn_classify" -> q212KnnClassify,
    "q118_hof_surface"     -> q118HofSurface,
    "q107_ann_recall"      -> q107AnnRecall,
    "q23_cosine_topk"      -> q23CosineTopK,
    "q76_pq_codes"         -> q76PqCodes,
    "q79_ann_ivf_pq"       -> q79AnnIvfPq,
    "q24_ann_lsh"          -> q24AnnLsh,
    "q33_ann_ivf"          -> q33AnnIvf,
    "q34_topk_window_twin" -> q34TopkWindowTwin,
    "q52_ann_ivf_pruned"   -> q52AnnIvfPruned,
    "q69_embed_quantize"   -> q69EmbedQuantize)

  // ---------------------------------------------------------------------
  // Oracles
  // ---------------------------------------------------------------------

  /** Left-fold dot product matching Similarity.dot bit-for-bit: prepend the
    * 0.0 accumulator so the fold starts exactly like Spark's aggregate(). */
  private[graft] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_zip($a, $b), z -> z[1]::DOUBLE * z[2]::DOUBLE)),
       |  (x, y) -> x + y)""".stripMargin

  private[graft] def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Hyperplane p as a SQL list literal of exact double constants k/1000. */
  private def hpList(p: Int): String =
    grid(p).map(k => s"($k)/CAST(1000 AS DOUBLE)").mkString("[", ",", "]")

  private def bucketSql(v: String): String =
    (0 until PLANES).map { p =>
      s"(CASE WHEN ${dotSql(v, hpList(p))} >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Centroid c as a SQL list literal; dist² fold mirrors Similarity.dist2
    * (0.0-seeded left fold of (x-c)² in element order). */
  private def centList(c: Int): String =
    cents(c).map(k => s"($k)/CAST(1000 AS DOUBLE)").mkString("[", ",", "]")

  private def dist2Sql(v: String, c: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_zip($v, ${centList(c)}),
       |      z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))),
       |  (x, y) -> x + y)""".stripMargin

  private def annLshSql: String =
    s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM b WHERE vec_id < 8),
       |scored AS (
       |  SELECT qid, v.vec_id AS nid, ${cosineSql("qe", "v.embedding")} AS sim
       |  FROM q JOIN b v ON v.bucket = q.bucket AND v.vec_id <> qid),
       |ranked AS (SELECT *, row_number() OVER
       |    (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored)
       |SELECT qid AS query_id, nid AS neighbor_id, rn AS rank, sim
       |FROM ranked WHERE rn <= $K_ANN""".stripMargin

  private def bruteTopKSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT qid, e.vec_id AS nid, ${cosineSql("qe", "e.embedding")} AS sim
       |  FROM q, embeddings e WHERE e.vec_id <> qid),
       |ranked AS (SELECT *, row_number() OVER
       |    (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored)
       |SELECT qid AS query_id, nid AS neighbor_id, rn AS rank, sim
       |FROM ranked WHERE rn <= $K_BRUTE""".stripMargin

  val oracle: Map[String, String] = Map(
    // Same cosine fold, same (sim desc, id) neighbor cut, same
    // (votes desc, smaller label) tie-break.
    "q212_knn_classify" ->
      s"""WITH test AS (SELECT vec_id AS q_id, embedding AS q_emb,
         |    label AS true_label FROM embeddings WHERE vec_id % 10 = 0),
         |train AS (SELECT vec_id AS t_id, embedding AS t_emb,
         |    label AS t_label FROM embeddings WHERE vec_id % 10 <> 0),
         |scored AS (SELECT q_id, true_label, t_id, t_label,
         |    ${cosineSql("q_emb", "t_emb")} AS sim
         |  FROM train, test),
         |nb AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, t_id) AS rn FROM scored),
         |v AS (SELECT q_id, true_label, t_label,
         |    CAST(count(*) AS BIGINT) AS n_votes
         |  FROM nb WHERE rn <= $KNN_K GROUP BY 1, 2, 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY n_votes DESC, t_label) AS vr FROM v)
         |SELECT q_id, CAST(true_label AS BIGINT) AS true_label,
         |  CAST(t_label AS BIGINT) AS pred_label, n_votes,
         |  t_label = true_label AS correct
         |FROM r WHERE vr = 1""".stripMargin,
    // Same HOFs as DuckDB list lambdas; same double promotion, same
    // 0.0-seeded left folds, same exactly-representable bounds.
    "q118_hof_surface" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS n_dims,
        |  CAST(len(list_filter(embedding, x -> x::DOUBLE > 0)) AS INTEGER) AS n_pos,
        |  len(list_filter(embedding, x -> abs(x::DOUBLE) > 2.5)) > 0 AS has_extreme,
        |  len(list_filter(embedding, x -> NOT (abs(x::DOUBLE) < 16.0))) = 0 AS all_small,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(embedding, x -> abs(x::DOUBLE))),
        |    (acc, x) -> acc + x) AS l1_norm,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(list_zip(embedding, list_reverse(embedding)),
        |        z -> z[1]::DOUBLE * z[2]::DOUBLE)),
        |    (acc, x) -> acc + x) AS rev_dot
        |FROM embeddings""".stripMargin,
    // q23 (bounded Aggregator) and q34 (window twin) share the exact SQL:
    // the gate proves the two formulations interchangeable every round.
    "q34_topk_window_twin" -> bruteTopKSql,
    "q23_cosine_topk" -> bruteTopKSql,
    "q24_ann_lsh" -> annLshSql,
    // All three legs replayed, then the plain set arithmetic of recall@k
    // per index family.
    "q107_ann_recall" ->
      s"""WITH ex AS (SELECT query_id, neighbor_id
         |  FROM ($bruteTopKSql) t WHERE rank <= $K_ANN),
         |ap AS (
         |  SELECT 'lsh' AS idx, query_id, neighbor_id FROM ($annLshSql) t
         |  UNION ALL
         |  SELECT 'ivf' AS idx, query_id, neighbor_id FROM ($ivfSql) t),
         |h AS (SELECT idx, query_id, count(*) AS n_hit
         |  FROM ex JOIN ap USING (query_id, neighbor_id) GROUP BY 1, 2),
         |e AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
         |tags AS (SELECT unnest(['lsh', 'ivf']) AS idx)
         |SELECT tags.idx AS index, e.query_id, e.n_exact,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / $K_ANN AS recall
         |FROM e CROSS JOIN tags
         |LEFT JOIN h ON h.idx = tags.idx AND h.query_id = e.query_id""".stripMargin,
    // Full IVF-PQ replay: cells + codes + ADC shortlist + exact re-rank.
    "q79_ann_ivf_pq" -> ivfPqSql,
    // q52 reads a cell-partitioned materialization of the same assignment:
    // layout must not change the answer, so it shares q33's oracle.
    "q52_ann_ivf_pruned" -> ivfSql,
    "q33_ann_ivf" -> ivfSql,
    // Same subvector slicing, same seed codebook (vec_id < 16), same
    // 0.0-seeded left-fold squared distance, same (dist, k) tie-break.
    "q76_pq_codes" ->
      s"""WITH sub AS (
         |  SELECT vec_id, m, embedding[m*$PQ_SUBDIM+1 : m*$PQ_SUBDIM+$PQ_SUBDIM] AS sv
         |  FROM embeddings, UNNEST(range(0, $PQ_M)) t(m)),
         |cb AS (SELECT vec_id AS k, m, sv AS cent FROM sub WHERE vec_id < $PQ_K),
         |d AS (SELECT s.vec_id, s.m, c.k,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(list_zip(s.sv, c.cent),
         |        z -> (z[1]::DOUBLE - z[2]::DOUBLE) * (z[1]::DOUBLE - z[2]::DOUBLE))),
         |      (x, y) -> x + y) AS dist
         |  FROM sub s JOIN cb c USING (m)),
         |r AS (SELECT vec_id, m, k, row_number() OVER
         |    (PARTITION BY vec_id, m ORDER BY dist, k) AS rn FROM d)
         |SELECT vec_id, CAST(m AS INTEGER) AS m, CAST(k AS INTEGER) AS code
         |FROM r WHERE rn = 1""".stripMargin,
    // Same float→double-exact affine arithmetic, 1-based list indexing.
    "q69_embed_quantize" ->
      """WITH v AS (SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |    CAST(list_max(embedding) AS DOUBLE) AS vmax
        |  FROM embeddings)
        |SELECT vec_id, CAST(i AS INTEGER) AS dim,
        |  CAST(CASE WHEN vmax = vmin THEN 0 ELSE
        |    floor((CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE) - vmin)
        |          * 255.0 / (vmax - vmin))
        |  END AS INTEGER) AS code
        |FROM v, UNNEST(range(0, len(embedding))) t(i)""".stripMargin)

  /** q79's full replay: subvector codes (q76's CTEs), cell assignment and
    * probes (q33's CTEs), code-decoded reconstructions, the ADC shortlist,
    * and the exact re-rank — every tie broken (dist,k)/(adc,nid)/(sim,nid)
    * exactly as the plan does. */
  private lazy val ivfPqSql: String =
    s"""WITH sub AS (
       |  SELECT vec_id, m, embedding[m*$PQ_SUBDIM+1 : m*$PQ_SUBDIM+$PQ_SUBDIM] AS sv
       |  FROM embeddings, UNNEST(range(0, $PQ_M)) t(m)),
       |cb AS (SELECT vec_id AS k, m, sv AS cent FROM sub WHERE vec_id < $PQ_K),
       |dc AS (SELECT s.vec_id, s.m, c.k,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(s.sv, c.cent),
       |        z -> (z[1]::DOUBLE - z[2]::DOUBLE) * (z[1]::DOUBLE - z[2]::DOUBLE))),
       |      (x, y) -> x + y) AS dist
       |  FROM sub s JOIN cb c USING (m)),
       |codes AS (SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k, row_number() OVER
       |      (PARTITION BY vec_id, m ORDER BY dist, k) AS rn FROM dc)
       |  WHERE rn = 1),
       |recv AS (
       |  SELECT codes.vec_id, flatten(list(cb.cent ORDER BY codes.m)) AS rec
       |  FROM codes JOIN cb ON cb.m = codes.m AND cb.k = codes.code
       |  GROUP BY codes.vec_id),
       |d AS (
       |  SELECT vec_id, embedding,
       |    unnest(range($CELLS)) AS c,
       |    unnest([${(0 until CELLS).map(dist2Sql("embedding", _)).mkString(",\n      ")}]) AS dist
       |  FROM embeddings),
       |r AS (SELECT vec_id, embedding, c, dist, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d),
       |assign AS (SELECT vec_id, c AS cell FROM r WHERE rn = 1),
       |probes AS (SELECT vec_id AS qid, embedding AS qe, c AS cell
       |  FROM r WHERE rn <= $NPROBE AND vec_id < 8),
       |adc AS (
       |  SELECT qid, v.vec_id AS nid, ${cosineSql("qe", "recv.rec")} AS adc
       |  FROM probes q JOIN assign v ON v.cell = q.cell AND v.vec_id <> q.qid
       |  JOIN recv ON recv.vec_id = v.vec_id),
       |short AS (SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER
       |      (PARTITION BY qid ORDER BY adc DESC, nid) AS rn FROM adc)
       |  WHERE rn <= $PQ_SHORTLIST),
       |ex AS (
       |  SELECT qid, nid, ${cosineSql("qv.embedding", "nv.embedding")} AS sim
       |  FROM short
       |  JOIN embeddings qv ON qv.vec_id = qid
       |  JOIN embeddings nv ON nv.vec_id = nid),
       |ranked AS (SELECT qid, nid, sim, row_number() OVER
       |    (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM ex)
       |SELECT qid AS query_id, nid AS neighbor_id, rn AS rank, sim
       |FROM ranked WHERE rn <= $K_ANN""".stripMargin

  private lazy val ivfSql: String =
      s"""WITH d AS (
         |  SELECT vec_id, embedding,
         |    unnest(range($CELLS)) AS c,
         |    unnest([${(0 until CELLS).map(dist2Sql("embedding", _)).mkString(",\n      ")}]) AS dist
         |  FROM embeddings),
         |r AS (SELECT vec_id, embedding, c, dist, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d),
         |assign AS (SELECT vec_id, embedding, c AS cell FROM r WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, embedding AS qe, c AS cell
         |  FROM r WHERE rn <= $NPROBE AND vec_id < 8),
         |scored AS (
         |  SELECT qid, v.vec_id AS nid, ${cosineSql("qe", "v.embedding")} AS sim
         |  FROM probes q JOIN assign v ON v.cell = q.cell AND v.vec_id <> qid),
         |ranked AS (SELECT *, row_number() OVER
         |    (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM scored)
         |SELECT qid AS query_id, nid AS neighbor_id, rn AS rank, sim
         |FROM ranked WHERE rn <= $K_ANN""".stripMargin
}
