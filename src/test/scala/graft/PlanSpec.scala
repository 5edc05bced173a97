package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan shape assertions — the ".explain and iterate until it's the
  * plan you'd want" discipline, pinned as tests so a regression (lost
  * broadcast, lost pushdown, an accidental cartesian product) fails CI
  * instead of surfacing as a 100× slowdown at scale. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  // One unexecuted round of each graph loop, built from the loop's own
  // round and node-shape helpers: the loops cut lineage per round, so the
  // final plan no longer carries every round and the shape is pinned here.

  /** q178/q200's seed level: the customers of nation 0, checkpointed as
    * the loop's later rounds see their input. */
  private def graphSeeds(): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.customer(spark, sf).filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
  }

  private def np: Int = spark.sessionState.conf.numShufflePartitions

  /** One keyed PageRank round over pre-pinned inputs. */
  private def pagerankKeyedRoundFragment(edgeDeg: DataFrame, ranks: DataFrame): DataFrame =
    GraphQueries.pagerankRound(edgeDeg, ranks,
      df => GraphQueries.nodeShape(keyed = true, np)(df, "node"))

  /** One BFS round; keyed mode pins the edge list on hash(src). */
  private def bfsRoundFragment(keyed: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val edges0 = GraphQueries.bipartiteEdges(spark, sf)
    val edges = if (keyed) edges0.repartition(np, col("src")).persist() else edges0
    val seeds = graphSeeds()
    GraphQueries.bfsRound(edges, seeds.select(col("node")), seeds, 1,
      GraphQueries.nodeShape(keyed, np))
  }

  /** One SSSP relaxation round over unit weights; keyed as for BFS. */
  private def ssspRoundFragment(keyed: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val edges0 = GraphQueries.bipartiteEdges(spark, sf).withColumn("w", lit(1L))
    val edges = if (keyed) edges0.repartition(np, col("src")).persist() else edges0
    GraphQueries.ssspRound(edges, graphSeeds(), GraphQueries.nodeShape(keyed, np))
  }

  test("J1 analog joins broadcast the dim side — the fact never shuffles") {
    val p = plan(Queries.q02SongplayLeftJoin(spark, sf))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "Arguments: hashpartitioning" // no fact-side shuffle
  }

  test("filter + projection push into the parquet scan") {
    val p = plan(Queries.q03UsersDimDistinct(spark, sf))
    p should include("PushedFilters: [IsNotNull(o_custkey)]")
    // column pruning: only the two projected columns are read
    p should include("ReadSchema: struct<o_custkey:bigint,o_orderpriority:string>")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan(Queries.q07PresortTopk(spark, sf))
    p should include("TakeOrderedAndProject")
    """\(\d+\) Sort""".r.findAllMatchIn(p) shouldBe empty // no global sort node
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val p = plan(Queries.q01PricingSummary(spark, sf))
    p should include("HashAggregate")
    p should include("partial_")
  }

  test("no accidental cartesian products or nested-loop joins in keyed queries") {
    for (q <- Seq(Queries.q09StarFlagship, DedupQueries.q21DedupMinhashLsh,
                  DedupQueries.q22DedupNgramBlocked, WindowQueries.q26WindowedAgg)) {
      val p = plan(q(spark, sf))
      p should not include "CartesianProduct"
      p should not include "BroadcastNestedLoopJoin"
    }
  }

  test("brute-force similarity broadcasts only the small query side") {
    val p = plan(SimilarityQueries.q23CosineTopK(spark, sf))
    // non-equi self-pairing against a broadcast query set is the intended
    // shape: the corpus side streams, the query side is the broadcast
    p should include("BroadcastNestedLoopJoin Inner BuildRight")
    p should not include "CartesianProduct"
  }

  test("q23 headline top-k is the bounded aggregation, not a window over all scored rows") {
    val p = plan(SimilarityQueries.q23CosineTopK(spark, sf))
    // partial top-k runs map-side (≤ k rows per query per task reach the
    // exchange); the full-scored-row window shape lives only in q34's twin
    p should include("ObjectHashAggregate")
    p should include("partial_")
    """\(\d+\) Window""".r.findAllMatchIn(p) shouldBe empty
    val twin = plan(SimilarityQueries.q34TopkWindowTwin(spark, sf))
    twin should include("Window")
  }

  test("text ops read only the columns they use (scan pruning)") {
    // Higher-order-function expressions are interpreted (no codegen path in
    // Spark), so the win to protect here is the columnar scan reading only
    // the referenced fields — not WholeStageCodegen coverage.
    val p = plan(TextQueries.q15TextStats(spark, sf))
    p should include("ReadSchema: struct<doc_id:bigint,text:string,lang:string>")
  }

  test("dedup band join is an equi-join on (band, bandKey)") {
    val p = plan(DedupQueries.q21DedupMinhashLsh(spark, sf))
    p should (include("SortMergeJoin") or include("ShuffledHashJoin") or
      include("BroadcastHashJoin"))
  }

  test("q151 prefix-filter join: candidates come from a keyed posting join — no all-pairs product") {
    val p = plan(DedupQueries.q151PrefixJoin(spark, sf))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the candidate self-join is keyed on the prefix shingle hash (broadcast
    // at toy scale, shuffled-keyed beyond the threshold — never a product)
    p should (include("SortMergeJoin") or include("ShuffledHashJoin") or
      include("BroadcastHashJoin"))
    // the global (df, hash) ordering is consumed per-doc inside hash-keyed
    // windows — it never materializes as a range-partitioned global sort
    p should not include "rangepartitioning"
  }

  test("native cosine_sim participates in codegen (no eval fallback marker)") {
    val df = SimilarityQueries.q23CosineTopK(spark, sf)
    plan(df) should include("cosine_sim")
  }

  test("q35 band join is an equi-join via SortMergeJoin — no corpus broadcast, no cartesian") {
    val p = plan(DedupQueries.q35DedupEmbedding(spark, sf))
    p should include("SortMergeJoin")
    p should not include "BroadcastExchange"
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("q36 frame sampling is a generator over the scan — no join, no shuffle") {
    val p = plan(MultimodalQueries.q36FrameSample(spark, sf))
    p should include("Generate")
    (p should not).include("SortMergeJoin")
    p should not include "BroadcastHashJoin"
  }

  test("fused fingerprints run in-scan: q19 has no explode and no aggregation") {
    val p = plan(TextQueries.q19Simhash(spark, sf))
    p should include("sim_hash60")
    p should not include "HashAggregate"
  }

  test("q39 curation pipeline: one dedup-window shuffle plus the compute rebalance, no joins") {
    val p = plan(CorpusPipelineQueries.q39CorpusPipeline(spark, sf))
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length should be <= 2
    (p should not).include("SortMergeJoin")
    p should not include "BroadcastHashJoin"
  }

  test("q37 training shards: one hash exchange for the per-shard window, no range exchange") {
    val p = plan(SampleQueries.q37TrainingShards(spark, sf))
    p should include("Window")
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    p should include("Arguments: hashpartitioning(shard")
    p should not include "rangepartitioning"
  }

  test("q74 epoch reshuffle: all epochs build in one job — one hash exchange, no range sort") {
    val p = plan(SampleQueries.q74EpochReshuffle(spark, sf))
    p should include("Window")
    // the epoch fan-out is a generator inside the scan stage, not a shuffle
    p should include("Generate")
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    p should include("Arguments: hashpartitioning(epoch")
    p should not include "rangepartitioning"
  }

  test("q72 merge: the runtime filter on lang opens fewer files than the table holds") {
    // the MERGE's ON clause carries lang, so the batch's lang values (en
    // only) prune the target scans at run time: de/es/fr/zh files never open
    val cols = ScaleQueries.CorpusCols
    val t = ScaleQueries.corpusTable(spark, sf, "corpus_base", cols)
    val dir = IngestQueries.catDir(spark, t.split('.').last)
    val files = graft.sources.GraftTableCatalog.readManifest(dir,
      graft.sources.GraftTableCatalog.readLatest(dir)).files.length
    files should be > 1
    graft.sources.GraftTableCatalog.filesOpened.set(0)
    ScaleQueries.mergeCorpus(spark, sf, t, cols)
    val opened = graft.sources.GraftTableCatalog.filesOpened.get()
    withClue(s"opened $opened of $files files: ") {
      opened should (be > 0L and be < files.toLong)
    }
  }

  test("q73 incremental dedup: zero corpus-side exchange — batch broadcasts, one result-only shuffle") {
    val p = plan(DedupQueries.q73IncrementalDedup(spark, sf))
    // every join is a broadcast with the batch/candidate side as build —
    // the corpus fingerprint scans feed their joins directly
    p should not include "SortMergeJoin"
    p should not include "ShuffledHashJoin"
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should include("BroadcastHashJoin")
    // the ONLY shuffle is the final distinct over verified survivors, and
    // its key list proves it carries probe results (batch_id, corpus_id,
    // jaccard) — never a corpus band key or shingle set
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    (p should include).regex(
      """Arguments: hashpartitioning\(batch_id#\d+L?, corpus_id#\d+L?, jaccard#\d+""")
  }

  test("q138 pit features: keyed join on user_id with containment as join condition — no nested loop") {
    val p = plan(WindowQueries.q138PitFeatures(spark, sf))
    // equi-key user_id carries the join; the SCD2 interval containment
    // rides as the join CONDITION of that keyed join — a naive planner
    // (or a formulation without the equi-key) degrades to a per-row
    // nested loop that is quadratic per user at 100 TB
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should include("Join type: LeftOuter")
    (p should include).regex("""Join condition: \(\(valid_from#\d+ <= asof_ts#\d+\)""")
    // the history side is built by q101's single user_id exchange; the
    // observation side joins without any additional shuffle
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
  }

  test("q139 phrase search: query terms broadcast-prune the postings; phrase filter is a broadcast semi") {
    val p = plan(RetrievalQueries.q139PhraseSearch(spark, sf))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the ≤2·top term set builds the broadcast side of the in-scan prune,
    // and the top-phrase filter arrives as a broadcast LEFT SEMI — the
    // token stream itself never shuffles for evaluation
    p should include("BroadcastHashJoin LeftSemi BuildRight")
    p should include("BroadcastHashJoin Inner BuildRight")
    // query-log mining is TakeOrdered (k phrases), never a global sort
    p should include("TakeOrderedAndProject")
  }

  test("q144 lateral top-k: the correlated LIMIT decorrelates to WindowGroupLimit, never per-group re-execution") {
    val p = plan(OlapQueries.q144LateralTopk(spark, sf))
    // the LATERAL ORDER BY … LIMIT must become a rank window whose limit
    // pushes into WindowGroupLimit (per-partition top-k heap), joined back
    // on the correlation keys — not a nested loop over groups, not a
    // global sort of the corpus
    p should include("WindowGroupLimit")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    """\(\d+\) Sort\b""".r.findAllMatchIn(p).length should be <= 2 // rank-window local sorts only
  }

  test("q116 split leakage: split is computed in-scan, never joined from an assignment table") {
    val p = plan(DedupQueries.q116SplitLeakage(spark, sf))
    // the cross-split predicate lives INSIDE the pair machinery as pure
    // column arithmetic over both endpoint ids — the md5 split expression
    // appears in the plan, an assignment-table join does not
    p should include("concat(split:,")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the tiny leaked-id set broadcasts back onto the corpus scan: the
    // corpus side pays no exchange for the repair
    p should include("BroadcastHashJoin LeftOuter BuildRight")
  }

  test("q117 DSIR: two token scans, bits table broadcasts back, no required text shuffle") {
    val p = plan(RetrievalQueries.q117DsirSelection(spark, sf))
    // one scan builds the bucket distributions, one scan is the probe —
    // the totals come from a 256-row window, NOT a third re-planned scan
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p).length shouldBe 2
    p should include("BroadcastHashJoin Inner BuildRight")
    p should not include "SortMergeJoin"
    // exchanges: bucket counts (map-side combined), the 256-row totals
    // window, the per-doc regroup, and (at most) the layout-adaptive
    // compute rebalances (REPARTITION_BY_NUM — fire only at under-parallel
    // inputs like this test's one-file layout, never at cluster inputs;
    // the documentsDistributed move made conditional). When the rebalance
    // fires, its hash(doc_id) partitioning ABSORBS the per-doc regroup
    // exchange — ClusteredDistribution(doc_id, lang) is already satisfied.
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length should be <= 5
    (p should include).regex("""Arguments: hashpartitioning\(b#\d+L""")
    (p should include).regex("""Arguments: hashpartitioning\(doc_id#\d+L""")
  }

  test("q118 HOF surface: one pruned scan, zero exchanges — pure per-row lambda work") {
    val p = plan(SimilarityQueries.q118HofSurface(spark, sf))
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p).length shouldBe 1
    """\(\d+\) Exchange""".r.findAllMatchIn(p) shouldBe empty
    p should include("ReadSchema: struct<vec_id:bigint,embedding:array<float>>")
  }

  test("q119 salted join: merge join keyed (key, salt), no broadcast — skew spreads by construction") {
    val p = plan(ScaleQueries.q119SaltedJoin(spark, sf))
    p should include("SortMergeJoin")
    p should not include "BroadcastHashJoin"
    // BOTH the probe exchange and the replicated build exchange carry the
    // salt in their partitioning key — the hot key cannot drown one reducer
    """Arguments: hashpartitioning\(event_type#\d+, _salt#\d+L""".r
      .findAllMatchIn(p).length shouldBe 2
  }

  test("q121 grouping sets: one Expand feeding one partial-aggregated exchange — never a union of scans") {
    val p = plan(OlapQueries.q121GroupingSets(spark, sf))
    p should include("Expand")
    p should include("partial_")
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p).length shouldBe 1
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
  }

  test("q122 perceptual dedup: the bucket window shuffles hashes, never payloads") {
    val p = plan(MultimodalQueries.q122PerceptualDedup(spark, sf))
    // two exchanges total: the decode-parallelism repartition of the doc
    // scan, and the bucket window keyed on (dims, hash) — whose input
    // columns are exactly the five hash-row fields, no payload bytes
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 2
    (p should include).regex(
      """Arguments: hashpartitioning\(img_w#\d+, img_h#\d+, ahash#\d+L""")
  }

  test("q132 checkpoint resume: the resumed plan reads checkpoint bytes — no lineage to seeds or refinement") {
    val p = plan(ClusterQueries.q132CheckpointResume(spark, sf))
    p should include("graft_kmeans_ckpt") // centroids come from the layout
    // the refinement's posexplode and the seed filter exist only in the
    // checkpointing run — the resumed assignment has neither
    p should not include "Generate"
    """vec_id#\d+L? < 8""".r.findFirstIn(p) shouldBe None
  }

  test("q131 map surface: in-row map fold, one scan, no aggregation exchange") {
    val p = plan(TextQueries.q131MapSurface(spark, sf))
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p).length shouldBe 1
    // the only allowed exchange is the layout-adaptive compute rebalance
    // (REPARTITION_BY_NUM; fires at this one-file input, never at
    // cluster-scale inputs) — the fold itself stays in-row: no
    // aggregation/join exchange
    val exchanges = """\(\d+\) Exchange""".r.findAllMatchIn(p).length
    exchanges should be <= 1
    if (exchanges == 1) p should include("REPARTITION_BY_NUM")
    p should include("Generate") // the explode back to rows
  }

  test("q129 interleave schedule: row_number and the per-source count share ONE exchange, no joins") {
    val p = plan(SampleQueries.q129InterleaveSchedule(spark, sf))
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p).length shouldBe 1
    p should not include "Join"
  }

  test("q125 expectations: every constraint collapses map-side; the RI check is a keyed join") {
    val p = plan(Queries.q125Expectations(spark, sf))
    p should include("partial_")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    (p should include).regex("BroadcastHashJoin|SortMergeJoin")
  }

  test("q126 layout audit: two scan-shaped signature aggregations, one small merge") {
    val p = plan(ScaleQueries.q126LayoutAudit(spark, sf))
    p should include("partial_")
    p should include("bit_xor")
    p should not include "CartesianProduct"
    (p should include).regex("FullOuter|BroadcastHashJoin|SortMergeJoin")
  }

  test("q79 IVF-PQ: probe phase is broadcast-only; rank windows use group-limit pushdown") {
    val p = plan(SimilarityQueries.q79AnnIvfPq(spark, sf))
    // no corpus-shuffling join anywhere: the index build is keyed
    // aggregation, the probe/re-rank sides are broadcast hash joins
    p should not include "SortMergeJoin"
    p should not include "ShuffledHashJoin"
    p should not include "CartesianProduct"
    // exactly ONE nested-loop join — the intentional 1-row codebook
    // attach; anything more would be an accidental cross product
    """\(\d+\) BroadcastNestedLoopJoin""".r.findAllMatchIn(p).length shouldBe 1
    // shortlist + final rank skip non-top rows before the window sort
    p should include("WindowGroupLimit")
    // bounded exchange budget: two corpus-scale index-build aggregations
    // (codes argmin on (vec_id, m); codes array fold on vec_id), two
    // K·M-row codebook-nesting aggregations inside the broadcast build,
    // and the two tiny qid-keyed rank windows — nothing else may shuffle
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length should be <= 6
    (p should include).regex("""Arguments: hashpartitioning\(vec_id#\d+L, m#\d+""")
  }

  test("q215 silhouette: the pair scan is gone — the audit is one 1-row stats broadcast, no cartesian") {
    // the assignment materializes once (localCheckpoint), so the audit
    // plan is exactly the sufficient-statistics pass: K·DIM aggregation
    // collapsed to a single stats row, attached by the licensed 1-row
    // scalar broadcast; a and b evaluate in the same projection — the
    // N² non-equi pair join this query used to pay may never return
    val p = plan(ClusterQueries.q215Silhouette(spark, sf))
    p should not include "CartesianProduct"
    p should not include "SortMergeJoin"
    p should not include "ShuffledHashJoin"
    // exactly ONE nested-loop join: the intentional 1-row stats attach
    """\(\d+\) BroadcastNestedLoopJoin""".r.findAllMatchIn(p).length shouldBe 1
  }

  test("q77 set ops: INTERSECT/EXCEPT compile to keyed joins — no cartesian, no nested loop") {
    val p = plan(OlapQueries.q77SetOps(spark, sf))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should include("Union")
  }

  test("q48 sequence packing: one shard hash exchange for the window, no range sort") {
    val p = plan(SampleQueries.q48SequencePack(spark, sf))
    p should include("Window")
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    p should include("Arguments: hashpartitioning(shard")
    p should not include "rangepartitioning"
  }

  test("q49 mixture rebalance: corpus feeds a broadcast join, never an exchange") {
    val p = plan(SampleQueries.q49MixtureRebalance(spark, sf))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    // the only Exchanges belong to the tiny per-lang stats aggregations
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length should be <= 3
    // stats pass reads only the pruned lang column
    p should include("ReadSchema: struct<lang:string>")
  }

  test("q47 boilerplate: per-doc regroup reuses the doc_id partitioning (no 3rd corpus exchange)") {
    val p = plan(DedupQueries.q47Boilerplate(spark, sf))
    p should include("BroadcastHashJoin") // boiler side is the filtered minority
    // exchanges: the two corpus rebalances + the segment-hash aggregation;
    // the final groupBy(doc_id) must NOT add another
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 3
  }

  test("q51: partition-key filter prunes at planning time, not per-file") {
    val p = plan(ScaleQueries.q51PartitionPruning(spark, sf))
    p should include("PartitionFilters")
    (p should include).regex("""lang#\d+ IN \(en,de\)""")
    // no row-level filter remains: pruning is directory-level
    """\(\d+\) Filter""".r.findAllMatchIn(p) shouldBe empty
  }

  test("q53 vocab top-k: token count collapses map-side before the shuffle") {
    val p = plan(TextQueries.q53VocabTopK(spark, sf))
    p should include("partial_count")
    // (lang,token) agg exchange + per-lang window exchange, nothing else
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 2
  }

  test("q54 sketch cutoff: fixed-size sketch merge, corpus scans ONCE, never hash-shuffles") {
    val p = plan(TextQueries.q54QualityCutoff(spark, sf))
    p should include("approx_percentile")
    // the exact percentile (O(distinct) single-reducer state) must be gone
    """(?<!approx_)percentile\(""".r.findAllMatchIn(p) shouldBe empty
    // single corpus pass: the scored projection is persisted, so BOTH the
    // threshold branch and the output branch read the cache — a plan with
    // an executed parquet scan outside the cache re-parses the corpus.
    // (Each InMemoryRelation's printout INCLUDES its cached child plan, so
    // `Scan parquet` appears once per cache description — assert exactly
    // that many, i.e. zero executed scans outside an InMemoryRelation.
    // Formatted explain lists every node twice — tree + details — so count
    // DISTINCT node ids, not raw occurrences.)
    def nodes(name: String): Set[String] =
      s"""\\((\\d+)\\) $name""".r.findAllMatchIn(p).map(_.group(1)).toSet
    nodes("InMemoryTableScan").size shouldBe 2
    // both cache reads share ONE cached build plan — a second distinct scan
    // node id would be an executed (uncached) corpus re-read
    nodes("Scan parquet").size shouldBe 1
    // the only Exchange is the single-partition merge of bounded sketch
    // state; the corpus rides the cache straight into the broadcast join
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    p should include("Arguments: SinglePartition")
    p should not include "hashpartitioning"
  }

  test("q64 five-way star join: fact never shuffles at test SF, region filter on the scan") {
    val p = plan(Queries.q64RegionRevenue(spark, sf))
    // all five dims broadcast onto the lineitem scan; the only Exchange is
    // the final aggregation (at 100 TB AQE swaps customer/supplier to SMJ)
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    """\(\d+\) BroadcastHashJoin""".r.findAllMatchIn(p).length shouldBe 5
    p should not include "CartesianProduct"
    p should include("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)")
  }

  test("q207 TPC-H Q3 shape: pushed date filters, broadcast joins, top-10 without a global sort") {
    val p = plan(Queries.q207ShippingPriority(spark, sf))
    p should include("TakeOrderedAndProject")
    """\(\d+\) Sort""".r.findAllMatchIn(p) shouldBe empty
    p should not include "CartesianProduct"
    // both fact-path date predicates reach their parquet scans
    p should include("EqualTo(c_mktsegment,BUILDING)")
    p should include("LessThan(o_orderdate,")
    p should include("GreaterThan(l_shipdate,")
    // at test SF every join broadcasts; the only Exchange is the partial→
    // final revenue aggregation
    """\(\d+\) BroadcastHashJoin""".r.findAllMatchIn(p).length shouldBe 2
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
  }

  test("q200 SSSP rounds: distance table broadcasts, the edge list never pays a sort-merge join") {
    // per-round lineage is cut (lazy localCheckpoint — linear plans instead
    // of the 2^rounds nesting), so the round shape is pinned on the
    // fragment the loop repeats, like the keyed-mode pins
    val round = plan(ssspRoundFragment(keyed = false))
    round should include("BroadcastHashJoin")
    round should not include "SortMergeJoin"
    round should not include "CartesianProduct"
    val p = plan(GraphQueries.q200Sssp(spark, sf))
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("q208 IBLT build: one keyed exchange into the fixed cell table, no joins at all") {
    // the sketch side only — the peel is driver-side; the plan up to the
    // collected cells must be scan → generate → ONE hash aggregate
    import org.apache.spark.sql.functions.{array, col, concat, explode, lit, pmod, sum}
    val bucket = pmod(graft.operators.TextOps.hash60(
      col("doc_id").cast("string")), lit(5))
    val docs = Tables.documents(spark, sf).select(col("doc_id"), bucket.as("bkt"))
    val signed = docs.filter(col("bkt") =!= 0)
      .select(col("doc_id"), lit(1L).as("sgn"))
      .unionByName(docs.filter(col("bkt") =!= 1)
        .select(col("doc_id"), lit(-1L).as("sgn")))
    val cells = signed
      .select(col("doc_id"), col("sgn"),
        explode(array((0 until 3).map(j =>
          pmod(graft.operators.TextOps.hash60(concat(lit(s"iblt$j:"),
            col("doc_id").cast("string"))), lit(8192L))): _*)).as("pos"))
      .groupBy(col("pos")).agg(sum(col("sgn")).as("cnt"))
    val p = plan(cells)
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    p should not include "Join"
    p should include("Generate") // the 3-way position fan-out is in-scan
  }

  test("q211 sliding HLL: the window merge is a generator fan-out, never a range join") {
    val p = plan(OlapQueries.q211SlidingHll(spark, sf))
    p should not include "CartesianProduct"
    p should include("Generate") // explode(sequence(day, day+6))
    // the only nested-loop joins are the two 1-row span-scalar broadcasts
    // (the d1 clamp) — a range join would appear as an Inner BNLJ with a
    // non-scalar build side
    val bnlj = """BroadcastNestedLoopJoin \w+ \w+""".r.findAllMatchIn(p)
      .map(_.matched).toSeq
    bnlj.distinct shouldBe Seq("BroadcastNestedLoopJoin Cross BuildRight")
  }

  test("q217 incremental sessions: the steady state reads the session-grain state layout") {
    val p = plan(WindowQueries.q217IncrementalSessions(spark, sf))
    p should include("graft_sessions_state") // state scan, not a recompute
    p should not include "CartesianProduct"
    // events appear only as the batch-side scan; the merge and renumber
    // are window exchanges over session/batch-grain rows
    p should include("Window")
  }

  test("q212 kNN eval: the test side broadcasts, the corpus streams") {
    val p = plan(SimilarityQueries.q212KnnClassify(spark, sf))
    p should include("BroadcastNestedLoopJoin Inner BuildRight")
    p should not include "CartesianProduct"
    p should include("Window") // the k-cut and the vote rank
  }

  test("q28 salted agg: stage 1 shuffles on (key, salt), stage 2 merges algebraically") {
    val p = plan(ScaleQueries.q28SaltedAgg(spark, sf))
    // exactly two shuffles — the skew-splitting (key, salt) exchange and the
    // per-key merge; a collapse to a single-stage groupBy(key) has one
    val exchanges = """\(\d+\) Exchange""".r.findAllMatchIn(p).map(_.matched).toSet
    exchanges.size shouldBe 2
    // stage 1 partitions on BOTH the key and the derived salt expression, so
    // a hot key's rows fan out over `salts` reducers instead of one
    (p should include).regex(
      """Arguments: hashpartitioning\(event_type#\d+, _groupingexpression#\d+L?, \d+\)""")
    // stage 2 partitions on the key alone — the merge of ≤salts partials/key
    (p should include).regex("""Arguments: hashpartitioning\(k#\d+, \d+\)""")
    // the salt is a deterministic hash of a uniform column (retry-safe), not rand()
    p should include("pmod(xxhash64(")
    p should not include "rand("
    // the final aggregate is the ALGEBRAIC merge of stage-1 partials — its
    // functions are sums OF the partial columns, never a direct count of
    // the corpus rows (which is what a single-stage collapse would show)
    (p should include).regex("""Functions \[2\]: \[sum\(p_cnt#\d+L?\), sum\(p_total_dec#\d+\)\]""")
  }

  test("q68 rolling hourly: window runs AFTER the agg, on a time-anchored RANGE frame") {
    val p = plan(WindowQueries.q68RollingHourly(spark, sf))
    // events collapse to |type × hour| in the keyed agg BEFORE the window:
    // (hour, type) agg exchange + per-type window exchange, nothing else —
    // the window must never see raw events
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 2
    p should include("partial_count")
    // RANGE (time-anchored), not ROWS: gaps in the hourly series must
    // shrink the trailing window's population, not stretch its span
    p should include("specifiedwindowframe(RangeFrame, -7200, currentrow")
    p should not include "RowFrame, -2"
  }

  test("q69 quantization: pure codegen'd projection — zero exchanges, nothing leaves the map side") {
    val p = plan(SimilarityQueries.q69EmbedQuantize(spark, sf))
    """\(\d+\) Exchange""".r.findAllMatchIn(p) shouldBe empty
    p should include("Generate") // posexplode, inside codegen
    p should include("ReadSchema: struct<vec_id:bigint,embedding:array<float>>")
  }

  test("q70 exact distinct: the two-shuffle distinct plan its HLL twin (q40) replaces at scale") {
    val p = plan(SampleQueries.q70DistinctExact(spark, sf))
    // partial distinct on (lang, prefix32) rides exchange 1; the per-lang
    // merge rides exchange 2 — the cost HLL's 1-exchange sketch avoids
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 2
    (p should include).regex("""Arguments: hashpartitioning\(lang#\d+, prefix32#\d+""")
    (p should include).regex("""Arguments: hashpartitioning\(lang#\d+, \d+\)""")
  }

  test("q63 exact sample: one lang hash exchange for the rank window, no range sort") {
    val p = plan(SampleQueries.q63ExactSample(spark, sf))
    p should include("Window")
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    p should include("Arguments: hashpartitioning(lang")
    p should not include "rangepartitioning"
  }

  test("q62 range join: bin blocking yields an equi-join, never a nested loop") {
    val p = plan(WindowQueries.q62RangeJoin(spark, sf))
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    (p should include).regex("BroadcastHashJoin|SortMergeJoin")
  }

  test("q52: probe join dynamically prunes the cell-partitioned corpus scan") {
    val p = plan(SimilarityQueries.q52AnnIvfPruned(spark, sf))
    p should include("dynamicpruningexpression")
    p should include("BroadcastHashJoin")
  }

  test("compact sizes the file count from stats: one big target file, many small ones") {
    import spark.implicits._
    import graft.operators.Scale
    val df = (1 to 20000).map(i => (i.toLong, s"value-$i-${"x" * 40}")).toDF("k", "v")
    def partFiles(dir: String) =
      new java.io.File(dir).listFiles.count(f => f.getName.startsWith("part-"))
    // huge target -> a single output file
    partFiles(Scale.compact(df, "graft_compact_probe_big", 1L << 30).dir) shouldBe 1
    // tiny target -> stats force a multi-file layout
    partFiles(Scale.compact(df, "graft_compact_probe_small", 64L * 1024).dir) should be > 1
    // write-once: same spec skips the rewrite (same file set)
    val again = Scale.compact(df, "graft_compact_probe_small", 64L * 1024)
    partFiles(again.dir) should be > 1
    Seq("graft_compact_probe_big", "graft_compact_probe_small").foreach(t =>
      Scale.deleteRecursively(java.nio.file.Paths.get(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)))
  }

  test("writeBucketed rebuilds on spec change instead of attaching stale layout") {
    import spark.implicits._
    import graft.operators.Scale
    val t = "graft_spec_probe"
    Scale.writeBucketed((1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t, "k", 4)
    spark.table(t).count() shouldBe 100
    // same spec: write-once contract — the second call must NOT rewrite
    Scale.writeBucketed((1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t, "k", 4)
    spark.table(t).count() shouldBe 100
    // changed bucket count: stale physical layout must be rebuilt, not reused
    Scale.writeBucketed((1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v"), t, "k", 8)
    spark.table(t).count() shouldBe 50
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("bucketed join is exchange-free AND sort-free: only the final aggregation shuffles") {
    val p = SessionConf.withValue(spark,
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true") {
      plan(ScaleQueries.q29Direct(spark, sf))
    }
    p should include("Bucketed: true")
    p should include("SortMergeJoin")
    // the join reads co-located buckets from both sides: no shuffle on
    // either join key, no broadcast; the only Exchange is the final agg
    p should not include "hashpartitioning(l_orderkey"
    p should not include "hashpartitioning(o_orderkey"
    p should not include "BroadcastExchange"
    // one sorted file per bucket + the scoped outputOrdering conf: the
    // scan itself carries the join order — the merge join pays NO sort
    // (\b: "(5) SortMergeJoin" must not count as a Sort node)
    """\(\d+\) Sort\b""".r.findAllMatchIn(p) shouldBe empty
  }

  test("q254: both report branches reuse ONE aggregate exchange; each top-k is a heap") {
    // exchange reuse under AQE is a RUNTIME property (the second branch's
    // stage resolves to the first's materialized map output), so the pin
    // reads the executed final plan, not the initial explain
    val df = ScaleQueries.q254ExchangeReuse(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the second branch points back at the first branch's shuffle — the
    // fact scan + partial aggregate + exchange run once for the union
    p should include("ReusedExchange")
    "FileScan".r.findAllMatchIn(p).size shouldBe 1
    p should include("TakeOrderedAndProject")
    """\bSort\b""".r.findAllMatchIn(p) shouldBe empty // no global sort
  }

  test("q85 cluster sample: quota window group-limits before its sort; q81's plan underneath") {
    val p = plan(ClusterQueries.q85ClusterSample(spark, sf))
    // the rank<=QUOTA filter pushes into WindowGroupLimit: each task
    // forwards at most QUOTA rows per cluster to the window sort
    p should include("WindowGroupLimit")
    // inherited q81 shape: broadcast centroids, no vector-shuffling join
    p should include("BroadcastNestedLoopJoin")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("q84 edit-distance dedup: the banded DP runs ABOVE the fixed-width pair rebalance") {
    val p = plan(DedupQueries.q84DedupEdit(spark, sf))
    // candidates come from an equi-join on (lang, bkey) — never all-pairs
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    (p should include).regex("""Left keys \[2\]: \[lang#\d+, bkey#\d+\]""")
    // the CPU-dense DP must NOT be a join residual: there AQE's size-based
    // coalescing would run it serially (measured 224 s at sf0.1). The
    // nondeterministic fence keeps it above the REPARTITION_BY_NUM
    // exchange, whose width AQE may not coalesce.
    p should not include "Join condition: (((levenshtein"
    (p should include).regex(
      """hashpartitioning\(doc_a#\d+L, doc_b#\d+L, \d+\), REPARTITION_BY_NUM""")
    val fence = """\((\d+)\) Project\s*\nOutput \[3\]: \[doc_a#\d+L, doc_b#\d+L, CASE WHEN \(SPARK_PARTITION_ID""".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    val rebalance = """\((\d+)\) Exchange\s*\nInput \[4\]: \[doc_a#\d+L, doc_b#\d+L, pa#\d+, pb#\d+\]""".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    assert(fence.isDefined, "fenced levenshtein projection missing")
    assert(rebalance.isDefined, "pair rebalance exchange missing")
    assert(fence.get > rebalance.get,
      s"DP (node ${fence.get}) must run above the rebalance (node ${rebalance.get})")
  }

  test("q82 bloom decontamination: prefilter kills corpus shingles BEFORE the join shuffle") {
    val p = plan(DedupQueries.q82BloomDecontam(spark, sf))
    // the eval-too-big-to-broadcast regime: a sort-merge equi-join, with
    // the bloom bitset (scalar subquery) probed in the corpus branch
    p should include("SortMergeJoin Inner")
    p should not include "CartesianProduct"
    p should include("bloom_filter_agg")
    // the might_contain filter must sit BELOW the join's h-keyed exchange:
    // survivors shuffle, victims die in the scan task
    val might = """\((\d+)\) Filter\s*\nInput.*\nCondition : might_contain""".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    val joinExchange = """\((\d+)\) Exchange\s*\nInput \[2\]: \[corpus_id""".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    assert(might.isDefined, "no might_contain filter in plan")
    assert(joinExchange.isDefined, "no corpus-side join exchange in plan")
    assert(might.get < joinExchange.get,
      s"bloom prefilter (node ${might.get}) must precede the join exchange (node ${joinExchange.get})")
  }

  test("q80 BM25: scan-and-score — zero keyed exchanges, top-k is a heap not a sort") {
    val p = plan(RetrievalQueries.q80Bm25(spark, sf))
    // per-term tf is an in-scan array fold (no explode, no posting shuffle);
    // the only aggregation is the 1-row corpus-stats scalar, and the only
    // join is its broadcast back — nothing ever hash-partitions
    p should not include "Arguments: hashpartitioning"
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
    p should include("TakeOrderedAndProject")
    """\(\d+\) Sort""".r.findAllMatchIn(p) shouldBe empty // no global sort
    // scan pruning: only the two columns BM25 reads
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("q83 PMI: two map-side-combined count shuffles, vocab broadcasts, heap top-k") {
    val p = plan(RetrievalQueries.q83PmiBigrams(spark, sf))
    // bigram + unigram counts collapse before their exchanges; the c_xy >= 5
    // filter runs on the counted rows BEFORE the vocab joins
    p should include("partial_count")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should include("TakeOrderedAndProject")
    """\(\d+\) Sort""".r.findAllMatchIn(p) shouldBe empty
    // only the text column feeds the whole statistic
    p should include("ReadSchema: struct<text:string>")
  }

  test("q81 k-means: centroids broadcast to the corpus; only integer partials shuffle") {
    val p = plan(ClusterQueries.q81Kmeans(spark, sf))
    // both assignment rounds pair the corpus with a K-row broadcast —
    // never a shuffled or sort-merge join of raw vectors
    p should not include "SortMergeJoin"
    p should not include "ShuffledHashJoin"
    p should not include "CartesianProduct"
    p should include("BroadcastNestedLoopJoin")
    // argmin and the fixed-point sums are algebraic: map-side partials
    // collapse before every exchange
    p should include("partial_min")
    p should include("partial_sum")
    // raw embeddings cross an exchange only as (vec_id, task)-bounded
    // argmin partials — the refine shuffle carries BIGINT sums, the
    // final assignment's exchange is the same bounded argmin shape
    (p should include).regex("""Arguments: hashpartitioning\(vec_id#\d+L""")
  }

  test("q87 weighted sample: one shard exchange, broadcast offsets, no global sort of the corpus") {
    val p = plan(SampleQueries.q87WeightedSample(spark, sf))
    // the corpus crosses exactly one keyed exchange — the order-aligned
    // shard hash partition the per-shard cumsum windows sit on
    p should not include "rangepartitioning" // never a global range sort
    p should not include "SortMergeJoin"
    // shard offsets and the scalar total come back as broadcasts
    p should include("BroadcastHashJoin")
    p should include("BroadcastNestedLoopJoin") // 1-row total crossJoin
    p should not include "CartesianProduct"
    // weight is the stored n_chars: no text in the scan at all
    p should include("ReadSchema: struct<doc_id:bigint,n_chars:bigint>")
  }

  test("q89 pagerank: rank table broadcasts into the edge list; partial sums collapse per round") {
    val p = plan(GraphQueries.q89Pagerank(spark, sf))
    // |nodes| ≪ |edges|: every iteration's rank join must build on the
    // rank side, never shuffle the edge list into a sort-merge join
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
    // the per-iteration dst aggregation combines map-side (integer sums)
    p should include("partial_sum")
    // only the join keys feed the graph build — read from the edge-build
    // fragment: the r19 eager edge checkpoint cuts it out of the final
    // plan (it was otherwise racing THREE concurrent broadcast builds)
    val eb = plan(GraphQueries.bipartiteEdges(spark, sf))
    eb should include("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>")
    eb should include("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>")
  }

  test("q89 keyed mode: cached edges stream into a shuffled-hash join — no re-exchange of the edge list, no broadcast of the rank table") {
    // the pinned-partitioning conf is SCOPED to the keyed loops now (the
    // production loop wraps itself); the fragment pin runs in the same
    // scope, covering both the cache compile and the consumer plan
    GraphQueries.withPinnedCachedPartitioning(spark) {
      val (e, r) = GraphQueries.pagerankKeyedSetup(spark, sf)
      val df = pagerankKeyedRoundFragment(e, r)
      // execute so AQE settles the final plan: the ENSURE_REQUIREMENTS
      // exchange the static planner provisionally places above the cache is
      // elided at runtime once the cached stage's hash(src,np) is known
      df.write.format("noop").mode("overwrite").save()
      val p = plan(df)
      // the loop join probes the cache DIRECTLY — Filter over the
      // InMemoryTableScan, no Exchange in between
      (p should include).regex(
        """ShuffledHashJoin Inner BuildRight \(\d+\)\s*\n\s*:- Filter \(\d+\)\s*\n\s*:  \+- InMemoryTableScan""")
      // broadcast mode's signature (build-right broadcast of the node
      // table) must be absent with the keyed path forced
      p should not include "BroadcastHashJoin Inner BuildRight"
      p should include("partial_sum") // dst aggregation still combines map-side
      e.unpersist()
    }
  }

  test("q178 keyed mode: frontier expansion and visited anti-join are co-partitioned shuffled-hash joins over the cached edge list") {
    GraphQueries.withPinnedCachedPartitioning(spark) {
      val df = bfsRoundFragment(keyed = true)
      df.write.format("noop").mode("overwrite").save()
      val p = plan(df)
      (p should include).regex(
        """ShuffledHashJoin Inner BuildRight \(\d+\)\s*\n\s*(:\s*)*:- Filter \(\d+\)\s*\n\s*(:\s*)*:  \+- InMemoryTableScan""")
      p should include("ShuffledHashJoin LeftAnti BuildRight")
      p should not include "BroadcastHashJoin Inner BuildRight"
    }
  }

  test("q200 keyed mode: relaxation joins the cached weighted edges co-partitioned; the per-node MIN still collapses map-side") {
    GraphQueries.withPinnedCachedPartitioning(spark) {
      val df = ssspRoundFragment(keyed = true)
      df.write.format("noop").mode("overwrite").save()
      val p = plan(df)
      (p should include).regex(
        """ShuffledHashJoin Inner BuildRight \(\d+\)\s*\n\s*(:\s*)*:- Filter \(\d+\)\s*\n\s*(:\s*)*:  \+- InMemoryTableScan""")
      p should not include "BroadcastHashJoin Inner BuildRight"
      p should include("partial_min")
    }
  }

  test("q91 column stats: unpivot is an in-scan generator feeding one frequency-table aggregation") {
    val p = plan(OlapQueries.q91ColumnStats(spark, sf))
    // stack() must plan as Generate (a generator inside the scan stage),
    // never as a union of per-column scans
    p should include("Generate")
    p should include("stack(6")
    // the (col, value) frequency table collapses map-side
    p should include("partial_count")
    // per-column row/null counts come back as a broadcast, not an SMJ
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("q94 lm surprisal: vocabulary costs broadcast back onto the scan-side tokens") {
    val p = plan(RetrievalQueries.q94LmSurprisal(spark, sf))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
    // the vocabulary count collapses map-side before its exchange
    p should include("partial_count")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("q95 window suite: all three orderings share ONE o_custkey exchange") {
    val p = plan(OlapQueries.q95WindowSuite(spark, sf))
    // six window functions, three sort specs, ONE partitioning: windows
    // must not repartition between specs
    """\(\d+\) Exchange""".r.findAllMatchIn(p).size shouldBe 1
    (p should include).regex("""hashpartitioning\(o_custkey#\d+L""")
    p should include("Window")
  }

  test("q96 subqueries: EXISTS/NOT EXISTS/scalar aggregates all decorrelate to joins") {
    val p = plan(OlapQueries.q96SubqueryDecorrelate(spark, sf))
    // never a per-row re-execution or nested loop
    p should include("LeftSemi")
    p should include("LeftAnti")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // the correlated scalar aggregates become grouped subplans
    p should include("partial_count")
    p should include("partial_sum")
  }

  test("q92 funnel: stage filters push to parquet; per-stage mins collapse before the user joins") {
    val p = plan(WindowQueries.q92Funnel(spark, sf))
    // event_type equality pushes into the scan
    p should include("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)]")
    p should include("EqualTo(event_type,click)")
    p should include("EqualTo(event_type,purchase)")
    // per-user stage tables are min-aggregated before joining (map-side min)
    p should include("partial_min")
    p should not include "CartesianProduct"
  }

  test("q93 rare suppression: combination counts broadcast back; the corpus never shuffles") {
    val p = plan(CorpusPipelineQueries.q93RareSuppress(spark, sf))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    """hashpartitioning\(doc_id""".r.findAllMatchIn(p) shouldBe empty
  }

  test("q88 robust outliers: per-lang stats broadcast back; the per-doc frame never shuffles") {
    val p = plan(SampleQueries.q88RobustOutliers(spark, sf))
    // med and mad come back as broadcasts (the q49 feedback pattern);
    // only 5-row per-lang partials ride the aggregation exchanges
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
    """hashpartitioning\(doc_id""".r.findAllMatchIn(p) shouldBe empty
    p should include("partial_percentile")
  }

  test("q86 span dedup: global occurrence counts are a window, never a span self-join") {
    val p = plan(DedupQueries.q86SpanDedup(spark, sf))
    // spans are hashed in-scan; the corpus-wide count is ONE window over the
    // span_h exchange — a self-join here would shuffle the span set twice
    // and re-materialize it as join output
    p should include("Window")
    p should not include "SortMergeJoin"
    p should not include "BroadcastHashJoin"
    p should not include "CartesianProduct"
    // spans cross the exchange as 8-byte hashes keyed by span_h, never text
    (p should include).regex("""hashpartitioning\(span_h#\d+L""")
    // per-doc regroup collapses map-side before its exchange
    p should include("partial_count")
    // only the two needed columns are read
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("q97 tf-idf: corpus tokenized once, df as term window, top-3 in WindowGroupLimit") {
    val p = plan(RetrievalQueries.q97TfidfTerms(spark, sf))
    // ONE explode pass over the corpus — a groupBy-df formulation
    // duplicates the whole scan+tokenize subtree (measured: 2 Generates)
    """\(\d+\) Generate""".r.findAllMatchIn(p).length shouldBe 1
    p should include("BroadcastNestedLoopJoin") // 1-row n_docs scalar
    p should not include "SortMergeJoin"
    // rank<=3 caps each task's window input before the per-doc sort
    p should include("WindowGroupLimit")
    // tf agg + term df window + doc rank window + 1-row scalar agg: 4
    // exchanges, and the tf agg collapses map-side first
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 4
    p should include("partial_count")
  }

  test("q98 hybrid rrf: both retriever legs are k-row top-k heaps, never global sorts") {
    val p = plan(RetrievalQueries.q98HybridRrf(spark, sf))
    // BM25 leg + cosine leg: one TakeOrderedAndProject each
    """\(\d+\) TakeOrderedAndProject""".r.findAllMatchIn(p).length shouldBe 2
    // 1-row broadcasts (query embedding, corpus stats) — never a true
    // cartesian product
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
    // everything after the scans is constant-size: the only Sorts are the
    // ≤2k-row fusion window and the two ≤k-row rank windows
    """\(\d+\) Sort""".r.findAllMatchIn(p).length should be <= 4
  }

  test("q99 semdedup: pair scan is cluster-keyed, min-anchor collapses map-side") {
    val p = plan(ClusterQueries.q99SemDedup(spark, sf))
    // the intra-cluster self-join is an equi-join on cluster — never a
    // corpus-wide cartesian pair scan
    p should not include "CartesianProduct"
    (p should include).regex("""hashpartitioning\(cluster#\d+""")
    // the min(a_id) anchor reduction starts inside the join task: the
    // post-pair exchange carries one partial row per victim, not the pairs
    p should include("partial_min")
    // centroid assignment broadcasts the K-row table, corpus never
    // shuffles raw vectors for it
    p should include("BroadcastNestedLoopJoin")
  }

  test("q100 global rank: bucketed prefix-scan windows + broadcast offsets — no RDD node, data never funnels to one partition") {
    val p = plan(SampleQueries.globalRank(spark, sf))
    // the per-row window partitions by the day bucket — fully parallel
    (p should include).regex("""hashpartitioning\(_psb#\d+""")
    // phase 3 is engine-native now: the round-9 zipWithIndex RDD
    // round-trip (a codegen/columnar break) must never come back
    p should not include "Scan ExistingRDD"
    p should include("BroadcastHashJoin") // bucket offsets join back broadcast
    p should include("partial_sum")       // bucket totals collapse map-side
    // the ONLY single-partition frame holds the |days|-row bucket summary
    // (the _pst totals), never lineitem rows — the q196 contract
    "Arguments: SinglePartition".r.findAllMatchIn(p).length shouldBe 1
    val idx = p.indexOf("Arguments: SinglePartition")
    p.substring((idx - 400).max(0), idx) should include("_pst")
    // the projection prunes to the three key columns at the scan
    p should include(
      "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_shipdate:timestamp_ntz>")
  }

  test("q101 scd2: lag/sum windows, run collapse, and lead all share ONE user_id exchange") {
    val p = plan(WindowQueries.q101Scd2History(spark, sf))
    // the hash(user_id) clustering satisfies every stage downstream: the
    // change-flag window, the (user_id, version) collapse (subset rule),
    // and the effectivity lead window
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    (p should include).regex("""hashpartitioning\(user_id#\d+L""")
    // islands, not a self-join successor lookup
    p should not include "Join"
  }

  test("q110 cdc chunking: scan shape — only the CPU-spreading repartition, boundaries in-scan") {
    val p = plan(DedupQueries.q110CdcChunks(spark, sf))
    // chunking is per-row column arithmetic: the single exchange is
    // documentsDistributed's REPARTITION (spreads the digest-dense work
    // across cores; one small parquet file = one input split otherwise) —
    // never a keyed aggregation/join requirement
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    // REPARTITION_BY_NUM since r19: documentsDistributed pins an explicit
    // width so AQE cannot coalesce the digest-dense stage back to one task
    p should include("REPARTITION_BY_NUM")
    p should not include "Join"
    // the fused native boundary scan is in the plan (not the interpreted
    // hash60 window chain)
    p should include("cdc_cuts")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("q109 cdc diff: one keyed full-outer merge — text never crosses the exchange") {
    val p = plan(OlapQueries.q109CdcDiff(spark, sf))
    p should include("FullOuter")
    // exactly the join's two side exchanges, keyed on doc_id
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 2
    (p should include).regex("""hashpartitioning\(doc_id#\d+L""")
    // digests are computed in-scan: the exchanges carry (doc_id, flag,
    // 32-char md5), never the text column
    """Arguments: hashpartitioning[^\n]*text""".r.findAllMatchIn(p) shouldBe empty
  }

  test("q103 incremental agg: steady state scans the BATCH only — corpus arrives as K-row state") {
    val p = plan(ScaleQueries.q103IncrementalAgg(spark, sf))
    // the only documents scan is the batch slice, split pushed to parquet
    """documents\.parquet""".r.findAllMatchIn(p).length shouldBe 1
    (p should include).regex("""PushedFilters: \[.*LessThan\(doc_id,50\)""")
    // the corpus side is the materialized per-lang state table
    p should include("graft_lang_state")
    // batch agg + K-row merge agg — no corpus-sized exchange can exist
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 2
  }

  test("q154 bitmap distinct: the exchange carries partial OR-masks, never per-user rows") {
    val p = plan(OlapQueries.q154BitmapDistinct(spark, sf))
    // grain fan-out is an in-row generator; the distinct mechanism is the
    // map-side-combined bit_or — not COUNT(DISTINCT)'s expand/exchange of
    // (group, user) pairs
    p should include("Generate")
    p should include("explode(array(struct(grain, day")
    p should include("partial_bit_or")
    p should not include "Expand"
    p should not include "distinct"
  }

  test("q155 frequent pairs: pair generation is an in-row generator — never a basket self-join") {
    val p = plan(OlapQueries.q155FrequentPairs(spark, sf))
    // the displaced anti-pattern is (order,part) ⋈ (order,part): any
    // sort-merge join here would mean the self-join shape crept back
    p should include("Generate")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
    p should include("BroadcastHashJoin") // the lift joins on broadcast isup
  }

  test("q157 triangles: wedge and closing joins are keyed — no cartesian anywhere in the motif") {
    val p = plan(OlapQueries.q157TriangleCount(spark, sf))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // The in-row pair generator sits BEHIND the arc list's lineage cut
    // (r19: arcs are checkpointed once for the three join sides), so the
    // Generate pin reads the mining fragment the cut hides.
    val mining = plan(OlapQueries.partPairSupports(spark, sf))
    mining should include("Generate") // edges from the in-row pair generator
    mining should not include "CartesianProduct"
  }

  test("q163 trending decay: top-k is a heap, not a global sort; decay is integer shifts in the scan") {
    val p = plan(OlapQueries.q163TrendingDecay(spark, sf))
    p should include("TakeOrderedAndProject")
    p should not include "rangepartitioning" // no global sort exchange
    p should include("shiftright")           // the decay weight is a shift
  }

  test("q164 inclusion deps: every candidate resolves by keyed anti-join — no cartesian") {
    val p = plan(OlapQueries.q164InclusionDeps(spark, sf))
    p should include("LeftAnti")
    p should not include "CartesianProduct"
  }

  test("q158 encoding advisor: all of a table's candidate columns profile in ONE scan") {
    val p = plan(OlapQueries.q158EncodingAdvisor(spark, sf))
    // events carries two candidates (event_type, user_id) but scans once;
    // every table appears exactly once per profiling subtree — the in-row
    // unpivot, not a per-column scan loop
    """events\.parquet""".r.findAllMatchIn(p).length shouldBe 1
    """lineitem\.parquet""".r.findAllMatchIn(p).length shouldBe 1
    p should include("Generate") // the (col_name, value) unpivot generator
  }

  test("q159 audience overlap: the intersection join is word-keyed mask arithmetic — no user-id exchange") {
    val p = plan(OlapQueries.q159AudienceOverlap(spark, sf))
    p should include("partial_bit_or") // masks collapse map-side
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // the pairwise join carries 64-user words, never (type, user) rows
    p should not include "hashpartitioning(user_id"
  }

  test("q156 delta attribution: the two-period range is pushed to the scan; one pass over orders") {
    val p = plan(OlapQueries.q156DeltaAttribution(spark, sf))
    (p should include).regex(
      """PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate.*LessThan\(o_orderdate""")
    // both periods aggregate in one pass — exactly one orders scan
    """orders\.parquet""".r.findAllMatchIn(p).length shouldBe 2 // slice agg + 1-row total
    p should not include "SortMergeJoin"
  }

  test("q153 IVM join: steady state reads K-row state; delta terms broadcast — base never sort-merge-joins") {
    val p = plan(ScaleQueries.q153IvmJoin(spark, sf))
    // the maintained view arrives as the materialized state layout
    p should include("graft_ivm_state")
    // every delta term builds on the broadcast batch side; the base scans
    // stream into BroadcastHashJoins — a SortMergeJoin would mean a base
    // table paid a join exchange in the steady state
    p should not include "SortMergeJoin"
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("q173 grain cascade: week and month aggregate the persisted daily state — the read plan never touches events") {
    val p = plan(ScaleQueries.q173GrainCascade(spark, sf))
    // every grain subtree reads the K-row daily state layout...
    p should include("graft_daily_state")
    // ...and the corpus scan exists only in the (already-executed)
    // write-once build job, not in the steady-state read plan
    p should not include "events.parquet"
  }

  test("q177 quantile normalization: the rank→value lookup probes a broadcast histogram — corpus rows never join by shuffle") {
    val p = plan(SampleQueries.q177QuantileNorm(spark, sf))
    // the range lookup (k BETWEEN cumlo AND cumhi) streams corpus rows
    // against the broadcast NDV-sized histogram — the q23 declared shape
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
    // the only per-row sorts are the per-source rank windows (hash
    // partitioned); no corpus-wide rangepartitioning exchange exists
    p should not include "rangepartitioning"
  }

  test("q168 histogram percentiles: corpus collapses map-side to the histogram — no corpus range sort anywhere") {
    val p = plan(SampleQueries.q168HistogramPercentiles(spark, sf))
    // the first aggregate (lang, wc) → count partial-aggregates before its
    // exchange, so the shuffle carries histogram rows, never documents
    p should include("partial_count")
    // the window's sort is a local sort over NDV rows after a hash
    // exchange; a rangepartitioning exchange would mean a global sort of
    // corpus rows snuck in
    p should not include "rangepartitioning"
  }

  test("q167 sketch algebra: pairwise work runs on sketch state — masks partial-aggregate map-side, no cartesian") {
    val p = plan(OlapQueries.q167SketchAlgebra(spark, sf))
    // the bitmap build collapses map-side (bit_or partials), so the word
    // exchange carries ≤ m/63 mask rows per type — never events
    p should include("partial_bit_or")
    // the word self-join and every pair merge are keyed joins on state
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("q178 BFS: every frontier and visited set joins by broadcast — the edge list never sort-merges") {
    // round shape pinned on the fragment (per-round lineage is cut — see
    // the q200 pin); the final plan keeps the negative pins
    val round = plan(bfsRoundFragment(keyed = false))
    round should include("BroadcastHashJoin")
    round should not include "SortMergeJoin"
    round should not include "CartesianProduct"
    val p = plan(GraphQueries.q178BfsKhop(spark, sf))
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("q179 correlation matrix: all 15 moments come from ONE lineitem scan, partial-aggregated map-side") {
    val p = plan(OlapQueries.q179CorrMatrix(spark, sf))
    // formatted explain lists each node once in the tree and once in the
    // detail section — count the numbered detail entries
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p).size shouldBe 1
    p should include("partial_") // moment sums collapse before the exchange
    p should not include "SortMergeJoin" // no join exists at all
  }

  test("q182 RANGE frame: events collapse map-side to daily sums; both frames share ONE Window over daily rows") {
    val p = plan(WindowQueries.q182RangeFrame(spark, sf))
    p should include("partial_sum") // daily collapse before any exchange
    // all three framed aggregates (RANGE sum/count, ROWS sum) share one
    // (event_type) partition + eday sort: exactly one Window node, and
    // every exchange after the scan carries daily rows, never events —
    // both are hash exchanges (a rangepartitioning would mean a global
    // sort of events snuck in)
    """\(\d+\) Window""".r.findAllMatchIn(p).size shouldBe 1
    p should not include "rangepartitioning"
  }

  test("q183 moment shape: all five power sums come from ONE events scan, partial-aggregated map-side") {
    val p = plan(OlapQueries.q183MomentShape(spark, sf))
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p).size shouldBe 1
    p should include("partial_")
    p should include("PushedFilters: [IsNotNull(value)]")
  }

  test("q184 RAKE: the top-5 rank filter pushes into WindowGroupLimit; all joins keyed") {
    val p = plan(TextQueries.q184RakeKeywords(spark, sf))
    p should include("WindowGroupLimit")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("q185 feature hashing: no vocabulary side input exists — one scan, no join, partial-aggregated triples") {
    val p = plan(TextQueries.q185FeatureHashing(spark, sf))
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p).size shouldBe 1
    p should include("partial_count")
    """\(\d+\) \w*Join""".r.findAllMatchIn(p) shouldBe empty // hash ⇒ no fit pass
  }

  test("q186 winsorize: thresholds broadcast back onto the histogram — the corpus is never rescanned for the clip") {
    val p = plan(OlapQueries.q186Winsorize(spark, sf))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "rangepartitioning"
  }

  test("q187 negative sampling: draws probe the broadcast CDF intervals — no keyed exchange on the draw side") {
    val p = plan(RetrievalQueries.q187NegativeSampling(spark, sf))
    // the interval resolve (u BETWEEN cumlo AND cumhi) is the q177
    // broadcast-probe shape
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
    p should not include "SortMergeJoin"
  }

  test("q188 CUPED: one events scan; user and arm moments partial-aggregate; no join exists") {
    val p = plan(OlapQueries.q188Cuped(spark, sf))
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p).size shouldBe 1
    p should include("partial_")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("q189 log-histogram: the est/exact reconcile joins broadcast; no sort-merge join, no cartesian") {
    val p = plan(OlapQueries.q189LogHistogram(spark, sf))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
  }

  test("q190 federated join: parquet dims broadcast onto the CSV fact — the CSV side never shuffles before its partial agg") {
    val p = plan(IngestQueries.q190FederatedJoin(spark, sf))
    p should include("Scan csv")
    p should include("Scan parquet")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should include("partial_count")
  }

  test("q181 Gini: the segment dim broadcasts onto per-customer sums; no sort-merge join anywhere") {
    val p = plan(OlapQueries.q181Gini(spark, sf))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    // the ordered prefix walk runs over collapsed histogram rows — its
    // sort is the in-partition window sort, never a range repartition of
    // order rows
    p should not include "rangepartitioning"
  }

  test("q192 sweep: the global running sum never funnels to one partition — day-bucketed windows plus a broadcast offset join") {
    val p = plan(SequenceQueries.q192PeakConcurrency(spark, sf))
    // grouped scan: every window partitions by (event_type, bucket) or
    // (event_type) — a degenerate unpartitioned window would print
    // SinglePartition
    p should not include "SinglePartition"
    p should not include "SortMergeJoin"
    p should include("BroadcastHashJoin") // bucket offsets join back broadcast
    p should include("partial_sum")       // bucket totals collapse map-side
  }

  test("q196 audit: the ONLY single-partition frame holds bucket summaries (post-aggregation), never event rows") {
    val p = plan(SequenceQueries.q196WatermarkAudit(spark, sf))
    "Arguments: SinglePartition".r.findAllMatchIn(p).length shouldBe 1
    // the single-partition exchange's input is the (bucket, total) summary
    // produced by the partial max — 2 columns of bucket metadata
    val idx = p.indexOf("Arguments: SinglePartition")
    val before = p.substring((idx - 400).max(0), idx)
    before should include("_pst") // bucket-total column, not raw rows
    p should include("partial_max")
  }

  test("q193 coverage: both windows and both aggregations share ONE user_id exchange") {
    val p = plan(SequenceQueries.q193IntervalCoverage(spark, sf))
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    (p should include).regex("""hashpartitioning\(user_id#\d+L""")
  }

  test("q194 balance: the non-associative fold is a sorted-group stream — one exchange, in-partition sort, no array materialization") {
    val p = plan(SequenceQueries.q194ClampedBalance(spark, sf))
    p should include("MapGroups")
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 1
    """\(\d+\) Sort""".r.findAllMatchIn(p).length shouldBe 1
    p should not include "collect_list" // the group streams, never buffers
    p should not include "Window"
  }

  test("q197 KMV: the sketch is a bounded partial-aggregating buffer — map-side partial + merge phases, never a rank window") {
    val p = plan(OlapQueries.q197KmvSketch(spark, sf))
    p should include("graft.functions.KmvAgg") // the typed bounded buffer
    (p should include).regex("""partial_\(h#\d+L, graft\.functions\.KmvAgg""")
    // the window-rank formulation (shuffle every distinct hash, rank, cut
    // at k) is exactly what this operator must NOT be
    p should not include "Window"
  }

  test("q198 split finding: bins travel, rows don't — histogram partial-agg, both prefix windows share one segment exchange") {
    val p = plan(OlapQueries.q198SplitFinding(spark, sf))
    """\(\d+\) Exchange""".r.findAllMatchIn(p).length shouldBe 2
    p should include("partial_count") // (segment, cents) histogram combines map-side
    """\(\d+\) Window""".r.findAllMatchIn(p).length shouldBe 2 // cumulative + totals
    p should not include "SortMergeJoin"
  }

  test("q199 Gram: one cell exchange of 2080 cells — the outer product is an in-scan generator, never a self-join") {
    val p = plan(ClusterQueries.q199GramMatrix(spark, sf))
    // one aggregation exchange of 2080 cells, plus (at most) the
    // layout-adaptive compute rebalance of the raw vectors — an explicit
    // REPARTITION_BY_NUM that fires only when the input's row groups
    // under-parallelize the session (always, at this test's one-file
    // input; never at cluster-scale inputs)
    val exchanges = """\(\d+\) Exchange""".r.findAllMatchIn(p).length
    exchanges should be <= 2
    if (exchanges == 2) p should include("REPARTITION_BY_NUM")
    p should include("partial_sum") // cells collapse map-side
    p should include("Generate")    // the in-row pair generator
    p should not include "Join"     // no self-join formulation
  }

  test("q191 components: every contraction half-step is keyed work — no cartesian, no nested loop, no range sort") {
    // plan of ONE large-star + small-star round over the chain edges (the
    // loop repeats this fragment; localCheckpoint cuts lineage between)
    import org.apache.spark.sql.functions.{col, lead}
    import org.apache.spark.sql.expressions.Window
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val chain = ord.withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("o_orderkey").as("src"), col("nxt").as("dst"))
    val p = plan(operators.Graph.oneRound(chain))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "rangepartitioning"
  }

  test("q191 round: exchange diet — exactly 3 shuffles per contraction round") {
    // The loop's real per-round fragment: input localCheckpointed (as the
    // loop always feeds it), executed so AQE reuse is what actually ran.
    // Budget: 2 half-step min-aggregation exchanges + 1 round-exit distinct.
    // The large-star half's own distinct was deleted (round-12 exchange
    // diet — its duplicates are absorbed by small-star's min and the exit
    // distinct); a fourth shuffle reappearing means that dedup crept back,
    // or a half-step stopped reusing its aggregation exchange.
    import org.apache.spark.sql.functions.{col, lead}
    import org.apache.spark.sql.expressions.Window
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val chain = ord.withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("o_orderkey").as("src"), col("nxt").as("dst"))
      .localCheckpoint(true)
    val round = operators.Graph.oneRound(chain)
    round.queryExecution.toRdd.foreach(_ => ())
    Metrics.shuffles(round.queryExecution.executedPlan) should have size 3
  }

  test("q236 listagg: pre-distinct collapses map-side and the nation dim broadcasts") {
    val p = plan(Queries.q236ListaggRoster(spark, sf))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    // the pre-distinct is its OWN two-stage aggregate on the full key pair
    // (Functions: [] = pure dedup) — asserting on `partial_` alone would be
    // satisfied by the outer listagg's partial even with the distinct gone
    """Keys \[2\]: \[c_nationkey#\d+, c_mktsegment#\d+\]""".r
      .findAllMatchIn(p).size should be >= 2 // partial + final dedup stages
    p should include("Functions: []")
  }

  test("q237 ORC: column pruning and filter pushdown reach the ORC scan") {
    // the format must be a first-class scan, not a decode-then-filter:
    // a downstream projection+predicate lands IN the scan node exactly as
    // it does for parquet (ORC stripe stats serve the pushed filter)
    import org.apache.spark.sql.functions.col
    val df = IngestQueries.q237OrcScan(spark, sf)
      .filter(col("o_totalprice") > 1000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val p = plan(df)
    p should include("Scan orc")
    p should include("GreaterThan(o_totalprice,1000.0)")
    p should include("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>")
  }

  test("q232 VARIANT scan: a pure map pass — one line parse, path probes, zero exchanges") {
    val p = plan(IngestQueries.q232VariantScan(spark, sf))
    p should not include "Exchange"
    p should not include "Join"
    // exactly one text scan feeds everything (counted as the numbered
    // detail entry — formatted explain also names the node in the tree);
    // the k path extractions probe the SAME parsed variant, never re-scan
    """\(\d+\) Scan text""".r.findAllMatchIn(p) should have size 1
  }

  test("q234 payload drift: per-line key fanout collapses map-side — one tiny keyed exchange, no join") {
    val p = plan(IngestQueries.q234PayloadDrift(spark, sf))
    p should include("partial_count") // map-side combine under the explode
    """Arguments: hashpartitioning""".r.findAllMatchIn(p) should have size 1
    p should not include "Join"
  }

  test("q233 observe audit: metrics ride the production aggregate — one scan, CollectMetrics in-plan, no second job") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // the plan the query's single action executes (the query itself
    // collects; rebuild the same audited aggregate here to read its plan)
    val obs = org.apache.spark.sql.Observation()
    val audited = Tables.lineitem(spark, sf).observe(obs,
      count(lit(1)).as("rows_scanned"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("bad_qty_rows"))
    val prod = audited.groupBy(col("l_returnflag")).agg(
      sum(col("l_quantity").cast(DecimalType(14, 2)))
        .cast(DoubleType).as("sum_qty"))
    val p = plan(prod)
    p should include("CollectMetrics")
    """\(\d+\) Scan parquet""".r.findAllMatchIn(p) should have size 1
  }

  test("q240 Q21-shape: both correlated subqueries decorrelate to keyed semi/anti joins — no nested loop, no cartesian, and the top-k never globally sorts") {
    val p = plan(OlapQueries.q240SoleFaultSupplier(spark, sf))
    p should include("LeftSemi")
    p should include("LeftAnti")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    p should include("TakeOrderedAndProject")
  }

  test("q242 CBO: the join ORDER is provably stats-driven — the DP reorderer joins the 1-row filtered dim first, the written order stands without stats") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val tables = ScaleQueries.q242Tables(spark, sf)
    // the innermost (first-executed) join's base relations, read
    // STRUCTURALLY off the optimized logical plan — a textual pin would
    // couple to indentation
    def leafJoinTables(df: DataFrame): Set[String] = {
      val leafJoins = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.collect { case jj: Join => jj }.size == 1 => j
      }
      leafJoins should have size 1
      leafJoins.head.collect {
        case r: LogicalRelation =>
          r.catalogTable.map(_.identifier.table).getOrElse("")
      }.toSet
    }
    val on = ScaleQueries.withReorderConf(spark, on = true) {
      leafJoinTables(ScaleQueries.q242Join(spark, tables))
    }
    val off = ScaleQueries.withReorderConf(spark, on = false) {
      leafJoinTables(ScaleQueries.q242Join(spark, tables))
    }
    on shouldBe Set(tables._2, tables._3)  // customer ⋈ filtered nation first
    off shouldBe Set(tables._1, tables._2) // the written order: fact first
  }

  test("q243 runtime filter: InjectRuntimeFilter plants a bloom_filter_agg subquery and a might_contain predicate on the fact scan — and only when enabled") {
    // The rewrite is OPTIMIZER-time plan surgery, so the pin reads the
    // optimized logical plan. Physical corroboration: the formatted plan's
    // lineitem scan carries the might_contain in its Filter, i.e. the fact
    // rows die before the join exchange, not after.
    val on = ScaleQueries.withRuntimeFilterConf(spark, on = true) {
      val df = ScaleQueries.q243Join(spark, sf)
      val o = df.queryExecution.optimizedPlan.toString
      o should include("bloom_filter_agg")
      o should include("might_contain")
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    }
    // the predicate sits on the SCAN side of the exchange: the formatted
    // detail for the lineitem-side Filter mentions might_contain
    on should include("might_contain")
    on should include("Exchange")
    ScaleQueries.withRuntimeFilterConf(spark, on = false) {
      val o = ScaleQueries.q243Join(spark, sf)
        .queryExecution.optimizedPlan.toString
      o should not include "bloom_filter_agg"
      o should not include "might_contain"
    }
  }

  /** Shared MV-pin helper: logical toString omits scan locations, so read
    * join count + relation root paths structurally off the optimized plan. */
  private def mvJoinsAndScans(df: DataFrame): (Int, Seq[String]) = {
    val plan = df.queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    val scans = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    (joins, scans)
  }

  test("q245/q246 MV rewrite: registered, the aggregate scans the summary and never the corpus; unregistered, the corpus — and the served answers are row-identical") {
    val mvd = ScaleQueries.q245MvDef(spark, sf)
    def scanPaths(df: DataFrame): Seq[String] = mvJoinsAndScans(df)._2
    // registered: both grains swap to the MV scan — the corpus parquet
    // appears nowhere in the optimized plan
    graft.plans.MvCatalog.withMv(spark, mvd) {
      val own = scanPaths(ScaleQueries.q245Direct(spark, sf))
      own.exists(_.contains("graft_docs_mv_")) shouldBe true
      own.exists(_.contains("documents.parquet")) shouldBe false
      val coarser = scanPaths(ScaleQueries.q246Direct(spark, sf))
      coarser.exists(_.contains("graft_docs_mv_")) shouldBe true
      coarser.exists(_.contains("documents.parquet")) shouldBe false
      graft.plans.MvCatalog.defs(spark) should have size 1
    }
    // unregistered: the same builder scans the corpus
    val off = scanPaths(ScaleQueries.q245Direct(spark, sf))
    off.exists(_.contains("documents.parquet")) shouldBe true
    off.exists(_.contains("graft_docs_mv_")) shouldBe false
    graft.plans.MvCatalog.withMv(spark, mvd) {
      // q247: a grain-column predicate strips with the scan and re-applies
      // to the summary
      val filtered = scanPaths(ScaleQueries.q247Direct(spark, sf))
      filtered.exists(_.contains("graft_docs_mv_")) shouldBe true
      filtered.exists(_.contains("documents.parquet")) shouldBe false
      // negative control: a NON-grain predicate (n_chars) cannot select
      // whole groups — the query must stay on the raw scan
      val nonGrain = scanPaths(
        graft.Tables.documents(spark, sf)
          .filter(org.apache.spark.sql.functions.col("n_chars") > 100)
          .groupBy(org.apache.spark.sql.functions.col("lang"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")))
      nonGrain.exists(_.contains("documents.parquet")) shouldBe true
      nonGrain.exists(_.contains("graft_docs_mv_")) shouldBe false
      // negative control: DISTINCT aggregates are not mergeable from
      // counts — raw scan
      val distinctAgg = scanPaths(
        graft.Tables.documents(spark, sf)
          .groupBy(org.apache.spark.sql.functions.col("lang"))
          .agg(org.apache.spark.sql.functions.countDistinct(
            org.apache.spark.sql.functions.col("source")).as("n_sources")))
      distinctAgg.exists(_.contains("documents.parquet")) shouldBe true
      distinctAgg.exists(_.contains("graft_docs_mv_")) shouldBe false
      // negative control: a MULTI-ROOT relation that INCLUDES the
      // registered path scans the union of its roots — serving it from
      // the single-path MV would silently drop the extra root's rows.
      // Source matching requires exact root-path-set equality.
      val extra = java.nio.file.Files
        .createTempDirectory("graft-mv-multiroot").toString
      graft.Tables.documents(spark, sf).limit(7)
        .write.mode("overwrite").parquet(extra)
      val docsPath = java.nio.file.Paths.get(sf, "documents.parquet")
        .toAbsolutePath.normalize.toString
      val multiRoot = scanPaths(
        spark.read.parquet(docsPath, extra)
          .groupBy(org.apache.spark.sql.functions.col("lang"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")))
      multiRoot.exists(_.contains("documents.parquet")) shouldBe true
      multiRoot.exists(_.contains("graft_docs_mv_")) shouldBe false
    }
    val direct246 = ScaleQueries.q246Direct(spark, sf).collect().toSet
    val served246 = graft.plans.MvCatalog.withMv(spark, mvd) {
      ScaleQueries.q246Direct(spark, sf).collect().toSet
    }
    served246 shouldBe direct246
  }

  test("q249 join-aggregate MV: the star join VANISHES — served plan has no Join node and scans only the summary; unregistered, the raw two-scan join") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val mvd = ScaleQueries.q249MvDef(spark, sf)
    def joinsAndScans(df: DataFrame): (Int, Seq[String]) = mvJoinsAndScans(df)
    graft.plans.MvCatalog.withMv(spark, mvd) {
      val (joins, scans) = joinsAndScans(ScaleQueries.q249Direct(spark, sf))
      joins shouldBe 0
      scans.exists(_.contains("graft_ord_cust_mv_")) shouldBe true
      scans.exists(_.contains("orders.parquet")) shouldBe false
      scans.exists(_.contains("customer.parquet")) shouldBe false
      // and the served rows are identical to the raw join's
      val served = ScaleQueries.q249Direct(spark, sf).collect().toSet
      served should not be empty
      served
    } shouldBe ScaleQueries.q249Direct(spark, sf).collect().toSet
    val (joinsOff, scansOff) = joinsAndScans(ScaleQueries.q249Direct(spark, sf))
    joinsOff shouldBe 1
    scansOff.exists(_.contains("orders.parquet")) shouldBe true
    scansOff.exists(_.contains("customer.parquet")) shouldBe true
    scansOff.exists(_.contains("graft_ord_cust_mv_")) shouldBe false
    // negative controls — both would return WRONG answers if served:
    graft.plans.MvCatalog.withMv(spark, mvd) {
      import org.apache.spark.sql.functions.{col, count, lit}
      // a LEFT join keeps unmatched fact rows the inner-join MV never saw
      val left = joinsAndScans(
        graft.Tables.orders(spark, sf)
          .join(graft.Tables.customer(spark, sf),
            col("o_custkey") === col("c_custkey"), "left_outer")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n")))
      left._1 shouldBe 1
      left._2.exists(_.contains("graft_ord_cust_mv_")) shouldBe false
      // a fact-side non-grain predicate selects PARTIAL groups
      val nonGrain = joinsAndScans(
        graft.Tables.orders(spark, sf)
          .join(graft.Tables.customer(spark, sf),
            col("o_custkey") === col("c_custkey"))
          .filter(col("o_totalprice") > 1000.0)
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n")))
      nonGrain._1 shouldBe 1
      nonGrain._2.exists(_.contains("graft_ord_cust_mv_")) shouldBe false
    }
  }

  test("MV rewrite float guard: a registered double-sum measure DECLINES (re-merge changes addition order) while count over the same MV serves") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import graft.plans.MvCatalog._
    val mv = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt_rows"), sum(col("l_quantity")).as("sum_qty"))
    val lay = graft.operators.Scale.writeOnce(mv, "graft_li_mv_guard",
      graft.operators.Scale.dirFingerprint(s"$sf/lineitem.parquet"))
    val rel = lay.read(spark).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.get
    val mvd = MvDef(
      ScanSource(java.nio.file.Paths.get(sf, "lineitem.parquet")
        .toAbsolutePath.normalize.toString),
      Set("l_returnflag"),
      Map("cnt_rows" -> CntRows, "sum_qty" -> SumOf("l_quantity")),
      rel)
    withMv(spark, mvd) {
      // positive control: the count-only aggregate serves from the MV
      val counts = mvJoinsAndScans(
        Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n")))._2
      counts.exists(_.contains("graft_li_mv_guard")) shouldBe true
      // the double sum must DECLINE even though the measure is registered
      // and type-stable (Double == Double): per-group re-merge changes
      // the addition order
      val sums = mvJoinsAndScans(
        Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity")).as("qty")))._2
      sums.exists(_.contains("lineitem.parquet")) shouldBe true
      sums.exists(_.contains("graft_li_mv_guard")) shouldBe false
    }
  }

  test("q256 native as-of join: AsofJoin node, two exchanges, two sorts — and its partitioning/ordering survive for downstream consumers") {
    import org.apache.spark.sql.functions.{col, count, lit, row_number}
    val df = WindowQueries.q256AsofNative(spark, sf)
    val p = plan(df)
    p should include("AsofJoin")
    p should not include "SortMergeJoin"
    p should not include "BroadcastHashJoin"
    p should not include "Window" // the whole point vs the q50 formulation
    // two exchanges total: the purchase side's ENSURE_REQUIREMENTS hash
    // and the click side's explicit repartition that serves BOTH the
    // dedupe aggregate and the as-of (a (user, ts) agg hash would make
    // three)
    """Arguments: hashpartitioning""".r.findAllIn(p).size shouldBe 2
    """\(\d+\) Sort\b""".r.findAllIn(p).size shouldBe 2
    // outputPartitioning is advertised: a same-key aggregate on top adds
    // NO third exchange
    val agg = plan(df.groupBy(col("user_id")).agg(count(lit(1)).as("n")))
    """Arguments: hashpartitioning""".r.findAllIn(agg).size shouldBe 2
    // outputOrdering is advertised: a same-key window ordered by the
    // as-of time adds NO third sort
    val win = plan(df.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("purchase_ts")))))
    """\(\d+\) Sort\b""".r.findAllIn(win).size shouldBe 2
    """Arguments: hashpartitioning""".r.findAllIn(win).size shouldBe 2
  }

  test("q250 recursive CTE: the WITH RECURSIVE ancestry walk plans as Catalyst's UnionLoop fixpoint") {
    val df = GraphQueries.q250RecursiveCte(spark, sf)
    val o = df.queryExecution.optimizedPlan.toString
    o should include("UnionLoop")
    // the walk is explosion-free by construction: rows = Σ depths, and
    // max depth is ⌈log2(maxKey)⌉
    val rows = df.collect()
    rows should not be empty
    val maxKey = rows.map(_.getLong(0)).max
    val maxDepth = rows.map(_.getInt(2)).max
    maxDepth shouldBe (63 - java.lang.Long.numberOfLeadingZeros(maxKey))
  }

  test("q248 cache reuse: both consumers resolve to InMemoryRelation through the cache manager; uncached, neither does") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    def legs(cached: Boolean): Seq[String] = {
      val perLang = Tables.documents(spark, sf)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      val p = if (cached) perLang.cache() else perLang
      try {
        Seq(
          p.select(col("lang"), col("n_docs")),
          p.agg(sum(col("n_docs")).as("n_docs"))
        ).map(_.queryExecution.optimizedPlan.toString)
      } finally if (cached) { p.unpersist(); () }
    }
    val cachedPlans = legs(cached = true)
    cachedPlans.foreach(_ should include("InMemoryRelation"))
    val uncachedPlans = legs(cached = false)
    uncachedPlans.foreach(_ should not include "InMemoryRelation")
  }

  test("q244 AQE skew join: the executed SortMergeJoin is tagged skew=true with the feature on, untagged with it off — same inputs, same thresholds") {
    // The decision is RUNTIME (map-output statistics), so the pin reads
    // the final adaptive plan AFTER execution — an un-executed
    // AdaptiveSparkPlan has no stats and no skew handling to show.
    val (base, dim) = ScaleQueries.q244Inputs(spark, sf)
    def executedPlanOf(on: Boolean): String =
      ScaleQueries.withSkewConf(spark, on) {
        val df = ScaleQueries.q244Join(base, dim)
        df.collect()
        df.queryExecution.executedPlan.toString
      }
    val on = executedPlanOf(true)
    on should include("skew=true")
    on should include("SortMergeJoin")
    val off = executedPlanOf(false)
    off should not include "skew=true"
    off should include("SortMergeJoin")
  }

  test("q239 CBO: the broadcast decision is provably stats-driven — same query, same threshold, plan flips with cbo.enabled") {
    // Static (pre-AQE) physical plans, because the STATIC decision is the
    // one that matters at scale: AQE can only convert SMJ→BHJ after the
    // fact side's shuffle map stage has been written. The threshold is
    // HALF the analyzed dim's catalog totalSize in both runs — the flip
    // can only come from FilterEstimation consuming the ANALYZE column
    // stats (selectivity 1/ndv below table granularity), i.e. from
    // statistics, not from a knob smuggling in a different byte budget.
    val dim = ScaleQueries.q239DimTable(spark, sf)
    val thr = operators.Scale.tableSizeInBytes(spark, dim) / 2
    val pOn = ScaleQueries.withCboConf(spark, on = true, thr) {
      ScaleQueries.q239Agg(spark, sf, dim).queryExecution.sparkPlan.toString
    }
    val pOff = ScaleQueries.withCboConf(spark, on = false, thr) {
      ScaleQueries.q239Agg(spark, sf, dim).queryExecution.sparkPlan.toString
    }
    pOn should include("BroadcastHashJoin")
    pOn should not include "SortMergeJoin"
    pOff should include("SortMergeJoin")
    pOff should not include "BroadcastHashJoin"
  }

  test("q274: the catalog dim's CONNECTOR-reported statistics choose the broadcast — the parquet fact never shuffles for the join") {
    val df = IngestQueries.q274CatalogFederated(spark, sf)
    val p = plan(df)
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    // the broadcast side is the catalog scan (manifest statistics: 25
    // rows), visible as the graft_cat relation under the exchange
    p should include("graft_cat")
    // the fact side's only exchange is the aggregation's, never a join
    // shuffle: one hashpartitioning exchange in the whole plan
    "Arguments: hashpartitioning".r.findAllIn(p).size shouldBe 1
  }

  test("spreadForCompute: rebalances an under-parallel scan to core width, NO-OP at ≥ core-count input partitions") {
    import org.apache.spark.sql.functions.col
    val target = spark.sparkContext.defaultParallelism
    val narrow = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
    assume(narrow.rdd.getNumPartitions < target) // one-row-group test input
    val spread = Tables.spreadForCompute(narrow, col("l_orderkey"))
    spread.rdd.getNumPartitions shouldBe target
    plan(spread) should include("REPARTITION_BY_NUM")
    // already-parallel input (the cluster-scale case): returned UNCHANGED —
    // zero extra exchanges, the in-scan shape survives
    val wide = narrow.repartition(target + 1, col("l_orderkey"))
    Tables.spreadForCompute(wide, col("l_orderkey")) should be theSameInstanceAs wide
  }
}
