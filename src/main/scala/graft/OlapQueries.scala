package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Classic OLAP surface beyond the reference's own queries: multi-level
  * rollup aggregation, pivot (columnar cross-tab), and semi-structured
  * JSON-column extraction. All are single-aggregation plans whose heavy
  * stage collapses map-side; the pivot's column set is a FIXED literal
  * list (never inferred from data — an inferred pivot is a driver-side
  * distinct scan of the corpus).
  */
object OlapQueries {
  import Queries.Q

  /** q154: bitmap-index distinct counting — COUNT(DISTINCT user) per
    * (event_type, period) computed as dense integer BITMAPS instead of a
    * user-keyed distinct: each user owns bit (user_id mod 64) of word
    * (user_id div 64); per group the words OR-merge (bit_or — an
    * associative, commutative, idempotent aggregate that partial-aggregates
    * map-side), and the distinct count is the sum of popcounts. This is
    * the pattern behind roaring-bitmap OLAP engines (Druid, ClickHouse,
    * Kylin): COUNT(DISTINCT) must move every (group, user) pair through
    * the exchange exactly because counting isn't mergeable — bitmap words
    * ARE mergeable, so up to 64 users collapse into one 8-byte row before
    * the shuffle, re-aggregate across grains without re-scanning
    * (OperationalSpec pins weekly = OR of dailies), and distribute over
    * any partitioning.
    *
    * Both day and week grains come from ONE scan: the grain pair explodes
    * in-row (generator, not a shuffle), so the single exchange carries
    * (type, grain, period, word) partial masks. The oracle is the direct
    * COUNT(DISTINCT) — the bitmap machinery must be invisible to results.
    *
    * Scale shape: exchange rows ≤ groups × ceil(|user space|/64), vs
    * groups × |users| for expand-based distinct; the bitmap is exact (no
    * HLL error bar) while staying mergeable like a sketch. Sparse user
    * spaces cost one word per 64-id stride actually occupied (absent
    * words are simply never emitted). */
  /** The q154 mask state builder — also the streaming twin: a single
    * streaming aggregation whose per-group state is the OR-mask words
    * (bit_or folds each micro-batch's masks into state), so a
    * Complete-mode stream's mask table equals the batch one under any
    * feed chopping (StreamingSpec); counts are a read-time popcount
    * rollup over the masks, exactly like q103's read-time avg. */
  private[graft] def bitmapMasks(ev: org.apache.spark.sql.DataFrame) =
    ev.select(col("event_type"), col("user_id"),
        // periods stay TIMESTAMP (midnight), not DATE: the driver's gate
        // reprs Spark DATE values as python objects while DuckDB dates
        // normalize to datetime64 — a type-level hash trap, not semantics
        explode(array(
          struct(lit("day").as("grain"),
            date_trunc("day", col("ts")).as("period")),
          struct(lit("week").as("grain"),
            date_trunc("week", col("ts")).as("period")))).as("g"))
      .select(col("event_type"), col("g.grain").as("grain"),
        col("g.period").as("period"),
        shiftright(col("user_id"), 6).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").as("m"))
      .groupBy(col("event_type"), col("grain"), col("period"), col("word"))
      .agg(expr("bit_or(m)").as("mask"))

  private[graft] def bitmapCounts(masks: org.apache.spark.sql.DataFrame) =
    masks.groupBy(col("event_type"), col("grain"), col("period"))
      .agg(sum(bit_count(col("mask")).cast(LongType)).as("n_users"))

  val q154BitmapDistinct: Q = (s, d) =>
    bitmapCounts(bitmapMasks(Tables.events(s, d)))

  /** q155: frequent-pair co-occurrence mining (the association-rule /
    * market-basket classic): which part pairs appear in the same order
    * more often than chance, with exact support counts and the lift ratio
    * lift(a,b) = N·sup(ab) / (sup(a)·sup(b)). The apriori prune sits in
    * the plan where it belongs — only items with support ≥ [[FP_MINSUP]]
    * enter pair generation (lossless: a frequent pair's items are each at
    * least as frequent; on data where item frequency is zipf-skewed this
    * is THE cost lever, and the unconstrained oracle proves it drops no
    * qualifying pair).
    *
    * Scale shape: pair generation is IN-ROW — each basket's sorted item
    * array expands to its a<b pairs via nested `transform` (a generator,
    * not a self-join), so candidate volume is Σ(basket²) bounded by the
    * schema's basket size (≤ 13 parts here), never |items|². The
    * canonical anti-pattern this query exists to displace is the
    * (order, part) ⋈ (order, part) self-join, whose skew on a hot order
    * is quadratic and unsalvageable. One distinct exchange, one basket
    * collect, one pair-count exchange; the item-support table broadcasts
    * for the lift join; N arrives as a 1-row broadcast. */
  private val FP_MINSUP = 2

  private def distinctOrderParts(s: org.apache.spark.sql.SparkSession, d: String) =
    // Measured (r18 opt, re-measured r19 after the basket rebalance):
    // rebalancing this scan before the distinct moves a raw-row exchange
    // into EVERY consuming subtree and still lost ~0.1-0.2 s vs the
    // in-scan partial collapse — left in the original in-scan shape.
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()

  /** The qualifying co-occurrence edges (part_a < part_b, support ≥
    * [[FP_MINSUP]]) — q155's mining output and q157's input graph. */
  private[graft] def partPairSupports(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    partPairSupportsFrom(distinctOrderParts(s, d))

  /** [[partPairSupports]] over a caller-supplied distinct (order, part)
    * table — so q155 can materialize that table ONCE and share it with its
    * support/total subtrees instead of rebuilding the distinct per use. */
  private def partPairSupportsFrom(t: org.apache.spark.sql.DataFrame) = {
    val freq = t.groupBy(col("l_partkey")).agg(count(lit(1)).as("s"))
      .filter(col("s") >= FP_MINSUP)
    t.join(broadcast(freq.select(col("l_partkey"))), "l_partkey")
      // Explicit-width basket exchange (r19 opt, guide §2.2/§2.5): the
      // basket collect + in-row pair generation + partial pair count all
      // run in the stage AFTER this exchange, and they are CPU-dense on
      // few bytes — AQE's byte-based coalescing squeezed them to ~5-6
      // tasks (measured 0.8 s single stage at sf0.1/local[32]). An
      // explicit REPARTITION_BY_NUM keeps the full session width (AQE
      // honors user-fixed counts); the groupBy reuses this exchange, so
      // the exchange count is unchanged — only its width.
      .repartition(t.sparkSession.sessionState.conf.numShufflePartitions,
        col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("pa"), y.as("pb")))))).as("pr"))
      .groupBy(col("pr.pa").as("part_a"), col("pr.pb").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= FP_MINSUP)
  }

  val q155FrequentPairs: Q = (s, d) => {
    // Measured (r18 opt): checkpointing `t` for its multiple consumers was
    // a wash — runtime exchange reuse already deduplicates the identical
    // distinct subtrees within this single plan. Kept uncut.
    val t = distinctOrderParts(s, d)
    val isup = t.groupBy(col("l_partkey")).agg(count(lit(1)).as("s"))
    val pairs = partPairSupportsFrom(t)
    val n = t.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(isup.select(col("l_partkey").as("part_a"),
        col("s").as("support_a"))), "part_a")
      .join(broadcast(isup.select(col("l_partkey").as("part_b"),
        col("s").as("support_b"))), "part_b")
      .crossJoin(broadcast(n))
      .select(col("part_a"), col("part_b"), col("support"),
        col("support_a"), col("support_b"),
        ((col("support") * col("n_orders")).cast(DoubleType) /
          (col("support_a") * col("support_b")).cast(DoubleType)).as("lift"))
  }

  /** q157: triangle enumeration over the co-purchase graph — subgraph
    * counting, the canonical "graph analytics on a relational engine"
    * workload (community detection features, graph density audits,
    * recommendation signals): all part triples where each pair co-occurs
    * in ≥ [[FP_MINSUP]] orders (q155's edges as the graph).
    *
    * The algorithm is the degree-ordered orientation classic: orient every
    * undirected edge from its (degree, id)-smaller endpoint to the larger,
    * making the graph acyclic with out-degree O(√m); every triangle then has
    * EXACTLY one wedge u→v→w with a closing arc u→w, so one wedge join
    * plus one closing join enumerates each triangle once — no
    * deduplication pass, and the wedge blowup is bounded by Σ outdeg² ≤
    * O(m^1.5) instead of the naive Σ deg² that a hub vertex makes
    * quadratic. This is the join-ordering insight every distributed
    * triangle system (MPC model, GraphFrames' motif finding) is built on.
    *
    * The oracle is the straightforward id-ordered triple self-join —
    * orientation must be invisible to WHICH triangles exist.
    *
    * Scale shape: edges come from q155's bounded in-row generator; the
    * wedge and closing joins are keyed exchanges on vertex / arc keys;
    * degree attach is two keyed joins against a |V|-row aggregate. No
    * cartesian, no driver-side graph. */
  val q157TriangleCount: Q = (s, d) =>
    trianglesFromEdges(partPairSupports(s, d)
      .select(col("part_a"), col("part_b")))

  /** Degree-ordered triangle enumeration over an undirected (part_a,
    * part_b) edge list — q157's motif machinery, factored so q220 can run
    * it over an edge list it has already materialized (instead of
    * rebuilding the co-occurrence mining a second time). */
  private[graft] def trianglesFromEdges(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val deg = e.select(explode(array(col("part_a"), col("part_b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val arcs = e
      .join(deg.select(col("v").as("part_a"), col("dg").as("da")), "part_a")
      .join(deg.select(col("v").as("part_b"), col("dg").as("db")), "part_b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("part_a") < col("part_b")),
          struct(col("part_a").as("src"), col("part_b").as("dst")))
        .otherwise(
          struct(col("part_b").as("src"), col("part_a").as("dst"))).as("ar"))
      .select(col("ar.src").as("src"), col("ar.dst").as("dst"))
      // lazy checkpoint (r19 opt, guide §5): the oriented arc list feeds
      // THREE join sides (wedge e1/e2 + closing e3), each keyed on a
      // different column set — no exchange is shared between them, so the
      // uncut plan rebuilds the whole mining+orientation subtree three
      // times and the driver re-plans that tree per iteration. The first
      // wedge stage materializes the blocks; e2/e3 read them back.
      .localCheckpoint(false)
    val tri = arcs.as("e1")
      .join(arcs.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
      .join(arcs.as("e3"),
        col("u") === col("e3.src") && col("w") === col("e3.dst"))
    val sorted = array_sort(array(col("u"), col("v"), col("w")))
    tri.select(sorted.getItem(0).as("t1"), sorted.getItem(1).as("t2"),
      sorted.getItem(2).as("t3"))
  }

  /** q158: storage-encoding advisor — the physical-design complement to
    * q91's planner statistics: for each candidate column, the signals a
    * columnar writer's encoding chooser (Parquet dictionary fallback,
    * ClickHouse codecs, ORC dictionary checks) derives — row/null/distinct
    * counts, average value width, the value-distribution Shannon entropy
    * (the lower bound on bits/value any entropy coder can reach), the
    * dictionary index width ceil(log2(ndv)), and the resulting encoding
    * recommendation. Cardinality thresholds are exact integer comparisons;
    * the dictionary width comes from the BINARY-STRING length of ndv−1
    * (pure integer — no log2 float boundary at powers of two); entropy
    * takes the q75 discipline (per-value terms floor-quantized to
    * micro-bits, integer-summed → order-independent).
    *
    * Scale shape: each candidate is one value-keyed count aggregation
    * (collapsing map-side), a 1-row moment aggregate, and a per-value
    * entropy-term sum against the broadcast total — the q145 multi-
    * candidate union shape; cost per column ∝ its NDV after the map-side
    * collapse, the same bound ANALYZE pays. Doubles exist only inside the
    * per-term quantization; every gated number is an integer or a final
    * cast. */
  private val ENC_CANDS: Seq[(String, String)] = Seq(
    ("events", "event_type"), ("events", "user_id"),
    ("documents", "lang"), ("documents", "source"),
    ("orders", "o_orderstatus"), ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"), ("lineitem", "l_returnflag"),
    ("part", "p_brand"), ("part", "p_type"))

  val q158EncodingAdvisor: Q = (s, d) => {
    def table(n: String) = n match {
      case "events" => Tables.events(s, d)
      case "documents" => Tables.documents(s, d)
      case "orders" => Tables.orders(s, d)
      case "customer" => Tables.customer(s, d)
      case "lineitem" => Tables.lineitem(s, d)
      case "part" => Tables.part(s, d)
    }
    // ALL of a table's candidate columns profile in ONE scan: the in-row
    // (col_name, value) unpivot feeds a single (col_name, v) count
    // aggregation — the ANALYZE discipline; a per-column loop would scan
    // events/lineitem once per candidate.
    ENC_CANDS.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, cands) =>
      val cols = cands.map(_._2)
      val counts = table(t)
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"),
            col(c).cast(StringType).as("v"))): _*)).as("x"))
        .select(col("x.col_name").as("col_name"), col("x.v").as("v"))
        .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("c"))
      // per-row entropy terms need the column total n — a col_name-keyed
      // window puts it on the rows, and the following groupBy shares the
      // SAME partitioning, so the whole profile is one linear chain (one
      // scan, two stacked exchanges, no re-derived subtrees)
      val ratio = col("c").cast(DoubleType) / col("n").cast(DoubleType)
      counts
        .withColumn("n", sum(when(col("v").isNotNull, col("c")).otherwise(0L))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("col_name"))))
        .groupBy(col("col_name")).agg(
          max(col("n")).as("n"),
          sum(when(col("v").isNull, col("c")).otherwise(0L)).as("nnull"),
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("ndv"),
          sum(when(col("v").isNotNull,
            length(col("v")).cast(LongType) * col("c")).otherwise(0L)).as("sum_len"),
          sum(when(col("v").isNotNull,
            floor(lit(-1000000.0) * ratio * log(ratio) / log(lit(2.0)))
              .cast(LongType)).otherwise(0L)).as("entropy_micro"))
        .select(
          lit(t).as("tbl"), col("col_name"),
          col("n"), col("nnull"), col("ndv"),
          expr("(sum_len * 1000) div n").as("avg_len_milli"),
          col("entropy_micro"),
          when(col("ndv") <= 1, 0)
            .otherwise(length(bin(col("ndv") - 1))).as("dict_bits"),
          when(col("ndv") <= 256, "dict8")
            .when(col("ndv") * 100 <= col("n"), "dict")
            .otherwise("plain").as("encoding"))
    }.reduce(_ unionByName _)
  }

  /** q159: audience-overlap matrix — for every pair of event types, how
    * many distinct users did BOTH (the cross-segment Venn analysis behind
    * campaign planning and cannibalization checks), via q154's bitmap
    * words: per-type audience masks OR-build in one pass, the pairwise
    * intersection is a word-keyed mask join whose per-row work is
    * popcount(mask_a AND mask_b) — set intersection as 64-bit integer
    * arithmetic. Jaccard affinity comes from the exact integer overlap
    * and sizes with one final division.
    *
    * Scale shape: the naive form self-joins the distinct (type, user)
    * pairs on user_id — an exchange of |users|·|types| rows. The mask
    * join exchanges |users|/64·|types| words, a 64× compression of BOTH
    * the shuffle and the join's row count, and the intersection never
    * materializes user ids at all. Type pairs sharing zero words simply
    * never meet (same semantics as the oracle's inner join on common
    * users). */
  val q159AudienceOverlap: Q = (s, d) => {
    val masks = Tables.events(s, d)
      .select(col("event_type"), shiftright(col("user_id"), 6).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").as("m"))
      .groupBy(col("event_type"), col("word")).agg(expr("bit_or(m)").as("mask"))
    val sizes = masks.groupBy(col("event_type"))
      .agg(sum(bit_count(col("mask")).cast(LongType)).as("n"))
    masks.as("a").join(masks.as("b"),
        col("a.word") === col("b.word") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(sum(bit_count(col("a.mask").bitwiseAND(col("b.mask")))
        .cast(LongType)).as("overlap"))
      .filter(col("overlap") > 0)
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("overlap"),
        col("n_a"), col("n_b"),
        (col("overlap").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("overlap")).cast(DoubleType))
          .as("jaccard"))
  }

  /** q161: join-key skew pre-flight — the diagnostic a planner (or an
    * engineer) runs BEFORE keying a shuffle on a column: per candidate
    * key, the group-size profile (rows, NDV, largest group, mean in
    * milli-rows, top-group share in ppm) and the two-mode skew verdict
    * with a recommended salt factor. The two failure modes are distinct:
    * IMBALANCE (largest group ≥ 4× the mean — one reducer drags) and
    * LOW CARDINALITY (largest group > 1/32 of the table — a group
    * exceeds one ideal partition's share at 32-way parallelism, even if
    * perfectly balanced; event_type's 5 uniform groups are exactly this
    * mode, q28's motivating shape). Both tests are integer
    * cross-multiplications — max·ndv ≥ 4·n and max·32 > n — so the
    * verdict has no float boundary; the salt factor is the integer
    * number of ideal partition shares the largest group spans, capped at
    * 32 (the q28/q119 dilution discipline).
    *
    * Scale shape: one map-side-combined count aggregation per candidate
    * key (cost ∝ NDV after collapse, like q158/q91), a 1-row moment
    * reduce, seven independent subtrees unioned — the q145 profiling
    * shape. */
  private val SKEW_CANDS: Seq[(String, String)] = Seq(
    ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"), ("orders", "o_custkey"),
    ("events", "user_id"), ("events", "event_type"),
    ("documents", "lang"))

  val q161SkewReport: Q = (s, d) => {
    def table(n: String) = n match {
      case "lineitem" => Tables.lineitem(s, d)
      case "orders" => Tables.orders(s, d)
      case "events" => Tables.events(s, d)
      case "documents" => Tables.documents(s, d)
    }
    SKEW_CANDS.map { case (t, k) =>
      table(t).select(col(k).cast(StringType).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("ndv"),
          max(col("c")).as("max_grp"))
        .select(lit(t).as("tbl"), lit(k).as("key"),
          col("n"), col("ndv"), col("max_grp"),
          expr("(1000 * n) div ndv").as("mean_grp_milli"),
          expr("(1000000 * max_grp) div n").as("top_share_ppm"),
          when(col("max_grp") * col("ndv") >= lit(4) * col("n"), "salt:imbalance")
            .when(col("max_grp") * 32 > col("n"), "salt:low-cardinality")
            .otherwise("plain").as("verdict"),
          when(col("max_grp") * col("ndv") >= lit(4) * col("n") ||
              col("max_grp") * 32 > col("n"),
            least(lit(32L), expr("(max_grp * 32) div n") + 1))
            .otherwise(1L).as("salt_factor"))
    }.reduce(_ unionByName _)
  }

  /** q163: time-decayed trending parts — the leaderboard recency pattern:
    * each order contributes weight 2^(40 − age_weeks) toward its parts, a
    * one-week half-life expressed ENTIRELY in integer shifts (the decay
    * table 2^-k is exact in powers of two, so "decayed score" needs no
    * float, no exp(), and partial sums merge exactly across any
    * partitioning — the property that lets a decayed leaderboard
    * incrementally update). The 26-week recency window anchors on the
    * corpus's max order date (a 1-row broadcast) and pushes a date range
    * into the orders scan once composed with it.
    *
    * Scale shape: one orders⋈lineitem keyed join (the fact pattern), one
    * part-keyed partial-agg exchange, and a 20-row TakeOrdered heap — no
    * global sort. The decay weight rides the row as a shift, so the
    * aggregation stays whole-stage-codegen integer arithmetic. */
  private val TREND_TOP = 20

  val q163TrendingDecay: Q = (s, d) => {
    val maxD = Tables.orders(s, d).agg(max(col("o_orderdate")).as("max_d"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      .crossJoin(broadcast(maxD))
      .withColumn("age_w", expr("datediff(max_d, o_orderdate) div 7"))
      .filter(col("age_w") <= 26)
      .select(col("o_orderkey"),
        expr("shiftright(CAST(1099511627776 AS BIGINT), CAST(least(age_w, 40) AS INT))")
          .as("w"))
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_lines"))
      .orderBy(col("score").desc, col("l_partkey"))
      .limit(TREND_TOP)
  }

  /** q164: inclusion-dependency profiling — the CROSS-table complement to
    * q145's within-table FDs: is every (non-null) value of child column A
    * present in parent column B? The foreign-key discovery / referential
    * pre-flight check (Metanome-style data profiling): four real FK edges
    * that must hold and four plausible-but-false pairs (id ranges that
    * overflow the parent, disjoint string domains) that must fail, so
    * both verdicts are data-exercised. Reported per candidate: child NDV,
    * missing-from-parent count, coverage in ppm (integer division), and
    * the holds verdict.
    *
    * Scale shape: per candidate, the child collapses to its distinct
    * values (map-side combined), then ONE keyed anti-join against the
    * parent column — cost ∝ child NDV + parent rows, never a cartesian;
    * candidates are independent subtrees that union concurrently (the
    * q145/q158 profiling shape). */
  private val IND_CANDS: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events", "event_id", "customer", "c_custkey"),
    ("orders", "o_orderkey", "documents", "doc_id"),
    ("events", "event_type", "documents", "lang"),
    ("customer", "c_mktsegment", "orders", "o_orderpriority"))

  val q164InclusionDeps: Q = (s, d) => {
    def table(n: String) = n match {
      case "orders" => Tables.orders(s, d)
      case "lineitem" => Tables.lineitem(s, d)
      case "customer" => Tables.customer(s, d)
      case "supplier" => Tables.supplier(s, d)
      case "part" => Tables.part(s, d)
      case "events" => Tables.events(s, d)
      case "documents" => Tables.documents(s, d)
    }
    IND_CANDS.map { case (ct, cc, pt, pc) =>
      // native-typed columns end to end: every candidate pair is same-typed
      // (long/long or string/string), so the stringification the original
      // carried bought nothing and cost a per-row cast + string exchange on
      // BOTH sides of every anti-join (~1.8 M casts per lineitem
      // candidate). Join on the native values: injective, so distinct
      // counts, missing counts and verdicts are bit-identical.
      val child = table(ct).filter(col(cc).isNotNull)
        .select(col(cc).as("v")).distinct()
      val miss = child.join(
          table(pt).filter(col(pc).isNotNull)
            .select(col(pc).as("pv")),
          col("v") === col("pv"), "left_anti")
        .agg(count(lit(1)).as("missing"))
      child.agg(count(lit(1)).as("ndv_child"))
        .crossJoin(broadcast(miss))
        .select(lit(ct).as("child_tbl"), lit(cc).as("child_col"),
          lit(pt).as("parent_tbl"), lit(pc).as("parent_col"),
          col("ndv_child"), col("missing"),
          expr("(1000000 * (ndv_child - missing)) div ndv_child")
            .as("coverage_ppm"),
          (col("missing") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** q165: linear-counting cardinality sketch — q40's HLL answers the same
    * question with engine-internal state that forces a rows-only gate;
    * linear counting (Whang et al. 1990, Redis/PFCOUNT's small-range
    * regime) keeps its ENTIRE state as an m-bit hash bitmap, which is the
    * q154 word monoid — so the sketch state is bit-replayable, mergeable
    * by OR across partitions/days, and this cardinality sketch query is
    * hash-green like q152's frequency sketch. Estimate: n̂ = m·ln(m/V)
    * with V = zero bits (each distinct key sets one hash position;
    * occupancy → expected collisions), floor-quantized ONCE to
    * milli-units (the q75 ln discipline). The exact COUNT(DISTINCT) rides
    * along as the gate's comparator.
    *
    * Scale shape: the sketch path is the q154 shape exactly — per-group
    * (word, mask) partial bit_or map-side, m/64 rows per group through
    * the exchange regardless of corpus size, an O(m) reduce; at
    * [[LC_M]] = 8192 bits the whole per-group state is 1 KiB. The exact
    * comparator is the expensive distinct — in production you keep only
    * the bitmap. */
  private val LC_M = 8192L

  /** The per-(event_type, word) LC bitmap state over the "lc:" hash
    * positions — ONE builder shared by q165 (cardinality), q167 (pair
    * algebra), and the streaming twin (bit_or is associative, commutative
    * and idempotent, so the identical plan runs as a Complete-mode
    * streaming aggregation whose state IS this word table — StreamingSpec).
    * 63-bit word packing: DuckDB raises on the signed-overflow shift
    * 1::BIGINT << 63 that bit 63 would need, so the replayable packing
    * keeps shifts in 0..62 (one wasted bit per word, same counting). */
  private[graft] def lcMasks(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.TextOps
    events
      .select(col("event_type"),
        pmod(TextOps.hash60(concat(lit("lc:"),
          col("user_id").cast(StringType))), lit(LC_M)).as("pos"))
      .select(col("event_type"), expr("pos div 63").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").as("m"))
      .groupBy(col("event_type"), col("word")).agg(expr("bit_or(m)").as("mask"))
  }

  val q165LinearCounting: Q = (s, d) => {
    val lc = lcMasks(Tables.events(s, d))
      .groupBy(col("event_type"))
      .agg(sum(bit_count(col("mask")).cast(LongType)).as("used_bits"))
      .withColumn("zero_bits", lit(LC_M) - col("used_bits"))
      .withColumn("est_milli",
        floor(lit(LC_M.toDouble) *
          log(lit(LC_M.toDouble) / col("zero_bits").cast(DoubleType)) *
          lit(1000.0)).cast(LongType))
    val exact = Tables.events(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    lc.join(broadcast(exact), "event_type")
      .select(col("event_type"), col("used_bits"), col("zero_bits"),
        col("est_milli"), col("n_exact"))
  }

  /** q166: replayable HyperLogLog — completes the cardinality-sketch
    * ladder: q40 is the engine HLL (internal state → rows-only gate),
    * q165 is linear counting (bitmap state, accurate only while the
    * bitmap is sparse), and this is the FULL Flajolet–Durand HLL whose
    * register state is built from plain SQL so the whole sketch —
    * state, merge, and estimate — replays bit-exactly in the oracle.
    * Registers: the 60-bit md5 hash splits into bucket = h mod m
    * ([[HLL_M]] = 256) and a 52-bit window w = h div m; the register is
    * the position of w's highest set bit measured from the top,
    * rho = 53 − bitlength(w) (w = 0 → 53), an EXACT integer both engines
    * compute via length(bin(w)) — no float log2 at any hash. Per-group
    * state is max(rho) per bucket: an associative/commutative/idempotent
    * monoid exactly like q154's bit_or, so registers partial-aggregate
    * map-side and re-aggregate across grains (OperationalSpec pins
    * weekly = MAX of dailies). The harmonic mean is integerized before
    * any float touches it: Z = Σ 2^(53−reg) over all m buckets (empty
    * buckets contribute 2^53) is an exact BIGINT ≤ 2^61, and the only
    * float arithmetic is the final αm²·2^53/Z estimate — written as ONE
    * expression string shared verbatim with the oracle so both engines
    * run the identical IEEE sequence, then floor-quantized to milli-units.
    * Small-range regime applies the standard linear-counting fallback
    * (zeros > 0 and raw ≤ 2.5m → m·ln(m/zeros)).
    *
    * Scale shape: the exchange carries ≤ m register rows per group — 256
    * bytes-ish of state for ANY corpus size, the property that lets a
    * 100 TB distinct-count run as a map-side sketch + a constant-size
    * reduce. The exact COUNT(DISTINCT) comparator rides along for the
    * gate; production keeps only the registers. */
  private val HLL_M = 256L

  /** αm²·2^53/Z with the small-range LC fallback, as ONE shared SQL
    * expression (Spark `expr` and DuckDB parse the identical text, so
    * the IEEE operation sequence — and therefore the floor-quantized
    * milli-estimate — cannot diverge between the engines). */
  private def hllEstSql(zerosCol: String, zCol: String): String = {
    val raw = s"0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * " +
      s"9007199254740992.0 / CAST($zCol AS DOUBLE)"
    s"CAST(floor(1000.0 * (CASE WHEN $zerosCol > 0 AND $raw <= 2.5 * 256.0 " +
      s"THEN 256.0 * ln(256.0 / CAST($zerosCol AS DOUBLE)) " +
      s"ELSE $raw END)) AS BIGINT)"
  }

  /** The per-(event_type, bucket) HLL register state — ONE builder shared
    * by q166 (cardinality) and q176 (set algebra). max(rho) is an
    * associative/commutative/idempotent monoid like q154's bit_or, so the
    * registers partial-aggregate map-side and re-aggregate across grains
    * and across SETS (a pair's union registers are element-wise MAX). */
  private[graft] def hllRegs(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.TextOps
    events
      .select(col("event_type"),
        TextOps.hash60(concat(lit("hll:"),
          col("user_id").cast(StringType))).as("h"))
      .select(col("event_type"), pmod(col("h"), lit(HLL_M)).as("bucket"),
        expr(s"h div $HLL_M").as("w"))
      .select(col("event_type"), col("bucket"),
        when(col("w") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("w")))).as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
  }

  val q166HllSketch: Q = (s, d) => {
    val regs = hllRegs(Tables.events(s, d))
    val st = regs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("used_buckets"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - reg AS INT))"))
          .as("zsum"))
      .withColumn("zeros", lit(HLL_M) - col("used_buckets"))
      .withColumn("z",
        col("zsum") + col("zeros") * lit(9007199254740992L)) // + zeros·2^53
      .withColumn("est_milli", expr(hllEstSql("zeros", "z")))
    val exact = Tables.events(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    st.join(broadcast(exact), "event_type")
      .select(col("event_type"), col("used_buckets"), col("zeros"),
        col("z"), col("est_milli"), col("n_exact"))
  }

  /** q167: sketch SET ALGEBRA — the property that justifies keeping sketch
    * states at all: q165's per-type linear-counting bitmaps answer not just
    * "how many distinct users did type X" but "how many did X OR Y" and
    * "X AND Y" from the STATES ALONE, with no second corpus scan. The
    * union sketch of two types is the OR of their bitmaps (the q154/q165
    * monoid, so used(A∪B) = used(A) + used(B) − shared popcount), its
    * cardinality comes from the same m·ln(m/V) estimator, and the
    * intersection estimate is inclusion–exclusion over the three
    * floor-quantized milli-estimates — exact BIGINT subtraction, so both
    * engines agree bit-for-bit. This is the sketch twin of q159's exact
    * AND-popcount overlap matrix, built on the SAME "lc:" hash positions
    * as q165, so the states in play are literally the ones q165 ships.
    *
    * Scale shape: one corpus scan builds the per-(type, word) masks
    * (map-side bit_or partials, ≤ m/63 words per type through the
    * exchange); everything pairwise happens on sketch state — the
    * word-keyed self-join touches |types|·m/63 rows REGARDLESS of corpus
    * size, where q159's exact matrix still scales with |users|/64. The
    * exact distinct/intersection comparators ride along for the gate (a
    * production deployment keeps only the 1 KiB-per-type bitmaps).
    * Saturation guard: a bitmap with zero unset bits has no LC estimate —
    * the shared expression yields the −1 sentinel instead of ln(∞), and
    * inclusion–exclusion propagates it. */
  private def lcEstSql(zerosExpr: String): String =
    s"CASE WHEN $zerosExpr > 0 THEN CAST(floor(${LC_M}.0 * " +
      s"ln(${LC_M}.0 / CAST($zerosExpr AS DOUBLE)) * 1000.0) AS BIGINT) " +
      "ELSE CAST(-1 AS BIGINT) END"

  val q167SketchAlgebra: Q = (s, d) => {
    val masks = lcMasks(Tables.events(s, d))
    val sizes = masks.groupBy(col("event_type"))
      .agg(sum(bit_count(col("mask")).cast(LongType)).as("used"))
    val shared = masks.as("a").join(masks.as("b"),
        col("a.word") === col("b.word") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(sum(bit_count(col("a.mask").bitwiseAND(col("b.mask")))
        .cast(LongType)).as("shared_bits"))
    val du = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
    val exactSz = du.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    val exactPair = du.as("x").join(du.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_inter_exact"))
    shared
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("used").as("used_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("used").as("used_b"))), "type_b")
      .join(broadcast(exactSz.select(col("event_type").as("type_a"),
        col("n_exact").as("n_exact_a"))), "type_a")
      .join(broadcast(exactSz.select(col("event_type").as("type_b"),
        col("n_exact").as("n_exact_b"))), "type_b")
      .join(broadcast(exactPair), Seq("type_a", "type_b"))
      .withColumn("used_union",
        col("used_a") + col("used_b") - col("shared_bits"))
      .withColumn("est_a_milli", expr(lcEstSql(s"($LC_M - used_a)")))
      .withColumn("est_b_milli", expr(lcEstSql(s"($LC_M - used_b)")))
      .withColumn("est_union_milli", expr(lcEstSql(s"($LC_M - used_union)")))
      .withColumn("est_inter_milli",
        when(col("est_a_milli") >= 0 && col("est_b_milli") >= 0 &&
            col("est_union_milli") >= 0,
          col("est_a_milli") + col("est_b_milli") - col("est_union_milli"))
          .otherwise(lit(-1L)))
      .withColumn("n_union_exact",
        col("n_exact_a") + col("n_exact_b") - col("n_inter_exact"))
      .select(col("type_a"), col("type_b"), col("shared_bits"),
        col("used_a"), col("used_b"), col("used_union"),
        col("est_a_milli"), col("est_b_milli"), col("est_union_milli"),
        col("est_inter_milli"), col("n_exact_a"), col("n_exact_b"),
        col("n_inter_exact"), col("n_union_exact"))
  }

  /** q176: HLL SET ALGEBRA — q167's inclusion–exclusion lifted from linear
    * counting to the q166 HyperLogLog, which is the variant that still
    * works when LC saturates: a pair's UNION sketch is the element-wise
    * MAX of the two register vectors (max is the register monoid, so
    * "merge two audiences" is the same operation as "merge two
    * partitions" — no re-scan, no user ids), its cardinality comes from
    * the same shared-text harmonic estimate, and the intersection is
    * exact BIGINT inclusion–exclusion over the three floor-quantized
    * milli-estimates. Exact comparators ride along; production keeps only
    * the ≤ m registers per audience.
    *
    * Scale shape: one corpus scan builds all per-type registers
    * (map-side MAX partials, ≤ m rows per type through the exchange);
    * the pairwise union is a (type-pair, bucket)-keyed MAX over
    * |types|²·m/2 state rows — constant in the corpus. The exact
    * comparator is the expensive part, present only for the gate. */
  val q176HllAlgebra: Q = (s, d) => {
    val regs = hllRegs(Tables.events(s, d))
    def stateCols(g: org.apache.spark.sql.RelationalGroupedDataset) = g
      .agg(count(lit(1)).as("used"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - reg AS INT))"))
          .as("zsum"))
      .withColumn("zeros", lit(HLL_M) - col("used"))
      .withColumn("z", col("zsum") + col("zeros") * lit(9007199254740992L))
      .withColumn("est_milli", expr(hllEstSql("zeros", "z")))
    val st = stateCols(regs.groupBy(col("event_type")))
    val types = regs.select(col("event_type")).distinct()
    val pairRegs = regs.as("x").join(
        types.select(col("event_type").as("t2")).as("y"),
        col("x.event_type") < col("y.t2"))
      .select(col("x.event_type").as("ta"), col("y.t2").as("tb"),
        col("bucket"), col("reg"))
      .unionByName(regs.as("x").join(
          types.select(col("event_type").as("t1")).as("y"),
          col("y.t1") < col("x.event_type"))
        .select(col("y.t1").as("ta"), col("x.event_type").as("tb"),
          col("bucket"), col("reg")))
      .groupBy(col("ta"), col("tb"), col("bucket"))
      .agg(max(col("reg")).as("reg"))
    val stU = stateCols(pairRegs.groupBy(col("ta"), col("tb")))
      .select(col("ta"), col("tb"), col("used").as("used_union"),
        col("zeros").as("zeros_union"), col("z").as("z_union"),
        col("est_milli").as("est_union_milli"))
    val du = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
    val exactSz = du.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    val exactPair = du.as("x").join(du.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("n_inter_exact"))
    stU
      .join(broadcast(st.select(col("event_type").as("ta"),
        col("est_milli").as("est_a_milli"))), "ta")
      .join(broadcast(st.select(col("event_type").as("tb"),
        col("est_milli").as("est_b_milli"))), "tb")
      .join(broadcast(exactSz.select(col("event_type").as("ta"),
        col("n_exact").as("n_exact_a"))), "ta")
      .join(broadcast(exactSz.select(col("event_type").as("tb"),
        col("n_exact").as("n_exact_b"))), "tb")
      .join(broadcast(exactPair), Seq("ta", "tb"))
      .withColumn("est_inter_milli",
        col("est_a_milli") + col("est_b_milli") - col("est_union_milli"))
      .withColumn("n_union_exact",
        col("n_exact_a") + col("n_exact_b") - col("n_inter_exact"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("used_union"), col("zeros_union"), col("z_union"),
        col("est_a_milli"), col("est_b_milli"), col("est_union_milli"),
        col("est_inter_milli"), col("n_exact_a"), col("n_exact_b"),
        col("n_inter_exact"), col("n_union_exact"))
  }

  /** q174: exact two-sample KOLMOGOROV–SMIRNOV test — the continuous-
    * distribution drift check beside q133's categorical chi-square: is the
    * `value` distribution of one event stream different from another's
    * (the canary-vs-control / yesterday-vs-today comparison for numeric
    * metrics)? The KS statistic D = max |F₁(v) − F₂(v)| over the merged
    * sample is computed with ZERO floating point anywhere: per-value
    * counts collapse map-side, cumulative counts are integer window sums
    * over the NDV-sized merged value domain, the CDF gap at v is the
    * BIGINT |n₂·cum₁(v) − n₁·cum₂(v)|, the argmax breaks ties on the
    * smallest value, and even the headline ks_milli is integer floor
    * division (1000·num) div (n₁·n₂). Every pair of the five event types
    * is tested in one pass — the all-pairs drift matrix.
    *
    * Scale shape: one map-side-combined exchange carrying (type, value)
    * count rows; the per-pair merged domain walk is a window over
    * NDV(value-pairs) rows. n ≤ 3·10⁹ keeps n₂·cum₁ under BIGINT — the
    * 100 TB regime quantizes values first (q168's histogram discipline),
    * which this plan already is: everything after the scan is the
    * histogram. */
  val q174KsTest: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
    // build each pair's merged domain: per (ta, tb, v) the two counts
    val merged = counts.as("x").join(
        counts.select(col("event_type").as("t2")).distinct().as("y"),
        col("x.event_type") < col("y.t2"))
      .select(col("x.event_type").as("ta"), col("y.t2").as("tb"),
        col("x.value").as("v"), col("x.c").as("c1"), lit(0L).as("c2"))
      .unionByName(counts.as("x").join(
          counts.select(col("event_type").as("t1")).distinct().as("y"),
          col("y.t1") < col("x.event_type"))
        .select(col("y.t1").as("ta"), col("x.event_type").as("tb"),
          col("x.value").as("v"), lit(0L).as("c1"), col("x.c").as("c2")))
      .groupBy(col("ta"), col("tb"), col("v"))
      .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
    val w = Window.partitionBy(col("ta"), col("tb")).orderBy(col("v"))
    val wAll = Window.partitionBy(col("ta"), col("tb"))
    merged
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
      .withColumn("gap", abs(col("n2") * col("cum1") - col("n1") * col("cum2")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("ta"), col("tb"))
          .orderBy(col("gap").desc, col("v").asc)))
      .filter(col("rk") === 1)
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n1"), col("n2"), col("v").as("at_value"), col("gap").as("d_num"),
        (col("n1") * col("n2")).as("d_den"),
        expr("(1000 * gap) div (n1 * n2)").as("ks_milli"))
  }

  /** q171: CHANGEPOINT detection — the "when did this metric's regime
    * shift" monitor that sits beside q133's two-snapshot drift test and
    * q156's two-period decomposition, but with the split point UNKNOWN:
    * for each event_type's daily value series, the single split that
    * maximizes the between-segment sum of squares (equivalently minimizes
    * the two-segment SSE — the k=2 step of binary-segmentation
    * changepoint algorithms and of CART's regression split). The exact
    * path: daily (count, decimal-sum) moments collapse map-side; prefix
    * sums over the day series are EXACT decimal/integer window sums; each
    * candidate's gain (s_l·n_r − s_r·n_l)²/(n_l·n_r·n) touches floats
    * only inside ONE expression whose text is shared verbatim with the
    * oracle (the q150/q166 discipline: identical IEEE sequence, then
    * floor-quantized to milli-units), and the argmax breaks ties on the
    * earliest day. No ss moment is needed — between-SS needs only
    * (n, s) per side.
    *
    * Scale shape: one map-side-combined exchange carrying (type, day)
    * moment rows; every window (prefix, total, argmax rank) runs over
    * days-per-type rows — hundreds, regardless of corpus size. This is
    * the q137/q148 bound: the corpus is touched once, everything after is
    * metadata-sized. */
  private def cpGainSql(sl: String, sr: String, nl: String, nr: String,
      n: String): String = {
    val dev = s"(($sl) * CAST($nr AS DOUBLE) - ($sr) * CAST($nl AS DOUBLE))"
    s"CAST(floor(1000.0 * ($dev * $dev) / (CAST($nl AS DOUBLE) * " +
      s"CAST($nr AS DOUBLE) * CAST($n AS DOUBLE))) AS BIGINT)"
  }

  val q171Changepoint: Q = (s, d) =>
    changepoint(Tables.events(s, d))

  /** The q171 machinery over any (event_type, ts, value) frame — exposed so
    * OperationalSpec can verify a PLANTED regime shift is recovered. */
  private[graft] def changepoint(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("dn"),
        sum(col("value").cast(DecimalType(18, 6))).as("ds"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    val cands = daily
      .withColumn("n_left", sum(col("dn")).over(wOrd))
      .withColumn("s_left_dec", sum(col("ds")).over(wOrd))
      .withColumn("n", sum(col("dn")).over(wAll))
      .withColumn("s_dec", sum(col("ds")).over(wAll))
      .withColumn("n_right", col("n") - col("n_left"))
      .filter(col("n_right") > 0) // every day boundary except the last
      .withColumn("s_left", col("s_left_dec").cast(DoubleType))
      .withColumn("s_right",
        (col("s_dec") - col("s_left_dec")).cast(DoubleType))
      .withColumn("gain_milli",
        expr(cpGainSql("s_left", "s_right", "n_left", "n_right", "n")))
    cands
      .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("gain_milli").desc, col("day").asc)))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("split_day"),
        col("n_left"), col("n_right"), col("s_left"), col("s_right"),
        col("gain_milli"))
  }

  /** q156: metric delta attribution — the "why did revenue move"
    * decomposition every metrics platform runs when a headline number
    * shifts between two periods: total 2000-vs-1999 revenue delta broken
    * down by (priority, status) slice, each slice carrying its exact
    * delta, its share of the total move, and its rank by |delta|. The
    * conservation property that makes the report trustworthy — slice
    * deltas sum EXACTLY to the headline delta — holds because every
    * revenue goes through the q28 DECIMAL discipline: subtraction and the
    * grand total are exact, so no slice's contribution can evaporate into
    * float error (the doubles in the output are final casts; the one IEEE
    * division is the share ratio, and ranking orders by the DECIMAL delta,
    * never the double).
    *
    * Scale shape: one scan with the two-period date range pushed to
    * parquet (plan-pinned), both periods' (count, revenue) conditional
    * aggregates in ONE pass (no per-period scans, no self-join of
    * snapshots), a slice-cardinality aggregate, a 1-row total broadcast,
    * and a K-row rank window — everything after the first aggregation is
    * constant-size in the corpus. */
  val q156DeltaAttribution: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val zero = lit(0).cast(DecimalType(24, 6))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("2001-01-01").cast(TimestampType))
      .select(col("o_orderpriority"), col("o_orderstatus"),
        year(col("o_orderdate")).as("yr"),
        col("o_totalprice").cast(DecimalType(24, 6)).as("rev"))
    val sl = o.groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        sum(when(col("yr") === 1999, 1L).otherwise(0L)).as("n1"),
        sum(when(col("yr") === 2000, 1L).otherwise(0L)).as("n2"),
        sum(when(col("yr") === 1999, col("rev")).otherwise(zero)).as("r1"),
        sum(when(col("yr") === 2000, col("rev")).otherwise(zero)).as("r2"))
      .withColumn("delta_dec", col("r2") - col("r1"))
    val tot = sl.agg(sum(col("delta_dec")).as("tot_dec"))
    sl.crossJoin(broadcast(tot))
      .select(col("o_orderpriority"), col("o_orderstatus"),
        col("n1"), col("n2"),
        col("r1").cast(DoubleType).as("rev1"),
        col("r2").cast(DoubleType).as("rev2"),
        col("delta_dec").cast(DoubleType).as("delta"),
        (col("delta_dec").cast(DoubleType) /
          col("tot_dec").cast(DoubleType)).as("share"),
        row_number().over(Window.orderBy(abs(col("delta_dec")).desc,
          col("o_orderpriority"), col("o_orderstatus"))).as("rnk"))
  }

  /** q58: ROLLUP over (lang, source) — per-(lang,source), per-lang, and
    * grand-total document counts and token sums in one pass. Spark plans
    * a rollup as an Expand (one replicated row per grouping set) feeding
    * ONE partial-aggregated shuffle — the multi-level report without
    * three scans or a union. */
  val q58Rollup: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(graft.operators.TextOps.words(col("text"))).as("wc"))
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("wc")).as("total_tokens"))

  /** q121: GROUPING SETS — the general form rollup (q58) and cube (q71)
    * are sugar for, with the grouping-set list chosen to be NEITHER (the
    * hierarchy plus the (source)-only slice, minus nothing): the exact
    * shape a reporting layer asks for when it wants two independent
    * drill paths without paying for the full cube. grouping_id() (both
    * engines: first grouping column = most significant bit) disambiguates
    * a subtotal's NULL from a data NULL — the thing a consumer of mixed
    * grouping output cannot infer from the value columns alone. Same
    * Expand-then-one-shuffle plan as q58/q71: one replicated row per
    * matching set, partial aggregation before the single exchange. */
  val q121GroupingSets: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(graft.operators.TextOps.words(col("text"))).as("wc"))
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")),
          Seq(col("source")), Seq.empty),
        col("lang"), col("source"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum(col("wc")).as("total_tokens"))

  /** q59: pivot — events cross-tabbed as one row per user-id bucket with
    * one count column per event type. The pivot values are a fixed
    * literal list, so Spark plans the two-phase PivotFirst aggregation
    * without any data-driven column inference (an unvalued pivot would
    * first run a driver-side distinct scan). Spark's pivot leaves empty
    * cells NULL where SQL conditional counts yield 0 — na.fill aligns
    * the two. `%` (not pmod) matches the oracle's remainder semantics
    * for negative ids. */
  private val EVENT_TYPES = Seq("click", "error", "purchase", "signup", "view")

  val q59Pivot: Q = (s, d) =>
    Tables.events(s, d)
      .select((col("user_id") % 10).as("user_bucket"), col("event_type"))
      .groupBy(col("user_bucket"))
      .pivot("event_type", EVENT_TYPES)
      .count()
      .na.fill(0L, EVENT_TYPES)

  /** q60: semi-structured extraction — `events.props` is a JSON string;
    * pull `$.k` out as an int and aggregate it per event type. In-scan
    * path extraction (get_json_object), no UDF, no full JSON parse into
    * a struct for a single field. */
  val q60JsonExtract: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k").cast(LongType)).as("sum_k"),
        max(col("k")).as("max_k"))

  /** q71: CUBE over (lang, source) — q58's rollup covers the hierarchy
    * prefixes; CUBE adds the per-source-across-all-langs slice (the 2^k
    * grouping-set lattice). The `grouping()` marker columns disambiguate a
    * REAL NULL group key from a subtotal row — the textbook reporting trap:
    * without them a NULL-lang document's row is indistinguishable from the
    * all-langs subtotal. Same Expand-then-one-shuffle plan as rollup (4
    * grouping sets here): one corpus pass for the whole lattice, vs four
    * scans + a union by hand. */
  val q71Cube: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(graft.operators.TextOps.words(col("text"))).as("wc"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("wc")).as("total_tokens"),
        grouping(col("lang")).cast(IntegerType).as("lang_subtotal"),
        grouping(col("source")).cast(IntegerType).as("source_subtotal"))

  /** q130: join-cardinality estimation from column statistics — the
    * cost-based-optimizer capability that decides join order and strategy
    * before a single row moves: predict |events ⋈ events ON event_type|
    * (the M:N blowup case — 5 hot keys, ~(N/5)² output rows per key)
    * three ways. `exact_histogram` is Σc² over the full per-key frequency
    * table (with a complete histogram the "estimate" IS the answer);
    * `system_r_uniform` is the classic n²/ndv uniformity assumption
    * (Selinger '79 — exact only when keys are equidistributed, the error
    * a real histogram exists to kill); `top1_plus_uniform` keeps the
    * heaviest key exact and spreads the rest uniformly — the truncated
    * heavy-hitter histogram every production CBO actually stores. All
    * BIGINT arithmetic (integer division), so the three predictions are
    * bit-portable. Scale shape: one map-side-collapsed key histogram +
    * two 1-row scalar aggregates — statistics cost ∝ ndv, never the join
    * itself. */
  val q130JoinCardinality: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val hist = ev.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    val exact = hist.agg(sum(col("c") * col("c")).as("est_rows"))
      .select(lit("exact_histogram").as("method"), col("est_rows"))
    val tot = ev.agg(count(lit(1)).as("n"),
      countDistinct(col("event_type")).as("ndv"))
    val sysR = tot.select(lit("system_r_uniform").as("method"),
      expr("(n * n) div ndv").as("est_rows"))
    val top1 = tot.crossJoin(broadcast(hist.agg(max(col("c")).as("cmax"))))
      .select(lit("top1_plus_uniform").as("method"),
        expr("cmax * cmax + ((n - cmax) * (n - cmax)) div (ndv - 1)")
          .as("est_rows"))
    exact.unionByName(sysR).unionByName(top1)
  }

  /** q133: distribution-drift monitoring — the ML-ops complement to
    * q109/q113 (which diff CONTENT): did the SHAPE of the corpus move
    * between two snapshots? Per language, the χ²-style drift term of the
    * two-sample homogeneity test over q77's A/B snapshot views:
    * term = (a·N_b − b·N_a)² / (N_a·N_b·(a+b)). Everything up to the last
    * step is exact BIGINT (cross-multiplied counts — no proportions, no
    * logs: PSI's ln(p/q) is transcendental and would 1-ulp-diverge, which
    * is why the χ² form is the gate-safe drift statistic); the single
    * division per row maps exact integers through one IEEE op. Terms are
    * emitted PER feature value — the consumer sums against its threshold
    * (a global float sum would be task-order-dependent; 5 exact rows are
    * strictly more informative anyway: they name WHICH language drifted).
    * Counts² must fit BIGINT — past ~10⁹ docs per snapshot, rescale both
    * sides by a common factor first.
    *
    * Scale shape: both snapshot histograms come from ONE scan (conditional
    * sums per lang), collapse map-side, and the totals are an
    * unpartitioned window over the 5-row result — no second scan, no
    * broadcast, no join. */
  val q133DriftChi2: Q = (s, d) => {
    val bucket = pmod(graft.operators.TextOps.hash60(
      col("doc_id").cast(StringType)), lit(5))
    val W = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.documents(s, d)
      .select(col("lang"), bucket.as("bkt"))
      .groupBy(col("lang")).agg(
        sum(when(col("bkt") =!= 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("bkt") =!= 1, 1L).otherwise(0L)).as("n_b"))
      .withColumn("na_tot", sum(col("n_a")).over(W))
      .withColumn("nb_tot", sum(col("n_b")).over(W))
      .select(col("lang"), col("n_a"), col("n_b"),
        ((col("n_a") * col("nb_tot") - col("n_b") * col("na_tot")) *
          (col("n_a") * col("nb_tot") - col("n_b") * col("na_tot"))).as("num"),
        (col("na_tot") * col("nb_tot") * (col("n_a") + col("n_b"))).as("den"))
      .withColumn("chi2_term",
        col("num").cast(DoubleType) / col("den").cast(DoubleType))
  }

  /** q137: per-segment OLS trend — closed-form simple linear regression
    * (value on day-of-month, per event type) as a pure AGGREGATE:
    * slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²), intercept from the slope.
    * The moment sums are the whole trick at scale: they collapse map-side
    * like any algebraic aggregate (regression over 100 TB is ONE scan +
    * one 5-row reduction — no iterative solver, no collect), and they are
    * kept EXACT — x is an integer, y goes through the q28 DECIMAL cast,
    * so Σy/Σxy are order-independent decimals and the only doubles are
    * the two final divisions, identical IEEE trees in both engines.
    * This is the trend-per-segment analytic (is purchase value drifting
    * up through the month?) the windowed family (q26/q68) summarizes but
    * never fits. */
  val q137TrendOls: Q = (s, d) => {
    val m = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"),
        dayofmonth(col("ts")).cast(LongType).as("x"),
        col("value").cast(DecimalType(18, 6)).as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"),
        sum(col("y") * col("x")).as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
    m.select(col("event_type"), col("n"), slope.as("slope"),
        ((col("sy").cast(DoubleType) - slope * col("sx").cast(DoubleType)) /
          col("n").cast(DoubleType)).as("intercept"))
  }

  /** The lineitem measures q179 correlates, and the strict upper-triangle
    * pair list — shared with the oracle generator so the Spark plan and the
    * DuckDB replay can never disagree about which moments exist. */
  private val CORR_COLS = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val CORR_PAIRS: Seq[(String, String)] =
    for { i <- CORR_COLS.indices; j <- CORR_COLS.indices if i < j }
      yield (CORR_COLS(i), CORR_COLS(j))

  /** q179: the Pearson correlation MATRIX over the lineitem measures
    * (quantity, price, discount, tax) in ONE corpus scan — the q137
    * moment-sum discipline widened from a single regression to all
    * K·(K−1)/2 column pairs at once. The feature-engineering and
    * data-profiling staple ("which signals are redundant?") that a naive
    * implementation runs as K² separate corr() passes.
    *
    * All 15 moments (n, Σx and Σx² per column, Σxy per pair) accumulate in
    * one aggregate: algebraic sums that collapse map-side, so correlation
    * over 100 TB is one scan plus a 1-row reduction. The measures are
    * quantized to integer CENTI-units first (the q172 decimal-cent cast —
    * exact for these 2-decimal columns), which buys two invariants at
    * once: Pearson r is scale-invariant, so centi-units change nothing
    * semantically, and every moment becomes an INTEGER-VALUED sum (plain
    * BIGINT for Σx; DECIMAL(38,0) for the product sums, whose per-row
    * BIGINT products ≈10¹⁴ would overflow a BIGINT total past ~10⁴ rows).
    * Integer-valued moments are the determinism keystone: both engines
    * correctly-round an integer to double, whereas a fractional decimal's
    * double cast is 1-ulp engine-dependent (DuckDB computes m·10⁻ˢ in
    * floating point). The 6 output rows unfold from the single moment row
    * by an in-row generator (explode of a literal struct array — no join,
    * no second scan). Doubles exist only in the final
    * r = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)) expression,
    * rendered from ONE template for both engines ([[corrSql]]) with the
    * product moments entering through the [[TWO53]] hi/lo split — exact
    * integers through one fixed float tree, the q171 contract, even where
    * a moment outgrows 2⁵³ and a direct engine cast would 1-ulp diverge. */
  val q179CorrMatrix: Q = (s, d) => {
    val base = Tables.lineitem(s, d).select(
      CORR_COLS.map(c => (col(c).cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as(c)): _*)
    val aggs =
      Seq(count(lit(1)).as("n")) ++
        CORR_COLS.map(c => sum(col(c)).as(s"s_$c")) ++
        CORR_COLS.map(c =>
          sum((col(c) * col(c)).cast(DecimalType(38, 0))).as(s"ss_$c")) ++
        CORR_PAIRS.map { case (a, b) =>
          sum((col(a) * col(b)).cast(DecimalType(38, 0))).as(s"sp_${a}_$b") }
    val m = base.agg(aggs.head, aggs.tail: _*)
    val rows = CORR_PAIRS.map { case (a, b) =>
      struct(lit(a).as("x_col"), lit(b).as("y_col"), col("n").as("n"),
        expr(corrSql(a, b, "div", identity)).as("corr"))
    }
    m.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** 2⁵³ — the largest power of two below which every integer is exactly
    * representable as a double, i.e. the split point at which a wide
    * integer moment can be fed to IEEE arithmetic with NO engine-dependent
    * rounding: hi = t div 2⁵³ and lo = t mod 2⁵³ both cast exactly,
    * hi·2⁵³ is an exact power-of-two scale, and the final hi·2⁵³+lo is
    * then ONE correctly-rounded IEEE addition — the same double in every
    * engine. (A 2⁶² split looks tidier but double-rounds: its lo exceeds
    * 2⁵³ and the lo cast itself already rounded.) */
  private val TWO53 = "9007199254740992"

  /** The shared Pearson-r expression over the named moment columns —
    * rendered for Spark (idiv = "div", decimals divide integrally as-is)
    * and for DuckDB (idiv = "//", which is FLOAT division on DuckDB
    * decimals, so the moment first detours through HUGEINT via toInt).
    * One template, two renderings: the engines cannot disagree about the
    * float tree because there is only one. */
  private def corrSql(a: String, b: String,
                      idiv: String, toInt: String => String): String = {
    def big(t: String) =
      s"(CAST(${toInt(t)} $idiv $TWO53 AS DOUBLE) * CAST($TWO53 AS DOUBLE)" +
        s" + CAST(${toInt(t)} % $TWO53 AS DOUBLE))"
    def d(t: String) = s"CAST($t AS DOUBLE)"
    s"""(${d("n")} * ${big(s"sp_${a}_$b")} - ${d(s"s_$a")} * ${d(s"s_$b")})
       | / (sqrt(${d("n")} * ${big(s"ss_$a")} - ${d(s"s_$a")} * ${d(s"s_$a")})
       |    * sqrt(${d("n")} * ${big(s"ss_$b")} - ${d(s"s_$b")} * ${d(s"s_$b")}))""".stripMargin
  }

  /** q183: distribution-shape profiling — population skewness and excess
    * kurtosis of `events.value` per event type, from the SAME one-scan
    * integer-moment discipline as q179: raw moments Σc..Σc⁴ over exact
    * centi-units (both shape statistics are scale-invariant, so the
    * quantization is semantically free), n/Σc as BIGINT and the wide
    * power sums as integer-valued decimals — per-row c² stays in BIGINT
    * (safe to c ≈ 3·10⁹ cents) and c³/c⁴ multiply in DECIMAL, because a
    * BIGINT c⁴ would already overflow near c ≈ 55,000. The
    * monitoring story: mean/variance drift gates (q133/q174) miss
    * tail-shape changes — a distribution can hold its mean while growing
    * a heavy tail, which is exactly what skewness/kurtosis flag, and at
    * 100 TB this stays ONE scan + a 5-row reduction because raw power
    * sums are algebraic aggregates that collapse map-side.
    *
    * Central moments come from raw moments inside the shared float tree
    * ([[shapeSql]], one template for both engines, wide moments through
    * the [[TWO53]] split): m₂ = a₂−μ², m₃ = a₃−3μa₂+2μ³,
    * m₄ = a₄−4μa₃+6μ²a₂−3μ⁴, skew = m₃/(m₂√m₂), exkurt = m₄/m₂²−3 —
    * written with multiply+sqrt, never pow(x,1.5), because sqrt is
    * IEEE-correctly-rounded everywhere and pow is not. The exact moment
    * state rides along (n, s1 BIGINT; s2–s4 as canonical decimal
    * strings), so the gate pins the integers AND the doubles. */
  val q183MomentShape: Q = (s, d) => {
    val c = (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
    // c² stays in BIGINT (safe for cents up to 3·10⁹); the 3rd/4th powers
    // multiply in DECIMAL — a BIGINT c⁴ would overflow past c ≈ 55,000
    val cc = (col("c") * col("c")).cast(DecimalType(19, 0))
    val m = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), c.as("c"))
      .groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("c")).as("s1"),
        sum(cc).as("s2"),
        sum(cc * col("c")).as("s3"),
        sum(cc * cc).as("s4"))
    val (skew, kurt) = shapeSql("div", identity)
    m.select(col("event_type"), col("n"), col("s1"),
      col("s2").cast(StringType).as("s2"),
      col("s3").cast(StringType).as("s3"),
      col("s4").cast(StringType).as("s4"),
      expr(skew).as("skewness"), expr(kurt).as("ex_kurtosis"))
  }

  /** q189: the log₂-histogram QUANTILE sketch — the missing member of the
    * mergeable-sketch family (Count-Min counts items, LC/HLL count
    * distincts, bitmaps count exactly; none answers "what is p99?"):
    * every value folds into bucket = bitlength(cents), a 64-slot counter
    * vector per group that merges by plain ADDITION across any
    * partitioning, any grain, any snapshot — the same monoid property
    * q152/q154 ship — with a guaranteed-factor-2 answer: the quantile's
    * true value provably lies in [2^(b−1), 2^b−1] of its estimated
    * bucket b, because coarsening a histogram cannot move a cumulative
    * threshold across a bucket boundary. This is the production quantile
    * monitor (HdrHistogram's trick, DDSketch's γ=2 special case): exact
    * percentiles (q168) need the full value histogram per window;
    * 64 counters per group are storable, streamable, and re-aggregable
    * forever. No float log2 exists anywhere — bitlength IS the bucket
    * function (the q94/q166 idiom), so the STATE is bit-replayable and
    * hash-gates, not just the estimates.
    *
    * Output is two-part (the q77 union shape): the sketch state rows
    * (bucket, count, cumulative) and, per q ∈ {50, 90, 99}, the bucket
    * bounds beside the EXACT discrete percentile from the full histogram
    * walk — so the gate re-proves est_lo ≤ exact ≤ est_hi on real data
    * at every scale. Scale shape: one scan; production builds the state
    * in-scan (≤64 rows per group reach the exchange); the exact
    * comparator is gate luxury, not operator cost. */
  val q189LogHistogram: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val Wb = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val Wc = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val Wt = Window.partitionBy(col("event_type"))
    val qs = Seq(50L, 90L, 99L)
    val hist = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("c"))
      .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
    val state = logHistState(Tables.events(s, d))
      .withColumn("cum", sum(col("cnt")).over(Wb))
      .withColumn("n", sum(col("cnt")).over(Wt))
    val qlit = explode(array(qs.map(lit): _*)).as("qq")
    val est = state.select(col("event_type"), col("bucket"), col("cum"),
        col("n"), qlit)
      .filter(col("cum") * 100 >= col("n") * col("qq"))
      .groupBy(col("event_type"), col("qq")).agg(min(col("bucket")).as("b"))
    val exact = hist
      .withColumn("cum", sum(col("cnt")).over(Wc))
      .withColumn("n", sum(col("cnt")).over(Wt))
      .select(col("event_type"), col("c"), col("cum"), col("n"), qlit)
      .filter(col("cum") * 100 >= col("n") * col("qq"))
      .groupBy(col("event_type"), col("qq")).agg(min(col("c")).as("exact"))
    val nullv = lit(null).cast(LongType)
    state.select(col("event_type"), lit("bucket").as("kind"),
        col("bucket").as("k"), col("cnt").as("v1"), col("cum").as("v2"),
        nullv.as("v3"))
      .unionByName(est.join(broadcast(exact), Seq("event_type", "qq"))
        .select(col("event_type"), lit("quantile").as("kind"),
          col("qq").as("k"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(b - 1 AS INT))").as("v1"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) - 1").as("v2"),
          col("exact").as("v3")))
  }

  /** The q189 sketch-state builder on any (event_type, value) frame — the
    * in-scan production shape (bucket computed per row, ≤64 rows per
    * group reach the exchange), and the streaming twin: count per
    * (group, bucket) is a sum monoid, so the SAME builder runs unchanged
    * as a Complete-mode streaming aggregation with state bit-equal to
    * batch (StreamingSpec). */
  private[graft] def logHistState(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ev.filter(col("value").isNotNull)
      .select(col("event_type"),
        length(bin((col("value").cast(DecimalType(18, 2)) * 100)
          .cast(LongType))).cast(LongType).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** The shared skewness/kurtosis float tree over moment columns
    * n, s1, s2, s3, s4 — the q179 [[corrSql]] contract applied to shape
    * statistics. Returns (skewness, excess kurtosis) expression texts. */
  private def shapeSql(idiv: String,
                       toInt: String => String): (String, String) = {
    def big(t: String) =
      s"(CAST(${toInt(t)} $idiv $TWO53 AS DOUBLE) * CAST($TWO53 AS DOUBLE)" +
        s" + CAST(${toInt(t)} % $TWO53 AS DOUBLE))"
    val nD = "CAST(n AS DOUBLE)"
    val mu = s"(CAST(s1 AS DOUBLE) / $nD)"
    val a2 = s"(${big("s2")} / $nD)"
    val a3 = s"(${big("s3")} / $nD)"
    val a4 = s"(${big("s4")} / $nD)"
    val m2 = s"($a2 - $mu * $mu)"
    val m3 = s"($a3 - CAST(3 AS DOUBLE) * $mu * $a2" +
      s" + CAST(2 AS DOUBLE) * $mu * $mu * $mu)"
    val m4 = s"($a4 - CAST(4 AS DOUBLE) * $mu * $a3" +
      s" + CAST(6 AS DOUBLE) * $mu * $mu * $a2" +
      s" - CAST(3 AS DOUBLE) * $mu * $mu * $mu * $mu)"
    (s"($m3 / ($m2 * sqrt($m2)))",
      s"($m4 / ($m2 * $m2) - CAST(3 AS DOUBLE))")
  }

  /** q186: winsorized statistics — the outlier-clipping preprocessing
    * step (clip each value into its type's [p05, p95] band) that guards
    * every downstream mean/σ feature against heavy tails, computed
    * ENTIRELY from the value histogram: the q168 cumulative walk yields
    * the exact discrete percentile thresholds by integer
    * cross-multiplication (smallest c with 20·cum ≥ n, resp. ≥ 19·n),
    * the 5-row threshold table broadcasts back onto the histogram, and
    * the clipped sums are Σ count·clip(c) — the corpus is scanned ONCE
    * and never rescanned for the clip pass, because clipping is a
    * pure function of (value, thresholds) and the histogram already
    * carries every distinct value with its multiplicity. Complements
    * q88 (median/MAD gating DROPS outliers) — winsorizing KEEPS the rows
    * at the boundary, the choice a budgeted training corpus usually
    * wants. Clip counts per side ride along; the only doubles are the
    * two final mean divisions over exact BIGINTs. */
  val q186Winsorize: Q = (s, d) => {
    val Wcum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val Wt = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    val hist = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("c"))
      .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
    val thr = hist
      .withColumn("cum", sum(col("cnt")).over(Wcum))
      .withColumn("n", sum(col("cnt")).over(Wt))
      .groupBy(col("event_type")).agg(
        min(when(col("cum") * 20 >= col("n"), col("c"))).as("lo"),
        min(when(col("cum") * 20 >= col("n") * 19, col("c"))).as("hi"),
        max(col("n")).as("n"))
    val clip = greatest(least(col("c"), col("hi")), col("lo"))
    hist.join(broadcast(thr), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(col("lo")).as("lo_cents"), max(col("hi")).as("hi_cents"),
        sum(when(col("c") < col("lo"), col("cnt")).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("c") > col("hi"), col("cnt")).otherwise(0L)).as("n_clip_hi"),
        sum(col("c") * col("cnt")).as("sum_raw"),
        sum(clip * col("cnt")).as("sum_winsor"))
      .select(col("event_type"), col("n"), col("lo_cents"), col("hi_cents"),
        col("n_clip_lo"), col("n_clip_hi"), col("sum_raw"), col("sum_winsor"),
        (col("sum_raw").cast(DoubleType) / col("n").cast(DoubleType))
          .as("mean_raw"),
        (col("sum_winsor").cast(DoubleType) / col("n").cast(DoubleType))
          .as("mean_winsor"))
  }

  /** q188: CUPED variance reduction (Deng et al. 2013) — the modern
    * experimentation readout: each user's post-period spend is adjusted
    * by their PRE-period spend (yadj = y − θ(x − μx), θ = cov(x,y)/var(x)
    * pooled), shrinking metric variance with the covariate that existed
    * before the experiment and leaving the treatment effect unbiased.
    * Extends q150's z-test from conversion rates to continuous metrics —
    * the variance term is the whole game there, and CUPED is how real
    * platforms make small effects detectable.
    *
    * The determinism trap: adjusting PER USER and then averaging sums
    * floats in task order. Instead the adjusted mean and variance are
    * expanded ALGEBRAICALLY over per-arm integer moments —
    * Σyadj = Sy − θSx + nθμx and Σyadj² = Syy + θ²Sxx + nc² − 2θSxy +
    * 2cSy − 2θcSx (c = θμx) — so the engines sum exact BIGINT/DECIMAL
    * moments (cents quantization; per-user products ≤ 4·10¹² in BIGINT,
    * sums in DECIMAL(38,0)) and evaluate ONE shared float tree
    * ([[cupedSql]], wide moments through the [[TWO53]] split). Pooled
    * moments come from a 2-row window over the arm aggregates — no
    * second scan. The pooled adjusted mean provably equals the pooled
    * raw mean (Σn·meanAdj = Σn·meanY), the invariant OperationalSpec
    * pins.
    *
    * Scale shape: one events scan → per-user collapse (keyed exchange
    * that partial-aggregates map-side) → 2-row arm aggregate; everything
    * after is arithmetic on 2 rows. */
  val q188Cuped: Q = (s, d) => {
    import graft.operators.TextOps
    val W = org.apache.spark.sql.expressions.Window.partitionBy()
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
    val user = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), cents.as("cv"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < lit("2024-01-16").cast(TimestampType),
          col("cv")).otherwise(0L)).as("x"),
        sum(when(col("ts") >= lit("2024-01-16").cast(TimestampType),
          col("cv")).otherwise(0L)).as("y"))
      .withColumn("arm", pmod(TextOps.hash60(concat(lit("ab:"),
        col("user_id").cast(StringType))), lit(2L)))
    val arms = user.groupBy(col("arm")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("sxx"),
      sum((col("x") * col("y")).cast(DecimalType(38, 0))).as("sxy"),
      sum((col("y") * col("y")).cast(DecimalType(38, 0))).as("syy"))
    val pooled = arms
      .withColumn("np", sum(col("n")).over(W))
      .withColumn("spx", sum(col("sx")).over(W))
      .withColumn("spy", sum(col("sy")).over(W))
      .withColumn("spxx", sum(col("sxx")).over(W))
      .withColumn("spxy", sum(col("sxy")).over(W))
    val e = cupedSql("div", identity)
    pooled.select(col("arm"), col("n"), col("sx"), col("sy"),
      col("sxx").cast(StringType).as("sxx"),
      col("sxy").cast(StringType).as("sxy"),
      col("syy").cast(StringType).as("syy"),
      expr(e("theta")).as("theta"),
      expr(e("mean_y")).as("mean_y"), expr(e("var_y")).as("var_y"),
      expr(e("mean_adj")).as("mean_adj"), expr(e("var_adj")).as("var_adj"))
  }

  /** The shared CUPED float tree over per-arm (n, sx, sy, sxx, sxy, syy)
    * and pooled (np, spx, spy, spxx, spxy) moment columns. */
  private def cupedSql(idiv: String,
                       toInt: String => String): Map[String, String] = {
    def big(t: String) =
      s"(CAST(${toInt(t)} $idiv $TWO53 AS DOUBLE) * CAST($TWO53 AS DOUBLE)" +
        s" + CAST(${toInt(t)} % $TWO53 AS DOUBLE))"
    def d(t: String) = s"CAST($t AS DOUBLE)"
    val theta = s"((${d("np")} * ${big("spxy")} - ${d("spx")} * ${d("spy")})" +
      s" / (${d("np")} * ${big("spxx")} - ${d("spx")} * ${d("spx")}))"
    val mux = s"(${d("spx")} / ${d("np")})"
    val c = s"($theta * $mux)"
    val meanY = s"(${d("sy")} / ${d("n")})"
    val meanAdj = s"((${d("sy")} - $theta * ${d("sx")} + ${d("n")} * $c) / ${d("n")})"
    val varY = s"(${big("syy")} / ${d("n")} - $meanY * $meanY)"
    val eAdj2 = s"((${big("syy")} + $theta * $theta * ${big("sxx")}" +
      s" + ${d("n")} * $c * $c - CAST(2 AS DOUBLE) * $theta * ${big("sxy")}" +
      s" + CAST(2 AS DOUBLE) * $c * ${d("sy")}" +
      s" - CAST(2 AS DOUBLE) * $theta * $c * ${d("sx")}) / ${d("n")})"
    Map("theta" -> theta, "mean_y" -> meanY, "var_y" -> varY,
      "mean_adj" -> meanAdj,
      "var_adj" -> s"($eAdj2 - $meanAdj * $meanAdj)")
  }

  /** Benford first-digit milli-probabilities: round(log₁₀(1+1/d)·1000) as
    * LITERAL integer constants (they sum to exactly 1000) — baked into both
    * plans so no transcendental is ever evaluated by either engine. */
  private val BENFORD_MILLI: Seq[(Long, Long)] = Seq(
    1L -> 301L, 2L -> 176L, 3L -> 125L, 4L -> 97L, 5L -> 79L,
    6L -> 67L, 7L -> 58L, 8L -> 51L, 9L -> 46L)

  /** q180: Benford first-digit audit over order amounts — the fraud /
    * data-fabrication screen: the leading-digit histogram of o_totalprice
    * against Benford's law, with a χ²-style deviation term per digit in the
    * q133 cross-multiplied integer discipline. Natural multi-scale amounts
    * follow P(d) = log₁₀(1+1/d); fabricated or truncated feeds don't — a
    * one-scan data-quality gate (the generator's uniform-ish prices WILL
    * show deviation; the audit reports it exactly either way).
    *
    * The expected distribution enters as integer MILLI-probabilities
    * (literal constants, never a runtime log), so each digit's term is
    * exact BIGINT cross-multiplication — num = (1000·obs − p_d·N)²,
    * den = 1000·p_d·N — with the single IEEE division per row shared
    * verbatim with the oracle. All 9 digits are emitted even at zero
    * observations (absent evidence is evidence in an audit): the digit
    * spine is a 9-row literal unfolded in-row, the observed counts
    * broadcast onto it, and N arrives as the house 1-row scalar-aggregate
    * cross-broadcast — the corpus is scanned once, collapses map-side to
    * ≤10 rows, and nothing else moves. */
  val q180Benford: Q = (s, d) => {
    val obs = Tables.orders(s, d)
      .select(substring(floor(col("o_totalprice")).cast(StringType), 1, 1)
        .cast(LongType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = Tables.orders(s, d).agg(count(lit(1)).as("n_tot"))
    val spine = BENFORD_MILLI.map { case (dg, m) =>
      struct(lit(dg).as("digit"), lit(m).as("exp_milli")) }
    val num = (lit(1000L) * col("n_obs") - col("exp_milli") * col("n_tot")) *
      (lit(1000L) * col("n_obs") - col("exp_milli") * col("n_tot"))
    val den = lit(1000L) * col("exp_milli") * col("n_tot")
    s.range(1).select(explode(array(spine: _*)).as("e"))
      .select(col("e.*"))
      .join(broadcast(obs), Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("exp_milli"), col("n_tot"))
      .select(col("digit"), col("n_obs"), col("exp_milli"), col("n_tot"),
        num.as("num"), den.as("den"),
        (num.cast(DoubleType) / den.cast(DoubleType)).as("chi2_term"))
  }

  /** q181: Gini concentration of customer revenue per market segment — the
    * inequality/concentration analytic behind "do 1% of customers carry 80%
    * of revenue?" (and, on a corpus, "do 1% of domains carry 80% of
    * documents?"). The rank formula G = (2·Σᵢ rᵢxᵢ − (n+1)·Σx)/(n·Σx)
    * needs every value's global rank within its segment — but ranks over
    * GROUPED data are closed-form: collapsing to a (segment, value,
    * count) histogram first, a value with count c and strictly-lower
    * prefix P contributes Σranks·x = x·(c·P + c(c+1)/2) exactly. So the
    * plan is the q168 histogram walk, not a row-level sort: per-customer
    * revenue in exact integer CENTS (the q172 decimal-cent quantization),
    * one keyed collapse to the histogram, one ordered prefix walk over
    * histogram rows, and a 5-row final reduction. Everything to the left
    * of the last division is BIGINT (peak ≈ x·n² ≈ 5·10¹⁴ at sf0.1;
    * upgrade the S-sum to DECIMAL past ~10⁸ customers, same plan), so the
    * result is partitioning-proof and hash-gated.
    *
    * Scale shape: orders collapse map-side into per-customer sums (one
    * custkey exchange), the segment dim broadcasts on, and the prefix walk
    * runs over the collapsed (segment, cents) histogram — distinct
    * revenue values, not orders. When one segment's distinct-value count
    * outgrows a task, the prefix sum routes through q100's
    * range-partitioned three-phase machinery (the arithmetic is unchanged
    * — c·P + c(c+1)/2 only needs the cross-partition count offsets q100
    * already computes). */
  val q181Gini: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col("rev"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val rev = Tables.orders(s, d)
      .select(col("o_custkey"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("rev"))
    val seg = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    rev.join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), col("rev")).agg(count(lit(1)).as("c"))
      .withColumn("pfx", coalesce(sum(col("c")).over(W), lit(0L)))
      .groupBy(col("seg")).agg(
        sum(col("c")).as("n"),
        sum(col("rev") * col("c")).as("t"),
        sum(col("rev") * (col("c") * col("pfx") +
          expr("(c * (c + 1)) div 2"))).as("srank"))
      .select(col("seg"), col("n"), col("t"), col("srank"),
        ((lit(2L) * col("srank") - (col("n") + 1L) * col("t")).cast(DoubleType) /
          (col("n") * col("t")).cast(DoubleType)).as("gini"))
  }

  /** q77: the SQL set operators over two corpus snapshots — the daily-crawl
    * diff ("which docs appeared / disappeared / persisted") plus the
    * multiset (ALL) variants over a non-unique projection, assembled into
    * one result by UNION ALL. Snapshots are deterministic hash-bucket
    * views of `documents` (A drops bucket 0, B drops bucket 1), so the
    * overlap and both diffs are non-trivial at every scale.
    *
    * Plan shape: Spark compiles INTERSECT/EXCEPT to left-semi/anti joins
    * over distinct inputs and INTERSECT ALL/EXCEPT ALL to the
    * count-replicating aggregate form — all keyed shuffles, no cartesian;
    * the UNION ALL glue is shuffle-free concatenation. The doc_id-keyed
    * branches hash on the unique key; the multiset branches hash on
    * (lang, source) — 25 groups, collapsed map-side before the exchange. */
  val q77SetOps: Q = (s, d) => {
    val bucket = pmod(graft.operators.TextOps.hash60(
      col("doc_id").cast(StringType)), lit(5))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), bucket.as("bkt"))
    val a = docs.filter(col("bkt") =!= 0).drop("bkt")
    val b = docs.filter(col("bkt") =!= 1).drop("bkt")
    def tag(op: String, df: org.apache.spark.sql.DataFrame) =
      df.select(lit(op).as("op"), col("doc_id"), col("lang"), col("source"))
    val nullId = lit(null).cast(LongType).as("doc_id")
    def tagMix(op: String, df: org.apache.spark.sql.DataFrame) =
      df.select(lit(op).as("op"), nullId, col("lang"), col("source"))
    val mixA = a.select(col("lang"), col("source"))
    val mixB = b.select(col("lang"), col("source"))
    tag("only_a", a.except(b))
      .unionByName(tag("only_b", b.except(a)))
      .unionByName(tag("common", a.intersect(b)))
      .unionByName(tagMix("mix_intersect_all", mixA.intersectAll(mixB)))
      .unionByName(tagMix("mix_except_all", mixA.exceptAll(mixB)))
  }

  /** q109: keyed CDC diff — q77's row-level snapshot algebra upgraded to
    * the per-KEY change feed a downstream consumer actually subscribes
    * to: full-outer join of two corpus snapshots on doc_id, each change
    * typed `inserted` / `deleted` / `updated` (content digest moved) with
    * the old/new digests attached; unchanged keys are filtered out — CDC
    * emits changes, not the corpus. Snapshot B both drops a hash bucket
    * (deletes + inserts vs A) and rewrites bucket 2's text (updates), so
    * all three change types are non-trivial at every scale.
    *
    * Presence is tracked with explicit flags, never digest-nullness — a
    * legitimately null text hashes via a sentinel, so a null-text doc can
    * not masquerade as an insert. Digests are md5 (identical bytes in
    * both engines; the q18 fingerprint rule).
    *
    * Scale shape: two in-scan digest projections of the same table and
    * ONE doc_id-keyed full-outer merge join; the change filter runs on
    * (flags, digests) — text never crosses the exchange. At 100 TB both
    * snapshots would be doc_id-bucketed layouts (q29's discipline), making
    * the join exchange-free. */
  val q109CdcDiff: Q = (s, d) => {
    val bucket = pmod(graft.operators.TextOps.hash60(
      col("doc_id").cast(StringType)), lit(5))
    val digest = md5(coalesce(col("text"), lit("<graft:null>")))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), bucket.as("bkt"))
    val a = docs.filter(col("bkt") =!= 0)
      .select(col("doc_id"), lit(1).as("in_a"), digest.as("old_hash"))
    val b = docs.filter(col("bkt") =!= 1)
      .withColumn("text",
        when(col("bkt") === 2, concat(lit("rev2 "), col("text")))
          .otherwise(col("text")))
      .select(col("doc_id"), lit(1).as("in_b"), digest.as("new_hash"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("change_type",
        when(col("in_b").isNull, "deleted")
          .when(col("in_a").isNull, "inserted")
          .when(!(col("old_hash") <=> col("new_hash")), "updated"))
      .filter(col("change_type").isNotNull)
      .select(col("doc_id"), col("change_type"),
        when(col("in_a").isNotNull, col("old_hash")).as("old_hash"),
        when(col("in_b").isNotNull, col("new_hash")).as("new_hash"))
  }

  /** q113: corpus-signature comparison — "is today's crawl basically
    * yesterday's?" answered per language WITHOUT diffing documents: each
    * snapshot's per-lang MinHash signature ([[SIG_K]] salted 60-bit md5
    * minima over its doc digests) estimates Jaccard as the fraction of
    * matching components, next to the exact distinct-digest Jaccard twin
    * (the q40/q70 sketch-plus-exact-anchor discipline, lifted from
    * row-level to CORPUS-level monitoring).
    *
    * The scale argument is the signature's algebra: a component-wise MIN
    * is a commutative monoid, so each signature partial-aggregates
    * map-side, merges across any sharding, and can be SAVED per snapshot
    * — tomorrow's comparison needs yesterday's 16 longs, not yesterday's
    * corpus (q103's state discipline applied to a sketch). Everything is
    * salted md5 minima and integer counts — deterministic in both
    * engines, no randomness, no quantization. */
  private val SIG_K = 16

  val q113CorpusSignature: Q = (s, d) => {
    val bucket = pmod(graft.operators.TextOps.hash60(
      col("doc_id").cast(StringType)), lit(5))
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("lang"), col("text"), bucket.as("bkt"))
    def sig(snap: org.apache.spark.sql.DataFrame, tag: String) =
      snap.select(col("lang"), explode(sequence(lit(0), lit(SIG_K - 1))).as("j"),
          graft.operators.TextOps.hash60(
            concat(lit("sig"), col("j").cast(StringType), lit(":"), col("text")))
            .as("h"))
        .groupBy(col("lang"), col("j")).agg(min(col("h")).as(s"min_$tag"))
    def digests(snap: org.apache.spark.sql.DataFrame, tag: String) =
      snap.select(col("lang"),
          graft.operators.TextOps.hash60(col("text")).as("h"))
        .distinct()
        .select(col("lang"), col("h"), lit(1).as(s"in_$tag"))
    val a = docs.filter(col("bkt") =!= 0)
    val b = docs.filter(col("bkt") =!= 1)
    val est = sig(a, "a").join(sig(b, "b"), Seq("lang", "j"))
      .groupBy(col("lang"))
      .agg(sum(when(col("min_a") === col("min_b"), 1L).otherwise(0L))
        .as("sig_matches"))
    val exact = digests(a, "a").join(digests(b, "b"), Seq("lang", "h"), "full_outer")
      .groupBy(col("lang"))
      .agg(sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
          .otherwise(0L)).as("n_common"),
        count(lit(1)).as("n_union"))
    est.join(exact, Seq("lang"))
      .select(col("lang"), col("sig_matches"),
        (col("sig_matches").cast(DoubleType) / lit(SIG_K.toDouble))
          .as("est_jaccard"),
        col("n_common"), col("n_union"),
        (col("n_common").cast(DoubleType) / col("n_union").cast(DoubleType))
          .as("exact_jaccard"))
  }

  /** q91: ANALYZE-style column statistics over `lineitem` — per column:
    * row/null counts, exact NDV, min/max, and DISCRETE (type-7-free)
    * quartile boundaries — the statistics block a cost-based optimizer
    * keeps per column, computed as a query. Boundaries are exact disc
    * percentiles — the smallest value whose cumulative count reaches
    * ceil(q·n) — so no interpolation arithmetic exists to diverge between
    * engines; the thresholds are pure integer ceilings ((n+3) div 4 etc.).
    *
    * Scale shape: the profiled columns unpivot IN-SCAN (stack is a
    * generator, not a shuffle); everything then rides ONE (col, value)
    * aggregation — the frequency table — from which NDV/min/max collapse
    * per column and the quartiles come from a cumulative-count window over
    * DISTINCT values (|vc| ≤ n rows, usually far fewer). The per-column
    * window partition bounds parallelism by column count — the honest cost
    * of exact boundaries; the 100 TB swap is approx_percentile/HLL per
    * column in one pass (q40's sketch pattern) with this exact form as the
    * anchor, and the same unpivot feeding both. */
  /** q150: A/B experiment analysis — users deterministically assigned to
    * control/treatment by the hash60 parity of their salted user_id (the
    * replayable bucketing every experimentation platform runs; the same
    * md5 idiom as q116's train/val/test split), conversion = the user
    * purchased within 24 hours of their first activity (a windowed
    * definition — "ever purchased" saturates to 100% on a month of
    * activity, collapsing the pooled variance to zero and the z to a
    * division by zero), compared with the two-proportion pooled z-statistic
    * z = (p1−p0) / sqrt(p̂(1−p̂)(1/n0+1/n1)) and the |z| > 1.96 verdict.
    * Because arms come from a hash (an A/A test in truth — the events
    * feed has no real treatment), the EXPECTED verdict is "not
    * significant", and the gate pins the full statistic exactly: counts
    * are integers, and the z tree is division/multiply/sqrt primitives
    * in one declared order, bit-identical in both engines (the
    * qualityScore discipline — no transcendentals, no quantization
    * needed).
    *
    * Scale shape: one scan collapsing to per-user conversion flags
    * (map-side partial max), one 2-row arm aggregation, one 1-row
    * summary — regression-free statistics over any corpus size. */
  val q150AbTest: Q = (s, d) => {
    import graft.operators.TextOps
    val ua = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      .select(col("user_id"),
        when(col("tp") < col("t0") + expr("INTERVAL 24 HOUR"), 1L)
          .otherwise(0L).as("converted"))
      .withColumn("arm", pmod(TextOps.hash60(concat(lit("ab:"),
        col("user_id").cast(org.apache.spark.sql.types.StringType))), lit(2L)))
    val w = ua.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
      .agg(max(when(col("arm") === 0L, col("n"))).as("n0"),
        max(when(col("arm") === 0L, col("c"))).as("c0"),
        max(when(col("arm") === 1L, col("n"))).as("n1"),
        max(when(col("arm") === 1L, col("c"))).as("c1"))
    val p0 = col("c0").cast(DoubleType) / col("n0").cast(DoubleType)
    val p1 = col("c1").cast(DoubleType) / col("n1").cast(DoubleType)
    val pp = (col("c0") + col("c1")).cast(DoubleType) /
      (col("n0") + col("n1")).cast(DoubleType)
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n0").cast(DoubleType) +
        lit(1.0) / col("n1").cast(DoubleType)))
    val z = (p1 - p0) / se
    w.select(col("n0"), col("c0"), col("n1"), col("c1"),
      p0.as("p0"), p1.as("p1"), (p1 - p0).as("lift"), z.as("z"),
      (abs(z) > lit(1.96)).as("significant"))
  }

  /** q146: nested document assembly — the denormalize-for-serving export:
    * each order ships with its line items NESTED as a sorted array of
    * structs, serialized to JSON (the shape a search index, document
    * store, or API cache ingests; the exact inverse of warehouse
    * normalization, and the output side of q60's JSON input scan). The
    * array sorts lexicographically by (line number, part key) before
    * serializing, so the JSON TEXT is deterministic and both engines
    * emit byte-identical bytes — the string itself is the gated artifact,
    * proving serialization (field order, number formatting, separators)
    * matches, not just the data.
    *
    * Scale shape: one keyed join + one collect_list aggregation sharing
    * the o_orderkey exchange; group size is bounded by the schema
    * (line items per order), so the nesting can never skew a reducer —
    * the property that makes nested export safe at 100 TB where an
    * unbounded collect_list would OOM. */
  val q146NestedExport: Q = (s, d) => {
    // the broadcast probe + per-order collect_list partials are map-side
    // work over the whole fact — rebalance (layout-adaptive no-op at
    // cluster inputs) keeps them off a single scan task
    Tables.spreadForCompute(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
        col("l_orderkey"))
      .select(col("l_orderkey"),
        col("l_linenumber").cast(LongType).as("ln"),
        col("l_partkey").cast(LongType).as("pk"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"))
      .agg(count(lit(1)).as("n_items"),
        to_json(array_sort(collect_list(struct(col("ln"), col("pk")))))
          .as("items_json"))
  }

  /** q145: functional-dependency profiling — does lhs DETERMINE rhs? The
    * data-profiling primitive behind key discovery, normalization advice,
    * and "can I safely join on this" checks (q91 profiles columns in
    * isolation; q125 checks DECLARED constraints; this measures the
    * inter-column structure itself). Eight candidate FDs across four
    * tables — keys that must hold and plausible-but-false dependencies
    * that must fail, so both verdict branches are exercised by data.
    * Per FD: distinct determinant groups, groups violating (more than
    * one distinct dependent), the worst group's dependent count, and the
    * holds verdict — all exact integers.
    *
    * Scale shape: each FD is one keyed distinct-count aggregation that
    * collapses map-side plus a 1-row summary; the eight independent
    * subtrees union concurrently (no cross-FD dependency). At 100 TB the
    * per-FD cost is one shuffle of the determinant's cardinality — the
    * same shape Spark's own ANALYZE uses per column, and FD candidates
    * over the same determinant would share the exchange. */
  private val FD_CANDS: Seq[(String, String, String)] = Seq(
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("events", "event_id", "user_id"),
    ("events", "user_id", "event_type"),
    ("documents", "doc_id", "lang"),
    ("documents", "source", "lang"),
    ("lineitem", "l_orderkey", "l_partkey"),
    ("customer", "c_custkey", "c_nationkey"))

  val q145FdProfile: Q = (s, d) => {
    def table(n: String) = n match {
      case "orders" => Tables.orders(s, d)
      case "events" => Tables.events(s, d)
      case "documents" => Tables.documents(s, d)
      case "lineitem" => Tables.lineitem(s, d)
      case "customer" => Tables.customer(s, d)
    }
    FD_CANDS.map { case (t, lhs, rhs) =>
      table(t).groupBy(col(lhs))
        .agg(countDistinct(col(rhs)).as("k"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_viol"),
          max(col("k")).as("max_rhs"))
        .select(lit(t).as("tbl"), lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("n_groups"), col("n_viol"), col("max_rhs"),
          (col("n_viol") === 0L).as("holds"))
    }.reduce(_.unionAll(_))
  }

  private val STAT_COLS = Seq(
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_partkey", "l_suppkey")

  /** The shared in-scan unpivot behind q91 (exact) and q231 (sketch):
    * stack() runs as a Generate inside the scan stage — one pass over
    * lineitem emits every (column, value) cell, never a union of
    * per-column scans. */
  private def statStacked(s: org.apache.spark.sql.SparkSession, d: String) = {
    val stackArgs = STAT_COLS
      .map(c => s"'$c', cast($c as double)").mkString(", ")
    // stack() fuses into the scan stage; a one-row-group input serializes
    // the 6×|rows| cell generation plus the partial aggregation above it on
    // one core. Layout-adaptive rebalance of ONLY the six profiled columns
    // ((partkey, suppkey)-keyed — high-cardinality, even) parallelizes the
    // generator; a no-op at ≥ core-count row groups (the 100 TB case keeps
    // the pure in-scan shape).
    Tables.spreadForCompute(
        Tables.lineitem(s, d).select(STAT_COLS.map(col): _*),
        col("l_partkey"), col("l_suppkey"))
      .selectExpr(s"stack(${STAT_COLS.size}, $stackArgs) as (col_name, v)")
  }

  val q91ColumnStats: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val stacked = statStacked(s, d)
    val counts = stacked.groupBy(col("col_name")).agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col("v"))).as("n_null"),
      count(col("v")).as("nv"))
    val vc = stacked.filter(col("v").isNotNull)
      .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("c"))
    // TWO-LEVEL cumulative sum: a single window partitioned by col_name
    // serializes each column's whole frequency table into ONE task (the
    // widest column is most of the table). Instead, bucket each column's
    // value range (floor((v−min)·B/(max−min)) — monotone in v, so
    // bucket-majorated order equals value order), cumulate bucket totals
    // over the 6×B-row bucket table, and run the fine window per
    // (col_name, bucket) — CUM_B-way parallel per column, exact same cum
    // values. The bucket-offset table is K·B rows and broadcasts.
    val CUM_B = 64
    val rng = vc.groupBy(col("col_name"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val bucketed = vc.join(broadcast(rng), "col_name")
      .withColumn("bkt",
        when(col("vmax") === col("vmin"), lit(0))
          .otherwise(least(lit(CUM_B - 1),
            floor((col("v") - col("vmin")) / (col("vmax") - col("vmin"))
              * CUM_B).cast(IntegerType))))
      .drop("vmin", "vmax")
    val bktOff = bucketed.groupBy(col("col_name"), col("bkt"))
      .agg(sum(col("c")).as("bs"))
      .withColumn("off", coalesce(sum(col("bs")).over(
        Window.partitionBy(col("col_name")).orderBy(col("bkt"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("col_name"), col("bkt"), col("off"))
    val cum = bucketed.join(broadcast(bktOff), Seq("col_name", "bkt"))
      .withColumn("cum", col("off") + sum(col("c")).over(
        Window.partitionBy(col("col_name"), col("bkt")).orderBy(col("v"))
          .rowsBetween(Long.MinValue, 0)))
    cum.join(broadcast(counts), "col_name")
      .groupBy(col("col_name")).agg(
        first(col("n_rows")).as("n_rows"),
        first(col("n_null")).as("n_null"),
        count(lit(1)).as("ndv"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        min(when(col("cum") >= expr("(nv + 3) div 4"), col("v"))).as("p25"),
        min(when(col("cum") >= expr("(nv + 1) div 2"), col("v"))).as("p50"),
        min(when(col("cum") >= expr("(nv * 3 + 3) div 4"), col("v"))).as("p75"))
  }

  /** q231: q91's 100 TB SKETCH TWIN — the same per-column profile over the
    * same in-scan unpivot, with the two rank-heavy exacts swapped for
    * mergeable sketches: NDV via HyperLogLog++ (`approx_count_distinct`,
    * fixed ~2.5 KB state per column vs q91's keyed shuffle of every
    * distinct (col, value) pair) and percentiles via the
    * `approx_percentile` digest (map-side mergeable, no per-column window
    * sort at all). ONE aggregation, one exchange carrying six sketch
    * states per task — at 10¹² rows this is the profile a nightly ANALYZE
    * actually runs, while q91's exact plan (frequency table + cumulative
    * window) is what it is bounded against. No DuckDB oracle — sketch
    * internals differ across engines — so the gate records the weaker
    * rows-only check; q91 stays the hash-green anchor and SketchSpec pins
    * the error (exact n_rows/n_null/min/max equality, HLL 3σ on NDV,
    * rank-error ≤ nv/accuracy on every percentile) — the q40/q70 twin
    * discipline applied to profiling. */
  val q231ColumnSketch: Q = (s, d) =>
    // ONE digest per column answering all three ranks (the array form),
    // not three: separate approx_percentile calls each maintain their own
    // accuracy-10000 buffer per partial — 3× the update and merge cost of
    // the identical digest (measured 4.9 s → this form halves the query).
    statStacked(s, d)
      .groupBy(col("col_name")).agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        approx_count_distinct(col("v")).as("ndv_approx"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        approx_percentile(col("v"), array(lit(0.25), lit(0.5), lit(0.75)),
          lit(10000)).as("ps"))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("ndv_approx"), col("min_v"), col("max_v"),
        element_at(col("ps"), 1).as("p25_approx"),
        element_at(col("ps"), 2).as("p50_approx"),
        element_at(col("ps"), 3).as("p75_approx"))

  /** q235: the STORED-SKETCH serving architecture, on the engine-native
    * Apache DataSketches functions — the two-level pattern every 100 TB
    * metrics platform runs: a nightly pre-aggregation stores ONE row per
    * (day, event_type) carrying sketch BYTES (HLL of the distinct users,
    * KLL of the value distribution) in plain parquet binary columns; the
    * serving query answers "distinct users and value quantiles over any
    * day range" by UNIONING the stored sketches — the raw events are
    * never rescanned (spec-pinned: the serve side's only input is the
    * day-grain store; the q153/q211 incremental discipline with the
    * official mergeable-sketch toolkit instead of hand-built registers).
    * Contrast: q211's hand-built registers are bit-replayable in the
    * DuckDB oracle (hash-green); the DataSketches binaries are not, so
    * this rows-only entry anchors to the exact event-scan answers via
    * SketchSpec (HLL lgK=12 ⇒ rsd ≈ 1.6%, bounded at 5%; KLL k=200 ⇒
    * ~1.7% rank error, bounded at 3·n/100) and pins that the round-trip
    * through parquet bytes changes nothing.
    *
    * Scale shape: the build is one keyed aggregation whose partials are
    * fixed-size sketches (map-side combined); the store is
    * days × |types| rows regardless of corpus size; the serve is an
    * aggregation OVER THE STORE — the fact table's size appears in
    * neither the serve scan nor any exchange. */
  val q235SketchStore: Q = (s, d) => {
    val daily = sketchDailyStore(s, d)
    daily.groupBy(col("event_type")).agg(
        sum(col("n_rows")).as("n_rows"),
        hll_sketch_estimate(hll_union_agg(col("users_hll"))).as("users_approx"),
        kll_sketch_get_quantile_double(kll_merge_agg_double(col("value_kll")),
          lit(0.5)).as("p50_value_approx"))
      .orderBy(col("event_type"))
  }

  /** q235's day-grain sketch store, materialized write-once through
    * parquet (binary sketch columns round-trip through the lake format —
    * the property that makes the architecture real, not just an in-plan
    * rewrite). Shared with SketchSpec's bounds/round-trip pins. */
  private[graft] def sketchDailyStore(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, d).select(
      to_date(col("ts")).as("day"), col("event_type"),
      col("user_id"), col("value"))
    val daily = ev.groupBy(col("day"), col("event_type")).agg(
      hll_sketch_agg(col("user_id")).as("users_hll"),
      kll_sketch_agg_double(col("value")).as("value_kll"),
      count(lit(1)).as("n_rows"))
    graft.operators.Scale.writeOnce(daily,
      s"graft_sketch_daily_${ScaleQueries.sfTag(d)}",
      graft.operators.Scale.dirFingerprint(s"$d/events.parquet"))
      .read(s)
  }

  /** q238: PROFILE HISTORY without rescans — q231's sketch column profile
    * wired into q235's stored-sketch architecture (the round-11 verdict's
    * follow-through): a nightly pass stores ONE row per (day, column) of
    * the events feed carrying mergeable profile state — exact n_rows /
    * n_null / min / max (already monoids) plus HLL sketch bytes for NDV
    * and KLL sketch bytes for percentiles — and the serving query answers
    * "profile of any day range" by MERGING stored states: sums, min/max,
    * `hll_union_agg`, `kll_merge_agg_double`. The events fact appears in
    * no serve scan (spec-pinned, q235's discipline); the range served
    * here is the feed's trailing 28 days, the nightly-ANALYZE window a
    * drift monitor actually reads, and the one driver-side step is a
    * 1-row max(day) aggregate OVER THE STORE (metadata-sized — the store
    * is days × columns rows regardless of corpus size).
    *
    * The unpivot carries TWO projections of each profiled value: a double
    * (`v`, feeding min/max and the KLL quantile digest — the numeric
    * profile axis; NOTE a 64-bit id above 2^53 rounds under this cast,
    * the standard numeric-profiling caveat) and the canonical string of
    * the ORIGINAL typed value (`vs`, feeding the HLL NDV sketch —
    * `hll_sketch_agg` takes int/long/string/binary, and string-of-long is
    * a true 1:1 recoding, so NDV is exact-semantics at ANY id magnitude,
    * never a victim of double rounding). The SketchSpec exact twin uses
    * the same projections. Like q231/q235 this is rows-only by design —
    * DataSketches binaries are not replayable in DuckDB — anchored by
    * SketchSpec to the exact profile computed straight from events over
    * the same day range (exact fields equal; HLL within 3σ; KLL
    * quantiles within rank-error bounds). */
  /** The q238/q241 serving plan over the SAME store, parameterized by the
    * trailing-day range — the store is range-independent by construction
    * (mergeable day-grain states), and gating TWO ranges proves it on the
    * artifact chain rather than in prose (round-13 verdict #7). */
  private[graft] def profileServe(s: org.apache.spark.sql.SparkSession,
      d: String, days: Int): org.apache.spark.sql.DataFrame = {
    val store = profileDailyStore(s, d)
    // metadata-sized driver step: one row off the day-grain store
    val maxDay = store.agg(max(col("day"))).collect()(0).getDate(0)
    store.filter(col("day") > date_sub(lit(maxDay), days))
      .groupBy(col("col_name")).agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_null")).as("n_null"),
        hll_sketch_estimate(hll_union_agg(col("ndv_hll"))).as("ndv_approx"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        kll_merge_agg_double(col("value_kll")).as("m"))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("ndv_approx"), col("min_v"), col("max_v"),
        kll_sketch_get_quantile_double(col("m"), lit(0.25)).as("p25_approx"),
        kll_sketch_get_quantile_double(col("m"), lit(0.5)).as("p50_approx"),
        kll_sketch_get_quantile_double(col("m"), lit(0.75)).as("p75_approx"))
      .orderBy(col("col_name"))
  }

  val q238ProfileHistory: Q = (s, d) => profileServe(s, d, 28)

  /** q241: the SAME profile store serving a trailing-7-day range — range
    * independence as a gated entry. Rows-only like q238 (DataSketches
    * binaries are not replayable in DuckDB), anchored by SketchSpec to
    * the exact 7-day range profile over the shared unpivot ("q241 range-7
    * serve", the same bounds as q238's 28-day case). A store built
    * once serves every window; only the serve filter changes. */
  val q241ProfileRange7: Q = (s, d) => profileServe(s, d, 7)

  /** The columns q238 profiles (numeric surface of the events feed) and
    * its day-grain store: one row per (day, col_name) with exact monoid
    * fields + HLL/KLL sketch bytes, write-once through parquet (binary
    * round-trip — the property that makes the store real). Shared with
    * SketchSpec's bounds/serve-isolation pins. */
  private[graft] val PROFILE_COLS = Seq("event_id", "user_id", "value")

  /** The (day, col_name, v double, vs string) unpivot of the events feed
    * that BOTH the store build and SketchSpec's exact twin run — one
    * definition so a new profiled column (or a cast change) can never
    * drift between the sketch path and its verification. */
  private[graft] def profileStacked(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val stackArgs = PROFILE_COLS
      .map(c => s"'$c', cast($c as double), cast($c as string)").mkString(", ")
    Tables.events(s, d)
      .selectExpr("to_date(ts) as day",
        s"stack(${PROFILE_COLS.size}, $stackArgs) as (col_name, v, vs)")
  }

  private[graft] def profileDailyStore(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val daily = profileStacked(s, d).groupBy(col("day"), col("col_name")).agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col("v"))).as("n_null"),
      min(col("v")).as("min_v"),
      max(col("v")).as("max_v"),
      hll_sketch_agg(col("vs")).as("ndv_hll"),
      kll_sketch_agg_double(col("v")).as("value_kll"))
    graft.operators.Scale.writeOnce(daily,
      s"graft_profile_daily_${ScaleQueries.sfTag(d)}",
      // ndv/v2: NDV state switched from string-of-double to string-of-
      // original — a stale store must not satisfy the spec
      s"ndv/v2|${graft.operators.Scale.dirFingerprint(s"$d/events.parquet")}")
      .read(s)
  }

  /** q95: the analytic window-function surface in one gated query — rank,
    * dense_rank, percent_rank, cume_dist over the VALUE ordering (ties
    * share ranks, exactly the semantics a reporting layer expects);
    * row_number and ntile over a TOTAL ordering (value + unique key —
    * ntile's tie placement is order-dependent, so a non-total ordering
    * would be nondeterministic by construction); lag/lead neighbors; and
    * the inter-order day gap over the DATE ordering. percent_rank and
    * cume_dist are rank ratios — exact rational arithmetic, bit-portable.
    *
    * Scale shape: all six window specs share the o_custkey partitioning,
    * so Spark plans ONE hash exchange and per-partition sorts (one per
    * distinct ordering) — windows never repartition between specs. */
  val q95WindowSuite: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val byVal = W.partitionBy(col("o_custkey")).orderBy(col("price"))
    val total = W.partitionBy(col("o_custkey"))
      .orderBy(col("price"), col("o_orderkey"))
    val byDate = W.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast(DoubleType).as("price"), col("o_orderdate"))
      .withColumn("rn", row_number().over(total))
      .withColumn("rnk", rank().over(byVal))
      .withColumn("drnk", dense_rank().over(byVal))
      .withColumn("prnk", percent_rank().over(byVal))
      .withColumn("cdist", cume_dist().over(byVal))
      .withColumn("tile4", ntile(4).over(total))
      .withColumn("prev_price", lag(col("price"), 1).over(total))
      .withColumn("next_price", lead(col("price"), 1).over(total))
      .withColumn("gap_days",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byDate)))
      .drop("o_orderdate")
  }

  /** The q141 state-machine SQL, shared VERBATIM between the Spark query
    * and the DuckDB oracle (only the events table name differs): one
    * definition of the transition function, zero drift risk. */
  private def dfaSeqSql(eventsTable: String): String =
    s"""SELECT * FROM (
       |    SELECT user_id,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |        AS step,
       |      event_type
       |    FROM $eventsTable) x
       |  WHERE step <= 8""".stripMargin

  /** The walk over a step-indexed chain relation and a seed user relation —
    * the ONE copy of the transition function both engines run.
    * `seqRel`/`usersRel` are table names or parenthesized subqueries. */
  private def dfaWalkSql(seqRel: String, usersRel: String): String =
    s"""WITH RECURSIVE walk AS (
       |  SELECT user_id, 0 AS step, 'start' AS state
       |  FROM $usersRel u
       |  UNION ALL
       |  SELECT s.user_id, s.step, CASE
       |      WHEN w.state = 'converted' THEN 'converted'
       |      WHEN s.event_type = 'purchase' THEN 'converted'
       |      WHEN s.event_type = 'error' THEN 'churn_risk'
       |      WHEN s.event_type = 'click' THEN 'engaged'
       |      WHEN s.event_type = 'view' THEN
       |        CASE WHEN w.state = 'engaged' THEN 'engaged'
       |             ELSE 'browsing' END
       |      WHEN s.event_type = 'signup' THEN
       |        CASE WHEN w.state = 'start' THEN 'browsing'
       |             ELSE w.state END
       |      ELSE w.state END AS state
       |  FROM walk w JOIN $seqRel s
       |    ON s.user_id = w.user_id AND s.step = w.step + 1
       |  WHERE w.step < 8)
       |SELECT user_id, step AS steps, state AS final_state
       |FROM (SELECT *, row_number() OVER
       |        (PARTITION BY user_id ORDER BY step DESC) AS rn
       |      FROM walk) z
       |WHERE rn = 1""".stripMargin

  private def dfaSql(eventsTable: String): String =
    dfaWalkSql(s"(${dfaSeqSql(eventsTable)})",
      s"(SELECT DISTINCT user_id FROM $eventsTable)")

  /** q141: recursive CTE — the declarative twin of the hand-looped
    * iteration family (q44's label propagation and q89's PageRank drive
    * the loop from Scala; this one hands the fixed-point to the ENGINE
    * via WITH RECURSIVE … UNION ALL, Spark 4's UnionLoop operator): each
    * user's event chain is walked in order through an engagement DFA
    * (start/browsing/engaged/converted-absorbing/churn_risk), and the
    * state after the first 8 transitions comes back per user. A DFA fold
    * is order-dependent and non-associative — the one sequence shape
    * plain windowed SQL cannot express without recursion (or a UDAF),
    * which is exactly the surface this query pins down.
    *
    * Scale shape: linear recursion — each of the 8 iterations is ONE
    * keyed join of the |users|-row frontier against the step-indexed
    * chain on (user_id, step), never a self-cross of walk; the UNION ALL
    * frontier stays |users| rows per level because the chain is
    * functional (out-degree 1 by row_number construction), so the working
    * set never explodes. The step cap bounds recursion depth far below
    * Spark's recursion level limit, and the chain table is pruned to the
    * walked steps UP FRONT — UnionLoop replays the chain subtree each
    * iteration, so every row past the cap would be re-ranked 8× for
    * nothing (measured ~2× on the bench before the prune). */
  val q141RecursiveDfa: Q = (s, d) => {
    Tables.events(s, d).createOrReplaceTempView("graft_q141_events")
    // UnionLoop replays the recursive step's WHOLE subtree every iteration
    // — including the loop-INVARIANT windowed chain, which would be
    // re-scanned and re-ranked 8×. Materialize the chain once
    // (localCheckpoint — truncated lineage, in-memory blocks) and let the
    // recursion join the |users|-row frontier against it; the seed user
    // set is the chain's step-1 rows (every user has ≥1 event, so the set
    // is identical to DISTINCT user_id over events — the oracle's inline
    // form). Same rows, 8× less chain work.
    val seq = s.sql(dfaSeqSql("graft_q141_events")).localCheckpoint()
    seq.createOrReplaceTempView("graft_q141_seq")
    s.sql(dfaWalkSql("graft_q141_seq",
      "(SELECT DISTINCT user_id FROM graft_q141_seq)"))
  }

  /** The q144 LATERAL SQL, shared verbatim with the oracle (table name is
    * the only difference) — one definition of the correlated top-k. */
  private def lateralSql(docsTable: String): String =
    s"""SELECT g.lang, g.source, t.doc_id, t.n_chars
       |FROM (SELECT DISTINCT lang, source FROM $docsTable) g,
       |LATERAL (SELECT doc_id, n_chars FROM $docsTable d
       |         WHERE d.lang = g.lang AND d.source = g.source
       |         ORDER BY n_chars DESC, doc_id LIMIT 3) t""".stripMargin

  /** q144: LATERAL correlated top-k — "for every (lang, source) cell, its
    * 3 longest documents", written the way a SQL user writes it: a
    * correlated LATERAL subquery with ORDER BY … LIMIT. The engine
    * credential is what Catalyst does underneath (q96's discipline,
    * extended to lateral correlation): the per-group subquery is
    * DECORRELATED into one window rank over the corpus whose LIMIT pushes
    * into WindowGroupLimit (a per-partition top-k heap — never a global
    * sort, never a per-group re-execution of the subquery), joined back
    * to the group list on the correlation keys. Plan-pinned; a naive
    * engine runs |groups| separate scans.
    *
    * Determinism: ties break on doc_id inside the subquery's ORDER BY, so
    * the 3 rows per cell are a total order — exact integers throughout. */
  val q144LateralTopk: Q = (s, d) => {
    Tables.documents(s, d).createOrReplaceTempView("graft_q144_docs")
    s.sql(lateralSql("graft_q144_docs"))
  }

  /** q96: correlated-subquery decorrelation — EXISTS, NOT EXISTS, and two
    * correlated scalar aggregates in one query, written exactly as a SQL
    * user would write them. The engine credential is what Catalyst does
    * underneath: EXISTS → left-semi join, NOT EXISTS → left-anti join,
    * the scalar aggregates → decorrelated grouped subplans joined on the
    * correlation key (plan-pinned: no per-row re-execution, no nested
    * loop). The above-average predicate cross-multiplies instead of
    * dividing (price · n > Σ price) so the comparison stays in exact
    * decimal/BIGINT arithmetic — avg() would lower to engine-specific
    * decimal division semantics. */
  val q96SubqueryDecorrelate: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_q96_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_q96_lineitem")
    s.sql(
      """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
        |FROM graft_q96_orders o
        |WHERE EXISTS (SELECT 1 FROM graft_q96_lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q96_lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
        |  AND o_totalprice * (SELECT count(*) FROM graft_q96_orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |      > (SELECT sum(o2.o_totalprice) FROM graft_q96_orders o2
        |         WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
  }

  /** q240: the TPC-H Q21 SHAPE — the hardest classic decorrelation form:
    * EXISTS and NOT EXISTS against the SAME fact table with different
    * correlation predicates, both carrying a non-equality term
    * (`l2.l_suppkey <> l1.l_suppkey`) on top of the equi-correlation
    * key. Semantics on this catalog's columns (no receipt/commit dates):
    * "the sole RETURNED supplier in finished multi-supplier orders" —
    * l1 is a returned line in an 'F' order; EXISTS l2 demands another
    * supplier in the same order; NOT EXISTS l3 demands no OTHER supplier's
    * line was returned; count per (nation, supplier), Q21's
    * ORDER BY numwait DESC tiebroken by the unique s_name, LIMIT 100.
    *
    * The engine credential (q96's discipline, doubled): Catalyst
    * decorrelates BOTH subqueries into one pass over the fact — EXISTS →
    * left-semi join, NOT EXISTS → left-anti join, each keyed on
    * l_orderkey with the <> term as a join residual — so lineitem is
    * scanned three times and joined twice on one key, never re-executed
    * per outer row. Plan-pinned: LeftSemi + LeftAnti present, no
    * BroadcastNestedLoopJoin, no CartesianProduct, and the top-k is a
    * TakeOrderedAndProject, not a global sort. At 100 TB all three
    * lineitem legs shuffle on the same l_orderkey key (AQE can reuse the
    * exchange), the supplier/nation dims broadcast, and the LIMIT caps
    * the driver's collect at 100 rows. */
  val q240SoleFaultSupplier: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_q240_lineitem")
    Tables.orders(s, d).createOrReplaceTempView("graft_q240_orders")
    Tables.supplier(s, d).createOrReplaceTempView("graft_q240_supplier")
    Tables.nation(s, d).createOrReplaceTempView("graft_q240_nation")
    s.sql(
      """SELECT n_name, s_name, count(*) AS numwait
        |FROM graft_q240_supplier, graft_q240_lineitem l1,
        |     graft_q240_orders, graft_q240_nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM graft_q240_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q240_lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey
        |GROUP BY n_name, s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)
  }

  private[graft] val KMV_K = 64
  private val KMV_SPACE = 1152921504606846976L // 2^60, the hash60 value space

  /** q197: KMV (k-minimum-values) DISTINCT sketch with set algebra — the
    * ORDER-STATISTIC member of the mergeable-sketch family (q165 LC bitmap
    * = presence monoid, q166 HLL = max monoid, q152 CM = add monoid; KMV's
    * state is "the k smallest distinct hashes", merged by re-taking the k
    * smallest — Bar-Yossef et al. 2002). What KMV adds over HLL: the
    * states support DIRECT intersection estimates (the merged sketch is a
    * uniform sample of the union, so counting members that appear in both
    * input states estimates Jaccard — no inclusion–exclusion error
    * stacking as in q167/q176), and the estimator (k−1)·2⁶⁰/h₍ₖ₎ is a
    * closed form over exact integers.
    *
    * The aggregation is [[graft.functions.KmvAgg]] — a bounded typed
    * buffer that partial-aggregates map-side, ≤ k longs per (group, task)
    * on the exchange (the q23/TopKAgg discipline; the window-rank
    * formulation would shuffle every distinct hash). Below k the sketch
    * IS the set, so the estimate is exact — both regimes are exercised
    * across the three gate scales. Each row carries its exact twin
    * (count distinct / exact set intersection) computed in the same
    * query, so the gate hashes sketch AND anchor together — the sketch
    * family's anchor discipline with zero rows-only entries.
    *
    * Scale: the exact anchors are the expensive side (full distinct
    * shuffles) and exist FOR the gate; production ships the k-long
    * states. Estimate division is DECIMAL(38)·div — (k−1)·2⁶⁰ ≈ 7.3e19
    * overflows BIGINT, so both engines compute it in 128-bit exactly. */
  /** The q197 state builder over any (event_type, user_id) frame — ONE
    * definition for the batch sketch and the streaming twin
    * (StreamingSpec): the bounded k-min buffer is a merge monoid, so the
    * Complete-mode streaming aggregation state IS this state, bit-equal
    * on any chop of the same feed. */
  private[graft] def kmvStates(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val kmv = udaf(graft.functions.KmvAgg.kMin(KMV_K))
    df.select(col("event_type"), graft.operators.TextOps.hash60(
        concat(lit("kmv:"), col("user_id").cast(StringType))).as("h"))
      .groupBy(col("event_type")).agg(kmv(col("h")).as("state"))
  }

  val q197KmvSketch: Q = (s, d) => {
    val uh = Tables.events(s, d).select(col("event_type"),
      graft.operators.TextOps.hash60(
        concat(lit("kmv:"), col("user_id").cast(StringType))).as("h"),
      col("user_id"))
    val st = kmvStates(Tables.events(s, d)
        .select(col("event_type"), col("user_id")))
      .join(uh.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact")), "event_type")
    def estOf(state: Column): Column =
      when(size(state) < KMV_K, size(state).cast(LongType))
        .otherwise(expr(s"CAST((CAST(${KMV_K - 1} AS DECIMAL(38,0)) * $KMV_SPACE) " +
          "div element_at(state, -1) AS BIGINT)"))
    def kthOf(state: Column): Column =
      when(size(state) < KMV_K, lit(-1L)).otherwise(element_at(state, -1))
    val tyRows = st.select(col("event_type").as("scope"),
      size(col("state")).cast(LongType).as("state_size"),
      kthOf(col("state")).as("kth_hash"),
      estOf(col("state")).as("est"),
      col("exact"),
      lit(-1L).as("est_inter"), lit(-1L).as("exact_inter"))
    // pairwise set algebra over the stored states (5 rows — the point is
    // that NO raw data is touched again)
    val a = st.select(col("event_type").as("ta"), col("state").as("sa"),
      col("exact").as("ea"))
    val b = st.select(col("event_type").as("tb"), col("state").as("sb"),
      col("exact").as("eb"))
    val merged = a.join(b, col("ta") < col("tb"))
      .withColumn("state", slice(array_sort(array_union(col("sa"), col("sb"))),
        1, KMV_K))
      .withColumn("jn", size(filter(col("state"),
        h => array_contains(col("sa"), h) && array_contains(col("sb"), h)))
        .cast(LongType))
    // exact anchors for the pair rows (the gate's independent truth)
    val ex = uh.select(col("event_type"), col("user_id")).distinct()
    val exInter = ex.as("x").join(ex.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("xi"))
    val pairRows = merged.join(exInter, Seq("ta", "tb"), "left_outer")
      .withColumn("est_u", estOf(col("state")))
      .select(concat(col("ta"), lit("|"), col("tb")).as("scope"),
        size(col("state")).cast(LongType).as("state_size"),
        kthOf(col("state")).as("kth_hash"),
        col("est_u").as("est"),
        (col("ea") + col("eb") - coalesce(col("xi"), lit(0L))).as("exact"),
        // Jaccard-from-states: jn/|merged| of the union estimate
        expr("(jn * est_u) div size(state)").as("est_inter"),
        coalesce(col("xi"), lit(0L)).as("exact_inter"))
    tyRows.unionByName(pairRows)
  }

  /** q198: HISTOGRAM SPLIT FINDING — the decision-stump primitive at the
    * core of distributed GBDT (LightGBM/XGBoost's histogram algorithm):
    * for each segment, the value threshold that best separates a binary
    * label, scored over a VALUE HISTOGRAM, never over rows. Label here:
    * weekend-ness ((epoch_days+4) mod 7 ∈ {0,6} — pure integer calendar,
    * identical in any engine); feature: exact cents; segment: event_type.
    *
    * The split criterion is misclassification count — min(pos,n−pos) on
    * each side — chosen over Gini/entropy deliberately: it is EXACT
    * INTEGER, so the argmin (min over struct(err, cents)) has exactly one
    * answer in every engine, no rational-comparison overflow, no float
    * boundary (the q161/q158 integer-verdict discipline).
    *
    * Scale shape: one exchange builds the (segment, cents) histogram with
    * map-side combine (the exchange carries NDV rows, not corpus rows —
    * the q168 contract); cumulative (n, pos) prefixes run per segment
    * over histogram rows; the argmin is an algebraic aggregate. At 100 TB
    * this is exactly LightGBM's distributed layout: bins travel, rows
    * don't. */
  val q198SplitFinding: Q = (s, d) => {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
    val weekend = ((expr("unix_micros(ts) div 86400000000") + lit(4L)) % 7L)
      .isin(0L, 6L)
    val hist = Tables.events(s, d)
      .select(col("event_type"), cents.as("c"),
        when(weekend, 1L).otherwise(0L).as("y"))
      .groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    val scored = hist
      .withColumn("nl", sum(col("n")).over(w))
      .withColumn("pl", sum(col("pos")).over(w))
      .withColumn("nt", sum(col("n")).over(wAll))
      .withColumn("pt", sum(col("pos")).over(wAll))
      .withColumn("err",
        least(col("pl"), col("nl") - col("pl")) +
          least(col("pt") - col("pl"),
            (col("nt") - col("nl")) - (col("pt") - col("pl"))))
    scored.groupBy(col("event_type"))
      .agg(min(struct(col("err"), col("c"))).as("best"),
        min(col("nt")).as("n"), min(col("pt")).as("pos"))
      .select(col("event_type"), col("n"), col("pos"),
        col("best.c").as("best_cents"), col("best.err").as("best_err"),
        least(col("pos"), col("n") - col("pos")).as("base_err"),
        (least(col("pos"), col("n") - col("pos")) - col("best.err")).as("gain"))
  }

  private val IBLT_M = 8192 // cells; decodes sym-diffs up to ~0.8·M/k keys
  private val IBLT_K = 3

  /** q208: SET RECONCILIATION by invertible Bloom lookup table (Eppstein
    * et al. SIGCOMM'11 "What's the difference?"; Goodrich–Mitzenmacher
    * IBLT) — recover the EXACT symmetric difference of two corpus
    * snapshots (q77's bucket snapshots) from two fixed-size sketches.
    * This is how two datacenters sync a 100 TB corpus: each side builds
    * an [[IBLT_M]]-cell table (cnt, Σ±key, Σ±checksum per cell, keys
    * hashed to [[IBLT_K]] cells), ships KILOBYTES, subtracts cell-wise —
    * common keys cancel exactly — and peels pure cells (|cnt| = 1,
    * checksum consistent) until the full diff falls out. Communication is
    * ∝ the DIFF BOUND, never the corpus.
    *
    * Here both sketches build in ONE pass (side A contributes +1, side B
    * −1, so the aggregation IS the subtracted table): 3 generated rows
    * per key, one keyed sum into 8192 cells — integer sums, order-free.
    * The peel runs driver-side over the collected cells (a SKETCH, not
    * data — 8192 rows whatever the corpus size, the q90-learner-state
    * altitude) and THROWS if any cell survives undecoded: silent partial
    * recovery is the one failure mode reconciliation must not have.
    *
    * The gate is NOT a replay: the DuckDB oracle computes the symmetric
    * difference by exact anti-joins. Hash-green therefore proves the
    * whole mechanism end-to-end — position hashes, cancellation,
    * peeling — against independent ground truth, at every scale. */
  val q208IbltReconcile: Q = (s, d) => {
    import graft.operators.TextOps
    val bucket = pmod(TextOps.hash60(col("doc_id").cast(StringType)), lit(5))
    val docs = Tables.documents(s, d).select(col("doc_id"), bucket.as("bkt"))
    val signed = docs.filter(col("bkt") =!= 0).select(col("doc_id"), lit(1L).as("sgn"))
      .unionByName(docs.filter(col("bkt") =!= 1)
        .select(col("doc_id"), lit(-1L).as("sgn")))
    val chk = TextOps.hash60(concat(lit("ibltc:"), col("doc_id").cast(StringType)))
    val cells = signed
      .select(col("doc_id"), col("sgn"), chk.as("chk"),
        explode(array((0 until IBLT_K).map(j =>
          pmod(TextOps.hash60(concat(lit(s"iblt$j:"),
            col("doc_id").cast(StringType))), lit(IBLT_M.toLong))): _*)).as("pos"))
      .groupBy(col("pos"))
      .agg(sum(col("sgn")).as("cnt"),
        sum(col("sgn") * col("doc_id")).as("keysum"),
        sum(col("sgn") * col("chk")).as("chksum"))
      .collect()
    // driver-side peel over the 8192-cell sketch
    val cnt = new Array[Long](IBLT_M)
    val keysum = new Array[Long](IBLT_M)
    val chksum = new Array[Long](IBLT_M)
    cells.foreach { r =>
      val p = r.getAs[Long]("pos").toInt
      cnt(p) = r.getAs[Long]("cnt")
      keysum(p) = r.getAs[Long]("keysum")
      chksum(p) = r.getAs[Long]("chksum")
    }
    def positions(key: Long): Seq[Int] = (0 until IBLT_K)
      .map(j => (TextOps.hash60Jvm(s"iblt$j:$key") % IBLT_M).toInt)
    val recovered = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var progress = true
    while (progress) {
      progress = false
      var p = 0
      while (p < IBLT_M) {
        val sgn = cnt(p)
        if (sgn == 1L || sgn == -1L) {
          val key = sgn * keysum(p)
          if (key >= 0 &&
              chksum(p) == sgn * TextOps.hash60Jvm(s"ibltc:$key")) {
            recovered += ((key, if (sgn == 1L) "only_a" else "only_b"))
            positions(key).foreach { q =>
              cnt(q) -= sgn
              keysum(q) -= sgn * key
              chksum(q) -= sgn * TextOps.hash60Jvm(s"ibltc:$key")
            }
            progress = true
          }
        }
        p += 1
      }
    }
    require((0 until IBLT_M).forall(p => cnt(p) == 0 && keysum(p) == 0 &&
      chksum(p) == 0),
      s"IBLT peel incomplete: diff exceeds the m=$IBLT_M decode capacity")
    import s.implicits._
    recovered.toSeq.toDF("doc_id", "side")
  }

  private val AMS_R = 16

  /** q201: AMS second-frequency-moment sketch (Alon–Matias–Szegedy,
    * STOC'96) over `l_partkey` — F₂ = Σ_x c_x² is exactly the SELF-JOIN
    * SIZE of lineitem on partkey, the number a join optimizer wants before
    * committing to a plan and the classic repeat-rate/skew statistic
    * (uniform keys give F₂ ≈ N²/V; a heavy hitter drives it toward N²).
    * Estimator r carries a ±1 sign per key — bit r of the shared
    * `hash60("ams:"||partkey)` — and Z_r = Σ_rows sign_r(key); E[Z_r²] =
    * F₂, and the output is the per-estimator Z_r, Z_r², their floor-mean
    * estimate, and the EXACT F₂ on every row (the gate's anchor, the q197
    * discipline: sketch and truth in one hash-gated result).
    *
    * The sketch is R=[[AMS_R]] BIGINTs computed by ONE aggregation over
    * the scan — no shuffle wider than the 1-row combine — and Z is LINEAR
    * in the data: sketch(A ⊎ B) = sketch(A) + sketch(B) element-wise, the
    * strongest mergeability a sketch can have (OperationalSpec proves it
    * on an arbitrary split; it also makes the state a streaming sum
    * monoid for free). Signs, sums, squares, and the floor-divided mean
    * are all exact BIGINT — order-free under any partitioning, replayed
    * hash-exact by the oracle. At sf0.1 |Z| ≤ 6·10⁵ so Z² ≤ 4·10¹¹; a
    * 100 TB stream pushes Z² past 2⁶³ and the squares (only) upgrade to
    * DECIMAL — the per-row sign sums stay BIGINT. */
  /** The R sign-sums over a frame with hash column `h` — shared by q201,
    * its linearity spec, and the streaming twin (an unkeyed sum is a
    * Complete-mode streaming aggregation as-is). */
  private[graft] def amsZ(hashed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    hashed.agg(
      sum(lit(1L) - lit(2L) * expr("(h div 1) % 2")).as("z0"),
      (1 until AMS_R).map(r =>
        sum(lit(1L) - lit(2L) * expr(s"(h div ${1L << r}) % 2")).as(s"z$r")): _*)

  val q201AmsF2: Q = (s, d) => {
    val rows = Tables.lineitem(s, d).select(
      graft.operators.TextOps.hash60(
        concat(lit("ams:"), col("l_partkey").cast(StringType))).as("h"))
    val sk = amsZ(rows)
      .withColumn("est_f2", expr(
        (0 until AMS_R).map(r => s"z$r * z$r")
          .mkString("(", " + ", s") div $AMS_R")))
    val exact = Tables.lineitem(s, d).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("f2_exact"))
    sk.crossJoin(exact) // 1-row × 1-row
      .select(col("est_f2"), col("f2_exact"),
        posexplode(array((0 until AMS_R).map(r => col(s"z$r")): _*))
          .as(Seq("r", "z")))
      .select(col("r").cast(LongType).as("r"), col("z"),
        (col("z") * col("z")).as("z_sq"), col("est_f2"), col("f2_exact"))
  }

  private val CS_R = 3 // count-sketch depth (median of 3)
  private val CS_W = 256 // count-sketch width

  /** q210: COUNT-SKETCH point frequencies (Charikar–Chen–Farach-Colton
    * ICALP'02) — the UNBIASED companion that completes the frequency-
    * sketch trio: q152's count-min only over-counts (biased up), q201's
    * AMS estimates the whole second moment, count-sketch answers point
    * queries with E[est] = c_x exactly, errors symmetric around truth.
    * Per depth row r a key hashes to one of [[CS_W]] signed counters;
    * est_r(x) = sgn_r(x)·C[r][pos_r(x)] and the reported estimate is the
    * exact median of the [[CS_R]] row estimates (sorted-array middle —
    * deterministic, replayed identically). The probe set is the top-20
    * keys by exact count (total order: count desc, key), so truth rides
    * every row — the q197/q201 anchor discipline.
    *
    * Scale shape: the sketch is one keyed aggregation of 3 generated
    * rows per item into 192 integer cells (map-side combined; cells are
    * LINEAR in the data like AMS — proven by the same split argument);
    * the probe joins 20 keys against a broadcast 192-row cell table.
    * At 100 TB the sketch is still 192 BIGINTs. */
  val q210CountSketch: Q = (s, d) => {
    import graft.operators.TextOps
    // 3 md5s per row fused into the scan — layout-adaptive rebalance of the
    // single projected column puts the hashing (and the exact-count partial
    // aggregations sharing this input) on every core; no-op at cluster
    // inputs (the sketch exchange stays 192 cells either way)
    val items = Tables.spreadForCompute(
      Tables.lineitem(s, d).select(col("l_partkey")), col("l_partkey"))
    // ONE md5 per (row, depth): pos is the low bits, the sign bit sits
    // above them — disjoint, so position and sign stay independent
    val cells = items
      .select(col("l_partkey"), posexplode(array((0 until CS_R).map(r =>
        TextOps.hash60(concat(lit(s"cs$r:"),
          col("l_partkey").cast(StringType)))): _*)).as(Seq("r", "h")))
      .groupBy(col("r"), pmod(col("h"), lit(CS_W.toLong)).as("pos"))
      .agg(sum(lit(1L) - lit(2L) * expr(s"(h div $CS_W) % 2")).as("c"))
    val top = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("l_partkey")).limit(20)
    val ests = (0 until CS_R).map { r =>
      val h = TextOps.hash60(concat(lit(s"cs$r:"),
        col("l_partkey").cast(StringType)))
      top.select(col("l_partkey"), lit(r).as("r"), h.as("h"))
    }.reduce(_ unionByName _)
      .select(col("l_partkey"), col("r"),
        pmod(col("h"), lit(CS_W.toLong)).as("pos"),
        (lit(1L) - lit(2L) * expr(s"(h div $CS_W) % 2")).as("sgn"))
    // the certified radius: per-row-estimate std is √(F₂resid/W); the
    // result carries it so the estimate is self-auditing (spec-bounded)
    val f2 = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("f2"))
    ests.join(broadcast(cells), Seq("r", "pos"))
      .groupBy(col("l_partkey"))
      .agg(collect_list(col("sgn") * col("c")).as("es"))
      .select(col("l_partkey"),
        element_at(array_sort(col("es")), (CS_R + 1) / 2).as("est"))
      .join(top, Seq("l_partkey"))
      .crossJoin(broadcast(f2))
      .select(col("l_partkey"), col("exact"), col("est"),
        floor(sqrt((col("f2") - col("exact") * col("exact"))
          .cast(DoubleType) / CS_W)).cast(LongType).as("err_bound"))
  }

  /** q211: SLIDING-WINDOW CARDINALITY from stored sketches — trailing
    * 7-day distinct users per day, computed from the per-day HLL register
    * table (q166's builder at day grain) with NO rescan of the raw
    * events: register rows fan out to the 7 target days they serve
    * (an in-scan generator — the window merge becomes a plain equi-keyed
    * MAX, never a range join) and each day's merged registers feed the
    * q166 shared estimate tree. This is the dashboard workload — "7-day
    * actives, daily" — run the way a lakehouse should: persist K·256
    * register rows per grain, answer every window from state.
    *
    * The exact trailing distinct count rides the same fan-out on the
    * (day, user) distinct pairs — the anchor column, so sketch error is
    * auditable per day. max(rho) is idempotent under re-arrival, so a
    * register row serving 7 windows is correct by the monoid, not by
    * luck. Estimates are the q166 shared float tree (one expression,
    * both engines); everything else is BIGINT.
    *
    * Scale shape: registers are |days|·256 rows whatever the corpus;
    * the fan-out multiplies REGISTER rows (×7), never event rows; both
    * aggregations collapse map-side. At 10⁹ events/day the raw scan
    * happens once to build the day's registers — each window after that
    * is state-only. */
  val q211SlidingHll: Q = (s, d) => {
    import graft.operators.TextOps
    // one md5 per event fused into the scan — rebalance (layout-adaptive
    // no-op at many-row-group inputs) so the register hashing runs at
    // core width
    val du = Tables.spreadForCompute(
        Tables.events(s, d).select(col("ts"), col("user_id")),
        col("user_id")).select(
      expr("unix_micros(ts) div 86400000000").as("day"),
      TextOps.hash60(concat(lit("hll:"),
        col("user_id").cast(StringType))).as("h"),
      col("user_id"))
    val regs = du
      .select(col("day"), pmod(col("h"), lit(HLL_M)).as("bucket"),
        expr(s"h div $HLL_M").as("w"))
      .select(col("day"), col("bucket"),
        when(col("w") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("w")))).as("rho"))
      .groupBy(col("day"), col("bucket")).agg(max(col("rho")).as("reg"))
    val span = regs.agg(max(col("day")).as("d1"))
    val win = regs
      .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
        col("bucket"), col("reg"))
      .crossJoin(broadcast(span)).filter(col("day") <= col("d1"))
      .groupBy(col("day"), col("bucket")).agg(max(col("reg")).as("reg"))
    val st = win.groupBy(col("day"))
      .agg(count(lit(1)).as("used_buckets"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - reg AS INT))"))
          .as("zsum"))
      .withColumn("zeros", lit(HLL_M) - col("used_buckets"))
      .withColumn("z", col("zsum") + col("zeros") * lit(9007199254740992L))
      .withColumn("est_milli", expr(hllEstSql("zeros", "z")))
    val exact = du.select(col("day"), col("user_id")).distinct()
      .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
        col("user_id"))
      .crossJoin(broadcast(span)).filter(col("day") <= col("d1"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("n_exact"))
    st.join(exact, Seq("day"))
      .select(col("day"), col("used_buckets"), col("zeros"), col("z"),
        col("est_milli"), col("n_exact"))
  }

  private val SF_B = 255 // sign-flip resamples; p resolution 1/(B+1)

  /** q218: PAIRED SIGN-FLIP PERMUTATION TEST — exact nonparametric
    * inference on the engine: "did the week-over-week level really
    * shift?" Per event type, the paired deltas Δ_d = cents(day d+7) −
    * cents(day d) give T_obs = ΣΔ_d; under the null (no shift, symmetric
    * pairs) every sign pattern of the Δ's is equally likely, so the
    * p-value is the rank of |T_obs| among [[SF_B]] sign-flipped
    * replicas T_b = Σ s_b(d)·Δ_d — the Fisher randomization test, the
    * assumption-free alternative to the t-test that q150/q188 presume.
    *
    * DETERMINISTIC resampling is the whole trick: s_b(d) is bit b-th of
    * nothing random — it is 1 − 2·(hash60("sf:b:type:day") mod 2), so
    * every engine, every partitioning, every re-run draws the identical
    * 255 sign patterns (the q74/q87 salted-hash discipline applied to
    * Monte-Carlo statistics). Everything is BIGINT cents; the p-value is
    * reported as the exact integer p_milli = 1000·(#{|T_b| ≥ |T_obs|}+1)
    * div (B+1) — the add-one estimator, never zero.
    *
    * Scale shape: the daily collapse is map-side; the pairing is one
    * self-join on (type, day+7); the resample fan-out multiplies DELTA
    * rows (K·days·B — thousands), never raw events, and lands in one
    * keyed sum. OperationalSpec plants a constant shift and the test
    * must max out (p = floor minimum); a permutation harness that cannot
    * reject a planted effect is decoration. */
  val q218SignFlipTest: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("c"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("cs"))
    val deltas = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.day") === col("a.day") + 7)
      .select(col("a.event_type").as("event_type"), col("a.day").as("day"),
        (col("b.cs") - col("a.cs")).as("delta"))
    signFlipTest(deltas)
  }

  /** The resample machinery over any (event_type, day, delta) frame —
    * shared with the spec's planted-shift proof. */
  private[graft] def signFlipTest(deltas: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.TextOps
    val obs = deltas.groupBy(col("event_type"))
      .agg(sum(col("delta")).as("t_obs"), count(lit(1)).as("n_pairs"))
    val sgn = lit(1L) - lit(2L) * pmod(TextOps.hash60(concat(
      lit("sf:"), col("b").cast(StringType), lit(":"), col("event_type"),
      lit(":"), col("day").cast(StringType))), lit(2L))
    val reps = deltas
      .select(col("event_type"), col("day"), col("delta"),
        explode(sequence(lit(0L), lit(SF_B - 1L))).as("b"))
      .select(col("event_type"), col("b"), (sgn * col("delta")).as("sd"))
      .groupBy(col("event_type"), col("b")).agg(sum(col("sd")).as("t_b"))
    reps.join(broadcast(obs), "event_type")
      .groupBy(col("event_type"), col("t_obs"), col("n_pairs"))
      .agg(sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L).otherwise(0L))
        .as("n_ge"))
      .select(col("event_type"), col("n_pairs"), col("t_obs"), col("n_ge"),
        lit(SF_B.toLong).as("n_reps"),
        expr(s"(1000 * (n_ge + 1)) div ${SF_B + 1}").as("p_milli"))
  }

  /** q219: 1-D WASSERSTEIN (earth-mover) DISTANCE between every pair of
    * event types' value distributions — the drift metric that closes the
    * family: q133's χ² sees bin masses, q174's KS sees the WORST CDF gap,
    * W₁ integrates ALL of it (∫|F_a − F_b|dx — how far the mass must
    * move), which is what makes it the standard embedding/score-drift
    * alarm. Discrete closed form, EXACT: on the merged cent support,
    * W₁·n_a·n_b = Σ_i (x_{i+1} − x_i)·|cumA_i·n_b − cumB_i·n_a| — every
    * factor BIGINT, the sum in DECIMAL(38,0) (it clears 2⁶³ at sf0.1),
    * reported as the exact scaled integer string plus one double
    * division for readability.
    *
    * Scale shape: the value histogram collapses map-side to distinct
    * cents per type (the q168/q181 distinct-value discipline — support
    * rows, never raw rows, cross the exchange); each pair's CDF walk is
    * one window over the merged support; K types = K(K−1)/2 pair walks
    * over K·|support| rows total. */
  val q219Wasserstein: Q = (s, d) => {
    val ct = Tables.events(s, d)
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("c"))
      .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("n"))
    val tot = ct.groupBy(col("event_type")).agg(sum(col("n")).as("nt"))
    // pair the types first, support second: build the (ta, tb, c) grid by
    // joining each pair's two histograms on the union support
    val pairs = tot.select(col("event_type").as("ta"), col("nt").as("n_a"))
      .join(tot.select(col("event_type").as("tb"), col("nt").as("n_b")),
        col("ta") < col("tb"))
    val sup = pairs.join(
      ct.select(col("event_type"), col("c")).distinct()
        .select(col("event_type"), col("c"))
        .withColumnRenamed("event_type", "st"),
      col("st") === col("ta") || col("st") === col("tb"))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("c"))
      .distinct()
    val withCounts = sup
      .join(ct.select(col("event_type").as("ta"), col("c"),
        col("n").as("na")), Seq("ta", "c"), "left")
      .join(ct.select(col("event_type").as("tb"), col("c"),
        col("n").as("nb")), Seq("tb", "c"), "left")
      .na.fill(0L, Seq("na", "nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ta"), col("tb")).orderBy(col("c"))
    withCounts
      .withColumn("cuma", sum(col("na")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("cumb", sum(col("nb")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("gap", lead(col("c"), 1).over(w) - col("c"))
      .filter(col("gap").isNotNull)
      .groupBy(col("ta"), col("tb"), col("n_a"), col("n_b"))
      .agg(sum((col("gap") * abs(col("cuma") * col("n_b") -
        col("cumb") * col("n_a"))).cast(DecimalType(38, 0))).as("w1_num"))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
        col("w1_num").cast(StringType).as("w1_num"),
        (col("w1_num").cast(DoubleType) /
          (col("n_a") * col("n_b")).cast(DoubleType)).as("w1_cents"))
  }

  /** q220: LOCAL CLUSTERING COEFFICIENT per node of the q157 co-purchase
    * graph — cc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)), the "how clique-like
    * is this node's neighborhood" score behind community features,
    * link-spam detection, and recommendation confidence. Rides q157's
    * degree-ordered triangle enumeration (each triangle counted once),
    * then fans each triangle to its three corners for the per-node
    * count; nodes of degree 1 have no defined cc and carry tri = 0 with
    * a NULL coefficient — surfaced, not dropped (q178's absence-is-a-
    * finding rule). Reported as the exact integer milli ratio
    * (2000·tri div (deg·(deg−1))) — no float anywhere.
    *
    * Scale shape: q157's wedge-join cost model (Σ outdeg² after
    * orientation), plus one corner fan-out (×3 on TRIANGLE rows) and a
    * node-keyed count — both tiny next to the wedge join. */
  val q220ClusteringCoef: Q = (s, d) => {
    // ONE co-occurrence mining pass: the edge list is checkpointed and
    // feeds both the degree count and the triangle enumeration (the
    // original called q157 wholesale, rebuilding the q155 mining a second
    // time inside the same plan)
    val e = partPairSupports(s, d).select(col("part_a"), col("part_b"))
      .localCheckpoint(true)
    val deg = e.select(explode(array(col("part_a"), col("part_b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val triCorners = trianglesFromEdges(e)
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("tri"))
    deg.join(triCorners, Seq("v"), "left")
      .na.fill(0L, Seq("tri"))
      .select(col("v").as("part"), col("deg"), col("tri"),
        when(col("deg") >= 2,
          expr("(2000 * tri) div (deg * (deg - 1))")).as("cc_milli"))
  }

  /** q228: EXACT AUC (Mann–Whitney U) per event type — "does the value
    * score separate weekend from weekday events": the ranking metric
    * every classifier eval reports, computed as a U-statistic so it runs
    * as windows + sums instead of the quadratic pair scan it literally
    * is. Ties are handled by MIDRANKS, kept integral by doubling:
    * 2·midrank = 2·(rank-before-group) + (tied_count + 1), so
    * num2 = 2·Σ_pos midrank − n₊(n₊+1) is an exact BIGINT and
    * AUC = num2 / (2·n₊·n₋) takes one float division. The spec proves
    * num2 equals the brute pair count 2·#{pos > neg} + #{pos = neg} in
    * BigInt — U-statistic algebra as a test — plus the label-swap
    * antisymmetry AUC + AUC' = 1 exactly in numerators.
    *
    * Scale shape: one rank window over cents per type (the q198
    * histogram trick would collapse it to distinct values if the domain
    * is small), one aggregation; no pair ever materializes. */
  val q228Auc: Q = (s, d) => {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
    val weekend = ((expr("unix_micros(ts) div 86400000000") + lit(4L)) % 7L)
      .isin(0L, 6L)
    val scored = Tables.events(s, d)
      .select(col("event_type"), cents.as("c"),
        when(weekend, 1L).otherwise(0L).as("y"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("c"))
    // 2·midrank of a tied group = 2·(rank − 1) + (tied + 1)
    val mr2 = scored
      .withColumn("rk", rank().over(w).cast(LongType))
      .withColumn("tied", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"), col("c"))))
      .withColumn("mr2", lit(2L) * (col("rk") - 1L) + col("tied") + 1L)
    mr2.groupBy(col("event_type"))
      .agg(sum(col("y")).as("n_pos"),
        sum(lit(1L) - col("y")).as("n_neg"),
        sum(when(col("y") === 1L, col("mr2")).otherwise(0L)).as("sum_mr2_pos"))
      .select(col("event_type"), col("n_pos"), col("n_neg"),
        (col("sum_mr2_pos") - col("n_pos") * (col("n_pos") + 1L)).as("auc_num2"),
        ((col("sum_mr2_pos") - col("n_pos") * (col("n_pos") + 1L))
          .cast(DoubleType) /
          (lit(2.0) * col("n_pos").cast(DoubleType) *
            col("n_neg").cast(DoubleType))).as("auc"))
  }

  /** q229: DELTA-METHOD variance of a RATIO metric — the experimentation
    * platform's daily bread: revenue-per-order per priority segment is a
    * ratio of SUMS over the randomization unit (the customer), so its
    * naive "variance of row-level values" is simply wrong; the delta
    * method gives Var̂(R) = (σ²_S − 2R·σ_SN + R²·σ²_N)/(n·N̄²) from
    * per-unit (S_i, N_i) moments. Closes the q150/q188 inference family
    * with the estimator CUPED assumes.
    *
    * All five moment sums (ΣS, ΣN, ΣS², ΣN², ΣSN) are exact BIGINT
    * cents over customer-grain aggregates; R, the (co)variances, and the
    * SE are one shared float tree. OperationalSpec brackets the delta SE
    * against an independent leave-one-out JACKKNIFE on the same units —
    * the two estimators must agree to first order or the moment algebra
    * is wrong.
    *
    * Scale shape: one customer-grain aggregation off the orders scan,
    * then a segment-keyed algebraic reduce of five sums — map-side
    * partials all the way; the fact is scanned once. */
  val q229RatioVariance: Q = (s, d) => {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast(LongType)
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("segment"), col("o_custkey"))
      .agg(sum(cents).as("si"), count(lit(1)).as("ni"))
    val m = perCust.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("si")).as("ss"), sum(col("ni")).as("sn"),
        // Σ S² clears 2⁶³ at sf0.1 (customer-cents squared): DECIMAL(38)
        sum(col("si").cast(DecimalType(38, 0)) * col("si")).as("sss"),
        sum(col("ni") * col("ni")).as("snn"),
        sum(col("si") * col("ni")).as("ssn"))
    val nD = col("n_units").cast(DoubleType)
    val r = col("ss").cast(DoubleType) / col("sn").cast(DoubleType)
    val varS = (col("sss").cast(DoubleType) -
      col("ss").cast(DoubleType) * col("ss").cast(DoubleType) / nD) / (nD - 1)
    val varN = (col("snn").cast(DoubleType) -
      col("sn").cast(DoubleType) * col("sn").cast(DoubleType) / nD) / (nD - 1)
    val covSN = (col("ssn").cast(DoubleType) -
      col("ss").cast(DoubleType) * col("sn").cast(DoubleType) / nD) / (nD - 1)
    val nbar = col("sn").cast(DoubleType) / nD
    m.select(col("segment"), col("n_units"), col("ss"), col("sn"),
      col("sss").cast(StringType).as("sss"), col("snn"), col("ssn"),
      r.as("ratio_cents"),
      ((varS - lit(2.0) * r * covSN + r * r * varN) / (nD * nbar * nbar))
        .as("var_ratio"),
      sqrt((varS - lit(2.0) * r * covSN + r * r * varN) / (nD * nbar * nbar))
        .as("se_ratio"))
  }

  val queries: Map[String, Q] = Map(
    "q229_ratio_variance" -> q229RatioVariance,
    "q228_auc" -> q228Auc,
    "q220_clustering_coef" -> q220ClusteringCoef,
    "q219_wasserstein" -> q219Wasserstein,
    "q218_sign_flip_test" -> q218SignFlipTest,
    "q211_sliding_hll" -> q211SlidingHll,
    "q210_count_sketch" -> q210CountSketch,
    "q208_iblt_reconcile" -> q208IbltReconcile,
    "q201_ams_f2" -> q201AmsF2,
    "q197_kmv_sketch" -> q197KmvSketch,
    "q198_split_finding" -> q198SplitFinding,
    "q154_bitmap_distinct" -> q154BitmapDistinct,
    "q155_frequent_pairs" -> q155FrequentPairs,
    "q156_delta_attribution" -> q156DeltaAttribution,
    "q157_triangle_count" -> q157TriangleCount,
    "q158_encoding_advisor" -> q158EncodingAdvisor,
    "q159_audience_overlap" -> q159AudienceOverlap,
    "q161_skew_report" -> q161SkewReport,
    "q163_trending_decay" -> q163TrendingDecay,
    "q164_inclusion_deps" -> q164InclusionDeps,
    "q165_linear_counting" -> q165LinearCounting,
    "q166_hll_sketch" -> q166HllSketch,
    "q167_sketch_algebra" -> q167SketchAlgebra,
    "q171_changepoint" -> q171Changepoint,
    "q176_hll_algebra" -> q176HllAlgebra,
    "q174_ks_test" -> q174KsTest,
    "q58_rollup"       -> q58Rollup,
    "q121_grouping_sets" -> q121GroupingSets,
    "q130_join_cardinality" -> q130JoinCardinality,
    "q133_drift_chi2" -> q133DriftChi2,
    "q137_trend_ols" -> q137TrendOls,
    "q179_corr_matrix" -> q179CorrMatrix,
    "q180_benford" -> q180Benford,
    "q181_gini" -> q181Gini,
    "q183_moment_shape" -> q183MomentShape,
    "q186_winsorize" -> q186Winsorize,
    "q188_cuped" -> q188Cuped,
    "q189_log_histogram" -> q189LogHistogram,
    "q141_recursive_dfa" -> q141RecursiveDfa,
    "q144_lateral_topk" -> q144LateralTopk,
    "q145_fd_profile" -> q145FdProfile,
    "q146_nested_export" -> q146NestedExport,
    "q150_ab_test" -> q150AbTest,
    "q59_pivot"        -> q59Pivot,
    "q60_json_extract" -> q60JsonExtract,
    "q71_cube"         -> q71Cube,
    "q77_set_ops"      -> q77SetOps,
    "q109_cdc_diff"    -> q109CdcDiff,
    "q113_corpus_signature" -> q113CorpusSignature,
    "q91_column_stats" -> q91ColumnStats,
    "q231_column_sketch" -> q231ColumnSketch,
    "q235_sketch_store" -> q235SketchStore,
    "q238_profile_history" -> q238ProfileHistory,
    "q241_profile_range7" -> q241ProfileRange7,
    "q95_window_suite" -> q95WindowSuite,
    "q96_subquery_decorrelate" -> q96SubqueryDecorrelate,
    "q240_sole_fault_supplier" -> q240SoleFaultSupplier)

  val oracle: Map[String, String] = Map(
    // The k-min states replayed relationally (rank ≤ k over distinct
    // hashes), the same closed-form estimator in HUGEINT, and independent
    // exact anchors from raw COUNT(DISTINCT) / set joins.
    // Same exact BIGINT moments, same shared float assembly.
    "q229_ratio_variance" ->
      """WITH pc AS (SELECT o_orderpriority AS segment, o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS si,
        |    CAST(count(*) AS BIGINT) AS ni
        |  FROM orders GROUP BY 1, 2),
        |m AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(si) AS BIGINT) AS ss, CAST(sum(ni) AS BIGINT) AS sn,
        |    CAST(sum(CAST(si AS HUGEINT) * si) AS HUGEINT) AS sss,
        |    CAST(sum(ni * ni) AS BIGINT) AS snn,
        |    CAST(sum(si * ni) AS BIGINT) AS ssn
        |  FROM pc GROUP BY 1)
        |SELECT segment, n_units, ss, sn, CAST(sss AS VARCHAR) AS sss,
        |  snn, ssn,
        |  CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE) AS ratio_cents,
        |  ((CAST(sss AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |      / CAST(n_units AS DOUBLE)) / (CAST(n_units AS DOUBLE) - 1)
        |   - 2.0 * (CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE))
        |     * ((CAST(ssn AS DOUBLE) - CAST(ss AS DOUBLE)
        |        * CAST(sn AS DOUBLE) / CAST(n_units AS DOUBLE))
        |        / (CAST(n_units AS DOUBLE) - 1))
        |   + (CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE))
        |     * (CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE))
        |     * ((CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE)
        |        * CAST(sn AS DOUBLE) / CAST(n_units AS DOUBLE))
        |        / (CAST(n_units AS DOUBLE) - 1)))
        |  / (CAST(n_units AS DOUBLE)
        |     * (CAST(sn AS DOUBLE) / CAST(n_units AS DOUBLE))
        |     * (CAST(sn AS DOUBLE) / CAST(n_units AS DOUBLE))) AS var_ratio,
        |  sqrt(((CAST(sss AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |      / CAST(n_units AS DOUBLE)) / (CAST(n_units AS DOUBLE) - 1)
        |   - 2.0 * (CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE))
        |     * ((CAST(ssn AS DOUBLE) - CAST(ss AS DOUBLE)
        |        * CAST(sn AS DOUBLE) / CAST(n_units AS DOUBLE))
        |        / (CAST(n_units AS DOUBLE) - 1))
        |   + (CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE))
        |     * (CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE))
        |     * ((CAST(snn AS DOUBLE) - CAST(sn AS DOUBLE)
        |        * CAST(sn AS DOUBLE) / CAST(n_units AS DOUBLE))
        |        / (CAST(n_units AS DOUBLE) - 1)))
        |  / (CAST(n_units AS DOUBLE)
        |     * (CAST(sn AS DOUBLE) / CAST(n_units AS DOUBLE))
        |     * (CAST(sn AS DOUBLE) / CAST(n_units AS DOUBLE)))) AS se_ratio
        |FROM m""".stripMargin,
    // Same doubled midranks, same integer numerator, same one division.
    "q228_auc" ->
      """WITH sc AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CASE WHEN ((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) + 4)
        |      % 7 IN (0, 6) THEN 1 ELSE 0 END AS y
        |  FROM events),
        |mr AS (SELECT event_type, y,
        |    2 * (CAST(rank() OVER (PARTITION BY event_type ORDER BY c)
        |      AS BIGINT) - 1)
        |    + CAST(count(*) OVER (PARTITION BY event_type, c) AS BIGINT) + 1
        |      AS mr2
        |  FROM sc)
        |SELECT event_type,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(1 - y) AS BIGINT) AS n_neg,
        |  CAST(sum(CASE WHEN y = 1 THEN mr2 ELSE 0 END) AS BIGINT)
        |    - CAST(sum(y) AS BIGINT) * (CAST(sum(y) AS BIGINT) + 1)
        |    AS auc_num2,
        |  CAST(CAST(sum(CASE WHEN y = 1 THEN mr2 ELSE 0 END) AS BIGINT)
        |    - CAST(sum(y) AS BIGINT) * (CAST(sum(y) AS BIGINT) + 1) AS DOUBLE)
        |    / (2.0 * CAST(sum(y) AS DOUBLE) * CAST(sum(1 - y) AS DOUBLE))
        |    AS auc
        |FROM mr GROUP BY event_type""".stripMargin,
    // q157's id-ordered triangle replay fanned to corners; integer milli.
    "q220_clustering_coef" ->
      s"""WITH t AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM t a JOIN t b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $FP_MINSUP),
         |tri AS (SELECT e1.pa AS t1, e1.pb AS t2, e2.pb AS t3
         |  FROM p e1
         |  JOIN p e2 ON e2.pa = e1.pb
         |  JOIN p e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
         |  (SELECT pa AS v FROM p UNION ALL SELECT pb FROM p) u GROUP BY 1),
         |tc AS (SELECT v, CAST(count(*) AS BIGINT) AS tri FROM
         |  (SELECT t1 AS v FROM tri UNION ALL SELECT t2 FROM tri
         |   UNION ALL SELECT t3 FROM tri) u GROUP BY 1)
         |SELECT deg.v AS part, deg.deg, coalesce(tc.tri, 0) AS tri,
         |  CASE WHEN deg.deg >= 2 THEN
         |    (2000 * coalesce(tc.tri, 0)) // (deg.deg * (deg.deg - 1))
         |  END AS cc_milli
         |FROM deg LEFT JOIN tc ON tc.v = deg.v""".stripMargin,
    // Same merged support, same cross-multiplied CDF gaps, same
    // DECIMAL(38) sum compared as canonical strings.
    "q219_wasserstein" ->
      """WITH ct AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nt
        |  FROM ct GROUP BY 1),
        |pairs AS (SELECT a.event_type AS ta, a.nt AS n_a,
        |    b.event_type AS tb, b.nt AS n_b
        |  FROM tot a JOIN tot b ON a.event_type < b.event_type),
        |sup AS (SELECT DISTINCT p.ta, p.tb, p.n_a, p.n_b, s.c
        |  FROM pairs p JOIN (SELECT DISTINCT event_type, c FROM ct) s
        |    ON s.event_type = p.ta OR s.event_type = p.tb),
        |wc AS (SELECT sup.ta, sup.tb, sup.n_a, sup.n_b, sup.c,
        |    coalesce(ca.n, 0) AS na, coalesce(cb.n, 0) AS nb
        |  FROM sup
        |  LEFT JOIN ct ca ON ca.event_type = sup.ta AND ca.c = sup.c
        |  LEFT JOIN ct cb ON cb.event_type = sup.tb AND cb.c = sup.c),
        |cum AS (SELECT *,
        |    CAST(sum(na) OVER wv AS BIGINT) AS cuma,
        |    CAST(sum(nb) OVER wv AS BIGINT) AS cumb,
        |    lead(c) OVER (PARTITION BY ta, tb ORDER BY c) - c AS gap
        |  FROM wc
        |  WINDOW wv AS (PARTITION BY ta, tb ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT ta, tb, n_a, n_b,
        |  CAST(CAST(sum(CAST(gap * abs(cuma * n_b - cumb * n_a)
        |    AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS w1_num,
        |  CAST(sum(CAST(gap * abs(cuma * n_b - cumb * n_a)
        |    AS DECIMAL(38,0))) AS DOUBLE)
        |    / CAST(n_a * n_b AS DOUBLE) AS w1_cents
        |FROM cum WHERE gap IS NOT NULL
        |GROUP BY ta, tb, n_a, n_b""".stripMargin,
    // Same md5 sign patterns, same BIGINT sums, same add-one p estimator.
    "q218_sign_flip_test" ->
      s"""WITH daily AS (SELECT event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS cs
         |  FROM events GROUP BY 1, 2),
         |deltas AS (SELECT a.event_type, a.day, b.cs - a.cs AS delta
         |  FROM daily a JOIN daily b ON a.event_type = b.event_type
         |    AND b.day = a.day + 7),
         |obs AS (SELECT event_type, CAST(sum(delta) AS BIGINT) AS t_obs,
         |    CAST(count(*) AS BIGINT) AS n_pairs FROM deltas GROUP BY 1),
         |reps AS (SELECT d.event_type, bb.b,
         |    CAST(sum((1 - 2 * (CAST(CAST(('0x' || substr(md5('sf:' ||
         |      CAST(bb.b AS VARCHAR) || ':' || d.event_type || ':' ||
         |      CAST(d.day AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 2))
         |      * d.delta) AS BIGINT) AS t_b
         |  FROM deltas d
         |  CROSS JOIN (SELECT unnest(range(0, $SF_B)) AS b) bb
         |  GROUP BY 1, 2)
         |SELECT o.event_type, o.n_pairs, o.t_obs,
         |  CAST(sum(CASE WHEN abs(r.t_b) >= abs(o.t_obs) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_ge,
         |  CAST($SF_B AS BIGINT) AS n_reps,
         |  (1000 * (CAST(sum(CASE WHEN abs(r.t_b) >= abs(o.t_obs) THEN 1
         |    ELSE 0 END) AS BIGINT) + 1)) // ${SF_B + 1} AS p_milli
         |FROM reps r JOIN obs o USING (event_type)
         |GROUP BY o.event_type, o.n_pairs, o.t_obs""".stripMargin,
    // Same day-grain registers, same 7-day fan-out merge, same shared
    // estimate tree, same exact trailing-distinct anchor.
    "q211_sliding_hll" ->
      s"""WITH du AS (SELECT
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         |    CAST(CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
         |      1, 15)) AS UBIGINT) AS BIGINT) AS h,
         |    user_id
         |  FROM events),
         |r AS (SELECT day, h % $HLL_M AS bucket,
         |    max(CASE WHEN h // $HLL_M = 0 THEN 53
         |      ELSE 53 - length(bin(h // $HLL_M)) END) AS reg
         |  FROM du GROUP BY 1, 2),
         |span AS (SELECT max(day) AS d1 FROM r),
         |win AS (SELECT r.day + o.o AS day, r.bucket, max(r.reg) AS reg
         |  FROM r CROSS JOIN (SELECT unnest(range(0, 7)) AS o) o, span
         |  WHERE r.day + o.o <= span.d1
         |  GROUP BY 1, 2),
         |st AS (SELECT day, CAST(count(*) AS BIGINT) AS used_buckets,
         |    CAST(sum(1::BIGINT << CAST(53 - reg AS INTEGER)) AS BIGINT) AS zsum
         |  FROM win GROUP BY 1),
         |z AS (SELECT day, used_buckets, $HLL_M - used_buckets AS zeros,
         |    zsum + ($HLL_M - used_buckets) * 9007199254740992 AS z
         |  FROM st),
         |e AS (SELECT p.day + o.o AS day,
         |    CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_exact
         |  FROM (SELECT DISTINCT day, user_id FROM du) p
         |  CROSS JOIN (SELECT unnest(range(0, 7)) AS o) o, span
         |  WHERE p.day + o.o <= span.d1
         |  GROUP BY 1)
         |SELECT z.day, used_buckets, zeros, z,
         |  ${hllEstSql("zeros", "z")} AS est_milli, n_exact
         |FROM z JOIN e USING (day)""".stripMargin,
    // Same signed cells, same probe hashes, same sorted-middle median.
    "q210_count_sketch" -> {
      def h60(r: String) =
        s"CAST(CAST(('0x' || substr(md5('cs' || CAST($r AS VARCHAR) || ':' || " +
          s"CAST(l_partkey AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
      def posOf(r: String) = s"${h60(r)} % $CS_W"
      def sgnOf(r: String) = s"1 - 2 * ((${h60(r)} // $CS_W) % 2)"
      s"""WITH rr AS (SELECT unnest(range(0, $CS_R)) AS r),
         |hh AS (SELECT l_partkey, rr.r,
         |    ${posOf("rr.r")} AS pos, ${sgnOf("rr.r")} AS sgn
         |  FROM lineitem CROSS JOIN rr),
         |cells AS (SELECT r, pos, CAST(sum(sgn) AS BIGINT) AS c
         |  FROM hh GROUP BY 1, 2),
         |top AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact
         |  FROM lineitem GROUP BY 1 ORDER BY exact DESC, l_partkey LIMIT 20),
         |probe AS (SELECT t.l_partkey, t.exact, rr.r,
         |    ${posOf("rr.r")} AS pos, ${sgnOf("rr.r")} AS sgn
         |  FROM top t CROSS JOIN rr),
         |e AS (SELECT p.l_partkey, p.exact, p.sgn * c.c AS est_r
         |  FROM probe p JOIN cells c ON c.r = p.r AND c.pos = p.pos),
         |f2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2 FROM
         |  (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey) t)
         |SELECT l_partkey, exact,
         |  (list_sort(list(est_r)))[${(CS_R + 1) / 2}] AS est,
         |  CAST(floor(sqrt(CAST(f2.f2 - exact * exact AS DOUBLE) / $CS_W))
         |    AS BIGINT) AS err_bound
         |FROM e, f2 GROUP BY l_partkey, exact, f2.f2""".stripMargin
    },
    // NOT a replay: the exact symmetric difference by anti-joins — the
    // independent truth the sketch-and-peel mechanism must reproduce.
    "q208_iblt_reconcile" ->
      """WITH docs AS (SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS UBIGINT) AS BIGINT) % 5 AS bkt
        |  FROM documents),
        |a AS (SELECT doc_id FROM docs WHERE bkt <> 0),
        |b AS (SELECT doc_id FROM docs WHERE bkt <> 1)
        |SELECT doc_id, 'only_a' AS side FROM a
        |WHERE doc_id NOT IN (SELECT doc_id FROM b)
        |UNION ALL
        |SELECT doc_id, 'only_b' AS side FROM b
        |WHERE doc_id NOT IN (SELECT doc_id FROM a)""".stripMargin,
    // The identical sign arithmetic: bit r of the shared md5-60 hash via
    // floor-div/mod, BIGINT sums and squares — one answer everywhere.
    "q201_ams_f2" ->
      s"""WITH h AS (
         |  SELECT CAST(CAST(('0x' || substr(md5('ams:' ||
         |      CAST(l_partkey AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h
         |  FROM lineitem),
         |z AS (SELECT rp.r, CAST(sum(1 - 2 * ((h.h // rp.p) % 2)) AS BIGINT) AS z
         |      FROM h CROSS JOIN (VALUES ${(0 until AMS_R)
                .map(r => s"(${r}, ${1L << r})").mkString(", ")}) AS rp(r, p)
         |      GROUP BY rp.r),
         |ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact
         |       FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey) t),
         |est AS (SELECT CAST(sum(z * z) AS BIGINT) // $AMS_R AS est_f2 FROM z)
         |SELECT CAST(z.r AS BIGINT) AS r, z.z AS z, z.z * z.z AS z_sq,
         |  est.est_f2 AS est_f2, ex.f2_exact AS f2_exact
         |FROM z, ex, est""".stripMargin,
    "q197_kmv_sketch" ->
      s"""WITH uh AS (
         |  SELECT DISTINCT event_type,
         |    CAST(CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
         |      1, 15)) AS UBIGINT) AS BIGINT) AS h, user_id
         |  FROM events),
         |hs AS (SELECT DISTINCT event_type, h FROM uh),
         |rk AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM hs),
         |st AS (SELECT event_type, list(h ORDER BY h) AS state
         |       FROM rk WHERE rn <= $KMV_K GROUP BY 1),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact
         |       FROM events GROUP BY 1),
         |ty AS (
         |  SELECT s.event_type AS scope, CAST(len(state) AS BIGINT) AS state_size,
         |    CASE WHEN len(state) >= $KMV_K THEN state[$KMV_K]
         |         ELSE -1 END AS kth_hash,
         |    CASE WHEN len(state) < $KMV_K THEN CAST(len(state) AS BIGINT)
         |         ELSE CAST((CAST(${KMV_K - 1} AS HUGEINT) * $KMV_SPACE)
         |           // state[$KMV_K] AS BIGINT) END AS est,
         |    e.exact, CAST(-1 AS BIGINT) AS est_inter,
         |    CAST(-1 AS BIGINT) AS exact_inter
         |  FROM st s JOIN ex e USING (event_type)),
         |pr AS (
         |  SELECT a.event_type AS ta, b.event_type AS tb,
         |    a.state AS sa, b.state AS sb,
         |    list_sort(list_distinct(list_concat(a.state, b.state)))[1:$KMV_K]
         |      AS state
         |  FROM st a JOIN st b ON a.event_type < b.event_type),
         |ei AS (
         |  SELECT x.event_type AS ta, y.event_type AS tb,
         |    count(*) AS xi
         |  FROM (SELECT DISTINCT event_type, user_id FROM events) x
         |  JOIN (SELECT DISTINCT event_type, user_id FROM events) y
         |    ON x.user_id = y.user_id AND x.event_type < y.event_type
         |  GROUP BY 1, 2),
         |pe AS (
         |  SELECT p.ta, p.tb, p.state,
         |    CAST(len(list_filter(p.state,
         |      z -> list_contains(p.sa, z) AND list_contains(p.sb, z)))
         |      AS BIGINT) AS jn,
         |    CASE WHEN len(p.state) < $KMV_K THEN CAST(len(p.state) AS BIGINT)
         |         ELSE CAST((CAST(${KMV_K - 1} AS HUGEINT) * $KMV_SPACE)
         |           // p.state[$KMV_K] AS BIGINT) END AS est_u,
         |    ea.exact AS ea, eb.exact AS eb, coalesce(i.xi, 0) AS xi
         |  FROM pr p
         |  JOIN ex ea ON ea.event_type = p.ta
         |  JOIN ex eb ON eb.event_type = p.tb
         |  LEFT JOIN ei i ON i.ta = p.ta AND i.tb = p.tb)
         |SELECT scope, state_size, kth_hash, est, exact, est_inter, exact_inter
         |FROM ty
         |UNION ALL
         |SELECT ta || '|' || tb AS scope, CAST(len(state) AS BIGINT),
         |  CASE WHEN len(state) >= $KMV_K THEN state[$KMV_K] ELSE -1 END,
         |  est_u, ea + eb - xi,
         |  (jn * est_u) // CAST(len(state) AS BIGINT),
         |  CAST(xi AS BIGINT)
         |FROM pe""".stripMargin,
    // The identical histogram walk: integer weekend calendar, exact-cent
    // bins, cumulative prefixes, and the same integer (err, cents) argmin.
    "q198_split_finding" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CASE WHEN ((epoch_us(ts) // 86400000000) + 4) % 7 IN (0, 6)
        |         THEN 1 ELSE 0 END AS y
        |  FROM events),
        |hist AS (SELECT event_type, c, count(*) AS n, sum(y) AS pos
        |         FROM h GROUP BY 1, 2),
        |scored AS (
        |  SELECT event_type, c,
        |    sum(n) OVER w AS nl, sum(pos) OVER w AS pl,
        |    sum(n) OVER wa AS nt, sum(pos) OVER wa AS pt
        |  FROM hist
        |  WINDOW w AS (PARTITION BY event_type ORDER BY c
        |               ROWS UNBOUNDED PRECEDING),
        |       wa AS (PARTITION BY event_type)),
        |errs AS (
        |  SELECT event_type, c, nt, pt,
        |    least(pl, nl - pl) + least(pt - pl, (nt - nl) - (pt - pl)) AS err
        |  FROM scored),
        |best AS (
        |  SELECT event_type, c, nt, pt, err,
        |    row_number() OVER (PARTITION BY event_type ORDER BY err, c) AS rn
        |  FROM errs)
        |SELECT event_type, CAST(nt AS BIGINT) AS n, CAST(pt AS BIGINT) AS pos,
        |  c AS best_cents, CAST(err AS BIGINT) AS best_err,
        |  CAST(least(pt, nt - pt) AS BIGINT) AS base_err,
        |  CAST(least(pt, nt - pt) - err AS BIGINT) AS gain
        |FROM best WHERE rn = 1""".stripMargin,
    // The direct COUNT(DISTINCT): bitmap machinery must be invisible.
    "q154_bitmap_distinct" ->
      """WITH g AS (
        |  SELECT event_type, 'day' AS grain,
        |    CAST(date_trunc('day', ts) AS DATE) AS period, user_id FROM events
        |  UNION ALL
        |  SELECT event_type, 'week', CAST(date_trunc('week', ts) AS DATE), user_id
        |  FROM events)
        |SELECT event_type, grain, period,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM g GROUP BY 1, 2, 3""".stripMargin,
    // Same md5 bit positions, same OR-bitmap state, same floor-quantized
    // m·ln(m/V) estimate, exact distinct as comparator.
    "q165_linear_counting" ->
      s"""WITH b AS (SELECT event_type,
         |    CAST(CAST(('0x' || substr(md5('lc:' || CAST(user_id AS VARCHAR)), 1, 15))
         |      AS UBIGINT) % $LC_M AS BIGINT) AS pos
         |  FROM events),
         |w AS (SELECT event_type, pos // 63 AS word,
         |    bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS mask
         |  FROM b GROUP BY 1, 2),
         |lc AS (SELECT event_type,
         |    CAST(sum(bit_count(mask)) AS BIGINT) AS used_bits
         |  FROM w GROUP BY 1),
         |e AS (SELECT event_type,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM events GROUP BY 1)
         |SELECT lc.event_type, used_bits, $LC_M - used_bits AS zero_bits,
         |  CAST(floor(${LC_M}.0 * ln(${LC_M}.0
         |    / CAST($LC_M - used_bits AS DOUBLE)) * 1000.0) AS BIGINT)
         |    AS est_milli,
         |  n_exact
         |FROM lc JOIN e USING (event_type)""".stripMargin,
    // Same md5 split, same exact-integer bitlength registers, same BIGINT
    // harmonic sum, and the estimate expression SHARED verbatim with the
    // Spark side — the full HLL replays bit-for-bit.
    "q166_hll_sketch" ->
      s"""WITH b AS (SELECT event_type,
         |    CAST(CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))
         |      AS UBIGINT) AS BIGINT) AS h
         |  FROM events),
         |r AS (SELECT event_type, h % $HLL_M AS bucket,
         |    max(CASE WHEN h // $HLL_M = 0 THEN 53
         |      ELSE 53 - length(bin(h // $HLL_M)) END) AS reg
         |  FROM b GROUP BY 1, 2),
         |st AS (SELECT event_type,
         |    CAST(count(*) AS BIGINT) AS used_buckets,
         |    CAST(sum(1::BIGINT << CAST(53 - reg AS INTEGER)) AS BIGINT) AS zsum
         |  FROM r GROUP BY 1),
         |z AS (SELECT event_type, used_buckets,
         |    $HLL_M - used_buckets AS zeros,
         |    zsum + ($HLL_M - used_buckets) * 9007199254740992 AS z
         |  FROM st),
         |e AS (SELECT event_type,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM events GROUP BY 1)
         |SELECT z.event_type, used_buckets, zeros, z,
         |  ${hllEstSql("zeros", "z")} AS est_milli, n_exact
         |FROM z JOIN e USING (event_type)""".stripMargin,
    // Same "lc:" md5 bitmaps as q165, pairwise shared popcounts, the SAME
    // floor-quantized estimator text on all three cardinalities, exact
    // distinct/intersection comparators via the direct user-level joins.
    "q167_sketch_algebra" ->
      s"""WITH b AS (SELECT event_type,
         |    CAST(CAST(('0x' || substr(md5('lc:' || CAST(user_id AS VARCHAR)), 1, 15))
         |      AS UBIGINT) % $LC_M AS BIGINT) AS pos
         |  FROM events),
         |w AS (SELECT event_type, pos // 63 AS word,
         |    bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS mask
         |  FROM b GROUP BY 1, 2),
         |sz AS (SELECT event_type, CAST(sum(bit_count(mask)) AS BIGINT) AS used
         |  FROM w GROUP BY 1),
         |sh AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    CAST(sum(bit_count(a.mask & b.mask)) AS BIGINT) AS shared_bits
         |  FROM w a JOIN w b ON a.word = b.word AND a.event_type < b.event_type
         |  GROUP BY 1, 2),
         |du AS (SELECT DISTINCT event_type, user_id FROM events),
         |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM du GROUP BY 1),
         |ip AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
         |    CAST(count(*) AS BIGINT) AS n_inter_exact
         |  FROM du x JOIN du y
         |    ON x.user_id = y.user_id AND x.event_type < y.event_type
         |  GROUP BY 1, 2),
         |j AS (SELECT sh.type_a, sh.type_b, shared_bits,
         |    sa.used AS used_a, sb.used AS used_b,
         |    sa.used + sb.used - shared_bits AS used_union,
         |    ea.n_exact AS n_exact_a, eb.n_exact AS n_exact_b, n_inter_exact
         |  FROM sh
         |  JOIN sz sa ON sa.event_type = sh.type_a
         |  JOIN sz sb ON sb.event_type = sh.type_b
         |  JOIN ex ea ON ea.event_type = sh.type_a
         |  JOIN ex eb ON eb.event_type = sh.type_b
         |  JOIN ip ON ip.type_a = sh.type_a AND ip.type_b = sh.type_b),
         |est AS (SELECT *,
         |    ${lcEstSql(s"($LC_M - used_a)")} AS est_a_milli,
         |    ${lcEstSql(s"($LC_M - used_b)")} AS est_b_milli,
         |    ${lcEstSql(s"($LC_M - used_union)")} AS est_union_milli
         |  FROM j)
         |SELECT type_a, type_b, shared_bits, used_a, used_b, used_union,
         |  est_a_milli, est_b_milli, est_union_milli,
         |  CASE WHEN est_a_milli >= 0 AND est_b_milli >= 0
         |      AND est_union_milli >= 0
         |    THEN est_a_milli + est_b_milli - est_union_milli
         |    ELSE CAST(-1 AS BIGINT) END AS est_inter_milli,
         |  n_exact_a, n_exact_b, n_inter_exact,
         |  n_exact_a + n_exact_b - n_inter_exact AS n_union_exact
         |FROM est""".stripMargin,
    // Same md5 register build as q166, pair union registers as per-bucket
    // MAX, the harmonic estimate expression shared verbatim on all three
    // cardinalities, integer inclusion-exclusion, exact comparators.
    "q176_hll_algebra" ->
      s"""WITH b AS (SELECT event_type,
         |    CAST(CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))
         |      AS UBIGINT) AS BIGINT) AS h
         |  FROM events),
         |r AS (SELECT event_type, h % $HLL_M AS bucket,
         |    max(CASE WHEN h // $HLL_M = 0 THEN 53
         |      ELSE 53 - length(bin(h // $HLL_M)) END) AS reg
         |  FROM b GROUP BY 1, 2),
         |st AS (SELECT event_type,
         |    CAST(count(*) AS BIGINT) AS used,
         |    CAST(sum(1::BIGINT << CAST(53 - reg AS INTEGER)) AS BIGINT) AS zsum
         |  FROM r GROUP BY 1),
         |z1 AS (SELECT event_type,
         |    $HLL_M - used AS zeros,
         |    zsum + ($HLL_M - used) * 9007199254740992 AS z
         |  FROM st),
         |e1 AS (SELECT event_type, ${hllEstSql("zeros", "z")} AS est_milli
         |  FROM z1),
         |types AS (SELECT DISTINCT event_type FROM r),
         |pr AS (
         |  SELECT x.event_type AS ta, y.event_type AS tb, x.bucket, x.reg
         |  FROM r x JOIN types y ON x.event_type < y.event_type
         |  UNION ALL
         |  SELECT y.event_type, x.event_type, x.bucket, x.reg
         |  FROM r x JOIN types y ON y.event_type < x.event_type),
         |pru AS (SELECT ta, tb, bucket, max(reg) AS reg
         |  FROM pr GROUP BY 1, 2, 3),
         |stu AS (SELECT ta, tb,
         |    CAST(count(*) AS BIGINT) AS used_union,
         |    CAST(sum(1::BIGINT << CAST(53 - reg AS INTEGER)) AS BIGINT) AS zsum
         |  FROM pru GROUP BY 1, 2),
         |zu AS (SELECT ta, tb, used_union,
         |    $HLL_M - used_union AS zeros_union,
         |    zsum + ($HLL_M - used_union) * 9007199254740992 AS z_union
         |  FROM stu),
         |eu AS (SELECT ta, tb, used_union, zeros_union, z_union,
         |    ${hllEstSql("zeros_union", "z_union")} AS est_union_milli
         |  FROM zu),
         |du AS (SELECT DISTINCT event_type, user_id FROM events),
         |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM du GROUP BY 1),
         |ip AS (SELECT x.event_type AS ta, y.event_type AS tb,
         |    CAST(count(*) AS BIGINT) AS n_inter_exact
         |  FROM du x JOIN du y
         |    ON x.user_id = y.user_id AND x.event_type < y.event_type
         |  GROUP BY 1, 2)
         |SELECT eu.ta AS type_a, eu.tb AS type_b,
         |  used_union, zeros_union, z_union,
         |  ea.est_milli AS est_a_milli, eb.est_milli AS est_b_milli,
         |  est_union_milli,
         |  ea.est_milli + eb.est_milli - est_union_milli AS est_inter_milli,
         |  exa.n_exact AS n_exact_a, exb.n_exact AS n_exact_b, n_inter_exact,
         |  exa.n_exact + exb.n_exact - n_inter_exact AS n_union_exact
         |FROM eu
         |JOIN e1 ea ON ea.event_type = eu.ta
         |JOIN e1 eb ON eb.event_type = eu.tb
         |JOIN ex exa ON exa.event_type = eu.ta
         |JOIN ex exb ON exb.event_type = eu.tb
         |JOIN ip ON ip.ta = eu.ta AND ip.tb = eu.tb""".stripMargin,
    // The same all-integer KS machinery replayed relationally: per-value
    // counts, merged-domain cumulative sums, BIGINT CDF gaps, smallest-value
    // argmax tiebreak, integer milli division.
    "q174_ks_test" ->
      """WITH counts AS (SELECT event_type, value, count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |types AS (SELECT DISTINCT event_type FROM counts),
        |merged AS (
        |  SELECT x.event_type AS ta, y.event_type AS tb, x.value AS v,
        |    x.c AS c1, 0 AS c2
        |  FROM counts x JOIN types y ON x.event_type < y.event_type
        |  UNION ALL
        |  SELECT y.event_type, x.event_type, x.value, 0, x.c
        |  FROM counts x JOIN types y ON y.event_type < x.event_type),
        |g AS (SELECT ta, tb, v, sum(c1) AS c1, sum(c2) AS c2
        |  FROM merged GROUP BY 1, 2, 3),
        |cum AS (SELECT ta, tb, v,
        |    sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
        |    sum(c1) OVER p AS n1, sum(c2) OVER p AS n2
        |  FROM g
        |  WINDOW w AS (PARTITION BY ta, tb ORDER BY v),
        |         p AS (PARTITION BY ta, tb)),
        |gap AS (SELECT ta, tb, v, n1, n2,
        |    abs(n2 * cum1 - n1 * cum2) AS d_num,
        |    row_number() OVER (PARTITION BY ta, tb
        |      ORDER BY abs(n2 * cum1 - n1 * cum2) DESC, v) AS rk
        |  FROM cum)
        |SELECT ta AS type_a, tb AS type_b,
        |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  v AS at_value, CAST(d_num AS BIGINT) AS d_num,
        |  CAST(n1 * n2 AS BIGINT) AS d_den,
        |  CAST((1000 * d_num) // (n1 * n2) AS BIGINT) AS ks_milli
        |FROM gap WHERE rk = 1""".stripMargin,
    // Same daily decimal moments, same exact prefix sums, the gain
    // expression SHARED verbatim, same earliest-day tiebreak.
    "q171_changepoint" ->
      s"""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
         |    count(*) AS dn, sum(CAST(value AS DECIMAL(18,6))) AS ds
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |pre AS (SELECT event_type, day,
         |    sum(dn) OVER w AS n_left, sum(ds) OVER w AS s_left_dec,
         |    sum(dn) OVER p AS n, sum(ds) OVER p AS s_dec
         |  FROM daily
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day),
         |         p AS (PARTITION BY event_type)),
         |c AS (SELECT event_type, day, n_left, n - n_left AS n_right, n,
         |    CAST(s_left_dec AS DOUBLE) AS s_left,
         |    CAST(s_dec - s_left_dec AS DOUBLE) AS s_right
         |  FROM pre WHERE n - n_left > 0),
         |g AS (SELECT *,
         |    ${cpGainSql("s_left", "s_right", "n_left", "n_right", "n")}
         |      AS gain_milli
         |  FROM c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY gain_milli DESC, day) AS rk FROM g)
         |SELECT event_type, day AS split_day,
         |  CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
         |  s_left, s_right, gain_milli
         |FROM r WHERE rk = 1""".stripMargin,
    // Same shift-based decay weights, same week arithmetic, same heap order.
    "q163_trending_decay" ->
      s"""WITH m AS (SELECT max(o_orderdate) AS max_d FROM orders),
         |o AS (SELECT o_orderkey,
         |    (1099511627776 >> CAST(least(
         |      datediff('day', o_orderdate, max_d) // 7, 40) AS INTEGER)) AS w
         |  FROM orders CROSS JOIN m
         |  WHERE datediff('day', o_orderdate, max_d) // 7 <= 26)
         |SELECT l_partkey, CAST(sum(w) AS BIGINT) AS score,
         |  count(*) AS n_lines
         |FROM lineitem JOIN o ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY score DESC, l_partkey LIMIT $TREND_TOP""".stripMargin,
    // Same distinct-child anti-join counts, same integer coverage ppm.
    "q164_inclusion_deps" -> IND_CANDS.map { case (ct, cc, pt, pc) =>
      s"""SELECT '$ct' AS child_tbl, '$cc' AS child_col,
         |  '$pt' AS parent_tbl, '$pc' AS parent_col,
         |  ndv_child, missing,
         |  (1000000 * (ndv_child - missing)) // ndv_child AS coverage_ppm,
         |  missing = 0 AS holds
         |FROM (
         |  WITH c AS (SELECT DISTINCT CAST($cc AS VARCHAR) AS v
         |      FROM $ct WHERE $cc IS NOT NULL),
         |  mi AS (SELECT CAST(count(*) AS BIGINT) AS missing FROM c
         |    WHERE v NOT IN (SELECT CAST($pc AS VARCHAR) FROM $pt
         |      WHERE $pc IS NOT NULL)),
         |  nn AS (SELECT CAST(count(*) AS BIGINT) AS ndv_child FROM c)
         |  SELECT * FROM nn CROSS JOIN mi)""".stripMargin
    }.mkString("", "\nUNION ALL\n", ""),
    // Same integer cross-multiplied two-mode verdict per candidate key.
    "q161_skew_report" -> SKEW_CANDS.map { case (t, k) =>
      s"""SELECT '$t' AS tbl, '$k' AS key, n, ndv, max_grp,
         |  (1000 * n) // ndv AS mean_grp_milli,
         |  (1000000 * max_grp) // n AS top_share_ppm,
         |  CASE WHEN max_grp * ndv >= 4 * n THEN 'salt:imbalance'
         |    WHEN max_grp * 32 > n THEN 'salt:low-cardinality'
         |    ELSE 'plain' END AS verdict,
         |  CASE WHEN max_grp * ndv >= 4 * n OR max_grp * 32 > n
         |    THEN least(32, (max_grp * 32) // n + 1) ELSE 1 END AS salt_factor
         |FROM (SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS ndv, CAST(max(c) AS BIGINT) AS max_grp
         |  FROM (SELECT CAST($k AS VARCHAR) AS v, count(*) AS c
         |    FROM $t GROUP BY 1))""".stripMargin
    }.mkString("", "\nUNION ALL\n", ""),
    // The direct user-pair overlap: bitmap words must be invisible.
    "q159_audience_overlap" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS ov
        |  FROM u a JOIN u b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |sz AS (SELECT event_type, count(*) AS n FROM u GROUP BY 1)
        |SELECT ta AS type_a, tb AS type_b, ov AS overlap,
        |  za.n AS n_a, zb.n AS n_b,
        |  CAST(ov AS DOUBLE) / CAST(za.n + zb.n - ov AS DOUBLE) AS jaccard
        |FROM p
        |JOIN sz za ON za.event_type = ta
        |JOIN sz zb ON zb.event_type = tb""".stripMargin,
    // Same per-value floor-quantized entropy terms, same binary-string
    // dictionary width, same integer thresholds — per candidate column.
    "q158_encoding_advisor" -> ENC_CANDS.map { case (t, c) =>
      s"""SELECT '$t' AS tbl, '$c' AS col_name, n, nnull, ndv,
         |  (sum_len * 1000) // n AS avg_len_milli, entropy_micro,
         |  CAST(CASE WHEN ndv <= 1 THEN 0
         |    ELSE length(bin(ndv - 1)) END AS INTEGER) AS dict_bits,
         |  CASE WHEN ndv <= 256 THEN 'dict8'
         |    WHEN ndv * 100 <= n THEN 'dict' ELSE 'plain' END AS encoding
         |FROM (
         |  WITH counts AS (SELECT CAST($c AS VARCHAR) AS v, count(*) AS c
         |      FROM $t GROUP BY 1),
         |  m AS (SELECT
         |      CAST(sum(CASE WHEN v IS NOT NULL THEN c ELSE 0 END) AS BIGINT) AS n,
         |      CAST(sum(CASE WHEN v IS NULL THEN c ELSE 0 END) AS BIGINT) AS nnull,
         |      CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ndv,
         |      CAST(sum(CASE WHEN v IS NOT NULL THEN length(v) * c ELSE 0 END) AS BIGINT) AS sum_len
         |    FROM counts),
         |  e AS (SELECT CAST(coalesce(sum(CAST(floor(
         |        -1000000.0 * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
         |          * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) / ln(2.0))
         |      AS BIGINT)), 0) AS BIGINT) AS entropy_micro
         |    FROM counts CROSS JOIN m WHERE v IS NOT NULL)
         |  SELECT * FROM m CROSS JOIN e)""".stripMargin
    }.mkString("", "\nUNION ALL\n", ""),
    // Direct id-ordered triple self-join over the same threshold edges:
    // the degree orientation must be invisible to WHICH triangles exist.
    "q157_triangle_count" ->
      s"""WITH t AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM t a JOIN t b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $FP_MINSUP)
         |SELECT e1.pa AS t1, e1.pb AS t2, e2.pb AS t3
         |FROM p e1
         |JOIN p e2 ON e2.pa = e1.pb
         |JOIN p e3 ON e3.pa = e1.pa AND e3.pb = e2.pb""".stripMargin,
    // Same decimal subtraction/total, same double casts, same decimal rank.
    "q156_delta_attribution" ->
      """WITH o AS (SELECT o_orderpriority, o_orderstatus,
        |    year(o_orderdate) AS yr,
        |    CAST(o_totalprice AS DECIMAL(24,6)) AS rev
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01'),
        |sl AS (SELECT o_orderpriority, o_orderstatus,
        |    CAST(sum(CASE WHEN yr = 1999 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN yr = 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    sum(CASE WHEN yr = 1999 THEN rev
        |        ELSE CAST(0 AS DECIMAL(24,6)) END) AS r1,
        |    sum(CASE WHEN yr = 2000 THEN rev
        |        ELSE CAST(0 AS DECIMAL(24,6)) END) AS r2
        |  FROM o GROUP BY 1, 2),
        |d AS (SELECT *, r2 - r1 AS delta_dec FROM sl),
        |t AS (SELECT sum(delta_dec) AS tot_dec FROM d)
        |SELECT o_orderpriority, o_orderstatus, n1, n2,
        |  CAST(r1 AS DOUBLE) AS rev1, CAST(r2 AS DOUBLE) AS rev2,
        |  CAST(delta_dec AS DOUBLE) AS delta,
        |  CAST(delta_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE) AS share,
        |  CAST(row_number() OVER (ORDER BY abs(delta_dec) DESC,
        |    o_orderpriority, o_orderstatus) AS INTEGER) AS rnk
        |FROM d CROSS JOIN t""".stripMargin,
    // Unconstrained pair self-join at the same threshold: the in-row pair
    // generator and the apriori prune must drop no qualifying pair.
    "q155_frequent_pairs" ->
      s"""WITH t AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM t),
         |isup AS (SELECT l_partkey, count(*) AS s FROM t GROUP BY 1),
         |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS s
         |  FROM t a JOIN t b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2),
         |f AS (SELECT * FROM p WHERE s >= $FP_MINSUP)
         |SELECT pa AS part_a, pb AS part_b, f.s AS support,
         |  ia.s AS support_a, ib.s AS support_b,
         |  CAST(f.s * n_orders AS DOUBLE)
         |    / CAST(ia.s * ib.s AS DOUBLE) AS lift
         |FROM f
         |JOIN isup ia ON ia.l_partkey = pa
         |JOIN isup ib ON ib.l_partkey = pb
         |CROSS JOIN n""".stripMargin,
    // Same salted md5 minima, same distinct-digest exact twin.
    "q113_corpus_signature" ->
      s"""WITH docs AS (SELECT lang, text,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |      AS UBIGINT) % 5 AS bkt
         |  FROM documents WHERE text IS NOT NULL),
         |a AS (SELECT lang, text FROM docs WHERE bkt <> 0),
         |b AS (SELECT lang, text FROM docs WHERE bkt <> 1),
         |sa AS (SELECT lang, j,
         |    min(CAST(('0x' || substr(md5('sig' || CAST(j AS VARCHAR) || ':'
         |      || text), 1, 15)) AS UBIGINT)) AS min_a
         |  FROM a, UNNEST(range(0, $SIG_K)) t(j) GROUP BY 1, 2),
         |sb AS (SELECT lang, j,
         |    min(CAST(('0x' || substr(md5('sig' || CAST(j AS VARCHAR) || ':'
         |      || text), 1, 15)) AS UBIGINT)) AS min_b
         |  FROM b, UNNEST(range(0, $SIG_K)) t(j) GROUP BY 1, 2),
         |est AS (SELECT lang,
         |    CAST(sum(CASE WHEN min_a = min_b THEN 1 ELSE 0 END) AS BIGINT)
         |      AS sig_matches
         |  FROM sa JOIN sb USING (lang, j) GROUP BY 1),
         |da AS (SELECT DISTINCT lang,
         |    CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) AS h, 1 AS in_a
         |  FROM a),
         |db AS (SELECT DISTINCT lang,
         |    CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) AS h, 1 AS in_b
         |  FROM b),
         |ex AS (SELECT coalesce(da.lang, db.lang) AS lang,
         |    CAST(sum(CASE WHEN in_a IS NOT NULL AND in_b IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |    count(*) AS n_union
         |  FROM da FULL OUTER JOIN db ON da.lang = db.lang AND da.h = db.h
         |  GROUP BY 1)
         |SELECT est.lang, sig_matches,
         |  CAST(sig_matches AS DOUBLE) / $SIG_K AS est_jaccard,
         |  n_common, n_union,
         |  CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS exact_jaccard
         |FROM est JOIN ex ON ex.lang = est.lang""".stripMargin,
    // Same bucket construction, same sentinel digest, same typing rules.
    "q109_cdc_diff" ->
      """WITH s AS (SELECT doc_id, text,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
        |      % 5 AS bkt
        |  FROM documents),
        |a AS (SELECT doc_id, 1 AS in_a,
        |    md5(coalesce(text, '<graft:null>')) AS old_hash
        |  FROM s WHERE bkt <> 0),
        |b0 AS (SELECT doc_id,
        |    CASE WHEN bkt = 2 THEN 'rev2 ' || text ELSE text END AS text
        |  FROM s WHERE bkt <> 1),
        |b AS (SELECT doc_id, 1 AS in_b,
        |    md5(coalesce(text, '<graft:null>')) AS new_hash
        |  FROM b0),
        |f AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    in_a, in_b, old_hash, new_hash,
        |    CASE WHEN in_b IS NULL THEN 'deleted'
        |         WHEN in_a IS NULL THEN 'inserted'
        |         WHEN old_hash IS DISTINCT FROM new_hash THEN 'updated'
        |    END AS change_type
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, change_type,
        |  CASE WHEN in_a IS NOT NULL THEN old_hash END AS old_hash,
        |  CASE WHEN in_b IS NOT NULL THEN new_hash END AS new_hash
        |FROM f WHERE change_type IS NOT NULL""".stripMargin,
    // Same unpivot → (col, value) frequency table → cumulative-count disc
    // quartiles with integer ceilings; no interpolation anywhere.
    "q91_column_stats" -> {
      val unpivot = STAT_COLS
        .map(c => s"SELECT '$c' AS col_name, CAST($c AS DOUBLE) AS v FROM lineitem")
        .mkString("\nUNION ALL ")
      s"""WITH stacked AS ($unpivot),
         |counts AS (SELECT col_name, count(*) AS n_rows,
         |    count(*) - count(v) AS n_null, count(v) AS nv
         |  FROM stacked GROUP BY 1),
         |vc AS (SELECT col_name, v, count(*) AS c FROM stacked
         |  WHERE v IS NOT NULL GROUP BY 1, 2),
         |cum AS (SELECT col_name, v, c,
         |    sum(c) OVER (PARTITION BY col_name ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM vc)
         |SELECT col_name,
         |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_null AS BIGINT) AS n_null,
         |  CAST(count(*) AS BIGINT) AS ndv,
         |  min(v) AS min_v, max(v) AS max_v,
         |  min(v) FILTER (WHERE cum >= (nv + 3) // 4) AS p25,
         |  min(v) FILTER (WHERE cum >= (nv + 1) // 2) AS p50,
         |  min(v) FILTER (WHERE cum >= (nv * 3 + 3) // 4) AS p75
         |FROM cum JOIN counts USING (col_name)
         |GROUP BY col_name, n_rows, n_null, nv""".stripMargin
    },
    // Identical window specs; percent_rank/cume_dist are exact rank ratios.
    "q95_window_suite" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(o_totalprice AS DOUBLE) AS price, o_orderdate
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, price,
        |  CAST(row_number() OVER total AS INTEGER) AS rn,
        |  CAST(rank() OVER byval AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER byval AS INTEGER) AS drnk,
        |  percent_rank() OVER byval AS prnk,
        |  cume_dist() OVER byval AS cdist,
        |  CAST(ntile(4) OVER total AS INTEGER) AS tile4,
        |  lag(price, 1) OVER total AS prev_price,
        |  lead(price, 1) OVER total AS next_price,
        |  CAST(datediff('day',
        |    CAST(lag(o_orderdate, 1) OVER bydate AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INTEGER) AS gap_days
        |FROM o
        |WINDOW
        |  byval AS (PARTITION BY o_custkey ORDER BY price),
        |  total AS (PARTITION BY o_custkey ORDER BY price, o_orderkey),
        |  bydate AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    // The same subqueries, decorrelated by DuckDB's own planner — two
    // independent engines must agree on the quantified semantics.
    "q96_subquery_decorrelate" ->
      """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
        |  AND o_totalprice * (SELECT count(*) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |      > (SELECT sum(o2.o_totalprice) FROM orders o2
        |         WHERE o2.o_custkey = o.o_custkey)""".stripMargin,
    // The Q21 shape on DuckDB's own decorrelator — identical SQL text up
    // to the view names.
    "q240_sole_fault_supplier" ->
      """SELECT n_name, s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey
        |GROUP BY n_name, s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q58_rollup" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |    AS total_tokens
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,
    // LITERALLY the same SQL text — one transition function, two engines.
    "q141_recursive_dfa" -> dfaSql("events"),
    // Literally the same LATERAL text over the shared documents view.
    "q144_lateral_topk" -> lateralSql("documents"),
    // Same per-FD distinct-count aggregation, unioned in any order (the
    // gate sorts rows); verdicts are exact-integer comparisons.
    "q145_fd_profile" -> FD_CANDS.map { case (t, lhs, rhs) =>
      s"""SELECT '$t' AS tbl, '$lhs' AS lhs, '$rhs' AS rhs,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
         |  CAST(max(k) AS BIGINT) AS max_rhs,
         |  sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT $lhs, count(DISTINCT $rhs) AS k
         |      FROM $t GROUP BY $lhs) g""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // Same lexicographic struct sort, same JSON text — the serialized
    // bytes themselves are compared, not a parsed re-interpretation.
    "q146_nested_export" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  to_json(list_sort(list(struct_pack(
        |    ln := CAST(l_linenumber AS BIGINT),
        |    pk := CAST(l_partkey AS BIGINT))))) AS items_json
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,
    // Same md5-parity arms, same integer counts, same single-order
    // division/multiply/sqrt z tree.
    "q150_ab_test" ->
      """WITH m AS (SELECT user_id, min(ts) AS t0,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        |  FROM events GROUP BY user_id),
        |ua AS (SELECT user_id,
        |    CASE WHEN tp < t0 + INTERVAL 24 HOUR THEN 1 ELSE 0 END
        |      AS converted,
        |    CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
        |      1, 15)) AS UBIGINT) % 2 AS arm
        |  FROM m),
        |per AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(converted) AS BIGINT) AS c FROM ua GROUP BY arm),
        |w AS (SELECT
        |    max(CASE WHEN arm = 0 THEN n END) AS n0,
        |    max(CASE WHEN arm = 0 THEN c END) AS c0,
        |    max(CASE WHEN arm = 1 THEN n END) AS n1,
        |    max(CASE WHEN arm = 1 THEN c END) AS c1
        |  FROM per)
        |SELECT n0, c0, n1, c1,
        |  CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
        |  CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |  (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |    - (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS lift,
        |  ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |    - (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
        |   / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |     * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |     * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) AS z,
        |  abs(((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |    - (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
        |   / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |     * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
        |     * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))))
        |    > 1.96 AS significant
        |FROM w""".stripMargin,
    // Same exact decimal moments, same two IEEE division trees.
    "q137_trend_ols" ->
      """WITH m AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(day(ts)) AS BIGINT) AS sx,
        |    CAST(sum(day(ts) * day(ts)) AS BIGINT) AS sxx,
        |    sum(CAST(value AS DECIMAL(18,6))) AS sy,
        |    sum(CAST(value AS DECIMAL(18,6)) * day(ts)) AS sxy
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE)
        |    - (CAST(n * sxy - sx * sy AS DOUBLE)
        |       / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept
        |FROM m""".stripMargin,
    // Same exact decimal moments (generated from the SAME pair list as the
    // Spark plan), same per-pair IEEE tree.
    "q179_corr_matrix" -> {
      // Same centi-unit quantization; product sums in DECIMAL(38,0) (the
      // per-row BIGINT product is exact, the 38-digit total can't
      // overflow), so every moment is integer-valued and its double cast
      // is the same correctly-rounded value in both engines.
      def qc(c: String) = s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"
      val moments = (
        CORR_COLS.map(c => s"    CAST(sum(${qc(c)}) AS BIGINT) AS s_$c") ++
          CORR_COLS.map(c =>
            s"    sum(CAST(${qc(c)} * ${qc(c)} AS DECIMAL(38,0))) AS ss_$c") ++
          CORR_PAIRS.map { case (a, b) =>
            s"    sum(CAST(${qc(a)} * ${qc(b)} AS DECIMAL(38,0))) AS sp_${a}_$b" }
        ).mkString(",\n")
      val selects = CORR_PAIRS.map { case (a, b) =>
        s"""SELECT '$a' AS x_col, '$b' AS y_col, CAST(n AS BIGINT) AS n,
           |  ${corrSql(a, b, "//", t => s"CAST($t AS HUGEINT)")} AS corr
           |FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH m AS (SELECT count(*) AS n,\n$moments\n  FROM lineitem)\n$selects"
    },
    // Same bitlength buckets, same addition-merged state, same
    // cross-multiplied walks for both the sketch and the exact comparator.
    "q189_log_histogram" ->
      """WITH hist AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(length(bin(c)) AS BIGINT) AS bucket,
        |    CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM hist GROUP BY 1, 2),
        |stc AS (SELECT event_type, bucket, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM st),
        |qq AS (SELECT CAST(q AS BIGINT) AS q FROM (VALUES (50),(90),(99)) v(q)),
        |est AS (SELECT s.event_type, q.q, min(s.bucket) AS b
        |  FROM stc s, qq q WHERE s.cum * 100 >= s.n * q.q GROUP BY 1, 2),
        |hc AS (SELECT event_type, c, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM hist),
        |ex AS (SELECT h.event_type, q.q, min(h.c) AS exact
        |  FROM hc h, qq q WHERE h.cum * 100 >= h.n * q.q GROUP BY 1, 2)
        |SELECT event_type, 'bucket' AS kind, bucket AS k,
        |  cnt AS v1, cum AS v2, CAST(NULL AS BIGINT) AS v3
        |FROM stc
        |UNION ALL
        |SELECT e.event_type, 'quantile', e.q,
        |  CAST(1 AS BIGINT) << CAST(e.b - 1 AS INTEGER),
        |  (CAST(1 AS BIGINT) << CAST(e.b AS INTEGER)) - 1,
        |  x.exact
        |FROM est e JOIN ex x ON x.event_type = e.event_type AND x.q = e.q"""
        .stripMargin,
    // Same cents moments, same 2-row pooled window, same shared CUPED
    // float tree over the split moments.
    "q188_cuped" -> {
      val e = cupedSql("//", t => s"CAST($t AS HUGEINT)")
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |ua AS (SELECT x, y,
        |    CAST(CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
        |      AS UBIGINT) % 2 AS BIGINT) AS arm
        |  FROM u),
        |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
        |    sum(CAST(y * y AS DECIMAL(38,0))) AS syy
        |  FROM ua GROUP BY 1),
        |p AS (SELECT arm, n, sx, sy, sxx, sxy, syy,
        |    CAST(sum(n) OVER () AS BIGINT) AS np,
        |    CAST(sum(sx) OVER () AS BIGINT) AS spx,
        |    CAST(sum(sy) OVER () AS BIGINT) AS spy,
        |    sum(sxx) OVER () AS spxx,
        |    sum(sxy) OVER () AS spxy
        |  FROM a)
        |SELECT arm, n, sx, sy,
        |  CAST(sxx AS VARCHAR) AS sxx, CAST(sxy AS VARCHAR) AS sxy,
        |  CAST(syy AS VARCHAR) AS syy,
        |""".stripMargin +
        s"""  ${e("theta")} AS theta,
           |  ${e("mean_y")} AS mean_y, ${e("var_y")} AS var_y,
           |  ${e("mean_adj")} AS mean_adj, ${e("var_adj")} AS var_adj
           |FROM p""".stripMargin
    },
    // Same cents histogram, same cross-multiplied percentile walk, same
    // histogram-side clipping; two divisions over exact BIGINTs.
    "q186_winsorize" ->
      """WITH hist AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM hist),
        |thr AS (SELECT event_type,
        |    min(CASE WHEN cum * 20 >= n THEN c END) AS lo,
        |    min(CASE WHEN cum * 20 >= n * 19 THEN c END) AS hi,
        |    max(n) AS n
        |  FROM cum GROUP BY 1),
        |j AS (SELECT h.event_type, h.c, h.cnt, t.lo, t.hi, t.n
        |  FROM hist h JOIN thr t USING (event_type))
        |SELECT event_type, max(n) AS n,
        |  max(lo) AS lo_cents, max(hi) AS hi_cents,
        |  CAST(sum(CASE WHEN c < lo THEN cnt ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN c > hi THEN cnt ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  CAST(sum(c * cnt) AS BIGINT) AS sum_raw,
        |  CAST(sum(greatest(least(c, hi), lo) * cnt) AS BIGINT) AS sum_winsor,
        |  CAST(sum(c * cnt) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS mean_raw,
        |  CAST(sum(greatest(least(c, hi), lo) * cnt) AS DOUBLE)
        |    / CAST(max(n) AS DOUBLE) AS mean_winsor
        |FROM j GROUP BY 1""".stripMargin,
    // Same centi-unit power sums, same shared float tree over the split
    // moments; the exact state gates as integers/decimal strings.
    "q183_moment_shape" -> {
      val (skew, kurt) = shapeSql("//", t => s"CAST($t AS HUGEINT)")
      val qc = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
      s"""WITH m AS (SELECT event_type, count(*) AS n,
         |    CAST(sum($qc) AS BIGINT) AS s1,
         |    sum(CAST($qc * $qc AS DECIMAL(19,0))) AS s2,
         |    sum(CAST($qc * $qc AS DECIMAL(19,0)) * CAST($qc AS DECIMAL(19,0)))
         |      AS s3,
         |    sum(CAST($qc * $qc AS DECIMAL(19,0)) * CAST($qc * $qc AS DECIMAL(19,0)))
         |      AS s4
         |  FROM events WHERE value IS NOT NULL GROUP BY 1)
         |SELECT event_type, n, s1,
         |  CAST(s2 AS VARCHAR) AS s2, CAST(s3 AS VARCHAR) AS s3,
         |  CAST(s4 AS VARCHAR) AS s4,
         |  $skew AS skewness, $kurt AS ex_kurtosis
         |FROM m""".stripMargin
    },
    // Same literal milli-probabilities (generated from the SAME constant
    // list), same cross-multiplied integers, one division per digit.
    "q180_benford" ->
      s"""WITH dg AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders),
         |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM dg GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM orders),
         |e AS (SELECT CAST(digit AS BIGINT) AS digit,
         |    CAST(exp_milli AS BIGINT) AS exp_milli
         |  FROM (VALUES ${BENFORD_MILLI.map { case (dg, m) => s"($dg,$m)" }.mkString(",")})
         |    v(digit, exp_milli)),
         |j AS (SELECT e.digit, COALESCE(c.n_obs, 0) AS n_obs, e.exp_milli, t.n_tot
         |  FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN t)
         |SELECT digit, n_obs, exp_milli, n_tot,
         |  (1000 * n_obs - exp_milli * n_tot)
         |    * (1000 * n_obs - exp_milli * n_tot) AS num,
         |  1000 * exp_milli * n_tot AS den,
         |  CAST((1000 * n_obs - exp_milli * n_tot)
         |      * (1000 * n_obs - exp_milli * n_tot) AS DOUBLE)
         |    / CAST(1000 * exp_milli * n_tot AS DOUBLE) AS chi2_term
         |FROM j""".stripMargin,
    // Same cents quantization, same grouped-rank closed form, same single
    // division per segment.
    "q181_gini" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |b AS (SELECT c_mktsegment AS seg, rev
        |  FROM rev JOIN customer ON c_custkey = o_custkey),
        |h AS (SELECT seg, rev, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |p AS (SELECT seg, rev, c,
        |    COALESCE(CAST(sum(c) OVER (PARTITION BY seg ORDER BY rev
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pfx
        |  FROM h),
        |g AS (SELECT seg, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(rev * c) AS BIGINT) AS t,
        |    CAST(sum(rev * (c * pfx + (c * (c + 1)) // 2)) AS BIGINT) AS srank
        |  FROM p GROUP BY 1)
        |SELECT seg, n, t, srank,
        |  CAST(2 * srank - (n + 1) * t AS DOUBLE) / CAST(n * t AS DOUBLE) AS gini
        |FROM g""".stripMargin,
    // Same cross-multiplied integers, same single division per row.
    "q133_drift_chi2" ->
      """WITH h AS (SELECT lang,
        |    CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS UBIGINT) % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS UBIGINT) % 5 <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM documents GROUP BY lang),
        |t AS (SELECT lang, n_a, n_b,
        |    CAST(sum(n_a) OVER () AS BIGINT) AS na_tot,
        |    CAST(sum(n_b) OVER () AS BIGINT) AS nb_tot FROM h)
        |SELECT lang, n_a, n_b,
        |  (n_a * nb_tot - n_b * na_tot) * (n_a * nb_tot - n_b * na_tot) AS num,
        |  na_tot * nb_tot * (n_a + n_b) AS den,
        |  CAST((n_a * nb_tot - n_b * na_tot) * (n_a * nb_tot - n_b * na_tot) AS DOUBLE)
        |    / CAST(na_tot * nb_tot * (n_a + n_b) AS DOUBLE) AS chi2_term
        |FROM t""".stripMargin,
    // Same three estimators, same integer arithmetic.
    "q130_join_cardinality" ->
      """WITH h AS (SELECT event_type, count(*) AS c FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n, count(DISTINCT event_type) AS ndv FROM events),
        |m AS (SELECT max(c) AS cmax FROM h)
        |SELECT 'exact_histogram' AS method,
        |  CAST(sum(c * c) AS BIGINT) AS est_rows FROM h
        |UNION ALL
        |SELECT 'system_r_uniform', CAST((n * n) // ndv AS BIGINT) FROM t
        |UNION ALL
        |SELECT 'top1_plus_uniform',
        |  CAST(cmax * cmax + ((n - cmax) * (n - cmax)) // (ndv - 1) AS BIGINT)
        |FROM t, m""".stripMargin,
    // Same sets, same bit order (first grouping column most significant).
    "q121_grouping_sets" ->
      """SELECT lang, source,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS gid, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |    AS total_tokens
        |FROM documents
        |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())""".stripMargin,
    // Fixed-list conditional aggregation — the portable pivot spelling.
    "q59_pivot" ->
      s"""SELECT user_id % 10 AS user_bucket,
         |${OlapQueries.EVENT_TYPES.map(t =>
             s"  count(*) FILTER (WHERE event_type = '$t') AS $t").mkString(",\n")}
         |FROM events GROUP BY 1""".stripMargin,
    "q60_json_extract" ->
      """SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q71_cube" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |    AS total_tokens,
        |  CAST(grouping(lang) AS INTEGER) AS lang_subtotal,
        |  CAST(grouping(source) AS INTEGER) AS source_subtotal
        |FROM documents GROUP BY CUBE (lang, source)""".stripMargin,
    // Identical snapshot split (md5 hash-bucket), identical set algebra.
    "q77_set_ops" ->
      """WITH s AS (SELECT doc_id, lang, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 5
        |      AS bkt FROM documents),
        |a AS (SELECT doc_id, lang, source FROM s WHERE bkt <> 0),
        |b AS (SELECT doc_id, lang, source FROM s WHERE bkt <> 1)
        |SELECT 'only_a' AS op, doc_id, lang, source
        |  FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL SELECT 'only_b', doc_id, lang, source
        |  FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
        |UNION ALL SELECT 'common', doc_id, lang, source
        |  FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL SELECT 'mix_intersect_all', CAST(NULL AS BIGINT), lang, source
        |  FROM (SELECT lang, source FROM a INTERSECT ALL SELECT lang, source FROM b)
        |UNION ALL SELECT 'mix_except_all', CAST(NULL AS BIGINT), lang, source
        |  FROM (SELECT lang, source FROM a EXCEPT ALL SELECT lang, source FROM b)""".stripMargin)
}
