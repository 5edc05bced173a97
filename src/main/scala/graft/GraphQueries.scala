package graft

import org.apache.spark.sql.functions._

/** Iterative graph analytics over the relational star — PageRank on the
  * customer↔supplier bipartite graph induced by orders⋈lineitem. Together
  * with q44's connected components (label propagation) this covers the two
  * canonical iterative-join shapes; PageRank adds the weighted-redistribution
  * regime (numeric mass through degrees, not just label minima) that backs
  * entity-importance scoring, seed-document expansion, and link-graph
  * curation of web crawls.
  *
  * Determinism is the q81 discipline, applied to a graph: rank is BIGINT
  * mass in fixed-point units (10^12 per node), per-edge contributions are
  * floor-divided by degree, and every per-node reduction is a BIGINT sum —
  * associative and commutative, so ANY task order, ANY combiner tree, and
  * ANY partitioning produces bit-identical ranks (a float PageRank drifts
  * per run; this one is hash-gated against DuckDB exactly). The damping
  * update r' = 0.15·S + 0.85·Σ floor(r/deg) runs as integer multiply-divide
  * ((85·Σ) div 100), so no transcendentals and no rounding ambiguity
  * anywhere. Σ contributions is bounded by N·S·85 ≈ 1.4e17 at sf0.01 —
  * three orders under 2^63; a billion-node graph upgrades the sums to
  * DECIMAL before overflow, same plan.
  *
  * Scale shape: the edge list is built ONCE (distinct pairs from the
  * orders⋈lineitem join, symmetrized) and each of the 3 fixed iterations is
  * one rank-side join + one dst-keyed aggregation with map-side partial
  * sums. The rank table is |nodes| rows — orders of magnitude smaller than
  * the edge list — so it is hinted broadcast; on a graph whose rank table
  * outgrows broadcast, pre-partition edges and ranks on the same key and
  * the join is co-located, no edge-side exchange per round. More
  * rounds = the same fragment repeated, with q44's localCheckpoint lineage
  * discipline once the round count grows past a handful.
  */
object GraphQueries {
  import Queries.Q

  private val PR_SCALE = 1000000000000L // fixed-point mass per node (10^12)
  private val PR_BASE = PR_SCALE * 15L / 100L // the 0.15 teleport term
  private val PR_ITERS = 3

  /** Size-thresholded physical switch for the iterative graph family
    * (q89 PageRank / q178 BFS / q200 SSSP). The node-sized tables (rank /
    * frontier / visited / distance) broadcast fine up to a few tens of
    * millions of nodes — past that the per-round broadcast OOMs the
    * executors, and the same loops must run as CO-PARTITIONED keyed joins:
    * edges frozen on hash(src) once (localCheckpoint pins both the
    * partitioning and the lineage), the node table re-keyed on hash(node)
    * with the SAME partition count, so the edge list NEVER pays a
    * per-round exchange — its only per-round cost is the dst-keyed
    * aggregation that every variant needs. This is the Spark analog of
    * the reference's diststyle choice (README.md:73-75): ALL (broadcast)
    * for small dims, KEY (co-partition) for big ones.
    *
    * The switch compares an upper bound on the node count — the
    * customer + supplier dimension sizes, read from their parquet footers
    * ([[graft.sources.Footers]]: driver-side, no Spark job, and a
    * recursive walk, so a partitioned layout counts the files its scan
    * reads) PER CALL (deliberately unmemoized: a rewritten scale dir
    * must never be served a stale count; if per-call listing cost ever
    * matters at very large file counts, memoize keyed by (path, mtime))
    * — against [[BroadcastNodeLimit]]. Both paths produce bit-identical
    * results (every update is integer min/sum — OperationalSpec proves
    * keyed ≡ broadcast on all three queries); only the physical plan
    * moves. */
  private[graft] def graphKeyed(s: org.apache.spark.sql.SparkSession,
                                d: String): Boolean =
    graft.sources.Footers.rowCount(s, s"$d/customer.parquet") +
      graft.sources.Footers.rowCount(s, s"$d/supplier.parquet") > BroadcastNodeLimit

  /** 10M nodes ≈ 160 MB of (node,rank) rows: safely inside executor
    * memory as a broadcast, and far past every test scale. */
  private val BroadcastNodeLimit = 10000000L

  /** Scope `canChangeCachedPlanOutputPartitioning = false` to the keyed
    * graph loops — the ONLY plans that rely on a persisted edge list
    * keeping its hash(src,np) output partitioning across rounds. Session-
    * wide the conf would also pin every OTHER cached plan's partitioning,
    * costing cache-heavy queries the AQE re-plan they want (the round-10
    * bench regression on q84/q82/q79/q81); scoped set/restore keeps the
    * pin exactly where it pays. The conf is read both when the cache
    * entry is compiled (persist) and when consumers plan against it, so
    * the whole keyed loop — setup through final checkpoint — runs inside
    * the scope.
    *
    * Concurrency: the set/restore mutates SHARED session conf, so scopes
    * on one session serialize per session ([[SessionConf]] — scopes on
    * independent `newSession()` clones run concurrently); a concurrent
    * NON-graph query on the SAME session can still observe the pin for
    * the scope's duration — callers running mixed concurrent workloads
    * should give graph queries their own `newSession()` (separate conf,
    * shared cache). Bench and Verify run strictly sequentially, where
    * none of this applies. */
  private[graft] def withPinnedCachedPartitioning[T](
      s: org.apache.spark.sql.SparkSession)(body: => T): T =
    SessionConf.withValue(s,
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "false")(body)

  /** The customer↔supplier bipartite edge list induced by orders⋈lineitem,
    * symmetrized, with nodes packed into one BIGINT (custkey·2 /
    * suppkey·2+1) so every iterative loop over it is long-keyed — shared by
    * q89 (PageRank) and q178 (BFS). Built ONCE per query; at cluster scale
    * this is the materialized edge table every graph pass reads. */
  private[graft] def bipartiteEdges(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame = {
    // Measured (r18 opt): rebalancing the fact before this probe LOST
    // ~0.3 s on q89/q178 — the probe is a cheap BHJ + distinct partial,
    // not worth an extra raw-row exchange. Kept in-scan.
    val e0 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** q89: 3-iteration fixed-point PageRank. Nodes pack into one BIGINT —
    * custkey·2 / suppkey·2+1 — so the whole loop is long-keyed (no string
    * keys on the hot path); the output decodes the type back out. The
    * symmetrized bipartite graph has no dangling nodes (every node has the
    * reverse edge), so no dangling-mass redistribution term is needed.
    * Physical mode per [[graphKeyed]]: broadcast rank table below the node
    * threshold, co-partitioned keyed joins above it. */
  val q89Pagerank: Q = (s, d) =>
    pagerankRanks(s, d, graphKeyed(s, d)).select(
      when(pmod(col("node"), lit(2)) === 0, lit("customer"))
        .otherwise(lit("supplier")).as("node_type"),
      expr("node div 2").as("key"),
      col("r").as("rank_fp"))

  /** One damping round: contributions r div deg flow along edges, collapse
    * per dst with map-side partial sums, re-damp. Shared verbatim by both
    * physical modes (and pinned by PlanSpec per mode) — the node-side
    * `shape` hook is `broadcast` below the threshold and a shuffle_hash
    * hint above it, so the semantics can never drift between paths. */
  private[graft] def pagerankRound(edgeDeg: org.apache.spark.sql.DataFrame,
                            ranks: org.apache.spark.sql.DataFrame,
                            shape: org.apache.spark.sql.DataFrame =>
                              org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edgeDeg.join(shape(ranks), edgeDeg("src") === ranks("node"))
      .select(col("dst"), expr("r div deg").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      .select(col("dst").as("node"),
        (lit(PR_BASE) + expr("(85 * sc) div 100")).as("r"))

  /** The rank loop, mode-explicit (exposed so OperationalSpec can prove
    * keyed ≡ broadcast and PlanSpec can pin each shape). */
  private[graft] def pagerankRanks(s: org.apache.spark.sql.SparkSession,
                                   d: String,
                                   keyed: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val edges0 = bipartiteEdges(s, d)
    if (!keyed) {
      // |nodes| ≪ |edges|: degree and rank tables are hinted broadcast —
      // statically, not left to AQE, because the aggregation output's size
      // is unknown to the static planner and the edge list must NEVER pay
      // a sort-merge exchange per iteration.
      // EAGER edge checkpoint (r19 opt): the uncut plan's consumers of the
      // edge list — the deg broadcast build, the round-1 rank broadcast
      // build, and the probe side — are submitted CONCURRENTLY, and
      // running broadcast jobs do not share map stages mid-flight: the
      // event log showed the orders⋈lineitem+distinct build executing
      // THREE times in parallel (~0.9 s × 3 CPU at sf0.1). r18's LAZY
      // checkpoint trial (2.0 → 3.0 s, reverted) hit exactly this: lazy
      // blocks materialize per racing consumer. Eager materializes once
      // BEFORE the consumers fan out; everything downstream reads blocks.
      val edges = edges0.localCheckpoint(true)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val edgeDeg = edges.join(broadcast(deg), "src")
      var ranks = deg.select(col("src").as("node"), lit(PR_SCALE).as("r"))
      for (_ <- 1 to PR_ITERS) ranks = pagerankRound(edgeDeg, ranks, broadcast)
      ranks
    } else withPinnedCachedPartitioning(s) {
      // Co-partitioned loop: the edges⋈degrees build already exchanges on
      // src, so ONE explicit repartition pins hash(src, np) (AQE never
      // coalesces an explicit count) and localCheckpoint freezes both the
      // partitioning and the lineage. Each round's rank table re-pins
      // hash(node, np) through the shared nodeShape hook (the same
      // explicit re-key BFS/SSSP use) — node-sized, the only per-round
      // exchanges are that re-key plus the dst aggregation every mode
      // pays. The shuffle_hash hint keeps the join a build-side hash of
      // the rank table: no broadcast (the threshold said it wouldn't
      // fit), and no per-round re-sort of the edge list (SMJ would pay
      // one).
      val np = s.sessionState.conf.numShufflePartitions
      val (edgeDeg, ranks0) = pagerankKeyedSetup(s, d)
      var ranks = ranks0
      for (_ <- 1 to PR_ITERS)
        ranks = pagerankRound(edgeDeg, ranks,
            df => nodeShape(keyed = true, np)(df, "node"))
          .localCheckpoint(true)
      // every round is checkpointed, so the edge cache has no remaining
      // consumer — release it rather than pinning edge-list-sized blocks
      // for the session lifetime (the Dedup block-release discipline)
      edgeDeg.unpersist()
      ranks
    }
  }

  /** Keyed-mode inputs: the edge⋈degree list exchanged on hash(src,np)
    * ONCE and persisted — the cached plan's output partitioning is
    * deterministic inside [[withPinnedCachedPartitioning]], so every
    * round's join sees hash(src,np) already satisfied and the edge list
    * never re-exchanges; localCheckpoint would FORGET the partitioning
    * (LogicalRDD resurfaces as UnknownPartitioning under AQE), which is
    * exactly the re-exchange-per-round this mode exists to avoid. The
    * rank side is node-sized: it re-keys per round (its one cheap
    * exchange) and localCheckpoints for the q44 lineage discipline.
    * Shared by the loop and the PlanSpec round pin — callers supply the
    * pinned-partitioning scope. */
  private[graft] def pagerankKeyedSetup(s: org.apache.spark.sql.SparkSession,
                                        d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val np = s.sessionState.conf.numShufflePartitions
    val edges = bipartiteEdges(s, d)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgeDeg = edges.join(deg.hint("shuffle_hash"), "src")
      .repartition(np, col("src")).persist()
    // checkpointed like every later round's output, so round 1 (and the
    // PlanSpec fragment) sees exactly the steady-state input shape
    val ranks = deg.select(col("src").as("node"), lit(PR_SCALE).as("r"))
      .localCheckpoint(true)
    (edgeDeg, ranks)
  }

  /** q178: k-hop BFS — exact minimum-hop distances from a seed set (the
    * customers of nation 0) through 3 rounds of frontier expansion over the
    * q89 bipartite graph. This is the reachability primitive behind seed
    * expansion ("every supplier within two business hops of these
    * customers"), blast-radius analysis, and crawl-frontier scheduling —
    * the third canonical iterative-join shape after q44's label propagation
    * (set minima) and q89's PageRank (mass redistribution): BFS carries
    * LEVELS, and each node must expand exactly once.
    *
    * Per round the plan is: edges ⋈ broadcast(frontier) → dst-distinct →
    * broadcast anti-join against the visited set. Frontier and visited are
    * node-sized — orders of magnitude under the edge list — so the edge
    * list NEVER pays a keyed exchange: its only shuffle-shaped cost is the
    * dst-distinct over the candidate set, which collapses map-side first.
    * Every value is an exact integer (node ids, hop counts) and every
    * operation is a set operation, so any task order, combiner tree, or
    * partitioning yields the identical distance table — hash-gated against
    * DuckDB's unrolled replay. A deeper walk repeats the same fragment with
    * q44's localCheckpoint lineage discipline; a graph whose visited set
    * outgrows broadcast swaps both broadcasts for co-partitioned joins on
    * node, same loop. Seeds that never appear in the edge list (customers
    * with no orders) stay isolated at dist 0 — kept, not dropped: absence
    * from the graph is itself the finding. */
  /** q250: RECURSIVE CTE — the SQL-surface form of the iterative walks
    * (Spark 4's `WITH RECURSIVE` → a Catalyst `UnionLoop`, plan-pinned).
    * An ancestry walk over the implicit binary-tree hierarchy on customer
    * keys (parent = key div 2): every node has exactly ONE chain to the
    * root, so the recursion is explosion-free by construction — rows =
    * Σ depths ≈ N·log₂N — and terminates when a chain reaches key 1 (the
    * root is excluded from the edge set, so the join finds no successor;
    * no depth cap needed). Output: per node, its ancestor count and root
    * distance; DuckDB runs its own recursive-CTE evaluator on identical
    * SQL — two independent fixpoint engines, one hash.
    *
    * Scale honesty: UnionLoop re-plans the step query each iteration and
    * offers no control over loop-invariant partitioning — for the
    * billion-edge regime the engine's keyed loops (q44/q89/q178/q191,
    * with pinned edge partitioning and checkpoint discipline) remain the
    * scale path; the recursive CTE is the right surface for
    * hierarchy-depth walks like this one, where each iteration's frontier
    * is a shrinking fraction of a node-sized table. */
  val q250RecursiveCte: Q = (s, d) => {
    val customer = Tables.view(s, d, "customer")
    s.sql(
      // Measured (r18 opt): materializing the edge relation once (the q141
      // treatment) did NOT move q250 — this loop's invariant subtree is a
      // trivial 15k-row scan and the cost is UnionLoop's per-iteration
      // re-plan itself. Kept in the plain shared-SQL form.
      s"""WITH RECURSIVE anc(node, anc_node, depth) AS (
         |  SELECT c_custkey, c_custkey div 2, 1
         |    FROM $customer WHERE c_custkey > 1
         |  UNION ALL
         |  SELECT a.node, e.parent, a.depth + 1
         |  FROM anc a JOIN (SELECT c_custkey AS child, c_custkey div 2 AS parent
         |                     FROM $customer
         |                    WHERE c_custkey > 1) e
         |    ON e.child = a.anc_node
         |)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_ancestors,
         |  CAST(max(depth) AS INT) AS root_depth
         |FROM anc GROUP BY node""".stripMargin)
  }

  val q178BfsKhop: Q = (s, d) =>
    bfsDistances(s, d, graphKeyed(s, d)).select(
      when(pmod(col("node"), lit(2)) === 0, lit("customer"))
        .otherwise(lit("supplier")).as("node_type"),
      expr("node div 2").as("key"),
      col("dist"))

  /** The BFS loop, mode-explicit. Keyed mode: edges pinned on hash(src,np)
    * once; each round's frontier/visited re-key on hash(node,np) (both
    * node-sized), so the expansion join and the visited anti-join are
    * co-partitioned shuffled-hash joins — the edge list never re-exchanges
    * and nothing node-sized ever broadcasts. */
  private[graft] def bfsDistances(s: org.apache.spark.sql.SparkSession,
                                  d: String,
                                  keyed: Boolean)
      : org.apache.spark.sql.DataFrame = {
    def loop = {
      val np = s.sessionState.conf.numShufflePartitions
      val edges0 = bipartiteEdges(s, d)
      // keyed: persist, not localCheckpoint — the cached plan KEEPS
      // hash(src,np) (pagerankKeyedSetup). broadcast: lazy-checkpoint the
      // edge build so the checkpoint-cut rounds share one materialization
      // of it (see ssspDistances — exchange reuse cannot cross the cut).
      val edges = if (keyed)
        edges0.repartition(np, col("src")).persist()
      else edges0.localCheckpoint(false)
      val seeds = Tables.customer(s, d).filter(col("c_nationkey") === 0)
        .select((col("c_custkey") * 2).as("node")).distinct()
        .withColumn("dist", lit(0L))
      var visited = seeds
      var frontier = seeds.select(col("node"))
      for (i <- 1 to BFS_HOPS) {
        val next0 = bfsRound(edges, frontier, visited, i,
          nodeShape(keyed, np))
        // broadcast mode cuts lineage too, LAZILY: `visited` feeds each
        // round twice (anti-join + union accumulation), so an uncut chain
        // doubles the Catalyst plan per hop — 2^HOPS copies of the seed
        // subtree to analyze/codegen. Lazy localCheckpoint keeps the plan
        // linear at zero extra jobs (node-sized blocks materialize inside
        // the query's own action).
        val next = next0.localCheckpoint(keyed)
        visited = visited.unionByName(next)
        frontier = next.select(col("node"))
      }
      // keyed rounds are all checkpointed (and the seed level replays from
      // its own scan), so the edge cache has no remaining consumer
      if (keyed) edges.unpersist()
      visited
    }
    if (keyed) withPinnedCachedPartitioning(s)(loop) else loop
  }

  /** Node-side physical shape: broadcast below the threshold, a
    * co-partitioned build-side hash above it — the ONE hook both loop
    * modes and the PlanSpec fragments share. */
  private[graft] def nodeShape(keyed: Boolean, np: Int)
      : (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.DataFrame =
    (df, key) =>
      if (keyed) df.repartition(np, col(key)).hint("shuffle_hash")
      else broadcast(df)

  /** One frontier expansion: edges ⋈ frontier → dst-distinct → anti-join
    * the visited set; shared verbatim by both physical modes. */
  private[graft] def bfsRound(edges: org.apache.spark.sql.DataFrame,
                       frontier: org.apache.spark.sql.DataFrame,
                       visited: org.apache.spark.sql.DataFrame,
                       i: Int,
                       shape: (org.apache.spark.sql.DataFrame, String) =>
                         org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edges.join(shape(frontier, "node"), edges("src") === frontier("node"))
      .select(col("dst").as("node")).distinct()
      .join(shape(visited.select(col("node").as("vnode")), "vnode"),
        col("node") === col("vnode"), "left_anti")
      .select(col("node")).withColumn("dist", lit(i.toLong))

  private val BFS_HOPS = 3
  private val SSSP_HOPS = 4

  /** q200: weighted single-source shortest paths — BFS upgraded from hop
    * counts to COSTS: the minimum total edge weight from the q178 seed set
    * (customers of nation 0) over paths of ≤ [[SSSP_HOPS]] edges, by
    * Bellman-Ford rounds (relax every edge, keep the per-node minimum).
    * This is the cheapest-route primitive behind supply-chain reach
    * ("cheapest way to source from this supplier pool"), weighted
    * influence radii, and cost-bounded crawl scheduling — the fourth
    * iterative-join shape: BFS carries levels, PageRank carries mass,
    * components carry labels, SSSP carries MINIMA OVER SUMS.
    *
    * Edge weights are data-derived exact integers: the minimum
    * floor(l_quantity) over the lineitems linking a (customer, supplier)
    * pair — a keyed MIN at edge-build time, so the weighted graph is
    * built once, deterministically. Every relaxation is BIGINT add + MIN:
    * associative, commutative, order-free — any task order, combiner
    * tree, or partitioning yields the identical distance table, and the
    * DuckDB oracle replays the rounds unrolled, hash-exact. K-round
    * Bellman-Ford computes EXACTLY "shortest cost among ≤K-edge paths" —
    * a well-defined semantic on its own (cost-bounded reachability), not
    * an approximation that needs a convergence epsilon.
    *
    * Scale shape, per round: edges ⋈ broadcast(dist) → dst-keyed MIN with
    * map-side partial combine. The distance table is node-sized (≪ edge
    * list) so the edge list NEVER pays a keyed exchange; a graph whose
    * distance table outgrows broadcast co-partitions edges and distances
    * on src — same loop, and past a handful of rounds the q44
    * localCheckpoint lineage discipline applies. Seeds outside the edge
    * list stay at dist 0 (isolation is a finding — q178's contract). */
  val q200Sssp: Q = (s, d) =>
    ssspDistances(s, d, graphKeyed(s, d)).select(
      when(pmod(col("node"), lit(2)) === 0, lit("customer"))
        .otherwise(lit("supplier")).as("node_type"),
      expr("node div 2").as("key"),
      col("dist"))

  /** The Bellman-Ford loop, mode-explicit. Keyed mode: weighted edges
    * pinned on hash(src,np) once; each round's distance table re-keys on
    * hash(node,np) (node-sized), relaxations stream the edge partitions
    * against a build-side hash of the distances, and the per-node MIN
    * collapses map-side — the edge list never re-exchanges and the
    * distance table never broadcasts. */
  private[graft] def ssspDistances(s: org.apache.spark.sql.SparkSession,
                                   d: String,
                                   keyed: Boolean)
      : org.apache.spark.sql.DataFrame = {
    def loop = {
      val np = s.sessionState.conf.numShufflePartitions
      val e0 = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"),
          floor(col("l_quantity")).cast(org.apache.spark.sql.types.LongType)
            .as("w0"))
        .groupBy(col("src"), col("dst")).agg(min(col("w0")).as("w"))
      val edges0 = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      // keyed: persist, not localCheckpoint — the cached plan KEEPS
      // hash(src,np), so no round ever re-exchanges the edge list
      // (pagerankKeyedSetup). broadcast: lazy-checkpoint the weighted edge
      // build so all rounds share ONE materialization of it — with the
      // rounds' lineage now cut (below), each round otherwise re-plans and
      // re-executes the whole orders⋈lineitem build, because runtime
      // exchange reuse only deduplicates within a single planned query.
      // Block-level reuse is the same shape keyed mode already pays.
      val edges = if (keyed)
        edges0.repartition(np, col("src")).persist()
      else edges0.localCheckpoint(false)
      var dist = Tables.customer(s, d).filter(col("c_nationkey") === 0)
        .select((col("c_custkey") * 2).as("node")).distinct()
        .withColumn("dist", lit(0L))
      for (_ <- 1 to SSSP_HOPS) {
        val relaxed = ssspRound(edges, dist, nodeShape(keyed, np))
        // keyed: eager checkpoint (the q44 lineage discipline). broadcast:
        // LAZY checkpoint — ssspRound nests `dist` TWICE (relax + union),
        // so an uncut lineage doubles the plan per round: 2^HOPS copies of
        // the seed subtree for Catalyst/codegen even though runtime
        // exchange reuse deduplicates the work. The lazy cut keeps plans
        // linear in rounds at zero extra jobs (blocks materialize inside
        // the query's own single action) and the table is node-sized.
        dist = relaxed.localCheckpoint(keyed)
      }
      // the final distance table is checkpointed — release the edge cache
      if (keyed) edges.unpersist()
      dist
    }
    if (keyed) withPinnedCachedPartitioning(s)(loop) else loop
  }

  /** One Bellman-Ford relaxation round, shared verbatim by both modes. */
  private[graft] def ssspRound(edges: org.apache.spark.sql.DataFrame,
                        dist: org.apache.spark.sql.DataFrame,
                        shape: (org.apache.spark.sql.DataFrame, String) =>
                          org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edges.join(shape(dist, "node"), edges("src") === dist("node"))
      .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      .unionByName(dist)
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))

  /** q191: connected components by STAR CONTRACTION (Kiveris et al.
    * SoCC'14) — the O(log n)-round algorithm that replaces q44's
    * O(diameter) label propagation when the graph has chains. The graph
    * here is exactly that adversarial shape: each customer's orders linked
    * consecutively by (o_orderdate, o_orderkey) — a forest of paths whose
    * diameter is the largest order history, the regime where plain
    * propagation pays one full round per hop (OperationalSpec proves the
    * separation on a 192-node path: contraction converges in ≤9 rounds
    * where 9 propagation rounds have moved labels only 9 hops).
    *
    * The ORACLE is independent of the algorithm: the chain construction
    * makes ground truth a window minimum (component of an order = min
    * orderkey of its customer), so DuckDB never runs a graph algorithm at
    * all — any connectivity bug, dropped isolated node, or non-converged
    * round diverges from the closed form. Single-order customers are
    * isolated nodes: kept, self-labelled (absence of edges is a finding,
    * not a drop — the q178 discipline).
    *
    * Scale shape: per round one keyed exchange per half-step over an edge
    * list that SHRINKS monotonically (chains contract toward stars), with
    * localCheckpoint lineage truncation and a THROW past maxRounds — see
    * [[graft.operators.Graph]]. At 100 TB the chain build is one window
    * over the orders partitioning and the contraction never touches the
    * raw tables again. */
  val q191StarContraction: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val chain = ord.withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("o_orderkey").as("src"), col("nxt").as("dst"))
    // chains have degree ≤ 2: no skew for AQE to fix, so the loop runs
    // non-adaptive (fixed 3-exchange rounds, no per-stage re-plan barrier)
    val (labels, _) = graft.operators.Graph.starContractComponents(chain, 25,
      adaptiveLoop = false)
    ord.select(col("o_orderkey").as("node"))
      .join(labels, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
  }

  /** q222: MODULARITY of the nation partition over the trade graph — the
    * standard "is this community structure real" score (Newman '06):
    * Q = Σ_c (e_c/m − (d_c/2m)²), here asking whether geography explains
    * who trades with whom. Exact: scaled by 4m²,
    * Q·4m² = Σ_c (4m·e_c − d_c²) — every term BIGINT (e_c = intra-
    * community edges, d_c = total degree of the community, m = |edges|),
    * with the one readability division at the end. The same scaled-
    * integer trick as q89's fixed-point mass: community detection
    * quality becomes hash-gateable. Output: per-community rows (exact
    * scaled numerators; Σ q_contrib = Q), so a reader can see WHICH
    * nations trade inward.
    *
    * Scale shape: nation labels attach to the node-sized key space by
    * broadcast; e_c/d_c are two keyed aggregations over the edge list;
    * the global fold is K rows. */
  val q222Modularity: Q = (s, d) => {
    val e0 = bipartiteEdges(s, d) // symmetrized: each undirected edge twice
    val nat = Tables.customer(s, d)
      .select((col("c_custkey") * 2).as("node"), col("c_nationkey").as("nat"))
      .unionByName(Tables.supplier(s, d)
        .select((col("s_suppkey") * 2 + 1).as("node"),
          col("s_nationkey").as("nat")))
    val lbl = e0
      .join(broadcast(nat.select(col("node").as("src"), col("nat").as("na"))),
        "src")
      .join(broadcast(nat.select(col("node").as("dst"), col("nat").as("nb"))),
        "dst")
      // two consumers (the m2 count below and the per-nation aggregation):
      // checkpoint so the edge build + label attach runs ONCE instead of
      // once per pass — the same materialize-once shape the keyed loops pay
      .localCheckpoint(true)
    // symmetrized list: Σ rows = 2m; intra pairs counted twice too — the
    // 2s cancel exactly in the scaled formula below
    val m2 = lbl.count() // = 2m
    val per = lbl.groupBy(col("na").as("nation"))
      .agg(sum(when(col("na") === col("nb"), 1L).otherwise(0L)).as("intra2"),
        count(lit(1)).as("d_c"))
    per.select(col("nation"), expr("intra2 div 2").as("e_c"), col("d_c"),
        // contribution × 4m²: 4m·e_c − d_c²  (with m = m2/2); can be
        // NEGATIVE, so the readable ratio is ONE float division — an
        // integer div here would hit the truncate-vs-floor divergence
        (lit(m2) * col("intra2") - col("d_c") * col("d_c")).as("q_num_4m2"))
      .withColumn("m", lit(m2 / 2))
      .withColumn("q_contrib",
        col("q_num_4m2").cast(org.apache.spark.sql.types.DoubleType) /
          lit((m2.toDouble) * m2.toDouble))
  }

  /** q223: DEGREE ASSORTATIVITY of the trade graph — Newman's r: the
    * Pearson correlation of endpoint degrees over every edge. Negative r
    * (hubs attach to leaves) is the disassortative signature of
    * bipartite commerce networks; a build that breaks edge symmetry or
    * degree attachment flips it. Exact q179-style integer moments over
    * the symmetrized edge list: sums of (da, db, da·db, da², db²) in
    * BIGINT, numerator/denominator assembled by cross-multiplication,
    * ONE float division at the end. Output is a single audited row with
    * every moment visible.
    *
    * Scale shape: degree is one keyed count; attaching it to both edge
    * endpoints is two broadcasts of the node-sized degree table; the
    * moment fold is map-side algebraic — the edge list is scanned once
    * and never exchanged. */
  val q223Assortativity: Q = (s, d) => {
    // Measured (r19 opt): the q89 eager-checkpoint treatment (edge list +
    // degree table materialized once before the broadcast fan-out) was
    // interleave-A/B'd 3× at sf0.1 and LOST ~0.1–0.15 s consistently
    // (B 1.57/1.69/1.67 vs A 1.57/1.55/1.47). Unlike q89's three
    // DIFFERENT racing builds, q223's two broadcast degree subtrees are
    // identical modulo output aliases — sameResult-equal, so exchange
    // reuse computes ONE broadcast at runtime — and the remaining probe +
    // single deg build overlap on idle cores; the eager checkpoints only
    // serialized them behind two extra scheduler jobs. Kept uncut.
    val edges = bipartiteEdges(s, d)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    val withDeg = edges
      .join(broadcast(deg.select(col("src"), col("dg").as("da"))), "src")
      .join(broadcast(deg.select(col("src").as("dst"), col("dg").as("db"))),
        "dst")
    withDeg.agg(count(lit(1)).as("n_arcs"),
        sum(col("da")).as("sa"), sum(col("db")).as("sb"),
        sum(col("da") * col("db")).as("sab"),
        sum(col("da") * col("da")).as("saa"),
        sum(col("db") * col("db")).as("sbb"))
      .select(col("n_arcs"), col("sa"), col("sb"), col("sab"), col("saa"),
        col("sbb"),
        ((col("n_arcs") * col("sab") - col("sa") * col("sb"))
          .cast(org.apache.spark.sql.types.DoubleType) /
          sqrt((col("n_arcs") * col("saa") - col("sa") * col("sa"))
            .cast(org.apache.spark.sql.types.DoubleType) *
            (col("n_arcs") * col("sbb") - col("sb") * col("sb"))
              .cast(org.apache.spark.sql.types.DoubleType))).as("r"))
  }

  val queries: Map[String, Q] = Map(
    "q222_modularity" -> q222Modularity,
    "q223_assortativity" -> q223Assortativity,
    "q89_pagerank" -> q89Pagerank,
    "q178_bfs_khop" -> q178BfsKhop,
    "q250_recursive_cte" -> q250RecursiveCte,
    "q191_star_contraction" -> q191StarContraction,
    "q200_sssp" -> q200Sssp)

  private def iterCte(i: Int): String =
    s"""r$i AS (
       |  SELECT e.dst AS node,
       |    $PR_BASE + (85 * CAST(sum(r.r // e.deg) AS BIGINT)) // 100 AS r
       |  FROM ed e JOIN r${i - 1} r ON r.node = e.src
       |  GROUP BY e.dst)""".stripMargin

  val oracle: Map[String, String] = Map(
    // DuckDB's own recursive-CTE evaluator on the identical hierarchy —
    // two independent fixpoint engines, one hash.
    "q250_recursive_cte" ->
      """WITH RECURSIVE anc(node, anc_node, depth) AS (
        |  SELECT c_custkey, c_custkey // 2, 1 FROM customer WHERE c_custkey > 1
        |  UNION ALL
        |  SELECT a.node, e.parent, a.depth + 1
        |  FROM anc a JOIN (SELECT c_custkey AS child, c_custkey // 2 AS parent
        |                     FROM customer WHERE c_custkey > 1) e
        |    ON e.child = a.anc_node
        |)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_ancestors,
        |  CAST(max(depth) AS INTEGER) AS root_depth
        |FROM anc GROUP BY node""".stripMargin,
    // Same symmetrized edge list, same scaled-integer numerators, same
    // single float division for the readable contribution.
    "q222_modularity" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst FROM e0
        |          UNION ALL SELECT dst, src FROM e0),
        |nat AS (SELECT c_custkey * 2 AS node, c_nationkey AS nat FROM customer
        |  UNION ALL SELECT s_suppkey * 2 + 1, s_nationkey FROM supplier),
        |lbl AS (SELECT na.nat AS na, nb.nat AS nb
        |  FROM edges e JOIN nat na ON na.node = e.src
        |  JOIN nat nb ON nb.node = e.dst),
        |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM lbl),
        |per AS (SELECT na AS nation,
        |    CAST(sum(CASE WHEN na = nb THEN 1 ELSE 0 END) AS BIGINT) AS intra2,
        |    CAST(count(*) AS BIGINT) AS d_c
        |  FROM lbl GROUP BY 1)
        |SELECT nation, intra2 // 2 AS e_c, d_c,
        |  m2.m2 * intra2 - d_c * d_c AS q_num_4m2,
        |  m2.m2 // 2 AS m,
        |  CAST(m2.m2 * intra2 - d_c * d_c AS DOUBLE)
        |    / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)) AS q_contrib
        |FROM per, m2""".stripMargin,
    // Same degree attachment, same BIGINT moments, same one-division r.
    "q223_assortativity" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst FROM e0
        |          UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS dg
        |  FROM edges GROUP BY 1),
        |wd AS (SELECT da.dg AS da, db.dg AS db
        |  FROM edges e JOIN deg da ON da.src = e.src
        |  JOIN deg db ON db.src = e.dst),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS n_arcs,
        |    CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
        |    CAST(sum(da * db) AS BIGINT) AS sab,
        |    CAST(sum(da * da) AS BIGINT) AS saa,
        |    CAST(sum(db * db) AS BIGINT) AS sbb
        |  FROM wd)
        |SELECT n_arcs, sa, sb, sab, saa, sbb,
        |  CAST(n_arcs * sab - sa * sb AS DOUBLE)
        |    / sqrt(CAST(n_arcs * saa - sa * sa AS DOUBLE)
        |         * CAST(n_arcs * sbb - sb * sb AS DOUBLE)) AS r
        |FROM mo""".stripMargin,
    // The identical integer update, unrolled: BIGINT floor divisions and
    // sums have exactly one answer, so the replay is bit-exact.
    "q89_pagerank" ->
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS (SELECT src, dst FROM e0
         |          UNION ALL SELECT dst, src FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
         |r0 AS (SELECT src AS node, CAST($PR_SCALE AS BIGINT) AS r FROM deg),
         |${(1 to PR_ITERS).map(iterCte).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS node_type,
         |  node // 2 AS key, r AS rank_fp
         |FROM r$PR_ITERS""".stripMargin,
    // The identical frontier recursion, unrolled: each n_i is the distinct
    // neighbor set of n_{i-1} minus everything already levelled — set
    // operations over exact integers have exactly one answer.
    "q178_bfs_khop" ->
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS (SELECT src, dst FROM e0
         |          UNION ALL SELECT dst, src FROM e0),
         |n0 AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer
         |       WHERE c_nationkey = 0),
         |v0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM n0),
         |${(1 to BFS_HOPS).map(bfsCte).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS node_type,
         |  node // 2 AS key, dist
         |FROM v$BFS_HOPS""".stripMargin,
    // Ground truth WITHOUT a graph algorithm: the chain construction
    // (consecutive orders of one customer) makes each component exactly
    // one customer's order set, so the component minimum is a window
    // minimum — an independent closed form, not a replay of the
    // contraction.
    "q191_star_contraction" ->
      """SELECT o_orderkey AS node,
        |  min(o_orderkey) OVER (PARTITION BY o_custkey) AS component
        |FROM orders""".stripMargin,
    // The identical relaxation recursion, unrolled: BIGINT add + MIN have
    // exactly one answer, so the K-round replay is bit-exact.
    "q200_sssp" ->
      s"""WITH e0 AS (
         |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
         |    min(CAST(floor(l_quantity) AS BIGINT)) AS w
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |edges AS (SELECT src, dst, w FROM e0
         |          UNION ALL SELECT dst, src, w FROM e0),
         |d0 AS (SELECT DISTINCT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS dist
         |       FROM customer WHERE c_nationkey = 0),
         |${(1 to SSSP_HOPS).map(ssspCte).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         |    AS node_type,
         |  node // 2 AS key, dist
         |FROM d$SSSP_HOPS""".stripMargin)

  private def ssspCte(i: Int): String =
    s"""d$i AS (
       |  SELECT node, min(dist) AS dist FROM (
       |    SELECT node, dist FROM d${i - 1}
       |    UNION ALL
       |    SELECT e.dst AS node, r.dist + e.w AS dist
       |    FROM edges e JOIN d${i - 1} r ON r.node = e.src) t
       |  GROUP BY node)""".stripMargin

  private def bfsCte(i: Int): String =
    s"""n$i AS (
       |  SELECT DISTINCT e.dst AS node
       |  FROM edges e JOIN n${i - 1} f ON e.src = f.node
       |  WHERE e.dst NOT IN (SELECT node FROM v${i - 1})),
       |v$i AS (SELECT node, dist FROM v${i - 1}
       |        UNION ALL SELECT node, CAST($i AS BIGINT) FROM n$i)""".stripMargin
}
