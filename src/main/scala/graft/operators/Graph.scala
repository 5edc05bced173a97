package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Star-contraction connected components — the alternating large-star /
  * small-star algorithm of Kiveris et al., "Connected Components in
  * MapReduce and Beyond" (SoCC'14).
  *
  * q44's min-label propagation converges in O(graph diameter) rounds: fine
  * for near-dup clusters (mutually-similar groups have diameter ~2), fatal
  * for chain-shaped graphs (a customer's order history, a crawl-frontier
  * path, an event causality chain) where diameter grows with the data. The
  * SURVEY §9 cluster-resolution note names star contraction as the
  * adversarial-diameter escape hatch; this is that operator, first-class.
  *
  * Mechanics per round (all pure min/set operations — deterministic under
  * ANY partitioning, task order, or combiner tree):
  *  - large-star: for every node u over the SYMMETRIZED neighborhood Γ(u),
  *    reconnect each strictly-larger neighbor to m = min(Γ(u) ∪ {u}).
  *  - small-star: direct every edge from its larger endpoint to its
  *    smaller; for every u over that smaller-neighbor list N(u),
  *    reconnect N(u) ∪ {u} to m = min(N(u)).
  * Both preserve connectivity (every rewired node stays connected to u
  * through m) and never raise a node's minimum reachable label; the
  * potential argument in the paper gives O(log² n) rounds worst-case
  * (O(log n) in practice). At the fixpoint the edge set is a star forest:
  * every edge points (node → component minimum).
  *
  * Scale shape: each half-round is ONE keyed exchange (groupBy node for
  * the neighborhood minimum, then a co-partitioned join back on the same
  * key); ONE distinct per ROUND re-canonicalizes at the small-star exit.
  * The large-star half emits raw (possibly duplicated) rewired edges —
  * duplicates are absorbed for free by the small-star half's min
  * aggregation (min over a multiset equals min over its set) and finally
  * collapsed by the round-exit distinct, so the former per-half-step
  * distinct exchange is pure overhead and is gone (round-12 exchange
  * diet; the round-exit distinct must stay: the fixpoint test compares
  * DISTINCT canonical edge sets). The edge list SHRINKS monotonically
  * toward |nodes| as chains contract — later rounds are cheaper than
  * earlier ones. `localCheckpoint` after every round truncates iterative
  * lineage exactly like q44's resolveClusters; convergence is detected by
  * an order-independent set signature computed inside the round's one
  * materializing job (see [[edgeSetSig]]) and confirmed exactly by one
  * `except` on the single round whose signatures match; overrunning
  * `maxRounds` THROWS — partial components are corruption, never a result.
  */
object Graph {

  /** (labels, rounds): labels maps every node reachable from `edges`
    * (both endpoints) to its component's minimum node id; `rounds` is the
    * number of (large-star + small-star) rounds until fixpoint. */
  def starContractComponents(edges: DataFrame, maxRounds: Int,
                             adaptiveLoop: Boolean = true): (DataFrame, Int) = {
    val canonical = edges
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
    // lazy: `nodes` has exactly one consumer (the terminal label join), so
    // an eager materialization here was one whole extra job per call — the
    // final join's own action materializes it instead
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)

    // lazy + signature-materialized, like the loop rounds below
    var cur = canonical.localCheckpoint(false)
    var curSig = edgeSetSig(cur)
    var ptrOpt: Option[DataFrame] = None
    // The loop's exchanges are sized to the DATA, not the session default:
    // each round runs ~3 small exchanges over a monotonically shrinking
    // edge list (two half-step aggregation/join exchanges + the round-exit
    // distinct; the large-star half's own distinct was deleted in the
    // round-12 exchange diet), and at modest |edges| the per-round cost is
    // task overhead, not bytes — 32 partitions × 6 rounds × exchanges of a
    // 150k-row list is pure scheduling tax (measured 17% of q191 at sf0.1). One
    // partition per ~50k edges recovers it, floored at 8 to keep the loop
    // parallel and capped at the session np so a cluster-scale edge list
    // keeps its full width. Results are partitioning-independent (integer
    // set ops; the hash gate runs across this change).
    val s = edges.sparkSession
    val np0 = s.sessionState.conf.numShufflePartitions
    val loopNp = math.min(np0, math.max(8, (curSig._1 / 50000L).toInt)).toString
    var rounds = 0
    var converged = false
    // per-session serialized set/restore (graft.SessionConf): a concurrent
    // scope on the same session can never capture this scope's temporary
    // value as "previous" and restore it permanently.
    // `adaptiveLoop = false` turns AQE OFF inside the loop: every round's
    // job is a fixed 3-exchange fragment whose width this loop already
    // sizes explicitly to the data (loopNp) — exactly the decision AQE
    // would re-derive, paying one stage-materialize + re-plan barrier PER
    // EXCHANGE per round to do it. Non-adaptive scheduling pipelines the
    // round's stages back-to-back: measured −30% on q191 (6.4→4.5 s
    // min-of-5 at sf0.1), whose chain graph has degree ≤ 2 and nothing for
    // AQE's skew splitter to do. Callers whose edge lists carry hub-node
    // skew (q253's DBSCAN grid graph: measured +1.1 s under the same
    // change) keep the default adaptive loop — AQE's runtime skew-join
    // handling is worth the per-stage barriers there. Round results are
    // integer set ops — identical under any partitioning/conf — and the
    // terminal label join still plans under the session's normal setting
    // outside this scope.
    graft.SessionConf.withValue(s, "spark.sql.shuffle.partitions", loopNp) {
     graft.SessionConf.withValue(s, "spark.sql.adaptive.enabled",
         adaptiveLoop.toString) {
      // POINTER-DOUBLING PREPASS (r19 opt): before the star rounds, jump
      // every node to a nearby local minimum. p0(u) = min(Γ(u) ∪ {u}) is
      // the same half-step min the rounds compute; two doublings
      // p4 = p2∘p2, p2 = p0∘p0 compress every pointer chain of depth ≤ 4
      // to its root — one groupBy + two NODE-sized self-joins, all LAZY:
      // the contracted list's signature job below materializes the whole
      // prepass, so it costs ONE scheduler job where the rounds it
      // replaces cost one each (q191's per-round cost is fixed scheduler
      // latency, not bytes — the r18 finding). Correctness: every
      // pointer hop stays inside its component (p0(u) is a neighbor or u
      // itself) and the component MINIMUM m is a fixpoint (m < all of
      // Γ(m), so p_k(m) = m): the contracted edge set
      // {(p4(a), p4(b)) : (a,b) ∈ E, p4(a) ≠ p4(b)} has exactly the
      // original components over the image nodes, and min(image) = m
      // because m IS an image. The star loop then labels the contracted
      // graph and the terminal join routes node → p4(node) → component.
      // Skew note: groupBy-min partial-aggregates map-side, and the
      // self-joins key on p-values (basin roots) — at worst the hub
      // pattern the loop itself already carries; q253's adaptive scope
      // applies to the prepass joins too (it runs inside this conf
      // scope).
      if (curSig._1 > 0) {
        val sym0 = cur.union(
          cur.select(col("dst").as("src"), col("src").as("dst")))
        val p0 = sym0.groupBy(col("src")).agg(min(col("dst")).as("m"))
          .select(col("src").as("node"),
            least(col("m"), col("src")).as("p"))
        def ptrDouble(p: DataFrame): DataFrame =
          p.join(p.select(col("node").as("pn"), col("p").as("pp")),
              col("p") === col("pn"))
            .select(col("node"), col("pp").as("p"))
        val ptr = ptrDouble(ptrDouble(p0)).localCheckpoint(false)
        val contracted = cur
          .join(ptr.select(col("node").as("src"), col("p").as("ps")), "src")
          .join(ptr.select(col("node").as("dst"), col("p").as("pd")), "dst")
          .select(greatest(col("ps"), col("pd")).as("src"),
            least(col("ps"), col("pd")).as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        cur = contracted.localCheckpoint(false)
        curSig = edgeSetSig(cur) // materializes ptr + contracted: one job
        ptrOpt = Some(ptr)
      }
      while (!converged) {
        if (rounds >= maxRounds)
          throw new IllegalStateException(
            s"star contraction did not converge in $maxRounds rounds")
        // LAZY checkpoint + signature-aggregate as the materializing
        // action: the eager form ran two jobs per round (checkpoint-
        // materialize, then count over the persisted blocks); marking
        // lazily lets the signature job BE the materialization — one job
        // per round, same truncated lineage, and every later consumer
        // (the next round's half-steps, the terminal label join) reads
        // the persisted blocks as before. Non-terminal rounds pay exactly
        // one scheduler round-trip each, fixpoint test included: the
        // per-round signature job doubles as the set-equality probe, and
        // only the round whose signatures match pays the exact `except`
        // confirmation below.
        val next = oneRound(cur).localCheckpoint(false)
        rounds += 1
        val nextSig = edgeSetSig(next)
        // The signature gates WHICH round pays an exact check; the exact
        // check keeps the fixpoint deterministic. Both sides are DISTINCT
        // canonical sets of equal count (sig includes the count), so
        // next ⊆ cur alone proves equality — one `except` job on the one
        // round whose signatures match, zero on every other round. A
        // signature collision (two different equal-count sets equal in
        // both xor-folds, ~2^-128) is caught here and the loop continues
        // instead of emitting wrong labels silently.
        converged = nextSig == curSig && next.except(cur).isEmpty
        cur = next
        curSig = nextSig
      }
     }
    }
    // Fixpoint edges are (node → component min); roots label themselves.
    // With the prepass, route node → p4(node) first (identity when the
    // node never appeared in a canonical edge — e.g. self-loop-only
    // nodes), then look the image up in the fixpoint star forest.
    val routed = ptrOpt match {
      case Some(ptr) => nodes
        .join(ptr, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("p"), col("node")).as("img"))
      case None => nodes.select(col("node"), col("node").as("img"))
    }
    val labels = routed
      .join(cur, routed("img") === cur("src"), "left_outer")
      .select(col("node"), coalesce(col("dst"), col("img")).as("component"))
    (labels, rounds)
  }

  /** Order-independent signature of a DISTINCT canonical edge set:
    * (count, xor-fold of xxhash64(src,dst), xor-fold of a second
    * fingerprint whose distinguishing literal comes FIRST), computed in
    * ONE single-aggregate job — the same job that materializes the
    * round's lazy checkpoint. The literal's position is load-bearing:
    * XxHash64 folds its arguments sequentially with the running hash as
    * the next seed, so a TRAILING literal would make the second
    * fingerprint a pure function of the first (h2 = H('seed2', h1) — any
    * h1 collision collides h2 automatically, and the pair is worth only
    * 64 bits). Leading, the two chains start from different states and
    * stay independent: equal signatures on two distinct-row sets imply
    * set equality unless two DIFFERENT equal-count sets collide in BOTH
    * xor-folds (~2^-128 for this loop's non-adversarial integer edges —
    * the edges are the algorithm's own rewiring output, not
    * attacker-chosen input); the exact q44/q191 DuckDB hash gates run
    * across this change. The signature decides WHICH round pays an exact
    * set check: non-terminal rounds pay zero extra jobs (the pre-diet
    * per-round `except` is gone), and the one round whose signatures
    * match confirms with a single `except` job — the operator's
    * exactness guarantee is unconditional, not probabilistic. xor
    * (not ANSI `sum`) folds the hashes: it is overflow-free and
    * duplicate-free inputs make its weaker linear structure irrelevant
    * alongside the count check. */
  private def edgeSetSig(edges: DataFrame): (Long, Long, Long) = {
    val r = edges.agg(
      count(lit(1)),
      expr("bit_xor(xxhash64(src, dst))"),
      expr("bit_xor(xxhash64('seed2', src, dst))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Reconnect each strictly-larger neighbor of u to min(Γ(u) ∪ {u}),
    * over the symmetrized neighborhood. Output re-canonicalized
    * (larger, smaller), self-loops dropped — but NOT deduplicated: the
    * only consumer is [[smallStar]], whose per-key min is duplicate-blind
    * and whose round-exit distinct collapses whatever survives. Skipping
    * the dedup here deletes a full-width exchange per round (PlanSpec
    * pins the per-round exchange budget). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, sym("src") === col("u"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Edges already point (larger → smaller); reconnect N(u) ∪ {u} to
    * min(N(u)). Keeps the (larger, smaller) canonical form. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("src")).agg(min(col("dst")).as("m"))
      .select(col("src").as("u"), col("m"))
    edges.join(mins, edges("src") === col("u"))
      .select(col("src"), col("dst"), col("m"))
      .select(
        array(struct(col("src").as("a"), col("m").as("b")),
          struct(col("dst").as("a"), col("m").as("b"))).as("pair"))
      .select(explode(col("pair")).as("e"))
      .select(greatest(col("e.a"), col("e.b")).as("src"),
        least(col("e.a"), col("e.b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** One (large-star + small-star) round — the fragment the loop repeats,
    * and the one PlanSpec pins. */
  def oneRound(edges: DataFrame): DataFrame = smallStar(largeStar(edges))
}
