package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** SPATIAL family — grid-bucketed distance joins over derived planar
  * coordinates.
  *
  * A distance join ("every pair within radius R") is the spatial analog of
  * the similarity joins this engine already banding-buckets (MinHash bands,
  * IVF cells): the only shape that survives |points| ≫ 0 is CANDIDATES BY
  * LOCALITY BUCKET, never all-pairs. Here the bucket is a square grid cell
  * of side C ≥ R: a point's true neighbors within R can only live in its
  * own cell or the 8 adjacent ones, so the join is
  *
  *   A × explode(9 neighbor cells)  ⋈(cell)  B keyed by its own cell
  *
  * — a plain equi-join on the (cellX, cellY) key that Catalyst shuffles (or
  * broadcasts the small side of) like any other join, followed by the exact
  * distance filter. Completeness is geometric, not probabilistic: any pair
  * at distance ≤ R differs by ≤ R < C per axis, hence by ≤ 1 cell per
  * axis, hence lands in exactly one of the 9 probed cells — so unlike an
  * LSH join there is NO recall gap, and the oracle can be the literal
  * all-pairs definition (DuckDB computes the N² brute force; the engine's
  * grid path must hash-match it EXACTLY).
  *
  * Pair uniqueness is structural: B carries each point once (its own
  * cell), A probes each of the 9 distinct neighbor cells once, so an
  * (a, b) candidate appears exactly once and `id_a < id_b` halves it to
  * the unordered pair — no DISTINCT needed.
  *
  * Determinism: coordinates are integers derived from row ids via the
  * engine-portable hash60 (md5) arithmetic — q187/q162's discipline — and
  * the distance is integer squared-Euclidean (coords < 10^5, so dist2
  * < 2·10^10 fits bigint exactly; no transcendental, no float). Every
  * value the gate hashes is exact on both engines.
  *
  * Scale shape at 100 TB: candidate volume is Σ_cell |A_cell|·9·|B_cell| —
  * bounded by cell occupancy, linear in N for any fixed density, vs N²
  * for all-pairs (the oracle's own plan). Grid skew (a hot cell) is the
  * same problem as any hot join key and composes with the engine's salt
  * (q119) / AQE-split (q244) machinery; the explode factor is a constant
  * 9. The cell width trades shuffle width (fewer, fatter cells) against
  * candidate count (more, thinner cells) exactly like IVF's nprobe.
  */
object SpatialQueries {
  import Queries.Q

  /** Coordinate space: 0 ≤ x,y < SPACE. */
  private val SPACE = 100000L

  /** q251 geometry: cell side 1024 ≥ radius 600 (completeness condition),
    * both powers of two so the cell index `floor(x / C)` is exact in
    * double on both engines (x < 2^53, C = 2^10). */
  private val C251 = 1024L
  private val R2_251 = 600L * 600L

  /** q252 geometry: a wider net for nearest-within-R (cell 2048 ≥ radius
    * 2000). */
  private val C252 = 2048L
  private val R2_252 = 2000L * 2000L

  /** Integer planar point derived from an id column: the hash60 (md5)
    * engine-portable arithmetic, salted per axis AND per table (`prefix`),
    * modulo the space. The per-table prefix matters for cross-table
    * queries: with a shared salt, customer k and supplier k would land on
    * IDENTICAL coordinates, trivializing q252's nearest-neighbor rows for
    * every shared key value (dist2 = 0) — the gate would then never
    * exercise real distance comparison on that id range. The oracle
    * derives the identical (x, y) in DuckDB from the same md5. */
  private[graft] def points(df: DataFrame, idCol: String,
      prefix: String = "g"): DataFrame = {
    def axis(salt: String): Column =
      graft.operators.TextOps.hash60(
        concat(lit(salt), col(idCol).cast(StringType))) % SPACE
    // NO compute rebalance here, deliberately (r19, measured): routing the
    // point derivation through spreadForCompute (the r18 md5-in-scan
    // treatment) was interleave-A/B'd at sf0.1 and LOST — q253 3.56 →
    // 5.38/5.43 s (3 runs, low spread) against ~0.1 s gains on q251/q252.
    // q253's dbscan eagerly localCheckpoints the grid join and then runs
    // the contraction loop over it; widening the tiny point set to
    // defaultParallelism partitions multiplies every per-round task count
    // in that loop for no CPU win (the md5 axes are 2 hashes/row, not a
    // dense pipeline). The spatial family keeps the in-scan shape.
    df.select(col(idCol).as("id"),
      axis(s"${prefix}x:").as("x"), axis(s"${prefix}y:").as("y"))
  }

  /** Attach the grid cell of side `c` (exact: x ≥ 0, c a power of two). */
  private[graft] def celled(p: DataFrame, c: Long): DataFrame = p
    .withColumn("cx", floor(col("x") / c).cast(LongType))
    .withColumn("cy", floor(col("y") / c).cast(LongType))

  /** Probe side: each point replicated to its 9 neighbor cells. */
  private[graft] def probes(p: DataFrame, c: Long): DataFrame = {
    val nbrs = for { dx <- -1 to 1; dy <- -1 to 1 }
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    celled(p, c)
      .withColumn("nb", explode(array(nbrs: _*)))
      .withColumn("kx", col("cx") + col("nb.dx"))
      .withColumn("ky", col("cy") + col("nb.dy"))
      .drop("nb", "cx", "cy")
  }

  private def dist2(ax: Column, ay: Column, bx: Column, by: Column): Column =
    (ax - bx) * (ax - bx) + (ay - by) * (ay - by)

  /** The shared DuckDB point derivation (md5 twin of [[points]]). */
  private def oraclePts(table: String, idCol: String,
      prefix: String = "g"): String = {
    def axis(salt: String) =
      s"CAST(CAST(('0x' || substr(md5('$salt' || CAST($idCol AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) % $SPACE"
    s"SELECT $idCol AS id, ${axis(s"${prefix}x:")} AS x, ${axis(s"${prefix}y:")} AS y FROM $table"
  }

  /** The grid-candidate distance self-join over a (id, x, y) point set —
    * shared by q251 and the spec's constructed boundary cases. */
  private[graft] def gridPairs(p: DataFrame, c: Long, r2: Long): DataFrame = {
    // the 9-cell rule is complete ONLY when the cell side covers the
    // radius — violating it silently drops far pairs, so it must throw
    require(c * c >= r2, s"grid completeness requires cell^2 >= r2: $c^2 < $r2")
    val probe = probes(p, c)
      .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        col("kx"), col("ky"))
    val build = celled(p, c)
      .select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
        col("cx"), col("cy"))
    probe.join(build, col("kx") === col("cx") && col("ky") === col("cy"))
      .where(col("id_a") < col("id_b") &&
        dist2(col("xa"), col("ya"), col("xb"), col("yb")) <= r2)
      .select(col("id_a"), col("id_b"),
        dist2(col("xa"), col("ya"), col("xb"), col("yb")).as("dist2"))
  }

  /** The INCREMENTAL form of the grid join — a (small) batch of arriving
    * points probes the static celled corpus for within-R neighbors:
    * (probe_id, corpus_id, dist2). The batch side explodes to its 9
    * candidate cells (×9 on the SMALL side), the corpus side keys by its
    * own cell and never replicates — the q73 probe discipline applied to
    * geometry. Per-probe independence makes the union of per-micro-batch
    * outputs equal the one-shot probe however the feed is chopped, which
    * is what lets [[graft.streaming.EventStream.spatialProbeStream]] run
    * this operator UNCHANGED per micro-batch (StreamingSpec asserts the
    * decomposition). */
  private[graft] def probeAgainst(corpus: DataFrame, batch: DataFrame,
      c: Long, r2: Long): DataFrame = {
    require(c * c >= r2, s"grid completeness requires cell^2 >= r2: $c^2 < $r2")
    val probe = probes(batch, c)
      .select(col("id").as("probe_id"), col("x").as("xa"), col("y").as("ya"),
        col("kx"), col("ky"))
    val build = celled(corpus, c)
      .select(col("id").as("corpus_id"), col("x").as("xb"), col("y").as("yb"),
        col("cx"), col("cy"))
    probe.join(build, col("kx") === col("cx") && col("ky") === col("cy"))
      .where(dist2(col("xa"), col("ya"), col("xb"), col("yb")) <= r2)
      .select(col("probe_id"), col("corpus_id"),
        dist2(col("xa"), col("ya"), col("xb"), col("yb")).as("dist2"))
  }

  /** q251: spatial distance self-join — every customer pair within radius
    * 600 of each other on the derived 10^5 × 10^5 grid, with the exact
    * squared distance. Engine plan: grid-cell candidates (see object doc);
    * oracle plan: the all-pairs definition. Identical output, hash-gated. */
  val q251GeoGridJoin: Q = (s, d) =>
    gridPairs(points(Tables.customer(s, d), "c_custkey"), C251, R2_251)

  /** q252: nearest-neighbor-within-radius — for each customer, its closest
    * supplier within radius 2000 (squared distance + supplier-id
    * tie-break), via the same grid candidates and the engine's argmin
    * idiom: `min(struct(dist2, id))` — an algebraic aggregate with
    * map-side partials (q81's assign discipline), so candidates reduce
    * before they shuffle. Customers with no supplier in range drop (inner
    * semantics). The oracle brute-forces all customer × supplier pairs and
    * takes the window rank-1 — same rows, hash-gated. */
  val q252GeoNearest: Q = (s, d) => {
    require(C252 * C252 >= R2_252)
    val c = probes(points(Tables.customer(s, d), "c_custkey"), C252)
      .select(col("id").as("c_id"), col("x").as("xa"), col("y").as("ya"),
        col("kx"), col("ky"))
    val sup = celled(points(Tables.supplier(s, d), "s_suppkey", "s"), C252)
      .select(col("id").as("s_id"), col("x").as("xb"), col("y").as("yb"),
        col("cx"), col("cy"))
    c.join(sup, col("kx") === col("cx") && col("ky") === col("cy"))
      .where(dist2(col("xa"), col("ya"), col("xb"), col("yb")) <= R2_252)
      .groupBy(col("c_id"))
      .agg(min(struct(
        dist2(col("xa"), col("ya"), col("xb"), col("yb")).as("dist2"),
        col("s_id").as("s_id"))).as("best"))
      .select(col("c_id"), col("best.s_id").as("s_id"),
        col("best.dist2").as("dist2"))
  }

  /** q253 parameters: DBSCAN with eps = 800 (cell 1024 ≥ eps) and
    * minPts = 3 — a point is CORE when its eps-ball holds ≥ 3 points
    * counting itself, i.e. ≥ 2 neighbors. eps sits BELOW the percolation
    * density of the bench-scale point set on purpose: a correctly chosen
    * DBSCAN eps (the k-distance-knee heuristic) separates clusters rather
    * than fusing the corpus into one giant component — and the component
    * loop's round count tracks component diameter, so sub-percolation
    * parameters are both the statistically right ones and the ones whose
    * contraction converges in a handful of rounds. */
  private val MINPTS = 3
  private val R2_253 = 800L * 800L

  /** q253: density clustering — DBSCAN made deterministic. Classic DBSCAN
    * is scan-order-dependent in exactly one place (a border point adjacent
    * to two clusters joins whichever was expanded first); this variant
    * pins that choice to the MINIMUM adjacent core cluster id, so the
    * labeling is a pure function of the point set and both engines can
    * replay it.
    *
    * Composition of already-gated machinery, end to end: eps-neighborhoods
    * from the grid-candidate join (q251 — exact, geometric completeness),
    * core flags by degree, core components via the q44/q191 star
    * contraction (labels = component-minimum id, the same convention the
    * oracle's recursive min-label closure computes), border points by
    * min-label over adjacent cores, the rest noise (cluster_id −1).
    *
    * Scale shape: the pair list is locality-bounded (never all-pairs), the
    * component loop is O(log n) keyed rounds over core-core edges only,
    * and every other step is a keyed aggregate over the pair list. The
    * oracle brute-forces the neighborhoods and walks the closure
    * recursively — definitions, not mirrors of the engine plan. */
  val q253GeoDbscan: Q = (s, d) =>
    dbscan(points(Tables.customer(s, d), "c_custkey"), C251, R2_253, MINPTS)

  /** The deterministic-DBSCAN pipeline over an (id, x, y) point set —
    * shared by q253 and the spec's constructed two-blob truth. */
  private[graft] def dbscan(p: DataFrame, cell: Long, r2: Long,
      minPts: Int): DataFrame = {
    require(cell * cell >= r2,
      s"grid completeness requires cell^2 >= r2: $cell^2 < $r2")
    // The adjacency list feeds FOUR consumers (degree/core, core-core
    // edges, the border min-label join, and — through the component
    // loop's own eager node materialization — the contraction); without a
    // checkpoint each consumer replays the grid join. The list is
    // locality-bounded (pairs within eps), orders of magnitude smaller
    // than the corpus — the cheap thing to pin, the q73 corpus-never-
    // re-shuffles discipline applied to the candidate graph.
    val sym = {
      // checkpoint the a<b half, THEN mirror: checkpointing the union
      // would run the grid join once per union branch inside the
      // materializing job; mirroring the checkpoint is two cheap reads
      val pairs = gridPairs(p, cell, r2).localCheckpoint(true)
      pairs.select(col("id_a").as("a"), col("id_b").as("b"))
        .union(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
    }
    val core = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= minPts - 1).select(col("a").as("id"))
    // contraction input: the canonical a<b half only — the loop
    // canonicalizes internally, so the symmetric double would just be
    // distinct'd away after a wasted first exchange
    val coreEdges = sym.where(col("a") < col("b"))
      .join(core.select(col("id").as("a")), "a")
      .join(core.select(col("id").as("b")), "b")
      .select(col("a").as("src"), col("b").as("dst"))
    // adaptiveLoop stays ON here: the grid graph's hub cells skew the
    // contraction joins, and AQE's runtime handling wins — measured twice
    // (r18 opt, isolated min-of-5: 3.95 s non-adaptive vs 3.22 s adaptive)
    val (labels, _) =
      graft.operators.Graph.starContractComponents(coreEdges, 25)
    val coreLabeled = core
      .join(labels.withColumnRenamed("node", "id"), Seq("id"), "left")
      // an isolated core (no core neighbor) anchors its own cluster
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster_id"))
      .localCheckpoint(true) // two consumers: the role join and nbCoreMin
    val nbCoreMin = sym
      .join(coreLabeled.select(col("id").as("b"), col("cluster_id")), "b")
      .groupBy(col("a")).agg(min(col("cluster_id")).as("b_cluster"))
    p.select(col("id"))
      .join(coreLabeled, Seq("id"), "left")
      .join(nbCoreMin.withColumnRenamed("a", "id"), Seq("id"), "left")
      .select(col("id"),
        when(col("cluster_id").isNotNull, lit("core"))
          .when(col("b_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("cluster_id"), col("b_cluster"), lit(-1L)).as("cluster_id"))
  }

  /** q255 geometry: cell side 4096; region sides are 2000..9999, so a
    * region covers at most ⌈9999/4096⌉+1 = 4 cells per axis — the explode
    * factor is bounded by REGION size, not corpus size. */
  private val C255 = 4096L

  /** Synthetic axis-aligned regions, one per nation row: corner and side
    * lengths hash60-derived (sides 2000..9999, corners in [0, 90000) so
    * regions stay inside the space) — the same engine-portable md5
    * arithmetic as [[points]], replayed verbatim by the oracle. */
  private def regions(nation: DataFrame): DataFrame = {
    def h(salt: String): Column =
      graft.operators.TextOps.hash60(
        concat(lit(salt), col("n_nationkey").cast(StringType)))
    nation.select(col("n_nationkey").cast(LongType).as("rid"),
      (h("rx:") % 90000L).as("x0"), (h("ry:") % 90000L).as("y0"),
      (lit(2000L) + h("rw:") % 8000L).as("w"),
      (lit(2000L) + h("rh:") % 8000L).as("h"))
  }

  /** q255: point-in-region CONTAINMENT join — the 2D complement of the
    * engine's 1D range join (q62): which customers sit inside which
    * regions ([x0, x0+w) × [y0, y0+h)). A naive engine plans 2D
    * containment as a nested-loop over points × regions; the grid form
    * is an EQUI-join: each region explodes to the cells it overlaps
    * (bounded by region size — ≤ 16 cells here, never corpus-sized),
    * each point keys by its single cell, and the exact containment
    * predicate filters the cell-candidates. A (point, region) candidate
    * appears exactly once — the point has one cell and the region lists
    * that cell once — so no dedup exchange exists (SpatialSpec pins
    * no-nested-loop, no-cartesian).
    *
    * Scale shape at 100 TB: candidates are Σ_cell |points_cell|·|regions
    * overlapping cell| — locality-bounded both ways; millions of regions
    * ride the same equi-join (broadcast while they fit, shuffled keyed
    * join beyond), where the nested-loop form is quadratic wall-clock.
    * The oracle is the literal containment cross join. */
  val q255GeoContainment: Q = (s, d) => {
    val p = celled(points(Tables.customer(s, d), "c_custkey"), C255)
      .select(col("id").as("c_id"), col("x"), col("y"),
        col("cx").as("px"), col("cy").as("py"))
    val r = regions(Tables.nation(s, d))
      .withColumn("gx", explode(sequence(
        floor(col("x0") / C255).cast(LongType),
        floor((col("x0") + col("w") - 1) / C255).cast(LongType))))
      .withColumn("gy", explode(sequence(
        floor(col("y0") / C255).cast(LongType),
        floor((col("y0") + col("h") - 1) / C255).cast(LongType))))
    p.join(r, col("px") === col("gx") && col("py") === col("gy"))
      .where(col("x") >= col("x0") && col("x") < col("x0") + col("w") &&
        col("y") >= col("y0") && col("y") < col("y0") + col("h"))
      .select(col("rid"), col("c_id"))
  }

  val queries: Map[String, Q] = Map(
    "q251_geo_grid_join" -> q251GeoGridJoin,
    "q252_geo_nearest"   -> q252GeoNearest,
    "q253_geo_dbscan"    -> q253GeoDbscan,
    "q255_geo_containment" -> q255GeoContainment)

  val oracle: Map[String, String] = Map(
    "q251_geo_grid_join" ->
      s"""WITH pts AS (${oraclePts("customer", "c_custkey")})
         |SELECT a.id AS id_a, b.id AS id_b,
         |       (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
         |FROM pts a JOIN pts b ON a.id < b.id
         |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= $R2_251""".stripMargin,
    "q252_geo_nearest" ->
      s"""WITH c AS (${oraclePts("customer", "c_custkey")}),
         |     s AS (${oraclePts("supplier", "s_suppkey", "s")}),
         |cand AS (
         |  SELECT c.id AS c_id, s.id AS s_id,
         |         (c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) AS dist2
         |  FROM c, s
         |  WHERE (c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) <= $R2_252)
         |SELECT c_id, s_id, dist2 FROM (
         |  SELECT c_id, s_id, dist2,
         |         row_number() OVER (PARTITION BY c_id
         |                            ORDER BY dist2, s_id) AS rn
         |  FROM cand) WHERE rn = 1""".stripMargin,
    "q253_geo_dbscan" ->
      s"""WITH RECURSIVE pts AS (${oraclePts("customer", "c_custkey")}),
         |pairs AS (SELECT a.id AS a, b.id AS b FROM pts a JOIN pts b
         |  ON a.id <> b.id
         |  WHERE (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= $R2_253),
         |core AS (SELECT a AS id FROM pairs GROUP BY a
         |  HAVING count(*) >= ${MINPTS - 1}),
         |cedges AS (SELECT p.a, p.b FROM pairs p
         |  JOIN core ca ON ca.id = p.a JOIN core cb ON cb.id = p.b),
         |reach(node, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM cedges) t
         |  UNION
         |  SELECT reach.node, e.b FROM reach JOIN cedges e ON e.a = reach.r),
         |lab AS (SELECT node, min(r) AS cl FROM reach GROUP BY node),
         |corelab AS (SELECT c.id, coalesce(l.cl, c.id) AS cluster_id
         |  FROM core c LEFT JOIN lab l ON l.node = c.id),
         |nbmin AS (SELECT p.a AS id, min(cl.cluster_id) AS b_cluster
         |  FROM pairs p JOIN corelab cl ON cl.id = p.b GROUP BY p.a)
         |SELECT pts.id,
         |  CASE WHEN corelab.cluster_id IS NOT NULL THEN 'core'
         |       WHEN nbmin.b_cluster IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  coalesce(corelab.cluster_id, nbmin.b_cluster, -1) AS cluster_id
         |FROM pts LEFT JOIN corelab ON corelab.id = pts.id
         |         LEFT JOIN nbmin ON nbmin.id = pts.id""".stripMargin,
    "q255_geo_containment" ->
      s"""WITH pts AS (${oraclePts("customer", "c_custkey")}),
         |rects AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
         |  CAST(CAST(('0x' || substr(md5('rx:' || CAST(n_nationkey AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) % 90000 AS x0,
         |  CAST(CAST(('0x' || substr(md5('ry:' || CAST(n_nationkey AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) % 90000 AS y0,
         |  2000 + CAST(CAST(('0x' || substr(md5('rw:' || CAST(n_nationkey AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) % 8000 AS w,
         |  2000 + CAST(CAST(('0x' || substr(md5('rh:' || CAST(n_nationkey AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT) % 8000 AS h
         |  FROM nation)
         |SELECT rid, pts.id AS c_id FROM pts, rects
         |WHERE x >= x0 AND x < x0 + w
         |  AND y >= y0 AND y < y0 + h""".stripMargin)
}
