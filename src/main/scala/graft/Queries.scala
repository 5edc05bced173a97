package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-facing query catalog.
  *
  * Each entry re-expresses one operator row of SURVEY.md §2 (reference:
  * kbaafi/etl-s3-to-redshift `sql_queries.py`) — or one of the LLM-pipeline
  * extension operators — over the driver's TPC-H-ish testdata, with an
  * equivalent DuckDB oracle in [[Queries.oracleSql]].
  *
  * Determinism/type discipline for the oracle hash-compare:
  *   - double SUMs go through DECIMAL (exact, order-independent) and are cast
  *     back to DOUBLE at the end, so Spark partial aggregation order can never
  *     produce a different bit pattern than DuckDB's serial sum;
  *   - counts stay BIGINT (both engines), date parts are cast to INT on the
  *     DuckDB side (Spark's hour()/day()/... are already IntegerType);
  *   - every computed column is aliased identically on both sides.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------------------
  // Reference surface (SURVEY.md §2) over testdata
  // ---------------------------------------------------------------------------

  /** A1-A5 analog + aggregate pipeline: group/aggregate with exact decimal sums.
    * Reference computes only count(*) (test_etl.ipynb); this is the scaled-up
    * aggregate shape (TPC-H q1 style) the engine must sustain at 100 TB:
    * map-side partial aggregation, no shuffle beyond the group keys.
    *
    * Cost profile (measured at sf0.1): the scan is ~0.13 s; the remaining
    * ~1 s is the per-row double→Decimal casts of the three sums — the
    * price of the exactness contract (decimal sums are order-independent,
    * so partial aggregation can never produce a different bit pattern than
    * the oracle's serial sum). The work is map-side and parallelizes with
    * input splits; the single-row-group testdata parquet serializes it
    * onto one task, which a real multi-row-group layout would not. */
  val q01PricingSummary: Q = (s, d) => {
    // three wide-decimal sums per row fused into the scan — rebalance
    // (layout-adaptive no-op at many-row-group inputs) so the decimal
    // arithmetic runs at core width
    val li = Tables.spreadForCompute(
      Tables.lineitem(s, d).select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_orderkey"), col("l_linenumber")),
      col("l_orderkey"), col("l_linenumber"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(14, 2))).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(24, 6)))
          .cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  }

  /** J1: LEFT OUTER equi-join on a composite key with a cross-type comparison
    * (double l_quantity = int p_size mirrors the reference's decimal(12,6) =
    * decimal(12,4) key, sql_queries.py:144-151). Null-unsafe ===; part side is
    * broadcast (diststyle all analog, README.md:73-75) so the fact table never
    * shuffles. */
  val q02SongplayLeftJoin: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val p  = Tables.part(s, d)
    li.join(broadcast(p),
        p("p_partkey") === li("l_partkey") && p("p_size") === li("l_quantity"),
        "left_outer")
      .select(
        li("l_orderkey").as("event_key"),
        li("l_linenumber").as("line_no"),
        li("l_quantity").as("qty"),
        p("p_partkey").as("matched_part"),
        p("p_name").as("part_name"),
        p("p_retailprice").as("retail_price"))
  }

  /** A1+F1: users-dim analog — full-tuple SELECT DISTINCT (not keyed dedup,
    * SURVEY §2.4 trap) behind an IS NOT NULL filter (sql_queries.py:157-159). */
  val q03UsersDimDistinct: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_custkey").isNotNull)
      .select(col("o_custkey").as("user_id"), col("o_orderpriority").as("level"))
      .distinct()

  /** A4+X1-X5: time-dim analog — EXTRACT(hour/day/week/month/year) + DISTINCT
    * (sql_queries.py:181-188). weekofyear is ISO in both Spark and DuckDB. */
  val q04TimeDimDateparts: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderdate").as("start_time"),
        hour(col("o_orderdate")).as("hour"),
        dayofmonth(col("o_orderdate")).as("day"),
        weekofyear(col("o_orderdate")).as("week"),
        month(col("o_orderdate")).as("month"),
        year(col("o_orderdate")).as("year"))
      .distinct()

  /** X6/X7: epoch-millis → timestamp conversion and scan-time casts
    * (COPY timeformat 'epochmillisecs', sql_queries.py:121-124; string→int,
    * double→decimal casts §1.2). events.ts is int64 nanos on disk; floor
    * division (Epoch.nanosToMillis) matches DuckDB's ns→timestamp cast for
    * pre-1970 instants too, not just the all-positive testdata. */
  val q05EpochMillis: Q = (s, d) =>
    Tables.eventsRawNanos(s, d)
      .select(
        col("event_id"),
        Epoch.nanosToMillis(col("ts")).as("ts_ms"),
        Epoch.millisToTimestamp(Epoch.nanosToMillis(col("ts"))).as("ts_rt"),
        col("user_id").cast(StringType).as("user_id_str"),
        col("value").cast(DecimalType(14, 4)).cast(DoubleType).as("value_dec"))

  /** A2/F2: songs-dim analog — DISTINCT + IS NOT NULL over the *outer-join
    * output* (sql_queries.py:165-167), so the filter really sees nulls. */
  val q06SongsDimNotNull: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val p  = Tables.part(s, d)
    li.join(broadcast(p),
        p("p_partkey") === li("l_partkey") && p("p_size") === li("l_quantity"),
        "left_outer")
      .filter(p("p_partkey").isNotNull)
      .select(
        p("p_partkey").as("song_key"),
        p("p_name").as("song_title"),
        p("p_brand").as("brand"))
      .distinct()
  }

  /** O1/O2: presort + LIMIT (sortkey ×5, sql_queries.py:68..110; notebook
    * LIMIT 5). Fully tie-broken so the top-k is deterministic. */
  val q07PresortTopk: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(5)

  /** A5: validation counts (test_etl.ipynb cells 8-21) as a grouped count +
    * exact decimal sum. */
  val q08EventCounts: Q = (s, d) =>
    Tables.eventsRawNanos(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))

  /** E1 flagship: the whole star-build spine in one query — scan + epoch-ns
    * normalize + broadcast LEFT OUTER join (fact ⟕ dim) + projection/rename
    * (sql_queries.py:132-152). Also serves as SparkEntry.entry. */
  val q09StarFlagship: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val c  = Tables.customer(s, d)
    ev.join(broadcast(c), c("c_custkey") === ev("user_id"), "left_outer")
      .select(
        ev("event_id"),
        ev("ts").as("start_time"),
        ev("user_id"),
        c("c_mktsegment").as("segment"),
        ev("event_type"),
        ev("value").cast(DecimalType(14, 4)).cast(DoubleType).as("value_dec"))
  }

  /** X8: widening decimal rescale on insert (numeric(11,3) → numeric(11,8),
    * sql_queries.py:56-57 → :103-104). */
  val q10DecimalRescale: Q = (s, d) =>
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        col("c_acctbal").cast(DecimalType(14, 3)).cast(StringType).as("bal3"),
        col("c_acctbal").cast(DecimalType(14, 3)).cast(DecimalType(19, 8))
          .cast(StringType).as("bal8"))

  /** q64: five-way star join (the TPC-H Q5 shape) — revenue per nation for
    * one region, with local suppliers only (c_nationkey = s_nationkey).
    * The multi-join optimizer workout the 2-way queries don't exercise:
    * the selective region filter sits on the scan and prunes the dim
    * cascade BEFORE any fact touches it; region and nation are true
    * fixed-size dims (explicit broadcast — 5 and 25 rows at any scale);
    * customer and supplier grow with the corpus, so their join strategy is
    * deliberately LEFT TO AQE — broadcast at test SF, sort-merge (or
    * bucketed co-location, q29's pattern) at 100 TB, with no code change.
    * The fact chain joins on its natural keys; aggregation is
    * decimal-exact like q01/q29. */
  val q64RegionRevenue: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val su = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey") &&
        c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name"))
      .agg(
        sum((li("l_extendedprice") * (lit(1.0) - li("l_discount")))
          .cast(DecimalType(24, 6))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  /** q125: declarative data-quality expectations — the Deequ/Great
    * Expectations capability as one catalog row: a fixed constraint suite
    * (primary-key uniqueness, fact→dim referential integrity, null-rate
    * budget, value whitelist, numeric range) evaluated to one row per
    * constraint with exact violation counts and an integer-arithmetic
    * verdict (the 5% budget is `violations·20 ≤ total`, never a float
    * ratio). This is the audit LIST a promotion gate consumes — feed these
    * predicates to q115's auditPublish and bad data cannot publish.
    *
    * Scale shape: every constraint is a scan-shaped aggregate that
    * collapses map-side; the RI check joins fact→dim on the key (broadcast
    * at dim scale, shuffle-keyed at fact scale — never a distinct-collect);
    * the union glue is shuffle-free. Single job, concurrent stages. */
  val q125Expectations: Q = (s, d) => {
    val orders = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    def verdictRow(name: String, df: DataFrame, budget: Column => Column) =
      df.select(lit(name).as("check_name"), col("violations"), col("total"),
        budget(col("violations")).as("passed"))
    val zeroTolerance: Column => Column = _ === 0L

    val pkUnique = verdictRow("orders_pk_unique",
      orders.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("violations"),
        count(lit(1)).as("total")), zeroTolerance)
    val fkOrders = verdictRow("lineitem_fk_orders",
      li.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_outer")
        .agg(sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("violations"),
          count(lit(1)).as("total")), zeroTolerance)
    val nullBudget = verdictRow("events_value_null_budget_5pct",
      Tables.events(s, d).agg(
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("violations"),
        count(lit(1)).as("total")), v => v * 20L <= col("total"))
    val langWhitelist = verdictRow("documents_lang_whitelist",
      Tables.documents(s, d).agg(
        sum(when(col("lang").isNull ||
          !col("lang").isin("en", "de", "es", "fr", "zh"), 1L)
          .otherwise(0L)).as("violations"),
        count(lit(1)).as("total")), zeroTolerance)
    val qtyRange = verdictRow("lineitem_qty_range",
      li.agg(sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("violations"),
        count(lit(1)).as("total")), zeroTolerance)

    pkUnique.unionByName(fkOrders).unionByName(nullBudget)
      .unionByName(langWhitelist).unionByName(qtyRange)
  }

  // ---------------------------------------------------------------------------
  // Catalog
  // ---------------------------------------------------------------------------

  /** q207: SHIPPING PRIORITY — the TPC-H Q3 shape verbatim (segment-
    * filtered customers ⋈ pre-cutoff orders ⋈ post-cutoff lineitems →
    * per-order revenue → top-10), the canonical "3-way join, selective
    * filters on both fact paths, aggregate, small top-k" OLAP plan every
    * engine is judged on. Revenue follows q64's decimal discipline (per-
    * row DECIMAL(24,6) cast, decimal sum, ONE double conversion at
    * output); the top-10 order (revenue desc, o_orderdate, orderkey) is
    * total, so the result SET is deterministic.
    *
    * Scale shape: the filtered customer dim broadcasts into orders, the
    * filtered orders side broadcasts into the lineitem scan at these SFs
    * (AQE re-plans to a keyed join when the date filter widens); both
    * date filters PUSH INTO the parquet scans (PushedFilters); the
    * aggregation keys on l_orderkey so the partial agg collapses map-side
    * before one keyed exchange, and the top-10 is TakeOrderedAndProject —
    * never a global sort. */
  val q207ShippingPriority: Q = (s, d) => {
    val cutoff = lit("1998-03-15 00:00:00").cast(TimestampType)
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
    val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey").as("orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(24, 6))).as("rev"))
      .select(col("orderkey"), col("rev").cast(DoubleType).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("orderkey"))
      .limit(10)
  }

  /** q214: LARGE-VOLUME CUSTOMERS — the TPC-H Q18 shape: a HAVING-
    * filtered aggregate over the fact drives a SEMI-join back into the
    * star ("orders whose total quantity tops 200 units, with their
    * customers"), then top-100. The classic "aggregate as filter" plan
    * every warehouse migration checks early, complementing q207's
    * filter-join-aggregate and q96's decorrelated subqueries.
    *
    * Quantities floor to BIGINT before summing, so the HAVING cut and
    * the reported totals are exact integers; the top-100 order
    * (o_totalprice desc, o_orderdate, o_orderkey) is total.
    *
    * Scale shape: the qualifying-order set (sum > threshold — a rare
    * tail) aggregates map-side on l_orderkey, then joins the fact as a
    * small broadcast semi-filter; customer joins broadcast at dim scale.
    * The quantity re-aggregation reuses the l_orderkey partitioning. No
    * global sort — TakeOrderedAndProject. */
  val q214LargeVolume: Q = (s, d) => {
    val qty = floor(col("l_quantity")).cast(LongType)
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(sum(qty).as("total_qty"))
      .filter(col("total_qty") > 200L)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  /** q216: RFM SEGMENTATION — the classic BI customer scoring: per
    * customer, Recency (days from last order to the corpus max date — a
    * data-derived anchor, never wall-clock), Frequency (order count),
    * Monetary (total price in exact cents), each cut into quintiles by
    * `ntile(5)` under a TOTAL order (metric, then custkey), composed
    * into the familiar "5-3-4" segment label. The shape every
    * marketing-mart migration validates first: three window quantile
    * passes over one aggregate.
    *
    * Determinism: recency/frequency are integers, monetary is DECIMAL
    * cents summed then held as BIGINT; ntile with a total ORDER BY is a
    * pure function of rank (both engines put remainder rows in the
    * leading buckets — same definition), so every score is replayed
    * exactly. Recency quintiles order DESC so score 5 = most recent,
    * matching the RFM convention.
    *
    * Scale shape: one o_custkey-keyed aggregation (map-side combined),
    * then three ntile windows over the |customers| aggregate — window
    * input is customer-grain, orders of magnitude under the fact. At
    * 10⁹ customers the ntile cut swaps for q104's broadcast equi-depth
    * boundaries, same scores. */
  val q216RfmSegments: Q = (s, d) => {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast(org.apache.spark.sql.types.LongType)
    val byCust = Tables.orders(s, d)
      .select(col("o_custkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("oday"), cents.as("cents"))
      .groupBy(col("o_custkey"))
      .agg(max(col("oday")).as("last_day"), count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary_cents"))
    val anchor = byCust.agg(max(col("last_day")).as("d1"))
    val base = byCust.crossJoin(broadcast(anchor))
      .select(col("o_custkey"), (col("d1") - col("last_day")).as("recency_days"),
        col("frequency"), col("monetary_cents"))
    def wAsc(c: String) = org.apache.spark.sql.expressions.Window
      .orderBy(col(c), col("o_custkey"))
    def wDesc(c: String) = org.apache.spark.sql.expressions.Window
      .orderBy(col(c).desc, col("o_custkey"))
    base
      .withColumn("r_score", ntile(5).over(wDesc("recency_days")).cast(
        org.apache.spark.sql.types.LongType))
      .withColumn("f_score", ntile(5).over(wAsc("frequency")).cast(
        org.apache.spark.sql.types.LongType))
      .withColumn("m_score", ntile(5).over(wAsc("monetary_cents")).cast(
        org.apache.spark.sql.types.LongType))
      .withColumn("segment", concat_ws("-", col("r_score"), col("f_score"),
        col("m_score")))
  }

  /** q221: ORDER-PRIORITY CHECKING — the TPC-H Q4 shape on this schema:
    * for a one-year order window, how many orders per priority had at
    * least one LATE line item (shipped > 90 days after the order date) —
    * the EXISTS-correlated-subquery plan, which Catalyst executes as a
    * semi-join against the distinct late-order keys; the complement
    * column (all-on-time) is the NOT EXISTS twin, derived by exact
    * subtraction so one scan serves both. Closes the classic-OLAP set:
    * q207 filter-join-agg, q214 HAVING-semi-filter, q96 decorrelation,
    * q221 EXISTS/anti.
    *
    * The lateness predicate is exact integer day arithmetic on
    * microseconds; counts are BIGINTs.
    *
    * Scale shape: the order window filter pushes to the scan and the
    * filtered orders BROADCAST into the lineitem join (the late-key
    * probe streams the fact); the distinct late-key set is order-grain;
    * the final aggregate is 5 rows. */
  val q221OrderPriority: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1999-01-01 00:00:00").cast(TimestampType) &&
        col("o_orderdate") < lit("2000-01-01 00:00:00").cast(TimestampType))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    // the per-row timestamp parses + broadcast probe are map-side CPU over
    // the whole fact — layout-adaptive rebalance (no-op at many-row-group
    // inputs) keeps them off a single scan task
    val lateKeys = Tables.spreadForCompute(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey"))
      .join(broadcast(o.select(col("o_orderkey"), col("o_orderdate"))),
        col("l_orderkey") === col("o_orderkey"))
      .filter(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) - " +
        "unix_micros(CAST(o_orderdate AS TIMESTAMP))") > 90L * 86400000000L)
      .select(col("l_orderkey")).distinct()
    val late = o.join(lateKeys, col("o_orderkey") === col("l_orderkey"),
        "left_semi")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_late"))
    o.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
      .join(late, Seq("o_orderpriority"), "left_outer")
      .na.fill(0L, Seq("n_late"))
      .select(col("o_orderpriority"), col("n_orders"), col("n_late"),
        (col("n_orders") - col("n_late")).as("n_ontime"))
  }

  /** q236: ORDERED STRING AGGREGATION (`listagg ... WITHIN GROUP`, the
    * SQL:2016 form Spark 4 added) — per nation, the alphabetical roster
    * of its customers' market segments plus the member count. The ordered
    * form is the only hash-gateable one: an unordered listagg is
    * nondeterministic under ANY parallel execution (concat order = task
    * order), exactly the q95-ntile class of trap, so the WITHIN GROUP
    * ordering is semantics, not cosmetics. DISTINCT collapses map-side
    * BEFORE the aggregation (an explicit pre-distinct rather than
    * listagg(DISTINCT ...) — same plan Spark would derive, and DuckDB's
    * string_agg accepts the same shape verbatim), the dim join
    * broadcasts, and groups are nation-sized: 25 output rows whatever
    * the customer count. */
  val q236ListaggRoster: Q = (s, d) => {
    val segs = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment")).distinct()
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"))
    segs.join(broadcast(nat), col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        expr("listagg(c_mktsegment, '|') WITHIN GROUP (ORDER BY c_mktsegment)")
          .as("segments"),
        count(lit(1)).as("n_segments"))
  }

  /** q226: TOP-N WITH AN OTHERS BUCKET — the report shape every BI layer
    * renders (top-3 customers per nation by revenue, everyone else
    * rolled into one OTHERS row per nation, shares of the nation total)
    * and a surprisingly good engine exercise: a window rank, a
    * complement aggregate, and a union that must CONSERVE the total
    * exactly — the spec re-adds each nation's rows and they must equal
    * the nation total to the cent. Revenue is exact cents; ranks break
    * ties by custkey; shares are one float division against the exact
    * nation total carried on every row.
    *
    * Scale shape: one customer-grain aggregate off the orders scan, one
    * nation-keyed window over customer-grain rows, and the OTHERS
    * complement reuses the same ranked frame — no second scan of the
    * fact. */
  val q226TopnOthers: Q = (s, d) => {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast(org.apache.spark.sql.types.LongType)
    val byCust = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"), col("c_custkey"))
      .agg(sum(cents).as("cents"), count(lit(1)).as("n_orders"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("nation"))
      .orderBy(col("cents").desc, col("c_custkey"))
    val ranked = byCust.withColumn("rk", row_number().over(w))
      .withColumn("nation_cents", sum(col("cents")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("nation"))))
    val top = ranked.filter(col("rk") <= 3)
      .select(col("nation"), col("c_custkey").cast(StringType).as("who"),
        col("rk").cast(org.apache.spark.sql.types.LongType).as("rk"),
        col("cents"), col("n_orders"), col("nation_cents"))
    val others = ranked.filter(col("rk") > 3)
      .groupBy(col("nation"), col("nation_cents"))
      .agg(sum(col("cents")).as("cents"), sum(col("n_orders")).as("n_orders"))
      .select(col("nation"), lit("OTHERS").as("who"), lit(99L).as("rk"),
        col("cents"), col("n_orders"), col("nation_cents"))
    top.unionByName(others)
      .withColumn("share", col("cents").cast(DoubleType) /
        col("nation_cents").cast(DoubleType))
  }

  val relational: Map[String, Q] = Map(
    "q236_listagg_roster" -> q236ListaggRoster,
    "q226_topn_others" -> q226TopnOthers,
    "q221_order_priority" -> q221OrderPriority,
    "q216_rfm_segments" -> q216RfmSegments,
    "q214_large_volume" -> q214LargeVolume,
    "q207_shipping_priority" -> q207ShippingPriority,
    "q125_expectations"     -> q125Expectations,
    "q01_pricing_summary"   -> q01PricingSummary,
    "q02_songplay_left_join" -> q02SongplayLeftJoin,
    "q03_users_dim_distinct" -> q03UsersDimDistinct,
    "q04_time_dim_dateparts" -> q04TimeDimDateparts,
    "q05_epoch_millis"      -> q05EpochMillis,
    "q06_songs_dim_notnull" -> q06SongsDimNotNull,
    "q07_presort_topk"      -> q07PresortTopk,
    "q08_event_counts"      -> q08EventCounts,
    "q09_star_flagship"     -> q09StarFlagship,
    "q10_decimal_rescale"   -> q10DecimalRescale,
    "q64_region_revenue"    -> q64RegionRevenue)

  val relationalOracle: Map[String, String] = Map(
    // Same pre-distinct, same ordered concat — DuckDB's string_agg with
    // an in-aggregate ORDER BY is the listagg WITHIN GROUP equivalent.
    "q236_listagg_roster" ->
      """WITH s AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
        |SELECT n_name AS nation,
        |  string_agg(c_mktsegment, '|' ORDER BY c_mktsegment) AS segments,
        |  count(*) AS n_segments
        |FROM s JOIN nation ON n_nationkey = c_nationkey
        |GROUP BY 1""".stripMargin,
    // Same ranks, same complement, same exact cents and one division.
    "q226_topn_others" ->
      """WITH bc AS (SELECT c.c_nationkey AS nation, c.c_custkey,
        |    CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT *,
        |    CAST(row_number() OVER (PARTITION BY nation
        |      ORDER BY cents DESC, c_custkey) AS BIGINT) AS rk,
        |    CAST(sum(cents) OVER (PARTITION BY nation) AS BIGINT)
        |      AS nation_cents
        |  FROM bc),
        |top AS (SELECT nation, CAST(c_custkey AS VARCHAR) AS who, rk,
        |    cents, n_orders, nation_cents FROM rk WHERE rk <= 3),
        |oth AS (SELECT nation, 'OTHERS' AS who, CAST(99 AS BIGINT) AS rk,
        |    CAST(sum(cents) AS BIGINT) AS cents,
        |    CAST(sum(n_orders) AS BIGINT) AS n_orders, nation_cents
        |  FROM rk WHERE rk > 3 GROUP BY nation, nation_cents)
        |SELECT *, CAST(cents AS DOUBLE) / CAST(nation_cents AS DOUBLE)
        |    AS share
        |FROM (SELECT * FROM top UNION ALL SELECT * FROM oth) u""".stripMargin,
    // The literal EXISTS form — DuckDB plans its own semi-join; the
    // Spark side must reproduce it through the explicit key probe.
    "q221_order_priority" ->
      """WITH o AS (SELECT * FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |    AND o_orderdate < TIMESTAMP '2000-01-01')
        |SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND epoch_us(CAST(l.l_shipdate AS TIMESTAMP))
        |        - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
        |        > 90 * 86400000000) THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND epoch_us(CAST(l.l_shipdate AS TIMESTAMP))
        |        - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
        |        > 90 * 86400000000) THEN 0 ELSE 1 END) AS BIGINT) AS n_ontime
        |FROM o GROUP BY o_orderpriority""".stripMargin,
    // Same integer metrics, same total-ordered ntile cuts, same label.
    "q216_rfm_segments" ->
      """WITH bc AS (SELECT o_custkey,
        |    max(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000)
        |      AS last_day,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |anchor AS (SELECT max(last_day) AS d1 FROM bc),
        |base AS (SELECT o_custkey, d1 - last_day AS recency_days,
        |    frequency, monetary_cents FROM bc, anchor),
        |scored AS (SELECT o_custkey, recency_days, frequency, monetary_cents,
        |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey)
        |      AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency, o_custkey)
        |      AS BIGINT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey)
        |      AS BIGINT) AS m_score
        |  FROM base)
        |SELECT *, CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
        |  || '-' || CAST(m_score AS VARCHAR) AS segment
        |FROM scored""".stripMargin,
    // Same integer quantities, same HAVING cut, same total top-100 order.
    "q214_large_volume" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING total_qty > 200)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice, big.total_qty
        |FROM orders o
        |JOIN big ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
        |LIMIT 100""".stripMargin,
    // Same joins, same decimal revenue, same total top-10 order.
    "q207_shipping_priority" ->
      """SELECT l.l_orderkey AS orderkey,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  o.o_orderdate, o.o_orderpriority
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, o.o_orderdate, orderkey
        |LIMIT 10""".stripMargin,
    // Same constraints, same integer verdicts.
    "q125_expectations" ->
      """SELECT 'orders_pk_unique' AS check_name,
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
        |  count(*) AS total,
        |  count(*) - count(DISTINCT o_orderkey) = 0 AS passed FROM orders
        |UNION ALL
        |SELECT 'lineitem_fk_orders',
        |  CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(*),
        |  sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'events_value_null_budget_5pct',
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(*),
        |  sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) * 20 <= count(*)
        |FROM events
        |UNION ALL
        |SELECT 'documents_lang_whitelist',
        |  CAST(sum(CASE WHEN lang IS NULL
        |    OR lang NOT IN ('en','de','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT),
        |  count(*),
        |  sum(CASE WHEN lang IS NULL
        |    OR lang NOT IN ('en','de','es','fr','zh') THEN 1 ELSE 0 END) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'lineitem_qty_range',
        |  CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
        |  count(*),
        |  sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
        |FROM lineitem""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_songplay_left_join" ->
      """SELECT l.l_orderkey AS event_key, l.l_linenumber AS line_no, l.l_quantity AS qty,
        |  p.p_partkey AS matched_part, p.p_name AS part_name, p.p_retailprice AS retail_price
        |FROM lineitem l LEFT OUTER JOIN part p
        |  ON p.p_partkey = l.l_partkey AND p.p_size = l.l_quantity""".stripMargin,
    "q03_users_dim_distinct" ->
      "SELECT DISTINCT o_custkey AS user_id, o_orderpriority AS level FROM orders WHERE o_custkey IS NOT NULL",
    "q04_time_dim_dateparts" ->
      """SELECT DISTINCT o_orderdate AS start_time,
        |  CAST(hour(o_orderdate) AS INTEGER) AS hour,
        |  CAST(day(o_orderdate) AS INTEGER) AS day,
        |  CAST(week(o_orderdate) AS INTEGER) AS week,
        |  CAST(month(o_orderdate) AS INTEGER) AS month,
        |  CAST(year(o_orderdate) AS INTEGER) AS year
        |FROM orders""".stripMargin,
    "q05_epoch_millis" ->
      """SELECT event_id,
        |  epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
        |  make_timestamp(epoch_ms(CAST(ts AS TIMESTAMP)) * 1000) AS ts_rt,
        |  CAST(user_id AS VARCHAR) AS user_id_str,
        |  CAST(CAST(value AS DECIMAL(14,4)) AS DOUBLE) AS value_dec
        |FROM events""".stripMargin,
    "q06_songs_dim_notnull" ->
      """SELECT DISTINCT p.p_partkey AS song_key, p.p_name AS song_title, p.p_brand AS brand
        |FROM lineitem l LEFT OUTER JOIN part p
        |  ON p.p_partkey = l.l_partkey AND p.p_size = l.l_quantity
        |WHERE p.p_partkey IS NOT NULL""".stripMargin,
    "q07_presort_topk" ->
      "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5",
    "q08_event_counts" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q09_star_flagship" ->
      """SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS start_time, e.user_id,
        |  c.c_mktsegment AS segment, e.event_type,
        |  CAST(CAST(e.value AS DECIMAL(14,4)) AS DOUBLE) AS value_dec
        |FROM events e LEFT OUTER JOIN customer c ON c.c_custkey = e.user_id""".stripMargin,
    "q10_decimal_rescale" ->
      """SELECT c_custkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(14,3)) AS VARCHAR) AS bal3,
        |  CAST(CAST(CAST(c_acctbal AS DECIMAL(14,3)) AS DECIMAL(19,8)) AS VARCHAR) AS bal8
        |FROM customer""".stripMargin,
    "q64_region_revenue" ->
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,6)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name""".stripMargin)
}
