package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.streaming.EventStream

/** Windowed/time-series queries over `events` (extension family: the
  * reference has no window functions — SURVEY.md §2.5 — but a streaming
  * engine needs them; both run identically in batch and via Structured
  * Streaming, see [[graft.streaming.EventStream]]). */
object WindowQueries {
  import Queries.Q

  /** q26: tumbling 1-hour window counts + exact decimal sums per event
    * type — the exact batch twin of the streaming windowedAgg (same
    * function builds both plans). */
  val q26WindowedAgg: Q = (s, d) =>
    EventStream.windowedAgg(Tables.events(s, d))

  /** q27: batch sessionization via analytic window functions — per user,
    * a session breaks after a 30-minute gap; classic lag + running-sum
    * session ids, then per-session aggregates. One shuffle on user_id
    * (partitioned sort, no global sort); the streaming twin is
    * [[EventStream.sessionize]] with equivalent gap semantics. */
  val q27Sessionize: Q = (s, d) =>
    sessionizeBatch(Tables.events(s, d), gapMinutes = 30)

  /** The batch sessionization builder behind q27, reusable on any
    * (user_id, ts) frame — the streaming spec runs it against
    * [[graft.streaming.EventStream.sessionize]]'s emitted sessions on the
    * same fixture to prove the two formulations equivalent. */
  private[graft] def sessionizeBatch(events: org.apache.spark.sql.DataFrame,
                                     gapMinutes: Int) = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapMs = gapMinutes * 60000L
    events
      .select(col("user_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** q50: as-of join — each purchase picks up the latest strictly-earlier
    * click of the same user (the point-in-time lookup Spark has no native
    * operator for). Implemented as union + window, NOT a join: both event
    * subsets land in ONE hash exchange on user_id, a per-partition sort
    * orders them by time, and `last(click, ignoreNulls)` over the
    * strictly-preceding frame carries the most recent click into each
    * purchase row. Equal-timestamp safety: purchases sort BEFORE clicks at
    * the same ts (type_rank), so a same-instant click is never "earlier".
    * At 100 TB this beats any join formulation — no range partitioning, no
    * per-key probe buffering, cost = one shuffle + one sort, and skewed
    * users still bound state to their own partition run. The oracle is
    * DuckDB's NATIVE ASOF LEFT JOIN — a true cross-implementation check of
    * the semantics, not a formulation replay. */
  val q50AsofJoin: Q = (s, d) => asofClicks(Tables.events(s, d))

  /** q256: q50's point-in-time semantics through the NATIVE as-of join —
    * the whole-operator extension path (custom [[graft.plans.AsofJoinPlan]]
    * → [[graft.plans.AsofJoinStrategy]] → [[graft.plans.AsofJoinExec]]'s
    * co-partitioned streaming merge, injected via SparkSessionExtensions).
    * Same answer as q50 and the same DuckDB native `ASOF LEFT JOIN`
    * oracle, but each side pays its OWN narrow key exchange instead of
    * one union exchange carrying null-padded struct payloads, and the
    * merge holds exactly one buffered right row per partition. The click
    * side pre-aggregates to unique (user, ts) keeping max event_id —
    * q50's tie policy, so both formulations and the oracle agree
    * row-for-row. PlanSpec pins the AsofJoin physical node. */
  val q256AsofNative: Q = (s, d) =>
    asofNative(Tables.events(s, d), strict = true)

  /** q257: the INCLUSIVE bound (at-or-before) through the same native
    * operator, on the HOUR grain — `strict = false` flips the
    * admissibility comparison to `click_hour <= purchase_hour` and the
    * oracle flips `>` to `>=`. The grain choice is load-bearing: at
    * microsecond resolution the fixture has zero same-instant
    * purchase/click pairs (verified at all three scales), so an
    * inclusive query there would be the strict one wearing a different
    * oracle; truncated to hours, same-instant pairs abound and the two
    * bounds genuinely diverge (AsofSpec pins both that divergence and
    * the `click_hour <= purchase_hour` invariant). Click dedupe moves to
    * (user, hour) with the same max-event_id tie policy. */
  val q257AsofInclusive: Q = (s, d) => {
    val events = Tables.events(s, d)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        date_trunc("hour", col("ts")).as("purchase_hour"))
    val clicks = events.filter(col("event_type") === "click")
      .repartition(col("user_id")) // one exchange serves dedupe + as-of
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("click_hour"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
      .select(col("user_id").as("click_user"), col("click_hour"),
        col("click_id"), col("click_value"))
    graft.operators.Asof.asofJoin(purchases, clicks,
        "user_id", "purchase_hour", "click_user", "click_hour",
        strict = false)
      .select(col("purchase_id"), col("user_id"), col("purchase_hour"),
        col("click_id"), col("click_hour"), col("click_value"))
  }

  private[graft] def asofNative(events: org.apache.spark.sql.DataFrame,
      strict: Boolean) = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    // ONE exchange serves both the tie-breaking dedupe AND the as-of:
    // clustering by user_id alone satisfies the (user_id, ts) aggregate's
    // distribution (a user's rows are co-located, so its (user, ts)
    // groups are too) and is exactly what AsofJoinExec requires of its
    // right child — without it the agg would hash on (user_id, ts) and
    // the as-of would re-exchange on user_id, three shuffles instead of
    // two (PlanSpec pins the two-exchange shape).
    val clicks = events.filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("click_id"), col("click_value"))
    graft.operators.Asof.asofJoin(purchases, clicks,
        "user_id", "purchase_ts", "click_user", "click_ts", strict)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"), col("click_value"))
  }

  private[graft] def asofClicks(events: org.apache.spark.sql.DataFrame) = {
    val sub = events
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("type_rank"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("type_rank"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sub
      .withColumn("clk", when(col("event_type") === "click",
        struct(col("ts").as("click_ts"), col("event_id").as("click_id"),
          col("value").as("click_value"))))
      .withColumn("asof", last(col("clk"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("asof.click_id").as("click_id"),
        col("asof.click_ts").as("click_ts"),
        col("asof.click_value").as("click_value"))
  }

  /** q61: gap filling — the sparse hourly counts densified to EVERY
    * (hour, event_type) cell over the data's time span, zeros included
    * (time-series models need dense timelines; a groupBy emits only
    * occupied cells). ONE corpus aggregation total: the hour span AND the
    * type axis both derive from the tiny grouped result (min/max over it
    * equals min/max over raw ts after truncation; observed-distinct types
    * means densify-never-filter — a hardcoded type list would silently
    * DROP counts for unlisted types). The dense grid is generated, never
    * scanned, and the observed counts join back in broadcast. */
  val q61GapFill: Q = (s, d) => gapFill(Tables.events(s, d))

  private[graft] def gapFill(events: org.apache.spark.sql.DataFrame) = {
    val counts = events
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .groupBy(col("h"), col("event_type")).agg(count(lit(1)).as("cnt"))
    val span = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val types = counts.select(col("event_type")).distinct()
    val grid = span
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("h"))
      .crossJoin(types)
    grid.join(counts, Seq("h", "event_type"), "left")
      .select(col("h").as("hour"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** q62: range join — every error within 30 minutes AFTER a purchase by
    * the same user. Spark plans a raw inequality join as a nested loop
    * (quadratic per user); the scale shape is BIN BLOCKING, the temporal
    * twin of q22's length buckets: time is bucketed into range-width
    * bins, purchases explode to (bin, bin+1), errors keep their bin, and
    * the candidates come from an EQUI-join on (user, bin) — any
    * in-range pair's error lands in the purchase's bin or the next one,
    * so recall is exact (a theorem of the bin width, not a heuristic),
    * and each candidate is verified by the exact predicate. No nested
    * loop, no cartesian (plan-pinned); candidates ∝ events per
    * (user, 30-minute bin), not per user. The streaming twin is
    * EventStream's watermarked stream-stream correlate. */
  private val RANGE_MS = 30L * 60000L

  val q62RangeJoin: Q = (s, d) => rangeJoinErrors(Tables.events(s, d))

  private[graft] def rangeJoinErrors(events: org.apache.spark.sql.DataFrame) = {
    val ev = events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        floor(unix_millis(col("ts")) / RANGE_MS).as("bin"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), explode(array(col("bin"), col("bin") + 1)).as("bin"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"), col("bin"))
    val gap = unix_millis(col("e_ts")) - unix_millis(col("p_ts"))
    p.join(e, col("user_id") === col("e_user") && p("bin") === e("bin"))
      .filter(gap > 0 && gap <= RANGE_MS)
      .select(col("purchase_id"), col("error_id"), col("user_id"),
        gap.as("gap_ms"))
  }

  /** q68: trailing 3-hour rolling aggregates over the hourly series — a
    * RANGE frame on event time (7200 s preceding .. current), NOT a ROWS
    * frame: hours in which a type had no events are absent from the
    * series, and a rows frame would silently average over non-adjacent
    * hours across the gap; the range frame is anchored to TIME, so a gap
    * shrinks the window's population instead of stretching its span (the
    * correctness subtlety that shows up exactly when traffic is bursty).
    * Scale shape: the heavy input collapses to |type × hour| rows in one
    * keyed partial agg BEFORE the window; the window then runs per type
    * over the tiny series — never over raw events. */
  val q68RollingHourly: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .groupBy(col("hour"), col("event_type")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(unix_seconds(col("hour")))
      .rangeBetween(-7200L, 0L)
    hourly.select(col("hour"), col("event_type"), col("cnt"),
      sum(col("cnt")).over(w).as("sum_3h"),
      avg(col("cnt")).over(w).as("avg_3h"))
  }

  /** q92: ordered funnel — per user, the earliest view, the earliest click
    * STRICTLY AFTER that view, and the earliest purchase strictly after
    * that click (the product-analytics workhorse: "how far did each user
    * get, in order?"). The ordering constraint is the point: a user who
    * purchased before ever viewing does NOT count as a completed funnel,
    * which plain per-type mins would get wrong.
    *
    * Scale shape: three column-pruned scans with the event_type filter
    * pushed to parquet, each collapsing to one min per user BEFORE any
    * join (map-side partial min); the per-user stage tables are |users|
    * rows and join keyed on user_id. No window over raw events, no sort —
    * the "min after threshold" formulation beats the sort-based funnel
    * whenever events-per-user is large (the conditional aggregation
    * re-reads the filtered scan instead of sorting it). */
  val q92Funnel: Q = (s, d) => funnelBatch(Tables.events(s, d))

  /** The batch funnel builder behind q92, reusable on any
    * (user_id, ts, event_type) frame — the streaming spec runs it against
    * [[EventStream.funnelStream]]'s emissions on the same feed to prove the
    * incremental watermark-ordered fold equivalent. */
  private[graft] def funnelBatch(events: org.apache.spark.sql.DataFrame) = {
    def stage(t: String, after: Option[org.apache.spark.sql.DataFrame]) = {
      val base = events
        .filter(col("event_type") === t)
        .select(col("user_id"), col("ts"))
      val gated = after match {
        case None => base
        case Some(prev) => base.join(prev, "user_id")
          .filter(col("ts") > col("prev_ts"))
          .select(col("user_id"), col("ts"))
      }
      gated.groupBy(col("user_id")).agg(min(col("ts")).as("prev_ts"))
    }
    val v = stage("view", None)
    val c = stage("click", Some(v))
    val p = stage("purchase", Some(c))
    v.select(col("user_id"), col("prev_ts").as("ts_view"))
      .join(c.select(col("user_id"), col("prev_ts").as("ts_click")), Seq("user_id"), "left")
      .join(p.select(col("user_id"), col("prev_ts").as("ts_purchase")), Seq("user_id"), "left")
      .withColumn("stage_reached",
        (lit(1) + when(col("ts_click").isNotNull, 1).otherwise(0)
          + when(col("ts_purchase").isNotNull, 1).otherwise(0)))
  }

  /** q101: SCD2 dimension history — the operational twin of q72's SCD1
    * "latest wins" refresh: instead of overwriting, every CHANGE of a
    * user's state (their event_type here) opens a new version row with
    * [valid_from, valid_to) effectivity, the lakehouse pattern for
    * time-travel joins ("what was this user's state when the sample was
    * collected?"). Classic gaps-and-islands: a null-safe lag marks change
    * points, a running sum numbers the runs, runs collapse to version
    * rows, and lead() closes each version with its successor's start
    * (null = current).
    *
    * Scale shape: every window and the run-collapse group share the
    * user_id key — the lag/sum windows partition by user_id, the
    * (user_id, version) aggregation is satisfied by the same hash
    * clustering (subset rule), and the lead window re-uses it again: ONE
    * exchange of the events table, total (plan-pinned). No self-join —
    * the naive "join each row to its successor" formulation shuffles
    * twice and breaks on duplicate timestamps. */
  val q101Scd2History: Q = (s, d) => scd2History(Tables.events(s, d))

  /** The SCD2 history builder behind q101, reused by q138's point-in-time
    * feature join — one definition of the versioned dimension, two
    * consumers (the lakehouse discipline: features join the SAME history
    * the audit reads, not a re-derivation that can drift). */
  private[graft] def scd2History(events: org.apache.spark.sql.DataFrame) = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wVer = Window.partitionBy(col("user_id")).orderBy(col("version"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(wOrd) <=> col("event_type"), 0)
          .otherwise(1))
      .withColumn("version", sum(col("chg")).over(wOrd))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("version"), col("state"), col("valid_from"),
        lead(col("valid_from"), 1).over(wVer).as("valid_to"),
        col("n_events"))
  }

  /** q138: point-in-time feature join — each purchase (the label row)
    * looks up the user's SCD2 state as of ONE HOUR BEFORE the purchase,
    * the feature-store assembly rule that prevents label leakage: a
    * training feature must come from data strictly earlier than the
    * label, so the lookup time is ts − 1h, not ts (joining at ts would
    * trivially return the purchase's own run). Purchases whose lookup
    * time predates the user's first version keep a NULL feature — the
    * cold-start row a real training set must carry, hence LEFT join.
    *
    * Scale shape: the join is EQUI on user_id with the interval
    * containment as a join-condition filter — Catalyst plans a keyed
    * hash/merge join (plan-pinned: no nested loop, no cartesian), one
    * exchange per side, and versions-per-user is bounded so the per-key
    * verify cost is flat. SCD2 intervals are disjoint per user, so each
    * label matches at most one version: output rows == purchases,
    * which the oracle enforces exactly. */
  val q138PitFeatures: Q = (s, d) => {
    val hist = scd2History(Tables.events(s, d))
      .select(col("user_id").as("h_user"), col("version"), col("state"),
        col("valid_from"), col("valid_to"), col("n_events"))
    val obs = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("ts") - expr("INTERVAL 1 HOUR")).as("asof_ts"))
    obs.join(hist,
        col("user_id") === col("h_user") &&
          col("valid_from") <= col("asof_ts") &&
          (col("valid_to").isNull || col("asof_ts") < col("valid_to")),
        "left")
      .select(col("event_id"), col("user_id"), col("ts"), col("asof_ts"),
        col("version"), col("state"), col("valid_from"), col("n_events"))
  }

  /** q149: session path matrix — q27's gap sessionization extended with
    * WHAT each session did: the (entry, exit) event-type matrix with
    * session counts, bounce counts (single-event sessions), total events,
    * and the bounce rate per cell — the "how do visits start and end"
    * summary behind landing-page and exit-page analysis (q147 is the
    * event-level kernel; this is the session-level shape). Entry/exit
    * resolve by (ts, event_id) within the session — a total order, so
    * ties cannot flake the gate; the one division maps exact integers
    * through a single IEEE op.
    *
    * Scale shape: the session numbering (lag + running sum), the
    * entry/exit windows, and the per-session collapse ALL share the
    * user_id hash clustering (subset rule) — ONE exchange of the events
    * table; the (entry, exit) matrix aggregation then runs map-side on
    * ≤ |types|² cells. */
  val q149SessionPaths: Q = (s, d) => {
    val gapMs = 30L * 60000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wSess = Window.partitionBy(col("user_id"), col("session_no"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("entry", first(col("event_type")).over(wSess))
      .withColumn("exit", last(col("event_type")).over(
        wSess.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy(col("user_id"), col("session_no"), col("entry"), col("exit"))
      .agg(count(lit(1)).as("n_events"))
    sessions.groupBy(col("entry"), col("exit"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounce"),
        sum(col("n_events")).as("total_events"))
      .withColumn("bounce_rate",
        col("n_bounce").cast(DoubleType) / col("n_sessions").cast(DoubleType))
  }

  /** q148: rolling robust anomaly detection — per event type, each day's
    * count against the trailing-7-day MEDIAN and MAD (median absolute
    * deviation), flagging days where |count − median| > 3·MAD: the
    * monitoring rule that survives the exact situation that breaks
    * mean/stddev z-scores — a spike poisons the mean it is judged
    * against, but barely moves the median (q88 applies robust cuts
    * globally; this is the per-series ROLLING form a pipeline health
    * monitor runs). MAD needs the window's raw members twice (median,
    * then median of deviations), which no frame-window aggregate
    * expresses — so q143's coverage reversal supplies the members: each
    * (type, day, count) covers report days day..day+6, and both medians
    * are plain keyed aggregations over the covered rows.
    *
    * Determinism: daily counts are exact integers, medians of small
    * integers (and of their half-integer deviations) are exact binary
    * fractions in BOTH engines' interpolation forms, and the 3·MAD
    * comparison is single-op IEEE — hash-stable without quantization.
    *
    * Scale shape: raw events collapse to the |types|×|days| daily series
    * FIRST (one map-side-combined aggregation); the 7× fan-out, both
    * median aggregations, and the final join all ride the tiny series,
    * never the corpus. */
  val q148RollingMad: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
    val span = daily.agg(max(col("day")).as("last_day"))
    val cov = daily
      .select(col("event_type"), col("cnt").as("m_cnt"),
        explode(sequence(col("day"), col("day") + expr("INTERVAL 6 DAY"),
          expr("INTERVAL 1 DAY"))).as("day"))
      .crossJoin(broadcast(span))
      .filter(col("day") <= col("last_day"))
    val med = cov.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_win"),
        percentile(col("m_cnt"), lit(0.5)).as("med"))
    val mad = cov.join(med, Seq("event_type", "day"))
      .groupBy(col("event_type"), col("day"), col("n_win"), col("med"))
      .agg(percentile(abs(col("m_cnt") - col("med")), lit(0.5)).as("mad"))
    daily.join(mad, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("cnt"), col("n_win"),
        col("med"), col("mad"),
        (abs(col("cnt") - col("med")) > lit(3.0) * col("mad")).as("anomaly"))
  }

  /** q147: event transition matrix — the first-order Markov "user journey"
    * summary: for every (current, next) event-type pair across each
    * user's time-ordered stream, the transition count, the conditional
    * probability P(next | current), and the destination's rank within its
    * source row (count desc, name tiebreak — a total order). The DFA walk
    * (q141) asks "where does one user END UP"; this asks "how does the
    * whole population MOVE" — the product-analytics dual, and the
    * empirical transition kernel a journey simulator or next-step
    * recommender consumes. Counts are exact integers; each probability is
    * one integer÷integer IEEE division, identical in both engines.
    *
    * Scale shape: the lead() window and nothing else touches raw events —
    * ONE user-keyed exchange, then the (cur, nxt) aggregation collapses
    * map-side to at most |types|² rows; the per-source totals and ranks
    * run over that tiny matrix. */
  val q147TransitionMatrix: Q = (s, d) => {
    val m = transitionPairs(Tables.events(s, d))
      .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
    val wSrc = Window.partitionBy(col("cur"))
    m.withColumn("src_total", sum(col("n")).over(wSrc))
      .withColumn("p", col("n").cast(DoubleType) / col("src_total").cast(DoubleType))
      .withColumn("dst_rank",
        row_number().over(wSrc.orderBy(col("n").desc, col("nxt"))))
  }

  /** The consecutive-pair builder behind q147, on any
    * (user_id, event_id, ts, event_type) frame — the streaming twin
    * ([[EventStream.transitionStream]]) must emit exactly these pairs on
    * the same feed, which StreamingSpec asserts. */
  private[graft] def transitionPairs(events: org.apache.spark.sql.DataFrame) = {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(wu))
      .filter(col("nxt").isNotNull)
  }

  /** q143: rolling active users — DAU and trailing-7-day WAU per day, with
    * the DAU/WAU stickiness ratio (the engagement dashboard staple). The
    * subtlety this query exists for: COUNT(DISTINCT) cannot ride a window
    * frame (Spark rejects it, and sketch approximations change the
    * answer), so the rolling distinct is computed by COVERAGE REVERSAL —
    * each (user, active_day) marks the user active for report days
    * day..day+6 (a 7-value generator), and WAU(day) is a plain distinct
    * count of covering users per report day. Exact, associative,
    * windowless. Report days are clamped to the observed span so no
    * phantom trailing days appear, and the report is per ACTIVE day — a
    * day with zero events anchors no DAU row (densifying the calendar is
    * q61's gap-fill job, composable upstream).
    *
    * Scale shape: raw events collapse to distinct (user, day) FIRST
    * (map-side partial distinct) — the 7× generator fan-out runs on the
    * collapsed |users|·|days| table, never on raw events; both distincts
    * are keyed aggregations with partial combiners. The one division is
    * exact-integer → IEEE double, gate-stable. */
  val q143RollingActives: Q = (s, d) => {
    val ud = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val span = ud.agg(max(col("day")).as("last_day"))
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + expr("INTERVAL 6 DAY"),
          expr("INTERVAL 1 DAY"))).as("day"))
      .crossJoin(broadcast(span))
      .filter(col("day") <= col("last_day"))
      .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast(DoubleType) / col("wau").cast(DoubleType))
          .as("stickiness"))
  }

  /** q142: position-based (U-shaped) multi-touch attribution — every
    * purchase distributes 10,000 basis points of conversion credit over
    * the user's clicks in the preceding [[ATTR_DAYS]]-day lookback: 40%
    * to the first touch, 40% to the last, the middle 20% floor-divided
    * across interior touches with the integer REMAINDER going to the last
    * touch (the deterministic tie rule; a lone touch takes all 10,000,
    * a 2-touch path gives the last 6,000). Credit is INTEGER bps end to
    * end — the marketing-analytics classic, made hash-exact, aggregated
    * per acquisition channel (the props.k JSON field mod 4, re-exercising
    * scan-time path extraction on the join's build side).
    *
    * Scale shape: q62's bin-blocking, pointed backwards — purchases probe
    * (bin, bin−1) where bin width == the lookback, so candidates come
    * from an EQUI-join on (user, bin) with exact recall by construction,
    * never an inequality nested loop. Position ranking is one window
    * keyed by purchase over touch-count-bounded groups; the channel
    * rollup collapses map-side to four rows. */
  private val ATTR_DAYS = 4L
  private val ATTR_MS = ATTR_DAYS * 86400000L

  val q142Attribution: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"),
        floor(unix_millis(col("ts")) / ATTR_MS).as("b"))
      .select(col("pid"), col("user_id"), col("pts"),
        explode(array(col("b"), col("b") - 1)).as("bin"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cu"),
        col("ts").as("cts"),
        element_at(array(lit("search"), lit("social"), lit("email"),
          lit("direct")),
          (pmod(get_json_object(col("props"), "$.k").cast(LongType), lit(4L))
            + 1).cast(IntegerType)).as("channel"),
        floor(unix_millis(col("ts")) / ATTR_MS).as("bin"))
    val touches = p.join(c, col("user_id") === col("cu") && p("bin") === c("bin"))
      .filter(col("cts") < col("pts") &&
        col("cts") >= col("pts") - expr(s"INTERVAL $ATTR_DAYS DAY"))
    val wp = Window.partitionBy(col("pid"))
    val wo = wp.orderBy(col("cts"), col("cid"))
    val mid = when(col("n") > 2, expr("2000 div (n - 2)")).otherwise(0L)
      .cast(LongType)
    val scored = touches
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("pos", row_number().over(wo))
      .withColumn("credit_bps",
        when(col("n") === 1, 10000L)
          .when(col("pos") === 1, 4000L)
          .when(col("pos") === col("n"),
            lit(4000L) + lit(2000L) - (col("n") - 2) * mid)
          .otherwise(mid))
    scored.groupBy(col("channel"))
      .agg(sum(col("credit_bps")).as("total_bps"),
        count(lit(1)).as("n_touches"),
        countDistinct(col("pid")).as("n_purchases"))
  }

  /** q136: cohort retention — the product-analytics staple the funnel
    * (q92) and sessionization (q27) family was missing: users cohort by
    * their FIRST active ISO week, and each later week's activity counts
    * against that cohort — the (cohort_week, week_offset) retention
    * matrix, with the rate against the cohort's own size. Both engines
    * truncate to Monday-start ISO weeks and difference in whole days/7,
    * so every cell is exact integer arithmetic; the one division (rate)
    * maps exact integers through a single IEEE op.
    *
    * Scale shape: distinct (user, week) pairs collapse map-side; the
    * cohort assignment is a user-keyed min that rides the SAME exchange
    * (window over user_id); the matrix aggregation and the cohort-size
    * window run over ≤ cohorts×weeks rows. */
  val q136CohortRetention: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val weekly = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val cohorted = weekly
      .withColumn("cohort_week", min(col("wk")).over(W.partitionBy(col("user_id"))))
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort_week")) / 7).cast(LongType))
    cohorted.groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .withColumn("cohort_size",
        sum(when(col("week_offset") === 0L, col("n_active")))
          .over(W.partitionBy(col("cohort_week"))))
      .withColumn("retention",
        col("n_active").cast(DoubleType) / col("cohort_size").cast(DoubleType))
  }

  /** q182: calendar-RANGE trailing aggregation — the 7-day trailing
    * large-transaction exposure per event type, as a RANGE frame over the
    * integer epoch-day axis. RANGE and ROWS diverge exactly when the axis
    * has holes: ROWS BETWEEN 6 PRECEDING reaches back seven OBSERVED
    * rows — arbitrarily far in calendar time once days are missing —
    * while the RANGE frame is anchored to the calendar and absent days
    * contribute nothing. The rare-event filter (value > 250, ~1% of the skewed
    * value distribution) leaves most
    * (type, day) cells empty, so the two frames genuinely differ; both
    * are emitted, plus the in-frame day count, so the divergence is data
    * the gate checks, not prose. This is the one surface q95's window
    * suite (ROWS/ordering frames) and q143/q148's coverage reversal
    * deliberately avoided: here the calendar frame itself is the
    * operator.
    *
    * Scale shape: events collapse map-side to (type, day) DECIMAL daily
    * sums behind one keyed exchange — the windows then run over
    * ≤ |types|·|days| rows, never events, sharing one (type)-keyed sort.
    * All frame arithmetic is exact DECIMAL re-aggregation of the daily
    * state (the q173 grain argument applied to sliding frames); sums are
    * emitted as canonical decimal STRINGS so the gate compares exact
    * values, not engine float renderings. */
  val q182RangeFrame: Q = (s, d) => rangeFrame(Tables.events(s, d))

  /** The q182 frame machinery on any (event_type, ts, value) frame —
    * exposed so OperationalSpec can replay the calendar semantics against
    * a brute-force day-filter recompute. */
  private[graft] def rangeFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val daily = events
      .filter(col("value") > 250.0)
      .select(col("event_type"),
        unix_date(to_date(col("ts"))).cast(LongType).as("eday"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("v"))
      .groupBy(col("event_type"), col("eday"))
      .agg(sum(col("v")).as("d_sum"), count(lit(1)).as("d_n"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("eday"))
    val wRange = byDay.rangeBetween(-6, 0)
    val wRows = byDay.rowsBetween(-6, 0)
    daily.select(col("event_type"), col("eday"), col("d_n"),
      col("d_sum").cast(org.apache.spark.sql.types.StringType).as("d_sum"),
      sum(col("d_sum")).over(wRange)
        .cast(org.apache.spark.sql.types.StringType).as("trail7_range"),
      count(lit(1)).over(wRange).as("days_in_range"),
      sum(col("d_sum")).over(wRows)
        .cast(org.apache.spark.sql.types.StringType).as("trail7_rows"))
  }

  private val AC_LAGS = 7

  /** q203: AUTOCORRELATION of the gap-filled daily series — the
    * periodicity detector (weekly seasonality shows as a lag-7 peak,
    * monitoring pipelines alarm on its collapse) computed EXACTLY: the
    * lag-ℓ Pearson autocorrelation of per-type daily counts, with the
    * float-free trick of clearing the mean denominator. With n days,
    * S = Σx, the centered value n·x_t − S is an integer; then
    * r_ℓ = num_ℓ / den with num_ℓ = Σ_{t≤n−ℓ} (n·x_t−S)(n·x_{t+ℓ}−S) and
    * den = Σ (n·x_t−S)² — both exact BIGINTs (order-free sums), the
    * ratio one IEEE division for readability. Days with no events COUNT
    * AS ZERO (q61's spine): skipping gaps would silently shift every lag.
    *
    * Scale shape: the daily collapse is one map-side-combined shuffle;
    * the spine is a generator over the 1-row global span crossed with the
    * observed types; ALL seven lags ride ONE window pass (7 lead columns,
    * one exchange on event_type — the series is |days| rows per type, K
    * rows total, so the window state is trivially bounded); the per-type
    * scalars (n, S, den) broadcast back. At 10⁹ events/day the centered
    * products pass 2⁶³ and the two sums (only) upgrade to DECIMAL. */
  /** The zero-filled (event_type, day, x) daily series over the global
    * observed span — q61's spine at day grain, shared by q203/q209. */
  private def dailySeries(s: org.apache.spark.sql.SparkSession, d: String) = {
    val counts = Tables.events(s, d)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x"))
    counts.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .crossJoin(counts.select(col("event_type")).distinct())
      .join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("x"), lit(0L)).as("x"))
  }

  val q203Autocorr: Q = (s, d) => {
    val series = dailySeries(s, d)
    val tot = series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"))
    val cent = series.join(broadcast(tot), "event_type")
      .withColumn("c", col("n_days") * col("x") - col("sx"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val led = cent.select(
      Seq(col("event_type"), col("n_days"), col("c")) ++
        (1 to AC_LAGS).map(l => lead(col("c"), l).over(w).as(s"c$l")): _*)
    val den = led.groupBy(col("event_type")).agg(sum(col("c") * col("c")).as("den"))
    led.select(col("event_type"), col("n_days"), col("c"),
        posexplode(array((1 to AC_LAGS).map(l => col(s"c$l")): _*))
          .as(Seq("l0", "cl")))
      .filter(col("cl").isNotNull)
      .groupBy(col("event_type"), (col("l0") + 1).cast(LongType).as("lag"))
      .agg(min(col("n_days")).as("n_days"), count(lit(1)).as("n_pairs"),
        sum(col("c") * col("cl")).as("num"))
      .join(broadcast(den), "event_type")
      .select(col("event_type"), col("lag"), col("n_days"), col("n_pairs"),
        col("num"), col("den"),
        (col("num").cast(DoubleType) / col("den").cast(DoubleType)).as("r"))
  }

  /** q209: THEIL–SEN robust trend — the median of all pairwise slopes of
    * the daily series, the estimator that shrugs off the outlier days
    * (traffic spikes, logging outages) that drag q137's least-squares
    * line: up to ~29% of the points can be corrupted before the slope
    * moves. Slopes are exact fractions (dy = x_{t2} − x_{t1} BIGINT,
    * dx = t2 − t1 days); the median is selected under the TOTAL order
    * (dy/dx as one IEEE division, then dy, then dx) — equal-valued ties
    * can swap rows, never change the selected VALUES — and reported as
    * the exact (dy, dx) pair plus the one readability division. Lower
    * median for even counts: a declared convention, replayed identically.
    *
    * Scale shape: the pair generation is a self-join keyed on event_type
    * — the series is K·|days| rows, so pairs are |days|²/2 per type,
    * fine at monitoring grain (a year = 66k pairs); the median is one
    * window rank per type over those pairs. Theil–Sen at very long T is
    * O(T²) BY DEFINITION — the honest long-series path is the
    * repeated-median or pair-sampling variant, same plan shape. */
  val q209TheilSen: Q = (s, d) => theilSen(dailySeries(s, d))

  /** The pair-median machinery over any (event_type, day, x) series —
    * shared with the spec's planted-outlier robustness proof. */
  private[graft] def theilSen(series: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val a = series.select(col("event_type"), col("day").as("t1"), col("x").as("x1"))
    val b = series.select(col("event_type"), col("day").as("t2"), col("x").as("x2"))
    val pairs = a.join(b, Seq("event_type")).filter(col("t1") < col("t2"))
      .select(col("event_type"), (col("x2") - col("x1")).as("dy"),
        (col("t2") - col("t1")).as("dx"))
      .withColumn("slope", col("dy").cast(DoubleType) / col("dx").cast(DoubleType))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("dy"), col("dx"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_pairs"),
        col("dy").as("med_dy"), col("dx").as("med_dx"), col("slope"))
  }

  /** q213: ISOTONIC REGRESSION of the daily value signal — the monotone
    * fit behind probability calibration (Zadrozny–Elkan '02), monotone
    * dose-response curves, and "metric must not regress" release gates:
    * the least-squares non-decreasing sequence through each type's daily
    * mean cents, weighted by day volume. Computed by the MINIMAX closed
    * form fit_i = max_{j≤i} min_{k≥i} mean(y_j..y_k) (Barlow et al. '72)
    * — not by sequential pooling — so the whole fit is joins + windows +
    * min/max aggregations: range means are exact-BIGINT prefix-sum
    * differences with ONE double division each, and every min/max over
    * those doubles is order-free. OperationalSpec proves the fit equals
    * an independent JVM PAVA and is monotone.
    *
    * Scale shape: per type the range/minimax tables are O(n³) in the DAY
    * count — the right cost at monitoring grain (a year ≈ 8·10⁶ rows per
    * type, all map-side arithmetic); a very long series switches to
    * per-key sequential PAVA in a sorted-group fold (q194's altitude),
    * same contract. The raw scan collapses to K·|days| daily rows
    * map-side before any of this. */
  val q213Isotonic: Q = (s, d) => {
    val cents = (col("value")
      .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
      .cast(LongType)
    val daily = Tables.events(s, d)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        cents.as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).as("cs"), count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val p = daily
      .withColumn("i", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
      .withColumn("ss", sum(col("cs")).over(w))
      .withColumn("nn", sum(col("n")).over(w))
    val p0 = p.select(col("event_type"), col("i"), col("ss"), col("nn"))
      .unionByName(p.groupBy(col("event_type"))
        .agg(lit(0).as("i"), lit(0L).as("ss"), lit(0L).as("nn")))
    val ranges = p0.as("a").join(p0.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.i") < col("b.i"))
      .select(col("a.event_type").as("event_type"),
        (col("a.i") + 1).as("j"), col("b.i").as("k"),
        ((col("b.ss") - col("a.ss")).cast(DoubleType) /
          (col("b.nn") - col("a.nn")).cast(DoubleType)).as("avgv"))
    val m = ranges
      .select(col("event_type"), col("j"),
        explode(sequence(col("j"), col("k"))).as("i"), col("avgv"))
      .groupBy(col("event_type"), col("j"), col("i"))
      .agg(min(col("avgv")).as("mv"))
    val fit = m.groupBy(col("event_type"), col("i")).agg(max(col("mv")).as("fit"))
    p.join(fit, Seq("event_type", "i"))
      .select(col("event_type"), col("day"), col("n"),
        (col("cs").cast(DoubleType) / col("n").cast(DoubleType)).as("y"),
        col("fit"))
  }

  private val SESS_GAP_MIN = 30
  private val US_PER_DAY_217 = 86400000000L

  /** q217: INCREMENTAL SESSIONIZATION — q27's gaps-and-islands run the
    * way a daily pipeline actually runs it: history lives as a write-once
    * SESSION-GRAIN state table; each day only the new batch (the last 7
    * days here) is sessionized and merged against the state's open tail.
    * The q103/q153 discipline applied to the one operator where the naive
    * incremental answer is WRONG (a batch event can extend yesterday's
    * session — append-only sessionization splits it): sessions ending
    * ≥ gap before the cutoff are CLOSED and pass through untouched; the
    * boundary invariant "old events stop at the cutoff, sessions are
    * gap-separated" means AT MOST ONE open session per user (spec-
    * asserted), and the open tail + batch events re-merge as interval
    * islands (q193's running-max-end), counts summed. Renumbering by
    * session_start restores q27's chronological session_no, so the gate
    * is the strongest possible: the incremental answer hash-equals the
    * FULL RECOMPUTE oracle (q27's SQL verbatim).
    *
    * Scale shape: the state is session-grain (orders of magnitude under
    * events) and only its open tail joins the merge window; the batch
    * window exchange is batch-sized; closed sessions never touch an
    * exchange except the final session-grain renumber. At 10¹¹ events
    * the daily cost is the batch scan + session-grain state, never the
    * history rescan — which is the entire point. */
  val q217IncrementalSessions: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    val maxDay = ev.agg(max(expr("unix_micros(ts) div 86400000000")))
      .head().getLong(0)
    val cutoffUs = (maxDay - 6) * US_PER_DAY_217
    val gapUs = SESS_GAP_MIN * 60000000L
    val state = graft.operators.Scale.writeOnce(
      sessionizeBatch(ev.filter(expr("unix_micros(ts)") < cutoffUs),
        SESS_GAP_MIN)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events")),
      s"graft_sessions_state_${ScaleQueries.sfTag(d)}",
      graft.operators.Scale.dirFingerprint(s"$d/events.parquet") +
        s"|cut=$cutoffUs|gap=$SESS_GAP_MIN").read(s)
    val closed = state.filter(
      expr("unix_micros(session_end)") < cutoffUs - gapUs)
    val openRows = state.filter(
        expr("unix_micros(session_end)") >= cutoffUs - gapUs)
      .select(col("user_id"), col("session_start").as("s_ts"),
        col("session_end").as("e_ts"), col("n_events").as("n"))
    val batchRows = ev.filter(expr("unix_micros(ts)") >= cutoffUs)
      .select(col("user_id"), col("ts").as("s_ts"), col("ts").as("e_ts"),
        lit(1L).as("n"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("s_ts"), col("e_ts"))
    val merged = openRows.unionByName(batchRows)
      .withColumn("prev_e",
        max(col("e_ts")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens", when(col("prev_e").isNull ||
        expr("unix_micros(s_ts) - unix_micros(prev_e)") > gapUs, 1L)
        .otherwise(0L))
      .withColumn("island", sum(col("opens")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s_ts")).as("session_start"),
        max(col("e_ts")).as("session_end"), sum(col("n")).as("n_events"))
      .drop("island")
    closed.select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .unionByName(merged)
      .withColumn("session_no", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("session_start")))
        .cast(LongType))
      .select(col("user_id"), col("session_no"), col("session_start"),
        col("session_end"), col("n_events"))
  }

  /** q225: MAX DRAWDOWN / BEST RUN-UP of the daily cumulative value
    * series — the prefix-extremum pair behind finance risk ("worst
    * peak-to-trough"), capacity planning ("biggest backlog build-up"),
    * and SLO burn analysis. The O(n²) pairwise definition collapses to
    * one window pass by the Kadane/prefix argument: max_{s≤t}(P_s − P_t)
    * = max_t(runmax_t − P_t) and the best run-up is its mirror off the
    * running MIN. Everything is exact cumulative cents; the argmax days
    * are picked by lexicographic struct MAX with the EARLIEST day as
    * tiebreak — a declared total order, replayed identically.
    *
    * Scale shape: the daily collapse is map-side; the running extrema
    * and the final per-type fold ride ONE event_type exchange (the
    * series is K·|days| rows). */
  val q225Drawdown: Q = (s, d) => {
    val cents = (col("value")
      .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
      .cast(LongType)
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"), cents.as("c"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("dc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val p = daily
      .withColumn("cum", sum(col("dc")).over(w))
      .withColumn("runmax", max(col("cum")).over(w))
      .withColumn("runmin", min(col("cum")).over(w))
    p.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(struct((col("runmax") - col("cum")).as("dd"),
          (-col("day")).as("nd"))).as("wd"),
        max(struct((col("cum") - col("runmin")).as("ru"),
          (-col("day")).as("nd"))).as("wr"))
      .select(col("event_type"), col("n_days"),
        col("wd.dd").as("max_drawdown_cents"), (-col("wd.nd")).as("trough_day"),
        col("wr.ru").as("best_runup_cents"), (-col("wr.nd")).as("runup_day"))
  }

  val queries: Map[String, Q] = Map(
    "q225_drawdown" -> q225Drawdown,
    "q217_incremental_sessions" -> q217IncrementalSessions,
    "q213_isotonic" -> q213Isotonic,
    "q209_theil_sen" -> q209TheilSen,
    "q203_autocorr" -> q203Autocorr,
    "q182_range_frame" -> q182RangeFrame,
    "q136_cohort_retention" -> q136CohortRetention,
    "q138_pit_features" -> q138PitFeatures,
    "q142_attribution" -> q142Attribution,
    "q143_rolling_actives" -> q143RollingActives,
    "q147_transition_matrix" -> q147TransitionMatrix,
    "q148_rolling_mad" -> q148RollingMad,
    "q149_session_paths" -> q149SessionPaths,
    "q101_scd2_history" -> q101Scd2History,
    "q26_windowed_agg" -> q26WindowedAgg,
    "q27_sessionize"   -> q27Sessionize,
    "q50_asof_join"    -> q50AsofJoin,
    "q256_asof_native" -> q256AsofNative,
    "q257_asof_inclusive" -> q257AsofInclusive,
    "q61_gap_fill"     -> q61GapFill,
    "q62_range_join"   -> q62RangeJoin,
    "q68_rolling_hourly" -> q68RollingHourly,
    "q92_funnel"       -> q92Funnel)

  val oracle: Map[String, String] = Map(
    // Same cumulative cents, same running extrema; the argmax replayed
    // as min(day) over the rows achieving the max — the same tiebreak.
    "q225_drawdown" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS dc
        |  FROM events GROUP BY 1, 2),
        |p0 AS (SELECT event_type, day,
        |    CAST(sum(dc) OVER wp AS BIGINT) AS cum
        |  FROM daily
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (SELECT event_type, day, cum,
        |    CAST(max(cum) OVER wp AS BIGINT) AS runmax,
        |    CAST(min(cum) OVER wp AS BIGINT) AS runmin
        |  FROM p0
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |x AS (SELECT event_type, day, runmax - cum AS dd,
        |    cum - runmin AS ru FROM p),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    max(dd) AS mdd, max(ru) AS mru FROM x GROUP BY 1),
        |td AS (SELECT x.event_type, min(x.day) AS trough_day
        |  FROM x JOIN g USING (event_type) WHERE x.dd = g.mdd GROUP BY 1),
        |ru AS (SELECT x.event_type, min(x.day) AS runup_day
        |  FROM x JOIN g USING (event_type) WHERE x.ru = g.mru GROUP BY 1)
        |SELECT g.event_type, g.n_days, g.mdd AS max_drawdown_cents,
        |  td.trough_day, g.mru AS best_runup_cents, ru.runup_day
        |FROM g JOIN td USING (event_type) JOIN ru USING (event_type)""".stripMargin,
    // The FULL RECOMPUTE — q27's sessionization verbatim. Hash-green
    // proves incremental-merge ≡ from-scratch, the whole IVM contract.
    "q217_incremental_sessions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT user_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
        |n AS (SELECT user_id, ts,
        |        CASE WHEN prev_ts IS NULL
        |               OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1
        |             ELSE 0 END AS new_session FROM l),
        |s AS (SELECT user_id, ts,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no FROM n)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, session_no""".stripMargin,
    // Same prefix-difference range means (one double division each),
    // same minimax over the identical double multiset.
    "q213_isotonic" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS cs,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, day, cs, n,
        |    CAST(row_number() OVER wd AS BIGINT) AS i,
        |    CAST(sum(cs) OVER wp AS BIGINT) AS ss,
        |    CAST(sum(n) OVER wp AS BIGINT) AS nn
        |  FROM daily
        |  WINDOW wd AS (PARTITION BY event_type ORDER BY day),
        |    wp AS (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p0 AS (SELECT event_type, i, ss, nn FROM p
        |  UNION ALL SELECT DISTINCT event_type, 0, 0, 0 FROM p),
        |ranges AS (SELECT a.event_type, a.i + 1 AS j, b.i AS k,
        |    CAST(b.ss - a.ss AS DOUBLE) / CAST(b.nn - a.nn AS DOUBLE) AS avgv
        |  FROM p0 a JOIN p0 b ON a.event_type = b.event_type AND a.i < b.i),
        |m AS (SELECT r.event_type, r.j, t.i, min(r.avgv) AS mv
        |  FROM ranges r, UNNEST(generate_series(r.j, r.k)) t(i)
        |  GROUP BY 1, 2, 3),
        |fit AS (SELECT event_type, i, max(mv) AS fit
        |  FROM m GROUP BY 1, 2)
        |SELECT p.event_type, p.day, p.n,
        |  CAST(p.cs AS DOUBLE) / CAST(p.n AS DOUBLE) AS y, fit.fit
        |FROM p JOIN fit ON fit.event_type = p.event_type AND fit.i = p.i""".stripMargin,
    // Same spine, same exact-fraction pairs, same (slope, dy, dx) total
    // order and lower-median convention.
    "q209_theil_sen" ->
      """WITH c AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
        |      AS day, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
        |series AS (
        |  SELECT t.event_type, g.day, coalesce(c.x, 0) AS x
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM span) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM c) t
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.day = g.day),
        |pairs AS (SELECT a.event_type, b.x - a.x AS dy, b.day - a.day AS dx,
        |    CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
        |  FROM series a JOIN series b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope, dy, dx) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n_pairs
        |  FROM pairs)
        |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  dy AS med_dy, dx AS med_dx, slope
        |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin,
    // Same zero-filled day spine, same n·x − S centering, same BIGINT
    // sums; the ratio is the identical single float64 division.
    "q203_autocorr" ->
      s"""WITH c AS (
         |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
         |      AS day, CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM c),
         |series AS (
         |  SELECT t.event_type, g.day, coalesce(c.x, 0) AS x
         |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM span) g
         |  CROSS JOIN (SELECT DISTINCT event_type FROM c) t
         |  LEFT JOIN c ON c.event_type = t.event_type AND c.day = g.day),
         |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(x) AS BIGINT) AS sx
         |  FROM series GROUP BY 1),
         |cent AS (SELECT s.event_type, s.day, t.n_days,
         |    t.n_days * s.x - t.sx AS c
         |  FROM series s JOIN tot t USING (event_type)),
         |den AS (SELECT event_type, CAST(sum(c * c) AS BIGINT) AS den
         |  FROM cent GROUP BY 1),
         |led AS (SELECT event_type, n_days, c, lg.lag,
         |    lead(c, CAST(lg.lag AS INTEGER)) OVER
         |      (PARTITION BY event_type, lg.lag ORDER BY day) AS cl
         |  FROM cent CROSS JOIN (SELECT unnest(generate_series(CAST(1 AS BIGINT),
         |    CAST($AC_LAGS AS BIGINT))) AS lag) lg),
         |num AS (SELECT event_type, lag, min(n_days) AS n_days,
         |    CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(c * cl) AS BIGINT) AS num
         |  FROM led WHERE cl IS NOT NULL GROUP BY 1, 2)
         |SELECT n.event_type, n.lag, n.n_days, n.n_pairs, n.num, d.den,
         |  CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) AS r
         |FROM num n JOIN den d USING (event_type)""".stripMargin,
    // Same daily decimal collapse, same integer day axis, same two frames;
    // sums compared as canonical decimal strings.
    "q182_range_frame" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS eday,
        |    sum(CAST(value AS DECIMAL(18,6))) AS d_sum,
        |    CAST(count(*) AS BIGINT) AS d_n
        |  FROM events WHERE value > 250.0 GROUP BY 1, 2)
        |SELECT event_type, eday, d_n,
        |  CAST(d_sum AS VARCHAR) AS d_sum,
        |  CAST(sum(d_sum) OVER (PARTITION BY event_type ORDER BY eday
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS VARCHAR)
        |    AS trail7_range,
        |  CAST(count(*) OVER (PARTITION BY event_type ORDER BY eday
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS days_in_range,
        |  CAST(sum(d_sum) OVER (PARTITION BY event_type ORDER BY eday
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS VARCHAR)
        |    AS trail7_rows
        |FROM daily""".stripMargin,
    // Same ISO week truncation, same integer day/7 offsets, one division.
    "q136_cohort_retention" ->
      """WITH weekly AS (SELECT DISTINCT user_id,
        |    date_trunc('week', ts) AS wk FROM events),
        |c AS (SELECT user_id, wk,
        |    min(wk) OVER (PARTITION BY user_id) AS cohort_week FROM weekly),
        |o AS (SELECT cohort_week,
        |    CAST(date_diff('day', cohort_week, wk) // 7 AS BIGINT) AS week_offset
        |  FROM c),
        |g AS (SELECT cohort_week, week_offset, count(*) AS n_active
        |  FROM o GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_active,
        |  CAST(sum(CASE WHEN week_offset = 0 THEN n_active END)
        |    OVER (PARTITION BY cohort_week) AS BIGINT) AS cohort_size,
        |  CAST(n_active AS DOUBLE) / CAST(sum(CASE WHEN week_offset = 0
        |    THEN n_active END) OVER (PARTITION BY cohort_week) AS DOUBLE)
        |    AS retention
        |FROM g""".stripMargin,
    // Same islands construction: null-safe lag change flags, running-sum
    // version numbers, lead() effectivity close.
    "q101_scd2_history" ->
      """WITH m AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)
        |      IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END AS chg
        |  FROM events),
        |v AS (SELECT *, sum(chg) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS version
        |  FROM m),
        |r AS (SELECT user_id, CAST(version AS BIGINT) AS version,
        |    min(event_type) AS state, min(ts) AS valid_from,
        |    count(*) AS n_events
        |  FROM v GROUP BY 1, 2)
        |SELECT user_id, version, state, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
        |    AS valid_to,
        |  n_events
        |FROM r""".stripMargin,
    // Same history CTE, same equi+containment LEFT join at ts − 1h.
    "q138_pit_features" ->
      """WITH m AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)
        |      IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END AS chg
        |  FROM events),
        |v AS (SELECT *, sum(chg) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS version
        |  FROM m),
        |r AS (SELECT user_id, CAST(version AS BIGINT) AS version,
        |    min(event_type) AS state, min(ts) AS valid_from,
        |    count(*) AS n_events
        |  FROM v GROUP BY 1, 2),
        |hist AS (SELECT *, lead(valid_from) OVER
        |    (PARTITION BY user_id ORDER BY version) AS valid_to
        |  FROM r),
        |obs AS (SELECT event_id, user_id, ts,
        |    ts - INTERVAL 1 HOUR AS asof_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT o.event_id, o.user_id, o.ts, o.asof_ts,
        |  h.version, h.state, h.valid_from, h.n_events
        |FROM obs o LEFT JOIN hist h
        |  ON o.user_id = h.user_id AND h.valid_from <= o.asof_ts
        |  AND (h.valid_to IS NULL OR o.asof_ts < h.valid_to)""".stripMargin,
    // Same integer bps schedule: 4000/4000 endpoints, floor-divided middle
    // pot, remainder to the last touch; the lookback as a direct
    // inequality join (DuckDB's planner handles the small scale).
    "q142_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts
        |    FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS cid, user_id, ts AS cts,
        |    ['search', 'social', 'email', 'direct']
        |      [CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
        |        AS INTEGER) + 1] AS channel
        |    FROM events WHERE event_type = 'click'),
        |t AS (SELECT pid, cid, channel, cts,
        |    count(*) OVER (PARTITION BY pid) AS n,
        |    row_number() OVER (PARTITION BY pid ORDER BY cts, cid) AS pos
        |  FROM p JOIN c USING (user_id)
        |  WHERE cts < pts AND cts >= pts - INTERVAL 4 DAY),
        |s AS (SELECT pid, channel,
        |    CASE WHEN n = 1 THEN 10000
        |         WHEN pos = 1 THEN 4000
        |         WHEN pos = n THEN 4000 + 2000 - (n - 2) *
        |           (CASE WHEN n > 2 THEN 2000 // (n - 2) ELSE 0 END)
        |         ELSE (CASE WHEN n > 2 THEN 2000 // (n - 2) ELSE 0 END)
        |         END AS credit_bps
        |  FROM t)
        |SELECT channel, CAST(sum(credit_bps) AS BIGINT) AS total_bps,
        |  CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases
        |FROM s GROUP BY channel""".stripMargin,
    // Same coverage reversal: day..day+6 generator per active (user, day),
    // clamped to the observed span, same exact distinct counts.
    "q143_rolling_actives" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    date_trunc('day', ts) AS day FROM events),
        |last AS (SELECT max(day) AS last_day FROM ud),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau
        |  FROM ud GROUP BY 1),
        |cov AS (SELECT user_id,
        |    unnest(generate_series(day, day + INTERVAL 6 DAY,
        |      INTERVAL 1 DAY)) AS day
        |  FROM ud),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau
        |  FROM cov, last WHERE day <= last_day GROUP BY 1)
        |SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
        |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau USING (day)""".stripMargin,
    // Same lead pairing, same integer counts, one division, same total
    // order on destination rank.
    "q147_transition_matrix" ->
      """WITH p AS (SELECT event_type AS cur,
        |    lead(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |m AS (SELECT cur, nxt, count(*) AS n FROM p
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT cur, nxt, CAST(n AS BIGINT) AS n,
        |  CAST(sum(n) OVER (PARTITION BY cur) AS BIGINT) AS src_total,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE) AS p,
        |  CAST(row_number() OVER
        |    (PARTITION BY cur ORDER BY n DESC, nxt) AS INTEGER) AS dst_rank
        |FROM m""".stripMargin,
    // Same coverage reversal, same exact small-integer medians, same
    // single-op 3·MAD comparison.
    "q148_rolling_mad" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |last AS (SELECT max(day) AS last_day FROM daily),
        |cov AS (SELECT event_type, cnt AS m_cnt,
        |    unnest(generate_series(day, day + INTERVAL 6 DAY,
        |      INTERVAL 1 DAY)) AS day
        |  FROM daily),
        |cv AS (SELECT * FROM cov, last WHERE day <= last_day),
        |med AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_win,
        |    median(m_cnt) AS med FROM cv GROUP BY 1, 2),
        |mad AS (SELECT c.event_type, c.day, m.n_win, m.med,
        |    median(abs(c.m_cnt - m.med)) AS mad
        |  FROM cv c JOIN med m USING (event_type, day)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT d.event_type, d.day, d.cnt, a.n_win, a.med, a.mad,
        |  abs(d.cnt - a.med) > 3.0 * a.mad AS anomaly
        |FROM daily d JOIN mad a USING (event_type, day)""".stripMargin,
    // Same gaps-and-islands numbering, same (ts, event_id) total order
    // for entry/exit, same integer cells and single division.
    "q149_session_paths" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |n AS (SELECT *, sum(new_session) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM e),
        |x AS (SELECT *,
        |    first_value(event_type) OVER w AS entry,
        |    last_value(event_type) OVER
        |      (PARTITION BY user_id, session_no ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS exit
        |  FROM n
        |  WINDOW w AS (PARTITION BY user_id, session_no
        |               ORDER BY ts, event_id)),
        |sess AS (SELECT user_id, session_no, entry, exit,
        |    count(*) AS n_events
        |  FROM x GROUP BY 1, 2, 3, 4)
        |SELECT entry, exit, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS bounce_rate
        |FROM sess GROUP BY 1, 2""".stripMargin,
    // Same staged "min strictly after the previous stage" formulation.
    "q92_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS ts_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS ts_click
        |      FROM e JOIN v ON e.user_id = v.user_id AND e.ts > v.ts_view
        |      WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS ts_purchase
        |      FROM e JOIN c ON e.user_id = c.user_id AND e.ts > c.ts_click
        |      WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT v.user_id, v.ts_view, c.ts_click, p.ts_purchase,
        |  CAST(1 + (c.user_id IS NOT NULL)::INT + (p.user_id IS NOT NULL)::INT
        |    AS INTEGER) AS stage_reached
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,
    "q26_windowed_agg" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events),
        |b AS (SELECT make_timestamp((epoch_ms(t) // 3600000) * 3600000 * 1000) AS ws,
        |        event_type, value FROM e)
        |SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM b GROUP BY ws, event_type""".stripMargin,
    "q27_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT user_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
        |n AS (SELECT user_id, ts,
        |        CASE WHEN prev_ts IS NULL
        |               OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1
        |             ELSE 0 END AS new_session FROM l),
        |s AS (SELECT user_id, ts,
        |        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no FROM n)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, session_no""".stripMargin,
    // DuckDB's native ASOF LEFT JOIN: latest click with click.ts strictly
    // below the purchase ts, NULLs when none — an independent
    // implementation of the same semantics, not the window replay. Clicks
    // are pre-deduped per (user, ts) keeping max event_id — the same tie
    // policy the Spark window's (ts, rank, event_id) ordering encodes —
    // so an equal-ts click pair can never make the ASOF pick arbitrary.
    "q50_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    max(event_id) AS event_id, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |  c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts > c.ts""".stripMargin,
    // q256: identical semantics to q50 (strictly-earlier), served by the
    // NATIVE AsofJoinExec — same DuckDB native ASOF oracle, independent
    // cross-implementation check of the custom physical operator.
    "q256_asof_native" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    max(event_id) AS event_id, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |  c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts > c.ts""".stripMargin,
    // q257: the inclusive bound — at-or-before, on the HOUR grain (at
    // microsecond grain the fixture has zero same-instant pairs and the
    // bounds cannot diverge); DuckDB's ASOF inequality flips > to >=.
    "q257_asof_inclusive" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    max(event_id) AS click_id, max_by(value, event_id) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.purchase_id, p.user_id, p.h AS purchase_hour,
        |  c.click_id, c.h AS click_hour, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.h >= c.h""".stripMargin,
    // Dense grid via generate_series over the observed hour span and the
    // observed distinct types; counts left-join in, gaps coalesce to 0.
    "q61_gap_fill" ->
      """WITH e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    event_type FROM events),
        |c AS (SELECT h, event_type, count(*) AS cnt FROM e GROUP BY 1, 2),
        |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
        |grid AS (SELECT g.h, t.event_type
        |  FROM (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |        FROM span) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM c) t)
        |SELECT grid.h AS hour, grid.event_type, coalesce(c.cnt, 0) AS cnt
        |FROM grid LEFT JOIN c ON grid.h = c.h AND grid.event_type = c.event_type""".stripMargin,
    // The plain inequality join — DuckDB's IEJoin handles it natively;
    // the Spark side must reproduce it exactly through its bin blocking.
    "q62_range_join" ->
      s"""SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id,
         |  epoch_ms(CAST(e.ts AS TIMESTAMP)) - epoch_ms(CAST(p.ts AS TIMESTAMP)) AS gap_ms
         |FROM events p JOIN events e
         |  ON p.user_id = e.user_id
         |  AND p.event_type = 'purchase' AND e.event_type = 'error'
         |  AND epoch_ms(CAST(e.ts AS TIMESTAMP)) - epoch_ms(CAST(p.ts AS TIMESTAMP)) > 0
         |  AND epoch_ms(CAST(e.ts AS TIMESTAMP)) - epoch_ms(CAST(p.ts AS TIMESTAMP)) <= $RANGE_MS""".stripMargin,
    // Identical RANGE frame over epoch seconds; a windowed sum returns
    // HUGEINT in DuckDB -> cast back to BIGINT to match Spark's long.
    "q68_rolling_hourly" ->
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    event_type, count(*) AS cnt FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, cnt,
        |  CAST(sum(cnt) OVER w AS BIGINT) AS sum_3h,
        |  avg(cnt) OVER w AS avg_3h
        |FROM h
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch(hour)
        |  RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW)""".stripMargin)
}
