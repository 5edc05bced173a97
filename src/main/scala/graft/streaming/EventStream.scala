package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Epoch, RetrievalQueries}
import graft.sources.Fixtures

/** Structured Streaming over the event feed (extension beyond the
  * reference, which is strictly batch — SURVEY.md §2.9; the engine treats
  * the stream as the same logical events table: the batch and streaming
  * paths share transforms, so a query verified in batch runs unchanged as a
  * stream).
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late data beyond 1 hour is dropped and its state evicted);
  * sessionization keeps one small state object per active user key, evicted
  * on event-time timeout. Both shuffle only on their group keys.
  */
object EventStream {

  /** File-source streaming read of the events JSON feed with the declared
    * raw schema — the streaming twin of the batch jsonpaths scan (S1). */
  def readEventsJson(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Fixtures.eventsRawSchema).json(dir)
      .select(
        col("eventId").as("event_id"),
        Epoch.millisToTimestamp(col("tsMillis")).as("ts"),
        col("userIdStr").try_cast("int").as("user_id"),
        col("eventKind").as("event_type"),
        col("valueNum").as("value"))

  /** Tumbling-window counts + exact sums per event type, watermarked.
    * Works identically on a batch DataFrame (used by q26's oracle check)
    * and a streaming one — same plan, different sink. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("cnt"), col("total_value"))

  final case class SessionEvent(user_id: Long, ts: Timestamp)
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class UserSession(user_id: Long, session_start: Timestamp,
                               session_end: Timestamp, n_events: Long)

  /** Streaming sessionization: per-user state with an event-time gap;
    * sessions are emitted when the watermark passes start-of-gap (state is
    * then evicted — bounded by active users, not history). */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(user, new Timestamp(s.start), new Timestamp(s.end), s.n))
          } else {
            val sorted = rows.map(_.ts.getTime).toSeq.sorted
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1))
                case Some(s) =>
                  closed ::= UserSession(user, new Timestamp(s.start), new Timestamp(s.end), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream inner join with an event-time range: each left event
    * pairs with right events of the SAME user within ±`minutes` of event
    * time. Both sides carry watermarks, and the range condition bounds how
    * long either side's state must be retained (watermark + range) — the
    * standard correlated-events shape (impression↔click, query↔result).
    * The builder is source-agnostic: on batch frames it is the identical
    * range join, so the batch run is the streaming run's oracle. */
  def correlate(left: DataFrame, right: DataFrame, minutes: Int): DataFrame = {
    val l = left.withWatermark("ts", s"$minutes minutes").as("l")
    val r = right.withWatermark("ts", s"$minutes minutes").as("r")
    l.join(r,
        col("l.user_id") === col("r.user_id") &&
          col("r.ts") >= col("l.ts") - expr(s"INTERVAL $minutes MINUTES") &&
          col("r.ts") <= col("l.ts") + expr(s"INTERVAL $minutes MINUTES") &&
          col("l.event_id") =!= col("r.event_id"))
      .select(
        col("l.event_id").as("left_id"),
        col("r.event_id").as("right_id"),
        col("l.user_id").as("user_id"))
  }

  /** Streaming exact dedup over a document feed: the first arrival of each
    * normalized content digest ([[graft.operators.Dedup.normalizedHash]] —
    * the batch operator's identical key) passes; later copies are dropped.
    * `dropDuplicatesWithinWatermark` bounds the state by the dedup horizon
    * (keys older than the watermark are evicted), so state is
    * O(docs-per-horizon), not O(stream history) — the only viable contract
    * for an unbounded 100 TB/day feed; cross-horizon duplicates are the
    * near-dup operators' (batch) job. */
  def dedupDocStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", graft.operators.Dedup.normalizedHash(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("text_hash")

  final case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class FunnelState(view: Option[Long], click: Option[Long],
                               purchase: Option[Long],
                               buffer: List[(Long, String)], lastTs: Long)
  final case class UserFunnel(user_id: Long, ts_view: Timestamp,
                              ts_click: Option[Timestamp],
                              ts_purchase: Option[Timestamp],
                              stage_reached: Int)

  /** Streaming twin of q92's ordered funnel: per-user earliest view →
    * earliest click strictly after it → earliest purchase strictly after
    * that, over an out-of-order event feed.
    *
    * The correctness subtlety is retroactivity: a late-arriving EARLIER
    * view changes which clicks qualify, so a naive "update slots on
    * arrival" machine diverges from the batch answer. The watermark is the
    * fix: events are buffered until the watermark passes them — at that
    * point nothing older can still arrive, so folding buffered events in
    * event-time order through the three slots is FINAL (a folded minimum
    * can never be undercut: any later arrival must carry ts > watermark ≥
    * every folded ts). State per active user = three slot longs + only the
    * young events the watermark can still reorder — bounded by the
    * out-of-orderness horizon, not by history. Users idle past the
    * inactivity horizon emit their funnel and evict (event-time timeout,
    * the sessionize discipline); rows at or behind the watermark are
    * dropped, matching the finalized fold.
    *
    * StreamingSpec proves stream-vs-batch equality on an out-of-order feed
    * chopped across micro-batches. */
  def funnelStream(events: Dataset[FunnelEvent],
                   horizonMinutes: Int): Dataset[UserFunnel] = {
    import events.sparkSession.implicits._
    val horizonMs = horizonMinutes * 60000L

    def fold(slots: (Option[Long], Option[Long], Option[Long]),
             ready: Seq[(Long, String)]) = {
      var (v, c, p) = slots
      ready.sortBy(_._1).foreach { case (t, et) =>
        et match {
          case "view" if v.isEmpty => v = Some(t)
          case "click" if c.isEmpty && v.exists(t > _) => c = Some(t)
          case "purchase" if p.isEmpty && c.exists(t > _) => p = Some(t)
          case _ => ()
        }
      }
      (v, c, p)
    }
    def result(user: Long, v: Option[Long], c: Option[Long], p: Option[Long]) =
      v.map(vt => UserFunnel(user, new Timestamp(vt),
        c.map(new Timestamp(_)), p.map(new Timestamp(_)),
        1 + c.size + p.size)).iterator

    events
      .withWatermark("ts", s"$horizonMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, UserFunnel](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            // nothing younger than the watermark can exist now — the
            // remaining buffer is final
            val (v, c, p) = fold((s.view, s.click, s.purchase), s.buffer)
            result(user, v, c, p)
          } else {
            val wm = state.getCurrentWatermarkMs()
            val s = state.getOption.getOrElse(FunnelState(None, None, None, Nil, 0L))
            // drop rows the watermark already passed — their fold is final
            val incoming = rows.map(e => (e.ts.getTime, e.event_type))
              .filter(_._1 > wm).toList
            val (ready, young) = (s.buffer ++ incoming).partition(_._1 <= wm)
            val (v, c, p) = fold((s.view, s.click, s.purchase), ready)
            val last = (s.lastTs +: incoming.map(_._1)).max
            state.update(FunnelState(v, c, p, young, last))
            state.setTimeoutTimestamp(last + horizonMs)
            Iterator.empty
          }
      }
  }

  final case class TransEvent(user_id: Long, event_id: Long, ts: Timestamp,
                              event_type: String)
  final case class TransState(prevTs: Long, prevId: Long, prevType: String,
                              hasPrev: Boolean,
                              buffer: List[(Long, Long, String)], lastTs: Long)
  final case class Transition(user_id: Long, cur: String, nxt: String)

  /** Streaming twin of q147's transition pairing: consecutive-event
    * (cur, nxt) pairs per user over an out-of-order feed. Same
    * retroactivity trap as the funnel — a late-arriving EARLIER event
    * belongs BETWEEN two already-seen events and changes both their
    * pairs — and the same watermark fix: events fold in event-time order
    * only once the watermark finalizes them, with the last finalized
    * event carried as the pairing anchor for the next fold. State per
    * user = one anchor + the young events the watermark can still
    * reorder; idle users evict on event-time timeout after emitting
    * their buffered tail. Downstream, the q147 matrix aggregation runs
    * unchanged on the emitted pairs. */
  def transitionStream(events: Dataset[TransEvent],
                       horizonMinutes: Int): Dataset[Transition] = {
    import events.sparkSession.implicits._
    val horizonMs = horizonMinutes * 60000L

    // fold finalized events in (ts, event_id) order through the anchor
    def fold(s: TransState, ready: Seq[(Long, Long, String)]):
        (TransState, List[(String, String)]) = {
      var prev = if (s.hasPrev) Some((s.prevTs, s.prevId, s.prevType)) else None
      val out = List.newBuilder[(String, String)]
      ready.sortBy(e => (e._1, e._2)).foreach { e =>
        prev.foreach(p => out += ((p._3, e._3)))
        prev = Some(e)
      }
      val ns = prev match {
        case Some((t, i, ty)) => s.copy(prevTs = t, prevId = i,
          prevType = ty, hasPrev = true)
        case None => s
      }
      (ns, out.result())
    }

    events
      .withWatermark("ts", s"$horizonMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[TransEvent], state: GroupState[TransState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            // watermark passed everything — the buffered tail is final
            val (_, pairs) = fold(s, s.buffer)
            pairs.map(p => Transition(user, p._1, p._2)).iterator
          } else {
            val wm = state.getCurrentWatermarkMs()
            val s = state.getOption.getOrElse(
              TransState(0L, 0L, "", hasPrev = false, Nil, 0L))
            val incoming = rows
              .map(e => (e.ts.getTime, e.event_id, e.event_type))
              .filter(_._1 > wm).toList
            val (ready, young) = (s.buffer ++ incoming).partition(_._1 <= wm)
            val (ns, pairs) = fold(s, ready)
            val last = (s.lastTs +: incoming.map(_._1)).max
            state.update(ns.copy(buffer = young, lastTs = last))
            state.setTimeoutTimestamp(last + horizonMs)
            pairs.map(p => Transition(user, p._1, p._2)).iterator
          }
      }
  }

  /** Streaming twin of q73's incremental dedup: a document feed probed per
    * micro-batch against the STATIC corpus fingerprint layout (shingle sets
    * + LSH band keys) via `foreachBatch` — each micro-batch runs the batch
    * operator [[graft.operators.Dedup.incrementalNearDupPairs]] UNCHANGED,
    * so the streaming path inherits its whole contract: batch side
    * broadcast, zero corpus-side shuffle, exact-Jaccard verification.
    *
    * `foreachBatch` is the honest architecture here (not a stream-static
    * join): the probe's build side must be the tiny arriving batch, and
    * a stream-static join would broadcast the static (corpus) side per
    * micro-batch — exactly what a 100 TB fingerprint table cannot do.
    * Because the probe is per-document independent (candidates and
    * verification only ever pair a batch doc with a corpus doc), the union
    * of per-micro-batch outputs equals the one-shot batch probe over the
    * same documents regardless of how the feed is chopped — the
    * decomposition property StreamingSpec asserts. */
  def incrementalDedupStream(docs: DataFrame, corpusBands: DataFrame,
      corpusShingles: DataFrame, threshold: Double)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.operators.Dedup.incrementalNearDupPairs(
          corpusBands, corpusShingles, batch, threshold), id)
      }

  /** Streaming twin of the spatial grid probe (q251's incremental form):
    * each micro-batch of arriving points finds its within-R corpus
    * neighbors by running the batch operator
    * [[graft.SpatialQueries.probeAgainst]] UNCHANGED against the static
    * celled corpus — the [[incrementalDedupStream]] architecture applied
    * to geometry (`foreachBatch`, batch side exploded ×9, corpus side
    * keyed by its own cell, never replicated per micro-batch). Per-probe
    * independence ⇒ the union of per-micro-batch outputs equals the
    * one-shot probe over the same points however the feed is chopped
    * (StreamingSpec asserts the decomposition). */
  def spatialProbeStream(ptsStream: DataFrame, corpusPts: DataFrame,
      cell: Long, r2: Long)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ptsStream.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.SpatialQueries.probeAgainst(corpusPts, batch, cell, r2), id)
      }

  /** Streaming twin of the native as-of join (q256's incremental form):
    * each micro-batch of arriving left rows point-in-time joins the
    * STATIC right table by running [[graft.operators.Asof.asofJoin]]
    * UNCHANGED — the [[incrementalDedupStream]]/[[spatialProbeStream]]
    * architecture applied to temporal lookup (`foreachBatch`; the right
    * side is a snapshot, the production shape for feature stores: a
    * trade feed enriches against the last published quote book). Each
    * left row's match depends only on the static right side, never on
    * other left rows ⇒ the union of per-micro-batch outputs equals the
    * one-shot as-of over the same rows however the feed is chopped
    * (StreamingSpec asserts the decomposition). Inside foreachBatch the
    * batch is a plain DataFrame, so AsofJoinExec serves each
    * micro-batch. */
  def asofProbeStream(leftStream: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String, rightKey: String, rightTime: String,
      strict: Boolean = true)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    leftStream.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.operators.Asof.asofJoin(batch, right,
          leftKey, leftTime, rightKey, rightTime, strict), id)
      }

  /** Streaming twin of q80's BM25 scorer: arriving documents score against
    * PRECOMPUTED corpus statistics — the same snapshot discipline as
    * [[incrementalDedupStream]]'s materialized fingerprints (a production
    * feed reads the stats row from the last corpus build; recomputing
    * corpus-wide df/avgdl per micro-batch would rescan the corpus). The
    * feature columns and the score expression are the batch builder's own
    * ([[RetrievalQueries.perDocFeatures]]/[[RetrievalQueries.scoreAgainst]]),
    * so streamed scores are bit-identical to batch scores and chop-invariant
    * (per-document independence — StreamingSpec asserts both). The stream
    * side never shuffles: per-doc tf folds in-scan, the 1-row stats frame
    * broadcasts. Top-k is not meaningful on an unbounded feed; compose with
    * a windowed aggregation for per-window leaders. */
  def bm25ScoreStream(docsStream: DataFrame, stats: DataFrame): DataFrame =
    RetrievalQueries.scoreAgainst(
      RetrievalQueries.perDocFeatures(docsStream), stats)

  /** Streaming twin of the flagship star build: the event feed streams
    * through the SAME staging mapping and the SAME songplay join builder as
    * the batch pipeline (stream-static join — the static songs dim is
    * broadcast per micro-batch, the stream side never shuffles, and
    * left-outer stream-static needs no watermark because the static side
    * can't be late). Each micro-batch appends fact rows; the batch Etl and
    * this stream produce identical row multisets over the same input. */
  def streamingSongplay(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.sources.Fixtures.ensureEventsJson(spark, sfDir)
    val evStream = spark.readStream.schema(Fixtures.eventsRawSchema).json(dir)
      .select(graft.pipeline.Etl.eventsMapping.map { case (n, c) => c.as(n) }: _*)
    val songs = graft.pipeline.Etl.stageSongs(spark, sfDir) // static side
    graft.pipeline.Etl.songplay(evStream, songs)
  }

  final case class TypedEvent(event_type: String, cents: Long)
  final case class TypeTotal(event_type: String, n: Long, cents: Long)

  /** Per-key running totals through `transformWithState` — the operator-
    * builder stateful API (typed per-key state handles + TTL + timers over
    * the RocksDB store) that supersedes [[sessionize]]'s mapGroupsWithState
    * shape. Counts and EXACT integer cents only, so any chop of the feed
    * into micro-batches folds to the bit-identical total (sums of longs
    * commute; StreamingSpec proves chop-invariance and batch equality).
    *
    * Scale shape: state is ONE small row per distinct event_type key,
    * partitioned by the group key — the stream shuffles once per
    * micro-batch on event_type and state never grows with history. The
    * RocksDB provider keeps the working set off-heap and checkpoint-
    * incremental, the production posture for million-key state (per-user,
    * not per-type) this twin stands in for. */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, TypedEvent, TypeTotal] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var tot: ValueState[TypeTotal] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      tot = getHandle.getValueState[TypeTotal]("tot",
        org.apache.spark.sql.Encoders.product[TypeTotal], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[TypeTotal] = {
      var n = 0L
      var c = 0L
      if (tot.exists()) { val p = tot.get(); n = p.n; c = p.cents }
      rows.foreach { e => n += 1; c += e.cents }
      val now = TypeTotal(key, n, c)
      tot.update(now)
      Iterator.single(now)
    }
  }

  /** The query builder for [[RunningTotalProcessor]] (Update mode: each
    * micro-batch emits the latest total per touched key). */
  def runningTotalsTws(events: Dataset[TypedEvent]): Dataset[TypeTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Exactly-once-EFFECTIVE micro-batch sink for `foreachBatch`: each
    * batch lands in its own `batch=<id>` partition under DYNAMIC partition
    * overwrite, so a replayed batch — restart from checkpoint, speculative
    * re-execution, an operator re-running a failed window — OVERWRITES its
    * own prior output instead of appending duplicates. Structured
    * Streaming's contract is exactly-once *state* but at-least-once sink
    * delivery for arbitrary `foreachBatch` writers; keying the physical
    * layout by the (replay-stable) batchId upgrades that to
    * exactly-once-effective with no transaction log. Readers see the
    * union of batch partitions; the partition column prunes per-batch
    * audits for free. Dynamic mode only replaces partitions present in
    * the incoming frame — other batches' output is never touched (pinned
    * by spec, as is replay idempotence). What plain parquet canNOT give
    * is reader isolation DURING a replay: a reader racing the overwrite
    * can see batch=<id> mid-replacement — the q115 write-audit-publish
    * pointer swap is the atomic-visibility upgrade when readers and
    * replays overlap. */
  def idempotentBatchWrite(outDir: String)(df: DataFrame, batchId: Long): Unit =
    df.withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(outDir)
}
