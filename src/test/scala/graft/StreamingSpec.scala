package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStream
import graft.streaming.EventStream.{SessionEvent, UserSession}

/** Structured Streaming specs: the windowed aggregation runs identically to
  * its batch twin, and sessionization state closes sessions on event-time
  * gaps and evicts on watermark timeout. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("asofClicks: latest strictly-earlier click only; same-instant click excluded") {
    val ev = Seq(
      // user 7: clicks at m1, m5; purchase at m10 -> picks the m5 click
      (1L, ts(1), 7L, "click", 1.0),
      (2L, ts(5), 7L, "click", 2.0),
      (3L, ts(10), 7L, "purchase", 9.0),
      // user 8: click exactly AT the purchase instant -> not earlier, NULL
      (4L, ts(3), 8L, "click", 3.0),
      (5L, ts(3), 8L, "purchase", 8.0),
      // user 9: purchase with no click at all -> NULL
      (6L, ts(2), 9L, "purchase", 7.0),
      // noise: other types never match
      (7L, ts(4), 7L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = WindowQueries.asofClicks(ev).collect()
      .map(r => (r.getAs[Long]("purchase_id"),
        Option(r.getAs[java.lang.Long]("click_id")).map(_.toLong)))
      .sortBy(_._1)
    out shouldBe Seq((3L, Some(2L)), (5L, None), (6L, None))
  }

  test("rangeJoinErrors: inclusive far edge, exclusive same-instant, bin straddle found") {
    val RANGE = 30L * 60000L
    def at(ms: Long) = new Timestamp(1700000000000L + ms)
    val ev = Seq(
      (1L, at(0), 5L, "purchase", 0.0),
      (2L, at(RANGE), 5L, "error", 0.0),       // exactly at the edge -> kept
      (3L, at(RANGE + 1), 5L, "error", 0.0),   // 1ms past -> dropped
      (4L, at(0), 5L, "error", 0.0),           // same instant -> gap 0 -> dropped
      // straddle: purchase near a bin boundary, error in the NEXT bin
      (5L, at(RANGE - 1), 6L, "purchase", 0.0),
      (6L, at(RANGE + 5), 6L, "error", 0.0),   // gap 6ms, different bin -> kept
      // other user never matches
      (7L, at(10), 9L, "error", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = WindowQueries.rangeJoinErrors(ev).collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("error_id"),
        r.getAs[Long]("gap_ms"))).sortBy(t => (t._1, t._2))
    out shouldBe Seq((1L, 2L, RANGE), (5L, 6L, 6L))
  }

  test("gapFill: zeros for empty cells, span and type axis from the data") {
    def at(h: Int) = new Timestamp(1700000000000L / 3600000L * 3600000L + h * 3600000L)
    val ev = Seq(
      (1L, at(0), 1L, "click", 0.0),
      (2L, at(0), 1L, "view", 0.0),
      (3L, at(2), 1L, "click", 0.0))  // hour 1 has NO events at all
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = WindowQueries.gapFill(ev).collect()
      .map(r => (r.getAs[Timestamp]("hour"), r.getAs[String]("event_type"),
        r.getAs[Long]("cnt")))
    out.length shouldBe 6 // 3 hours x 2 observed types — axis from data
    out.count(_._3 == 0L) shouldBe 3 // (h0,view gone?) no: h1 both, h2 view
    out.filter(_._2 == "view").map(_._3).sum shouldBe 1L
  }

  test("streaming windowedAgg matches the batch plan on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val q = EventStream.windowedAgg(events)
      .writeStream.format("memory").queryName("win_agg_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        (ts(0), "click", 1.5), (ts(10), "click", 2.5),
        (ts(70), "click", 4.0), (ts(5), "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("win_agg_test")
        .orderBy("window_start", "event_type").collect()
      val batch = EventStream.windowedAgg(
          Seq((ts(0), "click", 1.5), (ts(10), "click", 2.5),
            (ts(70), "click", 4.0), (ts(5), "view", 1.0))
            .toDF("ts", "event_type", "value"))
        .orderBy("window_start", "event_type").collect()
      got.toSeq shouldBe batch.toSeq
      got.length shouldBe 3 // (h0,click) (h0,view) (h1,click)
      got.map(_.getAs[Long]("cnt")).toSeq shouldBe Seq(2L, 1L, 1L)
    } finally q.stop()
  }

  test("dedupDocStream: duplicate content dropped across micro-batches, first kept") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = EventStream.dedupDocStream(docs)
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "Hello  World", ts(0)), (2L, "other doc", ts(1)))
      q.processAllAvailable()
      // normalized duplicate of doc 1 in a LATER micro-batch, inside horizon
      input.addData((3L, "hello world", ts(2)), (4L, "third doc", ts(3)))
      q.processAllAvailable()
      val got = spark.table("dedup_stream_test").collect()
      got.map(_.getAs[Long]("doc_id")).sorted.toSeq shouldBe Seq(1L, 2L, 4L)
      // the streaming survivor set matches the batch canonical ids
      val batch = graft.operators.Dedup.exactGroups(
          Seq((1L, "Hello  World"), (2L, "other doc"), (3L, "hello world"), (4L, "third doc"))
            .toDF("doc_id", "text"),
          col("doc_id"), col("text"))
        .collect().map(_.getAs[Long]("canonical_id")).sorted.toSeq
      got.map(_.getAs[Long]("doc_id")).sorted.toSeq shouldBe batch
    } finally q.stop()
  }

  test("streaming incremental dedup: chopped feed equals the one-shot batch probe (q73 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the q73 corpus-side fingerprints, as in-memory static frames (the
    // layout's content; the write-once materialization is q73's own test)
    val corpus = Tables.documents(spark, sf).filter(col("doc_id") >= 50)
      .repartition(col("doc_id"))
    val sh = graft.operators.Dedup.shingleSets(corpus, 3)
    val bands = graft.operators.Dedup.bandKeys(sh, 32, 4)

    val batchDocs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (feedA, feedB) = batchDocs.partition(_._1 < 25)

    val input = MemoryStream[(Long, String)]
    val buf = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = EventStream.incrementalDedupStream(
        input.toDF().toDF("doc_id", "text"), bands, sh, 0.8) { (df, _) =>
        buf ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }.start()
    try {
      input.addData(feedA.toSeq); q.processAllAvailable()
      input.addData(feedB.toSeq); q.processAllAvailable()
    } finally q.stop()

    // per-document independence: the union over micro-batches equals the
    // one-shot probe over the same documents, however the feed was chopped
    val oneShot = graft.operators.Dedup.incrementalNearDupPairs(
        bands, sh,
        Tables.documents(spark, sf).filter(col("doc_id") < 50), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    buf.size shouldBe oneShot.length // no duplicate emissions across batches
    oneShot should not be empty
    buf.toSet shouldBe oneShot.toSet
  }

  test("streaming spatial probe: chopped point feed equals the one-shot grid probe (q251 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val corpus = SpatialQueries.points(Tables.customer(spark, sf), "c_custkey")
    val probePts = SpatialQueries.points(Tables.supplier(spark, sf), "s_suppkey", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (feedA, feedB) = probePts.partition(_._1 < 5)
    feedA should not be empty
    feedB should not be empty

    val input = MemoryStream[(Long, Long, Long)]
    val buf = collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = EventStream.spatialProbeStream(
        input.toDF().toDF("id", "x", "y"), corpus, 32768L, 400000000L) { (df, _) =>
        buf ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }.start()
    try {
      input.addData(feedA.toSeq); q.processAllAvailable()
      input.addData(feedB.toSeq); q.processAllAvailable()
    } finally q.stop()

    // per-probe independence: the union over micro-batches equals the
    // one-shot probe over the same points, however the feed was chopped
    val oneShot = SpatialQueries.probeAgainst(corpus,
        SpatialQueries.points(Tables.supplier(spark, sf), "s_suppkey", "s"),
        32768L, 400000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    buf.size shouldBe oneShot.length // no duplicate emissions across batches
    oneShot should not be empty
    buf.toSet shouldBe oneShot.toSet
  }

  test("streaming as-of probe: chopped purchase feed equals the one-shot native as-of join (q256 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sf)
    // the static right-side snapshot: q256's deduped click book
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("click_id"), col("click_value"))
      .localCheckpoint(true)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val rows = purchases.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val (feedA, feedB) = rows.partition(_._1 % 2 == 0)
    feedA should not be empty
    feedB should not be empty

    val input = MemoryStream[(Long, Long, Timestamp)]
    val buf = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = EventStream.asofProbeStream(
        input.toDF().toDF("purchase_id", "user_id", "purchase_ts"), clicks,
        "user_id", "purchase_ts", "click_user", "click_ts") { (df, _) =>
        buf ++= df.collect().map(r =>
          (r.getLong(0), if (r.isNullAt(5)) -1L else r.getLong(5)))
      }.start()
    try {
      input.addData(feedA.toSeq); q.processAllAvailable()
      input.addData(feedB.toSeq); q.processAllAvailable()
    } finally q.stop()

    // per-left-row independence against the static book: the union over
    // micro-batches equals the one-shot as-of, however the feed is chopped
    val oneShot = graft.operators.Asof.asofJoin(purchases, clicks,
        "user_id", "purchase_ts", "click_user", "click_ts")
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(5)) -1L else r.getLong(5)))
    buf.size shouldBe oneShot.length // no duplicate emissions across batches
    oneShot should not be empty
    buf.toSet shouldBe oneShot.toSet
  }

  test("stream-stream correlate equals the batch range join on the same feeds") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(Long, Long, Timestamp)]
    val ri = MemoryStream[(Long, Long, Timestamp)]
    def named(df: org.apache.spark.sql.DataFrame) = df.toDF("event_id", "user_id", "ts")
    val q = EventStream.correlate(named(li.toDF()), named(ri.toDF()), minutes = 5)
      .writeStream.format("memory").queryName("corr_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val lrows = Seq((1L, 7L, ts(0)), (2L, 7L, ts(20)), (3L, 8L, ts(0)))
      val rrows = Seq((10L, 7L, ts(3)), (11L, 7L, ts(9)), (12L, 9L, ts(1)))
      li.addData(lrows: _*); ri.addData(rrows: _*)
      q.processAllAvailable()
      val got = spark.table("corr_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val batch = EventStream.correlate(
          named(lrows.toDF()), named(rrows.toDF()), minutes = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      got shouldBe batch
      // in-range same-user pair (1,10) matches; (2,*) out of range; user 8/9 never pair
      got shouldBe Seq((1L, 10L))
    } finally q.stop()
  }

  test("windowedAgg (append): watermark finalizes windows across micro-batches, equals batch") {
    // The Complete-mode twin above never exercises the watermark; this one
    // runs the production posture — Append mode, where a window row is
    // emitted exactly once, only after the watermark passes its end — and
    // must still equal the batch plan on the same feed.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.windowedAgg(events)
      .writeStream.format("memory").queryName("win_agg_append_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val feed = Seq(
        (ts(0), "click", 1.5), (ts(10), "click", 2.5),
        (ts(70), "click", 4.0), (ts(5), "view", 1.0))
      // the real feed spread over two micro-batches: h0's partial state
      // must survive the boundary
      input.addData(feed.take(2): _*); q.processAllAvailable()
      input.addData(feed.drop(2): _*); q.processAllAvailable()
      // nothing can have been emitted yet: watermark (max 70min - 1h) is
      // still before h0's window end
      spark.table("win_agg_append_test").count() shouldBe 0L
      // two sentinel batches push the watermark past both real windows
      // (watermark advances from the PREVIOUS batch's max event time)
      input.addData((ts(10000), "sentinel", 0.0)); q.processAllAvailable()
      input.addData((ts(20000), "sentinel", 0.0)); q.processAllAvailable()

      val got = spark.table("win_agg_append_test")
        .filter(col("event_type") =!= "sentinel")
        .orderBy("window_start", "event_type").collect()
      val batch = EventStream.windowedAgg(feed.toDF("ts", "event_type", "value"))
        .orderBy("window_start", "event_type").collect()
      got.toSeq shouldBe batch.toSeq
      got.length shouldBe 3 // (h0,click) (h0,view) (h1,click)

      // a row later than the watermark allows is DROPPED, not re-emitted:
      // h0 is finalized and must stay finalized
      input.addData((ts(5), "click", 99.0)); q.processAllAvailable()
      spark.table("win_agg_append_test")
        .filter(col("event_type") =!= "sentinel").count() shouldBe 3L
    } finally q.stop()
  }

  test("correlate: join state survives micro-batch boundaries; watermark drops late rows") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(Long, Long, Timestamp)]
    val ri = MemoryStream[(Long, Long, Timestamp)]
    def named(df: org.apache.spark.sql.DataFrame) = df.toDF("event_id", "user_id", "ts")
    val q = EventStream.correlate(named(li.toDF()), named(ri.toDF()), minutes = 5)
      .writeStream.format("memory").queryName("corr_xbatch_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // left arrives ALONE in batch 1; its matching right only in batch 2 —
      // the pair can only form if buffered join state crosses the boundary
      val lrows = Seq((1L, 7L, ts(0)), (3L, 8L, ts(0)))
      val rrows = Seq((10L, 7L, ts(3)), (12L, 9L, ts(1)))
      li.addData(lrows: _*); q.processAllAvailable()
      ri.addData(rrows: _*); q.processAllAvailable()
      def emitted() = spark.table("corr_xbatch_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val batch = EventStream.correlate(
          named(lrows.toDF()), named(rrows.toDF()), minutes = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      emitted() shouldBe batch
      emitted() shouldBe Seq((1L, 10L))

      // push BOTH watermarks far forward (sentinel user pairs with nothing:
      // same-id exclusion keeps a lone sentinel row un-joined)
      li.addData((901L, 99L, ts(10000))); ri.addData((902L, 98L, ts(10000)))
      q.processAllAvailable()
      li.addData((903L, 99L, ts(20000))); ri.addData((904L, 98L, ts(20000)))
      q.processAllAvailable()
      // a would-match pair entirely BEHIND the watermark produces nothing:
      // late input is dropped and the old state is already evicted
      li.addData((5L, 7L, ts(1))); ri.addData((13L, 7L, ts(2)))
      q.processAllAvailable()
      emitted() shouldBe Seq((1L, 10L))
    } finally q.stop()
  }

  test("sessionize: gap splits sessions; watermark timeout emits and evicts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = EventStream.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: events at 0,10 (one session), then 60 (gap > 30 → new session)
      input.addData(SessionEvent(1L, ts(0)), SessionEvent(1L, ts(10)), SessionEvent(1L, ts(60)))
      q.processAllAvailable()
      // advance the watermark far past everything → all state times out
      input.addData(SessionEvent(99L, ts(10000)))
      q.processAllAvailable()
      input.addData(SessionEvent(98L, ts(30000)))
      q.processAllAvailable()

      val sessions = spark.table("sessions_test").as[UserSession]
        .collect().filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      sessions.length shouldBe 2
      sessions(0).n_events shouldBe 2L
      sessions(0).session_start shouldBe ts(0)
      sessions(0).session_end shouldBe ts(10)
      sessions(1).n_events shouldBe 1L
      sessions(1).session_start shouldBe ts(60)
    } finally q.stop()
  }

  test("streaming sessionize equals the batch window sessionization (q27) on the same feed") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = EventStream.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_twin_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // three users, sessions split by >30min gaps, spread across
      // micro-batches (the state must survive batch boundaries)
      val feed = Seq(
        SessionEvent(1L, ts(0)), SessionEvent(1L, ts(10)), SessionEvent(1L, ts(60)),
        SessionEvent(2L, ts(5)), SessionEvent(2L, ts(34)), SessionEvent(2L, ts(66)),
        SessionEvent(3L, ts(50)))
      val (b1, b2) = feed.splitAt(4)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // sentinel advances the watermark far past everything -> all real
      // sessions time out and emit; the sentinel's own stays open
      input.addData(SessionEvent(99L, ts(100000))); q.processAllAvailable()

      val streamed = spark.table("sessions_twin_test").as[UserSession]
        .collect().filter(_.user_id != 99L)
        .map(s => (s.user_id, s.session_start, s.session_end, s.n_events))
        .sortBy(t => (t._1, t._2.getTime))
      val batch = WindowQueries.sessionizeBatch(
          feed.map(e => (e.user_id, e.ts)).toDF("user_id", "ts"), gapMinutes = 30)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
          r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events")))
        .sortBy(t => (t._1, t._2.getTime))
      streamed.toSeq shouldBe batch.toSeq
      streamed.length shouldBe 5 // u1: 2 sessions, u2: 2 (34->66 gap 32min), u3: 1
    } finally q.stop()
  }

  test("streaming songplay equals the batch star build on the same feed") {
    val sf = "/root/testdata/sf0.001"
    val q = EventStream.streamingSongplay(spark, sf)
      .writeStream.format("memory").queryName("songplay_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("songplay_stream")
      val batch = graft.pipeline.Etl.songplay(
        graft.pipeline.Etl.stageEvents(spark, sf),
        graft.pipeline.Etl.stageSongs(spark, sf))
      streamed.count() shouldBe batch.count()
      // identical row multisets: anti-joins empty in both directions
      streamed.exceptAll(batch).count() shouldBe 0
      batch.exceptAll(streamed).count() shouldBe 0
    } finally q.stop()
  }

  test("streaming file-source scan reads the events JSON feed schema") {
    val dir = graft.sources.Fixtures.ensureEventsJson(spark, "/root/testdata/sf0.001")
    val q = EventStream.readEventsJson(spark, dir)
      .writeStream.format("memory").queryName("feed_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val n = spark.table("feed_test").count()
      n shouldBe 1000L // sf0.001 events
      spark.table("feed_test").schema.fieldNames.toSeq shouldBe
        Seq("event_id", "ts", "user_id", "event_type", "value")
    } finally q.stop()
  }

  test("streaming BM25 scores equal the batch scorer and are chop-invariant (q80 twin)") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val stats = RetrievalQueries.corpusStats(
      RetrievalQueries.perDocFeatures(corpus)).cache()
    // the feed: a handful of docs containing the fixed query's terms
    val feedDocs = corpus.filter(col("doc_id") < 40)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = EventStream.bm25ScoreStream(docs, stats)
      .writeStream.format("memory").queryName("bm25_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // two arbitrary chops — scoring is per-document, so the chop must be
      // invisible in the union of outputs
      input.addData(feedDocs.take(15))
      q.processAllAvailable()
      input.addData(feedDocs.drop(15))
      q.processAllAvailable()
      val streamed = spark.table("bm25_stream_test")
        .collect().map(r => (r.getLong(0), r.getLong(r.length - 1))).sorted.toSeq
      val batch = RetrievalQueries.scoreAgainst(
          RetrievalQueries.perDocFeatures(
            feedDocs.toDF("doc_id", "text")), stats)
        .collect().map(r => (r.getLong(0), r.getLong(r.length - 1))).sorted.toSeq
      streamed shouldBe batch
      streamed.size should be > 0
    } finally { q.stop(); stats.unpersist() }
  }

  test("streaming funnel equals the batch funnel (q92) on an out-of-order, chopped feed") {
    import graft.streaming.EventStream.{FunnelEvent, UserFunnel}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val q = EventStream.funnelStream(input.toDS(), horizonMinutes = 30)
      .writeStream.format("memory").queryName("funnel_twin_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val feed = Seq(
        // user 1: full ordered funnel
        FunnelEvent(1L, ts(0), "view"), FunnelEvent(1L, ts(5), "click"),
        FunnelEvent(1L, ts(9), "purchase"),
        // user 2: purchase BEFORE any view — must stall at stage 1;
        // the later click counts (strictly after the view)
        FunnelEvent(2L, ts(1), "purchase"), FunnelEvent(2L, ts(2), "view"),
        FunnelEvent(2L, ts(6), "click"),
        // user 3: click exactly AT the view instant — excluded (strict >)
        FunnelEvent(3L, ts(4), "view"), FunnelEvent(3L, ts(4), "click"),
        // user 4: the retroactivity trap — an EARLIER view arrives LATER
        // in the feed than the click it must gate
        FunnelEvent(4L, ts(8), "click"), FunnelEvent(4L, ts(3), "view"),
        // user 5: no view at all — absent from the funnel
        FunnelEvent(5L, ts(2), "click"), FunnelEvent(5L, ts(7), "purchase"))
      // chop mid-user AND deliver user 4's gating view in a later batch
      // than its click: only the watermark-ordered fold gets this right
      val (b1, b2) = feed.splitAt(9)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // sentinels advance the watermark past everything → all users emit
      input.addData(FunnelEvent(99L, ts(10000), "view")); q.processAllAvailable()
      input.addData(FunnelEvent(98L, ts(30000), "view")); q.processAllAvailable()

      val streamed = spark.table("funnel_twin_test").as[UserFunnel]
        .collect().filter(_.user_id < 90L)
        .map(f => (f.user_id, f.ts_view, f.ts_click, f.ts_purchase, f.stage_reached))
        .sortBy(_._1)
      val batch = WindowQueries.funnelBatch(
          feed.map(e => (e.user_id, e.ts, e.event_type))
            .toDF("user_id", "ts", "event_type"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1),
          Option(r.getTimestamp(2)), Option(r.getTimestamp(3)), r.getInt(4)))
        .sortBy(_._1)
      streamed.toSeq shouldBe batch.toSeq
      // the specific traps, pinned explicitly
      val byUser = streamed.map(f => f._1 -> f).toMap
      byUser(1L)._5 shouldBe 3
      byUser(2L)._5 shouldBe 2 // pre-view purchase ignored, later click counts
      byUser(3L)._5 shouldBe 1 // same-instant click excluded
      byUser(4L)._5 shouldBe 2 // late-arriving earlier view gates the click
      byUser.contains(5L) shouldBe false
    } finally q.stop()
  }

  test("streaming per-lang stats (q103's monoid builder) equal the batch aggregate on a chopped feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    // the SAME builder the batch query and the materialized state use —
    // streaming aggregation state IS the monoid, so Complete mode must
    // converge to the batch answer under any micro-batch chopping
    val q = ScaleQueries.langStats(
        input.toDS().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("q103_twin_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      val feed = Seq[(Long, String, String)](
        (0L, "en", "alpha beta gamma"), (1L, "en", "delta"),
        (2L, "de", "eins zwei"), (3L, "en", null), // null text: excluded
        (4L, "zh", "one"), (5L, "de", "drei vier fünf"),
        (6L, "en", "epsilon zeta"))
      // chop mid-language so en/de state must fold across batches
      val (b1, rest) = feed.splitAt(3)
      val (b2, b3) = rest.splitAt(2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      val streamed = spark.table("q103_twin_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
      val batch = ScaleQueries.langStats(
          feed.toDF("doc_id", "lang", "text"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
      streamed.toSeq shouldBe batch.toSeq
      streamed.map(_._1).toSeq shouldBe Seq("de", "en", "zh")
      // en: doc 3's null text contributes to NOTHING
      val en = streamed.find(_._1 == "en").get
      (en._2, en._3) shouldBe ((3L, 6L))
    } finally q.stop()
  }

  test("streaming bitmap masks (q154's builder) equal the batch masks on a chopped feed; counts follow") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Timestamp)]
    // the SAME builder as batch q154: streaming aggregation state IS the
    // OR-mask word table (bit_or is associative/commutative/idempotent, so
    // replays and chopping cannot corrupt it)
    val q = OlapQueries.bitmapMasks(
        input.toDS().toDF("event_type", "user_id", "ts"))
      .writeStream.format("memory").queryName("q154_twin_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      val feed = Seq[(String, Long, Timestamp)](
        ("click", 1L, t("2024-01-01 10:00:00")),
        ("click", 65L, t("2024-01-01 11:00:00")), // same word as 1? no: word 1
        ("click", 1L, t("2024-01-01 12:00:00")),  // same user same day: idempotent
        ("view", 1L, t("2024-01-01 10:30:00")),
        ("click", 2L, t("2024-01-02 09:00:00")),  // next day, same ISO week
        ("click", 64L, t("2024-01-08 09:00:00"))) // next week
      val (b1, b2) = feed.splitAt(2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getString(1), r.getTimestamp(2).toString, r.getLong(3))
      val streamed = spark.table("q154_twin_test")
        .collect().map(r => key(r) -> r.getLong(4)).toMap
      val batchMasks = OlapQueries.bitmapMasks(
        feed.toDF("event_type", "user_id", "ts"))
      val batch = batchMasks.collect().map(r => key(r) -> r.getLong(4)).toMap
      streamed shouldBe batch
      // read-time rollup over the streamed state equals the batch counts
      val sc = OlapQueries.bitmapCounts(spark.table("q154_twin_test"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getTimestamp(2).toString) -> r.getLong(3)).toMap
      val bc = OlapQueries.bitmapCounts(batchMasks)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getTimestamp(2).toString) -> r.getLong(3)).toMap
      sc shouldBe bc
      // day-level distincts: users 1,65 and 1 dedup within 2024-01-01 clicks
      sc(("click", "day", "2024-01-01 00:00:00.0")) shouldBe 2L
      // week grain merges 01-01 and 01-02 clicks: users 1,65,2
      sc(("click", "week", "2024-01-01 00:00:00.0")) shouldBe 3L
    } finally q.stop()
  }

  test("streaming LC sketch state (q165/q167's builder) equals the batch masks on a chopped feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    // the SAME builder as q165/q167: the Complete-mode aggregation state IS
    // the LC bitmap word table, so a stream and a batch over the same
    // events ship bit-identical sketch states — and everything derived
    // from states (cardinality estimates, q167's union/intersection
    // algebra) is automatically stream-correct too
    val q = OlapQueries.lcMasks(input.toDS().toDF("event_type", "user_id"))
      .writeStream.format("memory").queryName("q165_twin_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      val feed = Seq[(String, Long)](
        ("click", 11L), ("click", 207L), ("click", 11L), // re-arrival: idempotent
        ("view", 11L),                                   // same user, other type
        ("view", 3042L), ("click", 99999L))
      val (b1, b2) = feed.splitAt(3)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val key = (r: org.apache.spark.sql.Row) => (r.getString(0), r.getLong(1))
      val streamed = spark.table("q165_twin_test")
        .collect().map(r => key(r) -> r.getLong(2)).toMap
      val batch = OlapQueries.lcMasks(feed.toDF("event_type", "user_id"))
        .collect().map(r => key(r) -> r.getLong(2)).toMap
      streamed shouldBe batch
      // distinct hash positions: 3 distinct click users, 2 distinct view
      // users — each sets exactly one bit (no collisions in this tiny set)
      def bits(t: String) = streamed.collect {
        case ((`t`, _), m) => java.lang.Long.bitCount(m) }.sum
      bits("click") shouldBe 3
      bits("view") shouldBe 2
    } finally q.stop()
  }

  test("streaming HLL registers (q166/q176's builder) equal the batch registers on a chopped feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    // the SAME builder as q166/q176: max(rho) is an associative /
    // commutative / idempotent monoid, so the Complete-mode aggregation
    // state IS the register table — a stream and a batch over the same
    // events ship bit-identical registers, and everything derived from
    // registers (harmonic estimates, q176's element-wise-MAX set algebra)
    // is automatically stream-correct too
    val q = OlapQueries.hllRegs(input.toDS().toDF("event_type", "user_id"))
      .writeStream.format("memory").queryName("q166_twin_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      val feed = Seq[(String, Long)](
        ("click", 11L), ("click", 207L), ("click", 11L), // re-arrival: idempotent
        ("view", 11L),                                   // same user, other type
        ("view", 3042L), ("click", 99999L), ("view", 512L))
      val (b1, b2) = feed.splitAt(3)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val key = (r: org.apache.spark.sql.Row) => (r.getString(0), r.getLong(1))
      val streamed = spark.table("q166_twin_test")
        .collect().map(r => key(r) -> r.getInt(2)).toMap
      val batch = OlapQueries.hllRegs(feed.toDF("event_type", "user_id"))
        .collect().map(r => key(r) -> r.getInt(2)).toMap
      streamed shouldBe batch
      // each distinct user occupies exactly one register here (no bucket
      // collisions in this tiny set): 3 distinct click / 3 distinct view
      streamed.keys.count(_._1 == "click") shouldBe 3
      streamed.keys.count(_._1 == "view") shouldBe 3
    } finally q.stop()
  }

  test("streaming AMS sign-sums (q201's builder) equal the batch sketch on a chopped feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[Long]
    // Z is a plain unkeyed SUM of per-row signs — the simplest possible
    // streaming monoid: Complete-mode state is the sketch itself, and
    // re-arrivals are NOT idempotent by design (F2 counts multiplicity,
    // so the duplicate 207 below must push its signs twice)
    def hashed(df: org.apache.spark.sql.DataFrame) =
      df.select(graft.operators.TextOps.hash60(
        concat(lit("ams:"), col("k").cast("string"))).as("h"))
    val q = OlapQueries.amsZ(hashed(input.toDS().toDF("k")))
      .writeStream.format("memory").queryName("q201_twin_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      val feed = Seq(11L, 207L, 11L, 3042L, 99999L, 512L, 207L)
      val (b1, b2) = feed.splitAt(3)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("q201_twin_test").collect()
        .head.toSeq.map(_.asInstanceOf[Long])
      val batch = OlapQueries.amsZ(hashed(feed.toDF("k"))).collect()
        .head.toSeq.map(_.asInstanceOf[Long])
      streamed shouldBe batch
      // 7 signed units per estimator: every Z must be odd — a dropped or
      // double-applied batch would flip the parity
      streamed.foreach(z => math.abs(z) % 2 shouldBe 1L)
    } finally q.stop()
  }

  test("streaming KMV states (q197's builder) equal the batch states on a chopped feed, truncation included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    // the SAME builder as q197: the bounded k-min-distinct buffer is a
    // merge monoid (k smallest of a union), so the Complete-mode state is
    // the sketch — and every estimate/intersection derived from states is
    // automatically stream-correct
    val q = OlapQueries.kmvStates(input.toDS().toDF("event_type", "user_id"))
      .writeStream.format("memory").queryName("q197_twin_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      // 70 distinct click users — past k=64, so the stream must TRUNCATE
      // identically to batch; plus a small view group and re-arrivals
      val feed = (1L to 70L).map(u => ("click", u)) ++
        Seq(("view", 5L), ("click", 33L), ("view", 6L))
      val (b1, b2) = feed.splitAt(40)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val read = (df: org.apache.spark.sql.DataFrame) => df.collect()
        .map(r => r.getString(0) ->
          r.getAs[scala.collection.Seq[Long]](1).toList).toMap
      val streamed = read(spark.table("q197_twin_test"))
      val batch = read(OlapQueries.kmvStates(feed.toDF("event_type", "user_id")))
      streamed shouldBe batch
      streamed("click").size shouldBe 64 // truncated at k
      streamed("view").size shouldBe 2
      // the state really is the k smallest of the 70 distinct hashes
      val all = (1L to 70L).map(u => graft.operators.TextOps.hash60Jvm(s"kmv:$u"))
      streamed("click") shouldBe all.distinct.sorted.take(64).toList
    } finally q.stop()
  }

  test("streaming log-histogram state (q189's builder) equals the batch state on a chopped feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    // the SAME builder as q189: per-(group, bucket) counts are a sum
    // monoid, so the Complete-mode aggregation state IS the sketch state
    // — quantile bounds derived from it are automatically stream-correct
    val q = OlapQueries.logHistState(
        input.toDS().toDF("event_type", "value"))
      .writeStream.format("memory").queryName("q189_twin_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      val feed = Seq[(String, Double)](
        ("click", 0.50), ("click", 1.20), ("click", 300.0), // buckets 6, 7, 15
        ("view", 0.01),                                     // bucket 1
        ("view", 655.36), ("click", 0.52))                  // buckets 17, 6
      val (b1, b2) = feed.splitAt(3)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val key = (r: org.apache.spark.sql.Row) => (r.getString(0), r.getLong(1))
      val streamed = spark.table("q189_twin_test")
        .collect().map(r => key(r) -> r.getLong(2)).toMap
      val batch = OlapQueries.logHistState(feed.toDF("event_type", "value"))
        .collect().map(r => key(r) -> r.getLong(2)).toMap
      streamed shouldBe batch
      // 50 cents and 52 cents share bucket 6 (bitlength 6): count 2
      streamed(("click", 6L)) shouldBe 2L
      streamed(("view", 1L)) shouldBe 1L
    } finally q.stop()
  }

  test("streaming transition pairs equal the batch pairing (q147) on an out-of-order, chopped feed") {
    import graft.streaming.EventStream.{TransEvent, Transition}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TransEvent]
    val q = EventStream.transitionStream(input.toDS(), horizonMinutes = 30)
      .writeStream.format("memory").queryName("trans_twin_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val feed = Seq(
        // user 1: plain ordered chain view → click → purchase
        TransEvent(1L, 10L, ts(0), "view"), TransEvent(1L, 11L, ts(5), "click"),
        TransEvent(1L, 12L, ts(9), "purchase"),
        // user 2: the retroactivity trap — the click at t3 arrives LAST
        // but belongs BETWEEN view(t1) and purchase(t8): the naive
        // arrival-order pairing emits (view,purchase); the correct answer
        // is (view,click),(click,purchase)
        TransEvent(2L, 20L, ts(1), "view"), TransEvent(2L, 21L, ts(8), "purchase"),
        TransEvent(2L, 22L, ts(3), "click"),
        // user 3: same-instant events — event_id breaks the tie
        TransEvent(3L, 31L, ts(4), "view"), TransEvent(3L, 30L, ts(4), "click"),
        // user 4: a single event pairs with nothing
        TransEvent(4L, 40L, ts(2), "error"))
      // chop mid-user AND deliver user 2's gating click in a later batch
      val (b1, b2) = feed.splitAt(5)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // sentinels advance the watermark past everything → tails emit
      input.addData(TransEvent(99L, 990L, ts(10000), "view")); q.processAllAvailable()
      input.addData(TransEvent(98L, 980L, ts(30000), "view")); q.processAllAvailable()

      val streamed = spark.table("trans_twin_test").as[Transition]
        .collect().filter(_.user_id < 90L)
        .map(t => (t.user_id, t.cur, t.nxt)).sorted.toSeq
      val batch = WindowQueries.transitionPairs(
          feed.map(e => (e.user_id, e.event_id, e.ts, e.event_type))
            .toDF("user_id", "event_id", "ts", "event_type"))
        .select(col("user_id"), col("cur"), col("nxt"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sorted.toSeq
      streamed shouldBe batch
      // the traps, pinned explicitly
      streamed.filter(_._1 == 2L) shouldBe Seq(
        (2L, "click", "purchase"), (2L, "view", "click"))
      streamed.filter(_._1 == 3L) shouldBe Seq((3L, "click", "view")) // id 30 first
      streamed.exists(_._1 == 4L) shouldBe false
    } finally q.stop()
  }

  test("transformWithState running totals: chop-invariant and equal to the batch aggregate (RocksDB state)") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.TypedEvent
    // scoped through SessionConf (serialized per session), not a
    // hand-rolled set/restore — the same scoping CatalogSpec's
    // storage-partitioned-join and CBO cases use
    SessionConf.withValue(spark, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val feed = Seq(TypedEvent("click", 120L), TypedEvent("view", 10L),
        TypedEvent("click", 5L), TypedEvent("purchase", 999L),
        TypedEvent("view", 1L), TypedEvent("click", 7L))

      def run(chunks: Seq[Seq[TypedEvent]], qn: String): Map[String, (Long, Long)] = {
        val input = MemoryStream[TypedEvent]
        val q = EventStream.runningTotalsTws(input.toDS())
          .writeStream.format("memory").queryName(qn)
          .outputMode(OutputMode.Update()).start()
        try chunks.foreach { ch => input.addData(ch: _*); q.processAllAvailable() }
        finally q.stop()
        // Update mode appends one emission per touched key per batch; the
        // running count is monotone, so the final total is the max-n row.
        spark.table(qn).collect()
          .map(r => (r.getAs[String]("event_type"),
            (r.getAs[Long]("n"), r.getAs[Long]("cents"))))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).maxBy(_._1) }
      }

      val oneShot = run(Seq(feed), "tws_one")
      val chopped = run(Seq(feed.take(2), feed.slice(2, 3), feed.drop(3)), "tws_chop")
      chopped shouldBe oneShot // micro-batch boundaries can't change totals

      val batch = feed.toDS().groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("cents")))).toMap
      oneShot shouldBe batch // the streaming fold equals the batch aggregate
    }
  }

  test("idempotentBatchWrite: a replayed micro-batch overwrites itself — exactly-once-effective, other batches untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eos").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    def readBack() = spark.read.parquet(dir)
      .select(col("id"), col("v"), col("batch").cast("long").as("batch"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    EventStream.idempotentBatchWrite(dir)(b0, 0L)
    EventStream.idempotentBatchWrite(dir)(b1, 1L)
    val after = readBack()
    after shouldBe Set((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L))

    // the at-least-once retry: batch 0 is delivered AGAIN (same content —
    // foreachBatch replays from the checkpointed offsets) — no duplicates,
    // batch 1 untouched
    EventStream.idempotentBatchWrite(dir)(b0, 0L)
    readBack() shouldBe after

    // a retry that recomputed DIFFERENT content for its batch (e.g. a
    // non-deterministic upstream fixed between attempts) fully replaces
    // the old attempt — no stale rows survive alongside the new ones
    EventStream.idempotentBatchWrite(dir)(Seq((9L, "z")).toDF("id", "v"), 0L)
    readBack() shouldBe Set((9L, "z", 0L), (3L, "c", 1L))

    // end-to-end through a real stream: the same sink fn as foreachBatch
    implicit val sqlCtx = spark.sqlContext
    val dir2 = java.nio.file.Files.createTempDirectory("graft-eos2").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "v").writeStream
      .foreachBatch(EventStream.idempotentBatchWrite(dir2) _).start()
    try {
      input.addData((1L, "a")); q.processAllAvailable()
      input.addData((2L, "b")); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(dir2).select(col("id")).collect()
      .map(_.getLong(0)).sorted.toSeq
    rows shouldBe Seq(1L, 2L)
  }
}
