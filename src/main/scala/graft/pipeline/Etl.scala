package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Epoch, GraftSession}
import graft.schemas.Schemas
import graft.sinks.{ParquetSink, TableSink}
import graft.sources.{Fixtures, Footers, JsonSource}

/** The end-to-end star build (reference entry point E1, `etl.py:55-109`):
  * drop → create → stage → insert ×5 (in `sql_queries.py:197` order:
  * songplay, users, songs, artists, time) → staging cleanup.
  *
  * Stage inputs come through the real JSON scan path ([[JsonSource]] over
  * the [[Fixtures]] files — the COPY analog), and every insert is written
  * through a [[graft.sinks.TableSink]] with its reference sortkey presort.
  *
  * Scale shape: the single join broadcasts the songs side (dims are
  * `diststyle all`, README.md:73-75 — ~15k rows in the reference), so the
  * event stream never shuffles; the dims are full-tuple DISTINCTs (keyed
  * shuffles on low-cardinality outputs); nothing collects to the driver.
  * The whole pipeline is 5 independent lazy plans over 2 staging tables
  * held in Spark's in-memory columnar cache, dropped by `unpersist` when
  * the build ends, failed or not. A build makes 5 parquet writes, one per
  * star table. A cold build schedules 12 Spark jobs: one per staging
  * materialization and two per insert (the DISTINCT's shuffle-map stage or
  * songplay's broadcast, then the write). The validation counts come from
  * the star files' parquet footers ([[Footers]]), so they schedule none.
  */
object Etl {

  val tables: Seq[String] = Seq("songplay", "users", "songs", "artists", "time")

  def starRoot(sfDir: String): String =
    s"${GraftSession.WorkRoot}/star/${Paths.get(sfDir).getFileName}"

  /** The jsonpaths field→column mapping for the events staging shape (the
    * staging_events contract of `sql_queries.py:28-49`) — shared by the
    * batch scan and its streaming twin, so both build the same plan. */
  val eventsMapping: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "artist"       -> col("artistName"),
    "song"         -> col("songTitle"),
    "length"       -> col("songLenNum").cast(DecimalType(12, 4)),
    "page"         -> col("eventKind"),
    "registration" -> Epoch.floatMillisToTimestamp(col("registrationMs")),
    "sessionId"    -> col("sessionId"),
    "level"        -> col("levelStr"),
    "firstName"    -> col("firstName"),
    "lastName"     -> col("lastName"),
    "gender"       -> col("gender"),
    "location"     -> col("locationStr"),
    "userAgent"    -> col("userAgentStr"),
    "ts"           -> Epoch.millisToTimestamp(col("tsMillis")),
    "userId"       -> JsonSource.intOrNull(col("userIdStr")))

  /** Staged events: jsonpaths-mapped scan (S1) with the X6/X7 conversions. */
  def stageEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Fixtures.ensureEventsJson(spark, sfDir)
    JsonSource.jsonpaths(spark, dir, Fixtures.eventsRawSchema, eventsMapping)
  }

  /** Staged songs: auto-mapped scan (S2) — `sql_queries.py:51-64`. */
  def stageSongs(spark: SparkSession, sfDir: String): DataFrame =
    JsonSource.auto(spark, Fixtures.ensureSongsJson(spark, sfDir), Schemas.stagingSongs)

  /** songplay insert (`sql_queries.py:132-152`): LEFT OUTER join on the
    * 3-column composite key — null-unsafe `===`, cross-scale decimal
    * length(12,4) = duration(12,6), broadcast dim, NO page filter (the
    * reference stages every event, SURVEY.md §2.2). */
  def songplay(events: DataFrame, songs: DataFrame): DataFrame =
    events.join(broadcast(songs),
        songs("artist_name") === events("artist") &&
        songs("title") === events("song") &&
        songs("duration") === events("length"),
        "left_outer")
      .select(
        events("ts").as("start_time"),
        events("userId").as("user_id"),
        events("level"),
        songs("song_id"),
        songs("artist_id"),
        events("sessionId").cast(StringType).as("session_id"),  // int → varchar (DDL :73)
        events("location"),
        events("userAgent").as("user_agent"))

  /** users insert (`sql_queries.py:155-159`): full-tuple DISTINCT + F1.
    * Only (user_id, first_name, last_name, gender) — the reference users
    * table has no `level` column. */
  def users(events: DataFrame): DataFrame =
    events.filter(col("userId").isNotNull)
      .select(
        col("userId").as("user_id"),
        col("firstName").as("first_name"),
        col("lastName").as("last_name"),
        col("gender"))
      .distinct()

  /** songs insert (`sql_queries.py:162-167`): full-tuple DISTINCT + F2.
    * Staged `title` lands in the `song_title` DDL column (sql_queries.py:90). */
  def songs(stagedSongs: DataFrame): DataFrame =
    stagedSongs.filter(col("song_id").isNotNull)
      .select(col("song_id"), col("title").as("song_title"), col("artist_id"),
        col("year"), col("duration"))
      .distinct()

  /** artists insert (`sql_queries.py:170-176`): DISTINCT + F3 + the X8
    * widening rescale (11,3) → (11,8). Built in the insert's named order
    * (latitude first) and realigned by name to the DDL order (longitude
    * first) — the second P3 reorder besides `time`. */
  def artists(stagedSongs: DataFrame): DataFrame = {
    val named = stagedSongs.filter(col("artist_id").isNotNull)
      .select(
        col("artist_id"),
        col("artist_name"),
        col("artist_location"),
        col("artist_latitude").cast(DecimalType(11, 8)),
        col("artist_longitude").cast(DecimalType(11, 8)))
      .distinct()
    TableSink.insertByName(named, Schemas.artists)
  }

  /** time insert (`sql_queries.py:179-188`): DISTINCT ts + EXTRACT ×5,
    * built in the reference's scrambled column order and realigned by name
    * (P3) — `insertInto` is positional, the reorder must be explicit. */
  def time(events: DataFrame): DataFrame = {
    val scrambled = events.select(
      dayofmonth(col("ts")).as("day"),
      hour(col("ts")).as("hour"),
      month(col("ts")).as("month"),
      col("ts").as("start_time"),
      weekofyear(col("ts")).as("week"),
      year(col("ts")).as("year"))
      .distinct()
    TableSink.insertByName(scrambled, Schemas.time)
  }

  /** One full pipeline run; idempotent per sfDir AS LONG AS the materialized
    * parquet is still intact — the cache is only trusted when every table's
    * `_SUCCESS` marker is present on disk, so an externally-deleted star dir
    * (or a fresh session over a wiped workdir) triggers a rebuild. Returns
    * the row counts of the materialized tables from their parquet footers
    * (the reference's validation queries, test_etl.ipynb cells 8–21). */
  private val ran = new ConcurrentHashMap[String, Map[String, Long]]()

  /** Await concurrently-submitted Spark write jobs; a failed job's
    * exception propagates to the caller (runOnce then never caches) — but
    * only after EVERY sibling has finished. Rethrowing while other writes
    * are still in flight would let a retried runOnce re-enter the drop
    * phase racing live writers to the same output dirs; draining first
    * guarantees nothing is running when the failure escapes. One exception
    * escapes; the siblings ride along as suppressed so a multi-write failure
    * keeps every diagnostic. A staging failure reaches each dependent insert
    * as the same instance, so duplicates collapse (Throwable equality is
    * identity). */
  private def awaitAll(jobs: Future[_]*): Unit =
    jobs.flatMap(j => Await.ready(j, Duration.Inf).value.get.failed.toOption)
      .distinct match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => ()
    }

  /** Drop the in-process memo for `sfDir` so the next [[run]] measures a
    * real rebuild — used by Bench when the warmup scale equals the timed
    * scale (a warm cache hit must not masquerade as the pipeline's cost). */
  def invalidate(sfDir: String): Unit = ran.remove(sfDir)

  /** E3 SQL surface: register the materialized star tables under the
    * warehouse schema (`songsdwh` — the reference's dwh.cfg schema, the
    * name every notebook query qualifies with, test_etl.ipynb cells 8–21)
    * so the reference's LITERAL validation SQL runs through `spark.sql`
    * unchanged. External parquet tables over the star dirs — metadata
    * only, no copy; call after [[run]] has materialized them. */
  def registerWarehouse(spark: SparkSession, sfDir: String,
      schema: String = "songsdwh"): Unit = {
    spark.sql(s"CREATE SCHEMA IF NOT EXISTS $schema")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $schema.$t")
      spark.sql(s"CREATE TABLE $schema.$t USING PARQUET LOCATION " +
        s"'${Paths.get(starRoot(sfDir), t).toUri}'")
    }
  }

  private def intact(sfDir: String): Boolean =
    tables.forall(t => Files.exists(Paths.get(starRoot(sfDir), t, "_SUCCESS")))

  def run(spark: SparkSession, sfDir: String): Map[String, Long] = synchronized {
    val cached = ran.get(sfDir)
    if (cached != null && intact(sfDir)) cached
    else {
      val counts = runOnce(spark, sfDir)
      ran.put(sfDir, counts)
      counts
    }
  }

  private def runOnce(spark: SparkSession, sfDir: String): Map[String, Long] = {
    val root = starRoot(sfDir)
    val sink = new ParquetSink(root)
    Files.createDirectories(Paths.get(root))      // S5: namespace
    tables.foreach(sink.drop)                     // S4: idempotent drop ×5

    // The pipeline is a dependency DAG, not a statement list: each insert
    // launches the moment its own staging inputs MATERIALIZE, instead of
    // waiting behind a global stage-then-insert barrier. (Redshift
    // serializes the reference's statement list — sql_queries.py:197 —
    // because one leader runs it; results are order-independent, and on a
    // 1000-executor cluster every artificial barrier idles the pool.)
    //
    //   stage_events ──┬─▶ users, time
    //                  ├─▶ songplay
    //   stage_songs ───┴─▶ songs, artists
    //
    // S1/S2 stay the COPY semantic (sql_queries.py:121-128): each staging
    // table is materialized once, in Spark's in-memory columnar cache,
    // BEFORE any insert reads it — one JSON parse total, inserts scan the
    // cached columns pruned. The default MEMORY_AND_DISK level spills at
    // scale instead of failing. One noop write is the materializing job
    // (`count()` plans two under AQE); a failed one unpersists before it
    // escapes. Staging tables are addressable by name for the pipeline's
    // duration, like the reference's staging_events/staging_songs
    // (sql_queries.py:28-64).
    def stage(table: String, staged: => DataFrame): Future[DataFrame] = Future {
      val df = staged.persist()
      try blocking(df.write.format("noop").mode("overwrite").save())
      catch { case e: Throwable => df.unpersist(blocking = true); throw e }
      df.createOrReplaceTempView(table)
      df
    }
    // S6: each insert with its sortkey presort O1. `blocking` lets the pool
    // grow past its core count, so all five writes can be in flight at once.
    def insert(table: String, df: DataFrame): Unit =
      blocking(sink.write(df, table, Schemas.sortKeys.get(table)))
    val evF = stage("staging_events", stageEvents(spark, sfDir))
    val sgF = stage("staging_songs", stageSongs(spark, sfDir))
    // One await joins everything: a failed staging COPY fails its dependent
    // inserts without running them, and every other write drains first.
    try awaitAll(evF, sgF,
      evF.map(ev => insert("users", users(ev))),
      evF.map(ev => insert("time", time(ev))),
      sgF.map(sg => insert("songs", songs(sg))),
      sgF.map(sg => insert("artists", artists(sg))),
      evF.zip(sgF).map { case (ev, sg) => insert("songplay", songplay(ev, sg)) })
    // S8: drop staging (sql_queries.py:198, etl.py:31-34) — the cached
    // blocks and the temp views go, like the reference's post-ETL staging
    // drop, on the failure path too: a failed build pins no cache for the
    // rest of the session. Unpersist before the view drop, which would
    // otherwise uncache without waiting for the blocks to go.
    finally Seq("staging_events" -> evF, "staging_songs" -> sgF).foreach {
      case (t, f) =>
        f.value.flatMap(_.toOption).foreach(_.unpersist(blocking = true))
        spark.catalog.dropTempView(t)
    }
    // The reference's five count(*) validation queries, answered from the
    // parquet footers of the files just materialized, the way Redshift
    // answers count(*) from block metadata: a driver-side read, no Spark
    // job. An empty table's files carry 0 rows, so it reports 0.
    tables.map(t => t -> Footers.rowCount(spark, sink.path(t))).toMap
  }
}
