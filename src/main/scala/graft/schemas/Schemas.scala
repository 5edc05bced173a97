package graft.schemas

import org.apache.spark.sql.types._

/** Declared schemas — the engine's data contracts (reference: the typed DDL
  * block `sql_queries.py:28-117`; S3 of SURVEY.md §2.1).
  *
  * Nothing is inferred at scan time: every JSON read goes through one of
  * these `StructType`s (schema-on-read), exactly as the reference's staging
  * DDL is the contract for `COPY`. At 100 TB, schema inference would be a
  * full extra pass over the data — declared schemas make the scan single-pass
  * and let the reader prune unreferenced fields.
  */
object Schemas {

  // -------------------------------------------------------------------------
  // Sparkify staging layer (sql_queries.py:28-64)
  // -------------------------------------------------------------------------

  /** `staging_events` (sql_queries.py:28-49). Raw-JSON shape: `ts` and
    * `registration` arrive as epoch-millis numbers (README.md:39-42;
    * `registration` is a *float* ms value), `userId` as a string. The typed
    * conversions happen in the jsonpaths projection, not here.
    */
  val stagingEventsRaw: StructType = StructType(Seq(
    StructField("artist", StringType),
    StructField("auth", StringType),
    StructField("firstName", StringType),
    StructField("gender", StringType),
    StructField("itemInSession", IntegerType),
    StructField("lastName", StringType),
    StructField("length", DecimalType(12, 4)),
    StructField("level", StringType),
    StructField("location", StringType),
    StructField("method", StringType),
    StructField("page", StringType),
    StructField("registration", DoubleType),   // float epoch-ms
    StructField("sessionId", IntegerType),
    StructField("song", StringType),
    StructField("status", StringType),         // JSON number → varchar(10)
    StructField("ts", LongType),               // epoch-ms
    StructField("userAgent", StringType),
    StructField("userId", StringType)))        // JSON string → int on project

  /** `staging_events` post-conversion (timestamps + int userId), the shape
    * the star build consumes (sql_queries.py:41,45,47). */
  val stagingEvents: StructType = StructType(Seq(
    StructField("artist", StringType),
    StructField("auth", StringType),
    StructField("firstName", StringType),
    StructField("gender", StringType),
    StructField("itemInSession", IntegerType),
    StructField("lastName", StringType),
    StructField("length", DecimalType(12, 4)),
    StructField("level", StringType),
    StructField("location", StringType),
    StructField("method", StringType),
    StructField("page", StringType),
    StructField("registration", TimestampType),
    StructField("sessionId", IntegerType),
    StructField("song", StringType),
    StructField("status", StringType),
    StructField("ts", TimestampType),
    StructField("userAgent", StringType),
    StructField("userId", IntegerType)))

  /** `staging_songs` (sql_queries.py:51-64) — `json 'auto'` name-matched.
    * Column order mirrors the DDL (longitude before latitude). */
  val stagingSongs: StructType = StructType(Seq(
    StructField("num_songs", IntegerType),
    StructField("artist_id", StringType),
    StructField("artist_name", StringType),
    StructField("artist_longitude", DecimalType(11, 3)),
    StructField("artist_latitude", DecimalType(11, 3)),
    StructField("artist_location", StringType),
    StructField("song_id", StringType),
    StructField("title", StringType),
    StructField("duration", DecimalType(12, 6)),
    StructField("year", IntegerType)))

  // -------------------------------------------------------------------------
  // Star schema (sql_queries.py:66-117) — insert targets. Column ORDER is
  // the table order; inserts must reorder by name (P3, sql_queries.py:181-188).
  // -------------------------------------------------------------------------

  val songplay: StructType = StructType(Seq(
    StructField("start_time", TimestampType),
    StructField("user_id", IntegerType),
    StructField("level", StringType),
    StructField("song_id", StringType),
    StructField("artist_id", StringType),
    StructField("session_id", StringType),   // varchar in the DDL: staged int → varchar on insert
    StructField("location", StringType),
    StructField("user_agent", StringType)))

  /** users (sql_queries.py:79-86): NO level column — the insert
    * (sql_queries.py:155-159) projects only these four. A user whose level
    * changes still yields ONE row here (unlike a 5-column projection). */
  val users: StructType = StructType(Seq(
    StructField("user_id", IntegerType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("gender", StringType)))

  val songs: StructType = StructType(Seq(
    StructField("song_id", StringType),
    StructField("song_title", StringType),   // DDL name (sql_queries.py:90); staged as `title`
    StructField("artist_id", StringType),
    StructField("year", IntegerType),
    StructField("duration", DecimalType(12, 6))))

  /** artists (sql_queries.py:98-106): DDL orders longitude BEFORE latitude,
    * while the insert (sql_queries.py:170-176) names latitude first — a
    * second genuine insert-by-name reorder (P3) besides `time`. */
  val artists: StructType = StructType(Seq(
    StructField("artist_id", StringType),
    StructField("artist_name", StringType),
    StructField("artist_location", StringType),
    StructField("artist_longitude", DecimalType(11, 8)),   // widening rescale X8
    StructField("artist_latitude", DecimalType(11, 8))))

  val time: StructType = StructType(Seq(
    StructField("start_time", TimestampType),
    StructField("hour", IntegerType),
    StructField("day", IntegerType),
    StructField("week", IntegerType),
    StructField("month", IntegerType),
    StructField("year", IntegerType)))

  /** The five star tables by name — the schemas the pipeline writes and
    * reads back with, so a validation read never infers. */
  val star: Map[String, StructType] = Map(
    "songplay" -> songplay,
    "users"    -> users,
    "songs"    -> songs,
    "artists"  -> artists,
    "time"     -> time)

  /** Per-table sortkey (sql_queries.py:68,81,90,100,110; README.md:79-89) —
    * applied as a `sortWithinPartitions` presort before every write (O1). */
  val sortKeys: Map[String, String] = Map(
    "songplay" -> "start_time",
    "users"    -> "user_id",
    "songs"    -> "song_id",
    "artists"  -> "artist_id",
    "time"     -> "start_time")
}
