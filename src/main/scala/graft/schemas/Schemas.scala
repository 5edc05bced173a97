package graft.schemas

import org.apache.spark.sql.types._

/** Declared schemas — the engine's data contracts (reference: the typed DDL
  * block `sql_queries.py:28-117`; S3 of SURVEY.md §2.1).
  *
  * Nothing is inferred at scan time. Every JSON read goes through one of
  * the staging `StructType`s (schema-on-read), exactly as the reference's
  * staging DDL is the contract for `COPY`; the star tables are written and
  * read back with [[star]]; and the testdata tables (TESTDATA.md) are read
  * with [[tables]] by `graft.Tables.load`. At 100 TB, schema inference
  * would be a full extra pass over the data (for parquet, one Spark job
  * per read to open footers) — declared schemas make the scan single-pass,
  * fix the plan before any file is opened, and let the reader prune
  * unreferenced fields. A spec (TablesSchemaSpec) checks every declared
  * testdata schema against what Spark would infer at every scale, so a
  * drifted generator fails loudly instead of being mis-read.
  */
object Schemas {

  // -------------------------------------------------------------------------
  // Sparkify staging layer (sql_queries.py:28-64)
  // -------------------------------------------------------------------------

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

  // -------------------------------------------------------------------------
  // Testdata tables (TESTDATA.md) — the driver generator's parquet layout.
  // Integer widths and timestamp flavours are the files' own: `int32` keys
  // stay IntegerType, and a `timestamp[us]` without a zone (the generator
  // writes isAdjustedToUTC=false) is TIMESTAMP_NTZ.
  // -------------------------------------------------------------------------

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  /** `events` as the testdata ships it. `ts` is the one column whose
    * physical type differs between layouts (NTZ micros here; plain or
    * NANOS-annotated int64 elsewhere) — `graft.Tables.load` replaces its
    * type with the one the file's footer carries. */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The testdata tables by name — one entry per `graft.Tables.all`. */
  val tables: Map[String, StructType] = Map(
    "region"     -> region,
    "nation"     -> nation,
    "customer"   -> customer,
    "supplier"   -> supplier,
    "part"       -> part,
    "orders"     -> orders,
    "lineitem"   -> lineitem,
    "events"     -> events,
    "documents"  -> documents,
    "embeddings" -> embeddings)

  /** Per-table sortkey (sql_queries.py:68,81,90,100,110; README.md:79-89) —
    * applied as a `sortWithinPartitions` presort before every write (O1). */
  val sortKeys: Map[String, String] = Map(
    "songplay" -> "start_time",
    "users"    -> "user_id",
    "songs"    -> "song_id",
    "artists"  -> "artist_id",
    "time"     -> "start_time")
}
