package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Epoch, GraftSession, Tables}

/** Deterministic JSON fixtures for the ingestion + pipeline queries.
  *
  * The driver testdata ships parquet only; the reference's input layer is
  * newline-delimited JSON on S3 (`sql_queries.py:121-128`). To exercise the
  * real JSON scan path we derive — once per scale factor, idempotently —
  * Sparkify-shaped JSON from the parquet tables, then read it back through
  * [[JsonSource]]. Content is a pure function of the testdata (no
  * timestamps/randomness), so verify and bench see identical files, and the
  * DuckDB oracle reads the very same files with `read_json`.
  *
  * `V` is bumped whenever a fixture definition changes, so stale files from
  * an earlier build can never be read by a newer one.
  */
object Fixtures {

  private val V = "v3"
  val root = s"${GraftSession.WorkRoot}/fixtures/$V"

  private def sfName(sfDir: String): String =
    Paths.get(sfDir).getFileName.toString

  def eventsJsonDir(sfDir: String): String = s"$root/${sfName(sfDir)}/events_json"
  def songsJsonDir(sfDir: String): String  = s"$root/${sfName(sfDir)}/songs_json"
  def ordersCsvDir(sfDir: String): String  = s"$root/${sfName(sfDir)}/orders_csv"
  def customerFixedDir(sfDir: String): String =
    s"$root/${sfName(sfDir)}/customer_fixed"

  private def done(dir: String): Boolean =
    Files.exists(Paths.get(dir, "_SUCCESS"))

  /** Raw schema of the events fixture — field names deliberately differ from
    * the target staging columns so the jsonpaths mapping does real renames
    * (the reference's log JSON uses camelCase, the warehouse snake_case). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("eventId", LongType),
    StructField("tsMillis", LongType),          // epoch-ms (reference `ts`)
    StructField("registrationMs", DoubleType),  // FLOAT epoch-ms (reference `registration`)
    StructField("userIdStr", StringType),       // JSON string → int (reference `userId`)
    StructField("eventKind", StringType),       // reference `page`
    StructField("valueNum", DoubleType),
    StructField("propsJson", StringType),
    StructField("artistName", StringType),      // J1 join key 1 (nullable)
    StructField("songTitle", StringType),       // J1 join key 2
    StructField("songLenNum", DoubleType),      // J1 join key 3 → decimal(12,4)
    StructField("sessionId", IntegerType),
    StructField("levelStr", StringType),
    StructField("firstName", StringType),
    StructField("lastName", StringType),
    StructField("gender", StringType),
    StructField("locationStr", StringType),
    StructField("userAgentStr", StringType)))

  /** Log-style events JSON mirroring the Sparkify event stream shape:
    * epoch-ms long `tsMillis`, float epoch-ms `registrationMs` (+0.5 ms
    * fraction — exercises the float-ms floor), string `userIdStr` (null for
    * ~1/37 "anonymous" users — F1's filter target), and the three J1 join
    * fields attached from `part` for ~2/3 of events (1/3 carry unmatchable
    * titles, 1/13 a NULL artist — the null-unsafe-equality semantic).
    * Written once per sf. */
  def ensureEventsJson(spark: SparkSession, sfDir: String): String = {
    val dir = eventsJsonDir(sfDir)
    if (!done(dir)) {
      val part = Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_brand"), col("p_name"), col("p_retailprice"))
      val nPart = part.count()
      val ms  = Epoch.nanosToMillis(col("ts"))
      val eid = col("event_id")
      val ev  = Tables.eventsRawNanos(spark, sfDir)
      ev.join(broadcast(part),
          part("p_partkey") === pmod(eid, lit(nPart)) && pmod(eid, lit(3)) < 2,
          "left_outer")
        .select(
          eid.as("eventId"),
          ms.as("tsMillis"),
          (ms.cast(DoubleType) + lit(0.5)).as("registrationMs"),
          when(pmod(col("user_id"), lit(37)) === 0, lit(null))
            .otherwise(col("user_id").cast(StringType)).as("userIdStr"),
          col("event_type").as("eventKind"),
          col("value").as("valueNum"),
          col("props").as("propsJson"),
          when(pmod(eid, lit(13)) === 0, lit(null))
            .when(pmod(eid, lit(3)) === 2, concat(lit("Unknown Artist "), eid))
            .otherwise(col("p_brand")).as("artistName"),
          when(pmod(eid, lit(3)) === 2, concat(lit("Untitled "), eid))
            .otherwise(col("p_name")).as("songTitle"),
          when(pmod(eid, lit(3)) === 2, col("value"))
            .otherwise(col("p_retailprice")).as("songLenNum"),
          pmod(eid, lit(499)).cast(IntegerType).as("sessionId"),
          when(pmod(col("user_id"), lit(2)) === 0, lit("free")).otherwise(lit("paid")).as("levelStr"),
          concat(lit("First"), pmod(col("user_id"), lit(100))).as("firstName"),
          concat(lit("Last"), pmod(col("user_id"), lit(100))).as("lastName"),
          when(pmod(col("user_id"), lit(2)) === 0, lit("M")).otherwise(lit("F")).as("gender"),
          concat(lit("City"), pmod(col("user_id"), lit(50))).as("locationStr"),
          concat(lit("UA/"), pmod(eid, lit(7))).as("userAgentStr"))
        // 16 files, not 1: the S3 COPY analog fans ingest across slices —
        // a single JSON file caps every downstream scan at one task.
        .repartition(16)
        .write.mode("overwrite").json(dir)
    }
    dir
  }

  /** Million-Song-style songs JSON matching [[graft.schemas.Schemas.stagingSongs]]
    * field-for-field (the `json 'auto'` contract), including nullable
    * decimal lat/long and a DECIMAL(12,6) duration. Derived from `part`;
    * `(artist_name, title, duration)` is the J1 join key against the events
    * fixture (cross-scale: duration (12,6) vs event length (12,4)). */
  def ensureSongsJson(spark: SparkSession, sfDir: String): String = {
    val dir = songsJsonDir(sfDir)
    if (!done(dir)) {
      val p = Tables.part(spark, sfDir)
      p.select(
          lit(1).as("num_songs"),
          concat(lit("AR"), regexp_replace(col("p_brand"), "#", ""),
            lpad(col("p_partkey").cast(StringType), 8, "0")).as("artist_id"),
          when(pmod(col("p_partkey"), lit(7)) === 0, lit(null))
            .otherwise((pmod(col("p_retailprice"), lit(180.0)) - lit(90.0))
              .cast(DecimalType(11, 3))).as("artist_latitude"),
          when(pmod(col("p_partkey"), lit(11)) === 0, lit(null))
            .otherwise((pmod(col("p_retailprice") * 2, lit(360.0)) - lit(180.0))
              .cast(DecimalType(11, 3))).as("artist_longitude"),
          col("p_type").as("artist_location"),
          col("p_brand").as("artist_name"),
          concat(lit("SO"), lpad(col("p_partkey").cast(StringType), 8, "0")).as("song_id"),
          col("p_name").as("title"),
          col("p_retailprice").cast(DecimalType(12, 6)).as("duration"),
          (lit(1990) + pmod(col("p_size"), lit(30))).as("year"))
        .repartition(8)
        .write.mode("overwrite").json(dir)
    }
    dir
  }

  /** Declared schema of the orders CSV fixture (the COPY-from-CSV shape:
    * no header, every type explicit). `odate` stays VARCHAR at scan level
    * and is CAST to TIMESTAMP by the query — the one text→time format both
    * engines parse identically. */
  val ordersCsvSchema: StructType = StructType(Seq(
    StructField("order_id", LongType),
    StructField("cust_id", LongType),
    StructField("status", StringType),
    StructField("total", DoubleType),
    StructField("odate", StringType),
    StructField("priority", StringType),
    StructField("comment", StringType)))

  /** Number of deliberately corrupt lines appended to the CSV fixture
    * (wrong arity, non-numeric BIGINT, free garbage) — the quarantine
    * spec's expected reject count. */
  val ordersCsvCorrupt: Seq[String] = Seq(
    """13000001,notanumber,O,1.5,2020-01-01 00:00:00,1-URGENT,bad bigint""",
    """13000002,7""",
    """!!!""")

  /** RFC-4180 CSV derived from `orders`: quoted fields with embedded commas
    * AND embedded (doubled) double-quotes in `comment`, empty-string NULLs,
    * plus [[ordersCsvCorrupt]] garbage lines appended as their own part
    * file so the tolerant scan has real rejects to quarantine. No embedded
    * newlines BY CHOICE: multiLine CSV cannot split across tasks — a
    * newline-free quoting discipline keeps the 100 TB scan splittable.
    * Completion marker is our own (`_graft_csv_done`, written AFTER the
    * corrupt lines land) so a half-built fixture can never be read. */
  def ensureOrdersCsv(spark: SparkSession, sfDir: String): String = {
    val dir = ordersCsvDir(sfDir)
    if (!Files.exists(Paths.get(dir, "_graft_csv_done"))) {
      Tables.orders(spark, sfDir)
        .select(
          col("o_orderkey").as("order_id"),
          // ~1/23 anonymous orders: the empty-string NULL round-trip
          when(pmod(col("o_orderkey"), lit(23)) === 0, lit(null))
            .otherwise(col("o_custkey")).as("cust_id"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("total"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("odate"),
          col("o_orderpriority").as("priority"),
          concat(lit("prio \""), col("o_orderpriority"),
            lit("\", key "), col("o_orderkey"),
            lit(", status "), col("o_orderstatus")).as("comment"))
        .repartition(8)
        .write.mode("overwrite")
        .option("header", "false")
        .option("quote", "\"").option("escape", "\"") // RFC-4180 "" doubling
        .option("nullValue", "")
        .csv(dir)
      Files.write(Paths.get(dir, "zz_corrupt.csv"),
        (ordersCsvCorrupt.mkString("\n") + "\n").getBytes("UTF-8"))
      Files.write(Paths.get(dir, "_graft_csv_done"), Array.emptyByteArray)
    }
    dir
  }

  /** FIXED-WIDTH customer master file (the mainframe/COBOL copybook feed
    * shape): one line per customer, columns by POSITION, no delimiter —
    *   1–10  custkey, zero-padded
    *  11–30  name, space-padded right
    *  31–34  nationkey, zero-padded
    *  35–44  market segment, space-padded right
    *  45–56  account balance in cents: explicit sign + 11 digits
    * (the sign-then-zero-pad form both engines CAST identically; a bare
    * lpad would bury a minus sign mid-field). Content is alphanumeric +
    * '#', space, and signs only — the oracle reads the same files as
    * single-column CSV with an unused delimiter and substrings them. */
  def ensureCustomerFixed(spark: SparkSession, sfDir: String): String = {
    val dir = customerFixedDir(sfDir)
    if (!done(dir)) {
      val cents = (col("c_acctbal").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      Tables.customer(spark, sfDir)
        .select(concat(
          lpad(col("c_custkey").cast(StringType), 10, "0"),
          rpad(col("c_name"), 20, " "),
          lpad(col("c_nationkey").cast(StringType), 4, "0"),
          rpad(col("c_mktsegment"), 10, " "),
          when(cents < 0, lit("-")).otherwise(lit("+")),
          lpad(abs(cents).cast(StringType), 11, "0")).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(dir)
    }
    dir
  }
}
