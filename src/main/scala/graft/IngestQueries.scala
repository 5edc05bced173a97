package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schemas.Schemas
import graft.sources.{CsvSource, Fixtures, JsonSource}

/** Ingestion-layer queries (SURVEY.md §2.1 S1/S2/S3): the reference's two
  * COPY modes re-expressed as declared-schema JSON scans over deterministic
  * JSON fixtures (see [[Fixtures]] — the oracle reads the same files with
  * DuckDB `read_json`).
  */
object IngestQueries {
  import Queries.Q

  /** S1: jsonpaths-mapped JSON scan (`COPY … json '<jsonpaths>' timeformat as
    * 'epochmillisecs'`, sql_queries.py:121-124): declared raw schema,
    * field→column rename, epoch-ms→timestamp (long `ts` and FLOAT
    * `registration`), string→int userId (X6/X7). */
  val q11JsonEventsScan: Q = (s, d) => {
    val dir = Fixtures.ensureEventsJson(s, d)
    JsonSource.jsonpaths(s, dir, Fixtures.eventsRawSchema, Seq(
      "event_id"    -> col("eventId"),
      "start_time"  -> Epoch.millisToTimestamp(col("tsMillis")),
      "registration" -> Epoch.floatMillisToTimestamp(col("registrationMs")),
      "user_id"     -> JsonSource.intOrNull(col("userIdStr")),
      "event_type"  -> col("eventKind"),
      "value"       -> col("valueNum"),
      "props"       -> col("propsJson")))
  }

  /** S2: auto (name-matched) JSON scan with declared schema
    * (`COPY … json 'auto'`, sql_queries.py:126-128) — staging_songs shape
    * including nullable DECIMAL(11,3) lat/long and DECIMAL(12,6) duration. */
  val q12JsonSongsScan: Q = (s, d) => {
    val dir = Fixtures.ensureSongsJson(s, d)
    // Decimal columns go out as strings purely for the hash-compare: DuckDB's
    // pandas bridge lowers DECIMAL to float64, Spark's parquet keeps Decimal
    // objects, and the two reprs can never match. The scan itself is typed.
    JsonSource.auto(s, dir, Schemas.stagingSongs)
      .withColumn("artist_latitude", col("artist_latitude").cast(StringType))
      .withColumn("artist_longitude", col("artist_longitude").cast(StringType))
      .withColumn("duration", col("duration").cast(StringType))
  }

  /** q56: schema-evolution read — a lake table accreted from batches whose
    * schema grew over time (an early batch without `n_chars`, a later one
    * with it) is read as ONE table via parquet schema merging: the union
    * schema, missing columns NULL-filled per file. The two batches are
    * write-once materializations split from `documents` on a fixed id
    * boundary; the oracle applies the same boundary to the flat table.
    * At scale, mergeSchema's footer-union pass is a planning-time cost
    * knob — pay it on evolving tables, pin a declared schema elsewhere. */
  private val EVO_SPLIT = 250

  val q56SchemaEvolution: Q = (s, d) => {
    import graft.operators.Scale
    val docs = Tables.documents(s, d)
    // The split constant shapes the written data: changing it must rebuild
    // the batches, not serve the old boundary from disk.
    val fp = Scale.dirFingerprint(s"$d/documents.parquet") + s"|split=$EVO_SPLIT"
    val tag = ScaleQueries.sfTag(d)
    val early = Scale.writeOnce(
      docs.filter(col("doc_id") < EVO_SPLIT).select(col("doc_id"), col("lang")),
      s"graft_evo_a_$tag", fp)
    val late = Scale.writeOnce(
      docs.filter(col("doc_id") >= EVO_SPLIT)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      s"graft_evo_b_$tag", fp)
    s.read.option("mergeSchema", "true").parquet(early.dir, late.dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** q170: CSV ingestion with reject quarantine — the third source format
    * (parquet tables, JSON fixtures q11/q12, now COPY-from-CSV): a
    * declared-schema RFC-4180 scan over the orders-derived fixture whose
    * `comment` field carries embedded commas AND doubled quotes, empty
    * strings read back as NULLs, the text date CAST to TIMESTAMP in the
    * query, and three deliberately garbage lines (wrong arity, non-numeric
    * BIGINT, free text) captured per-line by the tolerant scan — the clean
    * split is the result; CsvSourceSpec pins the reject side (count and
    * raw-text capture). The oracle reads the SAME files with DuckDB
    * `read_csv` (ignore_errors drops exactly the lines Spark quarantines),
    * so quoting, nulls, doubles, and timestamps all round-trip
    * bit-identically through two independent CSV parsers. */
  val q170CsvScan: Q = (s, d) => {
    val dir = Fixtures.ensureOrdersCsv(s, d)
    CsvSource.tolerant(s, dir, Fixtures.ordersCsvSchema)
      .filter(col("_corrupt_record").isNull)
      .select(col("order_id"), col("cust_id"), col("status"), col("total"),
        col("odate").cast(TimestampType).as("odate"),
        col("priority"), col("comment"))
  }

  /** q190: the FEDERATED query — one declarative plan spanning two
    * physical formats: the COPY-style CSV fact scan (q170's tolerant
    * reader over the RFC-4180 orders files, rejects quarantined out)
    * joined to parquet dimensions (customer ⋈ nation), revenue per
    * (nation, priority) in exact cents. This is the lake reality a
    * single-format engine can't serve: yesterday's extract lands as CSV,
    * the dims live as parquet, and the query should neither care nor
    * copy — Catalyst plans both scans natively, the dim side broadcasts,
    * and the CSV fact never pays an exchange before its partial
    * aggregate. Anonymous orders (NULL cust_id, the CSV empty-string
    * round-trip) survive the LEFT join into an explicit 'UNKNOWN' bucket
    * — a federation that silently drops unmatched facts is a bug, not a
    * semantic. (JSON, the third format, runs the same cross-format path
    * through the q11/q14 staging pipeline.) The oracle federates
    * identically through DuckDB's independent CSV parser over the SAME
    * files plus the parquet views. */
  val q190FederatedJoin: Q = (s, d) => {
    val dir = Fixtures.ensureOrdersCsv(s, d)
    val co = CsvSource.tolerant(s, dir, Fixtures.ordersCsvSchema)
      .filter(col("_corrupt_record").isNull)
      .select(col("cust_id"), col("priority"),
        (col("total").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
    val dim = Tables.customer(s, d).join(Tables.nation(s, d),
        col("n_nationkey") === col("c_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    co.join(broadcast(dim), col("cust_id") === col("c_custkey"), "left")
      .groupBy(coalesce(col("n_name"), lit("UNKNOWN")).as("nation"),
        col("priority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_cents"))
  }

  /** q224: FIXED-WIDTH scan — the mainframe/copybook feed (positional
    * columns, no delimiter) that S3 COPY ingests with FIXEDWIDTH and a
    * modern lake still receives from core-banking extracts. The scan is
    * `spark.read.text` + positional `substring` + trim/cast — all
    * codegen'd projection, splittable by line like any text source; the
    * signed-cents field round-trips through the explicit sign+zero-pad
    * form so CAST agrees everywhere. The oracle reads the SAME files as
    * one-column CSV (delimiter chosen to never occur) and substrings
    * identically — two independent positional parsers, one answer.
    * Completes the ingest-format matrix: parquet, JSON (q11/q12),
    * RFC-4180 CSV (q170), fixed-width (q224), federated (q190). */
  val q224FixedWidthScan: Q = (s, d) => {
    val dir = Fixtures.ensureCustomerFixed(s, d)
    s.read.text(dir).select(
      substring(col("value"), 1, 10).cast(LongType).as("custkey"),
      rtrim(substring(col("value"), 11, 20)).as("name"),
      substring(col("value"), 31, 4).cast(LongType).as("nationkey"),
      rtrim(substring(col("value"), 35, 10)).as("segment"),
      substring(col("value"), 45, 12).cast(LongType).as("bal_cents"))
  }

  /** q232: VARIANT semi-structured scan — the OPEN-schema ingest mode the
    * declared-schema matrix (q11 jsonpaths, q12 auto) deliberately lacks:
    * each event line is parsed ONCE into the VARIANT binary encoding and
    * typed fields are extracted by path, including a nested re-parse of the
    * `propsJson` payload-within-the-payload (a JSON string field whose
    * shape the producer owns). This is the reference's `COPY ... json
    * 'auto'` (sql_queries.py:126-128) taken to its logical end — ingest
    * first, type at query time — and the lake pattern for event streams
    * whose payload evolves faster than any DDL: new producer fields land
    * with zero schema migration, consumers bind paths lazily, and a field
    * absent from a line (the writer omits nulls — 7–8% of lines here have
    * no artistName) reads as NULL, not as a parse failure.
    *
    * Scale shape: `parse_json` tokenizes each line exactly once into the
    * indexed binary form; every subsequent `variant_get` is an O(log
    * fields) offset walk, NOT a re-parse — k path extractions cost one
    * parse + k probes where a string-functions approach (get_json_object)
    * pays k full parses. The scan is line-splittable text, the projection
    * is codegen'd, and nothing shuffles. The oracle reads the SAME lines
    * through DuckDB's CSV reader and extracts the same paths with its JSON
    * operators — two independent JSON parsers and two independent
    * number-literal readers agreeing bit-for-bit on every value. */
  val q232VariantScan: Q = (s, d) => {
    val dir = Fixtures.ensureEventsJson(s, d)
    s.read.text(dir).select(parse_json(col("value")).as("v")).select(
      variant_get(col("v"), "$.eventId", "bigint").as("event_id"),
      variant_get(col("v"), "$.eventKind", "string").as("event_type"),
      variant_get(col("v"), "$.valueNum", "double").as("value"),
      variant_get(col("v"), "$.artistName", "string").as("artist"),
      variant_get(col("v"), "$.sessionId", "int").as("session_id"),
      variant_get(parse_json(variant_get(col("v"), "$.propsJson", "string")),
        "$.k", "int").as("k"))
  }

  /** q234: payload-drift monitor — the field-PRESENCE profile of the
    * open-schema feed: per (event_type, field name), how many lines carry
    * the field at all. This is the ops twin of q232's schema-on-read
    * extraction: producers add, rename, and silently drop payload fields
    * (and JSON writers omit nulls — here artistName and userIdStr appear
    * on only ~93% of lines, a real partial-presence signal), and the first
    * sign is a presence count drifting between loads, long before any
    * consumer's path extraction starts returning NULLs. Nightly profile
    * diffs of exactly this table are the standing schema-drift alarm on a
    * feed no DDL governs.
    *
    * Scale shape: one line-splittable text scan, `from_json` to an
    * untyped map (keys only — values never deserialize beyond the one
    * event_type probe), explode of ≤17 key strings per line, then a
    * (event_type, field)-keyed count whose map-side partials collapse the
    * per-line fanout to |types|×|fields| cells before the single tiny
    * exchange. Corpus size appears in no shuffle. The oracle walks the
    * same lines with DuckDB's independent json_keys. */
  val q234PayloadDrift: Q = (s, d) => {
    val dir = Fixtures.ensureEventsJson(s, d)
    s.read.text(dir)
      .select(from_json(col("value"),
        MapType(StringType, StringType)).as("m"))
      .select(col("m")("eventKind").as("event_type"),
        explode(map_keys(col("m"))).as("field"))
      .groupBy(col("event_type"), col("field"))
      .agg(count(lit(1)).as("n"))
  }

  /** q237: ORC scan — the ingest-format matrix's second NATIVE columnar
    * format (parquet tables, JSON q11/q12, RFC-4180 CSV q170, fixed-width
    * q224, VARIANT q232, federated q190; Spark bundles the ORC reader —
    * orc-core ships in its jars — so a lake that standardized on ORC, the
    * Hive-lineage half of the columnar world, reads first-class with zero
    * added dependencies). The orders table materializes once as ORC
    * ([[graft.operators.Scale.writeOnce]] with format=orc, fingerprint-
    * chained to the source parquet) and is read back with the written
    * frame's schema ([[graft.operators.Scale.Layout]]) — no inference
    * pass, the q11/q170 discipline. Column pruning
    * and predicate pushdown work through the same DSv1 scan machinery as
    * parquet (ORC carries its own stripe/row-group stats), so every
    * pushdown claim PlanSpec pins for parquet holds here structurally.
    * The oracle replays the flat parquet table — q55's rule: a physical
    * format/layout change must be INVISIBLE to results, and the
    * round-trip proves longs, doubles, strings, and microsecond
    * timestamps survive two independent columnar codecs bit-for-bit. */
  val q237OrcScan: Q = (s, d) => {
    import graft.operators.Scale
    // the layout's schema is the written frame's: `o_orderdate` stays
    // TIMESTAMP_NTZ (the source's zoneless timestamp[us]), which ORC
    // preserves; reading it as TIMESTAMP (LTZ) is an unsupported ORC cast
    Scale.writeOnce(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")),
      s"graft_orders_orc_${ScaleQueries.sfTag(d)}",
      Scale.dirFingerprint(s"$d/orders.parquet"), format = "orc")
      .read(s)
  }

  /** q258: the CUSTOM DataSource V2 — `graft-series`
    * ([[graft.sources.SeriesSource]]), the engine's demonstration that a
    * connector it owns participates in planning like a first-class
    * source. The query reads a 4M-row declared series, keeps the middle
    * quarter with range predicates the source ABSORBS at planning time
    * (slices outside the residual range are never planned — fewer
    * partitions, fewer rows emitted, both spec-pinned in
    * SeriesSourceSpec), derives a bucket via the engine's portable
    * hash60(md5) arithmetic, and aggregates. The `fill` payload column
    * is never referenced, so column pruning means no reader materializes
    * it (pinned). Oracle: DuckDB `range(lo, hi)` + the identical md5
    * incantation — a cross-engine gate over a source whose planning the
    * engine itself implements. Scale shape: a real extraction connector
    * (JDBC splits, kafka offsets, warehouse unload ranges) works exactly
    * like this — pushdown decides WHAT is read before any task exists,
    * statistics report the residual volume so join planning sees the
    * pruned size. */
  val q258SeriesSource: Q = (s, _) => {
    val series = s.read.format("graft-series")
      .option("end", 4000000L).option("slices", 32).load()
    series
      .filter(col("id") >= 1500000L && col("id") < 2500000L)
      .select(col("id"),
        (graft.operators.TextOps.hash60(
          concat(lit("sv:"), col("id").cast(StringType))) % 100)
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"),
        sum(col("id") % 997).as("sum_mod"))
  }

  /** q259: AGGREGATE PUSHDOWN into the custom source — the ungrouped
    * count/min/max/sum over `id` never scans a row: each planned slice
    * answers with one arithmetic partial row (SupportsPushDownAggregates,
    * partial mode — Spark's final aggregate merges the ≤32 slice rows),
    * so a 30-MILLION-id range costs ~20 rows of I/O. The negative space
    * is pinned in SeriesSourceSpec: grouping or a derived-column
    * aggregate declines and rows scan through the normal pruned path
    * (q258's shape). This is the `SELECT count(*), max(ts) FROM
    * huge_table WHERE range` a warehouse connector must answer from
    * metadata at 100 TB — the engine's source does it from arithmetic,
    * and the DuckDB oracle recomputes the same answer from an actual
    * 30M-row range() scan. */
  val q259SeriesAggPushdown: Q = (s, _) =>
    s.read.format("graft-series")
      .option("end", 50000000L).option("slices", 32).load()
      .filter(col("id") >= 10000000L && col("id") < 40000000L)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"), sum(col("id")).as("sum_id"))

  /** q260: RUNTIME FILTERING into the custom source — the DSv2 dynamic-
    * partition-pruning analog, completing the connector's planning
    * story (static pushdown q258, aggregate pushdown q259, runtime
    * pruning here). The series declares `id` filterable
    * (`SupportsRuntimeFiltering`); joining it with a SELECTIVE dim (the
    * region-2 nations, keys hash60-derived so DuckDB replays them)
    * makes Catalyst inject `dynamicpruningexpression(id IN <subquery>)`
    * on the scan, and at execution the source receives the build side's
    * key set BEFORE partitions are planned: slices containing no key are
    * never created, and surviving slices' readers walk the key list
    * directly — measured: FIVE rows emitted from a 4,000,000-id series
    * (SeriesSourceSpec pins the counter). At 100 TB this is the fact-
    * side scan skipping every file the dimension filter rules out,
    * owned by the connector itself. */
  val q260SeriesRuntimeFilter: Q = (s, d) => {
    val dim = Tables.nation(s, d).filter(col("n_regionkey") === 2)
      .select((graft.operators.TextOps.hash60(
        concat(lit("rf:"), col("n_nationkey").cast(StringType))) % 4000000L)
        .as("wid"))
      .distinct()
    s.read.format("graft-series")
      .option("end", 4000000L).option("slices", 32).load()
      .select(col("id"))
      .join(dim, col("id") === col("wid"))
      .select(col("id"), (col("id") % 1000L).as("tail"))
  }

  /** One leg of q261's storage-partitioned join: the series with a
    * tag-salted hash60 value column, join keys (id, slice) exposed under
    * leg-unique names. */
  private def seriesLeg(s: org.apache.spark.sql.SparkSession, tag: String,
      end: Long): org.apache.spark.sql.DataFrame =
    s.read.format("graft-series")
      .option("end", end).option("slices", 32).load()
      .select(col("id").as(s"${tag}id"), col("slice").as(s"${tag}slice"),
        (graft.operators.TextOps.hash60(
          concat(lit(s"$tag:"), col("id").cast(StringType))) % 1000L)
          .as(s"v$tag"))

  /** q261: STORAGE-PARTITIONED JOIN — the connector-owned analog of
    * bucketed tables (Spark's DSv2 SPJ, the Iceberg bucket-join path).
    * Each series slice reports its own index as a partition key
    * (`KeyGroupedPartitioning(identity(slice))`, every input partition a
    * `HasPartitionKey`), so two series with the same declared layout are
    * co-partitioned BY CONSTRUCTION and the (id, slice) equi-join runs
    * partition-for-partition with ZERO exchange on either side — one
    * million ids per leg, no shuffle until the deliberately-different
    * grouping key afterwards (PlanSpec pins the exchange-free join and
    * the shuffled negative control with bucketing disabled). The `slice`
    * conjunct is semantically implied by `id` equality under the shared
    * layout; carrying it in the join condition is what lets the
    * KeyGrouped specs match (`requireAllClusterKeysForCoPartition` is
    * scoped off — partition keys are a SUBSET of the join keys). At
    * 100 TB this is two co-bucketed fact tables joining with no network
    * at all. Oracle: the join is 1:1 on id, so DuckDB replays it as ONE
    * range() scan computing both legs' hashes — a formulation-independent
    * check that the zero-shuffle path changes nothing. */
  val q261StoragePartitionedJoin: Q = (s, _) =>
    graft.SessionConf.withValue(s,
        "spark.sql.sources.v2.bucketing.enabled", "true") {
      graft.SessionConf.withValue(s,
          "spark.sql.requireAllClusterKeysForCoPartition", "false") {
        seriesLeg(s, "a", 1000000L)
          .join(seriesLeg(s, "b", 1000000L),
            col("aid") === col("bid") && col("aslice") === col("bslice"))
          .groupBy((col("va") % 10L).as("g"))
          .agg(count(lit(1)).as("n"),
            sum(col("va") * col("vb")).as("dot"))
          .localCheckpoint(true) // materialize inside the conf scope
      }
    }

  /** q262: write-then-read through the DataFrameWriterV2 surface of
    * the transactional table catalog (`graft_cat`,
    * [[graft.sources.GraftTableCatalog]]) — `writeTo(t).create()`, the
    * one query on that path; q267 and the others write through SQL.
    * Events' exact integer cents flow through the catalog's task-file +
    * driver-manifest commit (per-task files named by attempt, published
    * all-at-once as a new table version; CatalogSpec pins that a job
    * with a poisoned task publishes NOTHING), then read back by manifest
    * and aggregated. The oracle computes the same aggregate straight
    * from the source table: the hash gate proves the commit protocol is
    * invisible to results — q55's rule applied to a sink the engine
    * owns. `catTable` drops the table first, so the query is idempotent
    * run-to-run. */
  val q262LedgerRoundTrip: Q = (s, d) => {
    val t = catTable(s, d, "ledger262")
    Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id").as("k"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
      .writeTo(t).create()
    s.table(t)
      .groupBy((col("k") % 10L).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("cents"),
        min(col("v")).as("min_cents"), max(col("v")).as("max_cents"))
  }

  /** q263: CATALOG-RESOLVED V2 function — `graft_fns.fns.hash60` reaches
    * SQL through a [[graft.sources.GraftFunctionCatalog]] plugin
    * (`spark.sql.catalog.graft_fns`), not through the session's function
    * registry: the mechanism a platform uses to ship engine functions to
    * every tenant without per-session registration (Iceberg's transform
    * functions ride this exact surface). Catalyst binds the function and
    * compiles the MAGIC `invoke(UTF8String): Long` path; the result is
    * the engine's canonical cross-engine hash, so the DuckDB oracle
    * replays it with the standard md5 incantation — the gate proves the
    * catalog route computes the identical function the expression
    * registry and the oracle do. */
  /** q264: LIMIT PUSHDOWN into the custom source — Spark's GlobalLimit is
    * DELETED (complete pushdown) and the source emits exactly the window's
    * rows: 250k emitted from a 25M-row residual (SeriesSourceSpec pins the
    * counter and the absent Limit operator). The series' limit semantics
    * are deterministic by construction (the residual range's first N ids),
    * which is what makes a LIMIT hash-gateable at all — and what a real
    * paging connector (JDBC `LIMIT`, a warehouse unload head) returns.
    * At 100 TB this is the difference between a preview query costing one
    * partition's prefix and costing a full scan. */
  val q264LimitPushdown: Q = (s, _) =>
    s.read.format("graft-series")
      .option("end", 30000000L).option("slices", 32).load()
      .filter(col("id") >= 5000000L).select(col("id"))
      .limit(250000)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"), sum(col("id")).as("sum_id"))

  /** q265: TOP-N PUSHDOWN — `ORDER BY id DESC LIMIT k` absorbs into the
    * scan: Spark's Sort AND Limit are deleted, the source plans ONE
    * partition emitting the k ids in the requested order (SeriesSourceSpec
    * pins the plan and the 5-row emission). The classic 100 TB trap this
    * kills: a global sort of the full relation (sampling pass + range
    * exchange) paid for a 7-row answer. The derived tag rides the engine's
    * portable hash60 so DuckDB replays rows, order, and values. */
  val q265TopnPushdown: Q = (s, _) =>
    s.read.format("graft-series")
      .option("end", 8000000L).option("slices", 32).load()
      .select(col("id")).orderBy(col("id").desc).limit(7)
      .select(col("id"),
        (graft.operators.TextOps.hash60(
          concat(lit("tn:"), col("id").cast(StringType))) % 1000L)
          .as("tag"))

  /** q266: OFFSET PUSHDOWN — the SQL page `ORDER BY id LIMIT 500 OFFSET
    * 1000000` collapses to a bare relation scan: Spark pushes the
    * combined window (limit = offset + page, then the offset skip — the
    * V2 rule's arithmetic, pinned empirically in SeriesSourceSpec for
    * BOTH composition orders, no double skip) and the source emits the
    * 500 windowed ids only. Deep pagination at 100 TB is otherwise a
    * full sort + a million discarded rows PER PAGE. */
  val q266OffsetPaginate: Q = (s, _) =>
    s.read.format("graft-series")
      .option("end", 2000000L).option("slices", 32).load()
      .select(col("id")).orderBy(col("id"))
      .offset(1000000).limit(500)
      .select(col("id"), (col("id") % 97L).as("m"))

  /** Shared derivation for the graft_cat lifecycle queries: events'
    * exact integer cents keyed by event_id, the q262 discipline. */
  private def catEventsSql(s: org.apache.spark.sql.SparkSession, d: String): String =
    s"""SELECT event_id AS k,
       |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |FROM ${graft.Tables.view(s, d, "events")} WHERE value IS NOT NULL""".stripMargin

  private[graft] def catTable(s: org.apache.spark.sql.SparkSession, d: String,
      stem: String): String = {
    val t = s"graft_cat.db.${stem}_${ScaleQueries.sfTag(d)}"
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    s.sql(s"DROP TABLE IF EXISTS $t")
    t
  }

  /** `<graft_cat root>/db/<stem>`: a catalog table's directory, resolved
    * from the session's catalog root, so a manifest read sees what the
    * catalog wrote wherever the process was launched from. */
  private[graft] def catDir(s: org.apache.spark.sql.SparkSession,
      stem: String): java.io.File =
    new java.io.File(s.conf.get("spark.sql.catalog.graft_cat.root"), s"db/$stem")

  /** q267: the CATALOG SQL LIFECYCLE — CTAS + INSERT INTO over
    * `graft_cat`, the engine's [[graft.sources.GraftTableCatalog]]
    * TableCatalog plugin (versioned-manifest tables, the Iceberg/Delta
    * snapshot discipline; CatalogSpec pins commit atomicity and the
    * race-losing exclusive manifest create). Plain SQL resolves the
    * table through the catalog — no format strings, no paths — exactly
    * how a 100 TB platform exposes connector-owned tables to every
    * tenant. The hash gate proves two commits (CTAS's even slice, the
    * appended odd slice) reassemble the source table bit-exactly:
    * DuckDB aggregates events directly. */
  val q267CatalogLifecycle: Q = (s, d) => {
    val t = catTable(s, d, "ev267")
    s.sql(s"CREATE TABLE $t AS ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 1")
    s.sql(s"""SELECT k % 7 AS g, count(*) AS n,
             |  sum(cents) AS cents, min(k) AS min_k, max(k) AS max_k
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q268: SQL `DELETE FROM` through the catalog. When file stats prove
    * every file all-match or none-match, the connector commits it
    * metadata-only: all-match files DROP from the manifest, the rest
    * stay byte-identical. Otherwise (here: `cents` straddles 10000 inside
    * the CTAS files) Spark runs its row-level plan, which copy-on-writes
    * only the files holding matching rows (CatalogSpec pins both).
    * Oracle: DuckDB aggregates the source rows the predicate keeps. */
  val q268CatalogDelete: Q = (s, d) => {
    val t = catTable(s, d, "ev268")
    s.sql(s"CREATE TABLE $t AS ${catEventsSql(s, d)}")
    s.sql(s"DELETE FROM $t WHERE cents >= 10000")
    s.sql(s"""SELECT k % 5 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(cents) AS min_c, max(cents) AS max_c
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q269: TIME TRAVEL — `VERSION AS OF` over the immutable manifest
    * chain: commits never delete data files, so every version stays
    * exactly readable behind later appends and deletes (CatalogSpec
    * pins read-only snapshots and out-of-range rejection). The query
    * reads versions 2 (even slice), 3 (+odd slice), and 4 (post-delete)
    * of one table in a single SELECT; DuckDB replays each version's
    * defining mutation from the source. The 100 TB story: audits and
    * reproducible training runs pin a snapshot, not a copy. */
  val q269CatalogTimeTravel: Q = (s, d) => {
    val t = catTable(s, d, "ev269")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 1")
    s.sql(s"DELETE FROM $t WHERE cents >= 10000")
    s.sql((2 to 4).map(v =>
      s"""SELECT CAST($v AS BIGINT) AS version, count(*) AS n,
         |  sum(cents) AS cents
         |FROM $t VERSION AS OF $v""".stripMargin)
      .mkString("\nUNION ALL\n"))
  }

  /** q270: the `.snapshots` METADATA TABLE — one row per committed
    * version (operation + row count) served from the manifest chain
    * alone: CatalogSpec pins that the scan opens ZERO data files. The
    * Iceberg metadata-table surface: at 100 TB, table history questions
    * are answered from kilobytes. The file count column is deliberately
    * NOT selected — it reflects writer parallelism, which is the
    * engine's business, not the data's. Oracle: DuckDB computes each
    * version's expected row count from the source mutations. */
  val q270CatalogSnapshots: Q = (s, d) => {
    val t = catTable(s, d, "ev270")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 1")
    s.sql(s"DELETE FROM $t WHERE cents >= 10000")
    s.sql(s"""SELECT version, operation, `rows` AS n_rows
             |FROM $t.snapshots""".stripMargin)
  }

  /** q271: MAINTENANCE PROCEDURE — `CALL graft_cat.sys.compact(...)`
    * through Spark 4's ProcedureCatalog surface (the Iceberg
    * `rewrite_data_files` shape): two commits' files bin-pack into one
    * and the table commits a `compact` version. The hash gate proves
    * compaction is INVISIBLE to results — q55's layout rule at the
    * catalog level — while CatalogSpec pins the mechanics (6 files → 1,
    * prior versions still serve the original files, at-target files
    * untouched). At 100 TB the small-file problem is a procedure call,
    * not a table rewrite. */
  val q271CatalogCompact: Q = (s, d) => {
    val t = catTable(s, d, "ev271")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 1")
    s.sql(s"CALL graft_cat.sys.compact('db', 'ev271_${ScaleQueries.sfTag(d)}', ${64L * 1024 * 1024})")
    s.sql(s"""SELECT k % 9 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q272: SQL `UPDATE` through the catalog — the GROUP-BASED
    * copy-on-write row-level operation (`SupportsRowLevelOperations`):
    * Spark narrows the scan to files containing matches via the
    * `_file IN <subquery>` runtime group filter, reads those files
    * whole, and the write's commit swaps exactly them — untouched
    * files keep their manifest entries byte-for-byte (CatalogSpec pins
    * it). At 100 TB a targeted UPDATE costs the matched files'
    * rewrite, never the table's. Oracle: DuckDB applies the same CASE. */
  val q272CatalogUpdate: Q = (s, d) => {
    val t = catTable(s, d, "ev272")
    s.sql(s"CREATE TABLE $t AS ${catEventsSql(s, d)}")
    s.sql(s"UPDATE $t SET cents = cents + 1000000 WHERE cents >= 10000")
    s.sql(s"""SELECT k % 6 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(cents) AS min_c, max(cents) AS max_c
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q273: SQL `MERGE INTO` — the upsert statement over the same
    * group-based machinery: matched keys update in place, unmatched
    * source rows insert, all as ONE `merge` version (atomic: a reader
    * sees pre-merge or post-merge, never a mix). The engine's q72
    * merge-upsert OPERATOR expressed as connector-owned SQL. Oracle:
    * DuckDB derives the post-merge state from events directly (even
    * ids keep their cents unless divisible by 3, which carry the
    * doubled source cents; odd div-3 ids insert). */
  val q273CatalogMerge: Q = (s, d) => {
    val t = catTable(s, d, "ev273")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ev273_src AS
             |SELECT event_id AS k,
             |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 2
             |    AS cents
             |FROM ${graft.Tables.view(s, d, "events")}
             |WHERE value IS NOT NULL AND event_id % 3 = 0""".stripMargin)
    s.sql(s"""MERGE INTO $t AS tgt USING ev273_src AS src
             |ON tgt.k = src.k
             |WHEN MATCHED THEN UPDATE SET cents = src.cents
             |WHEN NOT MATCHED THEN INSERT (k, cents)
             |  VALUES (src.k, src.cents)""".stripMargin)
    s.sql(s"""SELECT k % 7 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q274: FEDERATED catalog ⋈ parquet join — catalog tables are
    * first-class in PLANNING, not just readable: the dim's manifest
    * statistics (25 rows, a few hundred bytes) sit under the broadcast
    * threshold, so Catalyst broadcasts the catalog side and the parquet
    * fact never shuffles (PlanSpec pins BroadcastHashJoin with the
    * graft_cat scan on the build side). The 100 TB shape: lake-format
    * dims joining warehouse-extract facts with the join strategy chosen
    * from CONNECTOR-reported statistics. Oracle: DuckDB joins the same
    * two sources directly. */
  val q274CatalogFederated: Q = (s, d) => {
    val t = catTable(s, d, "ev274")
    s.sql(s"""CREATE TABLE $t AS
             |SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name
             |FROM ${graft.Tables.view(s, d, "nation")}""".stripMargin)
    s.sql(s"""SELECT d.name AS name, count(*) AS n,
             |  sum(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT))
             |    AS cents
             |FROM ${graft.Tables.view(s, d, "events")} e
             |JOIN $t d ON e.event_id % 25 = d.k
             |WHERE e.value IS NOT NULL
             |GROUP BY 1""".stripMargin)
  }

  /** q275: persisted CATALOG VIEW through the V2 ViewCatalog surface.
    * OSS Spark ships the API but wires neither view DDL nor resolution
    * for v2 catalogs, so the engine supplies both the Iceberg way: DDL
    * rides the procedure surface (`CALL graft_cat.sys.create_view`),
    * and SELECT resolution rides the injected
    * [[graft.plans.ResolveGraftViews]] analyzer rule expanding the
    * stored SQL. The definition (SQL + schema derived by analysis at
    * create time) is a catalog object any session carrying the conf can
    * read; CatalogSpec pins persistence, base-table tracking, and both
    * name-clash guards. With it every catalog plugin surface is
    * exercised: tables, functions, procedures, views. Oracle: DuckDB
    * computes the view's aggregate straight from events. */
  val q275CatalogView: Q = (s, d) => {
    val t = catTable(s, d, "ev275")
    val vName = s"ev275v_${ScaleQueries.sfTag(d)}"
    s.sql(s"CREATE TABLE $t AS ${catEventsSql(s, d)}")
    s.sql(s"CALL graft_cat.sys.drop_view('db', '$vName')")
    s.sql(s"CALL graft_cat.sys.create_view('db', '$vName', " +
      s"'SELECT k % 11 AS g, cents FROM $t WHERE cents >= 500')")
    s.sql(s"""SELECT g, count(*) AS n, sum(cents) AS cents,
             |  min(cents) AS min_c
             |FROM graft_cat.db.$vName GROUP BY g""".stripMargin)
  }

  /** q276: WRITE-PATH CLUSTERING — `write.order_by` makes the catalog's
    * write DEMAND a range distribution + in-partition sort
    * (`RequiresDistributionAndOrdering`): Spark inserts the exchange,
    * every task file lands with a DISJOINT cents range, and the
    * manifest's min/max stats come out tight, so the narrow-range read
    * below opens ~2 of 8 files on data that arrived UNSORTED
    * (CatalogSpec pins disjoint ranges, ≤2 files opened, and the
    * all-files negative control without the property). The Iceberg
    * write-ordered-by contract: the write path organizes data for the
    * read path — at 100 TB, the difference between every query paying a
    * sort and no query paying one. Oracle: DuckDB filters the same
    * derived cents directly. */
  val q276CatalogOrderedWrite: Q = (s, d) => {
    val t = catTable(s, d, "ev276")
    s.sql(s"""CREATE TABLE $t (k BIGINT, cents BIGINT)
             |TBLPROPERTIES ('write.order_by'='cents',
             |               'write.partitions'='8')""".stripMargin)
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)}")
    s.sql(s"""SELECT k % 4 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(cents) AS min_c, max(cents) AS max_c
             |FROM $t WHERE cents BETWEEN 2000 AND 5999
             |GROUP BY 1""".stripMargin)
  }


  /** q277: HIDDEN PARTITIONING — CTAS `PARTITIONED BY (g)` routes every
    * row to its partition at write time (the fanout writer computes the
    * transform; writers never see the layout), the manifest carries each
    * file's partition tuple, and the `g IN (2,5)` read prunes the other
    * six partitions at SCAN PLANNING, before file stats (CatalogSpec
    * pins filesOpened and the metadata-only partition-aligned DELETE).
    * The Iceberg partition-spec model — at 100 TB, the single biggest
    * skip lever a lake table has: min/max stats cannot prune an
    * unordered dimension, partition values can. Oracle: DuckDB filters
    * the same derivation directly. */
  val q277CatalogPartitioned: Q = (s, d) => {
    val t = catTable(s, d, "ev277")
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (g) AS
             |SELECT k, k % 8 AS g, cents FROM (${catEventsSql(s, d)}) src""".stripMargin)
    s.sql(s"""SELECT g, count(*) AS n, sum(cents) AS cents,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM $t WHERE g IN (2, 5) GROUP BY g""".stripMargin)
  }

  /** q278: STORAGE-PARTITIONED JOIN through the catalog — both sides are
    * CTAS `PARTITIONED BY (bucket(16, k))` tables, the scans report
    * KeyGroupedPartitioning over the catalog's own `bucket` V2 function
    * (GraftTableCatalog is a FunctionCatalog for exactly this — the
    * Iceberg wiring), so the k-equi-join runs partition-for-partition
    * with ZERO exchange on either side (CatalogSpec pins 0 hash
    * exchanges vs >=2 with bucketing off). The q261 connector story,
    * now on CATALOG tables: at 100 TB, two co-bucketed facts join with
    * no network. Oracle: the join is 1:1 on k, so DuckDB computes both
    * legs in one scan. */
  val q278CatalogSpj: Q = (s, d) => {
    val a = catTable(s, d, "ev278a")
    val b = catTable(s, d, "ev278b")
    s.sql(s"CREATE TABLE $a PARTITIONED BY (bucket(16, k)) AS ${catEventsSql(s, d)}")
    s.sql(s"""CREATE TABLE $b PARTITIONED BY (bucket(16, k)) AS
             |SELECT k, k % 997 AS m FROM (${catEventsSql(s, d)}) src""".stripMargin)
    graft.SessionConf.withValue(s,
        "spark.sql.sources.v2.bucketing.enabled", "true") {
      graft.SessionConf.withValue(s,
          "spark.sql.requireAllClusterKeysForCoPartition", "false") {
        graft.SessionConf.withValue(s,
            "spark.sql.autoBroadcastJoinThreshold", "-1") {
          s.sql(s"""SELECT a.k % 9 AS g, count(*) AS n,
                   |  sum(a.cents * b.m) AS dot
                   |FROM $a a JOIN $b b ON a.k = b.k
                   |GROUP BY 1""".stripMargin)
            .localCheckpoint(true) // materialize inside the conf scope
        }
      }
    }
  }

  /** q279: MERGE-ON-READ DELETE — `delete.mode`='merge-on-read' makes
    * the boundary of this DELETE commit a small POSITION DELETE FILE
    * instead of rewriting data files (CatalogSpec pins ZERO rewrites and
    * the untouched file names; `sys.compact` later applies the debt
    * byte-equal to the copy-on-write answer). The Iceberg v2 read path:
    * at 100 TB, a 10-row GDPR delete on a hot 1 GB file costs 80 bytes,
    * not a gigabyte of IO. The hash gate proves readers anti-merge the
    * positions exactly — same oracle shape as the COW delete (q268),
    * different grouping. */
  val q279CatalogMorDelete: Q = (s, d) => {
    val t = catTable(s, d, "ev279")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('delete.mode'='merge-on-read')
             |AS ${catEventsSql(s, d)}""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE cents >= 10000")
    s.sql(s"""SELECT k % 11 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(cents) AS min_c, max(cents) AS max_c
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q280: CHANGE DATA FEED — the `.changes` metadata table emits
    * row-level `_change_type` insert/delete rows derived from each
    * version's added/removed files and merge-on-read delete-position
    * deltas. The query FOLDS the feed (inserts minus deletes, as
    * multisets) and aggregates the reconstruction — hash-equal to DuckDB
    * replaying the mutations directly, which proves the feed carries
    * exactly the net changes (CatalogSpec pins the fold identity, the
    * MOR delta positions, and that compaction emits nothing; its
    * streaming-source case pins batch ≡ streamed fold across restarts).
    * The Delta CDF surface: downstream consumers sync incrementally
    * instead of re-reading 100 TB. */
  val q280CatalogCdf: Q = (s, d) => {
    val t = catTable(s, d, "ev280")
    s.sql(s"""CREATE TABLE $t (k BIGINT, cents BIGINT)
             |TBLPROPERTIES ('delete.mode'='merge-on-read')""".stripMargin)
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 1")
    s.sql(s"UPDATE $t SET cents = cents * 3 WHERE k % 5 = 0")
    s.sql(s"DELETE FROM $t WHERE cents >= 30000")
    s.sql(s"""SELECT k % 6 AS g, count(*) AS n, sum(cents) AS cents
             |FROM (SELECT k, cents,
             |        sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1
             |            END) AS mult
             |      FROM $t.changes GROUP BY k, cents HAVING mult != 0)
             |GROUP BY 1""".stripMargin)
  }

  /** q281: FIELD-ID SCHEMA EVOLUTION — RENAME COLUMN between two inserts
    * (zero data movement: the mapping file changes, ids do not), then
    * ADD COLUMN mid-stream; the aggregate spans BOTH file generations
    * under the renamed name, with the added column null-padded for the
    * older generation (CatalogSpec pins untouched files, id-keyed stat
    * pruning across the rename, and that a re-added name never
    * resurrects dropped values). The Iceberg column-mapping rule: at
    * 100 TB a rename is a metadata commit, not a table rewrite. */
  val q281CatalogEvolution: Q = (s, d) => {
    val t = catTable(s, d, "ev281")
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"ALTER TABLE $t RENAME COLUMN cents TO pennies")
    s.sql(s"ALTER TABLE $t ADD COLUMN src BIGINT")
    s.sql(s"""INSERT INTO $t
             |SELECT k, cents, 1 FROM (${catEventsSql(s, d)} AND event_id % 2 = 1) src""".stripMargin)
    s.sql(s"""SELECT k % 7 AS g, count(*) AS n, sum(pennies) AS pennies,
             |  count(src) AS n_src, min(k) AS min_k
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q282: ATOMIC REPLACE TABLE AS SELECT — the definition rebuilds in a
    * hidden staging directory via [[org.apache.spark.sql.connector
    * .catalog.StagingTableCatalog]] and swaps in whole; every CTAS in
    * this suite now rides the same staged path, so a poisoned CTAS
    * write leaves NO table behind (CatalogSpec pins it). RTAS here
    * replaces the even-slice table with the full derivation — readers
    * see old or new, never a half-written table. Oracle: DuckDB
    * aggregates the replacement definition directly. */
  val q282CatalogRtas: Q = (s, d) => {
    val t = catTable(s, d, "ev282")
    s.sql(s"CREATE TABLE $t AS ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"REPLACE TABLE $t AS ${catEventsSql(s, d)}")
    s.sql(s"""SELECT k % 10 AS g, count(*) AS n, sum(cents) AS cents,
             |  max(k) AS max_k
             |FROM $t GROUP BY 1""".stripMargin)
  }


  /** q283: SNAPSHOT TAGS — `CALL graft_cat.sys.tag` pins a committed
    * version under a NAME (the Iceberg ref model), `VERSION AS OF
    * 'snap'` reads it, and `sys.expire_versions` RETAINS tagged
    * versions while dropping the untagged history around them
    * (CatalogSpec pins retention, release via drop_tag, and the
    * numeric-name guard). The reproducible-training-run primitive: a
    * run tags its snapshot once and the data outlives any retention
    * policy — at 100 TB, an audit pins a name, not a copy. Oracle:
    * DuckDB aggregates the even slice the tag froze, invisible to the
    * later insert, delete, and expiry. */
  val q283CatalogTag: Q = (s, d) => {
    val t = catTable(s, d, "ev283")
    val stem = s"ev283_${ScaleQueries.sfTag(d)}"
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"CALL graft_cat.sys.tag('db', '$stem', 'snap', 2)")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 1")
    s.sql(s"DELETE FROM $t WHERE cents >= 10000")
    s.sql(s"CALL graft_cat.sys.expire_versions('db', '$stem', 1)")
    s.sql(s"""SELECT k % 8 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(k) AS min_k
             |FROM $t VERSION AS OF 'snap' GROUP BY 1""".stripMargin)
  }


  /** q284: DAYS PARTITIONING — the time-series spec: `PARTITIONED BY
    * (days(ms))` buckets epoch-millis rows by day ordinal at write time,
    * and a two-day range predicate prunes every other day at SCAN
    * PLANNING (the facts evaluator inverts the transform: day d implies
    * ms ∈ [d·86400000, (d+1)·86400000); CatalogSpec pins 2-of-6
    * filesOpened and the `.partitions` day labels). The dominant lake
    * layout at 100 TB — logs partition by day, queries carry time
    * ranges, and the scan never lists the other 3,650 days. Oracle:
    * DuckDB replays the day arithmetic on the source rows. */
  val q284CatalogDaysPartition: Q = (s, d) => {
    val t = catTable(s, d, "ev284")
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (days(ms)) AS
             |SELECT k, (19700 + k % 5) * 86400000 + (k % 1440) * 60000 AS ms,
             |       cents
             |FROM (${catEventsSql(s, d)}) src""".stripMargin)
    s.sql(s"""SELECT count(*) AS n, sum(cents) AS cents,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM $t
             |WHERE ms >= ${19701L * 86400000L}
             |  AND ms < ${19703L * 86400000L}""".stripMargin)
  }


  /** q285: UPSERT BY KEY — `write.upsert.key` makes every INSERT commit
    * its data files PLUS a sequence-tagged EQUALITY DELETE file (the
    * distinct keys written), and readers anti-join the key file against
    * every OLDER file only: same-key rows are superseded WITHOUT
    * rewriting a single data file (CatalogSpec pins zero rewrites, the
    * time-travel view before the upsert, compaction repaying the debt,
    * and the change feed's loud decline until it does). The Iceberg v2
    * CDC-apply path — at 100 TB, a CDC batch lands as its own files
    * plus kilobytes of keys, never a table rewrite. Final state equals
    * q273's MERGE (matched keys take the doubled source cents,
    * unmatched insert), so DuckDB replays it directly. */
  val q285CatalogUpsert: Q = (s, d) => {
    val t = catTable(s, d, "ev285")
    s.sql(s"""CREATE TABLE $t (k BIGINT, cents BIGINT)
             |TBLPROPERTIES ('write.upsert.key'='k')""".stripMargin)
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"""INSERT INTO $t
             |SELECT k, cents * 2 FROM (${catEventsSql(s, d)} AND event_id % 3 = 0) src""".stripMargin)
    s.sql(s"""SELECT k % 12 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM $t GROUP BY 1""".stripMargin)
  }


  /** q286: MERGE-ON-READ UPDATE — `update.mode`='merge-on-read' routes
    * UPDATE/MERGE (and stats-unprovable DELETEs) through Spark's
    * DELTA-BASED row-level plan ([[org.apache.spark.sql.connector.write
    * .SupportsDelta]]): the scan stamps each row's (_file, _pos) ROW ID,
    * matched rows come back as per-row delete calls that land as
    * position-delete entries on their SOURCE files, and the updated
    * values land as one small insert file — ZERO data files rewritten
    * (CatalogSpec pins untouched file names, the exact delete-position
    * count, the COW twin's identical answers, and the change feed's
    * exact fold over the delta history). The Iceberg v2 merge-on-read
    * WRITE path: at 100 TB, a point UPDATE costs rows, not files. Same
    * mutation as q272, served merge-on-read, new grouping. */
  val q286CatalogMorUpdate: Q = (s, d) => {
    val t = catTable(s, d, "ev286")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('update.mode'='merge-on-read')
             |AS ${catEventsSql(s, d)}""".stripMargin)
    s.sql(s"UPDATE $t SET cents = cents + 1000000 WHERE cents >= 10000")
    s.sql(s"""SELECT k % 13 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(cents) AS min_c, max(cents) AS max_c
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q287: WRITABLE BRANCH — WAP (write-audit-publish) as a catalog
    * primitive: `sys.branch` forks a writable ref, `db.t.branch_audit`
    * addresses it for INSERT and DML (commits land on the branch's OWN
    * manifest chain — main's content and version history never move),
    * and `sys.fast_forward` publishes the audited head as ONE main
    * commit (CatalogSpec pins main-invisibility, the diverged-base
    * refusal, expiry pinning the branch's unpublished files, and
    * drop_branch reclaiming them). The Iceberg branch model: at 100 TB a
    * risky backfill audits on a branch and publishes atomically — or
    * drops, leaving nothing. Oracle: DuckDB computes the published
    * state — both parity slices minus the audit's delete — directly. */
  val q287CatalogBranchWap: Q = (s, d) => {
    val t = catTable(s, d, "ev287")
    val stem = s"ev287_${ScaleQueries.sfTag(d)}"
    s.sql(s"CREATE TABLE $t AS ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"CALL graft_cat.sys.branch('db', '$stem', 'audit')")
    s.sql(s"INSERT INTO $t.branch_audit ${catEventsSql(s, d)} AND event_id % 2 = 1")
    s.sql(s"DELETE FROM $t.branch_audit WHERE cents >= 10000")
    s.sql(s"CALL graft_cat.sys.fast_forward('db', '$stem', 'audit')")
    s.sql(s"""SELECT k % 9 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q288: PARTITION-SPEC EVOLUTION — `sys.set_partition_spec` appends a
    * new layout generation WITHOUT rewriting a file: the even slice lands
    * under `identity(g)`, the spec evolves to `days(ms)`, the odd slice
    * lands under the day layout, and one query carrying predicates on
    * BOTH generations' source columns prunes each generation under its
    * OWN spec (CatalogSpec pins zero rewrites at evolution, 4-of-7 /
    * 5-of-7 filesOpened per probe, per-generation DELETE split and
    * compaction). The Iceberg per-file-spec-id model: at 100 TB a table
    * re-partitions day→hour as it grows and the old years never rewrite.
    * Oracle: DuckDB replays both modulo predicates on the source. */
  val q288CatalogSpecEvolution: Q = (s, d) => {
    val t = catTable(s, d, "ev288")
    val stem = s"ev288_${ScaleQueries.sfTag(d)}"
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (g) AS
             |SELECT k % 8 AS g, (19700 + k % 5) * 86400000 AS ms, k, cents
             |FROM (${catEventsSql(s, d)} AND event_id % 2 = 0) src""".stripMargin)
    s.sql(s"CALL graft_cat.sys.set_partition_spec('db', '$stem', 'days(ms)')")
    s.sql(s"""INSERT INTO $t
             |SELECT k % 8 AS g, (19700 + k % 5) * 86400000 AS ms, k, cents
             |FROM (${catEventsSql(s, d)} AND event_id % 2 = 1) src""".stripMargin)
    s.sql(s"""SELECT g, count(*) AS n, sum(cents) AS cents,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM $t
             |WHERE g IN (2, 5)
             |  AND ms >= ${19701L * 86400000L} AND ms < ${19703L * 86400000L}
             |GROUP BY g""".stripMargin)
  }

  /** q289: INCREMENTAL MATERIALIZED AGGREGATE ON THE CHANGE FEED — the
    * q153 IVM pattern fed by the catalog's OWN `.changes` stream: a
    * mutation history (two appends, a COW update, a merge-on-read
    * delete) streams as insert/delete deltas, each micro-batch
    * AGGREGATES ITS DELTA distributively (count/sum signed by change
    * type) and merges O(groups) rows into the served state — the state
    * never sees a base-table row, never refolds history, and stays
    * bounded by group count, not row count. At 100 TB this is how a
    * downstream rollup follows a mutating lake table: deltas in, merged
    * aggregates out, zero base rescans (the ninth streaming twin chops
    * the same feed across restarts). Oracle: DuckDB recomputes the
    * rollup from the replayed mutation history. */
  val q289CatalogIncrementalMv: Q = (s, d) => {
    val t = catTable(s, d, "ev289")
    s.sql(s"""CREATE TABLE $t (k BIGINT, cents BIGINT)
             |TBLPROPERTIES ('delete.mode'='merge-on-read')""".stripMargin)
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 1")
    s.sql(s"UPDATE $t SET cents = cents * 3 WHERE k % 5 = 0")
    s.sql(s"DELETE FROM $t WHERE cents >= 25000")
    // group -> (n, sum): the materialized rollup, merged from deltas only
    val state = collection.mutable.Map.empty[Long, (Long, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-q289-ckpt").toString
    val q = s.readStream.table(s"$t.changes")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // the batch aggregates its OWN delta distributively; only
        // O(groups) merged rows ever reach the driver state
        df.selectExpr("k % 11 AS g",
            "CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END AS sgn",
            "cents")
          .groupBy("g")
          .agg(org.apache.spark.sql.functions.sum("sgn").as("dn"),
            org.apache.spark.sql.functions.expr("sum(sgn * cents)").as("dc"))
          .collect().foreach { r =>
            val g = r.getLong(0)
            val (n0, c0) = state.getOrElse(g, (0L, 0L))
            val (n1, c1) = (n0 + r.getLong(1), c0 + r.getLong(2))
            if (n1 == 0L) state.remove(g) else state(g) = (n1, c1)
          }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    import s.implicits._
    state.toSeq.map { case (g, (n, c)) => (g, n, c) }
      .toDF("g", "n", "cents")
  }

  /** q290: AGGREGATE PUSHDOWN INTO MANIFEST STATS — unfiltered COUNT(*) /
    * COUNT(col) / MIN / MAX answer from the manifest as a LocalTableScan:
    * ZERO files opened, zero tasks (the Iceberg count-from-metadata
    * behavior; CatalogSpec pins the 0-filesOpened counter, the
    * LocalTableScan plan, and every decline: nullable-column counts,
    * filtered aggregates, MOR-delete extremes, outstanding equality
    * deletes — with compaction restoring the metadata answer). COUNT
    * stays exact THROUGH merge-on-read position deletes (liveRows
    * subtracts them). At 100 TB: a table count reads kilobytes of
    * manifest instead of launching a full scan. Oracle: DuckDB computes
    * the same four scalars from the source rows. */
  val q290CatalogAggPushdown: Q = (s, d) => {
    val t = catTable(s, d, "ev290")
    val t2 = catTable(s, d, "ev290b")
    s.sql(s"""CREATE TABLE $t TBLPROPERTIES ('delete.mode'='merge-on-read')
             |AS ${catEventsSql(s, d)}""".stripMargin)
    s.sql(s"DELETE FROM $t WHERE cents >= 20000 AND cents < 20010")
    s.sql(s"CREATE TABLE $t2 AS ${catEventsSql(s, d)}")
    s.sql(s"""SELECT
             |  (SELECT count(*) FROM $t) AS n_after_mor_delete,
             |  (SELECT count(*) FROM $t2) AS n,
             |  (SELECT min(k) FROM $t2) AS min_k,
             |  (SELECT max(k) FROM $t2) AS max_k,
             |  (SELECT count(cents) FROM $t2) AS n_cents""".stripMargin)
  }

  /** q291: PARTITION HISTOGRAM FROM METADATA — GROUP-BY-partition-column
    * aggregate pushdown: `SELECT g, count(*), min(k), max(k) ... GROUP BY
    * g` (sums included — the manifest carries per-file exact sums) on an
    * identity-partitioned table answers with ONE row per live
    * partition straight from the manifest (zero files opened, zero
    * tasks, LocalTableScan — spec-pinned, with declines for expression
    * groups, non-identity transforms, and mixed spec generations). The
    * daily 100 TB operator question — "how big is each partition, is the
    * layout skewed" — served from kilobytes, grouped and exact (position
    * deletes subtract; equality deletes decline). Oracle: DuckDB groups
    * the source rows by the same derivation. */
  val q291CatalogPartitionHistogram: Q = (s, d) => {
    val t = catTable(s, d, "ev291")
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (g) AS
             |SELECT k % 8 AS g, k, cents
             |FROM (${catEventsSql(s, d)}) src""".stripMargin)
    s.sql(s"""SELECT g, count(*) AS n, count(cents) AS n_cents,
             |  min(k) AS min_k, max(k) AS max_k,
             |  sum(k) AS sum_k, sum(cents) AS cents
             |FROM $t GROUP BY g""".stripMargin)
  }

  /** q301: DISTRIBUTED Z-ORDER REWRITE — q299's clustering maintenance
    * executed by the CLUSTER instead of the driver (the Iceberg
    * `rewrite_data_files` action shape): the snapshot reads back
    * through the catalog (`VERSION AS OF` head — MOR/equality deletes
    * apply in the scan), the Morton key computes as a codegen'd column
    * expression (span codes + bit interleave, sign-flipped so signed
    * range partitioning orders the unsigned key), `repartitionByRange`
    * + `sortWithinPartitions` land each z-run in one task, and the
    * VECTORIZED WRITER rebuilds stats, sums, ndv sketches and bloom
    * filters for free; files move by same-filesystem rename and commit
    * as one CDF-invisible version. Zero rows ever materialize on the
    * driver — the shape that holds at 100 TB. Oracle: identical to
    * q299's (clustering moved bytes, never rows). */
  val q301CatalogZorderDist: Q = (s, d) => {
    val t = catTable(s, d, "ev301")
    val stem = s"ev301_${ScaleQueries.sfTag(d)}"
    s.sql(s"CREATE TABLE $t (x BIGINT, y BIGINT, cents BIGINT)")
    (0 until 8).foreach { i =>
      s.sql(s"""INSERT INTO $t
               |SELECT k, (k * 2654435761L) % 1048576 AS y, cents
               |FROM (${catEventsSql(s, d)}) src WHERE k % 8 = $i""".stripMargin)
    }
    val dir = catDir(s, stem)
    val m = graft.sources.GraftTableCatalog.readManifest(dir,
      graft.sources.GraftTableCatalog.readLatest(dir))
    val bytes = m.files.map(_.bytes).sum
    s.sql("CALL graft_cat.sys.rewrite_sorted('db', " +
      s"'$stem', 'x,y', ${bytes / 8 + 1}, 'distributed')")
    val filesAfter = graft.sources.GraftTableCatalog.readManifest(dir,
      graft.sources.GraftTableCatalog.readLatest(dir)).files.length
    val probe = s"""SELECT x % 13 AS g, count(*) AS n,
                   |  sum(cents) AS cents FROM $t
                   |WHERE y BETWEEN 131072 AND 262143 GROUP BY 1""".stripMargin
    graft.sources.GraftTableCatalog.filesOpened.set(0)
    s.sql(probe).collect()
    val opened = graft.sources.GraftTableCatalog.filesOpened.get()
    require(opened < filesAfter,
      s"distributed z-order probe should prune: opened $opened of " +
        s"$filesAfter files")
    s.sql(probe)
  }

  /** q300: `.manifests` METADATA TABLE — the manifest-list view of the
    * head version (Iceberg's manifests table): one row per segment
    * reference with entry/row/byte totals, the partition-range summary
    * planning prunes on, and the REUSED flag that makes the
    * incremental-commit contract visible — a healthy append chain
    * reuses every prior segment by reference and writes exactly one new
    * one, so commits are O(delta) metadata, never O(files). The query
    * drives four hash-distributed partitioned appends and one
    * partition-aligned metadata DELETE, then aggregates the view: the
    * dropped partition's segment vanishes (its entries all died), the
    * three survivors are all REUSED (zero bytes rewritten at the
    * delete), and DuckDB recomputes the row totals from the source
    * while the segment arithmetic pins the design. */
  val q300CatalogManifestsMeta: Q = (s, d) => {
    val t = catTable(s, d, "ev300")
    s.sql(s"""CREATE TABLE $t (g BIGINT, k BIGINT, cents BIGINT)
             |PARTITIONED BY (g)
             |TBLPROPERTIES ('write.distribution'='hash')""".stripMargin)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO $t SELECT k % 4 AS g, k, cents
               |FROM (${catEventsSql(s, d)}) src
               |WHERE k % 4 = $i""".stripMargin)
    }
    s.sql(s"DELETE FROM $t WHERE g = 3") // aligned: metadata-only drop
    s.sql(s"""SELECT count(*) AS segments, sum(entries) AS files,
             |  sum(rows) AS raw_rows,
             |  sum(CASE WHEN reused THEN 1 ELSE 0 END) AS reused_segments
             |FROM $t.manifests""".stripMargin)
  }

  /** q299: Z-ORDER CLUSTERING REWRITE — `sys.rewrite_sorted`, the
    * Iceberg `rewrite_data_files` sort/z-order strategy (Delta OPTIMIZE
    * ZORDER BY): live files rewrite so rows land in Morton-interleaved
    * order over (x, y) — each output file covers a tight 2-D rectangle
    * of the value space, so a range probe on EITHER column prunes to a
    * strip of cells instead of opening the table. The query builds the
    * worst layout (every file spans both full domains — zone maps prune
    * NOTHING), rewrites, REQUIREs a y-range probe to open strictly
    * fewer than all files, and hash-gates the post-rewrite probe result
    * against DuckDB replaying the same scramble — clustering moved
    * bytes, never rows. At 100 TB this is how a feature-store table
    * serves selective probes on TWO id spaces from one layout. */
  val q299CatalogZorder: Q = (s, d) => {
    val t = catTable(s, d, "ev299")
    val stem = s"ev299_${ScaleQueries.sfTag(d)}"
    s.sql(s"CREATE TABLE $t (x BIGINT, y BIGINT, cents BIGINT)")
    (0 until 8).foreach { i =>
      s.sql(s"""INSERT INTO $t
               |SELECT k, (k * 2654435761L) % 1048576 AS y, cents
               |FROM (${catEventsSql(s, d)}) src WHERE k % 8 = $i""".stripMargin)
    }
    val dir = catDir(s, stem)
    val m = graft.sources.GraftTableCatalog.readManifest(dir,
      graft.sources.GraftTableCatalog.readLatest(dir))
    val bytes = m.files.map(_.bytes).sum
    s.sql("CALL graft_cat.sys.rewrite_sorted('db', " +
      s"'$stem', 'x,y', ${bytes / 8 + 1})")
    val filesAfter = graft.sources.GraftTableCatalog.readManifest(dir,
      graft.sources.GraftTableCatalog.readLatest(dir)).files.length
    val probe = s"""SELECT x % 13 AS g, count(*) AS n,
                   |  sum(cents) AS cents FROM $t
                   |WHERE y BETWEEN 131072 AND 262143 GROUP BY 1""".stripMargin
    graft.sources.GraftTableCatalog.filesOpened.set(0)
    val out = s.sql(probe)
    out.collect() // drive the scan so the counter fills
    val opened = graft.sources.GraftTableCatalog.filesOpened.get()
    require(opened < filesAfter,
      s"z-order probe should prune: opened $opened of $filesAfter files")
    s.sql(probe)
  }

  /** q298: ORPHAN-FILE SWEEP — `sys.remove_orphans`, the Iceberg
    * `remove_orphan_files` maintenance verb: crashed writers strand
    * data files and delete files by design (a failed commit leaves
    * garbage, never a dangling reference), and the sweep deletes every
    * `data/` file no manifest — main history or branch commit —
    * references, guarded by an age window so in-flight writes survive.
    * The query plants a crashed writer's strands (a fake data file plus
    * a position-delete file named the way `writeDeleteFile` names them,
    * back-dated past the window), sweeps, REQUIREs
    * exactly those two files and their bytes reclaimed, and hash-gates
    * that the table reads identically afterwards — the sweep touched
    * nothing referenced, across both live data and the MOR delete files
    * the preceding row-level DELETE attached. At 100 TB this is the
    * storage-bill verb: years of crashed-job garbage reclaimed without
    * listing a single table scan. Oracle: DuckDB replays the surviving
    * rows. */
  val q298CatalogRemoveOrphans: Q = (s, d) => {
    val t = catTable(s, d, "ev298")
    val stem = s"ev298_${ScaleQueries.sfTag(d)}"
    s.sql(s"""CREATE TABLE $t (k BIGINT, cents BIGINT)
             |TBLPROPERTIES ('delete.mode'='merge-on-read')""".stripMargin)
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)}")
    // non-pushable predicate -> MOR position-delete files the sweep
    // must recognize as referenced
    s.sql(s"DELETE FROM $t WHERE k % 10 = 3")
    val dataDir = new java.io.File(catDir(s, stem), "data")
    val o1 = new java.io.File(dataDir, "orphan-q298.parquet")
    val o2 = new java.io.File(dataDir, "del-orphan-q298.del")
    java.nio.file.Files.write(o1.toPath, Array.fill(64)(7.toByte))
    java.nio.file.Files.write(o2.toPath, Array.fill(32)(1.toByte))
    val aged = System.currentTimeMillis - 60000
    o1.setLastModified(aged); o2.setLastModified(aged)
    val swept = s.sql(
      s"CALL graft_cat.sys.remove_orphans('db', '$stem', 30000)")
      .collect()(0)
    require(swept.getLong(0) == 2L && swept.getLong(1) == 96L,
      s"orphan sweep expected (files=2, bytes=96); got $swept")
    s.sql(s"""SELECT k % 7 AS g, count(*) AS n, sum(cents) AS cents
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q297: MERGE WITH SCHEMA EVOLUTION — Spark 4's evolving merge: a
    * source WIDER than the target auto-adds the missing column (the
    * analyzer turns the width difference into the catalog's nullable
    * AddColumn in the same transaction — TableCapability
    * AUTOMATIC_SCHEMA_EVOLUTION) and the merge lands against the
    * evolved schema: matched rows update and take the new column,
    * unmatched insert, untouched files NULL-PAD it byte-identically
    * (field-id mapped reads, no rewrite). At 100 TB a pipeline adds a
    * feature column without coordinating a separate DDL step against
    * every writer. Oracle: DuckDB replays the merge arithmetic. */
  val q297CatalogMergeEvolve: Q = (s, d) => {
    val t = catTable(s, d, "ev297")
    val view = s"ev297_src_${ScaleQueries.sfTag(d)}"
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 2 = 0")
    s.sql(s"""SELECT k, cents * 2 AS cents, k % 7 AS flag
             |FROM (${catEventsSql(s, d)}) src
             |WHERE k % 4 IN (0, 1)""".stripMargin)
      .createOrReplaceTempView(view)
    s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $t USING $view
             |ON $t.k = $view.k
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin)
    s.sql(s"""SELECT k % 9 AS g, count(*) AS n, sum(cents) AS cents,
             |  count(flag) AS flags, sum(flag) AS flag_sum
             |FROM $t GROUP BY 1""".stripMargin)
  }

  /** q296: `.files` METADATA TABLE — the per-file operational view of
    * the head manifest (Iceberg's files table): partition tuple, spec
    * generation, raw/live rows, position-delete accounting, bloom
    * columns and rendered min/max, served from kilobytes of metadata.
    * The gated query drives it through BOTH partition-spec evolution
    * (gen-0 unpartitioned files + gen-1 identity-partitioned files
    * coexist) and a merge-on-read DELETE (per-file position deletes, no
    * rewrites), then aggregates the view by (spec, partition) so DuckDB
    * can recompute every number from rows. At 100 TB this is how an
    * operator answers "did the delete land as MOR, which partition is
    * skewed" without listing storage. */
  val q296CatalogFilesMeta: Q = (s, d) => {
    val t = catTable(s, d, "ev296")
    val stem = s"ev296_${ScaleQueries.sfTag(d)}"
    s.sql(s"""CREATE TABLE $t (g BIGINT, k BIGINT, cents BIGINT)
             |TBLPROPERTIES ('delete.mode'='merge-on-read')""".stripMargin)
    s.sql(s"""INSERT INTO $t SELECT k % 5 AS g, k, cents
             |FROM (${catEventsSql(s, d)}) src WHERE k % 3 = 0""".stripMargin)
    s.sql(s"CALL graft_cat.sys.set_partition_spec('db', '$stem', 'g')")
    s.sql(s"""INSERT INTO $t SELECT k % 5 AS g, k, cents
             |FROM (${catEventsSql(s, d)}) src WHERE k % 3 = 1""".stripMargin)
    // non-pushable predicate -> the row-level MERGE-ON-READ path: every
    // touched file takes a position-delete file, nothing rewrites
    s.sql(s"DELETE FROM $t WHERE k % 10 = 3")
    s.sql(s"""SELECT spec_id, partition AS part,
             |  sum(rows) AS raw_rows, sum(live_rows) AS live_rows,
             |  sum(deleted_rows) AS deleted_rows
             |FROM $t.files GROUP BY 1, 2""".stripMargin)
  }

  /** q295: BLOOM-FILTER FILE SKIPPING — `write.bloom.columns` gives
    * LONG/STRING columns a Parquet bloom filter inside each data file,
    * sized adaptively per file: point predicates (`=` / `IN`) on an
    * UNSORTED column — where every file's min/max covers the whole
    * domain and zone maps prune NOTHING — skip files by definite-absence
    * proof, reading the footer's kilobytes of filter instead of the data
    * (CatalogSpec pins 1-of-8 filesOpened for the holder, 0 for an absent
    * value, the 8-of-8 no-property control, a fresh filter after
    * compaction, pruning across a column rename, and the loud
    * non-LONG/STRING guard). The 100 TB shape: id
    * lookups on an append-ordered fact table open one file, not the
    * table. Oracle: DuckDB replays the same multiplicative scramble. */
  val q295CatalogBloomSkip: Q = (s, d) => {
    val t = catTable(s, d, "ev295")
    s.sql(s"""CREATE TABLE $t (h BIGINT, k BIGINT, cents BIGINT)
             |TBLPROPERTIES ('write.bloom.columns'='h')""".stripMargin)
    s.sql(s"""INSERT INTO $t
             |SELECT (k * 1000003L) % 900000011L AS h, k, cents
             |FROM (${catEventsSql(s, d)}) src""".stripMargin)
    s.sql(s"""SELECT h, k, cents FROM $t
             |WHERE h IN ((101 * 1000003L) % 900000011L,
             |            (1777 * 1000003L) % 900000011L,
             |            (3888 * 1000003L) % 900000011L)""".stripMargin)
  }

  /** q294: REF-ADDRESSABLE TIME TRAVEL — `VERSION AS OF` takes tag AND
    * branch NAMES, not just version numbers: the tag resolves to its
    * expiry-pinned version, the branch name serves the branch's current
    * (unpublished) head through the same read machinery as
    * `db.t.branch_<name>` (CatalogSpec pins resolution precedence, the
    * dangling-ref error listing both namespaces, and main's
    * invisibility). At 100 TB: "query the `prod` tag" and "audit the
    * `backfill` branch" are plain SQL, no version-number bookkeeping.
    * One result unions the tag view, the branch view and main, each
    * labeled — DuckDB recomputes all three slices from the source. */
  val q294CatalogRefTravel: Q = (s, d) => {
    val t = catTable(s, d, "ev294")
    val stem = s"ev294_${ScaleQueries.sfTag(d)}"
    s.sql(s"CREATE TABLE $t AS ${catEventsSql(s, d)} AND event_id % 3 = 0")
    val v = graft.sources.GraftTableCatalog.readLatest(catDir(s, stem))
    s.sql(s"CALL graft_cat.sys.tag('db', '$stem', 'base', $v)")
    s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 3 = 1")
    s.sql(s"CALL graft_cat.sys.branch('db', '$stem', 'audit')")
    s.sql(s"INSERT INTO $t.branch_audit ${catEventsSql(s, d)} AND event_id % 3 = 2")
    s.sql(s"""SELECT 'tag' AS ref, count(*) AS n, sum(cents) AS cents
             |FROM $t VERSION AS OF 'base'
             |UNION ALL
             |SELECT 'branch' AS ref, count(*) AS n, sum(cents) AS cents
             |FROM $t VERSION AS OF 'audit'
             |UNION ALL
             |SELECT 'main' AS ref, count(*) AS n, sum(cents) AS cents
             |FROM $t""".stripMargin)
  }

  /** q293: FILTERED AGGREGATE PUSHDOWN + AVG — a partition-aligned
    * predicate is ABSORBED by the scan (every file provably all-match
    * or no-match from the manifest, so file skipping IS the filter) and
    * the aggregate — COUNT/MIN/MAX/SUM plus AVG composed from the
    * manifest's exact per-file sums and null-free live-row counts —
    * answers metadata-only: ZERO files opened, LocalTableScan
    * (CatalogSpec pins the counters and every decline: mid-file
    * cutoffs, nullable AVG, deletes). The 100 TB shape: `WHERE g = k`
    * rollups — the most common operational query there is — cost
    * kilobytes of manifest, not a partition scan. Oracle: DuckDB
    * recomputes the filtered aggregate from rows. */
  val q293CatalogFilteredAgg: Q = (s, d) => {
    val t = catTable(s, d, "ev293")
    s.sql(s"""CREATE TABLE $t PARTITIONED BY (g) AS
             |SELECT k % 6 AS g, k, cents
             |FROM (${catEventsSql(s, d)}) src""".stripMargin)
    s.sql(s"""SELECT count(*) AS n, min(k) AS min_k, max(k) AS max_k,
             |  sum(cents) AS cents, avg(cents) AS avg_cents
             |FROM $t WHERE g = 4""".stripMargin)
  }

  /** q292: MULTI-WRITER OPTIMISTIC CONCURRENCY — four concurrent INSERT
    * jobs race one table's commit token; a writer that loses the
    * exclusive-create reservation re-reads the head, REBASES its
    * manifest onto it and retries (the Iceberg OCC loop), so ALL four
    * land as four append versions — no lost updates, no external
    * serialization (CatalogSpec pins the deterministic-contention
    * rebase, the bounded-retry loud failure, the INSERT OVERWRITE
    * refusal to rebase, and the row-level pure-appends-only conflict
    * validation). At 100 TB many pipelines append to one table
    * concurrently; a single-writer catalog would serialize the fleet
    * through failures. Oracle: DuckDB reassembles all four slices. */
  val q292CatalogOcc: Q = (s, d) => {
    val t = catTable(s, d, "ev292")
    val stem = s"ev292_${ScaleQueries.sfTag(d)}"
    s.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT)")
    val dir = catDir(s, stem)
    val v0 = graft.sources.GraftTableCatalog.readLatest(dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { i =>
      new Thread(() =>
        try { s.sql(s"INSERT INTO $t ${catEventsSql(s, d)} AND event_id % 4 = $i"); () }
        catch { case e: Throwable => errs.add(e); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    if (!errs.isEmpty) throw new IllegalStateException(
      "a concurrent writer failed instead of rebasing", errs.peek())
    // four independent commits must have landed — version history is
    // the proof the writers raced rather than serialized through a loss
    val v1 = graft.sources.GraftTableCatalog.readLatest(dir)
    require(v1 - v0 == 4L,
      s"expected 4 commit versions after v$v0, found head v$v1")
    s.sql(s"""SELECT k % 7 AS g, count(*) AS n, sum(cents) AS cents,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM $t GROUP BY 1""".stripMargin)
  }

  val q263CatalogFunction: Q = (s, d) => {
    // the V2 function (md5 per event) would otherwise run inside the
    // one-task parquet scan — stage the projected column through the
    // layout-adaptive rebalance (no-op at many-row-group inputs); the SQL
    // surface still resolves graft_fns.fns.hash60 through the catalog
    graft.Tables.spreadForCompute(
        graft.Tables.load(s, d, "events")
          .select(org.apache.spark.sql.functions.col("event_id")),
        org.apache.spark.sql.functions.col("event_id"))
      .createOrReplaceTempView("graft_q263_events")
    s.sql(
      s"""SELECT graft_fns.fns.hash60('cf:' || CAST(event_id AS STRING)) % 97
         |    AS bucket,
         |  count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
         |FROM graft_q263_events
         |GROUP BY 1""".stripMargin)
  }

  val queries: Map[String, Q] = Map(
    "q301_catalog_zorder_dist" -> q301CatalogZorderDist,
    "q300_catalog_manifests_meta" -> q300CatalogManifestsMeta,
    "q299_catalog_zorder" -> q299CatalogZorder,
    "q298_catalog_remove_orphans" -> q298CatalogRemoveOrphans,
    "q297_catalog_merge_evolve" -> q297CatalogMergeEvolve,
    "q296_catalog_files_meta" -> q296CatalogFilesMeta,
    "q295_catalog_bloom_skip" -> q295CatalogBloomSkip,
    "q294_catalog_ref_travel" -> q294CatalogRefTravel,
    "q293_catalog_filtered_agg" -> q293CatalogFilteredAgg,
    "q292_catalog_occ" -> q292CatalogOcc,
    "q291_catalog_partition_histogram" -> q291CatalogPartitionHistogram,
    "q290_catalog_agg_pushdown" -> q290CatalogAggPushdown,
    "q289_catalog_incremental_mv" -> q289CatalogIncrementalMv,
    "q288_catalog_spec_evolution" -> q288CatalogSpecEvolution,
    "q287_catalog_branch_wap" -> q287CatalogBranchWap,
    "q286_catalog_mor_update" -> q286CatalogMorUpdate,
    "q285_catalog_upsert" -> q285CatalogUpsert,
    "q284_catalog_days_partition" -> q284CatalogDaysPartition,
    "q283_catalog_tag" -> q283CatalogTag,
    "q282_catalog_rtas" -> q282CatalogRtas,
    "q281_catalog_evolution" -> q281CatalogEvolution,
    "q280_catalog_cdf" -> q280CatalogCdf,
    "q279_catalog_mor_delete" -> q279CatalogMorDelete,
    "q278_catalog_spj" -> q278CatalogSpj,
    "q277_catalog_partitioned" -> q277CatalogPartitioned,
    "q276_catalog_ordered_write" -> q276CatalogOrderedWrite,
    "q275_catalog_view" -> q275CatalogView,
    "q274_catalog_federated" -> q274CatalogFederated,
    "q273_catalog_merge" -> q273CatalogMerge,
    "q272_catalog_update" -> q272CatalogUpdate,
    "q271_catalog_compact" -> q271CatalogCompact,
    "q270_catalog_snapshots" -> q270CatalogSnapshots,
    "q269_catalog_time_travel" -> q269CatalogTimeTravel,
    "q268_catalog_delete" -> q268CatalogDelete,
    "q267_catalog_lifecycle" -> q267CatalogLifecycle,
    "q266_offset_paginate" -> q266OffsetPaginate,
    "q265_topn_pushdown" -> q265TopnPushdown,
    "q264_limit_pushdown" -> q264LimitPushdown,
    "q263_catalog_function" -> q263CatalogFunction,
    "q262_ledger_round_trip" -> q262LedgerRoundTrip,
    "q261_storage_partitioned_join" -> q261StoragePartitionedJoin,
    "q260_series_runtime_filter" -> q260SeriesRuntimeFilter,
    "q259_series_agg_pushdown" -> q259SeriesAggPushdown,
    "q258_series_source" -> q258SeriesSource,
    "q237_orc_scan" -> q237OrcScan,
    "q234_payload_drift" -> q234PayloadDrift,
    "q232_variant_scan" -> q232VariantScan,
    "q224_fixed_width_scan" -> q224FixedWidthScan,
    "q11_json_events_scan" -> q11JsonEventsScan,
    "q12_json_songs_scan"  -> q12JsonSongsScan,
    "q170_csv_scan"        -> q170CsvScan,
    "q190_federated_join"  -> q190FederatedJoin,
    "q56_schema_evolution" -> q56SchemaEvolution)

  /** The fixture dir the oracle's read_json points at must be the EXACT
    * files the Spark side scanned — i.e. the scale Verify is running at.
    * Verify sets `graft.oracle.sf` from its sfDir argument before dumping
    * oracle_sql.json; the default matches the driver's sf0.01 gate. */
  private def oracleSf: String =
    sys.props.getOrElse("graft.oracle.sf", "/root/testdata/sf0.01")

  /** `read_json(...)` clause over the events fixture, shared by every oracle
    * that stages from it. Only the fields a query touches are listed —
    * DuckDB, like our declared-schema reader, ignores the rest. */
  def eventsReadJson(fields: (String, String)*): String = {
    val cols = fields.map { case (n, t) => s"'$n':'$t'" }.mkString(",")
    s"""read_json('${Fixtures.eventsJsonDir(oracleSf)}/*.json',
       |  format='newline_delimited', columns={$cols})""".stripMargin
  }

  def songsReadJson: String =
    s"""read_json('${Fixtures.songsJsonDir(oracleSf)}/*.json',
       |  format='newline_delimited',
       |  columns={'num_songs':'INTEGER','artist_id':'VARCHAR',
       |           'artist_latitude':'DECIMAL(11,3)','artist_longitude':'DECIMAL(11,3)',
       |           'artist_location':'VARCHAR','artist_name':'VARCHAR','song_id':'VARCHAR',
       |           'title':'VARCHAR','duration':'DECIMAL(12,6)','year':'INTEGER'})""".stripMargin

  def oracle: Map[String, String] = Map(
    // The evolving merge, replayed: even keys seeded the target; source
    // rows (k%4 in 0,1) doubled cents and stamped flag — matched evens
    // updated in place, odds inserted, untouched evens null-pad flag.
    // Same oracle as q299: the distributed rewrite moved bytes, never
    // rows.
    "q301_catalog_zorder_dist" ->
      """WITH src AS (SELECT CAST(event_id AS BIGINT) AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL)
        |SELECT k % 13 AS g, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
        |FROM src
        |WHERE (k * 2654435761) % 1048576 BETWEEN 131072 AND 262143
        |GROUP BY 1""".stripMargin,
    // Segment arithmetic from the incremental-commit rule: 4 appends =
    // 4 single-file segments; the aligned DELETE kills one whole
    // segment and REUSES the other three by reference (nothing
    // rewrites, no new segment) — counts are design constants, row
    // totals recompute from the source.
    "q300_catalog_manifests_meta" ->
      """SELECT CAST(3 AS BIGINT) AS segments,
        |  CAST(3 AS BIGINT) AS files,
        |  (SELECT count(*) FROM events
        |   WHERE value IS NOT NULL
        |     AND CAST(event_id AS BIGINT) % 4 <> 3) AS raw_rows,
        |  CAST(3 AS BIGINT) AS reused_segments""".stripMargin,
    // The post-rewrite probe: DuckDB replays the scramble and the
    // y-window — the clustering rewrite moved bytes, never rows.
    "q299_catalog_zorder" ->
      """WITH src AS (SELECT CAST(event_id AS BIGINT) AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL)
        |SELECT k % 13 AS g, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
        |FROM src
        |WHERE (k * 2654435761) % 1048576 BETWEEN 131072 AND 262143
        |GROUP BY 1""".stripMargin,
    // The post-sweep read: every event row except the MOR-deleted
    // k%10=3 slice — identical bytes before and after remove_orphans.
    "q298_catalog_remove_orphans" ->
      """SELECT CAST(event_id AS BIGINT) % 7 AS g, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM events
        |WHERE value IS NOT NULL AND CAST(event_id AS BIGINT) % 10 <> 3
        |GROUP BY 1""".stripMargin,
    "q297_catalog_merge_evolve" ->
      """WITH src AS (SELECT CAST(event_id AS BIGINT) AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        | m AS (
        |  SELECT k, CASE WHEN k % 4 = 0 THEN c * 2 ELSE c END AS cents,
        |    CASE WHEN k % 4 = 0 THEN k % 7 ELSE NULL END AS flag
        |  FROM src WHERE k % 2 = 0
        |  UNION ALL
        |  SELECT k, c * 2 AS cents, k % 7 AS flag
        |  FROM src WHERE k % 4 = 1)
        |SELECT k % 9 AS g, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  count(flag) AS flags, CAST(sum(flag) AS BIGINT) AS flag_sum
        |FROM m GROUP BY 1""".stripMargin,
    // The (spec, partition) file-view aggregates, each recomputed by
    // DuckDB from the slices that built them: gen-0 files are the k%3=0
    // slice (unpartitioned tuple '-'), gen-1 files the k%3=1 slice under
    // identity(g) tuples 'l<g>'; the MOR DELETE suppressed k%10=3 rows
    // without dropping a file, so raw stays the slice size.
    "q296_catalog_files_meta" ->
      """WITH src AS (SELECT CAST(event_id AS BIGINT) AS k FROM events
        |  WHERE value IS NOT NULL)
        |SELECT CAST(0 AS BIGINT) AS spec_id, '-' AS part,
        |  count(*) AS raw_rows,
        |  count(*) FILTER (WHERE k % 10 <> 3) AS live_rows,
        |  count(*) FILTER (WHERE k % 10 = 3) AS deleted_rows
        |FROM src WHERE k % 3 = 0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT) AS spec_id,
        |  'l' || CAST(k % 5 AS VARCHAR) AS part,
        |  count(*) AS raw_rows,
        |  count(*) FILTER (WHERE k % 10 <> 3) AS live_rows,
        |  count(*) FILTER (WHERE k % 10 = 3) AS deleted_rows
        |FROM src WHERE k % 3 = 1 GROUP BY 2""".stripMargin,
    // The same scramble + IN-list, replayed by DuckDB over the rows.
    "q295_catalog_bloom_skip" ->
      """SELECT (CAST(event_id AS BIGINT) * 1000003) % 900000011 AS h,
        |  event_id AS k,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |FROM events
        |WHERE value IS NOT NULL
        |  AND (CAST(event_id AS BIGINT) * 1000003) % 900000011 IN
        |    ((CAST(101 AS BIGINT) * 1000003) % 900000011,
        |     (CAST(1777 AS BIGINT) * 1000003) % 900000011,
        |     (CAST(3888 AS BIGINT) * 1000003) % 900000011)""".stripMargin,
    // The three ref views (tagged base, audited branch, main), each
    // recomputed by DuckDB from the parity slices that built them.
    "q294_catalog_ref_travel" ->
      """WITH src AS (SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL)
        |SELECT 'tag' AS ref, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
        |FROM src WHERE event_id % 3 = 0
        |UNION ALL
        |SELECT 'branch' AS ref, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
        |FROM src WHERE event_id % 3 IN (0, 1, 2)
        |UNION ALL
        |SELECT 'main' AS ref, count(*) AS n, CAST(sum(c) AS BIGINT) AS cents
        |FROM src WHERE event_id % 3 IN (0, 1)""".stripMargin,
    // The partition-filtered rollup, recomputed by DuckDB from rows.
    "q293_catalog_filtered_agg" ->
      """SELECT count(*) AS n, min(event_id) AS min_k,
        |  max(event_id) AS max_k, CAST(sum(c) AS BIGINT) AS cents,
        |  avg(c) AS avg_cents
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE event_id % 6 = 4""".stripMargin,
    // All four concurrent writers' slices, reassembled by DuckDB.
    "q292_catalog_occ" ->
      """SELECT event_id % 7 AS g, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |GROUP BY 1""".stripMargin,
    // The per-partition histogram, recomputed by DuckDB from the rows.
    "q291_catalog_partition_histogram" ->
      """SELECT event_id % 8 AS g, count(*) AS n, count(c) AS n_cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k,
        |  CAST(sum(event_id) AS BIGINT) AS sum_k,
        |  CAST(sum(c) AS BIGINT) AS cents
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |GROUP BY 1""".stripMargin,
    // The four metadata-served scalars, recomputed by DuckDB from rows.
    "q290_catalog_agg_pushdown" ->
      """WITH src AS (SELECT event_id AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL)
        |SELECT
        |  (SELECT count(*) FROM src
        |     WHERE NOT (c >= 20000 AND c < 20010)) AS n_after_mor_delete,
        |  (SELECT count(*) FROM src) AS n,
        |  (SELECT min(k) FROM src) AS min_k,
        |  (SELECT max(k) FROM src) AS max_k,
        |  (SELECT count(c) FROM src) AS n_cents""".stripMargin,
    // The rollup the delta stream maintained, recomputed by DuckDB from
    // the replayed mutation history (insert both slices, apply the
    // update, drop the deleted rows).
    "q289_catalog_incremental_mv" ->
      """WITH src AS (SELECT event_id AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |fin AS (SELECT k,
        |    CASE WHEN k % 5 = 0 THEN c * 3 ELSE c END AS cents FROM src)
        |SELECT k % 11 AS g, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM fin WHERE cents < 25000
        |GROUP BY 1""".stripMargin,
    // Both spec generations' predicates replayed as the modulos that
    // derived them — layout evolution must be invisible to results.
    "q288_catalog_spec_evolution" ->
      """SELECT event_id % 8 AS g, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE event_id % 8 IN (2, 5) AND event_id % 5 IN (1, 2)
        |GROUP BY 1""".stripMargin,
    // The published (fast-forwarded) state: both parity slices minus the
    // branch audit's delete — DuckDB computes it directly.
    "q287_catalog_branch_wap" ->
      """SELECT event_id % 9 AS g, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE c < 10000
        |GROUP BY 1""".stripMargin,
    // The merge-on-read UPDATE's CASE, applied by DuckDB directly (the
    // q272 mutation, new grouping).
    "q286_catalog_mor_update" ->
      """SELECT event_id % 13 AS g, count(*) AS n,
        |  CAST(sum(CASE WHEN c >= 10000 THEN c + 1000000 ELSE c END)
        |    AS BIGINT) AS cents,
        |  min(CASE WHEN c >= 10000 THEN c + 1000000 ELSE c END) AS min_c,
        |  max(CASE WHEN c >= 10000 THEN c + 1000000 ELSE c END) AS max_c
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |GROUP BY 1""".stripMargin,
    // Upsert last-writer-wins state: even keys keep their cents unless
    // divisible by 3 (doubled by the second insert); odd div-3 keys
    // insert with doubled cents — the q273 MERGE state, new grouping.
    "q285_catalog_upsert" ->
      """SELECT event_id % 12 AS g, count(*) AS n,
        |  CAST(sum(CASE WHEN event_id % 3 = 0 THEN 2 * c ELSE c END)
        |    AS BIGINT) AS cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE event_id % 2 = 0 OR event_id % 3 = 0
        |GROUP BY 1""".stripMargin,
    // The day-range read keeps exactly the two middle days' keys.
    "q284_catalog_days_partition" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM events
        |WHERE value IS NOT NULL AND event_id % 5 IN (1, 2)""".stripMargin,
    // The tag froze the even slice; the later insert/delete/expiry must
    // be invisible through it.
    "q283_catalog_tag" ->
      """SELECT event_id % 8 AS g, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents,
        |  min(event_id) AS min_k
        |FROM events WHERE value IS NOT NULL AND event_id % 2 = 0
        |GROUP BY 1""".stripMargin,
    // Partition pruning must be invisible to results: DuckDB filters the
    // same modulo-derived dimension directly.
    "q277_catalog_partitioned" ->
      """SELECT event_id % 8 AS g, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE event_id % 8 IN (2, 5)
        |GROUP BY 1""".stripMargin,
    // The SPJ is 1:1 on k, so DuckDB computes both legs in one scan —
    // the zero-shuffle path must change nothing.
    "q278_catalog_spj" ->
      """SELECT event_id % 9 AS g, count(*) AS n,
        |  CAST(sum(c * (event_id % 997)) AS BIGINT) AS dot
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |GROUP BY 1""".stripMargin,
    // Readers must anti-merge the position delete file exactly: DuckDB
    // keeps the rows the predicate keeps, as in q268.
    "q279_catalog_mor_delete" ->
      """SELECT event_id % 11 AS g, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS cents, min(c) AS min_c, max(c) AS max_c
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE c < 10000
        |GROUP BY 1""".stripMargin,
    // Folding the change feed must reproduce the mutated table: DuckDB
    // replays insert + update + delete on the source rows directly.
    "q280_catalog_cdf" ->
      """WITH src AS (SELECT event_id AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |fin AS (SELECT k,
        |    CASE WHEN k % 5 = 0 THEN c * 3 ELSE c END AS cents FROM src)
        |SELECT k % 6 AS g, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM fin WHERE cents < 30000
        |GROUP BY 1""".stripMargin,
    // Both file generations under the renamed column, the added column
    // null for the first generation.
    "q281_catalog_evolution" ->
      """SELECT event_id % 7 AS g, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS pennies,
        |  CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_src,
        |  min(event_id) AS min_k
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |GROUP BY 1""".stripMargin,
    // RTAS replaced the even slice with the full derivation — DuckDB
    // aggregates the replacement definition.
    "q282_catalog_rtas" ->
      """SELECT event_id % 10 AS g, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents,
        |  max(event_id) AS max_k
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1""".stripMargin,
    // The catalog round trip must be invisible: DuckDB aggregates the
    // source events the same two slices reassemble.
    "q267_catalog_lifecycle" ->
      """SELECT event_id % 7 AS g, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1""".stripMargin,
    // DuckDB keeps the rows the DELETE predicate keeps.
    "q268_catalog_delete" ->
      """SELECT event_id % 5 AS g, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS cents, min(c) AS min_c, max(c) AS max_c
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE c < 10000
        |GROUP BY 1""".stripMargin,
    // Each version's defining mutation, replayed from the source.
    "q269_catalog_time_travel" ->
      """WITH src AS (SELECT event_id AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL)
        |SELECT CAST(2 AS BIGINT) AS version, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents FROM src WHERE k % 2 = 0
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), count(*),
        |  CAST(sum(cents) AS BIGINT) FROM src
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), count(*),
        |  CAST(sum(cents) AS BIGINT) FROM src WHERE cents < 10000""".stripMargin,
    // The ordered write must be invisible to results: DuckDB filters the
    // same derived cents straight from events.
    "q276_catalog_ordered_write" ->
      """SELECT event_id % 4 AS g, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS cents, min(c) AS min_c, max(c) AS max_c
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE c BETWEEN 2000 AND 5999
        |GROUP BY 1""".stripMargin,
    // The view's aggregate computed straight from events.
    "q275_catalog_view" ->
      """SELECT event_id % 11 AS g, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS cents, min(c) AS min_c
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE c >= 500
        |GROUP BY 1""".stripMargin,
    // DuckDB joins the same two sources directly — the catalog's
    // round trip of nation must be invisible to the join.
    "q274_catalog_federated" ->
      """SELECT n.n_name AS name, count(*) AS n,
        |  CAST(sum(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM events e JOIN nation n ON e.event_id % 25 = n.n_nationkey
        |WHERE e.value IS NOT NULL
        |GROUP BY 1""".stripMargin,
    // The UPDATE's CASE, applied by DuckDB to the source rows.
    "q272_catalog_update" ->
      """SELECT event_id % 6 AS g, count(*) AS n,
        |  CAST(sum(CASE WHEN c >= 10000 THEN c + 1000000 ELSE c END)
        |    AS BIGINT) AS cents,
        |  min(CASE WHEN c >= 10000 THEN c + 1000000 ELSE c END) AS min_c,
        |  max(CASE WHEN c >= 10000 THEN c + 1000000 ELSE c END) AS max_c
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |GROUP BY 1""".stripMargin,
    // Post-merge state derived straight from events: target keys are the
    // even ids, source keys the div-3 ids carrying doubled cents —
    // matched rows take the source value, unmatched sources insert.
    "q273_catalog_merge" ->
      """SELECT event_id % 7 AS g, count(*) AS n,
        |  CAST(sum(CASE WHEN event_id % 3 = 0 THEN 2 * c ELSE c END)
        |    AS BIGINT) AS cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM (SELECT event_id,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |      FROM events WHERE value IS NOT NULL) t
        |WHERE event_id % 2 = 0 OR event_id % 3 = 0
        |GROUP BY 1""".stripMargin,
    // Compaction must be invisible: DuckDB aggregates the source rows
    // the two commits carried, never seeing the file layout.
    "q271_catalog_compact" ->
      """SELECT event_id % 9 AS g, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS cents,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1""".stripMargin,
    // The snapshot history, recomputed from the source mutations.
    "q270_catalog_snapshots" ->
      """WITH src AS (SELECT
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL)
        |SELECT CAST(1 AS BIGINT) AS version, 'create' AS operation,
        |  CAST(0 AS BIGINT) AS n_rows
        |UNION ALL SELECT 2, 'append',
        |  (SELECT count(*) FROM events
        |   WHERE value IS NOT NULL AND event_id % 2 = 0)
        |UNION ALL SELECT 3, 'append', (SELECT count(*) FROM src)
        |UNION ALL SELECT 4, 'delete',
        |  (SELECT count(*) FROM src WHERE cents < 10000)""".stripMargin,
    // The source's LIMIT window is deterministic (the residual range's
    // first N ids), so DuckDB replays it as the literal window.
    "q264_limit_pushdown" ->
      """SELECT count(*) AS n, min(id) AS min_id, max(id) AS max_id,
        |  CAST(sum(id) AS BIGINT) AS sum_id
        |FROM range(5000000, 5250000) t(id)""".stripMargin,
    // Top-N: DuckDB sorts and limits what the engine's source answered
    // from pure window arithmetic — same rows, same derived hash.
    "q265_topn_pushdown" ->
      """SELECT id, CAST(CAST(('0x' || substr(md5('tn:' || CAST(id AS VARCHAR)),1,15))
        |    AS UBIGINT) AS BIGINT) % 1000 AS tag
        |FROM range(0, 8000000) t(id)
        |ORDER BY id DESC LIMIT 7""".stripMargin,
    // The deep page, replayed by DuckDB's own LIMIT/OFFSET.
    "q266_offset_paginate" ->
      """SELECT id, id % 97 AS m
        |FROM range(0, 2000000) t(id)
        |ORDER BY id LIMIT 500 OFFSET 1000000""".stripMargin,
    // The series is its own content (id = the value), so DuckDB's range()
    // plus the engine's standard md5/hash60 incantation replays the query
    // over a source DuckDB never saw — the gate is on the CONNECTOR's
    // planning (pushdown, pruning, slicing), not on data plumbing.
    "q258_series_source" ->
      """SELECT CAST(CAST(('0x' || substr(md5('sv:' || CAST(id AS VARCHAR)),1,15))
        |    AS UBIGINT) AS BIGINT) % 100 AS bucket,
        |  count(*) AS n, min(id) AS min_id, max(id) AS max_id,
        |  CAST(sum(id % 997) AS BIGINT) AS sum_mod
        |FROM range(1500000, 2500000) t(id)
        |GROUP BY 1""".stripMargin,
    // The catalog-resolved function must compute the engine's canonical
    // hash60 — DuckDB replays it with the standard md5 incantation.
    "q263_catalog_function" ->
      """SELECT CAST(CAST(('0x' || substr(md5('cf:' || CAST(event_id AS VARCHAR)),1,15))
        |    AS UBIGINT) AS BIGINT) % 97 AS bucket,
        |  count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |GROUP BY 1""".stripMargin,
    // The round trip must be invisible: DuckDB aggregates the SOURCE
    // table; the engine aggregates what came back out of the catalog.
    "q262_ledger_round_trip" ->
      """SELECT k % 10 AS g, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS cents,
        |  min(v) AS min_cents, max(v) AS max_cents
        |FROM (SELECT event_id AS k,
        |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |      FROM events WHERE value IS NOT NULL) t
        |GROUP BY 1""".stripMargin,
    // The join is 1:1 on id, so one range() scan computing BOTH legs'
    // hashes replays it — formulation-independent of the zero-shuffle path.
    "q261_storage_partitioned_join" ->
      """WITH r AS (SELECT
        |    CAST(CAST(('0x' || substr(md5('a:' || CAST(id AS VARCHAR)),1,15))
        |      AS UBIGINT) AS BIGINT) % 1000 AS va,
        |    CAST(CAST(('0x' || substr(md5('b:' || CAST(id AS VARCHAR)),1,15))
        |      AS UBIGINT) AS BIGINT) % 1000 AS vb
        |  FROM range(0, 1000000) t(id))
        |SELECT va % 10 AS g, count(*) AS n,
        |  CAST(sum(va * vb) AS BIGINT) AS dot
        |FROM r GROUP BY 1""".stripMargin,
    // DuckDB replays the join against an actual 4M-row range() scan; the
    // engine's source receives the build keys at runtime and emits five.
    "q260_series_runtime_filter" ->
      """SELECT r.id, r.id % 1000 AS tail
        |FROM range(0, 4000000) r(id)
        |JOIN (SELECT DISTINCT CAST(CAST(('0x' || substr(md5('rf:' ||
        |        CAST(n_nationkey AS VARCHAR)),1,15)) AS UBIGINT) AS BIGINT)
        |        % 4000000 AS wid
        |      FROM nation WHERE n_regionkey = 2) d
        |ON r.id = d.wid""".stripMargin,
    // DuckDB actually scans the 30M-id range; the engine's source answers
    // the same aggregates from per-slice arithmetic without emitting a row.
    "q259_series_agg_pushdown" ->
      """SELECT count(*) AS n, min(id) AS min_id, max(id) AS max_id,
        |  CAST(sum(id) AS BIGINT) AS sum_id
        |FROM range(10000000, 40000000) t(id)""".stripMargin,
    // q55's layout-invisibility rule: the ORC round-trip must reproduce
    // the flat parquet table exactly.
    "q237_orc_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders""".stripMargin,
    // The same raw lines, DuckDB's independent json_keys per line.
    "q234_payload_drift" ->
      s"""SELECT line->>'$$.eventKind' AS event_type, k.key AS field,
         |  count(*) AS n
         |FROM read_csv('${Fixtures.eventsJsonDir(oracleSf)}/*.json',
         |  columns={'line':'VARCHAR'}, header=false, delim='|',
         |  quote='', escape=''),
         |  LATERAL (SELECT unnest(json_keys(line)) AS key) k
         |GROUP BY 1, 2""".stripMargin,
    // The same raw lines through DuckDB's CSV reader (delimiter chosen to
    // never occur — the q224 trick) and its JSON path operators; the
    // nested propsJson string is re-parsed on both sides.
    "q232_variant_scan" ->
      s"""SELECT CAST(line->>'$$.eventId' AS BIGINT) AS event_id,
         |  line->>'$$.eventKind' AS event_type,
         |  CAST(line->>'$$.valueNum' AS DOUBLE) AS value,
         |  line->>'$$.artistName' AS artist,
         |  CAST(line->>'$$.sessionId' AS INTEGER) AS session_id,
         |  CAST((line->>'$$.propsJson')->>'$$.k' AS INTEGER) AS k
         |FROM read_csv('${Fixtures.eventsJsonDir(oracleSf)}/*.json',
         |  columns={'line':'VARCHAR'}, header=false, delim='|',
         |  quote='', escape='')""".stripMargin,
    // The same id boundary on the flat table: early-batch rows carry NULL
    // for the column that did not exist yet.
    "q56_schema_evolution" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN doc_id < $EVO_SPLIT THEN NULL ELSE n_chars END AS n_chars
         |FROM documents""".stripMargin,
    "q11_json_events_scan" ->
      s"""SELECT eventId AS event_id,
         |  make_timestamp(tsMillis * 1000) AS start_time,
         |  make_timestamp(CAST(floor(registrationMs) AS BIGINT) * 1000) AS registration,
         |  CAST(userIdStr AS INTEGER) AS user_id,
         |  eventKind AS event_type,
         |  valueNum AS value,
         |  propsJson AS props
         |FROM ${eventsReadJson(
              "eventId" -> "BIGINT", "tsMillis" -> "BIGINT",
              "registrationMs" -> "DOUBLE", "userIdStr" -> "VARCHAR",
              "eventKind" -> "VARCHAR", "valueNum" -> "DOUBLE",
              "propsJson" -> "VARCHAR")}""".stripMargin,
    "q12_json_songs_scan" ->
      s"""SELECT num_songs, artist_id,
         |  CAST(artist_latitude AS VARCHAR) AS artist_latitude,
         |  CAST(artist_longitude AS VARCHAR) AS artist_longitude,
         |  artist_location, artist_name, song_id, title,
         |  CAST(duration AS VARCHAR) AS duration, year
         |FROM $songsReadJson""".stripMargin,
    // An independent RFC-4180 parser over the same files; ignore_errors
    // drops exactly the lines the tolerant Spark scan quarantines.
    // Same tolerant CSV read, same broadcast-shaped dim join semantics,
    // same cents quantization and UNKNOWN bucket.
    "q190_federated_join" ->
      s"""WITH co AS (SELECT cust_id, priority,
         |    CAST(CAST(total AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM read_csv('${Fixtures.ordersCsvDir(oracleSf)}/*.csv',
         |    columns={'order_id':'BIGINT','cust_id':'BIGINT','status':'VARCHAR',
         |             'total':'DOUBLE','odate':'VARCHAR','priority':'VARCHAR',
         |             'comment':'VARCHAR'},
         |    header=false, quote='"', escape='"', nullstr='',
         |    ignore_errors=true)),
         |d AS (SELECT c_custkey, n_name FROM customer
         |  JOIN nation ON n_nationkey = c_nationkey)
         |SELECT COALESCE(n_name, 'UNKNOWN') AS nation, priority,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(cents) AS BIGINT) AS revenue_cents
         |FROM co LEFT JOIN d ON co.cust_id = d.c_custkey
         |GROUP BY 1, 2""".stripMargin,
    "q170_csv_scan" ->
      s"""SELECT order_id, cust_id, status, total,
         |  CAST(odate AS TIMESTAMP) AS odate, priority, comment
         |FROM read_csv('${Fixtures.ordersCsvDir(oracleSf)}/*.csv',
         |  columns={'order_id':'BIGINT','cust_id':'BIGINT','status':'VARCHAR',
         |           'total':'DOUBLE','odate':'VARCHAR','priority':'VARCHAR',
         |           'comment':'VARCHAR'},
         |  header=false, quote='"', escape='"', nullstr='',
         |  ignore_errors=true)""".stripMargin,
    // Same positional substrings over the same lines, read through
    // DuckDB's CSV reader with a delimiter the content never contains.
    "q224_fixed_width_scan" ->
      s"""SELECT CAST(substr(line, 1, 10) AS BIGINT) AS custkey,
         |  rtrim(substr(line, 11, 20)) AS name,
         |  CAST(substr(line, 31, 4) AS BIGINT) AS nationkey,
         |  rtrim(substr(line, 35, 10)) AS segment,
         |  CAST(substr(line, 45, 12) AS BIGINT) AS bal_cents
         |FROM read_csv('${Fixtures.customerFixedDir(oracleSf)}/*.txt',
         |  columns={'line':'VARCHAR'}, header=false, delim='|',
         |  quote='', escape='')""".stripMargin)
}
