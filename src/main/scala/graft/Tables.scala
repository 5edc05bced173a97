package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

import graft.schemas.Schemas

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * At cluster scale these would be `spark.read.parquet("s3a://bucket/table/")`
  * over partitioned directories; the API is path-based so the same code runs
  * on a 1000-executor cluster. Filters/projections applied by callers are
  * pushed into the parquet scan by Catalyst (PushedFilters / ReadSchema).
  *
  * Every load reads with the table's declared schema ([[Schemas.tables]]),
  * so building a query runs no schema-inference job. `events` is the one
  * table whose layout varies: its `ts` column's type comes from the footer
  * of the table's first data file, read on the driver (see [[load]]).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `name` under `dir`, read with its declared schema. For `events`, the
    * declared `ts` type is replaced by the one the data carries: the
    * testdata ships TIMESTAMP(MICROS) without a zone (TIMESTAMP_NTZ), an
    * output directory written by Spark from epoch nanos carries plain
    * INT64 (LongType), and the NANOS-annotated layout reads as LongType
    * under the session's `nanosAsLong`. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val declared = Schemas.tables(name)
    val schema =
      if (name != "events") declared
      else {
        ensureNanosConf(spark)
        StructType(declared.map(f =>
          if (f.name == "ts") f.copy(dataType = footerType(spark, path, "ts")) else f))
      }
    spark.read.schema(schema).parquet(path)
  }

  /** `name` registered as the session temp view `graft_<name>_<scale tag>`
    * over its declared-schema [[load]]; returns the view name. SQL text
    * reads a table through it, where a `parquet.`…`` path scan would
    * infer the schema again on every analysis. */
  def view(spark: SparkSession, dir: String, name: String): String = {
    val v = s"graft_${name}_${ScaleQueries.sfTag(dir)}"
    load(spark, dir, name).createOrReplaceTempView(v)
    v
  }

  /** The Spark type the session would infer for `column` of the parquet
    * table at `path`, from the footer schema of its first data file
    * ([[graft.sources.Footers.schema]]: no Spark job). The session's
    * conversion settings (`nanosAsLong`, NTZ inference) apply as they
    * would to inference. */
  private[graft] def footerType(spark: SparkSession, path: String, column: String): DataType =
    new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(graft.sources.Footers.schema(spark, path))(column).dataType

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `documents`, hash-distributed on doc_id before CPU-dense per-doc work
    * (fingerprints, shingling, minhash). Scans are only as parallel as the
    * input's row groups; a fingerprint stage is compute-bound, not
    * scan-bound, so rebalancing a few bytes per doc across all cores before
    * hashing is the standard cluster move (the shuffle moves the raw text
    * once — far cheaper than serializing the hash work on a few tasks). */
  def documentsDistributed(s: SparkSession, d: String): DataFrame =
    // via spreadForCompute, NOT a bare keyed repartition (r19 opt): a
    // repartition without an explicit count is fair game for AQE's
    // byte-based coalescing, which squeezed these CPU-dense per-doc
    // stages back to ONE task on the small-bytes local corpus (q84's
    // candidate build: 1.2 s serial). The explicit count is AQE-stable,
    // and the helper keeps it a no-op on cluster-scale inputs.
    spreadForCompute(documents(s, d),
      org.apache.spark.sql.functions.col("doc_id"))

  /** Layout-adaptive rebalance for COMPUTE-BOUND map-side pipelines.
    *
    * Parquet row groups are the scan-split floor: a single-row-group file
    * scans as ONE task no matter the session's core count, so any CPU-dense
    * work fused into that scan stage (in-row generators, partial
    * aggregation, per-row hashing, decimal arithmetic) serializes on one
    * core. When the scan already carries at least the session's default
    * parallelism — the cluster case: thousands of row groups — this is a
    * NO-OP and the plan keeps its in-scan shape with zero extra exchanges.
    * Only when the scan is NARROWER than the core budget does it pay one
    * keyed exchange of the (caller-projected) input to put every core to
    * work: the [[documentsDistributed]] rationale, made conditional on the
    * actual input layout instead of unconditional. Callers project to the
    * needed columns FIRST so the rebalance moves minimal bytes, and key it
    * by a high-cardinality column set so the spread is even.
    *
    * The check reads the physical scan's partition count (file splits ×
    * row-group placement — deterministic for fixed data + conf); it runs
    * no job. Results are partitioning-independent for every caller (all
    * are keyed aggregations / generators gated by the DuckDB oracle). */
  def spreadForCompute(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    require(keys.nonEmpty, "spreadForCompute needs explicit distribution keys")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, keys: _*)
  }

  /** `events` with `ts` surfaced as a microsecond TimestampType column,
    * whatever physical type the parquet carries. The driver's generator has
    * shipped two layouts across rounds:
    *  - TIMESTAMP(NANOS): Spark's reader rejects it outright, so the session
    *    conf (set in [[GraftSession]], re-asserted by [[load]]) reads the raw int64
    *    nanos and we floor-divide to micros ([[Epoch.floorDiv]] — matches
    *    DuckDB's ns→timestamp cast for pre-1970 instants too);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers TIMESTAMP_NTZ;
    *    under the session's pinned UTC zone the NTZ→TZ cast is wall-clock and
    *    instant preserving, and DuckDB reads the same column as its naive
    *    TIMESTAMP — both sides see identical microsecond values.
    * Branching on the footer-resolved dtype (not an env flag) keeps every
    * query correct against either generation of testdata.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(Epoch.floorDiv(col("ts"), 1000L)))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Raw variant with `ts` as int64 epoch NANOSECONDS — the contract the
    * epoch-arithmetic queries (q05) and fixture builders are written against.
    * When the parquet already carries a timestamp, the nanos are synthesized
    * as `unix_micros(ts) * 1000` (exact: micros ≈ 1.7e15, ×1000 is far below
    * Long.MaxValue; the generator's instants have no sub-microsecond part to
    * lose). */
  def eventsRawNanos(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case _ =>
        raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    }
  }

  /** [[GraftSession]] sets `nanosAsLong` at build time for all our mains and
    * tests; the driver, however, calls `SparkEntry.entry` with its OWN
    * session, so events loads keep this idempotent fallback (always the same
    * value — never toggled — so concurrent query building cannot race it). */
  private def ensureNanosConf(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ != "true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
}
