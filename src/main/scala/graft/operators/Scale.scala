package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Scale patterns that only matter past a single node: skew-salted
  * aggregation and bucketed (co-located) joins.
  *
  * These are the Spark analogs of the reference's physical layout hints —
  * `diststyle even` spreads a skewless fact, but nothing in Redshift or
  * Spark saves a shuffle whose key histogram is pathological; salting does.
  * Bucketing is the `diststyle key` the reference never needed (its dims
  * were `all`-replicated) but a 100 TB fact-to-fact join does.
  */
object Scale {

  /** A write-once directory the engine wrote (versioned tables live in
    * `graft_cat`), with the schema of the frame written there (partition
    * columns last, the order a read returns them) and its file format.
    * Every read-back goes through [[read]], so it runs no schema-inference
    * job: the schema is the writer's, not a footer scan's. */
  final case class Layout(dir: String, schema: StructType, format: String = "parquet") {
    /** The whole layout, or only the named files in it, read with its
      * schema. */
    def read(spark: SparkSession, files: String*): DataFrame =
      spark.read.schema(schema).format(format)
        .load((if (files.isEmpty) Seq(dir) else files.map(f => s"$dir/$f")): _*)
  }

  /** Two-stage salted aggregation for skewed group keys.
    *
    * Stage 1 groups on (key, salt) — a hot key's rows land on `salts`
    * different reducers instead of one; stage 2 merges the partials per
    * key. Both stages are algebraic (count/sum), so the result is exactly
    * the direct aggregation's. The salt is derived from a uniform column
    * (not `rand()`) to keep the plan deterministic and retry-safe.
    *
    * Note Spark's map-side partial aggregation already handles *moderate*
    * skew; explicit salting is for the regime where even one reducer's
    * share of a single key exceeds executor memory — at 100 TB with a
    * 5-value key column, that is the default regime, not the exception. */
  def saltedAgg(df: DataFrame, key: Column, saltSource: Column, salts: Int)(
      aggs: (String, Column)*): DataFrame = {
    val stage1 = df
      .groupBy(key.as("k"), pmod(xxhash64(saltSource), lit(salts)).as("salt"))
      .agg(aggs.head._2.as(s"p_${aggs.head._1}"),
        aggs.tail.map { case (n, c) => c.as(s"p_$n") }: _*)
    val merged = aggs.map { case (n, _) => sum(col(s"p_$n")).as(n) }
    stage1.groupBy(col("k")).agg(merged.head, merged.tail: _*)
  }

  /** Salted skew JOIN — the join-shaped twin of [[saltedAgg]], for the
    * regime where the probe side's key histogram is pathological AND the
    * build side is too big to broadcast (a broadcast absorbs skew for
    * free — salting only earns its keep past that size). The build side
    * replicates `salts`× via an in-scan generator (rows materialize at the
    * shuffle, never on the driver); the probe side computes its salt from
    * a uniform column; the join keys become (key, salt), so a hot key's
    * probe rows spread over `salts` reducers instead of drowning one.
    * The salt columns drop before returning — results are exactly the
    * plain join's (the oracle gates that). AQE's skew split handles
    * moderate skew reactively; explicit salting is the plan-stable form
    * for known-pathological keys. Forced to a merge join so the physical
    * shape under test cannot silently degrade to a broadcast. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      probeSaltSource: Column, salts: Int): DataFrame = {
    val saltedProbe = probe.withColumn("_salt",
      pmod(xxhash64(probeSaltSource), lit(salts.toLong)))
    val saltedBuild = build.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1L))))
    saltedProbe.hint("merge")
      .join(saltedBuild, Seq(key, "_salt"))
      .drop("_salt")
  }

  /** Write both sides of a join bucketed on the join key (same bucket
    * count) into the session catalog — subsequent joins on that key are
    * exchange-free: each task reads matching buckets from both tables
    * (`diststyle key` co-location). Sort-by makes the merge join's sort a
    * no-op per bucket file.
    *
    * Idempotent like a real `CREATE TABLE … diststyle key`: callers tag the
    * table name with the data's identity (e.g. scale dir), and a build is
    * skipped when that table's bucketed files are already on disk — a fresh
    * session re-registers the metadata over the existing files instead of
    * rewriting them (bucket once, join many).
    *
    * `dataFingerprint` ties the layout to the INPUT data's identity (e.g.
    * [[dirFingerprint]] of the source dir): if the source parquet is ever
    * regenerated in place, the spec no longer matches and the bucketed
    * copy is rebuilt instead of silently serving stale rows. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      dataFingerprint: String = ""): Unit =
    // The on-disk layout is only reusable if it was written with THIS exact
    // spec — schema, key, and bucket count; any mismatch (changed bucket
    // count, changed projection) forces a rebuild instead of silently
    // attaching new metadata to an old physical layout. `1fpb` tags the
    // one-file-per-bucket layout (below) so layouts written before it
    // rebuild.
    writeCatalogOnce(df, table, "_graft_bucket_spec",
      s"${df.schema.toDDL}|$key|$buckets|1fpb|$dataFingerprint",
      s"""CREATE TABLE $table (${df.schema.toDDL}) USING PARQUET
         |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS""".stripMargin) {
      // ONE FILE PER BUCKET: a reader may only treat a bucket as sorted when
      // the bucket is a single file — with the default many-writer layout
      // (each task emits its own file per bucket) every bucketed merge join
      // re-sorts both sides, defeating half the layout. repartition on the
      // bucket key with numPartitions = buckets uses the same Murmur3
      // hash-mod the bucket assignment uses, so each write task holds
      // exactly one bucket and sortBy yields a genuinely sorted bucket the
      // join consumes sort-free (PlanSpec pins zero Sort under q29's join).
      df.repartition(buckets, col(key)).write.bucketBy(buckets, key).sortBy(key)
        .mode("overwrite").saveAsTable(table)
    }

  /** Plain write-once CATALOG table — [[writeBucketed]] without the bucket
    * layout: the same spec-file gating and fresh-session re-attach, but
    * registered flat. Exists for the metadata surface a path scan cannot
    * offer: `ANALYZE TABLE` persists row/column statistics into the
    * catalog entry, which is what stats-driven planning (q239) consumes.
    * Data identity discipline is identical — a regenerated source parquet
    * flips the fingerprint and forces a rebuild. */
  def writeTable(df: DataFrame, table: String, dataFingerprint: String = ""): Unit =
    writeCatalogOnce(df, table, "_graft_table_spec",
      s"${df.schema.toDDL}|$dataFingerprint",
      s"CREATE TABLE $table (${df.schema.toDDL}) USING PARQUET") {
      df.write.mode("overwrite").saveAsTable(table)
    }

  /** The write-once gate every layout writer shares. The layout lives at
    * `<warehouse>/<table>`; a `specName` file beside its `_SUCCESS`
    * records the spec it was written under. When both are there and the
    * spec matches, the files are reused as they are (`reuse`); otherwise
    * the location is cleared, `write` lays the data out there, and the
    * spec is recorded. Returns the location. */
  private def writeOnceAt(df: DataFrame, table: String, specName: String,
      spec: String)(reuse: java.nio.file.Path => Unit)(
      write: java.nio.file.Path => Unit): java.nio.file.Path = {
    val loc = java.nio.file.Paths.get(new java.net.URI(
      df.sparkSession.conf.get("spark.sql.warehouse.dir")).getPath, table)
    val specFile = loc.resolve(specName)
    val intact = java.nio.file.Files.exists(loc.resolve("_SUCCESS")) &&
      java.nio.file.Files.exists(specFile) &&
      new String(java.nio.file.Files.readAllBytes(specFile), "UTF-8") == spec
    if (intact) reuse(loc)
    else {
      deleteRecursively(loc)
      write(loc)
      java.nio.file.Files.write(specFile, spec.getBytes("UTF-8"))
    }
    loc
  }

  /** [[writeOnceAt]] for a session-catalog table. Intact files from a
    * previous session are re-attached by `createDdl` at the same location
    * (only the in-memory catalog forgot them); a rebuild drops the old
    * table first and `save`s a new one. */
  private def writeCatalogOnce(df: DataFrame, table: String,
      specName: String, spec: String, createDdl: String)(save: => Unit): Unit = {
    val spark = df.sparkSession
    writeOnceAt(df, table, specName, spec) { loc =>
      if (!spark.catalog.tableExists(table))
        spark.sql(s"$createDdl\nLOCATION '${loc.toUri}'")
    } { _ =>
      spark.sql(s"DROP TABLE IF EXISTS $table")
      save
    }
  }

  /** Idempotent `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS …`: a scan
    * of the table per SESSION at most (the in-memory catalog forgets stats
    * with the session; within one it is a metadata no-op when row stats
    * and every requested column's stats are already present). This is the
    * Spark analog of Redshift's auto-ANALYZE feeding its planner — the
    * role SURVEY §4 assigns to Catalyst, made explicit here so a plan can
    * legitimately DEPEND on statistics (q239's broadcast decision). */
  def ensureAnalyzed(spark: org.apache.spark.sql.SparkSession, table: String,
      cols: Seq[String]): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val have = meta.stats.exists(st =>
      st.rowCount.isDefined && cols.forall(st.colStats.contains))
    if (!have)
      spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS " +
        cols.mkString(", "))
  }

  /** The catalog's total-size statistic for an analyzed table (file bytes
    * — what the planner's size estimate starts from). */
  def tableSizeInBytes(spark: org.apache.spark.sql.SparkSession,
      table: String): BigInt =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
      .stats.map(_.sizeInBytes)
      .getOrElse(throw new IllegalStateException(s"$table has no stats"))

  /** Hive-style partitioned write (write-once, like [[writeBucketed]]):
    * lays the DataFrame out as `<warehouse>/<table>/<partKey>=<value>/...`
    * so a reader's partition-key predicate prunes whole directories at
    * planning time (PartitionFilters) — the Spark analog of the date/tenant
    * partition layout every 100 TB corpus uses to avoid full scans. Returns
    * the [[Layout]] to read back. Same spec-file gating: schema, key, or
    * data-fingerprint drift forces a rebuild, a fresh session over intact
    * files skips it. */
  def writePartitioned(df: DataFrame, table: String, partKey: String,
      dataFingerprint: String = ""): Layout = {
    val loc = writeOnceAt(df, table, "_graft_part_spec",
      s"${df.schema.toDDL}|$partKey|$dataFingerprint")(_ => ()) { loc =>
      df.write.partitionBy(partKey).mode("overwrite").parquet(loc.toString)
    }
    val (parts, data) = df.schema.partition(_.name == partKey)
    Layout(loc.toString, StructType(data ++ parts))
  }

  /** Small-files compaction (write-once): rewrite a table into
    * ~`targetBytes`-sized files, with the file count derived from
    * Catalyst's size ESTIMATE (`optimizedPlan.stats.sizeInBytes` — file
    * sizes scaled by the pruned-schema defaultSize ratio, so it is
    * directionally right but can miss actual bytes by a wide factor on
    * string-heavy schemas; right-sizing to compressed output bytes needs
    * a post-write pass or table statistics). The classic
    * layout-maintenance pass: a 100 TB table accreted from thousands of
    * micro-batches reads far slower through a million tiny files
    * (task-per-file scheduling, footer overhead) than through right-sized
    * ones; conversely one giant file caps scan parallelism.
    * `repartition(n)` (round-robin) balances output sizes; the write is
    * gated through [[writeOnce]]. Returns the [[Layout]]. */
  def compact(df: DataFrame, table: String, targetBytes: Long,
      dataFingerprint: String = ""): Layout = {
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Clamp before toInt: a stats fallback (defaultSizeInBytes can be
    // Long.MaxValue) must degrade to "many partitions", never wrap through
    // BigInt.toInt into a garbage (or 1-file) count.
    val n = ((estBytes + targetBytes - 1) / targetBytes)
      .min(BigInt(1 << 20)).toInt.max(1)
    writeOnce(df.repartition(n), table, s"compact=$targetBytes|$dataFingerprint")
  }

  /** Plain write-once materialization (parquet by default; `format` opens
    * it to Spark's other native columnar/row formats, e.g. "orc" for the
    * q237 ingest-matrix entry): rewrite only when the spec (schema +
    * format + caller-supplied identity, e.g. a [[dirFingerprint]]) does
    * not match what is on disk. The minimal member of the write-once
    * family ([[writeBucketed]]/[[writePartitioned]]/[[compact]] add their
    * layout knobs to the spec). A non-parquet format joins the spec
    * string (a format flip must rebuild, not serve the old bytes);
    * parquet keeps the legacy spec form so existing layouts stay intact.
    * Returns the [[Layout]]. */
  def writeOnce(df: DataFrame, table: String, dataFingerprint: String,
      format: String = "parquet"): Layout = {
    val fmtKey = if (format == "parquet") "" else s"format=$format|"
    val loc = writeOnceAt(df, table, "_graft_spec",
      s"${df.schema.toDDL}|$fmtKey$dataFingerprint")(_ => ()) { loc =>
      df.write.mode("overwrite").format(format).save(loc.toString)
    }
    Layout(loc.toString, df.schema, format)
  }

  /** Z-order (Morton) interleave of two non-negative int columns, `bits`
    * bits each → one long sort key. Sorting by z clusters rows that are
    * close in BOTH dimensions into the same parquet row groups, so
    * min/max row-group statistics prune selective 2-D range scans that a
    * single-column sort order cannot — the lakehouse OPTIMIZE ZORDER
    * technique, as a pure column expression (16 shift/mask terms per
    * dimension, codegen'd; identical integer math in the oracle).
    * `bits` ≤ 31 (bit 2·31+1 = 63 would reach the sign bit and break the
    * sort order); coordinate bits above `bits` are TRUNCATED — callers
    * must pick `bits` covering their coordinate domain. */
  def zOrder2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31,
      s"zOrder2 bits must be in [1,31] (got $bits): bit 2*bits+1 must stay below the sign bit")
    (0 until bits).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)): Column
    }.reduce(_ + _)
  }

  /** The same interleave in DuckDB SQL over expressions `a`/`b`. */
  def zOrder2Sql(a: String, b: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"(((($a) >> $i) & 1) << ${2 * i}) + (((($b) >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** HILBERT curve index of a 2-D point — the space-filling curve whose
    * consecutive cells are always MANHATTAN-ADJACENT (proved exhaustively
    * in OperationalSpec), which Z-order's diagonal jumps are not: runs of
    * h-sorted rows cover tighter 2-D rectangles, so row-group min/max
    * stats prune better for the same 2-D range probes. Classic iterative
    * xy→d transform (Warren, Hacker's Delight §16; the quadrant-rotation
    * recurrence): per level, the quadrant index pays s²·((3·rx) xor ry)
    * and the lower bits are rotated/reflected into the quadrant's frame.
    *
    * Runs as the native `hilbert2` expression
    * ([[graft.functions.HilbertIndexExpr]]), one codegen loop per row whose
    * values are [[hilbert2Jvm]]'s. Pure integer arithmetic on
    * non-negatives — deterministic everywhere, replayed by the oracle as
    * an unrolled CTE chain ([[hilbert2Ctes]]). Coordinates are truncated
    * to `bits` bits, matching zOrder2's contract; d < 4^bits so bits ≤ 31
    * stays in BIGINT. */
  def hilbert2(a: Column, b: Column, bits: Int = 16): Column =
    graft.GraftExtensions.call("hilbert2",
      a.cast(org.apache.spark.sql.types.LongType),
      b.cast(org.apache.spark.sql.types.LongType), lit(bits))

  /** JVM twin of [[hilbert2]] — spec-side ground truth. */
  def hilbert2Jvm(a: Long, b: Long, bits: Int): Long = {
    val n1 = (1L << bits) - 1
    var x = a & n1; var y = b & n1
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n1 - x; y = n1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** The same transform as an unrolled DuckDB CTE chain: `baseCte` must
    * yield columns `x0`, `y0` (non-negative, already truncated) plus any
    * pass-through columns; the returned text appends one CTE per level
    * and ends with a `SELECT *` exposing `h`. A single nested expression
    * would grow 3^bits nodes — the chain stays linear in bits. */
  def hilbert2Ctes(baseCte: String, bits: Int = 16): String = {
    val levels = (0 until bits).map { i =>
      // the reflection uses the FULL grid size n−1, not s−1: that is the
      // variant whose intermediates stay in [0, n) — and therefore the
      // only one whose //-and-% replay is engine-independent (C-style %
      // on a negative coordinate diverges from floor-%)
      val s = 1L << (bits - 1 - i)
      val (px, py, pd) = (s"x$i", s"y$i", if (i == 0) "CAST(0 AS BIGINT)" else s"d$i")
      val rx = s"(($px // $s) % 2)"
      val ry = s"(($py // $s) % 2)"
      val n1 = (1L << bits) - 1
      s"""h${i + 1} AS (SELECT * EXCLUDE ($px, $py${if (i == 0) "" else s", d$i"}),
         |  CASE WHEN $ry = 1 THEN $px
         |       WHEN $rx = 1 THEN $n1 - $py ELSE $py END AS x${i + 1},
         |  CASE WHEN $ry = 1 THEN $py
         |       WHEN $rx = 1 THEN $n1 - $px ELSE $px END AS y${i + 1},
         |  $pd + ${s * s} * ($rx * (3 - $ry) + (1 - $rx) * $ry) AS d${i + 1}
         |  FROM h$i)""".stripMargin
    }
    s"""WITH h0 AS ($baseCte),
       |${levels.mkString(",\n")}
       |SELECT * EXCLUDE (x$bits, y$bits, d$bits), d$bits AS h FROM h$bits""".stripMargin
  }

  /** Recursive local-filesystem delete (children before parents); no-op on
    * a missing path. The one shared copy of the idiom for every write-once
    * layout. */
  def deleteRecursively(loc: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(loc))
      java.nio.file.Files.walk(loc)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))

  /** Cheap identity digest of the files under `dirs` (name, size, mtime of
    * each regular file) — driver-side metadata only, no data read. Feed to
    * [[writeBucketed]] so regenerated source data invalidates derived
    * bucketed layouts. */
  def dirFingerprint(dirs: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    dirs.foreach { d =>
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .sorted()
          .forEach { f =>
            md.update(
              s"${p.relativize(f)}|${java.nio.file.Files.size(f)}|${java.nio.file.Files.getLastModifiedTime(f).toMillis}\n"
                .getBytes("UTF-8"))
          }
        finally s.close()
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
