package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim

import graft.sources.SeriesSource

/** Driver-visible evidence for the `graft-series` connector's planning
  * ladder (q258–q261) — the `streaming_r14.json` discipline applied to
  * the DSv2 surface: each contract measured on real runs with the
  * source-side counters, committed as one artifact.
  *
  *  - STATIC PUSHDOWN: a quarter-range filter over a 4M series emits
  *    exactly the residual rows and plans 8/32 slices;
  *  - AGGREGATE PUSHDOWN: count/min/max/sum over a 30M range emits one
  *    partial row per planned slice (≈20), not 30M;
  *  - RUNTIME FILTERING: joining 4M ids with the five region-2 keys
  *    emits five rows;
  *  - STORAGE-PARTITIONED JOIN: the (id, slice) self-join's
  *    shuffle-write records drop to ZERO with v2 bucketing on (only the
  *    downstream aggregation shuffles), vs both 1M-row legs shuffling
  *    with it off.
  *
  * Every arm's ANSWER is checked before its measurement is recorded
  * (the AsofEvidence rule: the thing being measured must be invisible
  * in the result). Usage: `runMain graft.ConnectorEvidence [outFile]`.
  */
object ConnectorEvidence {

  def main(args: Array[String]): Unit = {
    val outFile = if (args.length > 0) args(0)
      else "work/connector_evidence_r14.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = "/root/testdata/sf0.001" // nation feeds the runtime-filter dim

    val shuffleRecords = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffleRecords.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    })
    def series(end: Long) = spark.read.format("graft-series")
      .option("end", end).option("slices", 32).load()

    // ---- static pushdown ----
    val sp = {
      val df = series(4000000L)
        .filter(col("id") >= 1500000L && col("id") < 2500000L)
      val parts = df.rdd.getNumPartitions
      SeriesSource.rowsEmitted.set(0)
      // a derived-column SUM rides along so the aggregate pushdown
      // declines (a bare count(*) would itself be absorbed — even this
      // evidence main got caught by its own connector's pushdown) and
      // the rows genuinely scan
      val n = df.select((col("id") % 7L).as("m"))
        .agg(count(lit(1)), sum(col("m"))).head().getLong(0)
      require(n == 1000000L, s"static-pushdown answer wrong: $n")
      s"""{"declared_ids": 4000000, "partitions_planned": $parts,
         | "rows_emitted": ${SeriesSource.rowsEmitted.get}}""".stripMargin
    }

    // ---- aggregate pushdown ----
    val ap = {
      SeriesSource.rowsEmitted.set(0)
      val r = series(50000000L)
        .filter(col("id") >= 10000000L && col("id") < 40000000L)
        .agg(count(lit(1)), min(col("id")), max(col("id")), sum(col("id")))
        .head()
      require(r.getLong(0) == 30000000L && r.getLong(1) == 10000000L,
        "agg-pushdown answer wrong")
      s"""{"ids_aggregated": 30000000,
         | "rows_emitted": ${SeriesSource.rowsEmitted.get}}""".stripMargin
    }

    // ---- runtime filtering ----
    val rf = {
      val dim = Tables.nation(spark, d).filter(col("n_regionkey") === 2)
        .select((graft.operators.TextOps.hash60(
          concat(lit("rf:"), col("n_nationkey").cast("string"))) % 4000000L)
          .as("wid")).distinct()
      val nKeys = dim.count()
      SeriesSource.rowsEmitted.set(0)
      val got = series(4000000L).select(col("id"))
        .join(dim, col("id") === col("wid")).count()
      require(got == nKeys, s"runtime-filter answer wrong: $got vs $nKeys")
      s"""{"series_ids": 4000000, "build_keys": $nKeys,
         | "rows_emitted": ${SeriesSource.rowsEmitted.get}}""".stripMargin
    }

    // ---- storage-partitioned join ----
    val spj = {
      def leg(tag: String) = series(1000000L)
        .select(col("id").as(s"${tag}id"), col("slice").as(s"${tag}slice"))
      def run(): Long = {
        val j = leg("a").join(leg("b"),
          col("aid") === col("bid") && col("aslice") === col("bslice"))
          .agg(count(lit(1)))
        GraftSqlShim.drainListenerBus(spark.sparkContext)
        shuffleRecords.set(0)
        val n = j.head().getLong(0)
        require(n == 1000000L, s"SPJ answer wrong: $n")
        GraftSqlShim.drainListenerBus(spark.sparkContext)
        shuffleRecords.get
      }
      val off = run()
      val on = SessionConf.withValue(spark,
          "spark.sql.sources.v2.bucketing.enabled", "true") {
        SessionConf.withValue(spark,
            "spark.sql.requireAllClusterKeysForCoPartition", "false") {
          run()
        }
      }
      s"""{"rows_per_leg": 1000000, "shuffle_records_bucketing_off": $off,
         | "shuffle_records_bucketing_on": $on}""".stripMargin
    }

    // ---- limit / top-N / offset pushdown ----
    val paging = {
      SeriesSource.rowsEmitted.set(0)
      val topn = series(8000000L).select(col("id"))
        .orderBy(col("id").desc).limit(7)
        .collect().map(_.getLong(0))
      require(topn.head == 7999999L && topn.length == 7,
        s"top-N answer wrong: ${topn.toSeq}")
      val topEmitted = SeriesSource.rowsEmitted.get
      SeriesSource.rowsEmitted.set(0)
      val page = series(2000000L).select(col("id")).orderBy(col("id"))
        .offset(1000000).limit(500).collect()
      require(page.length == 500 && page.head.getLong(0) == 1000000L,
        "deep-page answer wrong")
      val pageEmitted = SeriesSource.rowsEmitted.get
      s"""{"topn_over_ids": 8000000, "topn_rows_emitted": $topEmitted,
         | "deep_page_offset": 1000000, "page_rows_emitted": $pageEmitted}"""
        .stripMargin
    }

    val json =
      s"""{"probe": "graft.ConnectorEvidence — the graft-series DSv2 planning ladder, measured with source-side counters; every arm's answer verified before its measurement is recorded",
         | "static_pushdown": $sp,
         | "aggregate_pushdown": $ap,
         | "runtime_filtering": $rf,
         | "paging_pushdown": $paging,
         | "storage_partitioned_join": $spj,
         | "note": "rows_emitted counts rows leaving the source's readers. SPJ: the residual shuffle records with bucketing on are the final single-row aggregate's, not the join's — both 1M-row legs stopped shuffling."}""".stripMargin
    Evidence.writeArtifact(outFile, json)
    spark.stop()
  }
}
