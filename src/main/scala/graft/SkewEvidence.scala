package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim

import graft.operators.Scale

/** Skew-stress A/B for the two-stage salt path (round-13 verdict #4):
  * q119's salted join is plan-pinned and result-gated, but until now never
  * exercised against ACTUAL skew at bench scale. This main builds a
  * deliberately Zipf-skewed key over the sf0.1 lineitem rows with
  * deterministic hash arithmetic (q187's discipline — no rand()):
  * u = (xxhash64 mod 2^20 + 0.5) / 2^20,  k = floor(1/u)
  * so P(k=1) ≈ 1/2 — one key owns half the corpus, the tail is power-law —
  * and joins it to a per-key dim (too structured to pre-aggregate away,
  * pinned off the broadcast path by q119's merge-hint discipline so the
  * physical regime under test cannot silently degrade).
  *
  * Why the JOIN is the honest demonstration target, measured not assumed:
  * a plain algebraic aggregation NEVER skews (map-side partial combine
  * collapses the hot key to one row per map task before the exchange),
  * and Spark's two-phase distinct rewrite spreads count(DISTINCT v)'s
  * first exchange over (k, v) — this main's earlier countDistinct variant
  * measured max reducer share ≈ 0.25 vs the key's 0.50, i.e. already
  * mitigated. A join has no combine: every probe row rides the exchange
  * keyed by k, so the hot key's half of the corpus lands on ONE reducer —
  * unless the salt spreads it. AQE's reactive skew split
  * (OptimizeSkewedJoin) stays inert in the first two arms by its own byte
  * thresholds (256 MB default — the honest local regime); a THIRD arm
  * (q244's regime: scoped toy-scale rulers + a 64-map-task probe layout)
  * measures the reactive split against the same data. At any scale the
  * salt remains the plan-stable proactive form with a deterministic
  * bound: largest reducer's share ≈ hot_key_share / salts.
  *
  * Per arm: min-of-N wall seconds and the max single-task share of
  * shuffle-read records in the run's most skewed stage (SparkListener
  * task metrics). Both arms' joined outputs are checked equal (count +
  * order-independent xor checksum) before the artifact is written.
  *
  * Usage: `runMain graft.SkewEvidence [sfDir] [outFile]`
  * (defaults: /root/testdata/sf0.1, work/skew_ab_r13.json).
  */
object SkewEvidence {

  private val SALTS = 16

  /** (k, v): Zipf-skewed key, near-unique payload — pure hash arithmetic
    * over the row identity, deterministic on any cluster. */
  private def skewed(df: DataFrame): DataFrame =
    df.select(
        floor(lit(1.0) /
          ((pmod(xxhash64(col("l_orderkey"), col("l_linenumber")),
            lit(1048576L)).cast("double") + 0.5) / 1048576.0)).as("k"),
        xxhash64(col("l_orderkey"), col("l_linenumber"), lit("v")).as("v"))

  /** q119's regime: per-key dim, forced off the broadcast path. */
  private def dimOf(base: DataFrame): DataFrame =
    base.groupBy(col("k")).agg(count(lit(1)).as("key_rows"))

  private def unsalted(base: DataFrame, dim: DataFrame): DataFrame =
    base.hint("merge").join(dim, Seq("k"))

  private def salted(base: DataFrame, dim: DataFrame): DataFrame =
    Scale.saltedJoin(base, dim, "k", probeSaltSource = col("v"), SALTS)

  /** Order-independent result checksum: (rows, xor of row hashes). */
  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      expr("bit_xor(xxhash64(k, v, key_rows))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val sf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outFile = if (args.length > 1) args(1) else "work/skew_ab_r13.json"
    val iters = sys.env.getOrElse("SPARK_GRAFT_AB_ITERS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = skewed(Tables.lineitem(spark, sf)).localCheckpoint(true)
    val dim = dimOf(base).localCheckpoint(true)
    val nRows = base.count()
    val hotShare = base.filter(col("k") === 1).count().toDouble / nRows

    // stageId -> shuffle-read records per finished task
    val stageReads = new ConcurrentHashMap[Int, java.util.List[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null &&
            t.taskMetrics.shuffleReadMetrics.recordsRead > 0) {
          stageReads
            .computeIfAbsent(t.stageId,
              _ => java.util.Collections.synchronizedList(
                new java.util.ArrayList[Long]()))
            .add(t.taskMetrics.shuffleReadMetrics.recordsRead)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // Both arms measure KEY-level concentration, which two toy-scale
    // effects would otherwise blur: (1) AQE partition coalescing packs
    // adjacent small reducers up to the advisory byte size — at local row
    // widths that is ~100k records per task, an artifact that vanishes at
    // 100 TB where every reducer exceeds the advisory; it can only MERGE
    // partitions, never split the unsalted hot one, so disabling it
    // changes neither arm's skew exposure, only the measurement's
    // resolution. (2) At few reducers, two salt buckets hashing into one
    // partition reads as share inflation — 128 reducers keep that
    // collision noise under the bound being demonstrated. The unsalted
    // arm's number is partition-count-independent either way: the hot key
    // is ONE hash bucket at any np. Same confs, both arms.
    def arm(probe: DataFrame,
        build: (DataFrame, DataFrame) => DataFrame): (Double, Double, Long) =
      SessionConf.withValue(spark,
          "spark.sql.adaptive.coalescePartitions.enabled", "false") {
      SessionConf.withValue(spark, "spark.sql.shuffle.partitions", "128") {
      var best = Double.MaxValue
      var share = 0.0
      var hotRecords = 0L
      for (_ <- 1 to iters) {
        GraftSqlShim.drainListenerBus(spark.sparkContext)
        stageReads.clear()
        val t0 = System.nanoTime()
        build(probe, dim).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        GraftSqlShim.drainListenerBus(spark.sparkContext)
        if (sec < best) best = sec
        // the most skewed shuffle-read stage of this run: the one holding
        // the largest single-task read
        import scala.jdk.CollectionConverters._
        val stages = stageReads.asScala.map { case (_, l) =>
          val v = l.asScala.map(_.longValue).toSeq
          (v.max, v.sum)
        }
        if (stages.nonEmpty) {
          val (mx, tot) = stages.maxBy(_._1)
          if (mx.toDouble / tot > share) { share = mx.toDouble / tot; hotRecords = mx }
        }
      }
      (best, share, hotRecords)
      }
      }

    // Reactive arm prep: AQE's split granularity is PER MAP OUTPUT, so a
    // single-split local parquet cannot be split at all — manufacture the
    // many-mapper layout a cluster fact side has anyway (64 map tasks),
    // OUTSIDE the measured arms, exactly like base/dim materialization.
    val baseMany = base.repartition(64).localCheckpoint(true)
    def aqeJoin(b: DataFrame, d2: DataFrame): DataFrame =
      b.hint("merge").join(d2, Seq("k"))

    val (cA, cB) = (checksum(unsalted(base, dim)), checksum(salted(base, dim)))
    // checksum + timing arms run INSIDE the skew-conf scope: the split is
    // a runtime decision, so the confs must be live at EXECUTION time
    val cC = ScaleQueries.withSkewConf(spark, on = true) {
      checksum(aqeJoin(baseMany, dim))
    }
    val equal = cA == cB && cA == cC

    val (sU, shU, hrU) = arm(base, unsalted)
    val (sS, shS, hrS) = arm(base, salted)
    val (sA, shA, hrA) = ScaleQueries.withSkewConf(spark, on = true) {
      arm(baseMany, aqeJoin)
    }
    spark.sparkContext.removeSparkListener(listener)

    val json =
      f"""{"probe":"graft.SkewEvidence — merge join to a per-key dim over a Zipf key (P(k=1)≈0.5) on $sf lineitem, local[$cpus%s], min of $iters%d, salts=$SALTS%d",
         |"rows":$nRows%d,"hot_key_share":$hotShare%.4f,"results_equal":$equal%b,
         |"unsalted":{"sec":$sU%.3f,"max_reducer_share":$shU%.4f,"max_task_shuffle_records":$hrU%d},
         |"salted":{"sec":$sS%.3f,"max_reducer_share":$shS%.4f,"max_task_shuffle_records":$hrS%d},
         |"aqe_split":{"sec":$sA%.3f,"max_reducer_share":$shA%.4f,"max_task_shuffle_records":$hrA%d},
         |"note":"max_reducer_share is the largest single-task fraction of shuffle-read records in the run's most skewed stage; the salted bound is ≈ hot_key_share/salts. The JOIN is the honest target: algebraic aggs never skew (map-side combine) and Spark's two-phase distinct rewrite already spreads count(DISTINCT) — measured 0.25 share vs the key's 0.50 — while a join moves every probe row keyed by k. Both arms run with AQE coalescing off and 128 reducers so toy-scale packing and salt-bucket hash collisions do not blur the key-level share (coalescing can merge but never split the unsalted hot partition). The aqe_split arm is q244's REACTIVE alternative under the same scoped toy-scale rulers (32KB skew threshold, 16KB advisory for the 256MB/64MB cluster defaults), with the probe pre-laid into 64 map tasks because OptimizeSkewedJoin splits at per-map-output granularity — a cluster fact side has that layout for free; its share bound is ≈ advisory-chunk/total rather than hot/salts. Salting remains the plan-stable PROACTIVE form: it needs no runtime stats and survives any downstream distribution requirement; the AQE split is the engine catching skew it did not see coming."}""".stripMargin
    Evidence.writeArtifact(outFile, json)
    spark.stop()
    if (!(equal && shS < shU && shA < shU)) sys.exit(1)
  }
}
