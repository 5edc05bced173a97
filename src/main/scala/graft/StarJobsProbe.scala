package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Driver-job budget probe for q191's contraction loop — the evidence main
  * behind `work/ab_q191_terminal.json` (round-13 verdict #5: derive the
  * fixpoint's set-equality from the same job that materializes the round,
  * deleting the terminal round's standalone `except` job).
  *
  * Builds exactly q191's order-chain graph at `sfDir`, counts SCHEDULED
  * JOBS during [[graft.operators.Graph.starContractComponents]] with a
  * SparkListener, and prints one JSON line {rounds, jobs, sec}. Driver
  * jobs are the scheduler round-trips an iterative loop pays per round —
  * on a busy 1000-executor cluster each is real latency, which is why the
  * loop's budget is pinned (OperationalSpec) and measured here, not
  * guessed. Listener delivery is async; the probe drains the listener bus
  * after the run so the counter has settled.
  *
  * Usage: `runMain graft.StarJobsProbe [sfDir]` (default sf0.1).
  */
object StarJobsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.expressions.Window

    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val chain = ord.withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("o_orderkey").as("src"), col("nxt").as("dst"))
      .localCheckpoint(true) // the chain build's jobs stay out of the count

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (sys.env.contains("SPARK_GRAFT_PROBE_VERBOSE"))
          System.err.println(s"[probe] job ${s.jobId} stages=${s.stageInfos.size} " +
            s.stageInfos.map(si => si.name.take(40)).mkString(" | "))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val (labels, rounds) =
      graft.operators.Graph.starContractComponents(chain, 25,
        adaptiveLoop = false) // match q191's production call (r18 opt)
    labels.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.graftshim.GraftSqlShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    println(s"""{"sf":"$sfDir","rounds":$rounds,"jobs":${jobs.get},""" +
      f""""sec":$sec%.3f}""")
    spark.stop()
  }
}
