package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.GraftSqlShim

/** Builder-side job budgets: the Spark jobs a query runs inside
  * `fn(spark, sf)`, before its plan executes (schema reads, layout writes,
  * commits, collects). Job counts are deterministic for fixed data and
  * conf, so each budget is pinned exactly; a change that adds or removes a
  * builder job updates its pin here. Only builder jobs are counted: an
  * AQE execution can start a broadcast job before its shuffle stage in one
  * run and not in another, so execution job counts are not pinned.
  *
  * Each query first runs once whole (build plus a `noop` write), so memos
  * (the star build, the file-format fixtures, catalog namespaces) are in
  * place; then its write-once layouts are purged, as the bench does
  * before every timed op, and the second build is counted. */
class BuilderJobsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val queries: Map[String, Queries.Q] =
    IngestQueries.queries ++ ScaleQueries.queries ++ PipelineQueries.queries

  private def builderJobs(name: String): Int = {
    val fn = queries(name)
    val sc = spark.sparkContext
    def reset(): Unit =
      ScaleQueries.layoutsByQuery.get(name).foreach(ScaleQueries.purgeLayouts(spark, sf, _))
    reset()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    reset()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSqlShim.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val df = fn(spark, sf)
      GraftSqlShim.drainListenerBus(sc)
      val n = jobs.get
      df.write.format("noop").mode("overwrite").save()
      n
    } finally {
      sc.removeSparkListener(listener)
      reset()
    }
  }

  // (query, builder jobs at sf0.001 on the local[4] test session)
  private val budgets = Seq(
    "q128_zone_map" -> 5,
    "q273_catalog_merge" -> 7,
    "q267_catalog_lifecycle" -> 2,
    "q262_ledger_round_trip" -> 1,
    "q233_observe_audit" -> 2)

  for ((name, budget) <- budgets)
    test(s"builder job budget: $name") {
      builderJobs(name) shouldBe budget
    }
}
