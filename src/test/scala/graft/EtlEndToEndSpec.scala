package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim

import graft.pipeline.Etl
import graft.schemas.Schemas
import graft.sinks.ParquetSink

/** Full pipeline run at smoke scale: materialized star tables satisfy the
  * reference's derived invariants (BASELINE.md): |time| = |distinct ts|,
  * |songplay| ≥ |events| (left outer + fanout), users excludes anonymous,
  * and the sortkey presort leaves each parquet file internally ordered.
  * Also pins the build's declared read schemas and its Spark job budget. */
class EtlEndToEndSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("star build materializes all five tables with reference invariants") {
    val counts = Etl.run(spark, sf)
    val events = Etl.stageEvents(spark, sf)
    val nEvents = events.count()

    counts("songplay") should be >= nEvents // left outer keeps all + fanout
    counts("time") shouldBe events.select(col("ts")).distinct().count()
    counts("users") shouldBe events.filter(col("userId").isNotNull)
      .select("userId", "firstName", "lastName", "gender").distinct().count()
    Etl.tables.foreach(t => counts(t) should be > 0L)
  }

  test("schema drift: every table's file schema is the schema the pipeline reads it with") {
    // The pipeline reads parquet back with a declared schema, never an
    // inferred one; a column renamed on the write side would then read back
    // as all NULLs. This pins the two together for all 7 tables: the staging
    // pair against the frame the pipeline writes, the star five against
    // their DDL in Schemas.star — names, order AND types (users has no
    // level; songs uses song_title; session_id is a varchar; artists is
    // longitude-first). toNullable: parquet reads every column as nullable.
    Etl.run(spark, sf)
    val star = new ParquetSink(Etl.starRoot(sf))
    Schemas.star.foreach { case (t, declared) =>
      spark.read.parquet(star.path(t)).schema.toNullable shouldBe declared.toNullable
    }
    // staging is dropped at the end of a build: land it in a scratch root
    val root = java.nio.file.Files.createTempDirectory("etl-staging")
    val staging = new ParquetSink(root.toString)
    try Seq("staging_events" -> Etl.stageEvents(spark, sf),
        "staging_songs" -> Etl.stageSongs(spark, sf)).foreach { case (t, df) =>
      staging.write(df, t)
      spark.read.parquet(staging.path(t)).schema.toNullable shouldBe df.schema.toNullable
    } finally graft.operators.Scale.deleteRecursively(root)
  }

  test("failed staging: the build throws once, each distinct failure attached once") {
    // Both staging COPYs fail (no input tables); each failure also reaches
    // its dependent inserts, as the same instance. One exception escapes
    // with the other staging failure suppressed exactly once (Spark may add
    // its own caller-stacktrace entry beside it).
    val missing = java.nio.file.Files.createTempDirectory("etl-no-input").toString
    try {
      val e = intercept[AnalysisException](Etl.run(spark, missing))
      val sibling = e.getSuppressed.toSeq.filter(_.isInstanceOf[AnalysisException])
      sibling should have size 1
      sibling.head should not be theSameInstanceAs(e)
    } finally {
      graft.operators.Scale.deleteRecursively(java.nio.file.Paths.get(missing))
      graft.operators.Scale.deleteRecursively(java.nio.file.Paths.get(Etl.starRoot(missing)))
    }
  }

  test("job budget: a cold star build schedules 14 jobs, the same on every build") {
    Etl.run(spark, sf) // fixtures landed; the measured builds start from them
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def coldBuild(): Int = {
      GraftSqlShim.drainListenerBus(sc)
      jobs.set(0)
      Etl.invalidate(sf)
      Etl.run(spark, sf)
      GraftSqlShim.drainListenerBus(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    val perBuild = try Seq(coldBuild(), coldBuild()) finally sc.removeSparkListener(listener)
    // 2 staging writes + 2 per insert (shuffle map or broadcast, then the
    // write) + 2 for the one-exchange validation count
    perBuild shouldBe Seq(14, 14)
  }

  test("sortkey presort: each songplay file is internally ordered by start_time") {
    Etl.run(spark, sf)
    val sink = new ParquetSink(Etl.starRoot(sf))
    import org.apache.spark.sql.Row
    val unordered = sink.read(spark, "songplay", Schemas.songplay)
      .select(input_file_name().as("f"), col("start_time"))
      .withColumn("prev", lag(col("start_time"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("f"))
          .orderBy(monotonically_increasing_id())))
      .filter(col("prev") > col("start_time"))
    unordered.count() shouldBe 0L
  }

  test("E3: the notebook's literal validation SQL runs through spark.sql over songsdwh") {
    val counts = Etl.run(spark, sf)
    Etl.registerWarehouse(spark, sf)
    val sink = new ParquetSink(Etl.starRoot(sf))
    Etl.tables.foreach { t =>
      // test_etl.ipynb cells 8–21, verbatim (including the `limit(5)` form):
      // the SQL surface must agree with the DataFrame results on the same
      // materialized tables.
      spark.sql(s"select count(*) from songsdwh.$t")
        .head.getLong(0) shouldBe counts(t)
      val five = spark.sql(s"select * from songsdwh.$t limit(5)")
      five.schema shouldBe spark.read.parquet(sink.path(t)).schema
      five.count() shouldBe math.min(5L, counts(t))
      // the sampled rows are real table rows (not nulls/garbage): anti-join
      // against the DataFrame read must be empty
      five.exceptAll(sink.read(spark, t, Schemas.star(t))).count() shouldBe 0L
    }
  }
}
