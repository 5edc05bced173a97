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
  * Also pins the build's declared read schemas, its Spark job budget, its
  * one JSON parse per build, its transient in-memory staging and its
  * footer-served validation counts, and that its local writes fork no
  * process yet land Hadoop's default file modes. */
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
    // pair against the frame ParquetSink lands (the pipeline caches staging
    // in memory, but a parquet-staged decomposition of it reads it back the
    // same way), the star five against their DDL in Schemas.star — names,
    // order AND types (users has no level; songs uses song_title; session_id
    // is a varchar; artists is longitude-first). toNullable: parquet reads
    // every column as nullable.
    Etl.run(spark, sf)
    val star = new ParquetSink(Etl.starRoot(sf))
    Schemas.star.foreach { case (t, declared) =>
      spark.read.parquet(star.path(t)).schema.toNullable shouldBe declared.toNullable
    }
    // staging never lands in the star root: land it in a scratch root
    val root = java.nio.file.Files.createTempDirectory("etl-staging")
    val staging = new ParquetSink(root.toString)
    try Seq("staging_events" -> Etl.stageEvents(spark, sf),
        "staging_songs" -> Etl.stageSongs(spark, sf)).foreach { case (t, df) =>
      staging.write(df, t)
      spark.read.parquet(staging.path(t)).schema.toNullable shouldBe df.schema.toNullable
    } finally graft.operators.Scale.deleteRecursively(root)
  }

  /** Run `build` and check it leaves no staging behind: neither staging
    * temp view, and no persisted RDD the session did not hold before. */
  private def leavesNoStaging(build: => Unit): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    build
    Seq("staging_events", "staging_songs").foreach { t =>
      withClue(s"$t: ")(spark.catalog.tableExists(t) shouldBe false)
    }
    sc.getPersistentRDDs.keySet shouldBe before
  }

  test("failed staging: the build throws once, each distinct failure attached once") {
    // Both staging COPYs fail (no input tables); each failure also reaches
    // its dependent inserts, as the same instance. One exception escapes
    // with the other staging failure suppressed exactly once (Spark may add
    // its own caller-stacktrace entry beside it). No staging is left behind.
    val missing = java.nio.file.Files.createTempDirectory("etl-no-input").toString
    try leavesNoStaging {
      val e = intercept[AnalysisException](Etl.run(spark, missing))
      val sibling = e.getSuppressed.toSeq.filter(_.isInstanceOf[AnalysisException])
      sibling should have size 1
      sibling.head should not be theSameInstanceAs(e)
    } finally {
      graft.operators.Scale.deleteRecursively(java.nio.file.Paths.get(missing))
      graft.operators.Scale.deleteRecursively(java.nio.file.Paths.get(Etl.starRoot(missing)))
    }
  }

  test("job budget: a cold star build schedules 12 jobs, the same on every build") {
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
    // 2 staging materializations + 2 per insert (shuffle map or broadcast,
    // then the write); the validation counts come from footers and run no job
    perBuild shouldBe Seq(12, 12)
  }

  test("staging leaves nothing behind: after a cold build, and after an ANSI overflow in a staging COPY or in an insert") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    import graft.sources.Fixtures
    Etl.run(spark, sf) // fixtures landed outside the measured build
    leavesNoStaging { Etl.invalidate(sf); Etl.run(spark, sf) }
    // Scales whose one-line fixtures are landed by hand. A song length of
    // 1e10 overflows staging_events' decimal(12,4) while the events cache
    // fills; a latitude of 1000.000 stages fine as decimal(11,3) and
    // overflows the artists insert's (11,3) -> (11,8) widening.
    Seq("staging" -> ("1e10", "1.0"), "insert" -> ("1.5", "1000.0")).foreach {
      case (failing, (length, latitude)) => withClue(s"$failing fails: ") {
        val fake = Files.createTempDirectory(s"etl-overflow-$failing").toString
        def land(dir: String, line: String): Unit = {
          Files.createDirectories(Paths.get(dir))
          Files.write(Paths.get(dir, "part-00000.json"), (line + "\n").getBytes(UTF_8))
          Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
        }
        land(Fixtures.eventsJsonDir(fake),
          """{"eventId":1,"tsMillis":1541105830796,"registrationMs":1540919166796.5,""" +
          """"userIdStr":"7","eventKind":"NextSong","artistName":"A","songTitle":"T",""" +
          s""""songLenNum":$length,"sessionId":3,"levelStr":"free","firstName":"F",""" +
          """"lastName":"L","gender":"M","locationStr":"X","userAgentStr":"U"}""")
        land(Fixtures.songsJsonDir(fake),
          """{"num_songs":1,"artist_id":"AR1","artist_name":"A","artist_longitude":1.5,""" +
          s""""artist_latitude":$latitude,"artist_location":"X","song_id":"SO1",""" +
          """"title":"T","duration":1.5,"year":2000}""")
        try leavesNoStaging {
          val e = intercept[Exception](Etl.run(spark, fake))
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[ArithmeticException]) shouldBe true
        } finally Seq(fake, Etl.starRoot(fake), Paths.get(Fixtures.eventsJsonDir(fake)).getParent.toString)
          .foreach(d => graft.operators.Scale.deleteRecursively(Paths.get(d)))
      }
    }
  }

  test("one JSON parse per build: only the two staging materializations scan the fixtures, every insert reads the cache") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
    import org.apache.spark.sql.execution.metric.SQLMetric
    import org.apache.spark.sql.util.QueryExecutionListener
    // Every node of an executed plan, AQE unwrapped; with `cached`, also the
    // plans behind in-memory scans.
    def nodes(p: SparkPlan, cached: Boolean): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec if cached => Seq(m.relation.cachedPlan)
      case _ => Seq.empty
    }) ++ p.children ++ p.subqueries).flatMap(nodes(_, cached))
    def jsonScans(p: SparkPlan, cached: Boolean): Seq[FileSourceScanExec] =
      nodes(p, cached).collect {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] => s
      }
    final case class Execution(parsedJson: Boolean, writesParquet: Boolean,
        readsCache: Boolean, scansJsonUncached: Boolean)

    Etl.run(spark, sf) // fixtures landed outside the measured build
    val sc = spark.sparkContext
    // a JSON scan's row metric grows only in the execution that runs it
    val rowsSeen = new java.util.IdentityHashMap[SQLMetric, java.lang.Long]
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[Execution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan
        val grew = jsonScans(plan, cached = true).map(_.metrics("numOutputRows")).map { m =>
          val before = Option(rowsSeen.put(m, m.value)).fold(0L)(_.longValue)
          m.value > before
        }
        executions.add(Execution(grew.contains(true),
          nodes(plan, cached = false).exists(_.isInstanceOf[DataWritingCommandExec]),
          nodes(plan, cached = false).exists(_.isInstanceOf[InMemoryTableScanExec]),
          jsonScans(plan, cached = false).nonEmpty))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftSqlShim.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try { Etl.invalidate(sf); Etl.run(spark, sf); GraftSqlShim.drainListenerBus(sc) }
    finally spark.listenerManager.unregister(listener)

    import scala.jdk.CollectionConverters._
    val all = executions.asScala.toSeq
    val (parses, others) = all.partition(_.parsedJson)
    parses should have size 2
    parses.foreach(_.writesParquet shouldBe false)
    val inserts = others.filter(_.writesParquet)
    inserts should have size 5
    inserts.foreach(_.readsCache shouldBe true)
    all.foreach(_.scansJsonUncached shouldBe false)
  }

  test("validation counts: each star table's footer count equals its declared-schema scan count; an empty table counts 0") {
    val counts = Etl.run(spark, sf)
    val star = new ParquetSink(Etl.starRoot(sf))
    Etl.tables.foreach { t =>
      withClue(s"$t: ") {
        counts(t) shouldBe spark.read.schema(Schemas.star(t)).parquet(star.path(t)).count()
      }
    }
    // an empty insert still lands a file (schema only, zero rows)
    val root = java.nio.file.Files.createTempDirectory("etl-empty")
    try {
      val empty = new ParquetSink(root.toString)
      empty.write(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.users), "users")
      graft.sources.Footers.rowCount(spark, empty.path("users")) shouldBe 0L
      spark.read.schema(Schemas.users).parquet(empty.path("users")).count() shouldBe 0L
    } finally graft.operators.Scale.deleteRecursively(root)
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
        .head().getLong(0) shouldBe counts(t)
      val five = spark.sql(s"select * from songsdwh.$t limit(5)")
      five.schema shouldBe spark.read.parquet(sink.path(t)).schema
      five.count() shouldBe math.min(5L, counts(t))
      // the sampled rows are real table rows (not nulls/garbage): anti-join
      // against the DataFrame read must be empty
      five.exceptAll(sink.read(spark, t, Schemas.star(t))).count() shouldBe 0L
    }
  }

  /** Process starts during `body` whose stack has a frame in Hadoop's
    * `org.apache.hadoop.fs` package, from an in-process JFR recording. */
  private def hadoopFsSpawns(body: => Unit): Int = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = java.nio.file.Files.createTempFile("spawns", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.count { e =>
        e.getStackTrace != null && e.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.fs."))
      }
    } finally { rec.close(); java.nio.file.Files.delete(f) }
  }

  test("local writes: file: paths resolve to NioLocalFileSystem, and a cold star build plus a q128 layout write fork no process from Hadoop") {
    import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    FileSystem.get(new java.net.URI("file:///"), spark.sessionState.newHadoopConf()) shouldBe
      a[graft.sources.NioLocalFileSystem]
    // the recording sees Hadoop's own fork: without libhadoop.so, the stock
    // local FileSystem's permission change runs `chmod`
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) {
      val f = java.nio.file.Files.createTempFile("chmod", ".bin")
      try hadoopFsSpawns(new RawLocalFileSystem()
          .setPermission(new Path(f.toUri), new FsPermission("640"))) should be >= 1
      finally java.nio.file.Files.delete(f)
    }
    Etl.run(spark, sf) // fixtures landed outside the recording
    val q128 = ScaleQueries.layoutsByQuery("q128_zone_map")
    ScaleQueries.purgeLayouts(spark, sf, q128)
    hadoopFsSpawns {
      Etl.invalidate(sf)
      Etl.run(spark, sf)
      ScaleQueries.q128ZoneMap(spark, sf).write.format("noop").mode("overwrite").save()
    } shouldBe 0
  }

  test("local writes: part files, .crc sidecars, _SUCCESS and table directories carry Hadoop's default modes; other modes, sticky too, land exactly") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val umask = FsPermission.getUMask(conf)
    def mode(p: java.nio.file.Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    Etl.invalidate(sf)
    Etl.run(spark, sf)
    val table = Paths.get(new ParquetSink(Etl.starRoot(sf)).path("users"))
    val ls = Files.list(table)
    val part = try ls.iterator.asScala.map(_.getFileName.toString)
      .find(n => n.startsWith("part-") && n.endsWith(".parquet")).get
    finally ls.close()
    val files = Seq(part, s".$part.crc", "_SUCCESS").map(table.resolve)
    files.foreach(f => withClue(s"$f: ")(mode(f) shouldBe FsPermission.getFileDefault.applyUMask(umask).toShort.toInt))
    mode(table) shouldBe FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    // any other mode lands exactly; 01777 (sticky) is no POSIX permission
    // set, so Hadoop's own path sets it
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    val dir = Files.createTempDirectory("modes")
    val file = Files.createFile(dir.resolve("f"))
    try {
      fs.setPermission(new Path(file.toUri), new FsPermission("640"))
      mode(file) shouldBe Integer.parseInt("640", 8)
      fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
      mode(dir) shouldBe Integer.parseInt("1777", 8)
    } finally { Files.delete(file); Files.delete(dir) }
  }
}
