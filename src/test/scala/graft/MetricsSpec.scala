package graft

/** Executed-plan VOLUME pins ([[Metrics]]): PlanSpec proves the shapes,
  * these prove the amounts — each budget is an order-of-magnitude fence
  * between the intended communication complexity and the naive one, far
  * above run-to-run wiggle (shuffle record counts are deterministic for a
  * fixed input+plan; the headroom covers partition-count drift only). */
class MetricsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val DOCS = 500L // documents rows at sf0.001

  test("q01 aggregate: raw rows cross at most the layout rebalance; the aggregation ships group partials") {
    // The layout-adaptive compute rebalance (fires at this one-file input;
    // a plan-pinned NO-OP at ≥ core-count input partitions — the cluster
    // case) moves the 6000 projected lineitem rows ONCE; the aggregation
    // exchange still carries only 4-group partials. A plan that lost
    // map-side combine would put the rows through a SECOND keyed exchange.
    val n = Metrics.shuffledRecords(Queries.q01PricingSummary(spark, sf))
    withClue(s"shuffled $n: ") { n should (be > 0L and be <= 6000L + 600L) }
  }

  test("q231 sketch profile: raw rows cross at most the layout rebalance; the aggregation ships sketch partials") {
    // one conditional rebalance pass of the 6000 projected rows (no-op at
    // cluster inputs, see PlanSpec) — the 36k unpivoted cells must still
    // never travel: the sketch exchange carries ≤ 6 groups × partials
    val n = Metrics.shuffledRecords(OlapQueries.q231ColumnSketch(spark, sf))
    withClue(s"shuffled $n: ") { n should (be > 0L and be <= 6000L + 600L) }
  }

  test("q21 MinHash-LSH total shuffle volume is O(docs·bands), never O(docs²)") {
    // 32 band keys/doc plus the verified-candidate traffic; the all-pairs
    // alternative would put ~docs²/2 = 125k candidate rows through the
    // exchanges before verification even starts
    val n = Metrics.shuffledRecords(
      DedupQueries.q21DedupMinhashLsh(spark, sf))
    withClue(s"shuffled $n: ") { n should (be > 0L and be <= 36 * DOCS) }
  }

  test("q199 Gram matrix ships the 2080-cell triangle per partition, never vectors") {
    val n = Metrics.shuffledRecords(ClusterQueries.q199GramMatrix(spark, sf))
    withClue(s"shuffled $n: ") { n should (be > 0L and be <= 2080L * 8) }
  }

  test("q128 zone map: only intersecting files are read — rows scanned ≪ table rows") {
    // the [ZM_LO, ZM_HI] slice lives in a fraction of the value-clustered
    // files; a scan that ignored the zone map would read all 10k events
    val scans = Metrics.scannedRows(ScaleQueries.q128ZoneMap(spark, sf))
    val read = scans.map(_._2).sum
    withClue(s"scanned $scans: ") { read should (be > 0L and be < 2500L) }
  }

  test("q128 zone map: the consult's ONLY scan is the persisted sidecar — file-count rows, never the layout") {
    // the round-11 `weak`: the consult used to rebuild the zone map from
    // every layout row on every execution. Now the map is a write-once
    // sidecar; this pins "metadata ∝ files, not rows" as an executed-plan
    // fact, not a docstring claim. (Negative pin paired with a positive
    // scan assertion per the Metrics scaladoc.)
    val (lay, idx) = ScaleQueries.zoneMapLayout(spark, sf)
    // one sidecar row per ACTUAL layout file — derived, not the ZM_FILES
    // constant: an empty range partition at a tiny/skewed scale would drop
    // a file, and that must not fail the sidecar-only-consult pin
    val layoutFiles = lay.read(spark)
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count()
    val scans = Metrics.scannedRows(ScaleQueries.zoneMapConsult(spark, idx))
    withClue(s"scanned $scans (layout has $layoutFiles files): ") {
      scans should have size 1                        // exactly one relation read
      scans.head._1 should include("graft_events_zmidx") // …and it is the sidecar
      scans.head._2 shouldBe layoutFiles              // one row per file
      scans.head._2 should be > 1L                    // …and it is file-grain, not a blob
      scans.map(_._1).exists(k =>
        k.contains("graft_events_zm_") || k.contains("events.parquet")) shouldBe false
    }
  }

  test("q245 MV rewrite: the served aggregate reads summary rows only — corpus rows never enter the plan") {
    val mvd = ScaleQueries.q245MvDef(spark, sf)
    val mvRows = spark.read.parquet(
      mvd.mv.relation.asInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .location.rootPaths.head.toString).count()
    graft.plans.MvCatalog.withMv(spark, mvd) {
      val scans = Metrics.scannedRows(ScaleQueries.q245Direct(spark, sf))
      withClue(s"scans $scans: ") {
        scans should have size 1
        scans.head._1 should include("graft_docs_mv_")
        scans.head._2 shouldBe mvRows // every summary row, no corpus row
        mvRows should be < DOCS // and the summary is smaller than the corpus
      }
    }
  }

  test("q52 IVF probe: DPP reads exactly the probed cells' rows from the cell layout") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    // The property is EXACT pruning, not a magnitude: this corpus's cell
    // assignment is heavily skewed (one centroid captures ~80% of vectors
    // at sf0.001), so "rows ≪ table" would be vacuous or flaky — instead
    // the layout relation must output precisely the rows of the one
    // query's nprobe probed cells, no more. (The unpartitioned embeddings
    // scan in the same plan BUILT the layout and legitimately reads 500.)
    val one = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
    val scans = Metrics.scannedRows(
      SimilarityQueries.ivfPrunedWith(spark, sf, one))
    val layout = scans.filter(_._1.contains("graft_emb_ivf")).map(_._2).sum

    val probed = Similarity.cellProbes(one, SimilarityQueries.cents,
        SimilarityQueries.NPROBE)
      .select(col("cell")).collect().map(_.getInt(0)).toSet
    val expected = Tables.embeddings(spark, sf)
      .withColumn("cell", Similarity.cellAssign(SimilarityQueries.cents))
      .filter(col("cell").isin(probed.toSeq: _*)).count()
    withClue(s"scanned $scans, probed cells $probed: ") {
      layout shouldBe expected
      layout should be < 500L // and the pruning really skipped something
    }
  }

  test("q153 IVM steady state: base rows cross at most the layout rebalance — joins stay broadcast, aggregates ship partials") {
    // every delta term broadcasts its (tiny) delta side, so the base
    // orders/lineitem rows reach no JOIN exchange; the only raw-row
    // movement is the layout-adaptive rebalance before the md5 arm split
    // (one pass of the 6000 + 1500 projected base rows here; a plan-pinned
    // no-op at ≥ core-count inputs). A full re-join would ALSO put the
    // rows through keyed join exchanges every refresh — that is what the
    // bound excludes (one pass + partial cells, never two).
    val n = Metrics.shuffledRecords(ScaleQueries.q153IvmJoin(spark, sf))
    withClue(s"shuffled $n: ") { n should (be > 0L and be <= 7500L + 2000L) }
  }

  test("q73/q78 incremental dedup: corpus state is read, never re-shuffled") {
    // the whole point of the incremental path: the banded corpus state
    // (~14k band rows here) and the corpus docs stream through broadcast
    // probes — only the incoming batch's collapsed partials reach an
    // exchange (measured: 11 and 13 records respectively)
    for ((name, df) <- Seq(
        "q73" -> DedupQueries.q73IncrementalDedup(spark, sf),
        "q78" -> DedupQueries.q78IncrementalRefresh(spark, sf))) {
      val n = Metrics.shuffledRecords(df)
      withClue(s"$name shuffled $n: ") { n should (be > 0L and be <= 200L) }
    }
  }

  test("q234 payload drift collapses the per-line key fanout map-side") {
    // ≤ |event types| × |fields| cells per map partition (85 live cells);
    // the naive plan shuffles every exploded key — 10k lines × ~17 keys
    val n = Metrics.shuffledRecords(
      IngestQueries.q234PayloadDrift(spark, sf))
    withClue(s"shuffled $n: ") { n should (be > 0L and be <= 2000L) }
  }

  test("one measurement path: the only mains in src/main are Bench, Verify and Explain") {
    // A contract belongs in a spec and a timing in the benchmark, so a new
    // one-off probe or evidence main fails here.
    import scala.jdk.CollectionConverters._
    val objectDecl = """(?m)^\s*(?:private\s+|case\s+)*object\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val mains = try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
        // each main belongs to the nearest object declared before it
        mainDecl.findAllMatchIn(text).map(m =>
          objects.takeWhile(_._1 < m.start).lastOption.map(_._2).getOrElse(s"$f: no object"))
      }.toSet
      finally files.close()
    mains shouldBe Set("Bench", "Verify", "Explain")
  }

  test("no knobs: src/main reads only the driver's SPARK_GRAFT_* env in its mains and the oracle's scale property") {
    // Each operator has one plan, so no property, env var or spark.graft.*
    // conf key may pick between plans; a read outside the allow-list
    // fails here.
    import scala.jdk.CollectionConverters._
    val read = """(System\.getProperty|System\.getenv|sys\.props|sys\.env|"spark\.graft\.)""".r
    val key = """^(?:\s*\.\s*\w+)?\s*\(\s*"([^"]*)"""".r
    val mains = Set("Bench.scala", "Verify.scala", "Explain.scala")
    def allowed(file: String, call: String, k: Option[String]): Boolean =
      (call == "sys.env" && mains(file) && k.exists(_.startsWith("SPARK_GRAFT_"))) ||
        (call == "sys.props" && file == "IngestQueries.scala" && k.contains("graft.oracle.sf"))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val knobs = try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val file = f.getFileName.toString
        read.findAllMatchIn(text).map { m =>
          val k = key.findPrefixMatchOf(text.substring(m.end)).map(_.group(1))
          (file, m.group(1), k)
        }.filterNot { case (file, call, k) => allowed(file, call, k) }
      }.toList
      finally files.close()
    knobs shouldBe Nil
  }

  test("one footer reader: src/main opens parquet footers only in sources.Footers") {
    // Row counts, zone maps and footer schemas come from one driver-side
    // reader, so a second footer read outside it fails here.
    import scala.jdk.CollectionConverters._
    val open = """ParquetFileReader\s*\.\s*open\(|readFooter\(""".r
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sites = try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft", "sources", "Footers.scala")))
      .flatMap { f =>
        val text = comments.replaceAllIn(
          new String(java.nio.file.Files.readAllBytes(f), "UTF-8"), " ")
        open.findAllMatchIn(text).map(m => f.getFileName.toString -> m.matched)
      }.toList
      finally files.close()
    sites shouldBe Nil
  }

  /** (file name, line, match) for every `pattern` match in the `.scala`
    * files under `root`, comments stripped (their newlines kept, so a
    * site reports its own line). */
  private def codeSites(root: String, pattern: scala.util.matching.Regex)
      : List[(String, Int, String)] = {
    import scala.jdk.CollectionConverters._
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .toList.sortBy(_.toString).flatMap { f =>
        val text = comments.replaceAllIn(
          new String(java.nio.file.Files.readAllBytes(f), "UTF-8"),
          m => m.matched.filter(_ == '\n'))
        pattern.findAllMatchIn(text).map(m => (f.getFileName.toString,
          text.substring(0, m.start).count(_ == '\n') + 1, m.matched))
      }
    finally files.close()
  }

  test("one table format: src/main/scala/graft/sources mints data-file names in one writer and registers only graft-series") {
    // graft_cat is the one transactional table format and its data files
    // are Parquet written by CatalogFileWriter, so a second writer minting
    // `.parquet` names inside graft/sources fails here, and so does any
    // `.bin` name the retired row codec used or `.bloom` name of the
    // retired bloom sidecar (bloom filters live in the Parquet file).
    val parquets = codeSites("src/main/scala/graft/sources", """\.parquet"""".r)
      .map { case (f, line, _) => s"$f:$line" }
    val bins = codeSites("src/main", """\.bin"""".r)
      .map { case (f, line, _) => s"$f:$line" }
    val blooms = codeSites("src/main", """\.bloom"""".r)
      .map { case (f, line, _) => s"$f:$line" }
    val registered = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/resources/META-INF/services/" +
        "org.apache.spark.sql.sources.DataSourceRegister")), "UTF-8")
      .split("\n").map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    withClue(s".parquet sites: ${parquets.mkString(", ")}; .bin sites: " +
        s"${bins.mkString(", ")}; .bloom sites: ${blooms.mkString(", ")}; " +
        s"registered: ${registered.mkString(", ")}: ") {
      (parquets.map(_.takeWhile(_ != ':')), bins, blooms, registered) shouldBe
        ((Seq("CatalogFormat.scala"), Nil, Nil, Seq("graft.sources.SeriesSource")))
    }
  }

  test("one commit protocol: outside graft/sources, src/main moves no file and names no version pointer or log") {
    // graft_cat's manifest commit is the one versioned-table protocol, so
    // a second pointer file, version log or staged-directory swap fails here.
    import scala.jdk.CollectionConverters._
    val protocol = """Files\s*\.\s*move\(|ATOMIC_MOVE|_graft_current|_graft_log""".r
    val entries = java.nio.file.Files.list(java.nio.file.Paths.get("src/main/scala/graft"))
    val roots = try entries.iterator.asScala.filterNot(_.getFileName.toString == "sources")
      .map(_.toString).toList.sorted
      finally entries.close()
    roots.flatMap(codeSites(_, protocol))
      .map { case (f, line, m) => s"$f:$line $m" } shouldBe Nil
  }

  test("one work root: src/main names no cwd-relative work/ path besides Bench's documented output default") {
    // Engine state lives under the one work root, which
    // GraftSession.WorkRoot resolves once from the JVM's working
    // directory; any other path relative to the process cwd would scatter
    // state. SPARK_GRAFT_BENCH_OUT's default is the one documented
    // exception.
    codeSites("src/main/scala", """s?"work(?:/[^"]*)?"""".r)
      .map { case (f, _, m) => (f, m) } shouldBe
      Seq("Bench.scala" -> "\"work/bench_last.json\"",
        "GraftSession.scala" -> "\"work\"")
  }

  test("declared schemas: src/main has no schema-less parquet read outside the allow-list") {
    // A parquet read without `.schema(` runs a footer-reading Spark job at
    // analysis, and a SQL `parquet.`…`` scan infers again on every
    // analysis. Reads name their schema instead: Tables.load's declared
    // ones, a write-once Layout's, or a temp view over either.
    import scala.jdk.CollectionConverters._
    // `read` followed by a call chain ending in `.parquet(`
    val read = """\bread((?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*parquet\(""".r
    val sqlPath = """parquet\.`""".r
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val allowed = Set(
      // q56: merging the schemas of evolving batches is the query's point
      "IngestQueries.scala" -> """read.option("mergeSchema","true").parquet(""",
      // the inferring overload perfbench's layer decomposition calls
      "TableSink.scala" -> "read.parquet(")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sites = try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val text = comments.replaceAllIn(
          new String(java.nio.file.Files.readAllBytes(f), "UTF-8"), " ")
        val file = f.getFileName.toString
        read.findAllMatchIn(text).filterNot(_.group(1).contains("schema("))
          .map(m => file -> m.matched.replaceAll("\\s+", "")) ++
          sqlPath.findAllMatchIn(text).map(_ => file -> "parquet.`")
      }.toList
      finally files.close()
    sites.filterNot(allowed) shouldBe Nil
    // every allow-list entry is still a live site, so the list cannot rot
    sites.toSet shouldBe allowed
  }
}
