package graft

/** Property tests for the operational-regime capabilities: the epoch
  * reshuffle's permutation guarantees (q74), the merge upsert's and
  * fingerprint refresh's layout-reuse contracts (q72, q78), the PQ codes'
  * reconstruction quality (q76), the k-means determinism contract (q81),
  * the weighted sampler's exact-K / multiplicity / prefix-sum-
  * decomposition contract (q87), the BPE learner's greedy-merge mechanics
  * (q90), the global ranker's partitioning invariance (q100), and the CDC
  * chunker's boundary locality (q110), and the WAP publish's
  * audit-gates-publish contract (q115), and the MV rewrite's
  * fingerprint-staleness contract (q245 — a regenerated source rebuilds
  * the summary before any registration can serve it), and the salted join's
  * dilution guarantee (q119), and the tagged versions' as-of reads
  * surviving expiry (q120), and the forget-delete's containment / no-op /
  * emptied-partition contract (q127),
  * and the zone map's real-skipping guarantee (q128), and the skyline's
  * partitioning invariance (q140), and the bitmap words' week-from-day
  * re-aggregation (q154), and the consistent-hash ring's movement bound
  * (q162), and the HLL registers' MAX-mergeability (q166), and the bloom
  * sidecar's strict-subset / absent-key-opens-nothing skipping (q169),
  * and the changepoint's planted-shift recovery (q171), and the weighted
  * sample percentiles' corpus-tracking error bound (q175), and the BFS
  * levels' shortest-path soundness (q178), and the moment-algebra
  * correlations' agreement with the engine's own corr() (q179), and the
  * Benford audit's partition totals (q180), and the Gini closed form's
  * bit-equality with the brute rank formula (q181), and the RANGE
  * frame's calendar semantics vs its ROWS twin (q182), and the moment
  * shapes' agreement with the engine's own skewness()/kurtosis() (q183),
  * and the RAKE scorer's hand-computed document (q184), and the hashed
  * features' token conservation (q185), and the winsorizer's exact
  * percentile clip bounds (q186), and the negative sampler's
  * partition-of-weight-space invariant (q187), and CUPED's pooled-mean
  * preservation and covar_pop/var_pop agreement (q188), and the
  * log-histogram's addition-mergeability and bracketing bounds (q189),
  * and the SSSP distances' soundness against BFS hops (q200), and the
  * AMS sketch's linearity under any split (q201), and the ALS solve's
  * BigInt lattice optimality (q202), and the autocorrelations'
  * Cauchy–Schwarz/pair-count arithmetic (q203), and Kneser–Ney's
  * mass-conservation preconditions (q204), and the Hilbert curve's
  * exhaustive bijectivity/adjacency (q205), and the JL projection's
  * norm preservation (q206), and the IBLT peel's closed-form bucket
  * recovery (q208), and Theil–Sen's planted-outlier immunity (q209),
  * and the count-sketch estimates' certified radii (q210), and the
  * sliding-HLL estimates' exact-anchor tracking (q211), and the kNN
  * eval's chance-level honesty (q212), and the minimax-vs-PAVA isotonic
  * equality (q213), and the silhouette bounds/positivity (q215), and
  * the RFM quintile balance (q216), and the incremental sessionizer's
  * one-open-session boundary theorem (q217), and the sign-flip test's
  * planted-shift power (q218), and the Wasserstein metric axioms in
  * BigInt (q219), and the clustering coefficients' 3×-triangle
  * conservation (q220), and modularity/assortativity exchange
  * symmetries (q222/q223), and the drawdown's brute-force equality
  * (q225), and the top-N + OTHERS cent conservation (q226), and the
  * median CI's binomial coverage identity (q227), and the AUC's brute
  * pair-count equality (q228), and the delta-method/jackknife agreement
  * (q229).
  * These assert
  * the semantics the
  * DuckDB hash gate cannot see — "different order per epoch", "untouched
  * partitions' files byte-identical", "reconstruction close enough to
  * preserve ranking", "same centroids at any parallelism", "Σ picks = K
  * exactly", "same ranks at any partition count", "a prefix edit leaves
  * suffix chunks intact".
  */
class OperationalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The one-merge-per-round sequential BPE learner (the pre-batching
    * shape): q90's semantic anchor — the q90 cases prove
    * `RetrievalQueries.bpeState(batch = 1)` reproduces it merge-for-merge
    * and bit-for-bit on the real corpus, and that batching itself is
    * invisible when the batch is conflict-free. Never the production path
    * (R merges = R driver round trips and R-deep lineage). */
  private def bpeStateSeq(docs: org.apache.spark.sql.DataFrame, rounds: Int) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.functions.{length => strLen, size => arrLen}
    val wf = docs.filter(col("text").isNotNull)
      .select(explode(graft.operators.TextOps.words(col("text"))).as("word"))
      .filter(strLen(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val chars = transform(sequence(lit(1), strLen(col("word"))),
      i => substr(col("word"), i, lit(1)))
    var seqs = wf.select(col("word"), col("freq"),
      concat(lit(" "), array_join(chars, "  "), lit(" ")).as("seq"))
    val merges = (1 to rounds).map { round =>
      val toks = split(trim(col("seq")), "  ")
      val best = seqs
        .select(col("freq"), explode(zip_with(
          slice(toks, lit(1), arrLen(toks) - 1), slice(toks, lit(2), arrLen(toks) - 1),
          (a, b) => struct(a.as("ta"), b.as("tb")))).as("p"))
        .groupBy(col("p.ta").as("term_a"), col("p.tb").as("term_b"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("term_a"), col("term_b"))
        .limit(1)
      seqs = seqs.crossJoin(broadcast(best))
        .select(col("word"), col("freq"),
          replace(col("seq"),
            concat(lit(" "), col("term_a"), lit("  "), col("term_b"), lit(" ")),
            concat(lit(" "), col("term_a"), col("term_b"), lit(" "))).as("seq"))
      best.select(lit(round).as("round"), col("term_a"), col("term_b"),
        col("pair_count"))
    }
    (merges.reduce(_ union _), seqs)
  }

  /** q44's primitive at its honest cost, for the round-count comparison
    * with star contraction: k rounds of min-label propagation; returns
    * labels after EXACTLY k rounds (converged or not). */
  private def minLabelRounds(edges: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val nodes = sym.select(col("src").as("node")).distinct()
    var labels = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    for (_ <- 1 to k) {
      val viaNeighbor = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), col("label"))
      labels = labels.select(col("node"), col("label")).union(viaNeighbor)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** File inventory of the partition directories under `dir` EXCLUDING the
    * given partition values: (relative path, size, mtime-millis, md5) per
    * regular file. Diffed across a refresh to prove the untouched
    * partitions were not rewritten. */
  private def partitionFileInventory(dir: String, partKey: String,
      excludeValues: Set[String]): Map[String, (Long, Long, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val excluded = excludeValues.map(v => s"$partKey=$v")
    def md5Of(p: java.nio.file.Path): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_)).iterator().asScala
      .map(p => root.relativize(p).toString -> p)
      .filter { case (rel, _) =>
        val top = rel.split('/').head
        top.startsWith(s"$partKey=") && !excluded.contains(top)
      }
      .map { case (rel, p) =>
        rel -> ((java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis, md5Of(p)))
      }
      .toMap
    finally s.close()
  }

  /** The `graft_cat` corpus copy `db.<stem>_<sf>`: (table, directory). */
  private def corpusCat(stem: String): (String, java.io.File) = {
    val full = s"${stem}_${ScaleQueries.sfTag(sf)}"
    (s"graft_cat.db.$full", IngestQueries.catDir(spark, full))
  }

  /** The data files (`_file`) each lang's rows live in at `version`. */
  private def filesByLang(t: String, version: Long): Map[String, Set[String]] =
    spark.sql(s"SELECT DISTINCT lang, _file FROM $t VERSION AS OF $version")
      .collect().groupBy(_.getString(0))
      .map { case (l, rs) => l -> rs.map(_.getString(1)).toSet }

  /** The data file names of `dir`'s head manifest. */
  private def headFiles(dir: java.io.File): Set[String] =
    graft.sources.GraftTableCatalog.readManifest(dir,
      graft.sources.GraftTableCatalog.readLatest(dir)).files.map(_.name).toSet

  test("q245 MV staleness: a regenerated source changes the fingerprint and the summary rebuilds — a registration can never serve stale rows") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-mv-stale")
    // FIXED child name so sfTag (and therefore the write-once table name)
    // is stable across runs — no warehouse garbage accumulation
    val srcDir = root.resolve("mvsrc")
    java.nio.file.Files.createDirectories(srcDir)
    def writeSource(langs: Seq[String], rowsPerLang: Int): Unit =
      spark.range(langs.size.toLong * rowsPerLang)
        .select(col("id").as("doc_id"),
          concat(lit("text "), col("id")).as("text"),
          element_at(lit(langs.toArray),
            (pmod(col("id"), lit(langs.size)) + 1).cast("int")).as("lang"),
          lit("web").as("source"),
          (col("id") % 97 + 10).as("n_chars"))
        .coalesce(1).write.mode("overwrite")
        .parquet(srcDir.resolve("documents.parquet").toString)
    def servedLangs(): Map[String, Long] =
      graft.plans.MvCatalog.withMv(spark,
          ScaleQueries.q245MvDef(spark, srcDir.toString)) {
        val df = ScaleQueries.q246Direct(spark, srcDir.toString)
        // the serve must actually come from the summary, or this test
        // proves nothing about MV staleness
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Seq.empty
            }
        }.flatten.exists(_.contains("graft_docs_mv_mvsrc")) shouldBe true
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    try {
      writeSource(Seq("en", "de"), 50)
      servedLangs() shouldBe Map("en" -> 50L, "de" -> 50L)
      // regenerate the source IN PLACE: different langs, different counts —
      // the dirFingerprint no longer matches the summary's spec, so the
      // next registration's writeOnce rebuilds before anything serves
      writeSource(Seq("en", "fr", "ja"), 40)
      servedLangs() shouldBe Map("en" -> 40L, "fr" -> 40L, "ja" -> 40L)
    } finally {
      graft.operators.Scale.deleteRecursively(root)
      graft.operators.Scale.deleteRecursively(java.nio.file.Paths.get(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
        "graft_docs_mv_mvsrc"))
    }
  }

  test("q140: the skyline is invariant to input partitioning — the BNL prune is lossless at any split") {
    import org.apache.spark.sql.functions._
    // the local prune runs per-partition, so a dominance mistake would
    // show up as a partition-count-dependent frontier; the skyline of a
    // SET must not care how the set is sliced
    val base = TextQueries.q140ParetoFrontier(spark, sf)
      .orderBy(col("lang"), col("doc_id")).collect().toSeq
    base.nonEmpty shouldBe true
    Seq(1, 3, 17).foreach { n =>
      val alt = TextQueries
        .paretoFrontier(Tables.documents(spark, sf).repartition(n))
        .orderBy(col("lang"), col("doc_id")).collect().toSeq
      withClue(s"parallelism $n: ") { alt shouldBe base }
    }
  }

  test("q142: attribution conserves credit — every attributed purchase's bps sum to exactly 10000") {
    import org.apache.spark.sql.functions._
    // the U-shaped schedule floor-divides the middle pot; the remainder
    // rule must hand back every lost basis point, for every touch count
    val bps = WindowQueries.q142Attribution(spark, "/root/testdata/sf0.01")
      .agg(sum(col("total_bps"))).collect()(0).getLong(0)
    // independent count of attributable purchases: a plain semi-join on
    // the raw inequality (no bins, no windows) — if the bin blocking
    // dropped or duplicated a candidate, 10000× this count won't match
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val attributable = p.join(c,
        col("user_id") === col("cu") && col("cts") < col("pts") &&
          col("cts") >= col("pts") - expr("INTERVAL 4 DAY"), "left_semi")
      .count()
    bps shouldBe attributable * 10000L
  }

  test("q119: the salt spreads every key's probe rows near-evenly over all 8 reducer cells") {
    import org.apache.spark.sql.functions._
    // sf0.01 for statistical stability: ~250 rows per (key, salt) cell
    val cells = Tables.eventsRawNanos(spark, "/root/testdata/sf0.01")
      .groupBy(col("event_type"),
        pmod(xxhash64(col("event_id")), lit(8L)).as("salt"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2)))
    cells.groupBy(_._1).foreach { case (key, cs) =>
      withClue(s"key $key: ") {
        cs.length shouldBe 8 // every salt value is populated
        val counts = cs.map(_._2)
        // a hot key's worst reducer carries ~1/8, never the whole key
        counts.max.toDouble should be <= (counts.sum / 8.0) * 1.5
      }
    }
  }

  test("q120: tagged versions read as of 0 and 1 steps back; expiry keeps both tags readable") {
    import org.apache.spark.sql.functions._
    val (t, dir) = corpusCat("docs_tt")
    def profile(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("lang"))
      .agg(count(lit(1)), sum(col("n_chars"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val out = ScaleQueries.q120TimeTravel(spark, sf).collect()
    def agoRows(ago: Int) = out.filter(_.getAs[Int]("versions_ago") == ago)
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("total_chars"))).toSet
    // versions_ago 1 is the raw corpus, 0 the corpus with q72's batch merged
    val cols = Seq("doc_id", "lang", "source", "n_chars").map(col)
    val raw = Tables.documents(spark, sf).select(cols: _*)
    val batch = ScaleQueries.mergeBatch(Tables.documents(spark, sf)).select(cols: _*)
    val merged = raw.join(batch.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(batch)
    agoRows(1) shouldBe profile(raw)
    agoRows(0) shouldBe profile(merged)
    agoRows(0) shouldNot equal(agoRows(1))
    // expiry down to one version: the tags pin both, so both stay readable
    spark.sql("CALL graft_cat.sys.expire_versions('db', " +
      s"'${dir.getName}', 1)").collect()
    profile(spark.sql(s"SELECT * FROM $t VERSION AS OF 'raw'")) shouldBe profile(raw)
    profile(spark.sql(s"SELECT * FROM $t VERSION AS OF 'merged'")) shouldBe profile(merged)
    spark.sql(s"SELECT tag FROM $t.refs WHERE type = 'tag' ORDER BY version")
      .collect().map(_.getString(0)).toSeq shouldBe Seq("raw", "merged")
  }

  test("q127: delete rewrites only containing partitions; re-delete touches nothing; emptied partitions drop") {
    import org.apache.spark.sql.functions._
    val (t, dir) = corpusCat("docs_del")
    val docs = Tables.documents(spark, sf)
    val nTargets = docs
      .filter(col("lang") === "de" && pmod(col("doc_id"), lit(5)) === 2).count()
    nTargets should be > 0L
    ScaleQueries.q127ForgetDelete(spark, sf).count() shouldBe docs.count() - nTargets

    // delete 1: only lang=de's files changed
    val v = graft.sources.GraftTableCatalog.readLatest(dir)
    val (before, after) = (filesByLang(t, v - 1), filesByLang(t, v))
    after.keySet shouldBe before.keySet
    (before.keySet - "de").foreach(l => withClue(s"$l: ")(after(l) shouldBe before(l)))
    after("de") shouldNot equal(before("de"))

    // delete 2 (same targets, now absent): no data file written or dropped
    val files = headFiles(dir)
    spark.sql(s"DELETE FROM $t WHERE lang = 'de' AND pmod(doc_id, 5) = 2")
    headFiles(dir) shouldBe files

    // delete 3: a whole partition drops metadata-only — its files leave
    // the manifest and no file is written
    val zh = filesByLang(t, graft.sources.GraftTableCatalog.readLatest(dir))("zh")
    spark.sql(s"DELETE FROM $t WHERE lang = 'zh'")
    headFiles(dir) shouldBe files -- zh
    spark.sql(s"SELECT `partition` FROM $t.partitions").collect()
      .map(_.getString(0)).toSeq shouldNot contain("lang=zh")
    spark.table(t).filter(col("lang") === "zh").count() shouldBe 0L
  }

  test("q128: the zone map actually skips — hit files are a strict subset covering a narrow interval") {
    import org.apache.spark.sql.functions._
    ScaleQueries.purgeLayouts(spark, sf, Seq("graft_events_zm", "graft_events_zmidx"))
    val (lay, idx) = ScaleQueries.zoneMapLayout(spark, sf) // builds layout + sidecar
    val totalFiles = lay.read(spark)
      .select(input_file_name()).distinct().count()
    totalFiles shouldBe 8 // the range layout really produced 8 value-sorted files
    // the persisted sidecar is metadata-sized: exactly one row per file
    idx.read(spark).count() shouldBe totalFiles
    val hits = ScaleQueries.zoneMapHits(spark, idx, lo = 40.0, hi = 45.0)
    hits.nonEmpty shouldBe true
    hits.length.toLong should be < totalFiles // skipping skipped something
    // every hit NAME is a real layout file (the sidecar stores relocation-
    // proof basenames and indexes the layout it is fingerprint-chained to)
    val layoutNames = lay.read(spark)
      .select(input_file_name()).distinct().collect()
      .map(_.getString(0).replaceAll(".*/", "")).toSet
    hits.toSet.subsetOf(layoutNames) shouldBe true

    // RELOCATION-PROOF: copy layout + sidecar to a different root (the
    // mv/rsync/CI-cache-restore case the write-once fingerprint cannot
    // see) — the consult must resolve the same files and the same rows
    // from the new location, because it stores names, never paths
    val root = java.nio.file.Files.createTempDirectory("graft-zm-moved")
    try { // finally-cleaned: a failed assertion must not strand the copy
      def copyDir(src: String, name: String): String = {
        val dst = root.resolve(name)
        java.nio.file.Files.createDirectories(dst)
        java.nio.file.Files.list(java.nio.file.Paths.get(src)).forEach { p =>
          java.nio.file.Files.copy(p, dst.resolve(p.getFileName.toString))
        }
        dst.toString
      }
      val movedDir = copyDir(lay.dir, "layout")
      val movedIdx = copyDir(idx.dir, "idx")
      val movedHits = ScaleQueries.zoneMapHits(spark, idx.copy(dir = movedIdx), lo = 40.0, hi = 45.0)
      movedHits.toSet shouldBe hits.toSet
      val origRows = spark.read.parquet(hits.map(n => s"${lay.dir}/$n"): _*)
        .filter(col("value") >= 40.0 && col("value") <= 45.0).count()
      spark.read.parquet(movedHits.map(n => s"$movedDir/$n"): _*)
        .filter(col("value") >= 40.0 && col("value") <= 45.0)
        .count() shouldBe origRows
    } finally graft.operators.Scale.deleteRecursively(root)
  }

  /** The zone map by a full layout scan: one (f, vlo, vhi, n_rows) row
    * per file from a grouped aggregate. The reference the footer-built
    * sidecar is checked against. */
  private def scannedZoneMap(lay: graft.operators.Scale.Layout) = {
    import org.apache.spark.sql.functions._
    lay.read(spark)
      .groupBy(ScaleQueries.fileBasename.as("f"))
      .agg(min(col("value")).as("vlo"), max(col("value")).as("vhi"),
        count(lit(1)).as("n_rows"))
  }

  for (scale <- Seq("sf0.001", "sf0.01"))
    test(s"q128 at $scale: the footer-built sidecar equals the scanned zone map row for row") {
      val (lay, idx) = ScaleQueries.zoneMapLayout(spark, s"/root/testdata/$scale")
      val footer = idx.read(spark).orderBy("f").collect().toSeq
      footer should have size ScaleQueries.ZM_FILES.toLong
      footer shouldBe scannedZoneMap(lay).orderBy("f").collect().toSeq
    }

  test("q128: a file whose values include a NaN is always a hit, a zero-row file is not indexed; the scanned zone map skipped the NaN file") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Scale
    val root = java.nio.file.Files.createTempDirectory("graft-zm-nan")
    try {
      // three single-file appends: {41.0, NaN}, {100.0} and no rows
      val dir = root.resolve("layout").toString
      import spark.implicits._
      Seq((1L, 41.0), (2L, Double.NaN)).toDF("event_id", "value")
        .coalesce(1).write.parquet(dir)
      Seq((3L, 100.0)).toDF("event_id", "value")
        .coalesce(1).write.mode("append").parquet(dir)
      Seq.empty[(Long, Double)].toDF("event_id", "value")
        .write.mode("append").parquet(dir)
      graft.sources.Footers.rowCounts(spark, dir).map(_._2).sorted shouldBe Seq(0L, 1L, 2L)
      val lay = Scale.Layout(dir, spark.read.parquet(dir).schema)
      val nanFile = lay.read(spark).filter(col("value").isNaN)
        .select(ScaleQueries.fileBasename).head().getString(0)
      val idxDir = root.resolve("idx").toString
      ScaleQueries.zoneMapIndex(spark, lay).write.parquet(idxDir)
      val idx = Scale.Layout(idxDir, spark.read.parquet(idxDir).schema)
      idx.read(spark).count() shouldBe 2L
      val hits = ScaleQueries.zoneMapHits(spark, idx, lo = 40.0, hi = 45.0)
      hits shouldBe Seq(nanFile)
      lay.read(spark, hits: _*).filter(col("value").between(40.0, 45.0))
        .select("event_id").as[Long].collect() shouldBe Array(1L)
      // the scanned formulation: Spark's max orders NaN above every
      // number, so the file's vhi is NaN, `vhi >= lo` is false, and the
      // file holding the in-range 41.0 is skipped
      val scanned = scannedZoneMap(lay).collect()
        .filter(r => r.getDouble(1) <= 45.0 && r.getDouble(2) >= 40.0)
        .map(_.getString(0))
      scanned shouldBe empty
    } finally Scale.deleteRecursively(root)
  }

  test("footer row counts walk a partitioned layout: they equal the scan's count") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-footer-part")
    try {
      val dir = root.resolve("t").toString
      spark.range(0, 1000, 1, 3).withColumn("k", col("id") % 4)
        .write.partitionBy("k").parquet(dir)
      graft.sources.Footers.rowCount(spark, dir) shouldBe 1000L
      // files are named relative to the root, so equal part-file names in
      // two partition directories stay apart
      val names = graft.sources.Footers.rowCounts(spark, dir).map(_._1)
      names.size should be >= 4
      names.distinct shouldBe names
      all(names) should startWith("k=")
    } finally graft.operators.Scale.deleteRecursively(root)
  }

  test("footer bloom probe: a key held only in the last of several row groups may match, an absent key does not") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-footer-bloom")
    try {
      // one file, keys in order, row groups of a few KiB, field id 7 on k
      val dir = root.resolve("t").toString
      val id7 = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", 7L).build()
      spark.range(0, 20000, 1, 1).select(col("id").as("k", id7))
        .write.option("parquet.block.size", "16384")
        .option("parquet.bloom.filter.enabled#k", "true")
        .option("parquet.bloom.filter.expected.ndv#k", "20000")
        .parquet(dir)
      val Seq(file) = new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(java.nio.file.Paths.get(file)))
      val groups = try r.getFooter.getBlocks.asScala.toSeq finally r.close()
      groups.size should be >= 2
      // 19999 lies in the last row group's range only
      val maxes = groups.map(_.getColumns.get(0).getStatistics.genericGetMax)
      maxes.init.map(_.asInstanceOf[Long]).max should be < 19999L
      maxes.last shouldBe 19999L
      graft.sources.Footers.bloomMayHold(spark, file,
        Seq(7 -> (19999L: Any), 7 -> (-5L: Any))) shouldBe
        Seq(Some(true), Some(false))
    } finally graft.operators.Scale.deleteRecursively(root)
  }

  test("writeOnce: spec-gated reuse byte-for-byte, and a format flip rebuilds instead of serving the old bytes") {
    import org.apache.spark.sql.functions.col // not functions._: `not` would shadow the matcher
    import graft.operators.Scale
    val df = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
    val t = "graft_wo_fmt_test"
    val loc = java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
    Scale.deleteRecursively(loc)
    try { // finally-cleaned: a failed assertion must not strand the table
      def inventory() = loc.toFile.listFiles()
        .filter(_.getName.startsWith("part-"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq

      val d1 = Scale.writeOnce(df, t, "fp1")
      val files1 = inventory()
      files1 should not be empty
      // same spec → true no-op reuse: names, sizes, and mtimes untouched
      Scale.writeOnce(df, t, "fp1") shouldBe d1
      inventory() shouldBe files1
      // format flip, same data fingerprint → MUST rebuild (the format joins
      // the spec string): new task files, really ORC, same rows
      val d3 = Scale.writeOnce(df, t, "fp1", format = "orc")
      val files3 = inventory()
      files3.map(_._1).toSet should not be files1.map(_._1).toSet
      all(files3.map(_._1)) should include(".orc")
      spark.read.orc(d3.dir).count() shouldBe df.count()
      // and the ORC spec is itself reuse-stable
      Scale.writeOnce(df, t, "fp1", format = "orc") shouldBe d3
      inventory() shouldBe files3
    } finally Scale.deleteRecursively(loc)
  }

  test("q134: Neyman allocation sums EXACTLY to the budget at every scale") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = SampleQueries.q134NeymanAllocation(spark, dir).collect()
      withClue(s"$dir: ") {
        rows.map(_.getAs[Long]("alloc")).sum shouldBe SampleQueries.NEYMAN_K
        all(rows.map(_.getAs[Long]("alloc"))) should be >= 0L
      }
    }
  }

  test("q72: merge rewrites ONLY the affected partition; untouched partition files are byte-identical") {
    import org.apache.spark.sql.functions._
    val (t, dir) = corpusCat("corpus_base")
    val merged = ScaleQueries.q72MergeUpsert(spark, sf).count()

    // the contract: the MERGE version references the CTAS version's
    // de/es/fr/zh data files unchanged (graft_cat never rewrites a file in
    // place, so same name means same bytes) and replaces en's
    val v = graft.sources.GraftTableCatalog.readLatest(dir)
    val (before, after) = (filesByLang(t, v - 1), filesByLang(t, v))
    after.keySet shouldBe Set("en", "de", "es", "fr", "zh")
    Seq("de", "es", "fr", "zh").foreach { l =>
      withClue(s"$l: ")(after(l) shouldBe before(l))
    }
    (after("en") intersect before("en")) shouldBe empty
    val docs = Tables.documents(spark, sf)
    val inserts = docs.filter(col("lang") === "en" &&
      pmod(col("doc_id"), lit(11)) === 5).count()
    merged shouldBe docs.count() + inserts
  }

  test("q78: fingerprint refresh rewrites only the affected partition of each derived layout") {
    val layouts = Seq("graft_corpus_fp", "graft_corpus_fpb")
    ScaleQueries.purgeLayouts(spark, sf, layouts)
    val otherLangs = Set("de", "es", "fr", "zh")
    def dirOf(base: String) = java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      s"${base}_${ScaleQueries.sfTag(sf)}").toString
    def untouched(base: String) =
      partitionFileInventory(dirOf(base), "lang", Set("en"))
    def enPart(base: String) =
      partitionFileInventory(dirOf(base), "lang", otherLangs)

    // run 1: cold — base CTAS, fingerprint build, merge, refresh, probe
    val r1 = DedupQueries.q78IncrementalRefresh(spark, sf).count()
    r1 should be > 0L
    val before = layouts.map(t => t -> untouched(t)).toMap
    val beforeEn = layouts.map(t => t -> enPart(t)).toMap

    // run 2: fingerprint layouts reused; the base is re-created and the
    // merge + dynamic-overwrite refresh re-applied (idempotent)
    val r2 = DedupQueries.q78IncrementalRefresh(spark, sf).count()
    r2 shouldBe r1
    layouts.foreach { t =>
      withClue(s"$t untouched partitions:") {
        before(t) should not be empty
        untouched(t) shouldBe before(t) // names, sizes, mtimes, bytes
      }
      withClue(s"$t en partition rewritten:") {
        enPart(t).keySet should not equal beforeEn(t).keySet
      }
    }
  }

  test("q76: PQ codes reconstruct well enough to preserve q23's exact cosine ranking") {
    import org.apache.spark.sql.functions._
    // decode: each (vec_id, m, code) picks its codebook entry; subvectors
    // re-assemble in subspace order into the reconstructed vector
    val codes = SimilarityQueries.q76PqCodes(spark, sf)
    val cb = SimilarityQueries.pqCodebook(spark, sf)
    val rec = codes.as("c").join(cb.as("b"),
        col("c.m") === col("b.m") && col("c.code") === col("b.k"))
      .groupBy(col("c.vec_id").as("vec_id"))
      .agg(flatten(transform(array_sort(collect_list(struct(col("c.m"), col("b.cent")))),
        x => x.getField("cent"))).as("rec"))
    val orig = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

    // reconstruction error: the codes must explain a nontrivial share of
    // the (unit-norm) vectors' energy — the zero-reconstruction baseline
    // has relative error 1.0. (The synthetic embeddings are near-random,
    // the hardest case for PQ; measured rel ≈ 0.75 with the 16-entry seed
    // codebook.)
    val err = orig.join(rec, "vec_id").select(
      aggregate(zip_with(col("embedding"), col("rec"),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (a, v) => a + v).as("se"),
      graft.operators.Similarity.dot(col("embedding"), col("embedding")).as("norm2"))
    val st = err.agg(avg(col("se")), avg(col("norm2"))).collect()(0)
    val rel = st.getDouble(0) / st.getDouble(1)
    withClue(s"relative reconstruction error $rel:") {
      rel should be > 0.0
      rel should be < 0.85
    }

    // ranking preservation: asymmetric-distance-style scoring (original
    // query against reconstructed corpus) must land far above chance on
    // q23's exact top-5 (chance overlap at 500 vectors ≈ 0.01; measured
    // mean ≈ 0.33)
    val queries = orig.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val approxTop = queries.crossJoin(rec.withColumnRenamed("vec_id", "nid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.operators.Similarity.cosine(col("qe"), col("rec")).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exactTop = graft.operators.Similarity.bruteForceTopK(
        Tables.embeddings(spark, sf), Tables.embeddings(spark, sf).filter(col("vec_id") < 8), 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val overlaps = exactTop.keys.toSeq.sorted
      .map(q => (exactTop(q) intersect approxTop.getOrElse(q, Set.empty)).size / 5.0)
    val mean = overlaps.sum / overlaps.size
    withClue(s"mean top-5 overlap $mean (chance ≈ 0.01):") {
      mean should be >= 0.15
    }
  }

  test("q74: every epoch is a valid per-shard permutation, and epochs are different permutations") {
    val rows = SampleQueries.q74EpochReshuffle(spark, sf).collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getInt(2), r.getInt(3))) // epoch, doc, shard, pos
    val byEpoch = rows.groupBy(_._1)
    byEpoch.keySet shouldBe (0 until SampleQueries.N_EPOCHS).toSet

    // validity: within each (epoch, shard), positions are exactly 1..n
    for ((_, es) <- byEpoch; (_, cell) <- es.groupBy(_._3))
      cell.map(_._4).sorted shouldBe (1 to cell.length)

    // difference: the fraction of docs landing on the SAME (shard, position)
    // in two epochs is the collision rate of two independent permutations
    // (~1/#shards at matching sizes) — far below 1. A deterministic-but-
    // equal "reshuffle" would score 1.0 and fail here.
    val perms = byEpoch.view.mapValues(_.map(t => t._2 -> ((t._3, t._4))).toMap).toMap
    for (a <- perms.keys; b <- perms.keys if a < b) {
      val docs = perms(a).keySet
      docs shouldBe perms(b).keySet // same corpus, re-ordered
      val same = docs.count(id => perms(a)(id) == perms(b)(id))
      val frac = same.toDouble / docs.size
      withClue(s"epochs $a vs $b identical-placement fraction $frac:") {
        frac should be < 0.5
      }
    }
  }

  test("q87: weighted systematic sample totals exactly K picks and honors multiplicity") {
    import org.apache.spark.sql.functions._
    // On the real corpus: Σ n_picks telescopes to exactly K, and every
    // pick's interval really covers a threshold (n_picks ≥ 1 by the filter).
    val k = 100
    val picks = SampleQueries.weightedSystematicSample(
      Tables.documents(spark, sf), col("n_chars"), k)
    val total = picks.agg(sum(col("n_picks"))).collect()(0).getLong(0)
    total shouldBe k

    // Multiplicity: a doc wider than the stride T/K must be picked more
    // than once — the PPS-with-replacement contract. Synthetic frame: one
    // giant doc holding half the total weight at K=10 gets ≥ 4 picks.
    val ss = spark
    import ss.implicits._
    val synth = (1L to 100L).map(i => (i, 10L)).toDF("doc_id", "w")
      .union(Seq((999L, 1000L)).toDF("doc_id", "w"))
    val sp = SampleQueries.weightedSystematicSample(synth, col("w"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    sp.values.sum shouldBe 10
    sp(999L) should be >= 4L

    // Decomposition exactness: the two-phase (shard offsets + in-shard
    // cumsum) cum_weight must equal a flat global prefix sum in the same
    // (ord, doc_id) order — the property that makes the oracle's single
    // window a faithful replay.
    val flat = Tables.documents(spark, sf).select(col("doc_id"),
        graft.operators.TextOps.hash60(
          concat(lit("ws:"), col("doc_id").cast("string"))).as("ord"),
        col("n_chars").cast("long").as("w"))
      .withColumn("cum_flat", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ord"), col("doc_id")).rowsBetween(Long.MinValue, 0)))
    val joined = picks.join(flat, "doc_id")
      .filter(col("cum_weight") =!= col("cum_flat")).count()
    joined shouldBe 0L
  }

  test("q90: merged BPE symbols compete in later rounds, and merging is greedy non-overlapping") {
    val ss = spark
    import ss.implicits._
    // "abcd"×10: round 1 merges (a,b) (count ties broken pair-asc), round 2
    // MUST see the merged symbol "ab" as a unit and merge (ab, c) — the
    // recursion a one-shot pair count cannot produce — then (abc, d).
    def seqMerges(docs: org.apache.spark.sql.DataFrame, rounds: Int) =
      bpeStateSeq(docs, rounds)._1.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1)
    val docs1 = Seq.fill(10)("abcd").toDF("text")
    seqMerges(docs1, 3) shouldBe
      Array((1, "a", "b", 10L), (2, "ab", "c", 10L), (3, "abc", "d", 10L))

    // "abab"×10: (a,b) counts both positions; the replace must merge BOTH
    // adjacent occurrences in one left-to-right pass (" a  b  a  b " →
    // " ab  ab "), so round 2's top pair is (ab, ab).
    val docs2 = Seq.fill(10)("abab").toDF("text")
    seqMerges(docs2, 2) shouldBe Array((1, "a", "b", 20L), (2, "ab", "ab", 10L))

    // boundary safety: in "xab", the (a,b) merge must not touch the x —
    // and (x,ab) must then beat the exhausted pair in round 2.
    val docs3 = (Seq.fill(10)("xab") ++ Seq.fill(3)("ab")).toDF("text")
    seqMerges(docs3, 2) shouldBe Array((1, "a", "b", 13L), (2, "x", "ab", 10L))
  }

  test("q90: batched merges ≡ sequential merges wherever the batch is conflict-free, and batch=1 IS the sequential learner") {
    val ss = spark
    import ss.implicits._
    def batched(docs: org.apache.spark.sql.DataFrame, rounds: Int, batch: Int) = {
      val (m, s) = RetrievalQueries.bpeState(docs, rounds, batch)
      (m.collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2),
          r.getString(3), r.getLong(4))).sortBy(t => (t._1, t._2)),
        s.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
          .sortBy(_._1))
    }
    def sequential(docs: org.apache.spark.sql.DataFrame, rounds: Int) = {
      val (m, s) = bpeStateSeq(docs, rounds)
      (m.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).sortBy(_._1),
        s.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
          .sortBy(_._1))
    }

    // Symbol-disjoint top pairs: ONE batched round must reproduce FOUR
    // sequential rounds exactly — merges in the same order with the same
    // counts, and the identical final segmentation. (Merging (a,a) cannot
    // change (b,b)'s count: only pairs touching a merged symbol move.)
    val disjoint = (Seq.fill(100)("aa") ++ Seq.fill(90)("bb") ++
      Seq.fill(80)("cc") ++ Seq.fill(70)("dd")).toDF("text")
    val (bm, bs) = batched(disjoint, rounds = 1, batch = 4)
    val (sm, ssq) = sequential(disjoint, rounds = 4)
    bm.map(t => (t._3, t._4, t._5)) shouldBe sm.map(t => (t._2, t._3, t._4))
    bm.map(_._2) shouldBe Array(1, 2, 3, 4) // all accepted in one round
    bs shouldBe ssq

    // Conflicting candidates: "abab" puts (a,b):20 and (b,a):10 in the
    // same window; (b,a) shares both symbols with the higher-ranked (a,b)
    // so the filter rejects it, and the batched learner lands on exactly
    // the sequential merge list — batching never lets a stale count
    // through a conflict.
    val overlap = Seq.fill(10)("abab").toDF("text")
    val (om, os) = batched(overlap, rounds = 2, batch = 8)
    om shouldBe Array((1, 1, "a", "b", 20L), (2, 1, "ab", "ab", 10L))
    os shouldBe sequential(overlap, rounds = 2)._2

    // batch = 1 degenerates to the sequential learner verbatim on the
    // real corpus: same merges, same counts, same final word table.
    val corpus = Tables.documents(spark, sf)
    val (b1m, b1s) = batched(corpus, rounds = 3, batch = 1)
    val (sqm, sqs) = sequential(corpus, rounds = 3)
    b1m.map(t => (t._1, t._3, t._4, t._5)) shouldBe sqm
    b1s shouldBe sqs
  }

  test("q90: the production batch setting learns ≥16 merges with one driver sync per round") {
    val m = RetrievalQueries.bpeState(Tables.documents(spark, sf),
      RetrievalQueries.BPE_BATCH_ROUNDS, RetrievalQueries.BPE_BATCH)._1
    val rows = m.collect()
    rows.length should be >= 16
    // every accepted batch is conflict-free by construction: within a
    // round, no merge's symbols may touch an earlier merge's symbols or
    // their concatenation
    rows.groupBy(_.getInt(0)).foreach { case (_, batch) =>
      val sorted = batch.sortBy(_.getInt(1))
      for (i <- sorted.indices; j <- 0 until i) {
        val (ta, tb) = (sorted(i).getString(2), sorted(i).getString(3))
        val (pa, pb) = (sorted(j).getString(2), sorted(j).getString(3))
        val syms = Set(pa, pb, pa + pb)
        withClue(s"merge ($ta,$tb) vs earlier ($pa,$pb): ") {
          syms(ta) shouldBe false
          syms(tb) shouldBe false
        }
      }
    }
  }

  test("q81: fixed-point centroid accumulation is partitioning-invariant — bit-identical at any parallelism") {
    // The determinism claim, executed: a float-mean k-means drifts when the
    // summation order changes (different partitioning => different task
    // order => different IEEE rounding); the BIGINT micro-unit accumulation
    // must not. Run the identical query with the corpus pre-shuffled into
    // 1, 7, and 32 partitions and demand the same (cluster, dist2) per
    // vector INCLUDING the raw double distances.
    def run(parts: Int) = {
      val base = Tables.embeddings(spark, sf).repartition(parts)
      // ClusterQueries reads via Tables.embeddings(dir); to vary ONLY the
      // partitioning we re-run its pipeline on the repartitioned frame by
      // writing it out and pointing the query at the copy.
      val dir = java.nio.file.Files.createTempDirectory(s"q81inv$parts").toString
      base.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = ClusterQueries.q81Kmeans(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      out
    }
    val p1 = run(1)
    val p7 = run(7)
    val p32 = run(32)
    p7 shouldBe p1
    p32 shouldBe p1
    p1.size should be > 0
  }

  test("q110: content-defined boundaries are edit-local — a prefix edit leaves suffix chunks intact") {
    import spark.implicits._
    val textA = (1 to 80).map(i => f"tok${(i * 37) % 101}%03d").mkString(" ")
    val textB = "EDIT! " + textA
    val chunks = DedupQueries.cdcChunks(
        Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"))
      .collect().groupBy(_.getLong(0))
    val da = chunks(1L).sortBy(_.getInt(1)).map(_.getString(3)).toSeq
    val db = chunks(2L).sortBy(_.getInt(1)).map(_.getString(3)).toSeq
    // enough chunks that alignment is a real claim, not vacuity
    da.size should be >= 3
    // boundaries derive from LOCAL 4-char windows, so the first boundary
    // after the edit realigns both docs: every later chunk digest matches.
    // A fixed-width blocker (q47's segmentation) shifts EVERY block.
    (da.toSet intersect db.toSet).size should be >= da.size - 1
    da.last shouldBe db.last
    // the edited region itself must differ — the diff is localized, not absent
    da.head should not equal db.head
  }

  test("q100: global ranks are invariant to the prefix-scan bucket granularity") {
    import org.apache.spark.sql.functions.{col, date_trunc, lit}
    // bucket boundaries only move rows between window partitions; the
    // total order — and therefore every assigned rank (up to permutation
    // of fully-identical tied rows) — must not notice. (This is the claim
    // that makes the two-stage PrefixScan rank safe at any granularity.)
    def ranks(bucket: org.apache.spark.sql.Column) =
      SampleQueries.globalRank(spark, sf, bucket)
        .collect()
        .map(r => (String.valueOf(r.get(0)), r.getLong(1), r.getInt(2), r.getLong(3)))
        .sortBy(_._4)
    val byDay = ranks(col("l_shipdate"))
    val byMonth = ranks(date_trunc("month", col("l_shipdate")))
    val oneBucket = ranks(lit(0L)) // degenerate: the whole table is one bucket
    byMonth shouldBe byDay
    oneBucket shouldBe byDay
    // contiguity: 1..N exactly once
    byDay.map(_._4).toSeq shouldBe (1L to byDay.length.toLong)
  }

  test("q115: a failing audit refuses to publish — the previous version stays current") {
    import org.apache.spark.sql.functions._
    val (t, dir) = corpusCat("docs_wap")
    val n1 = ScaleQueries.q115WapPublish(spark, sf).count()
    n1 should be > 0L
    val published = graft.sources.GraftTableCatalog.readLatest(dir)
    def contents = spark.table(t).orderBy(col("doc_id")).collect().toSeq
    val rows1 = contents
    // a NEW candidate batch whose audits fail: the publish must throw,
    // name every failed audit in order, and leave main where it was
    val df = Tables.documents(spark, sf)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        col("source"), col("n_chars"))
    val boom = intercept[ScaleQueries.AuditFailure] {
      ScaleQueries.auditPublish(spark, t, df,
        Seq("always_fails" -> (_ => false),
          "passes" -> (_ => true),
          "also_fails" -> (d => d.count() < 0)))
    }
    boom.failed shouldBe Seq("always_fails", "also_fails")
    graft.sources.GraftTableCatalog.readLatest(dir) shouldBe published
    contents shouldBe rows1
    // no unpublished branch left behind
    spark.sql(s"SELECT tag FROM $t.refs WHERE type = 'branch'").collect() shouldBe empty
  }

  test("q162: consistent hashing moves ~1/(k+1) of docs on scale-out; mod-N would move ~k/(k+1)") {
    import org.apache.spark.sql.functions._
    val out = SampleQueries.q162ConsistentHash(spark, sf).collect()
    val n = out.length
    n should be > 0
    val movedRing = out.count(_.getAs[Boolean]("moved"))
    // adding a 9th shard captures ~16/144 of the ring; allow 2.5× slack on
    // the expectation — far below the mod-N catastrophe
    movedRing should be <= (5 * n / 18) // 2.5 × n/9
    // every moved doc lands ON the new shard — existing arcs are untouched
    out.filter(_.getAs[Boolean]("moved"))
      .foreach(_.getAs[Int]("shard_new") shouldBe 8)
    // the mod-N strawman: re-bucketing h%8 → h%9 moves almost everything
    val movedMod = out.count { r =>
      val h = r.getAs[Long]("h"); h % 8 != h % 9
    }
    movedMod should be >= (3 * n / 4)
    movedRing.toDouble should be < (movedMod.toDouble / 4)
  }

  test("q166: HLL registers re-aggregate — weekly registers are the MAX of daily registers") {
    import org.apache.spark.sql.functions._
    // the register monoid (max per bucket) must be grain-mergeable like
    // q154's bit_or: a weekly sketch derivable from retained daily
    // sketches with no re-scan — and since the estimate is a pure
    // function of the registers, the merged estimate is exact-equal too
    val base = Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        graft.operators.TextOps.hash60(concat(lit("hll:"),
          col("user_id").cast("string"))).as("h"))
      .select(col("event_type"), col("day"),
        pmod(col("h"), lit(256L)).as("bucket"), expr("h div 256").as("w"))
      .select(col("event_type"), col("day"), col("bucket"),
        when(col("w") === 0, lit(53))
          .otherwise(lit(53) -
            org.apache.spark.sql.functions.length(bin(col("w")))).as("rho"))
    def regMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)) -> r.getInt(3))
      .toMap
    val daily = base.groupBy(col("event_type"), col("day"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
    val weeklyFromDaily = regMap(daily
      .groupBy(col("event_type"), date_trunc("week", col("day")).as("period"),
        col("bucket"))
      .agg(max(col("reg")).as("reg")))
    val direct = regMap(base
      .groupBy(col("event_type"), date_trunc("week", col("day")).as("period"),
        col("bucket"))
      .agg(max(col("rho")).as("reg")))
    weeklyFromDaily shouldBe direct
    direct.nonEmpty shouldBe true
  }

  test("q154: bitmap words re-aggregate — weekly masks are the OR of daily masks, counts exact") {
    import org.apache.spark.sql.functions._
    // the mergeability COUNT(DISTINCT) lacks: a coarser grain must be
    // derivable from the finer grain's masks with no re-scan
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        shiftright(col("user_id"), 6).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").as("m"))
      .groupBy(col("event_type"), col("day"), col("word"))
      .agg(expr("bit_or(m)").as("mask"))
    val weeklyFromDaily = daily
      .groupBy(col("event_type"), date_trunc("week", col("day")).as("period"),
        col("word"))
      .agg(expr("bit_or(mask)").as("mask"))
      .groupBy(col("event_type"), col("period"))
      .agg(sum(bit_count(col("mask")).cast("long")).as("n_users"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    val direct = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("week", col("ts")).as("period"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    weeklyFromDaily shouldBe direct
    direct.nonEmpty shouldBe true
  }

  test("q175: weighted sample percentiles track the full-corpus percentiles") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val est = SampleQueries.q175WeightedPercentiles(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap
    val truth = Tables.documents(spark, d)
      .groupBy(col("lang"))
      .agg(percentile(col("n_chars"), lit(0.5)).as("p50"),
        percentile(col("n_chars"), lit(0.9)).as("p90"))
      .collect().map(r => r.getString(0) -> r).toMap
    est.keySet shouldBe truth.keySet // every sampled language is estimated
    est.foreach { case (lang, e) =>
      def num(r: org.apache.spark.sql.Row, f: String) = r.getAs[Number](f).doubleValue
      // the en stratum keeps 40% (~40 docs at this sf) — a discrete
      // percentile from a sample that size sits well within 20% of truth
      withClue(s"lang $lang: ") {
        math.abs(num(e, "wp50") - num(truth(lang), "p50")) should be <=
          (num(truth(lang), "p50") * 0.20 + 1)
        math.abs(num(e, "wp90") - num(truth(lang), "p90")) should be <=
          (num(truth(lang), "p90") * 0.20 + 1)
      }
    }
  }

  test("q171: a planted regime shift is recovered exactly — the argmax lands on the true boundary") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 60 days of one event per day: value 10.0 through day 39, 20.0 after.
    // Between-segment SS is maximized exactly at the planted boundary.
    val ev = (0 until 60).map { i =>
      ("shift", java.sql.Timestamp.valueOf(f"2024-03-${"%02d".format(i % 30 + 1)} 12:00:00")
        , i) }
      .toDF("event_type", "ts0", "i")
      .select(col("event_type"),
        (col("ts0") + expr("make_interval(0, 0, 0, CAST(i / 30 AS INT) * 30, 0, 0, 0)")).as("ts"),
        when(col("i") < 40, lit(10.0)).otherwise(lit(20.0)).as("value"))
    val r = OlapQueries.changepoint(ev).collect()
    r.length shouldBe 1
    r.head.getAs[Long]("n_left") shouldBe 40L
    r.head.getAs[Long]("n_right") shouldBe 20L
    // the split day is the LAST day of the left regime
    r.head.getAs[java.sql.Timestamp]("split_day").toString should startWith("2024-04-09")
  }

  test("q169: bloom skipping opens a strict subset of files; an absent key opens none; results equal the flat filter") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01" // 16-file layout: skipping is visible
    val (lay, idx) = ScaleQueries.bloomLayout(spark, d)
    val total = lay.read(spark)
      .select(input_file_name()).distinct().count()
    // a single present key must touch its own file but skip most others
    // (16 files × 4096-bit filters at ≤ ~315 keys/file: FP rate « 50%)
    val one = ScaleQueries.bloomCandidates(spark, idx, Seq(240L))
    one.size should be >= 1
    one.size.toLong should be < total
    // the absent probe key blooms negative everywhere — zero files opened
    ScaleQueries.bloomCandidates(spark, idx, Seq(999999937L)) shouldBe empty
    // skipping must be invisible to results
    val got = ScaleQueries.q169BloomSkipping(spark, d)
      .collect().map(_.getLong(0)).sorted
    val want = Tables.documents(spark, d)
      .filter(col("doc_id").isin(ScaleQueries.BF_PROBES: _*))
      .collect().map(_.getLong(0)).sorted
    got shouldBe want
    got.nonEmpty shouldBe true
  }

  test("q182: the RANGE frame is the calendar — it equals a brute day-filter recompute, and diverges from ROWS on gaps") {
    import org.apache.spark.sql.functions._
    val rows = WindowQueries.q182RangeFrame(spark, sf).collect()
    rows.nonEmpty shouldBe true
    // brute force: for every (type, day), re-sum the daily sums whose day
    // falls in [day-6, day] — straight from the output's own daily column
    val daily = rows.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("eday"))
      -> BigDecimal(r.getAs[String]("d_sum"))).toMap
    rows.foreach { r =>
      val (t, day) = (r.getAs[String]("event_type"), r.getAs[Long]("eday"))
      val want = daily.collect {
        case ((`t`, d0), v) if d0 >= day - 6 && d0 <= day => v }.sum
      BigDecimal(r.getAs[String]("trail7_range")) shouldBe want
      val wantDays = daily.keys.count { case (t0, d0) =>
        t0 == t && d0 >= day - 6 && d0 <= day }
      r.getAs[Long]("days_in_range") shouldBe wantDays.toLong
    }
    // the rare-event filter leaves calendar holes at this scale, so the
    // two frames must actually disagree somewhere — otherwise the query
    // demonstrates nothing
    rows.count(r => r.getAs[String]("trail7_range") != r.getAs[String]("trail7_rows")) should be > 0
  }

  test("q183: integer-moment skewness/kurtosis agree with Spark's own skewness()/kurtosis()") {
    import org.apache.spark.sql.functions._
    // Spark's implementations stream central moments in doubles — a
    // different algorithm entirely; agreement to 1e-6 (they, unlike us,
    // lose precision to cancellation) validates the raw→central algebra.
    // Both statistics are scale-invariant, so comparing on centi-units
    // needs no unit conversion.
    val got = OlapQueries.q183MomentShape(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("skewness"), r.getAs[Double]("ex_kurtosis"))).toMap
    got.size should be >= 3
    val ref = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("double").as("c"))
      .groupBy(col("event_type"))
      .agg(skewness(col("c")).as("sk"), kurtosis(col("c")).as("ku"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    got.foreach { case (t, (sk, ku)) =>
      math.abs(sk - ref(t)._1) should be < 1e-6
      math.abs(ku - ref(t)._2) should be < 1e-6
    }
  }

  test("q184: RAKE scores a hand-computed document exactly, and no phrase ever contains a stopword") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // "deep learning of the deep learning and model":
    //   phrases = [deep learning] ×2, [model]
    //   freq(deep)=2 deg(deep)=2+2=4 → sw=2000; learning likewise;
    //   freq(model)=1 deg=1 → sw=1000
    //   score(deep learning) = 4000 (occ 2), score(model) = 1000 (occ 1)
    val doc = Seq(("xx", "deep learning of the deep learning and model"))
      .toDF("lang", "text")
    val r = TextQueries.rake(doc).collect()
      .map(x => (x.getAs[String]("phrase"), x.getAs[Long]("rank"),
        x.getAs[Long]("occ"), x.getAs[Long]("score_milli"))).toSet
    r shouldBe Set(("deep learning", 1L, 2L, 4000L), ("model", 2L, 1L, 1000L))
    // on the real corpus: ranks are 1..5 per lang and phrases are
    // stopword-free (the delimiter really delimits)
    val full = TextQueries.q184RakeKeywords(spark, sf).collect()
    full.nonEmpty shouldBe true
    full.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      rs.map(_.getAs[Long]("rank")).sorted shouldBe (1L to rs.length).toArray
    }
    val stops = TextQueries.stopwords.toSet
    full.foreach { row =>
      row.getAs[String]("phrase").split(" ").exists(stops) shouldBe false
    }
  }

  test("q185: hashed features conserve every token — per-doc tf totals equal token counts, signed sums bounded") {
    import org.apache.spark.sql.functions._
    val fh = TextQueries.q185FeatureHashing(spark, sf)
    val perDoc = fh.groupBy(col("doc_id")).agg(sum(col("tf")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Tables.documents(spark, sf)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(filter(split(trim(col("text")),
          "\\s+"), w => w =!= "")).cast("long").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    perDoc shouldBe want // the vectorizer loses and invents nothing
    // the sign hash is a ±1 per token: |signed| ≤ tf and same parity
    TextQueries.q185FeatureHashing(spark, sf).collect().foreach { r =>
      val (tf, sg) = (r.getAs[Long]("tf"), r.getAs[Long]("tf_signed"))
      math.abs(sg) should be <= tf
      ((tf - sg) % 2) shouldBe 0L
    }
  }

  test("q186: clip counts respect the exact percentile bounds and the winsorized mean sits inside the band") {
    import org.apache.spark.sql.functions._
    val rows = OlapQueries.q186Winsorize(spark, sf).collect()
    rows.nonEmpty shouldBe true
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      // strictly-below-p05 mass is < n/20 by the threshold definition;
      // strictly-above-p95 mass is ≤ n/20
      (r.getAs[Long]("n_clip_lo") * 20) should be < n
      (r.getAs[Long]("n_clip_hi") * 20) should be <= n
      r.getAs[Long]("lo_cents") should be <= r.getAs[Long]("hi_cents")
      val m = r.getAs[Double]("mean_winsor")
      m should (be >= r.getAs[Long]("lo_cents").toDouble and
        be <= r.getAs[Long]("hi_cents").toDouble)
    }
  }

  test("q187: the CDF intervals partition the weight space — every draw resolves exactly once, mass follows weight") {
    import org.apache.spark.sql.functions._
    val rows = RetrievalQueries.q187NegativeSampling(spark, sf).collect()
    // 1000 draws in, 1000 resolutions out, each k exactly once — a gap or
    // overlap in the [cumlo, cumhi] intervals would break this invariant
    rows.length shouldBe 1000
    rows.map(_.getAs[Long]("k")).sorted shouldBe (0L until 1000L).toArray
    // heavy words must carry draws: rebuild the full vocabulary weights
    // independently and check the argmax-weight word appears with
    // frequency near 1000·w/W (loose 3× band — this is a determinism
    // suite, not a statistics exam)
    def isqrt(x: Long) = math.sqrt(x.toDouble).toLong
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> {
        val c = r.getLong(1); isqrt(c * isqrt(c)) }).toMap
    val wTot = vocab.values.sum
    val (topWord, topW) = vocab.maxBy(_._2)
    val expected = 1000.0 * topW / wTot
    val drawn = rows.count(_.getAs[String]("word") == topWord).toDouble
    drawn should (be >= expected / 3 and be <= expected * 3)
  }

  test("q188: CUPED preserves the pooled mean exactly and theta matches the engine's covar_pop/var_pop") {
    import org.apache.spark.sql.functions._
    val rows = OlapQueries.q188Cuped(spark, sf).collect()
    rows.length shouldBe 2
    // the adjustment redistributes between arms but cannot move the
    // pooled metric: Σ n·mean_adj = Σ n·mean_y (algebraic identity)
    val pooledRaw = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("mean_y")).sum
    val pooledAdj = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("mean_adj")).sum
    math.abs(pooledAdj - pooledRaw) should be < math.abs(pooledRaw) * 1e-9 + 1e-9
    rows.foreach { r =>
      r.getAs[Double]("var_adj") should be >= 0.0
      r.getAs[Double]("var_y") should be >= 0.0
    }
    // independent theta: Spark's own covariance/variance over the same
    // per-user cents (different algorithm, tolerance comparison)
    val cents = (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
      .cast("long")
    val u = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), cents.as("cv"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < lit("2024-01-16").cast("timestamp"), col("cv"))
          .otherwise(0L)).cast("double").as("x"),
        sum(when(col("ts") >= lit("2024-01-16").cast("timestamp"), col("cv"))
          .otherwise(0L)).cast("double").as("y"))
    val ref = u.agg((covar_pop(col("x"), col("y")) / var_pop(col("x"))).as("t"))
      .head().getDouble(0)
    math.abs(rows.head.getAs[Double]("theta") - ref) should be <
      math.abs(ref) * 1e-6 + 1e-9
  }

  test("q189: the log-histogram state merges by addition across any split, and every quantile bound brackets the exact value") {
    import org.apache.spark.sql.functions._
    val out = OlapQueries.q189LogHistogram(spark, sf).collect()
    val state = out.filter(_.getAs[String]("kind") == "bucket")
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("k")) ->
        r.getAs[Long]("v1")).toMap
    state.nonEmpty shouldBe true
    // mergeability: rebuild the state from two disjoint md5 halves of the
    // events and ADD the half-states — they must reproduce the full state
    def halfState(keep: Int): Map[(String, Long), Long] = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .filter(pmod(graft.operators.TextOps.hash60(concat(lit("half:"),
        col("event_id").cast("string"))), lit(2L)) === keep)
      .select(col("event_type"),
        org.apache.spark.sql.functions.length(bin(
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
            .cast("long"))).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (h0, h1) = (halfState(0), halfState(1))
    val merged = (h0.keySet ++ h1.keySet).map(k =>
      k -> (h0.getOrElse(k, 0L) + h1.getOrElse(k, 0L))).toMap
    merged shouldBe state
    // the factor-2 guarantee, on data: est_lo ≤ exact ≤ est_hi per (type, q)
    val quant = out.filter(_.getAs[String]("kind") == "quantile")
    quant.length should be >= 9 // 3 quantiles × ≥3 types
    quant.foreach { r =>
      val (lo, hi, ex) = (r.getAs[Long]("v1"), r.getAs[Long]("v2"), r.getAs[Long]("v3"))
      lo should be <= ex
      ex should be <= hi
    }
  }

  test("q178: BFS levels are genuine shortest paths — every level-i node touches level i-1 and nothing earlier") {
    import org.apache.spark.sql.functions._
    val dist = GraphQueries.q178BfsKhop(spark, sf)
      .select(concat(col("node_type"), lit(":"), col("key")).as("node"), col("dist"))
    dist.count() shouldBe dist.select(col("node")).distinct().count() // one level per node
    // rebuild the undirected edge list in decoded node space
    val e0 = Tables.orders(spark, sf).join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("customer:"), col("o_custkey")).as("a"),
        concat(lit("supplier:"), col("l_suppkey")).as("b")).distinct()
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    // minimum over neighbors' levels: for every node at level i ≥ 1, the
    // best neighbor level must be EXACTLY i-1 — i-2 would mean a shorter
    // path exists (BFS missed it), i would mean no path of length i exists
    // (BFS invented it)
    val nbrBest = edges.join(dist.withColumnRenamed("node", "a")
        .withColumnRenamed("dist", "da"), Seq("a"))
      .groupBy(col("b")).agg(min(col("da")).as("best"))
    val bad = dist.filter(col("dist") >= 1)
      .join(nbrBest, dist("node") === nbrBest("b"))
      .filter(col("best") =!= col("dist") - 1)
    bad.count() shouldBe 0L
    // levels form a contiguous prefix of 0..3 (a gap would mean a level
    // expanded from nothing); the dense small-SF graph saturates by hop 2,
    // so level 3 may legitimately be empty — but 0..2 must be there
    val levels = dist.select(col("dist")).distinct().collect().map(_.getLong(0)).sorted
    levels shouldBe (0L until levels.length).toArray
    levels.length should be >= 3
  }

  test("q200: weighted distances are sound — ≥ hop counts, witnessed by a relaxing neighbor, seeds exactly at 0") {
    import org.apache.spark.sql.functions._
    val dist = GraphQueries.q200Sssp(spark, sf)
      .select(concat(col("node_type"), lit(":"), col("key")).as("node"),
        col("dist"))
    dist.count() shouldBe dist.select(col("node")).distinct().count()
    // dist 0 ⟺ seed: every edge weight is ≥ 1 (floor(l_quantity) ∈ [1,50]),
    // so any relaxed value is strictly positive
    val seeds = Tables.customer(spark, sf).filter(col("c_nationkey") === 0)
      .select(concat(lit("customer:"), col("c_custkey")).as("node")).distinct()
    dist.filter(col("dist") === 0).select(col("node"))
      .exceptAll(seeds).count() shouldBe 0L
    seeds.exceptAll(dist.filter(col("dist") === 0).select(col("node")))
      .count() shouldBe 0L
    // weighted ≥ hops on every node BFS reaches (3-hop ⊆ 4-edge horizon,
    // and any path has at least hop-count edges, each of weight ≥ 1)
    val hops = GraphQueries.q178BfsKhop(spark, sf)
      .select(concat(col("node_type"), lit(":"), col("key")).as("node"),
        col("dist").as("hops"))
    hops.join(dist, Seq("node"), "left_anti").count() shouldBe 0L
    hops.join(dist, Seq("node"))
      .filter(col("dist") < col("hops")).count() shouldBe 0L
    dist.agg(max(col("dist"))).head().getLong(0) should be <= 200L // 4 × 50
    // relaxation witness: every non-seed's cost is ≥ the best neighbor
    // extension (the shortest ≤4-edge path ends with SOME edge whose
    // source was reached one round earlier at no more than dv − w)
    val e0 = Tables.orders(spark, sf).join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("customer:"), col("o_custkey")).as("a"),
        concat(lit("supplier:"), col("l_suppkey")).as("b"),
        floor(col("l_quantity")).cast("long").as("w0"))
      .groupBy(col("a"), col("b")).agg(min(col("w0")).as("w"))
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b"), col("w")))
    val nbrBest = edges.join(dist.withColumnRenamed("node", "a")
        .withColumnRenamed("dist", "da"), Seq("a"))
      .groupBy(col("b")).agg(min(col("da") + col("w")).as("best"))
    dist.filter(col("dist") > 0)
      .join(nbrBest, dist("node") === nbrBest("b"))
      .filter(col("best") > col("dist")).count() shouldBe 0L
  }

  test("q89/q178/q200: keyed ≡ broadcast — both physical modes of the iterative graph family produce identical tables") {
    // Every per-round update is integer min/sum over the same logical
    // graph, so the co-partitioned path (forced keyed) must reproduce the
    // broadcast path's output EXACTLY — bit-identical rows, not just
    // statistically close. This is the safety proof for the auto switch:
    // crossing the node threshold changes the plan, never the answer.
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toList: Seq[Any]).sortBy(_.mkString("|")).toSeq
    sortedRows(GraphQueries.pagerankRanks(spark, sf, keyed = true)) shouldBe
      sortedRows(GraphQueries.pagerankRanks(spark, sf, keyed = false))
    sortedRows(GraphQueries.bfsDistances(spark, sf, keyed = true)) shouldBe
      sortedRows(GraphQueries.bfsDistances(spark, sf, keyed = false))
    sortedRows(GraphQueries.ssspDistances(spark, sf, keyed = true)) shouldBe
      sortedRows(GraphQueries.ssspDistances(spark, sf, keyed = false))
  }

  test("q201: the AMS sketch is linear — sketch(A) + sketch(B) equals sketch(A ⊎ B) on any split") {
    import org.apache.spark.sql.functions._
    val rows = Tables.lineitem(spark, sf).select(
      graft.operators.TextOps.hash60(
        concat(lit("ams:"), col("l_partkey").cast("string"))).as("h"),
      pmod(col("l_orderkey"), lit(3)).as("part"))
    def zvec(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      OlapQueries.amsZ(df.select(col("h"))).collect()
        .head.toSeq.map(_.asInstanceOf[Long])
    val whole = zvec(rows)
    val parts = (0 until 3).map(p => zvec(rows.filter(col("part") === p)))
    whole shouldBe parts.transpose.map(_.sum)
    // the floor-mean estimate lands within 2× of the exact self-join size
    // at this SF (deterministic — a pinned observation, not a tail bound;
    // the theoretical std is √(2/R)·F₂ ≈ 0.35·F₂)
    val out = OlapQueries.q201AmsF2(spark, sf).collect().head
    val est = out.getAs[Long]("est_f2")
    val exact = out.getAs[Long]("f2_exact")
    est should be >= exact / 2
    est should be <= exact * 2
  }

  test("q202: the ALS half-step solution is the ridge minimizer — beats every ±1 lattice neighbor, exact BigInt objective") {
    import org.apache.spark.sql.functions._
    val out = ClusterQueries.q202AlsStep(spark, sf).collect()
      .map(r => r.getAs[Long]("user") ->
        (r.getAs[Long]("det"), r.getAs[Long]("x1_num"), r.getAs[Long]("x2_num")))
      .toMap
    out.nonEmpty shouldBe true
    // independent JVM replay of the ratings and hash-digit factors
    val ratings = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .agg(max(floor(col("l_quantity")).cast("long")).as("r"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    ratings.keySet shouldBe out.keySet
    // ridge objective ×det² stays integral: J(x) = Σ(r·det − v·x_num)² + λ|x_num|²
    def obj(rows: Seq[(Long, Long, Long)], det: BigInt,
            x1: BigInt, x2: BigInt): BigInt = {
      val fit = rows.map { case (_, item, r) =>
        val h = BigInt(graft.operators.TextOps.hash60Jvm(s"als:$item"))
        val (v1, v2) = (h % 17 - 8, (h / 17) % 17 - 8)
        val res = BigInt(r) * det - v1 * x1 - v2 * x2
        res * res
      }.sum
      fit + x1 * x1 + x2 * x2 // λ = 1
    }
    out.foreach { case (u, (det, x1, x2)) =>
      withClue(s"user $u: ") {
        det should be >= 1L // λI makes A positive definite
        val rows = ratings(u)
        val base = obj(rows, BigInt(det), BigInt(x1), BigInt(x2))
        // x ± e_k in factor space is x_num ± det·e_k in numerator space;
        // the true minimizer (rationals, convex) must beat every neighbor
        for ((d1, d2) <- Seq((det, 0L), (-det, 0L), (0L, det), (0L, -det)))
          obj(rows, BigInt(det), BigInt(x1 + d1), BigInt(x2 + d2)) should
            be >= base
      }
    }
  }

  test("q203: autocorrelations obey Cauchy–Schwarz and the pair-count arithmetic of a zero-filled spine") {
    import org.apache.spark.sql.functions._
    val rows = WindowQueries.q203Autocorr(spark, sf).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val (num, den) = (r.getAs[Long]("num"), r.getAs[Long]("den"))
      den should be > 0L
      math.abs(num) should be <= den // |r| ≤ 1, exactly, in integers
      // a contiguous day spine loses exactly `lag` pairs — a gap-skipping
      // bug would show up here before it biased any correlation
      r.getAs[Long]("n_pairs") shouldBe
        (r.getAs[Long]("n_days") - r.getAs[Long]("lag"))
      r.getAs[Double]("r") shouldBe (num.toDouble / den.toDouble)
    }
    rows.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("lag")))
      .distinct.length shouldBe rows.length
  }

  test("q204: Kneser–Ney probabilities are bounded, discount-positive, and the count tables are mutually consistent") {
    import org.apache.spark.sql.functions._
    val rows = RetrievalQueries.q204KneserNey(spark, sf).collect()
    rows.length should be > 0
    val SCALE = 1000000000000L
    val nt = rows.head.getAs[Long]("nt")
    rows.foreach { r =>
      val (cab, ca) = (r.getAs[Long]("c_ab"), r.getAs[Long]("c_a"))
      val (n1a, n1b) = (r.getAs[Long]("n1a"), r.getAs[Long]("n1b"))
      val p = r.getAs[Long]("p_kn_fp")
      cab should be <= ca // a bigram can't outnumber its context total
      n1a should be <= ca // distinct continuations can't outnumber tokens
      n1b should be <= nt
      p should be > 0L
      p should be <= SCALE // a probability, in fixed point
      // interpolation only ADDS continuation mass to the discounted term
      p should be >= (4 * cab - 3) * SCALE / (4 * ca)
    }
    // mass conservation over the FULL vocabulary is the exact-rational
    // identity Σ_b P(b|a) = 1; its count-table precondition (Σ_b c_ab =
    // c_a, #distinct b = n1a, Σ_a n1b-rows = NT) is what can actually
    // break in a distributed rebuild — assert it on the real tables
    val docs = Tables.documents(spark, sf).filter(col("text").isNotNull)
    val w = graft.operators.TextOps.words(col("text"))
    val nw = org.apache.spark.sql.functions.size(w)
    val bc = docs.select(explode(zip_with(
        slice(w, lit(1), nw - 1), slice(w, lit(2), nw - 1),
        (a, b) => struct(a.as("ta"), b.as("tb")))).as("p"))
      .groupBy(col("p.ta").as("ta"), col("p.tb").as("tb"))
      .agg(count(lit(1)).as("c_ab"))
    bc.agg(count(lit(1))).head().getLong(0) shouldBe nt
    val bad = bc.groupBy(col("ta"))
      .agg(sum(col("c_ab")).as("ca2"), count(lit(1)).as("n1a2"))
      .filter(col("ca2") < col("n1a2")).count()
    bad shouldBe 0L
  }

  test("q205: the Hilbert fold is the curve — bijective, Manhattan-adjacent steps, equal to the JVM reference") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // exhaustive 16×16 grid at bits=4: every cell index once, and every
    // consecutive pair of cells edge-adjacent — the locality property
    // Z-order does NOT have (its diagonal jumps), proved, not claimed
    val bits = 4; val n = 1 << bits
    val grid = (0 until n).flatMap(x => (0 until n).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .withColumn("h", graft.operators.Scale.hilbert2(col("x"), col("y"), bits))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    grid.map(_._3).sorted shouldBe (0L until (n.toLong * n)).toArray
    val byD = grid.map { case (x, y, h) => h -> (x, y) }.toMap
    (1 until n * n).foreach { d =>
      val (x0, y0) = byD(d - 1L); val (x1, y1) = byD(d.toLong)
      withClue(s"step $d: ") {
        (math.abs(x0 - x1) + math.abs(y0 - y1)) shouldBe 1L
      }
    }
    grid.foreach { case (x, y, h) =>
      h shouldBe graft.operators.Scale.hilbert2Jvm(x, y, bits)
    }
    // full-width agreement at the production bit width on scattered points
    val pts = Seq((12L, 9L), (0L, 0L), (65535L, 65535L), (40L, 7L),
      (31337L, 4242L), (65535L, 0L), (1L, 65534L))
    pts.toDF("x", "y")
      .withColumn("h", graft.operators.Scale.hilbert2(col("x"), col("y"), 16))
      .collect().foreach { r =>
        r.getLong(2) shouldBe
          graft.operators.Scale.hilbert2Jvm(r.getLong(0), r.getLong(1), 16)
      }
    // the layout must be invisible to WHICH rows a probe returns: the
    // Hilbert table and the Z-order table answer identically
    val hRows = ScaleQueries.q205HilbertLayout(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val zRows = ScaleQueries.q57ZorderLayout(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    hRows.exceptAll(zRows).count() shouldBe 0L
    zRows.exceptAll(hRows).count() shouldBe 0L
  }

  test("q206: the JL projection preserves norms in aggregate — E[y²] = |x|² realized within tolerance") {
    import org.apache.spark.sql.functions._
    val perVec = ClusterQueries.q206JlProjection(spark, sf)
      .groupBy(col("vec_id"))
      .agg(sum(col("y") * col("y")).as("n2_out"), min(col("n2_in")).as("n2_in"),
        count(lit(1)).as("k"))
      .collect()
    perVec.length shouldBe 500
    perVec.foreach { r =>
      r.getAs[Long]("k") shouldBe 8L
      r.getAs[Long]("n2_in") should be > 0L
    }
    // per-vector: χ²₈-shaped spread, loosely bounded; corpus mean: tight.
    // deterministic observations at this SF, not tail bounds
    val ratios = perVec.map(r =>
      r.getAs[Long]("n2_out").toDouble / (8.0 * r.getAs[Long]("n2_in")))
    ratios.foreach(_ should be > 0.05)
    ratios.foreach(_ should be < 5.0)
    val mean = ratios.sum / ratios.length
    mean should be > 0.8
    mean should be < 1.25
  }

  test("q208: the IBLT peel recovers exactly the dropped hash buckets — closed-form ground truth, full decode") {
    val out = OlapQueries.q208IbltReconcile(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side"))
    val byBucket = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id")).collect()
      .map(_.getLong(0))
      .groupBy(id => graft.operators.TextOps.hash60Jvm(id.toString) % 5)
    // a = bkt≠0, b = bkt≠1 ⟹ only_a ≡ bucket 1, only_b ≡ bucket 0
    out.filter(_._2 == "only_a").map(_._1).sorted shouldBe
      byBucket(1L).sorted
    out.filter(_._2 == "only_b").map(_._1).sorted shouldBe
      byBucket(0L).sorted
    out.length shouldBe (byBucket(0L).length + byBucket(1L).length)
  }

  test("q209: Theil–Sen shrugs off planted outliers that wreck the mean slope") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // clean line x = 3t over 40 days, with 8 days (20%) spiked by +10⁶:
    // the pairwise-slope median must still be EXACTLY 3; the OLS/mean
    // slope is dragged tens of thousands away
    val series = (0L until 40L)
      .map(t => ("s", t, 3 * t + (if (t % 5 == 4) 1000000L else 0L)))
      .toDF("event_type", "day", "x")
    val out = WindowQueries.theilSen(series).collect()
    out.length shouldBe 1
    out.head.getAs[Double]("slope") shouldBe 3.0
    out.head.getAs[Long]("n_pairs") shouldBe (40L * 39 / 2)
    val mean = series.agg(
      (max("x") - min("x")).cast("double") / (max("day") - min("day"))
    ).head().getDouble(0)
    math.abs(mean - 3.0) should be > 1000.0
  }

  test("q210: every count-sketch estimate lands inside its own certified radius (×3)") {
    val rows = OlapQueries.q210CountSketch(spark, sf).collect()
    rows.length shouldBe 20
    rows.foreach { r =>
      val err = math.abs(r.getAs[Long]("est") - r.getAs[Long]("exact"))
      val bound = r.getAs[Long]("err_bound")
      bound should be > 0L
      // per-row std is the bound; the median-of-3 stays within 3σ on
      // every probe here (deterministic observation; the theory says
      // each row estimate is within 3σ with prob ~0.998)
      err should be <= 3 * bound
    }
  }

  test("q211: every trailing-window estimate tracks its exact distinct count, and windows dominate their days") {
    import org.apache.spark.sql.functions._
    val rows = OlapQueries.q211SlidingHll(spark, sf).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val est = r.getAs[Long]("est_milli") / 1000.0
      val exact = r.getAs[Long]("n_exact")
      exact should be > 0L
      // HLL-with-LC-fallback at m=256: observed ≤ 3% here; 25% would
      // already mean a merge bug, not sketch noise
      math.abs(est - exact) / exact should be < 0.25
      // a 7-day union can never see FEWER distincts than any single day,
      // and register monotonicity forces est to respect that too
      r.getAs[Long]("used_buckets") + r.getAs[Long]("zeros") shouldBe 256L
    }
  }

  test("q212: the kNN eval emits one verdict per held-out vector and correctly measures chance-level label coherence") {
    val rows = SimilarityQueries.q212KnnClassify(spark, sf).collect()
    rows.length shouldBe 50 // every 10th of 500 vectors, exactly once
    rows.map(_.getAs[Long]("q_id")).distinct.length shouldBe 50
    rows.foreach { r =>
      r.getAs[Long]("n_votes") should be >= 1L
      r.getAs[Long]("n_votes") should be <= 5L
      r.getAs[Boolean]("correct") shouldBe
        (r.getAs[Long]("pred_label") == r.getAs[Long]("true_label"))
    }
    // the generator's labels are INDEPENDENT of the vectors (10 classes),
    // so a correct evaluator must report ~chance accuracy — a high score
    // here would mean the eval is leaking the answer, not that the space
    // is good
    val acc = rows.count(_.getAs[Boolean]("correct")).toDouble / rows.length
    acc should be < 0.35
    acc should be > 0.0
  }

  test("q213: the minimax isotonic fit is monotone and equals an independent exact-rational PAVA") {
    import org.apache.spark.sql.functions._
    val out = WindowQueries.q213Isotonic(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day"),
        r.getAs[Long]("n"), r.getAs[Double]("y"), r.getAs[Double]("fit")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    out.nonEmpty shouldBe true
    // independent ground truth: sequential pool-adjacent-violators with
    // EXACT cross-multiplied rational comparisons — a different algorithm
    // on a different altitude (per-key fold vs minimax joins)
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).as("cs"), count(lit(1)).as("n"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    def pava(pts: Seq[(Long, Long)]): Seq[Double] = {
      case class B(var cs: Long, var n: Long, var cnt: Int)
      val st = scala.collection.mutable.ArrayBuffer.empty[B]
      pts.foreach { case (cs, n) =>
        st += B(cs, n, 1)
        while (st.length >= 2 &&
            st(st.length - 2).cs * st.last.n >= st.last.cs * st(st.length - 2).n) {
          val b = st.remove(st.length - 1)
          st.last.cs += b.cs; st.last.n += b.n; st.last.cnt += b.cnt
        }
      }
      st.toSeq.flatMap(b => Seq.fill(b.cnt)(b.cs.toDouble / b.n.toDouble))
    }
    out.foreach { case (ty, rows) =>
      withClue(s"$ty: ") {
        rows.sliding(2).filter(_.length == 2).foreach { p =>
          p(0)._5 should be <= p(1)._5 // monotone
        }
        val ref = pava(daily(ty).map(t => (t._3, t._4)))
        ref.length shouldBe rows.length
        rows.map(_._5).zip(ref).foreach { case (got, want) =>
          math.abs(got - want) should be < 1e-9 * math.max(1.0, math.abs(want))
        }
      }
    }
  }

  test("q215: silhouette scores are bounded, definitionally consistent, and positive on average for a real clustering") {
    val rows = ClusterQueries.q215Silhouette(spark, sf).collect()
    rows.length shouldBe 500
    rows.foreach { r =>
      val (a, b, sc) = (r.getAs[Double]("a"), r.getAs[Double]("b"),
        r.getAs[Double]("s"))
      a should be > 0.0
      b should be > 0.0
      sc should be >= -1.0
      sc should be <= 1.0
      sc shouldBe ((b - a) / math.max(a, b))
    }
    // k-means on these vectors separates SOMETHING: the mean silhouette
    // of a genuine assignment must beat the zero a random labeling gives
    val mean = rows.map(_.getAs[Double]("s")).sum / rows.length
    mean should be > 0.0
  }

  test("q215: the sufficient-statistics silhouette is BIT-identical to the all-pairs scan") {
    // Σ_{y∈c}|x−y|² = n·|x|² − 2·x·S + Q is exact in BIGINT, so the closed
    // form feeds the SAME integer (sd, cn) operands into the same float
    // divisions — doubles must match bit-for-bit, not approximately.
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)),
      java.lang.Double.doubleToLongBits(r.getDouble(3)),
      java.lang.Double.doubleToLongBits(r.getDouble(4)))
    val fast = ClusterQueries.q215Silhouette(spark, sf).collect().map(key).sorted
    val pairs = ClusterQueries.q215SilhouetteAllPairs(spark, sf)
      .collect().map(key).sorted
    fast should contain theSameElementsInOrderAs pairs
  }

  test("q216: RFM scores are balanced quintiles with a consistent label") {
    val rows = Queries.q216RfmSegments(spark, sf).collect()
    rows.length shouldBe 150
    val n = rows.length
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val sizes = rows.groupBy(_.getAs[Long](c)).view.mapValues(_.length)
      sizes.keySet shouldBe Set(1L, 2L, 3L, 4L, 5L)
      sizes.values.foreach { sz =>
        sz should be >= n / 5
        sz should be <= n / 5 + 1
      }
    }
    rows.foreach { r =>
      r.getAs[String]("segment") shouldBe
        s"${r.getAs[Long]("r_score")}-${r.getAs[Long]("f_score")}-${r.getAs[Long]("m_score")}"
      r.getAs[Long]("recency_days") should be >= 0L
      r.getAs[Long]("frequency") should be >= 1L
    }
  }

  test("q217: at most one open session per user at the cutoff, and every closed session passes through untouched") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf).select(col("user_id"), col("ts"))
    val maxDay = ev.agg(max(expr("unix_micros(ts) div 86400000000")))
      .head().getLong(0)
    val cutoffUs = (maxDay - 6) * 86400000000L
    val gapUs = 30 * 60000000L
    val state = WindowQueries.sessionizeBatch(
      ev.filter(expr("unix_micros(ts)") < cutoffUs), 30)
    // the boundary theorem the incremental merge relies on
    state.filter(expr("unix_micros(session_end)") >= cutoffUs - gapUs)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count() shouldBe 0L
    // closed sessions must appear verbatim in the incremental output
    val closed = state
      .filter(expr("unix_micros(session_end)") < cutoffUs - gapUs)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
    val out = WindowQueries.q217IncrementalSessions(spark, sf)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
    closed.exceptAll(out).count() shouldBe 0L
    // and the batch window genuinely exercises the merge: some output
    // session must span the cutoff (starts before, ends after)
    out.filter(expr("unix_micros(session_start)") < cutoffUs &&
      expr("unix_micros(session_end)") >= cutoffUs - gapUs).count() should be > 0L
  }

  test("q218: the sign-flip test rejects a planted shift at the resolution floor and stays calibrated on pure noise") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted effect: 30 paired deltas, all +1000 — every sign flip can
    // only reduce |T|, so n_ge counts just the all-plus patterns (≈0)
    // and p lands at the add-one floor
    val shifted = (0L until 30L).map(t => ("s", t, 1000L))
      .toDF("event_type", "day", "delta")
    val ps = OlapQueries.signFlipTest(shifted).collect().head
    ps.getAs[Long]("p_milli") shouldBe (1000L * 1) / 256 // = 3, the floor
    ps.getAs[Long]("t_obs") shouldBe 30000L
    // pure noise: alternating ±1000 deltas sum to 0 — |T_obs| = 0 is the
    // minimum, every replica ties or beats it, p = 1000 exactly
    val noise = (0L until 30L).map(t =>
      ("n", t, if (t % 2 == 0) 1000L else -1000L))
      .toDF("event_type", "day", "delta")
    val pn = OlapQueries.signFlipTest(noise).collect().head
    pn.getAs[Long]("t_obs") shouldBe 0L
    pn.getAs[Long]("p_milli") shouldBe 1000L
    // the real-data rows are well-formed p-values
    OlapQueries.q218SignFlipTest(spark, sf).collect().foreach { r =>
      r.getAs[Long]("p_milli") should be > 0L
      r.getAs[Long]("p_milli") should be <= 1000L
      r.getAs[Long]("n_ge") should be <= 255L
    }
  }

  test("q219: Wasserstein distances obey the triangle inequality and dominate the mean gap — exact BigInt checks") {
    import org.apache.spark.sql.functions._
    val rows = OlapQueries.q219Wasserstein(spark, sf).collect()
    rows.length shouldBe 10 // 5 types choose 2
    val n = rows.map(r => r.getAs[String]("ta") -> r.getAs[Long]("n_a")).toMap ++
      rows.map(r => r.getAs[String]("tb") -> r.getAs[Long]("n_b")).toMap
    val w1 = rows.map(r => (r.getAs[String]("ta"), r.getAs[String]("tb")) ->
      BigInt(r.getAs[String]("w1_num"))).toMap
    def dist(a: String, b: String): (BigInt, BigInt) = {
      val key = if (a < b) (a, b) else (b, a)
      (w1(key), BigInt(n(a)) * BigInt(n(b))) // (num, den)
    }
    val types = n.keys.toSeq.sorted
    // triangle inequality, cross-multiplied — a CDF-walk bug (mis-merged
    // support, off-by-one cumulative) breaks metric-ness before anything
    for (a <- types; b <- types; c <- types
         if a < c && b != a && b != c) {
      val (nAC, dAC) = dist(a, c)
      val (nAB, dAB) = dist(a, b)
      val (nBC, dBC) = dist(b, c)
      withClue(s"W1($a,$c) ≤ W1($a,$b) + W1($b,$c): ") {
        (nAC * dAB * dBC <= (nAB * dAC * dBC + nBC * dAC * dAB)) shouldBe true
      }
    }
    // W1 ≥ |mean difference| (Jensen): exact cents sums vs the scaled num
    val sums = Tables.events(spark, sf)
      .select(col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("c"))
      .groupBy(col("event_type")).agg(sum(col("c")).as("sc"))
      .collect().map(r => r.getString(0) -> BigInt(r.getLong(1))).toMap
    rows.foreach { r =>
      val (ta, tb) = (r.getAs[String]("ta"), r.getAs[String]("tb"))
      val (na, nb) = (BigInt(n(ta)), BigInt(n(tb)))
      // |sa/na − sb/nb| ≤ num/(na·nb)  ⟺  |sa·nb − sb·na| ≤ num
      (sums(ta) * nb - sums(tb) * na).abs should be <=
        BigInt(r.getAs[String]("w1_num"))
    }
  }

  test("q220: clustering coefficients are bounded and the corner counts conserve 3× the triangle total") {
    val rows = OlapQueries.q220ClusteringCoef(spark, sf).collect()
    rows.length should be > 0
    val totalTri = OlapQueries.q157TriangleCount(spark, sf).count()
    rows.map(_.getAs[Long]("tri")).sum shouldBe 3 * totalTri
    rows.foreach { r =>
      val cc = r.getAs[java.lang.Long]("cc_milli")
      if (r.getAs[Long]("deg") >= 2) {
        cc should not be null
        cc.longValue should be >= 0L
        cc.longValue should be <= 1000L
      } else {
        cc shouldBe null
        r.getAs[Long]("tri") shouldBe 0L // degree-1 nodes close no triangle
      }
    }
  }

  test("q222/q223: modularity sums within [-1,1) and the symmetrized moments obey the exchange symmetry") {
    val mod = GraphQueries.q222Modularity(spark, sf).collect()
    mod.length should be > 0
    val m2 = 2 * mod.head.getAs[Long]("m")
    mod.map(_.getAs[Long]("d_c")).sum shouldBe m2 // degrees cover all arcs
    mod.foreach { r =>
      // the scaled numerator must match its own pieces, with intra2 =
      // 2·e_c exactly — an odd intra count means the symmetrization
      // dropped a direction
      val dC = r.getAs[Long]("d_c")
      r.getAs[Long]("q_num_4m2") shouldBe
        (m2 * 2 * r.getAs[Long]("e_c") - dC * dC)
    }
    val q = mod.map(_.getAs[Double]("q_contrib")).sum
    q should be >= -1.0
    q should be < 1.0
    val as = GraphQueries.q223Assortativity(spark, sf).collect().head
    as.getAs[Long]("sa") shouldBe as.getAs[Long]("sb") // u↔v exchange
    as.getAs[Long]("saa") shouldBe as.getAs[Long]("sbb")
    val r = as.getAs[Double]("r")
    r should be >= -1.0
    r should be <= 1.0
  }

  test("q225: window-pass drawdown equals the brute-force pairwise maximum, earliest-day tiebreaks included") {
    import org.apache.spark.sql.functions._
    val out = WindowQueries.q225Drawdown(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("max_drawdown_cents"), r.getAs[Long]("trough_day"),
          r.getAs[Long]("best_runup_cents"), r.getAs[Long]("runup_day")))
      .toMap
    out.nonEmpty shouldBe true
    val series = Tables.events(spark, sf)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("c"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("dc"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    series.keySet shouldBe out.keySet
    series.foreach { case (ty, rows) =>
      val cum = rows.scanLeft(0L)(_ + _._3).drop(1)
      val days = rows.map(_._2)
      // brute force over all (s ≤ t) pairs, earliest t on ties
      var (bd, bdDay) = (Long.MinValue, 0L)
      var (br, brDay) = (Long.MinValue, 0L)
      for (t <- cum.indices) {
        val pre = cum.take(t + 1)
        val dd = pre.max - cum(t)
        val ru = cum(t) - pre.min
        if (dd > bd) { bd = dd; bdDay = days(t) }
        if (ru > br) { br = ru; brDay = days(t) }
      }
      withClue(s"$ty: ") {
        out(ty) shouldBe ((bd, bdDay, br, brDay))
        bd should be >= 0L
        br should be >= 0L
      }
    }
  }

  test("q226: top-3 + OTHERS conserves every nation's total to the cent, shares sum to 1") {
    val rows = Queries.q226TopnOthers(spark, sf).collect()
    rows.groupBy(_.getAs[Any]("nation").toString).foreach { case (nation, rs) =>
      withClue(s"nation $nation: ") {
        val total = rs.head.getAs[Long]("nation_cents")
        rs.map(_.getAs[Long]("nation_cents")).distinct.length shouldBe 1
        rs.map(_.getAs[Long]("cents")).sum shouldBe total // conservation
        math.abs(rs.map(_.getAs[Double]("share")).sum - 1.0) should be < 1e-9
        rs.count(_.getAs[String]("who") != "OTHERS") should be <= 3
        rs.filter(_.getAs[String]("who") != "OTHERS")
          .map(_.getAs[Long]("rk")).sorted shouldBe
          (1L to rs.count(_.getAs[String]("who") != "OTHERS")).toArray
      }
    }
  }

  test("q227: median CIs bracket the median with ≥95% exact coverage and symmetric ranks") {
    val rows = SampleQueries.q227MedianCi(spark, sf).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val n = r.getAs[Long]("n_days")
      val (j, k) = (r.getAs[Long]("j_rank"), r.getAs[Long]("k_rank"))
      j + k shouldBe n + 1 // symmetric order statistics
      j should be >= 1L
      k should be <= n
      r.getAs[Long]("lo_x") should be <= r.getAs[Long]("median_x")
      r.getAs[Long]("median_x") should be <= r.getAs[Long]("hi_x")
      val cov = r.getAs[Double]("coverage")
      cov should be >= 0.95 // n ≈ 30 days: the 2.5% tails are achievable
      cov should be < 1.0
      // the coverage numerator is the exact binomial mass: re-derive it
      val nn = n.toInt
      val binom = Array.iterate(BigInt(1), nn + 1)(identity)
        .zipWithIndex.map { case (_, i) =>
          (0 until i).foldLeft(BigInt(1))((a, t) => a * (nn - t) / (t + 1))
        }
      val tail = (0 until j.toInt).map(binom(_)).sum // Σ_{i<j} C(n,i)
      BigInt(r.getAs[String]("cov_num")) shouldBe
        (BigInt(2).pow(nn) - 2 * tail)
    }
  }

  test("q227: a 90-day series works — the coverage numerators clear 2^63 as canonical decimal strings") {
    import org.apache.spark.sql.functions._
    // A >62-day fixture (the round-9 ceiling): 90 daily buckets with a
    // deterministic skewed count per day. Written as an events table so
    // the SAME q227 query runs end-to-end against it.
    val dir = "work/fixtures/q227_90d"
    val days = 90
    spark.range(0, days.toLong)
      .select(col("id"),
        explode(sequence(lit(1), (pmod(col("id") * 37 + 11, lit(50)) + 1)
          .cast("int"))).as("k"))
      .select((col("id") * 1000 + col("k")).as("event_id"),
        timestamp_micros(col("id") * 86400000000L + col("k")).as("ts"),
        col("k").as("user_id"), lit("tick").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SampleQueries.q227MedianCi(spark, dir).collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getAs[Long]("n_days") shouldBe days.toLong
    // 2^90 ≈ 1.24e27 — far past BIGINT; the strings must carry it exactly
    BigInt(r.getAs[String]("pow2n")) shouldBe BigInt(2).pow(days)
    val j = r.getAs[Long]("j_rank")
    j + r.getAs[Long]("k_rank") shouldBe days + 1L
    val binomTail = (0 until j.toInt)
      .map(i => (0 until i).foldLeft(BigInt(1))((a, t) => a * (days - t) / (t + 1)))
      .sum
    BigInt(r.getAs[String]("cov_num")) shouldBe
      (BigInt(2).pow(days) - 2 * binomTail)
    // the selected tail is the LARGEST with 40·tail ≤ 2^n — j+1 overshoots
    (40 * (binomTail + (0 until j.toInt).foldLeft(BigInt(1))(
      (a, t) => a * (days - t) / (t + 1)))) should be > BigInt(2).pow(days)
    (40 * binomTail) should be <= BigInt(2).pow(days)
    r.getAs[Double]("coverage") should be >= 0.95
    r.getAs[Long]("lo_x") should be <= r.getAs[Long]("median_x")
    r.getAs[Long]("median_x") should be <= r.getAs[Long]("hi_x")
  }

  test("q227: the year-scale path (spec-gated, n = 365) matches an independent Pascal-triangle reference") {
    val ss2 = spark
    import ss2.implicits._
    val days = 365
    def xOf(i: Int): Long = ((i * 37 + 11) % 97 + 1).toLong
    val daily = (0 until days).map(i => ("tick", i.toLong, xOf(i)))
      .toDF("event_type", "day", "x")
    val rows = SampleQueries.medianCiFromDaily(spark, daily, maxN = 366).collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getAs[Long]("n_days") shouldBe days.toLong

    // independent reference: Pascal's triangle (ADDITIVE recurrence — a
    // different mechanism from the engine's multiplicative fold) plus a
    // full-scan argmax for the rank selection
    var tri = Array(BigInt(1))
    for (_ <- 1 to days)
      tri = (Array(BigInt(0)) ++ tri).zip(tri ++ Array(BigInt(0)))
        .map(t => t._1 + t._2)
    val pow2n = BigInt(2).pow(days)
    var jRef = 0
    var tailRef = BigInt(0)
    var cum = BigInt(0)
    for (cand <- 1 to (days + 1) / 2) {
      cum += tri(cand - 1)
      if (cum * 40 <= pow2n) { jRef = cand; tailRef = cum }
    }
    if (jRef == 0) { jRef = 1; tailRef = tri(0) }
    val covRef = pow2n - 2 * tailRef

    r.getAs[Long]("j_rank") shouldBe jRef.toLong
    r.getAs[Long]("k_rank") shouldBe (days + 1 - jRef).toLong
    BigInt(r.getAs[String]("pow2n")) shouldBe pow2n
    BigInt(r.getAs[String]("cov_num")) shouldBe covRef
    r.getAs[Double]("coverage") shouldBe covRef.doubleValue / pow2n.doubleValue
    r.getAs[Double]("coverage") should be >= 0.95
    // CLT plausibility: j ≈ n/2 − 0.98·√n ≈ 164 at n = 365
    jRef should be >= 160
    jRef should be <= 170
    // the order statistics against the directly sorted series
    val xs = (0 until days).map(xOf).sorted
    r.getAs[Long]("lo_x") shouldBe xs(jRef - 1)
    r.getAs[Long]("median_x") shouldBe xs((days + 1) / 2 - 1)
    r.getAs[Long]("hi_x") shouldBe xs(days - jRef)

    // the oracle-gated entry keeps its honest ceiling: the same series
    // through q227's 124-day regime must refuse, not silently mismatch
    val e = intercept[IllegalArgumentException] {
      SampleQueries.medianCiFromDaily(spark, daily, maxN = 124).collect()
    }
    e.getMessage should include("exceeds ceiling 124")
  }

  test("q228: the rank-sum AUC numerator equals brute pair counting, with exact label-swap antisymmetry") {
    import org.apache.spark.sql.functions._
    val rows = OlapQueries.q228Auc(spark, sf).collect()
    rows.length shouldBe 5
    val data = Tables.events(spark, sf)
      .select(col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("c"),
        when(((expr("unix_micros(ts) div 86400000000") + lit(4L)) % 7L)
          .isin(0L, 6L), 1L).otherwise(0L).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val ty = r.getAs[String]("event_type")
      val pts = data(ty)
      val pos = pts.filter(_._3 == 1L).map(_._2)
      val neg = pts.filter(_._3 == 0L).map(_._2)
      r.getAs[Long]("n_pos") shouldBe pos.length.toLong
      r.getAs[Long]("n_neg") shouldBe neg.length.toLong
      // brute-force U: 2·#{pos > neg} + #{pos = neg} over all pairs
      var num2 = BigInt(0)
      pos.foreach { p =>
        neg.foreach { n =>
          if (p > n) num2 += 2 else if (p == n) num2 += 1
        }
      }
      withClue(s"$ty: ") {
        BigInt(r.getAs[Long]("auc_num2")) shouldBe num2
        val auc = r.getAs[Double]("auc")
        auc should be >= 0.0
        auc should be <= 1.0
        // label swap: num2 + num2' = 2·n₊·n₋ exactly
        var num2f = BigInt(0)
        neg.foreach { p =>
          pos.foreach { n =>
            if (p > n) num2f += 2 else if (p == n) num2f += 1
          }
        }
        num2 + num2f shouldBe BigInt(2) * pos.length * neg.length
      }
    }
  }

  test("q229: the delta-method SE brackets an independent jackknife on the same units") {
    import org.apache.spark.sql.functions._
    val rows = OlapQueries.q229RatioVariance(spark, sf).collect()
    rows.length shouldBe 5
    val units = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("seg"), col("o_custkey"))
      .agg(sum((col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long")).as("si"), count(lit(1)).as("ni"))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    rows.foreach { r =>
      val seg = r.getAs[String]("segment")
      val se = r.getAs[Double]("se_ratio")
      se should be > 0.0
      // leave-one-out jackknife — a DIFFERENT variance estimator that
      // must agree to first order with the delta method
      val us = units(seg)
      val (ts, tn) = (us.map(_._2).sum, us.map(_._3).sum)
      val rs = us.map { case (_, si, ni) =>
        (ts - si).toDouble / (tn - ni).toDouble
      }
      val n = rs.length
      val rbar = rs.sum / n
      val seJack = math.sqrt(
        rs.map(x => (x - rbar) * (x - rbar)).sum * (n - 1).toDouble / n)
      withClue(s"$seg: delta=$se jack=$seJack: ") {
        se / seJack should be > 0.5
        se / seJack should be < 2.0
      }
    }
  }

  test("q230: kappa is chance-corrected — bounded by raw agreement, consistent with q112's confusion matrix") {
    val r = TextQueries.q230CohensKappa(spark, sf).collect().head
    val (n, a) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_agree"))
    val kappa = r.getAs[Double]("kappa")
    n shouldBe 500L
    a should be <= n
    kappa should be <= 1.0
    kappa should be >= -1.0
    // κ ≤ raw agreement (chance correction can only shrink), exactly:
    // N·A − E ≤ A·(N² − E)/N  ⟺  kappa_num·N ≤ A·kappa_den
    BigInt(r.getAs[Long]("kappa_num")) * n should be <=
      BigInt(a) * r.getAs[Long]("kappa_den")
    // the same predictions drive q112: marginals must reconcile
    val conf = TextQueries.q112LangAgreement(spark, sf).collect()
    conf.map(_.getAs[Long]("n_docs")).sum shouldBe n
    conf.filter(c => c.getAs[String]("pred_stop") == c.getAs[String]("pred_ngram"))
      .map(_.getAs[Long]("n_docs")).sum shouldBe a
  }

  test("q179: the one-scan integer-moment correlations agree with Spark's built-in corr()") {
    import org.apache.spark.sql.functions._
    // corr() streams Welford-style in doubles — an entirely different
    // algorithm and summation order. Agreement to 1e-9 on every pair is
    // evidence the moment algebra is right; bit-equality is neither
    // expected nor needed (the DuckDB gate pins OUR tree exactly).
    val got = OlapQueries.q179CorrMatrix(spark, sf).collect()
      .map(r => (r.getAs[String]("x_col"), r.getAs[String]("y_col")) ->
        r.getAs[Double]("corr")).toMap
    got.size shouldBe 6
    val cents = Tables.lineitem(spark, sf).select(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
        (col(c).cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("double").as(c)): _*)
    got.foreach { case ((a, b), r) =>
      val builtin = cents.agg(corr(col(a), col(b))).head().getDouble(0)
      math.abs(r - builtin) should be < 1e-9
    }
  }

  test("q180: the Benford audit is a complete partition of the orders — counts and milli-probabilities both total exactly") {
    val rows = OlapQueries.q180Benford(spark, sf).collect()
    rows.length shouldBe 9 // all digits present even at zero observations
    rows.map(_.getAs[Long]("exp_milli")).sum shouldBe 1000L // a true distribution
    val nTot = rows.head.getAs[Long]("n_tot")
    rows.map(_.getAs[Long]("n_obs")).sum shouldBe nTot // every order counted once
    nTot shouldBe Tables.orders(spark, sf).count()
  }

  test("q181: the grouped-rank closed form equals the brute row-level rank formula, bit for bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // brute force: materialize every customer's rank within its segment
    // (row_number over revenue; tied revenues share x, so any tie order
    // yields the same Σ rᵢxᵢ) and apply G = (2·Σrᵢxᵢ − (n+1)·Σx)/(n·Σx)
    // directly. The closed form must reproduce it EXACTLY — same BIGINTs
    // in, same single division out.
    val rev = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("rev"))
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
    val brute = rev
      .withColumn("r", row_number().over(Window.partitionBy(col("seg")).orderBy(col("rev"))))
      .groupBy(col("seg")).agg(count(lit(1)).as("n"), sum(col("rev")).as("t"),
        sum(col("r") * col("rev")).as("srank"))
      .select(col("seg"),
        ((lit(2L) * col("srank") - (col("n") + 1L) * col("t")).cast("double") /
          (col("n") * col("t")).cast("double")).as("gini"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = OlapQueries.q181Gini(spark, sf).collect()
      .map(r => r.getAs[String]("seg") -> r.getAs[Double]("gini")).toMap
    got.keySet shouldBe brute.keySet
    got.foreach { case (seg, g) =>
      g shouldBe brute(seg) // bit-exact: identical integers, identical tree
      g should (be >= 0.0 and be < 1.0)
    }
  }

  test("q191: star contraction solves an adversarial path in O(log n) rounds where label propagation is still mid-walk, and never merges components") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // A 193-node PATH with ids scrambled along it (position i carries id
    // (i·77) mod 193 — 77 coprime to the prime 193, so a permutation):
    // diameter 192, the worst case for per-hop label propagation, with
    // the component minimum (0) buried mid-path, not at an endpoint.
    val ids = (0 until 193).map(i => (i * 77) % 193)
    val path = ids.zip(ids.tail).map { case (a, b) => (a.toLong, b.toLong) }
    // plus a disjoint 5-node ring far away in id space — a second
    // component that must NOT merge with the path
    val ring = (0 until 5).map(i => (1000L + i, 1000L + (i + 1) % 5))
    val edges = (path ++ ring).toDF("src", "dst")
    val (labels, rounds) = operators.Graph.starContractComponents(edges, 25)
    // O(log²n) bound, miles under the diameter: the separation claim
    rounds should be <= 12
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.size shouldBe 198
    ids.foreach(id => got(id.toLong) shouldBe 0L)          // path → min 0
    (0 until 5).foreach(i => got(1000L + i) shouldBe 1000L) // ring → min 1000
    // The q44 primitive after the SAME round budget has moved labels only
    // `rounds` hops: nodes farther than that from id 0 along the path are
    // provably unconverged — the O(diameter) vs O(log n) gap, on data.
    val lp = minLabelRounds(edges, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lp.values.count(_ != 0L) should be > 150 // most of the path still wrong
  }

  test("q191: the contraction schedules a pinned number of driver jobs on the order-chain graph, the same on every run") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftshim.GraftSqlShim
    // q191's graph: each customer's orders chained by (date, key). The
    // chain is materialized first, so its build's jobs stay out of the count.
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val chain = ord.withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("o_orderkey").as("src"), col("nxt").as("dst"))
      .localCheckpoint(true)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // (rounds, jobs) for the loop as q191 calls it. The lazy labels stay
    // unwritten: their plan is the consumer's, and under AQE its stage
    // count varies by one with which concurrent stage finishes first.
    // The call's own work before the loop runs under the session's AQE
    // too (the checkpoints of the canonical edges and of the nodes, and
    // the first `edgeSetSig`), but each of those plans is one aggregate
    // over one exchange with no join: AQE has a single stage to run at a
    // time, so their job count cannot vary with stage timing.
    def run(): (Int, Int) = {
      GraftSqlShim.drainListenerBus(sc)
      jobs.set(0)
      val (_, rounds) = operators.Graph.starContractComponents(chain, 25,
        adaptiveLoop = false)
      GraftSqlShim.drainListenerBus(sc)
      (rounds, jobs.get)
    }
    sc.addSparkListener(listener)
    val runs = try Seq(run(), run()) finally sc.removeSparkListener(listener)
    // deterministic: a change to the loop's driver round-trips moves it,
    // and updates this pin in the same commit
    runs shouldBe Seq((4, 15), (4, 15))
  }

  test("star contraction with the pointer-doubling prepass matches a union-find oracle on hubs, chains, rings, self-loops and duplicate edges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Adversarial mix for the r19 prepass: a hub star (min at the hub and
    // min at a leaf), two scrambled chains, a ring, reversed + duplicate
    // edges, a self-loop-only node (must self-label), and an edge joining
    // two structures mid-way.
    val edges0: Seq[(Long, Long)] =
      (1L to 40L).map(i => (500L, 500L + i)) ++          // hub, min at hub
      (1L to 30L).map(i => (900L + i, 700L)) ++         // hub, min at leaf
      (0 until 60).map(i => (((i * 53) % 61 + 2000).toLong,
        (((i + 1) * 53) % 61 + 2000).toLong)) ++        // scrambled chain
      (0 until 25).map(i => ((3000 + i).toLong, (3001 + i).toLong)) ++
      (0 until 7).map(i => ((4000 + i).toLong, (4000 + (i + 1) % 7).toLong)) ++
      Seq((3025L, 4000L),                               // chain joins ring
        (5000L, 5000L),                                 // self-loop only
        (541L, 500L), (500L, 510L))                     // reversed + dup
    val edges = edges0.toDF("src", "dst")
    // Scala union-find ground truth (component = min id)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges0.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val m = math.min(ra, rb); parent(math.max(ra, rb)) = m }
    }
    val want = parent.keys.map(n => n -> find(n)).toMap
    for (adaptive <- Seq(true, false)) {
      val (labels, rounds) =
        operators.Graph.starContractComponents(edges, 25, adaptive)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"adaptiveLoop=$adaptive: ") {
        got shouldBe want
        rounds should be <= 12
      }
    }
  }

  test("PrefixScan: the two-stage bucket scan equals the one-window scan for every op, bucketing, and partitioning") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // adversarial values: negatives (sum must not be monotone), repeats
    // (max plateaus), and a group column; order key k is 0..N-1 scrambled
    // across input partitions
    val n = 500
    val rows = (0 until n).map { k =>
      val g = if (k % 3 == 0) "a" else "b"
      (g, k.toLong, ((k * 37) % 19 - 9).toLong)
    }
    for (parts <- Seq(1, 7); bucketWidth <- Seq(1L, 13L, 1000L);
         op <- Seq("sum", "max"); excl <- Seq(false, true)) {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts)).toDF("g", "k", "v")
      val got = operators.PrefixScan.running(df, Seq("g"),
          expr(s"k div $bucketWidth"), Seq(col("k")), col("v"), op, "r",
          exclusive = excl)
        .select(col("g"), col("k"), col("r"))
      val w = Window.partitionBy(col("g")).orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, if (excl) -1 else 0)
      val oracleAgg = if (op == "sum") sum(col("v")) else max(col("v"))
      val want = df.select(col("g"), col("k"),
        (if (op == "sum" && excl) coalesce(oracleAgg.over(w), lit(0L))
         else oracleAgg.over(w)).as("r"))
      withClue(s"parts=$parts bucket=$bucketWidth op=$op excl=$excl: ") {
        got.except(want).union(want.except(got)).count() shouldBe 0L
      }
    }
  }

  test("PrefixScan.runningAdaptive: both branches and the multi-scan form agree with the one-window scan, including struct buckets on a desc order") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // q114's exact shape: rank + cumsum along (cnt desc, token asc) with a
    // (−cnt, first char) struct bucket, on a table with heavy cnt ties
    val rows = (0 until 400).map { i =>
      val token = s"${('a' + (i * 7) % 23).toChar}${('a' + (i * 13) % 17).toChar}$i"
      (token, ((i * 31) % 7 + 1).toLong) // cnt in 1..7: massive ties
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 5)).toDF("token", "cnt")
    val bucket = struct(negate(col("cnt")), substring(col("token"), 1, 1))
    val order = Seq(col("cnt").desc, col("token"))
    val scans = Seq((lit(1L), "sum", "rk"), (col("cnt"), "sum", "cs"))
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("rk", sum(lit(1L)).over(w))
      .withColumn("cs", sum(col("cnt")).over(w))
      .select(col("token"), col("rk"), col("cs"))
    for (parallel <- Seq(true, false)) {
      val got = operators.PrefixScan.runningAdaptive(
          df, Nil, bucket, order, scans, exclusive = false,
          parallel = parallel)
        .select(col("token"), col("rk"), col("cs"))
      withClue(s"parallel=$parallel: ") {
        got.except(want).union(want.except(got)).count() shouldBe 0L
      }
    }
  }

  test("q194: the sorted-group fold matches an independent in-memory replay, and BOTH clamp branches fire on the real data") {
    import org.apache.spark.sql.functions._
    val sfd = sf
    val got = SequenceQueries.q194ClampedBalance(spark, sfd)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // independent replay: collect deltas, fold in plain Scala
    val cents = (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
      .cast(org.apache.spark.sql.types.LongType)
    val raw = Tables.events(spark, sfd).select(col("user_id"), col("event_id"),
        when(col("event_type").isin("purchase", "signup"), cents)
          .otherwise(-cents).as("delta"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = raw.groupBy(_._1).map { case (u, evs) =>
      var b = 0L; var fl = 0L; var cp = 0L
      evs.sortBy(_._2).foreach { case (_, _, dl) =>
        val x = b + dl
        if (x < 0) { b = 0; fl += 1 }
        else if (x > 20000L) { b = 20000L; cp += 1 } else b = x
      }
      u -> ((b, fl, cp, evs.length.toLong))
    }
    got shouldBe want
    // the test only means something if the clamp actually engages, both ways
    got.values.map(_._2).sum should be > 0L // floor hits somewhere
    got.values.map(_._3).sum should be > 0L // cap hits somewhere
  }

  test("q197: the KMV state is the true k-min of the distinct set under ANY partitioning, and the estimator lands within its error bound") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // mergeability + partitioning invariance of the bounded buffer: the
    // state must equal the ground-truth k smallest distinct values no
    // matter how the input is split or how merges associate
    val vals = (0 until 5000).map(i => ((i * 2654435761L) % 100003L))
    val wantState = vals.distinct.sorted.take(64)
    for (parts <- Seq(1, 3, 16)) {
      val kmv = udaf(graft.functions.KmvAgg.kMin(64))
      val got = spark.createDataset(vals).repartition(parts)
        .toDF("h").agg(kmv(col("h"))).collect()(0)
        .getAs[scala.collection.Seq[Long]](0)
      withClue(s"parts=$parts: ") { got.toList shouldBe wantState.toList }
    }
    // estimator quality on the real data: for every row that took the
    // estimate path (state full), |est − exact| must sit inside 4σ of the
    // KMV bound σ ≈ exact/√(k−2) — a sketch whose answer drifts past that
    // is a broken sketch even if it hashes deterministically
    val rows = OlapQueries.q197KmvSketch(spark, sf).collect()
    rows.foreach { r =>
      val (size, est, exact) = (r.getLong(1), r.getLong(3), r.getLong(4))
      if (size < 64) est shouldBe exact // below k the sketch IS the set
      else math.abs(est - exact).toDouble should be <=
        4.0 * exact.toDouble / math.sqrt(62.0)
    }
    // the pair rows' exact set algebra must be internally consistent:
    // |A∪B| = |A| + |B| − |A∩B| ≥ max(|A|,|B|)
    val ty = rows.filter(!_.getString(0).contains("|"))
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    rows.filter(_.getString(0).contains("|")).foreach { r =>
      val Array(a, b) = r.getString(0).split('|')
      val (u, xi) = (r.getLong(4), r.getLong(6))
      u shouldBe ty(a) + ty(b) - xi
      u should be >= math.max(ty(a), ty(b))
    }
  }

  test("q198: the histogram argmin equals a brute per-row split search, and gain is never negative") {
    import org.apache.spark.sql.functions._
    val got = OlapQueries.q198SplitFinding(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6)))
      .toMap
    // brute replay over raw rows for every segment
    val cents = (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
      .cast(org.apache.spark.sql.types.LongType)
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), cents.as("c"),
        ((expr("unix_micros(ts) div 86400000000") + lit(4L)) % 7L)
          .isin(0L, 6L).cast("long").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    raw.groupBy(_._1).foreach { case (seg, rows) =>
      val n = rows.length.toLong
      val pos = rows.map(_._3).sum
      val splits = rows.map(_._2).distinct.sorted
      val best = splits.map { c =>
        val left = rows.filter(_._2 <= c)
        val (nl, pl) = (left.length.toLong, left.map(_._3).sum)
        val err = math.min(pl, nl - pl) +
          math.min(pos - pl, (n - nl) - (pos - pl))
        (err, c)
      }.min
      val (gn, gp, gc, ge, gg) = got(seg)
      (gn, gp) shouldBe ((n, pos))
      (ge, gc) shouldBe best
      gg shouldBe math.min(pos, n - pos) - ge
      gg should be >= 0L // the best split is never worse than not splitting
    }
  }

  test("q199: the Gram matrix is a true XᵀX — brute-equal, complete upper triangle, Cauchy–Schwarz holds in exact arithmetic") {
    import org.apache.spark.sql.functions.col
    val got = ClusterQueries.q199GramMatrix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    got.size shouldBe 64 * 65 / 2 // every (i ≤ j) cell present exactly once
    // brute replay from the raw vectors
    val pts = Tables.embeddings(spark, sf).select(col("embedding")).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0)
        .map(x => math.floor(x.toDouble * 1024.0).toLong).toArray)
    for (((i, j), (sij, n)) <- got) {
      n shouldBe pts.length.toLong
      sij shouldBe pts.map(v => v(i.toInt) * v(j.toInt)).sum
    }
    // Cauchy–Schwarz: s²ᵢⱼ ≤ sᵢᵢ·sⱼⱼ — in BigInt, the structural
    // certificate that the cells really are inner products of one dataset
    for (((i, j), (sij, _)) <- got if i != j) {
      (BigInt(sij) * sij) should be <=
        (BigInt(got((i, i))._1) * got((j, j))._1)
    }
  }

  test("q195: the greedy traversal matches a brute in-memory replay, radii decrease, and the last radius certifies coverage") {
    import org.apache.spark.sql.functions.col
    val got = ClusterQueries.q195KcenterCoreset(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // independent replay: quantize + greedy farthest-point in plain Scala
    val pts = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => math.floor(x.toDouble * 1024.0).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val dmin = scala.collection.mutable.Map.from(pts.map(_._1 -> Long.MaxValue))
    var center = pts.head._2
    val want = scala.collection.mutable.ArrayBuffer((1L, pts.head._1, 0L))
    for (i <- 2L to ClusterQueries.KC_K.toLong) {
      pts.foreach { case (id, v) => dmin(id) = math.min(dmin(id), d2(center, v)) }
      val (fid, fd) = dmin.toSeq.maxBy { case (id, dm) => (dm, -id) }
      want += ((i, fid, fd))
      center = pts.find(_._1 == fid).get._2
    }
    got.toSeq shouldBe want.toSeq
    // the greedy invariant: each pick covers, so radii never increase...
    got.drop(1).map(_._3).sliding(2).foreach { case Array(a, b) => b should be <= a }
    // ...and after all k picks every point is within the NEXT radius of a
    // center — which is bounded by the last pick's radius (coverage
    // certificate of the 2-approximation)
    pts.foreach { case (id, v) =>
      math.min(dmin(id), d2(center, v)) should be <= want.last._3
    }
  }
}
