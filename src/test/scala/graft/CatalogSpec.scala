package graft

import java.io.File

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.sources.GraftTableCatalog

/** The `graft_cat` TableCatalog's contracts: SQL lifecycle (DDL, insert,
  * overwrite, CTAS), the Iceberg-style DELETE split (metadata drop /
  * untouched / boundary rewrite), immutable time travel, the snapshots
  * metadata table, stats-based file skipping, append-only schema
  * evolution, and commit-race safety. q267–q270 carry the cross-engine
  * hash gates; these pins are about WHERE the work happens and what a
  * version can never un-see. */
class CatalogSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)
  private def rows(q: String): Seq[Seq[Any]] =
    sql(q).collect().toSeq.map(_.toSeq)

  /** `rel` under the catalog root this session is configured with. */
  private def catFile(rel: String): File =
    new File(spark.conf.get("spark.sql.catalog.graft_cat.root"), rel)

  /** An independent decoder of one data file, skipping the positions its
    * delete files name: (file, position, value of field `id`) for every
    * row left. It reads through parquet-java's own `ParquetReader` with
    * `GroupReadSupport` and finds the column by the footer's field id,
    * sharing no code with the Spark vectorized reader the catalog decodes
    * with, so this pins that reader and the writers against a second
    * reading of the files. */
  private def referenceDecode(dir: File, e: GraftTableCatalog.Entry,
      id: Int): Seq[(String, Long, Any)] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val data = new File(dir, "data")
    e.typeCodes.length shouldBe e.cols
    val deleted = e.deletes.flatMap { d =>
      val b = java.nio.ByteBuffer.wrap(
        java.nio.file.Files.readAllBytes(new File(data, d.name).toPath))
      Seq.fill(b.remaining / 8)(b.getLong())
    }.toSet
    val reader = ParquetReader.builder(new GroupReadSupport,
      new org.apache.hadoop.fs.Path(new File(data, e.name).getPath)).build()
    val out = Seq.newBuilder[(String, Long, Any)]
    var pos = 0L
    try {
      var g = reader.read()
      while (g != null) {
        val t = g.getType
        val at = (0 until t.getFieldCount)
          .filter(i => t.getType(i).getId != null &&
            t.getType(i).getId.intValue == id) match { case Seq(i) => i }
        val v: Any =
          if (g.getFieldRepetitionCount(at) == 0) null
          else t.getType(at).asPrimitiveType.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT64 => g.getLong(at, 0)
            case PrimitiveTypeName.DOUBLE => g.getDouble(at, 0)
            case PrimitiveTypeName.BINARY => g.getString(at, 0)
            case other => fail(s"graft_cat writes no $other column")
          }
        if (!deleted(pos)) out += ((e.name, pos, v))
        pos += 1
        g = reader.read()
      }
    } finally reader.close()
    pos shouldBe e.rows // every row the manifest counts was read
    out.result()
  }

  private def freshTable(name: String, ddlCols: String,
                         props: String = ""): String = {
    sql(s"CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql(s"DROP TABLE IF EXISTS graft_cat.db.$name")
    sql(s"CREATE TABLE graft_cat.db.$name ($ddlCols) $props")
    s"graft_cat.db.$name"
  }

  test("SQL lifecycle: create, insert, typed round trip with nulls, overwrite, drop") {
    val t = freshTable("lifecycle", "k BIGINT, x DOUBLE, s STRING")
    sql(s"INSERT INTO $t VALUES (1, 1.5, 'a'), (2, NULL, NULL), (3, -0.25, 'c')")
    rows(s"SELECT k, x, s FROM $t ORDER BY k") shouldBe Seq(
      Seq(1L, 1.5, "a"), Seq(2L, null, null), Seq(3L, -0.25, "c"))
    // append accumulates
    sql(s"INSERT INTO $t VALUES (4, 4.0, 'd')")
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(4L))
    // INSERT OVERWRITE replaces the visible contents
    sql(s"INSERT OVERWRITE $t VALUES (9, 9.0, 'z')")
    rows(s"SELECT k, s FROM $t") shouldBe Seq(Seq(9L, "z"))
    // SHOW TABLES sees it; DROP removes it
    sql("SHOW TABLES IN graft_cat.db").collect()
      .map(_.getString(1)) should contain("lifecycle")
    sql(s"DROP TABLE $t")
    intercept[Exception](rows(s"SELECT * FROM $t"))
  }

  test("CTAS materializes a query into the catalog") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.ctas")
    sql("""CREATE TABLE graft_cat.db.ctas AS
          |SELECT id AS k, CAST(id % 3 AS DOUBLE) AS x,
          |       CAST(id % 2 AS STRING) AS s
          |FROM range(0, 100)""".stripMargin)
    rows("SELECT count(*), sum(k) FROM graft_cat.db.ctas") shouldBe
      Seq(Seq(100L, 4950L))
  }

  test("DELETE splits by file stats: aligned files drop metadata-only, disjoint files stay, boundary files rewrite") {
    val t = freshTable("del", "k BIGINT, v BIGINT")
    // three single-partition inserts = three files with disjoint k-ranges
    sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 100, 1, 1)")
    sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(100, 200, 1, 1)")
    sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(200, 300, 1, 1)")
    val dir = catFile("db/del")
    def entries() = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).files
    def ranges(): Map[String, (Long, Long)] =
      sql(s"SELECT _file, min(k), max(k) FROM $t GROUP BY _file").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val before = ranges().map(_.swap)
    before.keySet shouldBe Set((0L, 99L), (100L, 199L), (200L, 299L))
    val untouched = entries().filter(_.name == before((0L, 99L)))
    // DELETE k >= 150: [100,200) is a boundary file, so Spark's row-level
    // plan runs: the none-match [0,100) keeps its entry byte-identical,
    // the all-match [200,300) is gone, one new file holds [100,150)
    sql(s"DELETE FROM $t WHERE k >= 150")
    entries().filter(_.name == before((0L, 99L))) shouldBe untouched
    val after = ranges()
    after.keySet.intersect(before.values.toSet) shouldBe
      Set(before((0L, 99L)))
    (after - before((0L, 99L))).values.toSeq shouldBe Seq((100L, 149L))
    rows(s"SELECT count(*), min(k), max(k) FROM $t") shouldBe
      Seq(Seq(150L, 0L, 149L))
    // a predicate the metadata path cannot prove falls back to the
    // GROUP-BASED row-level rewrite (not an error, not a wrong answer)
    sql(s"DELETE FROM $t WHERE k % 2 = 0")
    rows(s"SELECT count(*), min(k) FROM $t") shouldBe Seq(Seq(75L, 1L))
    // delete-all empties the table but the versions remain
    sql(s"DELETE FROM $t WHERE k >= 0")
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(0L))
    // SQL TRUNCATE arrives as deleteWhere(AlwaysTrue): metadata-only,
    // every prior version still readable
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 7, 1, 1)")
    entries().map(_.rows) shouldBe Seq(7L)
    sql(s"TRUNCATE TABLE $t")
    entries() shouldBe empty
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(0L))
  }

  test("time travel: every committed version stays exactly readable behind later overwrites and deletes") {
    val t = freshTable("tt", "k BIGINT, v BIGINT")        // v1: create
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10)")     // v2
    sql(s"INSERT INTO $t SELECT id, id FROM range(10, 30)")    // v3
    sql(s"DELETE FROM $t WHERE k < 5")                         // v4
    sql(s"INSERT OVERWRITE $t VALUES (99, 99)")                // v5
    def cnt(v: Int): Long =
      rows(s"SELECT count(*) FROM $t VERSION AS OF $v").head.head
        .asInstanceOf[Long]
    cnt(1) shouldBe 0L
    cnt(2) shouldBe 10L
    cnt(3) shouldBe 30L
    cnt(4) shouldBe 25L
    cnt(5) shouldBe 1L
    // the pinned snapshot is read-only
    intercept[Exception](
      sql(s"INSERT INTO $t VERSION AS OF 2 VALUES (1, 1)"))
    // out-of-range versions are rejected
    intercept[Exception](rows(s"SELECT * FROM $t VERSION AS OF 6"))
  }

  test("snapshots metadata table: one row per version with operation and row counts, served without touching data files") {
    val t = freshTable("snap", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 50)")
    sql(s"DELETE FROM $t WHERE k >= 40")
    GraftTableCatalog.filesOpened.set(0)
    rows(s"SELECT version, operation, rows FROM $t.snapshots ORDER BY version") shouldBe
      Seq(Seq(1L, "create", 0L), Seq(2L, "append", 50L),
        Seq(3L, "delete", 40L))
    GraftTableCatalog.filesOpened.get() shouldBe 0L
  }

  test("stats-based file skipping: a selective predicate never opens disjoint files, and every filter is still re-applied") {
    val t = freshTable("skip", "k BIGINT, v BIGINT")
    (0 until 8).foreach { i =>
      sql(s"INSERT INTO $t SELECT id, id FROM range(${i * 1000}, ${i * 1000 + 1000}, 1, 1)")
    }
    GraftTableCatalog.filesOpened.set(0)
    rows(s"SELECT count(*) FROM $t WHERE k >= 2500 AND k < 3500") shouldBe
      Seq(Seq(1000L))
    // files [2000,3000) and [3000,4000) are the only candidates
    GraftTableCatalog.filesOpened.get() shouldBe 2L
    // filters stay residual: the boundary files' non-matching rows were
    // filtered by Spark (count proves it), and a point lookup opens 1 file
    GraftTableCatalog.filesOpened.set(0)
    rows(s"SELECT v FROM $t WHERE k = 4321") shouldBe Seq(Seq(4321L))
    GraftTableCatalog.filesOpened.get() shouldBe 1L
  }

  test("schema evolution: ADD COLUMN null-pads old files without rewriting them; new inserts carry the column") {
    val t = freshTable("evo", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    val dataDir = catFile("db/evo/data")
    val filesBefore = dataDir.listFiles().map(f => (f.getName, f.length())).toSet
    sql(s"ALTER TABLE $t ADD COLUMN note STRING")
    sql(s"INSERT INTO $t VALUES (3, 30, 'three')")
    rows(s"SELECT k, v, note FROM $t ORDER BY k") shouldBe Seq(
      Seq(1L, 10L, null), Seq(2L, 20L, null), Seq(3L, 30L, "three"))
    // the old files are byte-identical — evolution touched only the schema
    filesBefore.subsetOf(
      dataDir.listFiles().map(f => (f.getName, f.length())).toSet) shouldBe true
    // non-nullable or mid-position adds are rejected
    intercept[Exception](
      sql(s"ALTER TABLE $t ADD COLUMN bad STRING NOT NULL"))
    // insert with the OLD arity is rejected (schema is the contract)
    intercept[Exception](sql(s"INSERT INTO $t VALUES (4, 40)"))
  }

  test("CALL sys.compact bin-packs small files into one, reads stay identical, prior versions keep the original files") {
    val t = freshTable("cmp", "k BIGINT, v BIGINT")
    (0 until 6).foreach { i =>
      sql(s"INSERT INTO $t SELECT id, id * 3 FROM range(${i * 100}, ${i * 100 + 100}, 1, 1)")
    }
    val before = rows(s"SELECT count(*), sum(k * v) FROM $t")
    val res = sql("CALL graft_cat.sys.compact('db', 'cmp', 1048576)")
      .collect().head
    res.getLong(0) shouldBe 6L // files_before
    res.getLong(1) shouldBe 1L // files_after
    res.getLong(2) shouldBe 600L
    rows(s"SELECT count(*), sum(k * v) FROM $t") shouldBe before
    // history records the compaction; the pre-compact version (v7:
    // create + 6 appends) still serves the ORIGINAL six files
    rows(s"SELECT operation FROM $t.snapshots ORDER BY version DESC LIMIT 1") shouldBe
      Seq(Seq("compact"))
    rows(s"SELECT count(*), sum(k * v) FROM $t VERSION AS OF 7") shouldBe before
    // files at/above target are left alone: a second compact with a tiny
    // target finds nothing to pack
    val again = sql("CALL graft_cat.sys.compact('db', 'cmp', 10)")
      .collect().head
    again.getLong(0) shouldBe again.getLong(1)
  }

  test("CALL sys.expire_versions bounds time travel: old manifests drop, unreferenced data files delete, latest is untouched") {
    val t = freshTable("exp", "k BIGINT, v BIGINT")               // v1
    (0 until 3).foreach { i =>                                    // v2-v4
      sql(s"INSERT INTO $t SELECT id, id FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)")
    }
    sql(s"INSERT OVERWRITE $t VALUES (1, 100), (2, 200)")         // v5
    val res = sql("CALL graft_cat.sys.expire_versions('db', 'exp', 1)")
      .collect().head
    res.getLong(0) shouldBe 4L // versions expired (v1..v4)
    res.getLong(1) shouldBe 3L // the appends' files, unreferenced by v5
    rows(s"SELECT k, v FROM $t ORDER BY k") shouldBe
      Seq(Seq(1L, 100L), Seq(2L, 200L))
    // expired reads fail with a clear error; history shows only v5
    val e = intercept[Exception](rows(s"SELECT * FROM $t VERSION AS OF 3"))
    e.getMessage should include("expired")
    rows(s"SELECT version FROM $t.snapshots") shouldBe Seq(Seq(5L))
  }

  test("commit is atomic and race-safe: a poisoned write publishes nothing; a lost manifest race throws instead of clobbering") {
    val t = freshTable("atomic", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t VALUES (1, 1)")
    val before = rows(s"SELECT * FROM $t")
    // a poisoned task fails the job mid-write: nothing becomes visible
    val poison = spark.range(0, 100, 1, 4)
      .selectExpr("id AS k", "id AS v")
      .select(col("k"), col("v"))
    intercept[Exception] {
      import org.apache.spark.sql.functions.udf
      val boom = udf((k: Long) => {
        if (k == 77L) sys.error("poisoned row"); k
      })
      poison.select(boom(col("k")).as("k"), col("v"))
        .writeTo("graft_cat.db.atomic").append()
    }
    rows(s"SELECT * FROM $t") shouldBe before
    // the declared table schema: Spark's analyzer rejects a frame whose
    // v is a STRING before any task runs, and the head does not move
    val dir = catFile("db/atomic")
    val latest = GraftTableCatalog.readLatest(dir)
    val wrong = spark.range(0, 5).select(col("id").as("k"),
      col("id").cast("string").as("v"))
    intercept[Exception](wrong.writeTo(t).append())
      .getMessage should include("INCOMPATIBLE_DATA_FOR_TABLE")
    GraftTableCatalog.readLatest(dir) shouldBe latest
    rows(s"SELECT * FROM $t") shouldBe before
    // two writers committing over the same base version: the second
    // manifest create must throw (fail-if-exists), never overwrite
    GraftTableCatalog.commitVersion(dir, latest, "append", Seq.empty)
    intercept[Exception] {
      GraftTableCatalog.commitVersion(dir, latest, "append", Seq.empty)
    }
  }

  test("_file metadata column: selectable, groups rows by their backing file") {
    val t = freshTable("fmeta", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10, 1, 1)")
    sql(s"INSERT INTO $t SELECT id, id FROM range(10, 20, 1, 1)")
    rows(s"SELECT count(DISTINCT _file) FROM $t") shouldBe Seq(Seq(2L))
    rows(s"SELECT count(*) AS n FROM $t GROUP BY _file")
      .map(_.head) shouldBe Seq(10L, 10L)
  }

  test("UPDATE is group-local copy-on-write: only files containing matches are replaced, the rest keep their manifest entries") {
    val t = freshTable("upd", "k BIGINT, v BIGINT")
    (0 until 3).foreach { i =>
      sql(s"INSERT INTO $t SELECT id, id FROM range(${i * 100}, ${i * 100 + 100}, 1, 1)")
    }
    val dir = catFile("db/upd")
    val before = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir))
      .files.map(_.name)
    sql(s"UPDATE $t SET v = v + 1000000 WHERE k >= 210 AND k < 220")
    rows(s"SELECT count(*), sum(v) FROM $t") shouldBe
      Seq(Seq(300L, (0L until 300L).sum + 10L * 1000000L))
    val after = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir))
    after.op shouldBe "update"
    // the two untouched files keep their EXACT entries; the matched file
    // is gone, replaced by the rewrite's output
    after.files.map(_.name).intersect(before) shouldBe before.take(2)
    after.files.map(_.rows).sum shouldBe 300L
  }

  test("MERGE INTO: matched rows update, unmatched insert, one merge version") {
    val t = freshTable("mrg", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10, 1, 1)")
    sql("""SELECT id AS k, id * 100 AS v FROM range(5, 15)""")
      .createOrReplaceTempView("mrg_src")
    sql(s"""MERGE INTO $t USING mrg_src ON $t.k = mrg_src.k
           |WHEN MATCHED THEN UPDATE SET v = mrg_src.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (mrg_src.k, mrg_src.v)
           |""".stripMargin)
    rows(s"SELECT k, v FROM $t ORDER BY k") shouldBe
      ((0L until 5L).map(k => Seq(k, k)) ++
        (5L until 15L).map(k => Seq(k, k * 100)))
    val dir = catFile("db/mrg")
    GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).op shouldBe "merge"
  }

  test("MERGE INTO WITH SCHEMA EVOLUTION: a wider source auto-adds the column in the same transaction; old files null-pad") {
    val t = freshTable("mse", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 10, 1, 1)")
    sql("""SELECT id AS k, id * 100 AS v, concat('x', id) AS tag
          |FROM range(5, 15)""".stripMargin)
      .createOrReplaceTempView("mse_src")
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $t USING mse_src
           |ON $t.k = mse_src.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |""".stripMargin)
    // the target grew the source's extra column...
    sql(s"SELECT * FROM $t").schema.fieldNames.toSeq shouldBe
      Seq("k", "v", "tag")
    // ...merged rows carry it, untouched rows null-pad byte-identically
    rows(s"SELECT k, v, tag FROM $t ORDER BY k") shouldBe
      ((0L until 5L).map(k => Seq(k, k * 10, null)) ++
        (5L until 15L).map(k => Seq(k, k * 100, s"x$k")))
    // a second evolving merge with the SAME shape is a plain merge (no
    // duplicate-column failure), and plain MERGE without the clause
    // still refuses a wider source loudly
    sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $t USING mse_src
           |ON $t.k = mse_src.k
           |WHEN MATCHED THEN UPDATE SET *
           |""".stripMargin)
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(15L))
  }

  test("streaming into a catalog table: each micro-batch is a versioned commit; a replayed epoch is a no-op even after later commits") {
    // the same stream into a plain table and into a `write.upsert.key`
    // table, where each epoch supersedes by key
    def streamInto(name: String, upsert: Boolean): Unit = withClue(name) {
      val t = freshTable(name, "k BIGINT, v BIGINT",
        if (upsert) "TBLPROPERTIES ('write.upsert.key'='k')" else "")
      val dir = catFile(s"db/$name")
      def dataFiles(): Set[String] = GraftTableCatalog.readManifest(dir,
        GraftTableCatalog.readLatest(dir)).files.map(_.name).toSet
      implicit val sqlCtx = spark.sqlContext
      import sqlCtx.sparkSession.implicits._
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      val q = input.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", ckpt).outputMode("append")
        .toTable(t)
      val queryId = q.id.toString // the STABLE checkpoint id epochs key on
      // overlapping keys: epoch 2 rewrites k=2, epoch 3 rewrites k=1
      val epochs = Seq(Seq((1L, 10L), (2L, 20L)), Seq((2L, 21L), (3L, 30L)),
        Seq((1L, 11L)))
      try epochs.foreach { e =>
        val before = dataFiles()
        input.addData(e: _*); q.processAllAvailable()
        // an upsert epoch retracts by key, never by rewriting a file
        dataFiles().intersect(before) shouldBe before
      } finally q.stop()
      val landed =
        if (upsert) Seq(Seq(1L, 11L), Seq(2L, 21L), Seq(3L, 30L)) // last writer wins
        else epochs.flatten.sorted.map { case (k, v) => Seq(k, v) }
      rows(s"SELECT k, v FROM $t ORDER BY k, v") shouldBe landed
      // every micro-batch is a version — time travel works over the stream
      rows(s"SELECT count(*) FROM $t.snapshots WHERE operation = 'stream-epoch'")
        .head.head.asInstanceOf[Long] should be >= 2L
      // the feed resolves every epoch's retractions: it folds to the rows
      rows(s"""WITH folded AS (SELECT k, v,
        |    sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS n
        |  FROM $t.changes GROUP BY k, v HAVING n != 0)
        |SELECT (SELECT count(*) FROM folded WHERE n = 1),
        |       (SELECT count(*) FROM folded WHERE n != 1)""".stripMargin) shouldBe
        Seq(Seq(landed.size.toLong, 0L))
      // a batch append carries the stream's epoch markers forward...
      sql(s"INSERT INTO $t VALUES (4, 40)")
      val versionsBefore = GraftTableCatalog.readLatest(dir)
      // ...so the post-crash replay of an already-committed epoch is a
      // NO-OP at the protocol level: no new version, no new rows
      val schema = GraftTableCatalog.readSchema(dir)
      val ids = GraftTableCatalog.readMapping(dir, schema).ids
      // the replay arrives WITH freshly re-written task files: the no-op
      // commit must delete them, or they strand forever (referenced by no
      // manifest, so expire never touches them)
      val staged = new File(dir, "data/fake-replay.parquet")
      java.nio.file.Files.write(staged.toPath, Array[Byte](1, 2, 3))
      new graft.sources.CatalogStreamingWrite(dir, schema, None, queryId)
        .commit(0L, Array(graft.sources.CatalogCommit(Seq(
          GraftTableCatalog.Entry("fake-replay.parquet", 1L, 3L, 2, Map.empty,
            Set.empty, ids, "LL")))))
      GraftTableCatalog.readLatest(dir) shouldBe versionsBefore
      staged.exists() shouldBe false
      rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(landed.size + 1L))
      // ...while the SAME epoch id from a DIFFERENT query (a fresh
      // checkpoint whose epochs restart at 0) is NOT a replay: its first
      // micro-batch commits instead of being silently dropped — replay
      // detection is namespaced per-stream
      val staged2 = new File(dir, "data/fresh-stream.parquet")
      java.nio.file.Files.write(staged2.toPath, Array[Byte](1, 2, 3))
      new graft.sources.CatalogStreamingWrite(dir, schema, None, "other-q")
        .commit(0L, Array(graft.sources.CatalogCommit(Seq(
          GraftTableCatalog.Entry("fresh-stream.parquet", 0L, 3L, 2, Map.empty,
            Set.empty, ids, "LL")))))
      GraftTableCatalog.readLatest(dir) shouldBe versionsBefore + 1
    }
    streamInto("strm", upsert = false)
    streamInto("strmups", upsert = true)
  }

  test("streaming the change feed across restarts: a fold and a per-group rollup kept from deltas alone equal the batch reads of the mutated table") {
    val t = "graft_cat.db.cdfstrm"
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql(s"DROP TABLE IF EXISTS $t")
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) TBLPROPERTIES ('delete.mode'='merge-on-read')")
    val fold = collection.mutable.Map.empty[(Long, Long), Long]
    val rollup = collection.mutable.Map.empty[Long, (Long, Long)] // g -> (n, sum v)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdf-ckpt").toString
    // one stop/resume per mutation phase, always from the same checkpoint
    def drain(): Unit = {
      val q = spark.readStream.table(s"$t.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach { r =>
            val key = (r.getLong(0), r.getLong(1))
            val n = fold.getOrElse(key, 0L) + (if (r.getString(2) == "insert") 1L else -1L)
            if (n == 0L) fold.remove(key) else fold(key) = n
          }
          // the rollup merges each batch's own delta aggregate, O(groups) rows
          df.selectExpr("k % 9 AS g",
              "CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END AS sgn", "v")
            .groupBy("g").agg(org.apache.spark.sql.functions.expr("sum(sgn)"),
              org.apache.spark.sql.functions.expr("sum(sgn * v)"))
            .collect().foreach { r =>
              val (n0, v0) = rollup.getOrElse(r.getLong(0), (0L, 0L))
              val (n1, v1) = (n0 + r.getLong(1), v0 + r.getLong(2))
              if (n1 == 0L) rollup.remove(r.getLong(0)) else rollup(r.getLong(0)) = (n1, v1)
            }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(0, 400, 2, 2)")
    sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(1, 400, 2, 2)")
    drain()
    sql(s"UPDATE $t SET v = v * 3 WHERE k % 5 = 0")
    drain()
    sql(s"DELETE FROM $t WHERE v >= 600")
    sql(s"CALL graft_cat.sys.compact('db', 'cdfstrm', ${64L * 1024 * 1024})")
    drain()
    fold.values.forall(_ > 0) shouldBe true // no delete without its insert
    fold.toSeq.flatMap { case (kv, n) => Seq.fill(n.toInt)(Seq(kv._1, kv._2)) }
      .sortBy(_.head) shouldBe rows(s"SELECT k, v FROM $t ORDER BY k")
    rollup.toSeq.map { case (g, (n, v)) => Seq(g, n, v) }.sortBy(_.head) shouldBe
      rows(s"SELECT k % 9, count(*), sum(v) FROM $t GROUP BY 1 ORDER BY 1")
  }

  test("streaming write-audit-publish: a stream committing to a branch leaves main unmoved; fast_forward publishes it as one version main's feed emits exactly") {
    val t = freshTable("wapstrm", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 100, 1, 1)")
    sql("CALL graft_cat.sys.branch('db', 'wapstrm', 'audit')")
    implicit val sqlCtx = spark.sqlContext
    import sqlCtx.sparkSession.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-wap-ckpt").toString
    val q = input.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt).outputMode("append")
      .toTable(s"$t.branch_audit")
    val streamed = (100L until 160L).map(k => (k, k * 7))
    try streamed.grouped(20).foreach { c =>
      input.addData(c: _*); q.processAllAvailable()
    } finally q.stop()
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(100L)) // main unmoved
    rows(s"SELECT count(*) FROM $t.branch_audit") shouldBe Seq(Seq(160L))
    // a consumer of main's change feed, attached before the publish
    val feed = collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
    val feedCkpt = java.nio.file.Files.createTempDirectory("graft-wap-feed").toString
    def drain(): Unit = {
      val c = spark.readStream.table(s"$t.changes")
        .writeStream.option("checkpointLocation", feedCkpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          feed ++= df.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))); ()
        }.start()
      try c.processAllAvailable() finally c.stop()
    }
    drain()
    feed.map(_._1).sorted shouldBe (0L until 100L) // the seed
    feed.clear()
    sql("CALL graft_cat.sys.fast_forward('db', 'wapstrm', 'audit')")
    drain()
    feed.map(r => (r._1, r._2)).sortBy(_._1) shouldBe streamed
    feed.map(_._3).toSet shouldBe Set("insert")
    feed.map(_._4).toSet should have size 1 // the whole stream, one version
  }

  test("V2 custom metrics: filesOpened and rowsRead surface as SQL metrics — the file-skipping story on the executed plan") {
    val t = freshTable("met", "k BIGINT, v BIGINT")
    (0 until 8).foreach { i =>
      sql(s"INSERT INTO $t SELECT id, id FROM range(${i * 1000}, ${i * 1000 + 1000}, 1, 1)")
    }
    val df = sql(s"SELECT count(*) FROM $t WHERE k >= 2500 AND k < 3500")
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b)
        case _ => Seq.empty
      }) ++ p.children.flatMap(walk)
    val scan = walk(df.queryExecution.executedPlan).head
    scan.metrics("filesOpened").value shouldBe 2L  // 2 of 8 files survive
    scan.metrics("rowsRead").value shouldBe 2000L  // decoded, pre-filter
  }

  test("write.order_by: the write path range-distributes and sorts, so per-file stats are disjoint and point queries open one file") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.ord")
    sql("""CREATE TABLE graft_cat.db.ord (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('write.order_by'='k', 'write.partitions'='8')""".stripMargin)
    // an UNSORTED, 8-partition insert (an affine scramble of the ids)
    sql("""INSERT INTO graft_cat.db.ord
          |SELECT (id * 48271 + 12345) % 100000 AS k, id AS v
          |FROM range(0, 100000, 1, 8)""".stripMargin)
    val dir = catFile("db/ord")
    val files = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files
    files.length should be > 1
    // disjoint k ranges: sorted by min, no file starts before the
    // previous one ends (range partitioning keeps equal keys together)
    val ranges = files.map(_.stats("#0")).sortBy(_._1) // "#0" = field id of k
    ranges.sliding(2).foreach { case Seq((_, hiA), (loB, _)) =>
      loB should be >= hiA
    case _ => ()
    }
    GraftTableCatalog.filesOpened.set(0)
    val n777 = sql("SELECT count(*) FROM graft_cat.db.ord WHERE k = 777")
      .collect().head.getLong(0)
    GraftTableCatalog.filesOpened.get() should be <= 2L
    // negative control: the same scramble WITHOUT the property overlaps
    // every file, and the same point query opens them all
    sql("DROP TABLE IF EXISTS graft_cat.db.unord")
    sql("CREATE TABLE graft_cat.db.unord (k BIGINT, v BIGINT)")
    sql("""INSERT INTO graft_cat.db.unord
          |SELECT (id * 48271 + 12345) % 100000 AS k, id AS v
          |FROM range(0, 100000, 1, 8)""".stripMargin)
    GraftTableCatalog.filesOpened.set(0)
    val n777u = sql("SELECT count(*) FROM graft_cat.db.unord WHERE k = 777")
      .collect().head.getLong(0)
    GraftTableCatalog.filesOpened.get() should be >= 6L
    n777 shouldBe n777u
    // an order_by column must exist (and be LONG — the only type with
    // manifest stats)
    intercept[Exception](sql(
      """CREATE TABLE graft_cat.db.badord (k BIGINT)
        |TBLPROPERTIES ('write.order_by'='nope')""".stripMargin))
    intercept[Exception](sql(
      """CREATE TABLE graft_cat.db.badord (k BIGINT, s STRING)
        |TBLPROPERTIES ('write.order_by'='s')""".stripMargin))
    // maintenance keeps the contract: compaction re-sorts each bin by
    // the order_by columns, so merged files keep TIGHT stats — the
    // per-file ranges still cover ~the key space once, not once per file
    sql("CALL graft_cat.sys.compact('db', 'ord', 1048576)")
    rows("SELECT count(*) FROM graft_cat.db.ord").head.head shouldBe 100000L
    val after = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files
    after.length should be < files.length
    after.map { e => val (lo, hi) = e.stats("#0"); hi - lo + 1 }
      .sum should be <= 110000L
    GraftTableCatalog.filesOpened.set(0)
    sql("SELECT count(*) FROM graft_cat.db.ord WHERE k = 777").collect()
    GraftTableCatalog.filesOpened.get() should be <= 2L
  }

  test("review pins: DELETE by _file declines to the row-level path; renames respect clash guards; illegal column names rejected") {
    val t = freshTable("rfix", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10, 1, 1)")
    sql(s"INSERT INTO $t SELECT id, id FROM range(10, 20, 1, 1)")
    // _file is not a data column: the metadata path declines and the
    // group-based rewrite (whose scan DOES expose _file) deletes the file
    val f = sql(s"SELECT _file FROM $t WHERE k = 5").collect().head.getString(0)
    sql(s"DELETE FROM $t WHERE _file = '$f'")
    rows(s"SELECT count(*), min(k) FROM $t") shouldBe Seq(Seq(10L, 10L))
    // a rename cannot shadow a view, nor a view-rename a table
    sql("CALL graft_cat.sys.drop_view('db', 'rfixview')")
    sql("CALL graft_cat.sys.create_view('db', 'rfixview', 'SELECT 1 AS one')")
    intercept[Exception](sql(s"ALTER TABLE $t RENAME TO rfixview"))
    // stats serialize as name:lo:hi joined by ';' — delimiter names are
    // rejected at CREATE instead of bricking the first read
    intercept[Exception](
      sql("CREATE TABLE graft_cat.db.badcol (`a:b` BIGINT)"))
    sql("CALL graft_cat.sys.drop_view('db', 'rfixview')")
  }

  test("views: sys.create_view persists SQL, SELECT resolves through the injected rule, name-clash guards hold") {
    val t = freshTable("vbase", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(0, 100, 1, 1)")
    sql("CALL graft_cat.sys.drop_view('db', 'v_doubled')")
    val res = sql("CALL graft_cat.sys.create_view('db', 'v_doubled', " +
      s"'SELECT k, v, v - k AS delta FROM $t WHERE k >= 10')")
      .collect().head
    res.getString(0) shouldBe "graft_cat.db.v_doubled"
    res.getLong(1) shouldBe 3L // schema derived by analysis at create time
    rows("SELECT count(*), sum(delta) FROM graft_cat.db.v_doubled") shouldBe
      Seq(Seq(90L, (10L until 100L).sum))
    // the view is a definition, not a copy: it tracks its base table
    sql(s"INSERT INTO $t VALUES (200, 1000)")
    rows("SELECT count(*) FROM graft_cat.db.v_doubled") shouldBe Seq(Seq(91L))
    // the stored definition lives beside the table dirs
    catFile("db/v_doubled.view.json").exists() shouldBe true
    // a table cannot shadow a view, nor a view a table
    intercept[Exception](
      sql("CREATE TABLE graft_cat.db.v_doubled (k BIGINT)"))
    intercept[Exception](
      sql("CALL graft_cat.sys.create_view('db', 'vbase', 'SELECT 1 AS one')"))
    sql("CALL graft_cat.sys.drop_view('db', 'v_doubled')")
    intercept[Exception](rows("SELECT * FROM graft_cat.db.v_doubled"))
  }

  test("TIMESTAMP AS OF serves the greatest version committed at or before the timestamp") {
    val t = freshTable("tstrav", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10, 1, 1)")  // v2
    Thread.sleep(25)
    sql(s"INSERT INTO $t SELECT id, id FROM range(10, 40, 1, 1)") // v3
    val dir = catFile("db/tstrav")
    val t2 = GraftTableCatalog.readManifest(dir, 2).commitMs
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(t2))
    rows(s"SELECT count(*) FROM $t TIMESTAMP AS OF '$lit'") shouldBe
      Seq(Seq(10L))
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(40L))
    // a timestamp before the first commit is rejected, not empty
    intercept[Exception](
      rows(s"SELECT * FROM $t TIMESTAMP AS OF '1999-01-01 00:00:00'"))
  }

  test("streaming SOURCE: readStream.table tails versions — appends arrive per commit, mutations emit nothing, catalog-to-catalog runs end to end") {
    freshTable("cdcsrc", "k BIGINT, v BIGINT")
    freshTable("cdcdst", "k BIGINT, v BIGINT")
    val src = "graft_cat.db.cdcsrc"
    val dst = "graft_cat.db.cdcdst"
    sql(s"INSERT INTO $src SELECT id, id FROM range(0, 5, 1, 1)") // backlog
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val q = spark.readStream.table(src)
      .writeStream.option("checkpointLocation", ckpt).outputMode("append")
      .toTable(dst)
    try {
      q.processAllAvailable() // startingVersion defaults to full history
      rows(s"SELECT count(*) FROM $dst") shouldBe Seq(Seq(5L))
      sql(s"INSERT INTO $src SELECT id, id FROM range(5, 12, 1, 1)")
      q.processAllAvailable()
      rows(s"SELECT count(*) FROM $dst") shouldBe Seq(Seq(12L))
      // a row-level mutation rewrites EXISTING rows — the append feed
      // carries nothing for it
      sql(s"UPDATE $src SET v = v + 1 WHERE k = 3")
      q.processAllAvailable()
      rows(s"SELECT count(*) FROM $dst") shouldBe Seq(Seq(12L))
      // and the feed keeps flowing afterwards
      sql(s"INSERT INTO $src VALUES (100, 100)")
      q.processAllAvailable()
      rows(s"SELECT v FROM $dst WHERE k = 100") shouldBe Seq(Seq(100L))
    } finally q.stop()
  }

  test("write-path schema enforcement: wrong column types are rejected before any file lands") {
    freshTable("strict", "k BIGINT, v BIGINT")
    intercept[Exception] {
      spark.sql("SELECT 'nope' AS k, 'wrong' AS v")
        .writeTo("graft_cat.db.strict").append()
    }
    rows("SELECT count(*) FROM graft_cat.db.strict") shouldBe Seq(Seq(0L))
  }
  // ---- round 15: hidden partitioning, merge-on-read, atomic CTAS,
  //      field-id evolution, change data feed ----

  test("identity partitioning: pruning never opens other partitions, partition-aligned DELETE is metadata-only, .partitions reports per-tuple stats") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.pid")
    sql("CREATE TABLE graft_cat.db.pid (g BIGINT, v BIGINT) PARTITIONED BY (g)")
    sql("INSERT INTO graft_cat.db.pid SELECT id % 4 AS g, id AS v FROM range(0, 8000, 1, 4)")
    val dir = catFile("db/pid")
    val files = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files
    files.length shouldBe 16 // 4 writer tasks x 4 tuples (fanout writer)
    files.map(_.partition).distinct.length shouldBe 4
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*), sum(v) FROM graft_cat.db.pid WHERE g = 2") shouldBe
      Seq(Seq(2000L, 8000000L))
    // the partition-aligned aggregate now answers from the MANIFEST
    GraftTableCatalog.filesOpened.get() shouldBe 0L
    // an expression aggregate cannot push -> the scan runs, and pruning
    // opens ONLY g=2's files
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT sum(v % 7) FROM graft_cat.db.pid WHERE g = 2")
      .head.head.asInstanceOf[Long] should be >= 0L
    GraftTableCatalog.filesOpened.get() shouldBe 4L // only g=2's files
    // partition-aligned DELETE: every g=3 file drops metadata-only, the
    // other twelve entries stay byte-identical, nothing new is written
    GraftTableCatalog.filesOpened.set(0)
    sql("DELETE FROM graft_cat.db.pid WHERE g = 3")
    GraftTableCatalog.filesOpened.get() shouldBe 0L
    files.count(_.partition == Seq("l3")) shouldBe 4
    GraftTableCatalog.readManifest(dir, GraftTableCatalog.readLatest(dir))
      .files shouldBe files.filterNot(_.partition == Seq("l3"))
    rows("SELECT count(*) FROM graft_cat.db.pid") shouldBe Seq(Seq(6000L))
    rows("SELECT `partition`, files, `rows` FROM graft_cat.db.pid.partitions ORDER BY `partition`") shouldBe
      Seq(Seq("g=0", 4L, 2000L), Seq("g=1", 4L, 2000L), Seq("g=2", 4L, 2000L))
  }

  test("bucket partitioning: a point query opens one bucket's files; same-spec tables join storage-partitioned with zero hash exchange") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    Seq("bja", "bjb").foreach { t =>
      sql(s"DROP TABLE IF EXISTS graft_cat.db.$t")
      sql(s"CREATE TABLE graft_cat.db.$t (k BIGINT, v BIGINT) PARTITIONED BY (bucket(8, k))")
    }
    sql("INSERT INTO graft_cat.db.bja SELECT id, id * 2 FROM range(0, 20000, 1, 2)")
    sql("INSERT INTO graft_cat.db.bjb SELECT id, id * 3 FROM range(0, 20000, 1, 2)")
    // bucket pruning: k = 777 hashes into one bucket -> one file per task
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT v FROM graft_cat.db.bja WHERE k = 777") shouldBe Seq(Seq(1554L))
    GraftTableCatalog.filesOpened.get() should be <= 2L
    def finalPlanExchanges(run: => org.apache.spark.sql.DataFrame): Int = {
      val df = run
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      "Exchange hashpartitioning".r.findAllIn(p).size
    }
    def joined = sql(
      """SELECT count(*) AS n, sum(a.v * b.v) AS dot
        |FROM graft_cat.db.bja a JOIN graft_cat.db.bjb b ON a.k = b.k""".stripMargin)
    def withSpj[T](on: Boolean)(body: => T): T =
      SessionConf.withValue(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
        SessionConf.withValue(spark, "spark.sql.requireAllClusterKeysForCoPartition", "false") {
          SessionConf.withValue(spark, "spark.sql.sources.v2.bucketing.enabled", on.toString)(body)
        }
      }
    val spj = withSpj(on = true)(finalPlanExchanges(joined))
    val off = withSpj(on = false)(finalPlanExchanges(joined))
    spj shouldBe 0 // co-partitioned by construction: zero exchange
    off should be >= 2 // negative control: both legs shuffle
  }

  test("merge-on-read DELETE: a small delete writes a position delete file and rewrites ZERO data files; compact repays the debt byte-equal to copy-on-write") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.mor")
    sql("""CREATE TABLE graft_cat.db.mor (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO graft_cat.db.mor SELECT id, id * 7 FROM range(0, 10000, 1, 1)")
    val dir = catFile("db/mor")
    val before = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files
    before.length shouldBe 1
    sql("DELETE FROM graft_cat.db.mor WHERE k >= 100 AND k < 110")
    val after = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files
    after.map(_.name) shouldBe before.map(_.name) // data files untouched
    after.head.deletes.length shouldBe 1 // one position delete file
    after.head.deletes.map(_.rows).sum shouldBe 10L
    after.head.liveRows shouldBe 9990L
    // a second delete layers another delete file; reads merge both
    sql("DELETE FROM graft_cat.db.mor WHERE k = 9999")
    rows("SELECT count(*), sum(k) FROM graft_cat.db.mor") shouldBe
      Seq(Seq(9989L, (0L until 10000L).sum - (100L until 110L).sum - 9999L))
    // COW twin: identical mutations under the default mode, identical rows
    sql("DROP TABLE IF EXISTS graft_cat.db.cowtwin")
    sql("CREATE TABLE graft_cat.db.cowtwin (k BIGINT, v BIGINT)")
    sql("INSERT INTO graft_cat.db.cowtwin SELECT id, id * 7 FROM range(0, 10000, 1, 1)")
    sql("DELETE FROM graft_cat.db.cowtwin WHERE k >= 100 AND k < 110")
    sql("DELETE FROM graft_cat.db.cowtwin WHERE k = 9999")
    rows("SELECT k, v FROM graft_cat.db.mor ORDER BY k") shouldBe
      rows("SELECT k, v FROM graft_cat.db.cowtwin ORDER BY k")
    // compact applies and drops the delete files; answers unchanged
    sql(s"CALL graft_cat.sys.compact('db', 'mor', ${64L * 1024 * 1024})")
    GraftTableCatalog.readManifest(dir, GraftTableCatalog.readLatest(dir))
      .files.foreach(_.deletes shouldBe empty)
    rows("SELECT k, v FROM graft_cat.db.mor ORDER BY k") shouldBe
      rows("SELECT k, v FROM graft_cat.db.cowtwin ORDER BY k")
  }

  test("delete.mode governs a row-level DELETE: a predicate that is no data-source Filter writes position deletes and rewrites no data file; update.mode alone does not") {
    def headFiles(rel: String) = {
      val dir = catFile(rel)
      GraftTableCatalog.readManifest(dir, GraftTableCatalog.readLatest(dir)).files
    }
    // `k % 9999 = 17` cannot be handed over as a Filter, so Spark plans the
    // row-level operation; only delete.mode is set
    val mor = freshTable("delmode", "k BIGINT, v BIGINT",
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    sql(s"INSERT INTO $mor SELECT id, id * 7 FROM range(0, 50000, 1, 2)")
    val before = headFiles("db/delmode")
    sql(s"DELETE FROM $mor WHERE k % 9999 = 17")
    val after = headFiles("db/delmode")
    after.map(_.name).sorted shouldBe before.map(_.name).sorted
    after.flatMap(_.deletes).map(_.rows).sum shouldBe 5L
    rows(s"SELECT count(*), sum(k) FROM $mor") shouldBe
      Seq(Seq(49995L, (0L until 50000L).filter(_ % 9999 != 17).sum))
    // update.mode governs UPDATE and MERGE only: the same DELETE on a
    // table that sets just update.mode rewrites its files copy-on-write
    val upd = freshTable("updmode", "k BIGINT, v BIGINT",
      "TBLPROPERTIES ('update.mode'='merge-on-read')")
    sql(s"INSERT INTO $upd SELECT id, id * 7 FROM range(0, 50000, 1, 2)")
    val updBefore = headFiles("db/updmode").map(_.name).toSet
    sql(s"DELETE FROM $upd WHERE k % 9999 = 17")
    val updAfter = headFiles("db/updmode")
    updAfter.flatMap(_.deletes) shouldBe empty
    (updAfter.map(_.name).toSet -- updBefore) should not be empty
    rows(s"SELECT count(*) FROM $upd") shouldBe Seq(Seq(49995L))
  }

  test("atomic CTAS: a poisoned CTAS write publishes NO table and leaves no staging debris; REPLACE TABLE AS SELECT swaps whole") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.actas")
    spark.udf.register("ctas_poison", (k: Long) =>
      if (k == 666L) throw new RuntimeException("poisoned row") else k)
    intercept[Exception](sql(
      """CREATE TABLE graft_cat.db.actas AS
        |SELECT ctas_poison(id) AS k FROM range(0, 1000, 1, 4)""".stripMargin))
    // NO table exists: the stage aborted before publication
    sql("SHOW TABLES IN graft_cat.db").collect()
      .map(_.getString(1)) should not contain "actas"
    intercept[Exception](rows("SELECT * FROM graft_cat.db.actas"))
    // and no staging debris in the namespace dir
    catFile("db").listFiles().map(_.getName)
      .filter(_.startsWith(".stg-")) shouldBe empty
    // the happy path lands whole
    sql("CREATE TABLE graft_cat.db.actas AS SELECT id AS k FROM range(0, 100)")
    rows("SELECT count(*), sum(k) FROM graft_cat.db.actas") shouldBe
      Seq(Seq(100L, 4950L))
    // RTAS rebuilds the definition in a stage and swaps it in
    sql("REPLACE TABLE graft_cat.db.actas AS SELECT id AS k, id * 2 AS v FROM range(0, 10)")
    rows("SELECT count(*), sum(v) FROM graft_cat.db.actas") shouldBe
      Seq(Seq(10L, 90L))
  }

  test("field-id evolution: RENAME reads every generation without rewriting and stats keep pruning; DROP leaves old files readable; a re-added name never resurrects dropped values") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.evo")
    sql("CREATE TABLE graft_cat.db.evo (a BIGINT, b STRING)")
    sql("INSERT INTO graft_cat.db.evo SELECT id, concat('x', id) FROM range(0, 1000, 1, 1)")
    val dir = catFile("db/evo")
    val gen1 = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files.map(_.name)
    sql("ALTER TABLE graft_cat.db.evo RENAME COLUMN a TO a2")
    sql("INSERT INTO graft_cat.db.evo SELECT id, concat('x', id) FROM range(1000, 2000, 1, 1)")
    // both generations read under the new name; gen1 files untouched
    rows("SELECT count(*), sum(a2) FROM graft_cat.db.evo") shouldBe
      Seq(Seq(2000L, (0L until 2000L).sum))
    val files2 = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files
    gen1.foreach(n => files2.map(_.name) should contain(n))
    // id-keyed stats prune ACROSS the rename: a2=1500 is a gen2-only read
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT b FROM graft_cat.db.evo WHERE a2 = 1500") shouldBe
      Seq(Seq("x1500"))
    GraftTableCatalog.filesOpened.get() shouldBe 1L
    // DROP b: reads survive on the same files; re-ADD b binds a FRESH
    // field id, so the dropped values must NOT resurrect
    sql("ALTER TABLE graft_cat.db.evo DROP COLUMN b")
    rows("SELECT count(*) FROM graft_cat.db.evo") shouldBe Seq(Seq(2000L))
    sql("ALTER TABLE graft_cat.db.evo ADD COLUMN b STRING")
    rows("SELECT count(*) FROM graft_cat.db.evo WHERE b IS NULL") shouldBe
      Seq(Seq(2000L))
    // every live file PREDATES the re-added b (fresh id): provably
    // all-null, so IS NOT NULL prunes the whole scan at planning
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.evo WHERE b IS NOT NULL") shouldBe
      Seq(Seq(0L))
    GraftTableCatalog.filesOpened.get() shouldBe 0L
    // rows written after the re-add carry b; every older file predates
    // its field id and reads it as NULL, next to the renamed a2
    sql("INSERT INTO graft_cat.db.evo VALUES (5000, 'y5000')")
    rows("SELECT a2, b FROM graft_cat.db.evo WHERE a2 IN (0, 1500, 5000) " +
      "ORDER BY a2") shouldBe
      Seq(Seq(0L, null), Seq(1500L, null), Seq(5000L, "y5000"))
    // rename clash guard
    intercept[Exception](sql("ALTER TABLE graft_cat.db.evo RENAME COLUMN a2 TO b"))
  }

  test("Parquet data files: a 100-column CTAS round-trips values and nulls, and ADD COLUMN goes past 64 columns") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.wide")
    val cols = (0 until 100).map { i =>
      if (i % 3 == 0) s"IF(id % 2 = 0, NULL, id + $i) AS c$i"
      else if (i % 3 == 1) s"IF(id % 5 = 0, NULL, id * $i * 0.5D) AS c$i"
      else s"IF(id % 7 = 0, NULL, concat('s', id, '_', $i)) AS c$i"
    }
    sql(s"CREATE TABLE graft_cat.db.wide AS SELECT ${cols.mkString(", ")} " +
      "FROM range(0, 50, 1, 2)")
    sql("SELECT * FROM graft_cat.db.wide").collect().toSet shouldBe
      spark.range(0, 50, 1, 2).selectExpr(cols: _*).collect().toSet
    val t = freshTable("wide64", (0 until 64).map(i => s"c$i BIGINT").mkString(", "))
    val vals = (0 until 64).map(i => s"id + $i").mkString(", ")
    sql(s"INSERT INTO $t SELECT $vals FROM range(0, 3)")
    sql(s"ALTER TABLE $t ADD COLUMN c64 BIGINT")
    sql(s"ALTER TABLE $t ADD COLUMN c65 STRING")
    sql(s"INSERT INTO $t SELECT $vals, id * 100, 'n' FROM range(3, 5)")
    rows(s"SELECT c0, c63, c64, c65 FROM $t ORDER BY c0") shouldBe Seq(
      Seq(0L, 63L, null, null), Seq(1L, 64L, null, null),
      Seq(2L, 65L, null, null), Seq(3L, 66L, 300L, "n"),
      Seq(4L, 67L, 400L, "n"))
  }

  test("Parquet data files: inserts, a merge-on-read delete and sys.compact leave no .crc file in data/, and remove_orphans sweeps nothing") {
    val t = freshTable("nocrc", "k BIGINT, s STRING",
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    sql(s"INSERT INTO $t SELECT id, concat('s', id) FROM range(0, 100, 1, 2)")
    sql(s"INSERT INTO $t VALUES (100, 'x')")
    sql(s"DELETE FROM $t WHERE k % 7 = 3")
    sql(s"CALL graft_cat.sys.compact('db', 'nocrc', ${64L * 1024 * 1024})")
    val names = catFile("db/nocrc/data").listFiles().map(_.getName).toSeq
    names.filter(_.endsWith(".crc")) shouldBe empty
    names.count(_.endsWith(".parquet")) should be >= 3
    names.exists(_.endsWith(".del")) shouldBe true
    rows("CALL graft_cat.sys.remove_orphans('db', 'nocrc', 0)").head.head shouldBe 0L
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(101L - 14L))
  }

  test("a manifest entry naming a .bin data file fails loudly at planning and is never read") {
    val t = freshTable("binent", "k BIGINT")
    sql(s"INSERT INTO $t VALUES (1), (2)")
    val dir = catFile("db/binent")
    val latest = GraftTableCatalog.readLatest(dir)
    val m = GraftTableCatalog.readManifest(dir, latest)
    val e = m.files.head
    java.nio.file.Files.copy(new File(dir, s"data/${e.name}").toPath,
      new File(dir, "data/legacy.bin").toPath)
    GraftTableCatalog.commitVersion(dir, latest, "append",
      m.files :+ e.copy(name = "legacy.bin"))
    def rootMsg(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + rootMsg(x.getCause)
    GraftTableCatalog.filesOpened.set(0)
    val err = intercept[Exception](sql(s"SELECT k FROM $t").collect())
    rootMsg(err) should (include("legacy.bin") and include("recreated"))
    GraftTableCatalog.filesOpened.get() shouldBe 0L
  }

  test("DELETE and SELECT agree on -0.0 and NaN: a DOUBLE predicate deletes exactly the rows SELECT matches") {
    // a DELETE removes exactly the rows its predicate is TRUE for: rows
    // where it is FALSE or NULL stay, as SELECT's NOT coalesce(p, false)
    // keeps them
    def agree(cols: String, rowsSql: String, preds: Seq[String],
        oneFile: Boolean = false): Unit =
      for (mode <- Seq("copy-on-write", "merge-on-read"); p <- preds) {
        val t = freshTable("negzero", cols,
          s"TBLPROPERTIES ('delete.mode'='$mode')")
        sql(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ * FROM VALUES $rowsSql")
        if (oneFile) {
          val dir = catFile("db/negzero")
          GraftTableCatalog.readManifest(dir, GraftTableCatalog.readLatest(dir))
            .files.length shouldBe 1
        }
        val kept =
          rows(s"SELECT k FROM $t WHERE NOT coalesce(($p), false) ORDER BY k")
        sql(s"DELETE FROM $t WHERE $p")
        withClue(s"$mode, $p: ") {
          rows(s"SELECT k FROM $t ORDER BY k") shouldBe kept
        }
      }
    agree("k BIGINT, x DOUBLE", "(1, -0.0D), (2, 0.0D), (3, -1.0D), " +
      "(4, 1.0D), (5, double('NaN')), (6, CAST(NULL AS DOUBLE))",
      Seq("x < 0.0", "x <= 0.0", "x = 0.0", "x >= 0.0", "x > 0.0",
        "x IN (0.0, 1.0)"))
    // NOT over a NULL comparison is NULL, never TRUE: the two NULL-x rows
    // survive every negated predicate (the last two are controls)
    agree("k BIGINT, x BIGINT", "(1L, 1L), (2L, 2L), (3L, 3L), " +
      "(4L, CAST(NULL AS BIGINT)), (5L, CAST(NULL AS BIGINT)), (9L, 4L)",
      Seq("x <> 1", "NOT (x = 1)", "NOT (x IN (1, 2))",
        "NOT (x = 1 OR k = 9)", "NOT (x IN (1, 2)) AND k > 0",
        "NOT (x > 1)", "NOT (x = 1 AND k = 1)"))
    // a whole file whose non-NULL values all satisfy the predicate still
    // keeps its NULL row
    agree("k BIGINT, x BIGINT", "(1L, 2L), (2L, 4L), (3L, CAST(NULL AS BIGINT))",
      Seq("x <> 1", "NOT (x IN (1, 7))"), oneFile = true)
  }

  test(".changes: the feed folds back to the table exactly, a MOR delete emits its delta positions, compaction emits nothing") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.cdf")
    sql("""CREATE TABLE graft_cat.db.cdf (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO graft_cat.db.cdf SELECT id, id FROM range(0, 500, 1, 2)")
    sql("INSERT INTO graft_cat.db.cdf SELECT id, id FROM range(500, 1000, 1, 2)")
    sql("UPDATE graft_cat.db.cdf SET v = v + 1000000 WHERE k % 97 = 0")
    sql("DELETE FROM graft_cat.db.cdf WHERE k >= 100 AND k < 120")
    sql(s"CALL graft_cat.sys.compact('db', 'cdf', ${64L * 1024 * 1024})")
    // folding inserts minus deletes reproduces the live table, exactly
    rows("""WITH folded AS (
      |  SELECT k, v,
      |    sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS n
      |  FROM graft_cat.db.cdf.changes GROUP BY k, v HAVING n != 0)
      |SELECT
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM folded EXCEPT SELECT k, v FROM graft_cat.db.cdf)),
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM graft_cat.db.cdf EXCEPT SELECT k, v FROM folded)),
      |  (SELECT count(*) FROM folded WHERE n != 1)""".stripMargin) shouldBe
      Seq(Seq(0L, 0L, 0L))
    // the MOR delete emitted EXACTLY its 20 delta positions
    val delV = rows(
      "SELECT version FROM graft_cat.db.cdf.snapshots WHERE operation = 'delete'").head.head
    rows(s"""SELECT count(*) FROM graft_cat.db.cdf.changes
            |WHERE _version = $delV AND _change_type = 'delete'""".stripMargin) shouldBe
      Seq(Seq(20L))
    // compaction is layout, not change: its version emits nothing
    val compV = rows(
      "SELECT version FROM graft_cat.db.cdf.snapshots WHERE operation = 'compact'").head.head
    rows(s"SELECT count(*) FROM graft_cat.db.cdf.changes WHERE _version = $compV") shouldBe
      Seq(Seq(0L))
  }

  test("snapshot tags: VERSION AS OF a name reads the pinned version, expiry retains tagged versions, drop_tag releases them") {
    val t = freshTable("tags", "k BIGINT")
    sql(s"INSERT INTO $t SELECT id FROM range(0, 10)") // v2
    sql(s"INSERT INTO $t SELECT id FROM range(10, 30)") // v3
    sql("CALL graft_cat.sys.tag('db', 'tags', 'stable', 2)")
    sql(s"INSERT INTO $t SELECT id FROM range(30, 60)") // v4
    rows(s"SELECT count(*) FROM $t VERSION AS OF 'stable'") shouldBe
      Seq(Seq(10L))
    // the .refs metadata table lists the pins
    rows(s"SELECT tag, version FROM $t.refs") shouldBe Seq(Seq("stable", 2L))
    // expiry keeps the tagged version alive...
    sql("CALL graft_cat.sys.expire_versions('db', 'tags', 1)")
    rows(s"SELECT count(*) FROM $t VERSION AS OF 'stable'") shouldBe
      Seq(Seq(10L))
    // ...while untagged old versions are gone
    intercept[Exception](rows(s"SELECT count(*) FROM $t VERSION AS OF 3"))
    // guards: duplicate tag, numeric-looking name, unknown tag
    intercept[Exception](sql("CALL graft_cat.sys.tag('db', 'tags', 'stable', 4)"))
    intercept[Exception](sql("CALL graft_cat.sys.tag('db', 'tags', '7', 4)"))
    intercept[Exception](rows(s"SELECT count(*) FROM $t VERSION AS OF 'nope'"))
    // drop_tag releases the pin: the next expiry removes the version
    sql("CALL graft_cat.sys.drop_tag('db', 'tags', 'stable')")
    sql("CALL graft_cat.sys.expire_versions('db', 'tags', 1)")
    intercept[Exception](rows(s"SELECT count(*) FROM $t VERSION AS OF 'stable'"))
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(60L))
  }

  test("days partitioning over epoch-millis: a day-aligned predicate prunes to that day's files; .partitions labels day ordinals") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.pdays")
    sql("CREATE TABLE graft_cat.db.pdays (ts BIGINT, v BIGINT) PARTITIONED BY (days(ts))")
    // three DAY-ALIGNED days of data (minute offsets stay inside the
    // day), 2 writer tasks -> 6 files
    val day0 = 19700L
    sql(s"""INSERT INTO graft_cat.db.pdays
           |SELECT ($day0 + id % 3) * 86400000 + (id % 1000) * 60000,
           |       id
           |FROM range(0, 6000, 1, 2)""".stripMargin)
    GraftTableCatalog.filesOpened.set(0)
    rows(s"""SELECT count(*) FROM graft_cat.db.pdays
            |WHERE ts >= ${(day0 + 1) * 86400000L}
            |  AND ts < ${(day0 + 2) * 86400000L}""".stripMargin) shouldBe
      Seq(Seq(2000L))
    // day-aligned count: answered from the manifest, zero files
    GraftTableCatalog.filesOpened.get() shouldBe 0L
    // a non-pushable aggregate still scans ONLY that day's files
    GraftTableCatalog.filesOpened.set(0)
    rows(s"""SELECT sum(ts % 7) FROM graft_cat.db.pdays
            |WHERE ts >= ${(day0 + 1) * 86400000L}
            |  AND ts < ${(day0 + 2) * 86400000L}""".stripMargin)
      .head.head.asInstanceOf[Long] should be >= 0L
    GraftTableCatalog.filesOpened.get() shouldBe 2L // that day's 2 files
    rows("SELECT `partition`, `rows` FROM graft_cat.db.pdays.partitions ORDER BY `partition`")
      .map(_.head) shouldBe
      Seq(s"ts_day=$day0", s"ts_day=${day0 + 1}", s"ts_day=${day0 + 2}")
  }

  test("write.distribution=hash: a partitioned insert clusters by transform, so files track partitions, not tasks x partitions") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.phash")
    sql("""CREATE TABLE graft_cat.db.phash (g BIGINT, v BIGINT)
          |PARTITIONED BY (g)
          |TBLPROPERTIES ('write.distribution'='hash')""".stripMargin)
    sql("INSERT INTO graft_cat.db.phash SELECT id % 4 AS g, id AS v FROM range(0, 8000, 1, 4)")
    val dir = catFile("db/phash")
    val files = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files
    // the identity-partitioning test's fanout control lands 16 files for
    // the SAME insert; clustered, each tuple lands in one task
    files.length shouldBe 4
    files.map(_.partition).distinct.length shouldBe 4
    rows("SELECT count(*), sum(v) FROM graft_cat.db.phash") shouldBe
      Seq(Seq(8000L, (0L until 8000L).sum))
    // hash mode demands a partition spec
    intercept[Exception](sql(
      """CREATE TABLE graft_cat.db.badhash (k BIGINT)
        |TBLPROPERTIES ('write.distribution'='hash')""".stripMargin))
  }

  test("runtime partition pruning: a selective dim join hands the scan its build keys before planning — only matching partitions' files open") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.dppf")
    sql("CREATE TABLE graft_cat.db.dppf (g BIGINT, v BIGINT) PARTITIONED BY (g)")
    // big enough that Spark's DPP benefit heuristic fires (the scan's
    // reported size must dwarf the broadcast overhead)
    sql("INSERT INTO graft_cat.db.dppf SELECT id % 8 AS g, id AS v FROM range(0, 2000000, 1, 4)")
    // 8 partitions x 4 tasks = 32 files
    GraftTableCatalog.readManifest(catFile("db/dppf"),
      GraftTableCatalog.readLatest(catFile("db/dppf")))
      .files.length shouldBe 32
    val dim = Tables.nation(spark, "/root/testdata/sf0.001")
      .filter(col("n_regionkey") === 2)
      .select((col("n_nationkey") % 8).cast("long").as("dg")).distinct()
    val nKeys = dim.count()
    nKeys should be > 0L
    val joined = spark.table("graft_cat.db.dppf")
      .join(dim, col("g") === col("dg"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    joined.queryExecution.executedPlan.toString should include(
      "dynamicpruningexpression")
    GraftTableCatalog.filesOpened.set(0)
    joined.collect().head.getLong(0) shouldBe nKeys * 250000L
    // only the matching partitions' files opened: 4 per surviving key
    GraftTableCatalog.filesOpened.get() shouldBe nKeys * 4L
  }

  test("runtime filter columns: joins, IN-subqueries, DELETE and MERGE keyed on a non-partition column of a partitioned table plan and answer") {
    // the scan offers runtime filters only on partition columns its
    // pruned read schema kept; offering a pruned-away one fails planning
    // of every statement below ("Unable to resolve p given [k,v]")
    spark.range(0, 100, 3).selectExpr("id AS k", "id * 1000 AS w")
      .createOrReplaceTempView("rf_src")
    val keys = (0L until 100L by 3L)
    for (mode <- Seq("copy-on-write", "merge-on-read")) withClue(s"$mode: ") {
      val t = freshTable("rfp", "k BIGINT, p BIGINT, v BIGINT",
        s"PARTITIONED BY (p) TBLPROPERTIES ('update.mode'='$mode', " +
          s"'delete.mode'='$mode')")
      sql(s"INSERT INTO $t SELECT id, id % 4, id * 10 FROM range(0, 100, 1, 2)")
      rows(s"SELECT sum(t.v) FROM $t t JOIN rf_src d ON t.k = d.k") shouldBe
        Seq(Seq(keys.map(_ * 10).sum))
      rows(s"SELECT count(*) FROM $t t WHERE t.k IN " +
        "(SELECT k FROM rf_src WHERE w < 30000)") shouldBe Seq(Seq(10L))
      sql(s"""MERGE INTO $t t USING rf_src b ON t.k = b.k
             |WHEN MATCHED THEN UPDATE SET v = b.w
             |WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (b.k, b.k % 4, b.w)
             |""".stripMargin)
      rows(s"SELECT count(*), sum(v) FROM $t") shouldBe
        Seq(Seq(100L, (0L until 100L).filterNot(_ % 3 == 0).map(_ * 10).sum +
          keys.map(_ * 1000).sum))
      sql(s"DELETE FROM $t WHERE k IN (SELECT k FROM rf_src)")
      rows(s"SELECT count(*), sum(v) FROM $t") shouldBe
        Seq(Seq(100L - keys.length, (0L until 100L).filterNot(_ % 3 == 0).map(_ * 10).sum))
    }
  }

  test("write.upsert.key: INSERT supersedes same-key rows via a sequence-tagged equality delete file; compact repays the debt; the change feed resolves the retractions") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.ups")
    sql("""CREATE TABLE graft_cat.db.ups (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('write.upsert.key'='k')""".stripMargin)
    sql("INSERT INTO graft_cat.db.ups SELECT id, id FROM range(0, 1000, 1, 2)")
    sql("INSERT INTO graft_cat.db.ups SELECT id, id + 1000000 FROM range(500, 1500, 1, 2)")
    val dir = catFile("db/ups")
    val m = GraftTableCatalog.readManifest(dir, GraftTableCatalog.readLatest(dir))
    m.op shouldBe "upsert"
    m.eqDeletes should not be empty
    m.files.length shouldBe 4 // ZERO data files rewritten by the upsert
    // reads anti-join the key file against OLDER files only
    rows("SELECT count(*), sum(v) FROM graft_cat.db.ups") shouldBe
      Seq(Seq(1500L, (0L until 500L).sum + (500L until 1500L).sum + 1000L * 1000000L))
    rows("SELECT v FROM graft_cat.db.ups WHERE k = 250") shouldBe Seq(Seq(250L))
    rows("SELECT v FROM graft_cat.db.ups WHERE k = 750") shouldBe Seq(Seq(1000750L))
    // time travel BEFORE the upsert sees the original values
    rows("SELECT count(*), sum(v) FROM graft_cat.db.ups VERSION AS OF 2") shouldBe
      Seq(Seq(1000L, (0L until 1000L).sum))
    // the change feed RESOLVES the upsert: the epoch's key file retracts
    // exactly the live older instances, so folding reproduces the table
    rows("""WITH folded AS (
      |  SELECT k, v,
      |    sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS n
      |  FROM graft_cat.db.ups.changes GROUP BY k, v HAVING n != 0)
      |SELECT
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM folded EXCEPT SELECT k, v FROM graft_cat.db.ups)),
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM graft_cat.db.ups EXCEPT SELECT k, v FROM folded)),
      |  (SELECT count(*) FROM folded WHERE n != 1)""".stripMargin) shouldBe
      Seq(Seq(0L, 0L, 0L))
    // and the retraction count is exactly the overlap
    rows("""SELECT count(*) FROM graft_cat.db.ups.changes
      |WHERE _change_type = 'delete'""".stripMargin) shouldBe Seq(Seq(500L))
    // a COW delete AFTER the upsert removes old files: their delete
    // emission must NOT re-emit rows the upsert already retracted
    sql("DELETE FROM graft_cat.db.ups WHERE k < 300")
    rows("""WITH folded AS (
      |  SELECT k, v,
      |    sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS n
      |  FROM graft_cat.db.ups.changes GROUP BY k, v HAVING n != 0)
      |SELECT
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM folded EXCEPT SELECT k, v FROM graft_cat.db.ups)),
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM graft_cat.db.ups EXCEPT SELECT k, v FROM folded)),
      |  (SELECT count(*) FROM folded WHERE n != 1)""".stripMargin) shouldBe
      Seq(Seq(0L, 0L, 0L))
    // compaction repays the debt: key files drop, answers identical
    val before = rows("SELECT k, v FROM graft_cat.db.ups ORDER BY k")
    sql(s"CALL graft_cat.sys.compact('db', 'ups', ${64L * 1024 * 1024})")
    GraftTableCatalog.readManifest(dir, GraftTableCatalog.readLatest(dir))
      .eqDeletes shouldBe empty
    rows("SELECT k, v FROM graft_cat.db.ups ORDER BY k") shouldBe before
    // and once the upsert-era manifests expire, the feed serves again
    sql("CALL graft_cat.sys.expire_versions('db', 'ups', 1)")
    rows("SELECT count(*) FROM graft_cat.db.ups.changes") shouldBe
      Seq(Seq(1200L))
    // guards: null keys rejected; the key column cannot DROP; duplicate
    // keys in one batch — within a task or across tasks — fail the WRITE
    // and publish nothing (version unmoved, no stranded files)
    intercept[Exception](
      sql("INSERT INTO graft_cat.db.ups VALUES (NULL, 1)"))
    intercept[Exception](
      sql("ALTER TABLE graft_cat.db.ups DROP COLUMN k"))
    val vBefore = GraftTableCatalog.readLatest(dir)
    intercept[Exception](sql( // task-local duplicate
      "INSERT INTO graft_cat.db.ups SELECT id % 50, id FROM range(0, 100, 1, 1)"))
    intercept[Exception](sql( // cross-task duplicate
      "INSERT INTO graft_cat.db.ups SELECT id % 100, id FROM range(0, 200, 1, 2)"))
    GraftTableCatalog.readLatest(dir) shouldBe vBefore
    rows("SELECT count(*) FROM graft_cat.db.ups") shouldBe Seq(Seq(1200L))
  }

  test("merge-on-read UPDATE/MERGE (SupportsDelta): matched rows become position deletes plus small inserts, zero files rewritten; the feed folds exactly") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.mu")
    sql("""CREATE TABLE graft_cat.db.mu (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('update.mode'='merge-on-read',
          |               'delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO graft_cat.db.mu SELECT id, id FROM range(0, 100000, 1, 4)")
    val dir = catFile("db/mu")
    val before = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files.map(_.name)
    sql("UPDATE graft_cat.db.mu SET v = v + 7 WHERE k >= 10 AND k < 20")
    val after = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir))
    after.op shouldBe "update"
    // every original file still referenced — zero rewrites
    before.foreach(n => after.files.map(_.name) should contain(n))
    after.files.flatMap(_.deletes).map(_.rows).sum shouldBe 10L
    rows("SELECT count(*), sum(v) FROM graft_cat.db.mu") shouldBe
      Seq(Seq(100000L, (0L until 100000L).sum + 70L))
    rows("SELECT v FROM graft_cat.db.mu WHERE k = 15") shouldBe Seq(Seq(22L))
    // MERGE through the same delta plan: matched update + unmatched insert
    sql("""MERGE INTO graft_cat.db.mu t
          |USING (SELECT id * 2 AS k, id AS v
          |       FROM range(49999, 50003)) s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).op shouldBe "merge"
    // matched: k=99998 only (the other three exceed the range) — 3 inserts
    rows("SELECT count(*) FROM graft_cat.db.mu") shouldBe Seq(Seq(100003L))
    rows("SELECT v FROM graft_cat.db.mu WHERE k = 99998") shouldBe
      Seq(Seq(49999L)) // matched: updated in place via delete+insert
    rows("SELECT v FROM graft_cat.db.mu WHERE k = 100004") shouldBe
      Seq(Seq(50002L)) // unmatched: inserted
    // a stats-unprovable DELETE routes through the delta plan too:
    // position deletes only, no new data files
    val filesBeforeDel = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir)).files.map(_.name)
    sql("DELETE FROM graft_cat.db.mu WHERE k % 10000 = 17")
    val afterDel = GraftTableCatalog
      .readManifest(dir, GraftTableCatalog.readLatest(dir))
    afterDel.files.map(_.name) shouldBe filesBeforeDel
    rows("SELECT count(*) FROM graft_cat.db.mu") shouldBe Seq(Seq(99993L))
    // the change feed folds the whole delta history back exactly
    rows("""WITH folded AS (
      |  SELECT k, v,
      |    sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS n
      |  FROM graft_cat.db.mu.changes GROUP BY k, v HAVING n != 0)
      |SELECT
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM folded EXCEPT SELECT k, v FROM graft_cat.db.mu)),
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM graft_cat.db.mu EXCEPT SELECT k, v FROM folded)),
      |  (SELECT count(*) FROM folded WHERE n != 1)""".stripMargin) shouldBe
      Seq(Seq(0L, 0L, 0L))
    // the COW twin computes the identical final state
    sql("DROP TABLE IF EXISTS graft_cat.db.mucow")
    sql("CREATE TABLE graft_cat.db.mucow (k BIGINT, v BIGINT)")
    sql("INSERT INTO graft_cat.db.mucow SELECT id, id FROM range(0, 100000, 1, 4)")
    sql("UPDATE graft_cat.db.mucow SET v = v + 7 WHERE k >= 10 AND k < 20")
    sql("""MERGE INTO graft_cat.db.mucow t
          |USING (SELECT id * 2 AS k, id AS v
          |       FROM range(49999, 50003)) s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    sql("DELETE FROM graft_cat.db.mucow WHERE k % 10000 = 17")
    rows("SELECT k, v FROM graft_cat.db.mu ORDER BY k, v") shouldBe
      rows("SELECT k, v FROM graft_cat.db.mucow ORDER BY k, v")
  }


  test("pre-v2 manifests fail loudly: a short entry line, a '?' type code or an inline F line is refused with its file named") {
    val t = freshTable("prev2", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t VALUES (1, 10)")
    val dir = catFile("db/prev2")
    val v = GraftTableCatalog.readLatest(dir)
    val list = new File(dir, s"v$v.manifest")
    val seg = new File(dir,
      GraftTableCatalog.readManifest(dir, v).segs.head.ref.name)
    def text(f: File) = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    def put(f: File, s: String) = java.nio.file.Files.write(f.toPath,
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (listText, segText) = (text(list), text(seg))
    val entry = segText.linesIterator.filter(_.nonEmpty).toSeq match {
      case Seq(l) => l.split("\t", -1)
      case ls => fail(s"one entry expected, got ${ls.length}")
    }
    entry.length shouldBe 17
    def refused(f: File): Unit = {
      val e = intercept[IllegalStateException](
        GraftTableCatalog.readManifest(dir, v))
      e.getMessage should include(f.getName)
      e.getMessage should include("predates manifest v2")
    }
    // (1) a short (pre-v2) entry line in a segment; a query surfaces it too
    put(seg, entry.take(11).mkString("\t") + "\n")
    refused(seg)
    def rootMsg(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + rootMsg(x.getCause)
    rootMsg(intercept[Exception](sql(s"SELECT * FROM $t").collect())) should
      include(seg.getName)
    // (2) full length, but '?' type codes (no recorded storage types)
    put(seg, entry.updated(8, "??").mkString("\t") + "\n")
    refused(seg)
    // (3) an inline F line in the manifest list itself
    put(seg, segText)
    put(list, listText + "\n" + entry.mkString("\t") + "\n")
    refused(list)
    put(list, listText)
    rows(s"SELECT k, v FROM $t") shouldBe Seq(Seq(1L, 10L))
  }

  test("round-16 advice pins: live reservations never reclaim, CDF names reserved, RTAS respects view clash") {
    val t = freshTable("adv16", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t VALUES (1, 10)")
    val dir = catFile("db/adv16")
    val reread = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    // (2) a FRESH zero-byte reservation is a live writer, not an orphan:
    // a racing commit must die loudly instead of reclaiming it
    val l2 = GraftTableCatalog.readLatest(dir)
    val reservation = new File(dir, s"v${l2 + 1}.manifest")
    java.nio.file.Files.createFile(reservation.toPath)
    intercept[Exception](
      GraftTableCatalog.commitVersion(dir, l2, "append", Seq.empty))
    // aged past the staleness window the same reservation reclaims
    reservation.setLastModified(
      System.currentTimeMillis - GraftTableCatalog.OrphanReclaimMs - 1000)
    GraftTableCatalog.commitVersion(dir, l2, "append",
      reread.files) shouldBe l2 + 1
    // (3) the CDF's synthetic column names are reserved at CREATE and ADD
    intercept[Exception](
      sql("CREATE TABLE graft_cat.db.advbad (_change_type STRING)"))
    intercept[Exception](
      sql(s"ALTER TABLE $t ADD COLUMN _version BIGINT"))
    // (4) CREATE OR REPLACE TABLE must not shadow a same-name VIEW
    sql("CALL graft_cat.sys.create_view('db', 'adv16view', 'SELECT 1 AS x')")
    intercept[Exception](
      sql("CREATE OR REPLACE TABLE graft_cat.db.adv16view AS SELECT 2 AS y"))
    sql("CALL graft_cat.sys.drop_view('db', 'adv16view')")
  }


  test("columnar read path: catalog scans report ColumnarBatch reads, and every mutation surface answers like an independent reference") {
    val t = freshTable("colnar", "k BIGINT, x DOUBLE, s STRING",
      "TBLPROPERTIES ('update.mode'='merge-on-read', 'delete.mode'='merge-on-read')")
    sql(s"INSERT INTO $t SELECT id, id * 0.5, concat('s', id) " +
      "FROM range(0, 50000, 1, 4)")
    sql(s"INSERT INTO $t VALUES (50000, NULL, NULL)")
    // the executed plan carries a columnar-to-row transition: the scan
    // produced ColumnarBatches, not InternalRows
    val df = sql(s"SELECT k, x, s FROM $t WHERE k >= 10 AND k < 40000")
    df.collect().length shouldBe 39990
    df.queryExecution.executedPlan.toString should include ("ColumnarToRow")
    // nulls, MOR position deletes and evolution pads against the same
    // rows generated by Spark itself with the same DELETE applied
    sql(s"ALTER TABLE $t ADD COLUMN pad BIGINT")
    sql(s"INSERT INTO $t VALUES (70000, 7.0, 'new', 77)")
    sql(s"DELETE FROM $t WHERE k % 9999 = 17")
    val ref = spark.range(0, 50000)
      .selectExpr("id AS k", "id * 0.5 AS x", "concat('s', id) AS s",
        "CAST(NULL AS BIGINT) AS pad")
      .union(sql("SELECT 50000L, CAST(NULL AS DOUBLE), CAST(NULL AS STRING), " +
        "CAST(NULL AS BIGINT)"))
      .union(sql("SELECT 70000L, 7.0D, 'new', 77L"))
      .where("k % 9999 != 17")
    rows(s"SELECT sum(k), sum(x), count(s), sum(pad), count(*) FROM $t") shouldBe
      ref.selectExpr("sum(k)", "sum(x)", "count(s)", "sum(pad)", "count(*)")
        .collect().toSeq.map(_.toSeq)
    rows(s"SELECT k, x, s, pad FROM $t WHERE k >= 49995 ORDER BY k") shouldBe
      ref.where("k >= 49995").orderBy("k").collect().toSeq.map(_.toSeq)
    // metadata columns against the head manifest's files decoded by the
    // independent reference: first the task-written files with their
    // MOR position deletes, then the driver-written file sys.compact
    // packs them into
    val dir = catFile("db/colnar")
    val schema = GraftTableCatalog.readSchema(dir)
    val kId = GraftTableCatalog.readMapping(dir, schema).ids(schema.fieldIndex("k"))
    def head() = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).files
    def metaMatchesReference(): Unit = {
      val decoded = head().flatMap(referenceDecode(dir, _, kId))
      decoded.length shouldBe 50001 - 5 + 1
      sql(s"SELECT _file, _pos, k FROM $t").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet shouldBe
        decoded.toSet
    }
    head().exists(_.deletes.nonEmpty) shouldBe true
    metaMatchesReference()
    sql(s"CALL graft_cat.sys.compact('db', 'colnar', ${64L * 1024 * 1024})")
    head().map(_.name) should matchPattern { case Seq(n: String) if n.startsWith("cp-") => }
    metaMatchesReference()
    // MOR + upsert twin: position deletes and equality deletes both apply
    sql("DROP TABLE IF EXISTS graft_cat.db.colnar_ups")
    sql("""CREATE TABLE graft_cat.db.colnar_ups (k BIGINT, v STRING)
      |TBLPROPERTIES ('write.upsert.key'='k',
      |               'delete.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO graft_cat.db.colnar_ups " +
      "SELECT id, concat('v', id) FROM range(0, 20000, 1, 2)")
    sql("INSERT INTO graft_cat.db.colnar_ups " +
      "SELECT id, concat('u', id) FROM range(5000, 6000, 1, 1)")
    sql("DELETE FROM graft_cat.db.colnar_ups WHERE k >= 19990 AND k < 19995")
    // 20000 keys, 5 deleted (sum 19990..19994 = 99960), 1000 upserted
    rows("SELECT count(*), sum(k), count(CASE WHEN v LIKE 'u%' THEN 1 END) " +
      "FROM graft_cat.db.colnar_ups") shouldBe
      Seq(Seq(19995L, 19999L * 20000L / 2 - 99960L, 1000L))
  }


  test("writable branches: WAP — branch commits invisible on main, fast-forward publishes atomically, guards and GC hold") {
    val t = freshTable("wap", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(0, 1000, 1, 2)")
    val mainBefore = rows(s"SELECT count(*), sum(v) FROM $t")
    sql("CALL graft_cat.sys.branch('db', 'wap', 'audit')")
    // write to the branch; audit it through the branch handle; main is
    // untouched in content AND in version history
    val dir = catFile("db/wap")
    val latestBefore = GraftTableCatalog.readLatest(dir)
    sql(s"INSERT INTO $t.branch_audit SELECT id, id * 2 FROM range(1000, 2000, 1, 2)")
    sql(s"UPDATE $t.branch_audit SET v = 0 WHERE k >= 1900")
    sql(s"DELETE FROM $t.branch_audit WHERE k >= 1990")
    rows(s"SELECT count(*), sum(v) FROM $t") shouldBe mainBefore
    GraftTableCatalog.readLatest(dir) shouldBe latestBefore
    rows(s"SELECT count(*), min(k), max(k) FROM $t.branch_audit") shouldBe
      Seq(Seq(1990L, 0L, 1989L))
    // .refs lists the branch with its fork point and local head count
    rows(s"SELECT tag, version, type, head FROM $t.refs WHERE type = 'branch'") shouldBe
      Seq(Seq("audit", latestBefore, "branch", 3L))
    // publish: ONE new main version carries the whole audited batch
    sql("CALL graft_cat.sys.fast_forward('db', 'wap', 'audit')")
    GraftTableCatalog.readLatest(dir) shouldBe latestBefore + 1
    rows(s"SELECT count(*), min(k), max(k) FROM $t") shouldBe
      Seq(Seq(1990L, 0L, 1989L))
    rows(s"SELECT operation FROM $t.snapshots ORDER BY version DESC LIMIT 1") shouldBe
      Seq(Seq("fast_forward"))
    // a diverged main refuses fast-forward (ancestor rule)
    sql(s"INSERT INTO $t.branch_audit VALUES (5000, 1)")
    sql(s"INSERT INTO $t VALUES (6000, 1)")
    val e1 = intercept[Exception](
      sql("CALL graft_cat.sys.fast_forward('db', 'wap', 'audit')"))
    e1.getMessage should include("main advanced")
    // expire keeps the branch's unpublished files and its base manifest
    sql(s"INSERT INTO $t VALUES (6001, 1)")
    sql(s"INSERT INTO $t VALUES (6002, 1)")
    sql("CALL graft_cat.sys.expire_versions('db', 'wap', 1)")
    rows(s"SELECT count(*) FROM $t.branch_audit").head.head shouldBe 1991L
    // drop_branch reclaims files referenced by the branch alone
    val r = sql("CALL graft_cat.sys.drop_branch('db', 'wap', 'audit')")
      .collect().head
    r.getBoolean(0) shouldBe true
    r.getLong(1) should be >= 1L
    intercept[Exception](rows(s"SELECT count(*) FROM $t.branch_audit"))
    // main serves on, unaffected by the branch's death
    rows(s"SELECT count(*) FROM $t").head.head shouldBe 1993L
    // upsert-keyed tables refuse branches outright
    sql("DROP TABLE IF EXISTS graft_cat.db.wap_ups")
    sql("""CREATE TABLE graft_cat.db.wap_ups (k BIGINT, v BIGINT)
      |TBLPROPERTIES ('write.upsert.key'='k')""".stripMargin)
    val e2 = intercept[Exception](
      sql("CALL graft_cat.sys.branch('db', 'wap_ups', 'b')"))
    e2.getMessage should include("upsert")
  }


  test("partition-spec evolution: SET PARTITION SPEC rewrites nothing; each generation prunes under its own layout") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.specev")
    sql("CREATE TABLE graft_cat.db.specev (g BIGINT, ms BIGINT, v BIGINT) " +
      "PARTITIONED BY (g)")
    // generation 0: identity(g) — one task, 4 partition files
    sql("INSERT INTO graft_cat.db.specev SELECT id % 4, " +
      "(19700 + id % 3) * 86400000, id FROM range(0, 40000, 1, 1)")
    val dir = catFile("db/specev")
    def entries() = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).files
    val gen0 = entries().map(_.name).toSet
    gen0.size shouldBe 4
    // evolve: days(ms). ZERO files rewritten, spec id appended
    val r = sql("CALL graft_cat.sys.set_partition_spec('db', 'specev', 'days(ms)')")
      .collect().head
    r.getLong(0) shouldBe 1L
    entries().map(_.name).toSet shouldBe gen0
    // generation 1: same data shape, lands under days(ms) — 3 day files
    sql("INSERT INTO graft_cat.db.specev SELECT id % 4, " +
      "(19700 + id % 3) * 86400000, id FROM range(40000, 80000, 1, 1)")
    entries().length shouldBe 7
    entries().map(_.specId).toSet shouldBe Set(0, 1)
    // probe on the OLD spec column: gen-0 prunes to 1-of-4, gen-1 files
    // carry no g facts and all open — 4 of 7 total
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.specev WHERE g = 2") shouldBe
      Seq(Seq(20000L))
    GraftTableCatalog.filesOpened.get shouldBe 4L
    // probe on the NEW spec column: gen-1 prunes to 1-of-3; gen-0 files
    // span all days (stats cannot disprove) and all open — 5 of 7
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.specev " +
      s"WHERE ms = ${19701L * 86400000L}") shouldBe Seq(Seq(26667L))
    GraftTableCatalog.filesOpened.get shouldBe 5L
    // .partitions reports both layout generations side by side
    val labels = rows("SELECT partition FROM graft_cat.db.specev.partitions")
      .map(_.head.toString)
    labels.count(_.startsWith("g=")) shouldBe 4
    labels.count(_.startsWith("ms_day=")) shouldBe 3
    // DELETE across generations: the gen-1 day files are boundary files
    // for g = 1, so Spark's row-level plan runs. The other gen-0 files
    // keep their entries byte-identical; the all-match g=1 gen-0 file is
    // written away; each gen-1 file comes back under the days(ms) layout
    val beforeDel = entries()
    sql("DELETE FROM graft_cat.db.specev WHERE g = 1")
    val afterDel = entries()
    afterDel.filter(_.specId == 0).toSet shouldBe
      beforeDel.filter(e => e.specId == 0 && e.partition != Seq("l1")).toSet
    val rewritten = afterDel.filter(_.specId == 1)
    rewritten.length shouldBe 3
    rewritten.map(_.name).toSet.intersect(beforeDel.map(_.name).toSet) shouldBe
      empty
    rewritten.map(_.partition).toSet shouldBe
      beforeDel.filter(_.specId == 1).map(_.partition).toSet
    rows("SELECT count(*) FROM graft_cat.db.specev") shouldBe Seq(Seq(60000L))
    entries().filter(_.specId == 1).foreach(_.partition.length shouldBe 1)
    // compaction packs per (generation, tuple): pruning survives it
    sql("CALL graft_cat.sys.compact('db', 'specev', 1073741824)")
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.specev WHERE g = 2") shouldBe
      Seq(Seq(20000L))
    GraftTableCatalog.filesOpened.get should be <= 4L
  }


  test("SHOW PARTITIONS / DROP PARTITION: plain-SQL partition DDL over the manifest; aligned drop is metadata-only") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.pmgmt")
    sql("CREATE TABLE graft_cat.db.pmgmt (g BIGINT, v BIGINT) " +
      "PARTITIONED BY (g)")
    sql("INSERT INTO graft_cat.db.pmgmt SELECT id % 4, id " +
      "FROM range(0, 4000, 1, 1)")
    // SHOW PARTITIONS lists the live tuples in Hive layout
    sql("SHOW PARTITIONS graft_cat.db.pmgmt").collect()
      .map(_.getString(0)).sorted shouldBe
      Array("g=0", "g=1", "g=2", "g=3")
    // ... and narrows by a partial spec
    sql("SHOW PARTITIONS graft_cat.db.pmgmt PARTITION (g=2)").collect()
      .map(_.getString(0)) shouldBe Array("g=2")
    // DROP PARTITION is metadata-only: entries leave the manifest, no
    // data file is read or rewritten
    val dir = catFile("db/pmgmt")
    val before = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).files
    before.count(_.partition == Seq("l1")) shouldBe 1
    GraftTableCatalog.filesOpened.set(0)
    sql("ALTER TABLE graft_cat.db.pmgmt DROP PARTITION (g=1)")
    GraftTableCatalog.filesOpened.get shouldBe 0L
    rows("SELECT count(*), count(DISTINCT g) FROM graft_cat.db.pmgmt") shouldBe
      Seq(Seq(3000L, 3L))
    val after = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    after.op shouldBe "drop_partition"
    after.files shouldBe before.filterNot(_.partition == Seq("l1"))
    // time travel still serves the dropped partition (nothing deleted)
    val v = GraftTableCatalog.readLatest(dir) - 1
    rows(s"SELECT count(*) FROM graft_cat.db.pmgmt VERSION AS OF $v") shouldBe
      Seq(Seq(4000L))
    // dropping a missing partition is a loud no-such-partition error
    intercept[Exception](
      sql("ALTER TABLE graft_cat.db.pmgmt DROP PARTITION (g=9)"))
    // IF EXISTS makes it silent
    sql("ALTER TABLE graft_cat.db.pmgmt DROP IF EXISTS PARTITION (g=9)")
    // ADD PARTITION is deliberately unsupported (hidden partitioning)
    intercept[Exception](
      sql("ALTER TABLE graft_cat.db.pmgmt ADD PARTITION (g=7)"))
    // TRUNCATE TABLE ... PARTITION is the same metadata-only drop
    GraftTableCatalog.filesOpened.set(0)
    sql("TRUNCATE TABLE graft_cat.db.pmgmt PARTITION (g=2)")
    GraftTableCatalog.filesOpened.get shouldBe 0L
    rows("SELECT count(*), count(DISTINCT g) FROM graft_cat.db.pmgmt") shouldBe
      Seq(Seq(2000L, 2L))
    intercept[Exception](
      sql("TRUNCATE TABLE graft_cat.db.pmgmt PARTITION (g=2)"))
  }


  test("bounded-memory equality deletes: key files land as SORTED runs, readers probe them mmap'd, the cross-task dup check streams") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    // LONG keys: a multi-task CDC batch over a multi-task base
    sql("DROP TABLE IF EXISTS graft_cat.db.eqmem")
    sql("""CREATE TABLE graft_cat.db.eqmem (k BIGINT, v STRING)
      |TBLPROPERTIES ('write.upsert.key'='k')""".stripMargin)
    sql("INSERT INTO graft_cat.db.eqmem SELECT id, concat('v', id) " +
      "FROM range(0, 100000, 1, 4)")
    // an unsorted, multi-partition CDC batch (affine scramble)
    sql("INSERT INTO graft_cat.db.eqmem " +
      "SELECT (id * 48271 + 7) % 100000, concat('u', id) " +
      "FROM range(0, 10000, 1, 2)")
    val dir = catFile("db/eqmem")
    val m = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    m.eqDeletes should not be empty
    // THE MEMORY-SHAPE PIN: every key file on disk is a sorted run (the
    // EqKeys layout readers binary-search memory-mapped — keys are never
    // materialized on the heap; loadEqKeys no longer exists)
    m.eqDeletes.foreach { q =>
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(new File(dir, "data/" + q.name))))
      try {
        val n = in.readLong()
        n shouldBe q.rows
        var prev = Long.MinValue
        (0L until n).foreach { _ =>
          val v = in.readLong()
          v should be > prev
          prev = v
        }
      } finally in.close()
    }
    // correctness through the mmap probe path: the scramble is a
    // bijection mod 100000, so exactly its 10000 keys carry the new value
    val probe = "SELECT count(*), count(CASE WHEN v LIKE 'u%' THEN 1 END) " +
      "FROM graft_cat.db.eqmem"
    val col = rows(probe)
    col shouldBe Seq(Seq(100000L, 10000L))
    rows("SELECT sum(k) FROM graft_cat.db.eqmem WHERE v LIKE 'u%'") shouldBe
      Seq(Seq((0L until 10000L).map(id => (id * 48271 + 7) % 100000).sum))
    // STRING keys: sorted in UTF8 binary order, offset footer present
    sql("DROP TABLE IF EXISTS graft_cat.db.eqmems")
    sql("""CREATE TABLE graft_cat.db.eqmems (k STRING, v BIGINT)
      |TBLPROPERTIES ('write.upsert.key'='k')""".stripMargin)
    sql("INSERT INTO graft_cat.db.eqmems SELECT concat('k', id), id " +
      "FROM range(0, 20000, 1, 2)")
    sql("INSERT INTO graft_cat.db.eqmems SELECT concat('k', id * 7 % 20000), -1 " +
      "FROM range(0, 1000, 1, 1)")
    rows("SELECT count(*), sum(CASE WHEN v = -1 THEN 1 ELSE 0 END) " +
      "FROM graft_cat.db.eqmems") shouldBe Seq(Seq(20000L, 1000L))
    // the change feed resolves STRING-keyed retractions through the
    // mmap'd keysOnly probe (columnar path): fold ≡ table
    rows("""WITH folded AS (
      |  SELECT k, v,
      |    sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS n
      |  FROM graft_cat.db.eqmems.changes GROUP BY k, v HAVING n != 0)
      |SELECT
      |  (SELECT count(*) FROM (SELECT k, v FROM folded
      |     EXCEPT SELECT k, v FROM graft_cat.db.eqmems)),
      |  (SELECT count(*) FROM (SELECT k, v FROM graft_cat.db.eqmems
      |     EXCEPT SELECT k, v FROM folded)),
      |  (SELECT count(*) FROM folded WHERE n != 1)""".stripMargin) shouldBe
      Seq(Seq(0L, 0L, 0L))
    // the streaming cross-task duplicate check still dies loudly: the
    // same key in two partitions of one batch violates the CDC contract
    val dup = intercept[Exception](
      sql("INSERT INTO graft_cat.db.eqmem " +
        "SELECT CAST(id % 2 AS BIGINT), 'dup' FROM range(0, 4, 1, 2)"))
    dup.getMessage should include("more than one task")
    // the rejected batch stranded nothing and the table still serves
    rows(probe) shouldBe col
    // ... and the STRING-keyed merge walks the same guard
    val dupS = intercept[Exception](
      sql("INSERT INTO graft_cat.db.eqmems " +
        "SELECT 'dup', id FROM range(0, 2, 1, 2)"))
    dupS.getMessage should include("more than one task")
    rows("SELECT count(*) FROM graft_cat.db.eqmems") shouldBe Seq(Seq(20000L))
  }


  test("CDF stress: upsert retractions over position deletes — MOR update then upsert of the same keys folds exactly") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.mucdf")
    sql("""CREATE TABLE graft_cat.db.mucdf (k BIGINT, v BIGINT)
      |TBLPROPERTIES ('update.mode'='merge-on-read',
      |               'write.upsert.key'='k')""".stripMargin)
    sql("INSERT INTO graft_cat.db.mucdf SELECT id, id FROM range(0, 10000, 1, 2)")
    // MOR UPDATE: position deletes land on the base files, updated rows
    // land in a small insert file
    sql("UPDATE graft_cat.db.mucdf SET v = v + 100000 " +
      "WHERE k >= 100 AND k < 200")
    val dir = catFile("db/mucdf")
    GraftTableCatalog.readManifest(dir, GraftTableCatalog.readLatest(dir))
      .files.exists(_.deletes.nonEmpty) shouldBe true
    // UPSERT the same key range plus untouched keys: retractions must
    // thread THROUGH the position deletes (k in [100,150) was updated
    // then NOT upserted; [150,250) spans updated AND untouched rows)
    sql("INSERT INTO graft_cat.db.mucdf SELECT id, -id " +
      "FROM range(150, 250, 1, 1)")
    val vUpsert = GraftTableCatalog.readLatest(dir)
    // final state: base, except [100,150) updated, [150,250) upserted
    rows("""SELECT count(*), sum(v) FROM graft_cat.db.mucdf""").head shouldBe
      Seq(10000L,
        (0L until 10000L).map { k =>
          if (k >= 150 && k < 250) -k
          else if (k >= 100 && k < 150) k + 100000L
          else k
        }.sum)
    // EXACT retraction accounting at the upsert version: one delete per
    // upserted key, carrying the value LIVE at v-1 (the UPDATED value
    // for [150,200) — not the original, not a double emission)
    val dels = rows(s"""SELECT k, v FROM graft_cat.db.mucdf.changes
      |WHERE _version = $vUpsert AND _change_type = 'delete'""".stripMargin)
    dels.length shouldBe 100
    dels.map(_.head.asInstanceOf[Long]).sorted shouldBe (150L until 250L)
    dels.map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
      .foreach { case (k, v) =>
        v shouldBe (if (k < 200) k + 100000L else k)
      }
    // the full fold reproduces the table exactly (multiset semantics)
    rows("""WITH folded AS (
      |  SELECT k, v,
      |    sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS n
      |  FROM graft_cat.db.mucdf.changes GROUP BY k, v HAVING n != 0)
      |SELECT
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM folded EXCEPT SELECT k, v FROM graft_cat.db.mucdf)),
      |  (SELECT count(*) FROM
      |    (SELECT k, v FROM graft_cat.db.mucdf EXCEPT SELECT k, v FROM folded)),
      |  (SELECT count(*) FROM folded WHERE n != 1)""".stripMargin) shouldBe
      Seq(Seq(0L, 0L, 0L))
  }


  test("aggregate pushdown into manifest stats: COUNT/MIN/MAX answer metadata-only and decline whenever exactness is unprovable") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.aggpd")
    sql("CREATE TABLE graft_cat.db.aggpd (k BIGINT, x DOUBLE, s STRING) " +
      "TBLPROPERTIES ('delete.mode'='merge-on-read')")
    sql("INSERT INTO graft_cat.db.aggpd SELECT id, id * 0.5, " +
      "CASE WHEN id % 10 = 0 THEN NULL ELSE concat('s', id) END " +
      "FROM range(0, 100000, 1, 4)")
    // count(*) / min / max / count(null-free col) answer from the
    // manifest: zero files opened, plan is a LocalTableScan
    GraftTableCatalog.filesOpened.set(0)
    val df = sql("SELECT count(*), min(k), max(k), count(k), sum(k) " +
      "FROM graft_cat.db.aggpd")
    df.collect().head.toSeq shouldBe
      Seq(100000L, 0L, 99999L, 100000L, 4999950000L)
    GraftTableCatalog.filesOpened.get shouldBe 0L
    df.queryExecution.executedPlan.toString should include ("LocalTableScan")
    // a nullable column's count is unprovable -> the WHOLE push declines
    // and the scan answers by reading (still correct)
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*), count(s) FROM graft_cat.db.aggpd") shouldBe
      Seq(Seq(100000L, 90000L))
    GraftTableCatalog.filesOpened.get shouldBe 4L
    // a FILE-ALIGNED filter absorbs and the count stays metadata-only
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.aggpd WHERE k >= 50000") shouldBe
      Seq(Seq(50000L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    // a MID-FILE cutoff leaves a partial file -> residual filter, scan
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.aggpd WHERE k >= 50001") shouldBe
      Seq(Seq(49999L))
    GraftTableCatalog.filesOpened.get should be >= 1L
    // MOR position deletes: count(*) stays exact THROUGH them
    // (liveRows subtracts), min/max decline (the extremal row may be
    // the deleted one)
    sql("DELETE FROM graft_cat.db.aggpd WHERE k >= 50000 AND k < 50010")
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.aggpd") shouldBe Seq(Seq(99990L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT min(k), max(k) FROM graft_cat.db.aggpd") shouldBe
      Seq(Seq(0L, 99999L))
    GraftTableCatalog.filesOpened.get shouldBe 4L
    // outstanding equality deletes (upsert) decline EVERYTHING —
    // liveRows is an upper bound until compaction
    sql("DROP TABLE IF EXISTS graft_cat.db.aggups")
    sql("""CREATE TABLE graft_cat.db.aggups (k BIGINT, v BIGINT)
      |TBLPROPERTIES ('write.upsert.key'='k')""".stripMargin)
    sql("INSERT INTO graft_cat.db.aggups SELECT id, id FROM range(0, 1000, 1, 1)")
    sql("INSERT INTO graft_cat.db.aggups SELECT id, -id FROM range(0, 500, 1, 1)")
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.aggups") shouldBe Seq(Seq(1000L))
    GraftTableCatalog.filesOpened.get should be >= 1L
    // ... and compaction restores the metadata answer
    sql("CALL graft_cat.sys.compact('db', 'aggups', 1073741824)")
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*), min(k), max(k) FROM graft_cat.db.aggups") shouldBe
      Seq(Seq(1000L, 0L, 999L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    // an empty table answers count 0 / null extremes, still metadata-only
    sql("DELETE FROM graft_cat.db.aggpd WHERE k >= 0")
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*), min(k) FROM graft_cat.db.aggpd") shouldBe
      Seq(Seq(0L, null))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    // GROUP BY an identity partition column: one exact row per live
    // partition, straight from the manifest
    sql("DROP TABLE IF EXISTS graft_cat.db.agggb")
    sql("CREATE TABLE graft_cat.db.agggb (g BIGINT, k BIGINT) " +
      "PARTITIONED BY (g)")
    sql("INSERT INTO graft_cat.db.agggb SELECT id % 4, id " +
      "FROM range(0, 40000, 1, 2)")
    GraftTableCatalog.filesOpened.set(0)
    val gb = sql("SELECT g, count(*), min(k), max(k), sum(k) " +
      "FROM graft_cat.db.agggb GROUP BY g ORDER BY g")
    gb.collect().map(_.toSeq).toSeq shouldBe (0L until 4L).map(g =>
      Seq(g, 10000L, g, 39996L + g,
        (g until 40000L by 4).sum))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    gb.queryExecution.executedPlan.toString should include ("LocalTableScan")
    // an expression group (not a partition column) declines and scans
    GraftTableCatalog.filesOpened.set(0)
    sql("SELECT k % 3, count(*) FROM graft_cat.db.agggb GROUP BY k % 3")
      .collect()
    GraftTableCatalog.filesOpened.get should be >= 1L
  }


  test("append feed x WAP: a pure-insert fast-forward emits its branch's rows; a publish carrying branch DML fails the tailer loudly") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.wapfeed")
    sql("CREATE TABLE graft_cat.db.wapfeed (k BIGINT, v BIGINT)")
    sql("INSERT INTO graft_cat.db.wapfeed SELECT id, id FROM range(0, 100, 1, 1)")
    val got = collection.mutable.ArrayBuffer.empty[Long]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-wapfeed-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.table("graft_cat.db.wapfeed")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= df.collect().map(_.getLong(0)); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    got.length shouldBe 100
    // pure-insert WAP: branch, insert, publish — the tailer receives
    // exactly the audited batch
    sql("CALL graft_cat.sys.branch('db', 'wapfeed', 'audit')")
    sql("INSERT INTO graft_cat.db.wapfeed.branch_audit " +
      "SELECT id, id FROM range(100, 150, 1, 1)")
    sql("CALL graft_cat.sys.fast_forward('db', 'wapfeed', 'audit')")
    drain()
    got.length shouldBe 150
    got.toSeq.sorted shouldBe (0L until 150L)
    // a publish that MUTATED pre-existing rows cannot read as appends:
    // the tailer dies loudly and points at .changes
    sql("INSERT INTO graft_cat.db.wapfeed.branch_audit VALUES (999, 1)")
    sql("DELETE FROM graft_cat.db.wapfeed.branch_audit WHERE k < 10")
    sql("CALL graft_cat.sys.fast_forward('db', 'wapfeed', 'audit')")
    val e = intercept[Exception](drain())
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) String.valueOf(t.getMessage)
      else String.valueOf(t.getMessage) + " | " + rootMsg(t.getCause)
    rootMsg(e) should include(".changes")
  }


  test("vectorized write path: unboxed encode round-trips every type shape, interleaved partition tuples route correctly, manifest stats stay exact") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    // type-shape torture: nulls in every column, empty + 4-byte + long
    // strings (the mmap reader's position-arithmetic edge), negative
    // longs, double specials — written by the primitive-array encoder,
    // read back against the values written
    sql("DROP TABLE IF EXISTS graft_cat.db.vecw")
    sql("CREATE TABLE graft_cat.db.vecw (k BIGINT, x DOUBLE, s STRING)")
    sql("INSERT INTO graft_cat.db.vecw VALUES " +
      "(-9223372036854775808, -0.0, ''), " +
      "(9223372036854775807, CAST('NaN' AS DOUBLE), 'abcd'), " +
      "(NULL, NULL, NULL), " +
      "(0, CAST('Infinity' AS DOUBLE), repeat('x', 100000)), " +
      "(42, 1.5E-300, 'μδ→')")
    val q = "SELECT k, x, s FROM graft_cat.db.vecw ORDER BY k NULLS FIRST"
    // NaN-safe equality: Scala's numeric == makes NaN != NaN even boxed,
    // so compare doubles by their bit patterns
    def canon(rs: Seq[Seq[Any]]): Seq[Seq[Any]] = rs.map(_.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    })
    val colRes = rows(q)
    // SQL's -0.0 is a DECIMAL literal (no negative zero) cast to +0.0
    canon(colRes) shouldBe canon(Seq(
      Seq(null, null, null),
      Seq(Long.MinValue, 0.0, ""),
      Seq(0L, Double.PositiveInfinity, "x" * 100000),
      Seq(42L, 1.5e-300, "μδ→"),
      Seq(Long.MaxValue, Double.NaN, "abcd")))
    // extreme values stay exact through the new encoder (a file holding
    // only the all-NULL k row has no k stats and holds no k value —
    // correctness check; the 0-file metadata proof runs on vecs below)
    rows("SELECT min(k), max(k), count(*) FROM graft_cat.db.vecw") shouldBe
      Seq(Seq(Long.MinValue, Long.MaxValue, 5L))
    // a sum that never overflows IS recorded
    sql("DROP TABLE IF EXISTS graft_cat.db.vecs")
    sql("CREATE TABLE graft_cat.db.vecs AS SELECT id AS k " +
      "FROM range(0, 1000, 1, 1)")
    val sdir = catFile("db/vecs")
    val se = GraftTableCatalog.readManifest(sdir,
      GraftTableCatalog.readLatest(sdir)).files.head
    se.sums(s"#${se.fieldIds.head}") shouldBe 499500L
    se.stats(s"#${se.fieldIds.head}") shouldBe ((0L, 999L))
    // ... and those stats serve the metadata-only aggregate (0 files)
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT min(k), max(k), sum(k), count(*) FROM graft_cat.db.vecs") shouldBe
      Seq(Seq(0L, 999L, 499500L, 1000L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    // INTERLEAVED partition tuples: the one-element sink cache must
    // re-route on every tuple change, never mis-bucket a row
    sql("DROP TABLE IF EXISTS graft_cat.db.vecp")
    sql("CREATE TABLE graft_cat.db.vecp (g BIGINT, k BIGINT) " +
      "PARTITIONED BY (g)")
    sql("INSERT INTO graft_cat.db.vecp SELECT id % 3, id " +
      "FROM range(0, 9000, 1, 1)") // round-robin: g alternates per row
    rows("SELECT g, count(*), min(k), max(k) FROM graft_cat.db.vecp " +
      "GROUP BY g ORDER BY g") shouldBe Seq(
      Seq(0L, 3000L, 0L, 8997L), Seq(1L, 3000L, 1L, 8998L),
      Seq(2L, 3000L, 2L, 8999L))
    // ... and partition pruning over those files stays exact: the
    // aligned count is metadata-only, a non-pushable agg opens 1 file
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.vecp WHERE g = 1") shouldBe
      Seq(Seq(3000L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT sum(k % 3) FROM graft_cat.db.vecp WHERE g = 1")
      .head.head.asInstanceOf[Long] should be >= 0L
    GraftTableCatalog.filesOpened.get shouldBe 1L
  }

  test("optimistic concurrency: contended appends all land, held reservations fail loudly after bounded retries, overwrite refuses to rebase") {
    import GraftTableCatalog._
    val t = freshTable("occ", "k BIGINT, v BIGINT")
    val dir = catFile("db/occ")
    // (1) 6 concurrent INSERT writers: every one must land (losers
    // rebase onto the advanced head and retry), one commit each
    val v0 = readLatest(dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 6).map { i =>
      new Thread(() =>
        try { sql(s"INSERT INTO $t SELECT id, id * 10 " +
          s"FROM range(${i * 1000}, ${i * 1000 + 1000}, 1, 1)"); () }
        catch { case e: Throwable => errs.add(e); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    errs.isEmpty shouldBe true
    readLatest(dir) shouldBe v0 + 6
    rows(s"SELECT count(*), min(k), max(k), sum(v) FROM $t") shouldBe
      Seq(Seq(6000L, 0L, 5999L, (0L until 6000L).map(_ * 10).sum))
    // (2) a HELD (fresh, zero-byte) reservation is a live writer: the
    // OCC loop retries against it and then fails LOUDLY, bounded
    val lN = readLatest(dir)
    val resv = new File(dir, s"v${lN + 1}.manifest")
    java.nio.file.Files.createFile(resv.toPath)
    val e = intercept[Exception](sql(s"INSERT INTO $t VALUES (9999, 9)"))
    def rootMsg(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + rootMsg(x.getCause)
    rootMsg(e) should include("optimistic retries")
    java.nio.file.Files.delete(resv.toPath)
    sql(s"INSERT INTO $t VALUES (9999, 9)") // released -> lands
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(6001L))
    // (3) INSERT OVERWRITE refuses to rebase over a concurrent commit
    // (a truncate replay would drop the other writer's rows): drive the
    // REAL write path with a stale token and a commit injected between
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsWrite, TableCatalog}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val tbl = spark.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("db"), "occ"))
      .asInstanceOf[SupportsWrite]
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "occ-test"
      override def schema(): org.apache.spark.sql.types.StructType =
        org.apache.spark.sql.types.StructType(
          tbl.asInstanceOf[org.apache.spark.sql.connector.catalog.Table]
            .columns().toSeq.map(c => org.apache.spark.sql.types.StructField(
              c.name(), c.dataType(), c.nullable())))
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
    }
    val batch = tbl.newWriteBuilder(info)
      .asInstanceOf[org.apache.spark.sql.connector.write.SupportsTruncate]
      .truncate().build().toBatch // captures the commit token NOW
    sql(s"INSERT INTO $t VALUES (77777, 7)") // concurrent commit lands
    val w = batch.createBatchWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      }).createWriter(0, 0L)
    w.write(new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](1L, 2L)))
    val msg = w.commit()
    val oe = intercept[IllegalStateException](batch.commit(Array(msg)))
    oe.getMessage should include("INSERT OVERWRITE")
    rows(s"SELECT count(*) FROM $t") shouldBe Seq(Seq(6002L)) // nothing lost
    // (4) the row-level rebase-validation core: pure appends pass,
    // anything touching scanned files or eq-deletes refuses
    val base = readManifest(dir, readLatest(dir))
    val fileA = base.files.head
    pureAppendsSince(base, base) shouldBe true
    pureAppendsSince(base, base.copy(
      files = base.files :+ fileA.copy(name = "new-append.parquet"))) shouldBe true
    pureAppendsSince(base, base.copy(
      files = base.files.tail)) shouldBe false // a scanned file vanished
    pureAppendsSince(base, base.copy(files =
      fileA.copy(deletes = fileA.deletes :+ DeleteFile("d.del", 1)) +:
        base.files.tail)) shouldBe false // a scanned file took deletes
    pureAppendsSince(base, base.copy(
      eqDeletes = Seq(EqDelete("eq.keys", 1, 99)))) shouldBe false
  }

  test("string column statistics reach the CBO: a string-equality filter flips the join to broadcast via estimated ndv; stats off keeps the shuffle") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    Seq("cbos_a", "cbos_b").foreach { t =>
      sql(s"DROP TABLE IF EXISTS graft_cat.db.$t")
      sql(s"CREATE TABLE graft_cat.db.$t AS " +
        "SELECT concat('k', id) AS s, id * 7 AS v " +
        "FROM range(0, 200000, 1, 4)")
    }
    def planWith(pred: String): (Long, String) =
      SessionConf.withValue(spark, "spark.sql.cbo.enabled", "true") {
        SessionConf.withValue(spark, "spark.sql.adaptive.enabled", "false") {
          SessionConf.withValue(spark,
            "spark.sql.autoBroadcastJoinThreshold", "262144") {
            val df = sql("SELECT count(*) AS n FROM graft_cat.db.cbos_a a " +
              s"JOIN graft_cat.db.cbos_b b ON a.s = b.s WHERE $pred")
            (df.collect().head.getLong(0),
              df.queryExecution.executedPlan.toString)
          }
        }
      }
    // with the writer's linear-counting ndv the CBO prices `s = 'k17'`
    // at ~1/200000 selectivity -> the filtered leg is tiny -> broadcast
    val (nOn, planOn) = planWith("b.s = 'k17'")
    nOn shouldBe 1L
    planOn should include ("BroadcastHashJoin")
    // the same answer through a function the statistics cannot price:
    // the filtered leg stays over the threshold, shuffle join
    val (nOff, planOff) = planWith("lower(b.s) = 'k17'")
    nOff shouldBe 1L
    planOff should not include "BroadcastHashJoin"
    planOff should include ("SortMergeJoin")
  }

  test("honest CBO bounds: a live file without stats for a LONG column is value-free, so min/max keep the other files' bounds and MIN/MAX answers from the manifest") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.hb")
    sql("CREATE TABLE graft_cat.db.hb AS SELECT id AS k " +
      "FROM range(0, 1000, 1, 1)")
    val dir = catFile("db/hb")
    def attrStats = SessionConf.withValue(spark,
        "spark.sql.cbo.enabled", "true") {
      sql("SELECT k FROM graft_cat.db.hb").queryExecution.optimizedPlan
        .collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.stats
        }.get.attributeStats.values.headOption
    }
    // clean v2 table: exact bounds reported
    val clean = attrStats.get
    clean.min.map(_.toString.toLong) shouldBe Some(0L)
    clean.max.map(_.toString.toLong) shouldBe Some(999L)
    // a live file the writer recorded WITHOUT stats: the writer records a
    // LONG column's min/max exactly when the file holds a non-null value,
    // so this file holds none and the bounds stay the other file's
    sql("INSERT INTO graft_cat.db.hb SELECT CAST(NULL AS BIGINT) " +
      "FROM range(0, 5, 1, 1)")
    val m = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    m.files.map(_.stats.isEmpty) shouldBe Seq(false, true)
    val mixed = attrStats.get
    mixed.min.map(_.toString.toLong) shouldBe Some(0L)
    mixed.max.map(_.toString.toLong) shouldBe Some(999L)
    // the MIN/MAX and SUM pushdowns take the same proof: no data file is
    // opened
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT min(k), max(k), sum(k), count(*) FROM graft_cat.db.hb") shouldBe
      Seq(Seq(0L, 999L, 499500L, 1005L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
  }

  test("column statistics reach the CBO: a selective range filter flips the join to broadcast; stats off keeps the shuffle") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    Seq("cbo_a", "cbo_b").foreach { t =>
      sql(s"DROP TABLE IF EXISTS graft_cat.db.$t")
      sql(s"CREATE TABLE graft_cat.db.$t AS SELECT id AS k, id * 7 AS v " +
        "FROM range(0, 200000, 1, 4)")
    }
    def planWith(pred: String): (Long, String) =
      SessionConf.withValue(spark, "spark.sql.cbo.enabled", "true") {
        SessionConf.withValue(spark, "spark.sql.adaptive.enabled", "false") {
          SessionConf.withValue(spark,
            "spark.sql.autoBroadcastJoinThreshold", "262144") {
            val df = sql("SELECT count(*) AS n FROM graft_cat.db.cbo_a a " +
              s"JOIN graft_cat.db.cbo_b b ON a.k = b.k WHERE $pred")
            (df.collect().head.getLong(0),
              df.queryExecution.executedPlan.toString)
          }
        }
      }
    // with manifest column stats the CBO prices `k < 300` over the
    // known [0, 200000) range -> the filtered leg is tiny -> broadcast
    val (nOn, planOn) = planWith("b.k < 300")
    nOn shouldBe 300L
    planOn should include ("BroadcastHashJoin")
    // the same rows through a function the statistics cannot price: the
    // filter's output is unpriceable, both legs stay over the threshold
    // -> shuffle join, same answer
    val (nOff, planOff) = planWith("abs(b.k) < 300")
    nOff shouldBe 300L
    planOff should not include "BroadcastHashJoin"
    planOff should include ("SortMergeJoin")
  }

  test("filtered aggregate pushdown + AVG: partition-aligned predicates answer metadata-only; partial files and nullable AVG decline") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.aggf")
    sql("CREATE TABLE graft_cat.db.aggf (g BIGINT, k BIGINT) " +
      "PARTITIONED BY (g)")
    sql("INSERT INTO graft_cat.db.aggf SELECT id % 4, id " +
      "FROM range(0, 40000, 1, 2)")
    // identity-partition predicate: every file provably all-match or
    // no-match, so COUNT/MIN/MAX/SUM/AVG all answer from the manifest
    GraftTableCatalog.filesOpened.set(0)
    val df = sql("SELECT count(*), min(k), max(k), sum(k), avg(k) " +
      "FROM graft_cat.db.aggf WHERE g = 2")
    df.collect().head.toSeq shouldBe
      Seq(10000L, 2L, 39998L, 200000000L, 20000.0)
    GraftTableCatalog.filesOpened.get shouldBe 0L
    df.queryExecution.executedPlan.toString should include ("LocalTableScan")
    // ... and the GROUP-BY-partition histogram composes with the filter
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT g, count(*) AS n, avg(k) FROM graft_cat.db.aggf " +
      "WHERE g IN (1, 3) GROUP BY g ORDER BY g") shouldBe Seq(
      Seq(1L, 10000L, 19999.0), Seq(3L, 10000L, 20001.0))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    // a MID-FILE predicate leaves PARTIAL files -> the filter stays
    // residual, the aggregate scans, the answer stays right
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.aggf WHERE k >= 19999") shouldBe
      Seq(Seq(20001L))
    GraftTableCatalog.filesOpened.get should be >= 1L
    // day-aligned range over days() partitioning: absorbed + metadata
    sql("DROP TABLE IF EXISTS graft_cat.db.aggd")
    sql("CREATE TABLE graft_cat.db.aggd (ms BIGINT, v BIGINT) " +
      "PARTITIONED BY (days(ms))")
    sql("INSERT INTO graft_cat.db.aggd SELECT id * 4000, id " +
      "FROM range(0, 40000, 1, 2)") // days 0 and 1, boundary-straddling files
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.aggd " +
      s"WHERE ms >= 86400000") shouldBe Seq(Seq(40000L - 21600L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    // AVG over a column with nulls is unprovable -> declines to a scan
    sql("DROP TABLE IF EXISTS graft_cat.db.aggn")
    sql("CREATE TABLE graft_cat.db.aggn AS SELECT id AS k, " +
      "CASE WHEN id % 2 = 0 THEN id ELSE NULL END AS x " +
      "FROM range(0, 1000, 1, 1)")
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT avg(x) FROM graft_cat.db.aggn") shouldBe
      Seq(Seq((0L until 1000L by 2).sum.toDouble / 500))
    GraftTableCatalog.filesOpened.get should be >= 1L
    // unfiltered AVG on a null-free column: metadata-only
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT avg(k) FROM graft_cat.db.aggn") shouldBe Seq(Seq(499.5))
    GraftTableCatalog.filesOpened.get shouldBe 0L
  }

  test("sys.rewrite_deletes: N key runs merge to one with per-key seqs; every probe outcome identical; the feed ignores the swap") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.eqrw")
    sql("""CREATE TABLE graft_cat.db.eqrw (k BIGINT, v STRING)
      |TBLPROPERTIES ('write.upsert.key'='k')""".stripMargin)
    sql("INSERT INTO graft_cat.db.eqrw SELECT id, concat('a', id) " +
      "FROM range(0, 10000, 1, 2)")
    // three CDC batches -> three outstanding runs, overlapping keys
    sql("INSERT INTO graft_cat.db.eqrw SELECT id, concat('b', id) " +
      "FROM range(1000, 2000, 1, 1)")
    sql("INSERT INTO graft_cat.db.eqrw SELECT id, concat('c', id) " +
      "FROM range(500, 1500, 1, 1)")
    sql("INSERT INTO graft_cat.db.eqrw SELECT id, concat('d', id) " +
      "FROM range(9000, 9100, 1, 1)")
    val dir = catFile("db/eqrw")
    def eqDels = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).eqDeletes
    eqDels.length shouldBe 3
    val probe = "SELECT count(*), sum(k), " +
      "count(CASE WHEN v LIKE 'a%' THEN 1 END), " +
      "count(CASE WHEN v LIKE 'b%' THEN 1 END), " +
      "count(CASE WHEN v LIKE 'c%' THEN 1 END), " +
      "count(CASE WHEN v LIKE 'd%' THEN 1 END) FROM graft_cat.db.eqrw"
    val before = rows(probe)
    before.head.head shouldBe 10000L // upserts replace, never add
    val r = sql("CALL graft_cat.sys.rewrite_deletes('db', 'eqrw')")
      .collect().head
    (r.getLong(0), r.getLong(1)) shouldBe ((3L, 1L))
    eqDels.length shouldBe 1
    eqDels.head.name should endWith (".keyseq")
    rows(probe) shouldBe before // byte-identical suppression outcomes
    // a LATER CDC batch coexists with the merged run (mixed probing)
    sql("INSERT INTO graft_cat.db.eqrw SELECT id, concat('e', id) " +
      "FROM range(1400, 1600, 1, 1)")
    rows("SELECT count(*), count(CASE WHEN v LIKE 'e%' THEN 1 END), " +
      "count(CASE WHEN v LIKE 'c%' THEN 1 END) FROM graft_cat.db.eqrw") shouldBe
      Seq(Seq(10000L, 200L, 900L - 100L + 0L + 100L)) // c: 500..1399 survive
    // the change feed emits NOTHING for the rewrite version
    val rwV = GraftTableCatalog.readLatest(dir) - 1 // rewrite committed here
    rows(s"SELECT count(*) FROM graft_cat.db.eqrw.changes " +
      s"WHERE _version = $rwV") shouldBe Seq(Seq(0L))
    // idempotent second call is a no-op (already one run)
    sql("CALL graft_cat.sys.rewrite_deletes('db', 'eqrw')")
    // STRING-keyed twin: merge + probe parity through UTF-8 byte order
    sql("DROP TABLE IF EXISTS graft_cat.db.eqrws")
    sql("""CREATE TABLE graft_cat.db.eqrws (k STRING, v BIGINT)
      |TBLPROPERTIES ('write.upsert.key'='k')""".stripMargin)
    sql("INSERT INTO graft_cat.db.eqrws SELECT concat('k', id), id " +
      "FROM range(0, 5000, 1, 2)")
    sql("INSERT INTO graft_cat.db.eqrws SELECT concat('k', id), -id " +
      "FROM range(100, 300, 1, 1)")
    sql("INSERT INTO graft_cat.db.eqrws SELECT concat('k', id), id * 2 " +
      "FROM range(200, 400, 1, 1)")
    val sProbe = "SELECT count(*), sum(v) FROM graft_cat.db.eqrws"
    val sBefore = rows(sProbe)
    sql("CALL graft_cat.sys.rewrite_deletes('db', 'eqrws')")
    rows(sProbe) shouldBe sBefore
    // ... and compaction still repays the whole debt after a merge
    sql("CALL graft_cat.sys.compact('db', 'eqrws', 1073741824)")
    rows(sProbe) shouldBe sBefore
    GraftTableCatalog.readManifest(catFile("db/eqrws"),
      GraftTableCatalog.readLatest(catFile("db/eqrws")))
      .eqDeletes shouldBe empty
  }

  test("sys.rewrite_deletes rebases over a concurrent CDC batch: the retry re-merges with the new run included; no orphan merged file") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.eqrb")
    sql("""CREATE TABLE graft_cat.db.eqrb (k BIGINT, v STRING)
      |TBLPROPERTIES ('write.upsert.key'='k')""".stripMargin)
    sql("INSERT INTO graft_cat.db.eqrb SELECT id, concat('a', id) " +
      "FROM range(0, 1000, 1, 2)")
    sql("INSERT INTO graft_cat.db.eqrb SELECT id, concat('b', id) " +
      "FROM range(100, 300, 1, 1)")
    sql("INSERT INTO graft_cat.db.eqrb SELECT id, concat('c', id) " +
      "FROM range(200, 400, 1, 1)")
    val dir = catFile("db/eqrb")
    def eqDels = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).eqDeletes
    eqDels.length shouldBe 2
    // inject a CDC batch INSIDE the procedure's OCC attempt, after it
    // read the head — the exact mid-merge race; the commit must lose
    // its reservation, re-merge with the new run, and land
    GraftTableCatalog.rewriteDeletesRaceHook.set(() =>
      sql("INSERT INTO graft_cat.db.eqrb SELECT id, concat('z', id) " +
        "FROM range(50, 150, 1, 1)"))
    val r = sql("CALL graft_cat.sys.rewrite_deletes('db', 'eqrb')")
      .collect().head
    GraftTableCatalog.rewriteDeletesRaceHook.get shouldBe null
    (r.getLong(0), r.getLong(1)) shouldBe ((3L, 1L)) // re-merged 3 runs
    eqDels.length shouldBe 1
    // all keys at correct max-seq: the LAST writer wins at every key,
    // including the injected z batch
    rows("SELECT count(*), " +
      "count(CASE WHEN v LIKE 'z%' THEN 1 END), " +
      "count(CASE WHEN v LIKE 'c%' THEN 1 END), " +
      "count(CASE WHEN v LIKE 'b%' THEN 1 END) FROM graft_cat.db.eqrb")
      .shouldBe(Seq(Seq(1000L, 100L, 200L, 50L)))
    // the losing attempt's merged run was deleted, the winning one is
    // referenced: no eq-merged orphans in data/
    val referenced = eqDels.map(_.name).toSet
    new File(dir, "data").listFiles()
      .map(_.getName).filter(_.startsWith("eq-merged-"))
      .filterNot(referenced) shouldBe empty
  }

  test("writeMerged streams: a million-key merge materializes nothing on the driver; the 2 GiB format bound still fails loudly") {
    import GraftTableCatalog.EqKeys
    val dirT = java.nio.file.Files.createTempDirectory("graft-eqm").toFile
    // LONG: 1M lazily generated (key, seq) records — the iterator is
    // never collected; headers back-patch after the stream
    val f = new File(dirT, "m1.keyseq")
    EqKeys.writeMerged(f, (0L until 1000000L).iterator
      .map(i => (java.lang.Long.valueOf(i * 2): Any, i % 7)),
      isStr = false) shouldBe 1000000L
    val lk = EqKeys.lookup(Array(f.getPath), isStr = false, fileSeq = 2L)
    lk.containsLong(12L) shouldBe true // i=6: seq 6 > fileSeq 2
    lk.containsLong(4L) shouldBe false // i=2: seq 2, predates the file
    lk.containsLong(13L) shouldBe false // absent key
    // STRING twin through the same streamed layout
    val fs = new File(dirT, "m2.keyseq")
    EqKeys.writeMerged(fs,
      Iterator[(Any, Long)](("alpha", 5L), ("beta", 1L)),
      isStr = true) shouldBe 2L
    val lks = EqKeys.lookup(Array(fs.getPath), isStr = true, fileSeq = 3L)
    lks.contains("alpha") shouldBe true
    lks.contains("beta") shouldBe false
    lks.contains("gamma") shouldBe false
    // the mapped-read format bound (test-scaled cap) trips loudly
    // BEFORE writing past it, not after materializing anything
    intercept[IllegalArgumentException] {
      EqKeys.writeMerged(new File(dirT, "m3.keyseq"),
        (0L until 100L).iterator.map(i => (java.lang.Long.valueOf(i): Any, 0L)),
        isStr = false, cap = 256L)
    }
  }

  test("branch-chain OCC: a stale branch head token is a retryable race — concurrent branch writers rebase like main-chain writers") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.brocc")
    sql("CREATE TABLE graft_cat.db.brocc AS SELECT id AS k " +
      "FROM range(0, 100, 1, 1)")
    sql("CALL graft_cat.sys.branch('db', 'brocc', 'aud')")
    val dir = catFile("db/brocc")
    val stale = GraftTableCatalog.headVersion(dir, Some("aud"))
    // writer A advances the branch while writer B still holds `stale`
    sql("INSERT INTO graft_cat.db.brocc.branch_aud " +
      "SELECT id FROM range(100, 150, 1, 1)")
    // writer B: the stale token must surface as the retryable exception
    // so retryingCommit rebases — not IllegalArgumentException
    GraftTableCatalog.retryingCommit(dir, Some("aud"), stale) { expected =>
      val m = GraftTableCatalog.manifestAt(dir, Some("aud"), expected)
      GraftTableCatalog.commitHead(dir, Some("aud"), expected, "append",
        m.files, m.epochs, m.eqDeletes)
    }
    // BOTH commits landed: A's insert and B's rebased append
    GraftTableCatalog.headVersion(dir, Some("aud")) shouldBe stale + 2
    rows("SELECT count(*) FROM graft_cat.db.brocc.branch_aud") shouldBe
      Seq(Seq(150L))
  }

  test("branch-ref lock: a stale orphan lock is reclaimed by atomic rename — contended mutations never lose an update") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.brlock")
    sql("CREATE TABLE graft_cat.db.brlock AS SELECT id FROM range(10)")
    val dir = catFile("db/brlock")
    // a crashed holder's orphan: present and older than the reclaim window
    val lock = new File(dir, ".branches.lock")
    java.nio.file.Files.createFile(lock.toPath)
    lock.setLastModified(
      System.currentTimeMillis - GraftTableCatalog.OrphanReclaimMs - 60000)
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 25).foreach { i =>
        GraftTableCatalog.mutateBranchRefs(dir)(refs =>
          refs + (s"b-$t-$i" -> GraftTableCatalog.BranchRef(1, 0)))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    // every one of the 200 contended updates is present (a delete+create
    // reclaim could let two holders in and drop one) and the lock is gone
    GraftTableCatalog.readBranchRefs(dir).count(
      _._1.startsWith("b-")) shouldBe 200
    lock.exists() shouldBe false
  }

  test("manifest segments: a partition point probe parses only matching segments; commits reuse prior segments by reference") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.segs")
    sql("CREATE TABLE graft_cat.db.segs (g BIGINT, v BIGINT) " +
      "PARTITIONED BY (g)")
    (0 until 8).foreach { g =>
      sql(s"INSERT INTO graft_cat.db.segs SELECT $g, id " +
        s"FROM range(${g * 100}, ${g * 100 + 100}, 1, 1)")
    }
    val dir = catFile("db/segs")
    val m = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    // eight partition-disjoint appends -> eight segments, reused by
    // reference: the manifest LIST is O(segments), not O(files)
    m.segs.length shouldBe 8
    m.files.length shouldBe 8
    val segFiles = m.segs.map(s => new File(dir, s.ref.name))
    segFiles.foreach(_.exists() shouldBe true)
    val mtimes = segFiles.map(f => f.getName -> f.lastModified()).toMap
    // a point probe PLANS by reading only the matching segment (the
    // non-pushable aggregate keeps a real scan in the plan)
    GraftTableCatalog.segmentsRead.set(0)
    rows("SELECT sum(v % 7) FROM graft_cat.db.segs WHERE g = 3") shouldBe
      Seq(Seq((300L until 400L).map(_ % 7).sum))
    GraftTableCatalog.segmentsRead.get shouldBe 1L
    // an unfiltered scan consults all of them
    GraftTableCatalog.segmentsRead.set(0)
    rows("SELECT sum(v % 7) FROM graft_cat.db.segs").head.head shouldBe
      (0L until 800L).map(_ % 7).sum
    GraftTableCatalog.segmentsRead.get shouldBe 8L
    // the NEXT commit writes one new segment and touches none of the
    // previous eight (commit I/O is O(delta), not O(files))
    sql("INSERT INTO graft_cat.db.segs SELECT 8, id " +
      "FROM range(800, 900, 1, 1)")
    val m2 = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    m2.segs.length shouldBe 9
    m2.segs.take(8).map(_.ref.name) shouldBe m.segs.map(_.ref.name)
    m.segs.foreach { sg =>
      new File(dir, sg.ref.name).lastModified() shouldBe mtimes(sg.ref.name)
    }
    // a row-boundary DELETE in ONE partition rewrites only that
    // partition's segment; the other eight ride along by reference
    sql("DELETE FROM graft_cat.db.segs WHERE g = 3 AND v < 350")
    val m3 = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    val before = m2.segs.map(_.ref.name).toSet
    m3.segs.count(sg => before.contains(sg.ref.name)) shouldBe 8
    rows("SELECT count(*) FROM graft_cat.db.segs") shouldBe Seq(Seq(850L))
    // summaries carry the partition ranges planning pruned on
    val bySeg = m.segs.map(_.ref.summary)
    bySeg.zipWithIndex.foreach { case (sm, g) =>
      sm shouldBe s"p0|l$g:$g"
    }
  }

  test("manifest segments: expiry collects segments referenced by no retained version; live ones survive") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.seggc")
    sql("CREATE TABLE graft_cat.db.seggc (k BIGINT, v BIGINT)")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO graft_cat.db.seggc SELECT id, id " +
        s"FROM range(${i * 100}, ${i * 100 + 100}, 1, 1)")
    }
    val dir = catFile("db/seggc")
    // full compaction rewrites everything into one fresh segment
    sql("CALL graft_cat.sys.compact('db', 'seggc', 1073741824)")
    def segsOnDisk = dir.listFiles().map(_.getName)
      .filter(n => n.startsWith("sg-") && n.endsWith(".seg")).toSet
    val allSegs = segsOnDisk
    sql("CALL graft_cat.sys.expire_versions('db', 'seggc', 1)")
    // age guard: expire's own sweep must NOT reclaim fresh segments
    segsOnDisk shouldBe allSegs
    // a zero-grace sweep (test-only) collects exactly the segments that
    // no surviving manifest references
    sources.CatalogSpecDoors.gcSegments(dir, 0L)
    val live = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).segs.map(_.ref.name).toSet
    segsOnDisk shouldBe live
    rows("SELECT count(*), sum(v) FROM graft_cat.db.seggc") shouldBe
      Seq(Seq(400L, (0L until 400L).sum))
  }

  test("adaptive bloom sizing: Parquet's filter ships <= 2/128/256 KiB at 1k/50k/125k keys with fp <= 2%; DELETE keeps bloom-disproven files unread; a rename keeps pruning; a filter-less file fails planning") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    // one file of n distinct keys: its native filter is probed from the
    // footer with every present key (no false negative) and 20,000
    // absent ones (measured fp)
    Seq((1000, 2 * 1024), (50000, 128 * 1024), (125000, 256 * 1024))
      .foreach { case (n, cap) =>
        sql("DROP TABLE IF EXISTS graft_cat.db.blsz")
        sql("""CREATE TABLE graft_cat.db.blsz (k BIGINT)
          |TBLPROPERTIES ('write.bloom.columns'='k')""".stripMargin)
        sql(s"INSERT INTO graft_cat.db.blsz SELECT id FROM range(0, $n, 1, 1)")
        val dir = catFile("db/blsz")
        val Seq(e) = GraftTableCatalog.readManifest(dir,
          GraftTableCatalog.readLatest(dir)).files
        val path = new File(dir, s"data/${e.name}").getPath
        val id = e.bloomCols.head
        def held(keys: Range): Seq[Option[Boolean]] = sources.Footers
          .bloomMayHold(spark, path, keys.map(k => id -> (k.toLong: Any)))
        all(held(0 until n)) shouldBe Some(true)
        val fp = held(n until n + 20000).count(_.contains(true)) / 20000.0
        val bytes = bloomBytes(path, "k")
        info(s"$n keys: filter $bytes bytes, fp $fp")
        bytes should be <= cap
        fp should be <= 0.02
      }
    // end-to-end: four 31,250-row files whose k ranges all overlap, so
    // min/max prunes nothing; file i holds the even keys 8n + 2i
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.blad")
    sql("""CREATE TABLE graft_cat.db.blad (k BIGINT, v BIGINT)
      |TBLPROPERTIES ('write.bloom.columns'='k')""".stripMargin)
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO graft_cat.db.blad SELECT id * 8 + ${2 * i}, id " +
        "FROM range(0, 31250, 1, 1)")
    }
    val dir = catFile("db/blad")
    def entries() = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir)).files
    val before = entries()
    before.length shouldBe 4
    // an absent key: every file's filter disproves it, so the DELETE is
    // metadata-only and opens no file
    GraftTableCatalog.filesOpened.set(0)
    sql("DELETE FROM graft_cat.db.blad WHERE k = 124001") // odd: absent
    GraftTableCatalog.filesOpened.get shouldBe 0L
    entries() shouldBe before
    rows("SELECT count(*) FROM graft_cat.db.blad") shouldBe Seq(Seq(125000L))
    // a present key (124000 = 8 * 15500, file 0) runs Spark's row-level
    // plan, whose scans consult the same filters: the group filter's
    // scan and the rewrite's scan each open file 0 and no other file, and
    // only file 0 is rewritten; the other three entries stay
    // byte-identical
    GraftTableCatalog.filesOpened.set(0)
    sql("DELETE FROM graft_cat.db.blad WHERE k = 124000")
    GraftTableCatalog.filesOpened.get shouldBe 2L
    val after = entries()
    after.take(3) shouldBe before.tail
    after.map(_.name) shouldNot contain(before.head.name)
    after.map(_.rows) shouldBe Seq(31250L, 31250L, 31250L, 31249L)
    rows("SELECT count(*) FROM graft_cat.db.blad") shouldBe Seq(Seq(124999L))
    // the filters resolve their column by field id, so a renamed column
    // keeps its pruning
    sql("ALTER TABLE graft_cat.db.blad RENAME COLUMN k TO kk")
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.blad WHERE kk = 124001") shouldBe
      Seq(Seq(0L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    // an entry that lists a bloom column on a file written without a
    // filter (a table from before native filters) fails at planning
    sql("DROP TABLE IF EXISTS graft_cat.db.blleg")
    sql("CREATE TABLE graft_cat.db.blleg (k BIGINT)")
    sql("INSERT INTO graft_cat.db.blleg SELECT id FROM range(0, 100, 1, 1)")
    sources.CatalogSpecDoors.listBloomCols(catFile("db/blleg"))
    def rootMsg(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + rootMsg(x.getCause)
    rootMsg(intercept[Exception](
      rows("SELECT count(*) FROM graft_cat.db.blleg WHERE k = 7"))) should
      include("must be recreated")
    sql("DROP TABLE graft_cat.db.blleg")
  }

  test("ref-addressable time travel: VERSION AS OF resolves tags AND branch names; dangling refs fail listing both") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.vref")
    sql("CREATE TABLE graft_cat.db.vref AS SELECT id AS k " +
      "FROM range(0, 1000, 1, 1)")
    val ctasV = GraftTableCatalog.readLatest(catFile("db/vref"))
    sql(s"CALL graft_cat.sys.tag('db', 'vref', 'first', $ctasV)")
    sql("INSERT INTO graft_cat.db.vref SELECT id FROM range(1000, 1500, 1, 1)")
    sql("CALL graft_cat.sys.branch('db', 'vref', 'audit')")
    sql("INSERT INTO graft_cat.db.vref.branch_audit " +
      "SELECT id FROM range(5000, 5250, 1, 1)")
    // tag name -> its pinned version
    rows("SELECT count(*) FROM graft_cat.db.vref VERSION AS OF 'first'") shouldBe
      Seq(Seq(1000L))
    // branch name -> the branch's CURRENT head (main untouched)
    rows("SELECT count(*) FROM graft_cat.db.vref VERSION AS OF 'audit'") shouldBe
      Seq(Seq(1750L))
    rows("SELECT count(*) FROM graft_cat.db.vref") shouldBe Seq(Seq(1500L))
    // numeric versions keep working
    rows(s"SELECT count(*) FROM graft_cat.db.vref VERSION AS OF ${ctasV + 1}") shouldBe
      Seq(Seq(1500L))
    // a dangling ref fails loudly, listing both namespaces
    val e = intercept[Exception](
      rows("SELECT count(*) FROM graft_cat.db.vref VERSION AS OF 'nope'"))
    def rootMsg(x: Throwable): String =
      if (x == null) "" else x.getMessage + " | " + rootMsg(x.getCause)
    rootMsg(e) should include ("no tag or branch 'nope'")
    rootMsg(e) should include ("first")
    rootMsg(e) should include ("audit")
    sql("CALL graft_cat.sys.drop_branch('db', 'vref', 'audit')")
    sql("CALL graft_cat.sys.drop_tag('db', 'vref', 'first')")
  }

  test("bloom filter file skipping: point predicates on an unsorted column open only the holder file; each data file carries its own filters") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.bloomt")
    // h is a hash-scrambled LONG: every file's min/max range covers the
    // whole domain, so ONLY the bloom can skip files on a point probe
    sql("CREATE TABLE graft_cat.db.bloomt (h BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('write.bloom.columns'='h,s')")
    sql("INSERT INTO graft_cat.db.bloomt " +
      "SELECT hash(id) * 1000000007L + id, concat('key', id), id " +
      "FROM range(0, 80000, 1, 8)")
    val dir = catFile("db/bloomt")
    val m = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    m.files.length shouldBe 8
    m.files.foreach(_.bloomCols.length shouldBe 2)
    m.files.foreach(footerHasFilters(dir, _))
    new File(dir, "data").list().filter(_.endsWith(".bloom")) shouldBe empty
    // pick a real value and its holder file count via full scan
    val probe = rows("SELECT h, s, v FROM graft_cat.db.bloomt " +
      "WHERE v = 41234").head
    val (hVal, sVal) = (probe(0).asInstanceOf[Long], probe(1).toString)
    // LONG point probe: without bloom every file's range matches; with
    // it only the holder (plus <=1% false positives) opens
    GraftTableCatalog.filesOpened.set(0)
    rows(s"SELECT v FROM graft_cat.db.bloomt WHERE h = $hVal") shouldBe
      Seq(Seq(41234L))
    GraftTableCatalog.filesOpened.get should be <= 2L
    // STRING point probe through the same file's filter
    GraftTableCatalog.filesOpened.set(0)
    rows(s"SELECT v FROM graft_cat.db.bloomt WHERE s = '$sVal'") shouldBe
      Seq(Seq(41234L))
    GraftTableCatalog.filesOpened.get should be <= 2L
    // an ABSENT value: zero files opened (definite-absence proof)
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.bloomt WHERE s = 'nope'") shouldBe
      Seq(Seq(0L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    // IN-lists probe per value; range predicates ignore the bloom
    GraftTableCatalog.filesOpened.set(0)
    rows(s"SELECT count(*) FROM graft_cat.db.bloomt " +
      s"WHERE h IN ($hVal, 1, 2)") shouldBe Seq(Seq(1L))
    GraftTableCatalog.filesOpened.get should be <= 3L
    rows("SELECT count(*) FROM graft_cat.db.bloomt WHERE v >= 0") shouldBe
      Seq(Seq(80000L))
    // the control table (no property) opens everything for the probe
    sql("DROP TABLE IF EXISTS graft_cat.db.bloomc")
    sql("CREATE TABLE graft_cat.db.bloomc AS " +
      "SELECT hash(id) * 1000000007L + id AS h, id AS v " +
      "FROM range(0, 80000, 1, 8)")
    GraftTableCatalog.filesOpened.set(0)
    rows(s"SELECT count(*) FROM graft_cat.db.bloomc WHERE h = $hVal")
    GraftTableCatalog.filesOpened.get shouldBe 8L
    // compaction REBUILDS the filters: point pruning survives
    // maintenance (the rewritten file carries fresh filters)
    sql("CALL graft_cat.sys.compact('db', 'bloomt', 1073741824)")
    val mc = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    mc.files.length shouldBe 1
    mc.files.head.bloomCols.length shouldBe 2
    footerHasFilters(dir, mc.files.head)
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT count(*) FROM graft_cat.db.bloomt WHERE s = 'nope'") shouldBe
      Seq(Seq(0L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    rows(s"SELECT v FROM graft_cat.db.bloomt WHERE h = $hVal") shouldBe
      Seq(Seq(41234L))
    // guards: unknown / non-LONG-STRING columns fail the write loudly
    sql("DROP TABLE IF EXISTS graft_cat.db.bloomg")
    sql("CREATE TABLE graft_cat.db.bloomg (k BIGINT, x DOUBLE) " +
      "TBLPROPERTIES ('write.bloom.columns'='x')")
    intercept[Exception](sql("INSERT INTO graft_cat.db.bloomg VALUES (1, 1.0)"))
    // DELETE of a whole file and expiry leave no data file behind
    sql("DELETE FROM graft_cat.db.bloomt WHERE v >= 0") // all files drop
    sql("CALL graft_cat.sys.expire_versions('db', 'bloomt', 1)")
    new File(dir, "data").list() shouldBe empty
  }

  /** The footer of `e`'s data file carries a filter for the file's first
    * two columns (`h` and `s`), read through [[sources.Footers]]. */
  private def footerHasFilters(dir: File, e: GraftTableCatalog.Entry): Unit =
    sources.Footers.bloomMayHold(spark, new File(dir, s"data/${e.name}").getPath,
      Seq(e.fieldIds(0) -> (0L: Any), e.fieldIds(1) -> ("": Any)))
      .map(_.isDefined) shouldBe Seq(true, true)

  /** Bytes of the one row group's bloom filter for `col` in `path`. */
  private def bloomBytes(path: String, col: String): Int = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(java.nio.file.Paths.get(path)))
    try {
      val Seq(g) = r.getFooter.getBlocks.asScala.toSeq
      r.readBloomFilter(g.getColumns.asScala.find(_.getPath.toDotString == col)
        .get).getBitsetSize
    } finally r.close()
  }

  test("round-17 advice pins: days-partition extremes exact, branch refs survive concurrent mutation, spec swap is one record, absent partition errors") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    // (1) MIN/MAX pushdown over a days()-partitioned SOURCE column must
    // serve the exact per-file stats, never the synthesized day-wide
    // pruning range [dayStart, dayStart+86399999] — the values below sit
    // strictly inside their days, so a facts.rng answer would be wrong
    sql("DROP TABLE IF EXISTS graft_cat.db.adv17d")
    sql("CREATE TABLE graft_cat.db.adv17d (ts BIGINT, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    sql("INSERT INTO graft_cat.db.adv17d VALUES " +
      "(3600000, 1), (7200000, 2), (90000000, 3), (93600000, 4)")
    GraftTableCatalog.filesOpened.set(0)
    rows("SELECT min(ts), max(ts), count(*) FROM graft_cat.db.adv17d") shouldBe
      Seq(Seq(3600000L, 93600000L, 4L))
    GraftTableCatalog.filesOpened.get shouldBe 0L
    // (2) branches.json mutations are lock-serialized: interleaved
    // operations on DIFFERENT branches never lose an update
    val dir = catFile("db/adv17d")
    import GraftTableCatalog.{mutateBranchRefs, readBranchRefs, BranchRef}
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 25).foreach { i =>
        mutateBranchRefs(dir)(_ + (s"b${t}_$i" -> BranchRef(0, i.toLong)))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val refs = readBranchRefs(dir)
    refs.size shouldBe 100
    (0 until 4).foreach(t => (0 until 25).foreach(i =>
      refs(s"b${t}_$i").head shouldBe i.toLong))
    // a crashed holder's stale lock reclaims instead of wedging forever
    val lock = new File(dir, ".branches.lock")
    java.nio.file.Files.createFile(lock.toPath)
    lock.setLastModified(
      System.currentTimeMillis - GraftTableCatalog.OrphanReclaimMs - 1000)
    mutateBranchRefs(dir)(_ - "b0_0")
    readBranchRefs(dir).contains("b0_0") shouldBe false
    lock.exists() shouldBe false
    mutateBranchRefs(dir)(_ => Map.empty) // leave the table clean
    // (3) spec evolution is ONE atomically-swapped record: partition.json
    // stays the immutable gen-0 layout (so a racing writer can never pair
    // the new spec id with an old layout), while the current layout+id
    // both derive from specs.json
    sql("DROP TABLE IF EXISTS graft_cat.db.adv17s")
    sql("CREATE TABLE graft_cat.db.adv17s (g BIGINT, k BIGINT) " +
      "PARTITIONED BY (g)")
    sql("INSERT INTO graft_cat.db.adv17s VALUES (1, 10)")
    val sdir = catFile("db/adv17s")
    val gen0 = java.nio.file.Files.readString(
      new File(sdir, "partition.json").toPath)
    sql("CALL graft_cat.sys.set_partition_spec('db', 'adv17s', 'bucket(8,k)')")
    java.nio.file.Files.readString(
      new File(sdir, "partition.json").toPath) shouldBe gen0
    GraftTableCatalog.readSpec(sdir).map(_.kind) shouldBe Seq("bucket")
    GraftTableCatalog.readSpecs(sdir).length shouldBe 2
    sql("INSERT INTO graft_cat.db.adv17s VALUES (2, 20)")
    rows("SELECT g, k FROM graft_cat.db.adv17s ORDER BY g") shouldBe
      Seq(Seq(1L, 10L), Seq(2L, 20L))
    // (4) loadPartitionMetadata on an absent partition is a loud
    // NoSuchPartitionException, not a phantom {files:0} row
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsPartitionManagement, TableCatalog}
    sql("DROP TABLE IF EXISTS graft_cat.db.pmgmt17")
    sql("CREATE TABLE graft_cat.db.pmgmt17 (g BIGINT, v BIGINT) " +
      "PARTITIONED BY (g)")
    sql("INSERT INTO graft_cat.db.pmgmt17 VALUES (0, 1), (1, 2)")
    val pm = spark.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("db"), "pmgmt17"))
      .asInstanceOf[SupportsPartitionManagement]
    pm.loadPartitionMetadata(org.apache.spark.sql.catalyst.InternalRow(0L))
      .get("rows") shouldBe "1"
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException](
      pm.loadPartitionMetadata(org.apache.spark.sql.catalyst.InternalRow(9L)))
  }

  test("sys.remove_orphans: unreferenced data/sidecar files older than the grace window are reclaimed; referenced, branch-pinned and in-flight files all survive") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.orph")
    sql("CREATE TABLE graft_cat.db.orph (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('update.mode'='merge-on-read', 'delete.mode'='merge-on-read')")
    val t = "graft_cat.db.orph"
    sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 100, 1, 4)")
    // a MOR delete adds position-delete files the sweep must also pin
    sql(s"DELETE FROM $t WHERE k % 10 = 3")
    // an unpublished branch commit pins ITS files too
    sql("CALL graft_cat.sys.branch('db', 'orph', 'wip')")
    sql(s"INSERT INTO $t.branch_wip SELECT id, id FROM range(100, 120)")
    val dir = catFile("db/orph")
    val dataDir = new File(dir, "data")
    val before = dataDir.listFiles().map(_.getName).toSet
    before.size should be > 4
    // plant a crashed writer's strands: a data file and a delete file
    val orphan = new File(dataDir, "deadbeef0001.parquet")
    java.nio.file.Files.write(orphan.toPath, Array.fill(64)(7.toByte))
    java.nio.file.Files.write(new File(dataDir, "del-deadbeef0001.del")
      .toPath, Array.fill(32)(1.toByte))
    // an IN-FLIGHT write (fresh mtime) with a generous grace: untouched
    val r0 = rows("CALL graft_cat.sys.remove_orphans('db', 'orph', " +
      s"${60L * 60 * 1000})")
    r0.head.head shouldBe 0L
    dataDir.listFiles().map(_.getName).toSet should
      contain allElementsOf Set("deadbeef0001.parquet", "del-deadbeef0001.del")
    // age the strands past the window -> exactly the two orphans go
    orphan.setLastModified(System.currentTimeMillis - 10000)
    new File(dataDir, "del-deadbeef0001.del")
      .setLastModified(System.currentTimeMillis - 10000)
    val r1 = rows("CALL graft_cat.sys.remove_orphans('db', 'orph', 5000)")
    r1.head.head shouldBe 2L
    (r1.head(1).asInstanceOf[Long]) shouldBe 96L
    dataDir.listFiles().map(_.getName).toSet shouldBe before
    // zero-grace full sweep: every referenced file (data, deletes,
    // branch commits) survives and both chains still read correctly
    rows("CALL graft_cat.sys.remove_orphans('db', 'orph', 0)")
      .head.head shouldBe 0L
    dataDir.listFiles().map(_.getName).toSet shouldBe before
    rows(s"SELECT count(*), sum(v) FROM $t") shouldBe Seq(Seq(
      90L, (0L until 100).filter(_ % 10 != 3).map(_ * 10).sum))
    rows(s"SELECT count(*) FROM $t.branch_wip") shouldBe Seq(Seq(110L))
    sql(s"DROP TABLE $t")
  }

  test("sys.rewrite_sorted: z-order clustering makes range probes on EVERY clustered column prune; rows are byte-equivalent, prior versions serve, the change feed skips the rewrite") {
    val t = freshTable("zord", "x BIGINT, y BIGINT, v BIGINT")
    // 16 x-slab files: each insert covers a contiguous x range while y
    // scrambles over the full domain — the append-ordered layout where
    // zone maps prune on x but NEVER on y
    (0 until 16).foreach { i =>
      sql(s"INSERT INTO $t SELECT id, (id * 2654435761) % 65536, id " +
        s"FROM range(${i * 4096}, ${(i + 1) * 4096}, 1, 1)")
    }
    val dir = catFile("db/zord")
    val preV = GraftTableCatalog.readLatest(dir)
    val check = s"SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
      s"sum(x * y % 97) AS mix FROM $t"
    val preRows = rows(check)
    def opened(q: String): Long = {
      GraftTableCatalog.filesOpened.set(0)
      sql(q).collect()
      GraftTableCatalog.filesOpened.get()
    }
    // sum(v % 7) defeats aggregate pushdown — these pins measure SCAN
    // pruning, not the metadata-only answer path
    val xProbe =
      s"SELECT sum(v % 7) FROM $t WHERE x BETWEEN 8192 AND 12287"
    val yProbe =
      s"SELECT sum(v % 7) FROM $t WHERE y BETWEEN 8192 AND 12287"
    val xAns = rows(xProbe); val yAns = rows(yProbe)
    opened(xProbe) shouldBe 1L   // slab layout prunes on x...
    opened(yProbe) shouldBe 16L  // ...and on y opens EVERYTHING
    val bytes = GraftTableCatalog.readManifest(dir, preV)
      .files.map(_.bytes).sum
    val res = rows("CALL graft_cat.sys.rewrite_sorted('db', 'zord', " +
      s"'x,y', ${bytes / 16 + 1})")
    res.head.take(2) shouldBe Seq(16L, 16L)
    res.head(3) shouldBe "x,y"
    // 16 z-rectangles over a 2-D uniform: a probe covering 1/16 of
    // either dimension touches ~a strip of cells, not the whole table
    rows(xProbe) shouldBe xAns
    rows(yProbe) shouldBe yAns
    opened(xProbe) should be <= 8L
    opened(yProbe) should be <= 8L
    rows(check) shouldBe preRows                       // byte-equivalent
    rows(s"SELECT count(*) FROM $t VERSION AS OF $preV") shouldBe
      Seq(Seq(65536L))                                 // history serves
    val postV = GraftTableCatalog.readLatest(dir)
    rows(s"""SELECT count(*) FROM graft_cat.db.zord.changes
            |WHERE _version = $postV""".stripMargin) shouldBe
      Seq(Seq(0L))                                     // CDF-invisible
    // single column = plain sort: every output file's x-range disjoint
    rows("CALL graft_cat.sys.rewrite_sorted('db', 'zord', 'x', " +
      s"${bytes / 16 + 1})")
    opened(xProbe) shouldBe 1L
    rows(check) shouldBe preRows
    // non-LONG clustering column fails loudly
    val e = intercept[Exception](
      sql("CALL graft_cat.sys.rewrite_sorted('db', 'zord', 'nope', 1)"))
    e.getMessage should include("not in the schema")
    sql(s"DROP TABLE $t")
  }

  test(".manifests: one row per segment ref with reuse flags, served without opening a single segment file") {
    val t = freshTable("mani", "k BIGINT, v BIGINT")
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 100, 1, 1)")
    sql(s"INSERT INTO $t SELECT id, id FROM range(100, 300, 1, 1)")
    val dir = catFile("db/mani")
    val m = GraftTableCatalog.readManifest(dir,
      GraftTableCatalog.readLatest(dir))
    GraftTableCatalog.segmentsRead.set(0)
    val listed = rows(s"SELECT segment, entries, rows, reused " +
      s"FROM $t.manifests ORDER BY rows")
    GraftTableCatalog.segmentsRead.get() shouldBe 0L // list-level only
    listed.map(_.head).toSet shouldBe m.segs.map(_.ref.name).toSet
    listed shouldBe Seq(
      Seq(m.segs.head.ref.name, 1L, 100L, true),   // append 1: reused
      Seq(m.segs(1).ref.name, 1L, 200L, false))    // append 2: new
    sql(s"DROP TABLE $t")
  }

  test("manifest histograms reach the CBO: a skewed range filter prices near truth with bins and wildly under the bare [min,max] without") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    sql("DROP TABLE IF EXISTS graft_cat.db.histo")
    sql("CREATE TABLE graft_cat.db.histo (v BIGINT, p BIGINT)")
    // 90% of rows bunch in [0, 100); a thin tail stretches to 10M —
    // per-file spans are tight, so the piecewise density knows it
    sql("INSERT INTO graft_cat.db.histo " +
      "SELECT id % 100, id FROM range(0, 90000, 1, 4)")
    sql("INSERT INTO graft_cat.db.histo " +
      "SELECT 100 + (id * 1000), id FROM range(0, 10000, 1, 2)")
    // the same rows in ONE file: a single span yields no histogram
    sql("DROP TABLE IF EXISTS graft_cat.db.histo1")
    sql("CREATE TABLE graft_cat.db.histo1 AS " +
      "SELECT /*+ COALESCE(1) */ v, p FROM graft_cat.db.histo")
    val one = catFile("db/histo1")
    GraftTableCatalog.readManifest(one, GraftTableCatalog.readLatest(one))
      .files.length shouldBe 1
    def estimate(table: String): BigInt =
      SessionConf.withValue(spark, "spark.sql.cbo.enabled", "true") {
        // v < 200000 cuts MID-tail-file, so absorption declines, the
        // filter stays residual, and the estimate is genuinely priced
        // (a file-aligned cutoff would be answered exactly by file
        // skipping with or without a histogram)
        val plan = sql(
          s"SELECT v, p FROM graft_cat.db.$table WHERE v < 200000")
          .queryExecution.optimizedPlan
        plan.stats.rowCount.getOrElse(sys.error("no rowCount estimate"))
      }
    val withHist = estimate("histo")
    val without = estimate("histo1")
    // truth ~90200 (the dense 90k + ~200 tail rows). The bare span
    // prices v < 200000 uniformly over [0, ~10M] -> ~2% of rows; the
    // histogram knows 90% of the mass sits below 100.
    withHist.toLong should be >= 45000L
    withHist.toLong should be <= 120000L
    without.toLong should be <= 10000L
    sql("DROP TABLE graft_cat.db.histo")
    sql("DROP TABLE graft_cat.db.histo1")
  }

  test("sys.rewrite_sorted mode 'distributed': the cluster rewrites through the catalog's own writer; probes prune on both columns, content is byte-equivalent, the change feed skips it; partitioned tables decline loudly, append-evolved tables rewrite with null-pads") {
    val t = freshTable("zdist", "x BIGINT, y BIGINT, v BIGINT")
    (0 until 8).foreach { i =>
      sql(s"INSERT INTO $t SELECT id, (id * 2654435761) % 65536, id " +
        s"FROM range(${i * 8192}, ${(i + 1) * 8192}, 1, 1)")
    }
    val dir = catFile("db/zdist")
    val preV = GraftTableCatalog.readLatest(dir)
    val check = s"SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, " +
      s"sum(x * y % 97) AS mix FROM $t"
    val preRows = rows(check)
    def opened(q: String): Long = {
      GraftTableCatalog.filesOpened.set(0)
      sql(q).collect()
      GraftTableCatalog.filesOpened.get()
    }
    val yProbe =
      s"SELECT sum(v % 7) FROM $t WHERE y BETWEEN 0 AND 8191"
    val yAns = rows(yProbe)
    opened(yProbe) shouldBe 8L // slab layout: y prunes nothing
    val bytes = GraftTableCatalog.readManifest(dir, preV)
      .files.map(_.bytes).sum
    val res = rows("CALL graft_cat.sys.rewrite_sorted('db', 'zdist', " +
      s"'x,y', ${bytes / 8 + 1}, 'distributed')")
    res.head.head shouldBe 8L
    rows(yProbe) shouldBe yAns
    opened(yProbe) should be <= 4L        // 2-D rectangles prune y now
    rows(check) shouldBe preRows          // byte-equivalent content
    rows(s"SELECT count(*) FROM $t VERSION AS OF $preV") shouldBe
      Seq(Seq(65536L))
    val postV = GraftTableCatalog.readLatest(dir)
    rows(s"""SELECT count(*) FROM graft_cat.db.zdist.changes
            |WHERE _version = $postV""".stripMargin) shouldBe
      Seq(Seq(0L))                        // CDF-invisible
    // the scratch table is gone; no stray files outside data/
    sql("SHOW TABLES IN graft_cat.db").collect()
      .map(_.getString(1)).exists(_.startsWith("rwtmp_")) shouldBe false
    // declines: partitioned table, evolved table
    sql("DROP TABLE IF EXISTS graft_cat.db.zdp")
    sql("CREATE TABLE graft_cat.db.zdp (g BIGINT, v BIGINT) " +
      "PARTITIONED BY (g)")
    sql("INSERT INTO graft_cat.db.zdp VALUES (1, 1), (2, 2)")
    intercept[Exception](rows("CALL graft_cat.sys.rewrite_sorted(" +
      "'db', 'zdp', 'v', 1000, 'distributed')"))
      .getMessage should include("unpartitioned")
    // append-only ADD COLUMN keeps positional field ids (the mapping
    // is NOT remapped), so the distributed path legitimately applies:
    // the snapshot read null-pads the old file and the rewrite lands
    // the evolved schema
    sql("DROP TABLE IF EXISTS graft_cat.db.zde")
    sql("CREATE TABLE graft_cat.db.zde (a BIGINT)")
    sql("INSERT INTO graft_cat.db.zde VALUES (1)")
    sql("ALTER TABLE graft_cat.db.zde ADD COLUMN b BIGINT")
    sql("INSERT INTO graft_cat.db.zde VALUES (2, 20)")
    rows("CALL graft_cat.sys.rewrite_sorted(" +
      "'db', 'zde', 'a', 1000000, 'distributed')")
    rows("SELECT a, b FROM graft_cat.db.zde ORDER BY a") shouldBe Seq(
      Seq(1L, null), Seq(2L, 20L))
    sql(s"DROP TABLE $t")
    sql("DROP TABLE graft_cat.db.zdp")
    sql("DROP TABLE graft_cat.db.zde")
  }

}

package sources {
  /** CatalogSpec's doors into the catalog's package-private helpers. */
  private[graft] object CatalogSpecDoors {
    /** A sweep with grace `graceMs`: zero lets the spec observe segment
      * GC without waiting out the reclaim window. */
    def gcSegments(dir: File, graceMs: Long): Long =
      CatalogManifests.gcSegments(dir, graceMs)

    /** Commit a new head whose entries list every column as a bloom
      * column, on files written without filters: the shape of a table
      * from before native Parquet bloom filters. */
    def listBloomCols(dir: File): Unit = {
      val v = GraftTableCatalog.readLatest(dir)
      val m = GraftTableCatalog.readManifest(dir, v)
      GraftTableCatalog.commitVersion(dir, v, "legacy",
        m.files.map(e => e.copy(bloomCols = e.fieldIds)), prev = Some(m))
    }
  }
}
