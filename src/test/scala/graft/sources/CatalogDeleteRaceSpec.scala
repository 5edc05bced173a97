package graft.sources

import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete}
import org.apache.spark.sql.sources.{Filter, LessThan}

import graft.SparkSpec

/** A metadata-only DELETE is planned and committed in two steps:
  * `canDeleteWhere` accepts it against one manifest, `deleteWhere`
  * commits it against the head it then reads. A commit that lands in
  * between must never turn it into a silent keep or drop of a file. */
class CatalogDeleteRaceSpec extends SparkSpec {

  test("a compaction between canDeleteWhere and deleteWhere fails the DELETE loudly and commits nothing") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.delrace")
    spark.sql("CREATE TABLE graft_cat.db.delrace (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft_cat.db.delrace SELECT id, id FROM range(0, 100, 1, 1)")
    spark.sql("INSERT INTO graft_cat.db.delrace SELECT id, id FROM range(100, 200, 1, 1)")
    val table = spark.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[GraftTableCatalog]
      .loadTable(Identifier.of(Array("db"), "delrace"))
      .asInstanceOf[SupportsDelete]
    val dir = new java.io.File(
      spark.conf.get("spark.sql.catalog.graft_cat.root"), "db/delrace")
    val filters: Array[Filter] = Array(LessThan("k", 100L))
    // [0,100) is all-match and [100,200) none-match: metadata-only
    table.canDeleteWhere(filters) shouldBe true
    // the race: compaction merges both into one boundary file
    spark.sql("CALL graft_cat.sys.compact('db', 'delrace', 1073741824)")
    val compacted = GraftTableCatalog.readLatest(dir)
    GraftTableCatalog.readManifest(dir, compacted).files.length shouldBe 1
    val err = intercept[IllegalStateException](table.deleteWhere(filters))
    err.getMessage should include("re-run")
    GraftTableCatalog.readLatest(dir) shouldBe compacted
    spark.sql("SELECT count(*) FROM graft_cat.db.delrace").collect()
      .head.getLong(0) shouldBe 200L
  }
}
