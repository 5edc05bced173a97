package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schemas.Schemas

/** Schema drift gate for the declared testdata schemas: `Tables.load`
  * reads with [[Schemas.tables]] instead of inferring, so a generator that
  * changes a column's type must fail here rather than be mis-read. Both
  * branches of the `events` footer resolution are covered: the testdata's
  * NTZ `ts`, and a plain-INT64 `ts` in a Spark output directory (the
  * layout the benchmark's star generator writes). */
class TablesSchemaSpec extends SparkSpec {

  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")

  /** `dt` with every field, element and value nullable — the form a file
    * read reports, whatever the declaration says. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** What Spark infers for `name` under `dir` (one footer job). */
  private def inferred(dir: String, name: String): DataType =
    nullable(spark.read.parquet(s"$dir/$name.parquet").schema)

  test("one declared schema per testdata table") {
    Schemas.tables.keySet shouldBe Tables.all.toSet
  }

  for (sf <- scales)
    test(s"declared schemas equal the inferred ones for every table at $sf") {
      val dir = s"/root/testdata/$sf"
      for (name <- Tables.all) withClue(s"$sf/$name: ") {
        nullable(Tables.load(spark, dir, name).schema) shouldBe inferred(dir, name)
      }
    }

  test("a declared read returns the inferred read's rows for every table at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    for (name <- Tables.all) withClue(s"$name: ") {
      val declared = Tables.load(spark, dir, name)
      val plain = spark.read.parquet(s"$dir/$name.parquet")
      declared.count() shouldBe plain.count()
      // arrays are not set-comparable in exceptAll; hash every row instead
      def digest(df: org.apache.spark.sql.DataFrame) =
        df.select(xxhash64(df.columns.toSeq.map(col): _*).as("h"))
          .agg(sum(col("h").cast(DecimalType(38, 0))), count(lit(1))).head()
      digest(declared) shouldBe digest(plain)
    }
  }

  test("events ts: the footer picks NTZ for the testdata and LongType for a plain-INT64 output directory") {
    Tables.footerType(spark, "/root/testdata/sf0.001/events.parquet", "ts") shouldBe TimestampNTZType
    val dir = java.nio.file.Files.createTempDirectory("graft-events-int64").toString
    try {
      // a Spark output directory (part files plus _SUCCESS and .crc files)
      // whose ts is epoch nanos as plain INT64, as the star generator writes
      spark.range(0, 40, 1, 2)
        .select(col("id").as("event_id"),
          (lit(1541030400000000000L) + col("id") * 1000001L).as("ts"),
          (col("id") % 7).as("user_id"), lit("NextSong").as("event_type"),
          (col("id") * 0.5).as("value"), lit("{}").as("props"))
        .write.parquet(s"$dir/events.parquet")
      Tables.footerType(spark, s"$dir/events.parquet", "ts") shouldBe LongType
      nullable(Tables.load(spark, dir, "events").schema) shouldBe inferred(dir, "events")
      // the typed view floors nanos to micros; the raw view keeps them
      val ev = Tables.events(spark, dir).orderBy("event_id").collect()
      ev.length shouldBe 40
      ev(3).getAs[java.sql.Timestamp]("ts").toInstant shouldBe
        java.time.Instant.ofEpochSecond(1541030400L, 3000003L / 1000 * 1000)
      Tables.eventsRawNanos(spark, dir).orderBy("event_id").head().getAs[Long]("ts") shouldBe
        1541030400000000000L
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
