package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, last, lit, struct}
import org.apache.spark.sql.types.StructType

/** The AS-OF JOIN operator ([[graft.plans.AsofJoinExec]]) against the
  * union+window reference formulation below and hand-computed truths. The
  * DuckDB `ASOF LEFT JOIN` oracle gates q256/q257 end-to-end; these specs
  * pin the row-level contract (null handling, bounds, cross-key
  * isolation) on frames small enough to reason about exactly. */
class AsofSpec extends SparkSpec {
  import spark.implicits._

  /** The reference: q50's union+window formulation, generalized to any
    * pair of frames. Equal-time safety rides the __side rank: strict puts
    * LEFT first at an equal instant (a same-time right row is "not
    * earlier" and must stay invisible to the (unboundedPreceding, -1)
    * frame); inclusive puts RIGHT first so the same-instant row IS
    * visible. Right rows with a null key or time can never match and are
    * dropped up front, which also keeps null-key left rows from
    * "matching" null-key right rows inside the null partition. */
  private def composable(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      strict: Boolean): DataFrame = {
    val lPayT = StructType(left.schema.fields)
    val rPayT = StructType(right.schema.fields)
    def pay(df: DataFrame): Column = struct(df.columns.toIndexedSeq.map(col): _*)
    val lTag = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"),
      lit(if (strict) 0 else 1).as("__side"),
      pay(left).as("__lpay"), lit(null).cast(rPayT).as("__rpay"))
    val rTag = right
      .filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
      .select(
        col(rightKey).as("__k"), col(rightTime).as("__t"),
        lit(if (strict) 1 else 0).as("__side"),
        lit(null).cast(lPayT).as("__lpay"), pay(right).as("__rpay"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, -1)
    lTag.unionByName(rTag)
      .withColumn("__asof", last(col("__rpay"), ignoreNulls = true).over(w))
      .filter(col("__lpay").isNotNull)
      .select(col("__lpay.*") +: right.columns.toIndexedSeq.map(c =>
        col(s"__asof.$c").as(c)): _*)
  }

  /** A session on the test context without the context's
    * `spark.sql.extensions`: every public way to a session (`newSession`,
    * the builder) applies them, so this calls `classic.SparkSession`'s
    * primary constructor — private to Scala, public in bytecode — with the
    * shared state and an empty [[SparkSessionExtensions]]. */
  private def plainSession(): SparkSession = {
    val c = spark.asInstanceOf[ClassicSession]
    classOf[ClassicSession].getConstructors.find(_.getParameterCount == 6).get
      .newInstance(c.sparkContext, Some(c.sharedState), None,
        new SparkSessionExtensions, Map.empty[String, String],
        Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }

  private def trades = Seq(
    (1L, 100L, "t1"), (1L, 200L, "t2"), (2L, 150L, "t3"), (3L, 50L, "t4"))
    .toDF("tkey", "ttime", "tid")
  private def quotes = Seq(
    (1L, 90L, 1.0), (1L, 100L, 2.0), (1L, 150L, 3.0), (2L, 150L, 4.0),
    (9L, 1L, 9.9)).toDF("qkey", "qtime", "px")

  private def run(l: DataFrame, r: DataFrame, strict: Boolean,
      path: String): Map[String, (Option[Long], Option[Double])] = {
    val df =
      if (path == "composable")
        composable(l, r, "tkey", "ttime", "qkey", "qtime", strict)
      else operators.Asof.asofJoin(l, r, "tkey", "ttime", "qkey", "qtime", strict)
    df.collect().map { row =>
      row.getAs[String]("tid") -> (
        if (row.isNullAt(row.fieldIndex("qtime"))) None
        else Some(row.getAs[Long]("qtime")),
        if (row.isNullAt(row.fieldIndex("px"))) None
        else Some(row.getAs[Double]("px")))
    }.toMap
  }

  test("strict as-of: latest strictly-earlier quote per key; same-instant invisible; no cross-key leak; unmatched null-extends") {
    val got = run(trades, quotes, strict = true, "operator")
    got("t1") shouldBe (Some(90L), Some(1.0))  // 100 excluded: not earlier
    got("t2") shouldBe (Some(150L), Some(3.0)) // newest of 90/100/150
    // key 2's only quote is AT 150, not before — and key 1's held
    // candidate must not leak across the key change
    got("t3") shouldBe (None, None)
    got("t4") shouldBe (None, None)            // key 3 has no quotes at all
  }

  test("inclusive as-of: at-or-before admits the same-instant quote") {
    val got = run(trades, quotes, strict = false, "operator")
    got("t1") shouldBe (Some(100L), Some(2.0))
    got("t2") shouldBe (Some(150L), Some(3.0))
    got("t3") shouldBe (Some(150L), Some(4.0))
    got("t4") shouldBe (None, None)
  }

  test("native and composable paths agree row-for-row on both bounds") {
    for (strict <- Seq(true, false)) {
      run(trades, quotes, strict, "operator") shouldBe
        run(trades, quotes, strict, "composable")
    }
  }

  test("null keys and times: left nulls emit unmatched; right nulls never match anything — both paths") {
    val l = Seq((Some(1L), Some(100L), "a"), (None, Some(100L), "b"),
      (Some(1L), None, "c"), (Some(7L), Some(50L), "d"))
      .toDF("tkey", "ttime", "tid")
    val r = Seq((Some(1L), Some(90L), 1.0), (None, Some(10L), 8.0),
      (Some(1L), None, 9.0), (Some(7L), Some(50L), 7.0))
      .toDF("qkey", "qtime", "px")
    for (path <- Seq("operator", "composable")) {
      val got = run(l, r, strict = true, path)
      withClue(path) {
        got("a") shouldBe (Some(90L), Some(1.0))
        got("b") shouldBe (None, None) // null left key: no match, row kept
        got("c") shouldBe (None, None) // null left time: no match, row kept
        got("d") shouldBe (None, None) // strict: same-instant only candidate
      }
    }
  }

  test("empty right side: every left row survives null-extended") {
    val got = run(trades, quotes.filter(col("qkey") < 0), strict = true,
      "operator")
    got.values.toSet shouldBe Set((None, None))
    got.keySet shouldBe Set("t1", "t2", "t3", "t4")
  }

  test("q256 (native) and q50 (window formulation) return identical rows") {
    val d = "/root/testdata/sf0.001"
    val q50 = WindowQueries.q50AsofJoin(spark, d).collect().toSet
    val q256 = WindowQueries.q256AsofNative(spark, d).collect().toSet
    q256 shouldBe q50
  }

  test("a session without GraftExtensions plans the AsofJoin node and answers q256's rows; installing the strategy is idempotent") {
    val d = "/root/testdata/sf0.001"
    val plain = plainSession()
    def installed = plain.sessionState.planner.strategies
      .count(_.isInstanceOf[graft.plans.AsofJoinStrategy])
    installed shouldBe 0
    val df = WindowQueries.q256AsofNative(plain, d)
    df.queryExecution.executedPlan.toString should include ("AsofJoin")
    df.collect().toSet shouldBe WindowQueries.q256AsofNative(spark, d).collect().toSet
    WindowQueries.q256AsofNative(plain, d)
    installed shouldBe 1
  }

  test("q257 inclusive-on-hours: click_hour <= purchase_hour always, same-hour matches actually occur, and the strict twin genuinely differs") {
    val d = "/root/testdata/sf0.001"
    val rows = WindowQueries.q257AsofInclusive(spark, d).collect()
    rows should not be empty
    val matched = rows.filter(!_.isNullAt(4))
    matched should not be empty
    // the inclusive bound: never a future hour
    all(matched.map(r => !r.getTimestamp(4).after(r.getTimestamp(2)))) shouldBe true
    // the grain choice is load-bearing: same-hour matches exist, which is
    // exactly where inclusive and strict diverge
    matched.count(r => r.getTimestamp(4) == r.getTimestamp(2)) should be > 0
  }

  test("asofJoin refuses overlapping output names and mismatched key/time types") {
    an[IllegalArgumentException] should be thrownBy operators.Asof.asofJoin(
      trades, trades, "tkey", "ttime", "tkey", "ttime")
    val rStr = quotes.select(col("qkey").cast("string").as("qkey"),
      col("qtime"), col("px"))
    an[IllegalArgumentException] should be thrownBy operators.Asof.asofJoin(
      trades, rStr, "tkey", "ttime", "qkey", "qtime")
  }
}
