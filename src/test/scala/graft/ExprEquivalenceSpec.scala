package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.operators.{Scale, Similarity, TextOps}

/** Randomized (seeded) equivalence: every native expression must be
  * BIT-IDENTICAL to its reference formulation (the composable built-ins
  * form, or a JVM twin) over arbitrary inputs and the edge inputs each
  * contract names, not just the fixtures the other specs pin. Double
  * outputs are compared as raw IEEE bits (doubleToRawLongBits via cast
  * trickery would lose NaN; we compare on the JVM side), so "almost equal"
  * can never pass. */
class ExprEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(20260812L)

  private def randFloats(n: Int): Seq[Float] =
    Seq.fill(n)((rnd.nextFloat() - 0.5f) * rnd.nextInt(200).toFloat)

  /** A projection straight over a local Seq is folded at optimization time
    * (ConvertToLocalRelation, interpreted eval); behind an exchange it runs
    * whole-stage generated code, the path real scans take. */
  private def generated(df: DataFrame): DataFrame = df.repartition(2)

  /** Random text over every char class, multi-byte and non-BMP included. */
  private def randText(maxLen: Int): String = {
    val cps = "aZ9 .,;:!?-éß中😀".codePoints().toArray
    Seq.fill(rnd.nextInt(maxLen + 1))(
      new String(Character.toChars(cps(rnd.nextInt(cps.length))))).mkString
  }

  test("cosine_sim / l2_sq / dot_fd are bit-identical to their folds on random vectors") {
    // No zero vectors: under ANSI mode the HOF fold raises DIVIDE_BY_ZERO
    // there while the native loop yields NaN — embeddings are non-zero by
    // contract (noted in CosineSimilarity's scaladoc), so the comparable
    // domain is non-zero vectors.
    val rows = (0 until 120).map { i =>
      val n = 1 + rnd.nextInt(64)
      val a = randFloats(n)
      val b = randFloats(n)
      (i.toLong, a, b, b.map(_.toDouble))
    }
    val df = rows.toDF("id", "a", "b", "bd")
    val cmp = df.select(
      call_function("cosine_sim", col("a"), col("b")).as("cos_n"),
      Similarity.cosine(col("a"), col("b")).as("cos_f"),
      call_function("l2_sq", col("a"), col("bd")).as("l2_n"),
      aggregate(zip_with(col("a"), col("bd"),
          (x, y) => (x.cast(DoubleType) - y) * (x.cast(DoubleType) - y)),
        lit(0.0), (acc, d) => acc + d).as("l2_f"),
      call_function("dot_fd", col("a"), col("bd")).as("dot_n"),
      aggregate(zip_with(col("a"), col("bd"),
          (x, y) => x.cast(DoubleType) * y),
        lit(0.0), (acc, v) => acc + v).as("dot_f"))
      .collect()
    cmp.foreach { r =>
      for ((n, f) <- Seq((0, 1), (2, 3), (4, 5))) {
        java.lang.Double.doubleToLongBits(r.getDouble(n)) shouldBe
          java.lang.Double.doubleToLongBits(r.getDouble(f))
      }
    }
  }

  test("jaccard_sim equals the array_intersect formulation on random hash sets") {
    val rows = (0 until 100).map { i =>
      def set() = Seq.fill(1 + rnd.nextInt(60))(rnd.nextLong().abs % 50).distinct.sorted
      (i.toLong, set(), set())
    }
    val df = rows.toDF("id", "a", "b")
    val sz = org.apache.spark.sql.functions.size _
    val inter = sz(array_intersect(col("a"), col("b")))
    val cmp = df.select(
      call_function("jaccard_sim", col("a"), col("b")).as("n"),
      (inter.cast(DoubleType) / (sz(col("a")) + sz(col("b")) - inter)).as("f"))
      .collect()
    cmp.foreach { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  test("hashed_shingles preserves set relations of the string shingles on random pairs") {
    // The native hash is deliberately different from xxhash64 (set identity
    // is the contract, not value identity): for random document pairs the
    // (|A|, |B|, |A∩B|) triple — everything Jaccard depends on — must agree
    // between the native hashed sets and the string shingle sets.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def doc() = Seq.fill(3 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length)))
    val rows = (0 until 80).map(i => (i.toLong, doc(), doc()))
    val df = rows.toDF("id", "wa", "wb")
    val sz = org.apache.spark.sql.functions.size _
    val cmp = df.select(
      sz(call_function("hashed_shingles", col("wa"), lit(2))).as("na"),
      sz(call_function("hashed_shingles", col("wb"), lit(2))).as("nb"),
      sz(array_intersect(
        call_function("hashed_shingles", col("wa"), lit(2)),
        call_function("hashed_shingles", col("wb"), lit(2)))).as("ni"),
      sz(TextOps.wordShingles(col("wa"), 2)).as("sa"),
      sz(TextOps.wordShingles(col("wb"), 2)).as("sb"),
      sz(array_intersect(
        TextOps.wordShingles(col("wa"), 2),
        TextOps.wordShingles(col("wb"), 2))).as("si"))
      .collect()
    cmp.foreach { r =>
      (r.getInt(0), r.getInt(1), r.getInt(2)) shouldBe (r.getInt(3), r.getInt(4), r.getInt(5))
    }
  }

  test("min_hash60 equals the md5 HOF chain on random token arrays") {
    val rows = (0 until 100).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(40))(
        rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString))
    }
    val df = rows.toDF("id", "w")
    val cmp = df.select(
      call_function("min_hash60", col("w")).as("n"),
      array_min(transform(col("w"), s => TextOps.hash60(s))).as("f"))
      .collect()
    cmp.foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  test("sim_hash60 equals the explode + 60 bit-vote formulation") {
    val vocab = Vector("alpha", "beta", "gamma", "δέλτα", "中文", "😀", "x")
    val docs = Seq(
      (1L, "alpha beta beta gamma delta"), // duplicate token votes twice
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "")) ++ // trim+split -> [""] single token
      (4 until 80).map(i => (i.toLong,
        Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val w = docs.toDF("id", "text").select(col("id"), TextOps.words(col("text")).as("w"))
    val votes = (0 until 60).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$b"))
    val formula = w.select(col("id"), explode(col("w")).as("t"))
      .select(col("id"), TextOps.hash60(col("t")).as("h"))
      .groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"), (0 until 60)
        .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = generated(w).select(col("id"), call_function("sim_hash60", col("w")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    native shouldBe formula
    native.size shouldBe docs.size
  }

  test("char_class_counts equals the six regexp_replace counts (non-ASCII included)") {
    val texts = Seq("", "Hello, World! 42", "中文 😀😀 café", "...;;;:::!!!???", "   ") ++
      Seq.fill(120)(randText(60))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val len = org.apache.spark.sql.functions.length _ // Matchers has its own `length`
    val n = len(col("text"))
    val classes = Seq("[a-z]", "[A-Z]", "[0-9]", "[ ]", "[.,;:!?]")
      .map(p => n - len(regexp_replace(col("text"), p, "")))
    val cmp = generated(df).select(
      call_function("char_class_counts", col("text")).as("native"),
      array((classes :+ classes.foldLeft(n)(_ - _)).map(_.cast("bigint")): _*).as("regex"))
      .collect()
    cmp.foreach(r => r.getSeq[Long](0) shouldBe r.getSeq[Long](1))
    cmp.exists(r => r.getSeq[Long](0)(5) > 0) shouldBe true // the `other` bucket is hit
  }

  /** The composable cut scan — the definition the native `cdc_cuts`
    * expression must reproduce bit-for-bit. */
  private def cdcCutsComposable: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{length => strLen}
    import org.apache.spark.sql.types.LongType
    import DedupQueries.{CDC_MASK, CDC_W}
    // boundary candidates W..len (guard: sequence() auto-steps DOWN when
    // len < W and would invent phantom positions — the q47/q86 edge)
    val cutsRaw = when(strLen(col("text")) < CDC_W, array().cast("array<long>"))
      .otherwise(filter(
        sequence(lit(CDC_W.toLong), strLen(col("text")).cast(LongType)),
        i => pmod(TextOps.hash60(
          substr(col("text"), (i - lit(CDC_W - 1)).cast("int"), lit(CDC_W))),
          lit(CDC_MASK.toLong)) === 0L))
    array_sort(array_distinct(concat(
      array(lit(0L)), cutsRaw, array(strLen(col("text")).cast(LongType)))))
  }

  test("cdc_cuts equals the composable hash60 window chain (non-BMP, short, empty)") {
    val texts = Seq(
      (1 to 300).map(i => f"w${(i * 13) % 89}%02d").mkString(" "),
      (1 to 40).map(i => s"smörgåsbord$i 😀 café${i * 7}").mkString(" "), // non-BMP
      "abc", // shorter than the window
      "") ++ // degenerate
      Seq.fill(60)(randText(400))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val cmp = generated(df).select(
      call_function("cdc_cuts", col("text"),
        lit(DedupQueries.CDC_W), lit(DedupQueries.CDC_MASK)).as("native"),
      cdcCutsComposable.as("composable"))
      .collect()
    cmp.foreach(r => r.getSeq[Long](0) shouldBe r.getSeq[Long](1))
    cmp.map(_.getSeq[Long](0).size).max should be > 3 // long texts really split
  }

  test("min_md5_shingle60 equals the hash60 chain over the string shingles") {
    val rows = Seq(Seq("only", "three", "words"), Seq("", "x"), Seq("δ", "😀", "中文")) ++
      (0 until 100).map(_ => Seq.fill(1 + rnd.nextInt(40))(
        rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString))
    val df = rows.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
    for (k <- Seq(1, 3, 8)) {
      val cmp = generated(df).select(
        call_function("min_md5_shingle60", col("w"), lit(k)).as("n"),
        array_min(transform(TextOps.wordShingles(col("w"), k), TextOps.hash60 _)).as("f"))
        .collect()
      cmp.foreach(r => withClue(s"k=$k: ")(r.getLong(0) shouldBe r.getLong(1)))
    }
  }

  test("hilbert2 equals hilbert2Jvm: exhaustive 32x32 grid and full-width points") {
    val grid = spark.range(1024)
      .select((col("id") / 32).cast("bigint").as("x"), (col("id") % 32).as("y"))
      .withColumn("h", Scale.hilbert2(col("x"), col("y"), 5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    grid.length shouldBe 1024
    grid.foreach { case (x, y, h) => h shouldBe Scale.hilbert2Jvm(x, y, 5) }
    val pts = Seq((65535L, 1L), (31337L, 4242L), (0L, 65535L), (65535L, 65535L))
    spark.range(pts.size)
      .select(element_at(typedLit(pts.map(_._1)), col("id").cast("int") + 1).as("x"),
        element_at(typedLit(pts.map(_._2)), col("id").cast("int") + 1).as("y"))
      .withColumn("h", Scale.hilbert2(col("x"), col("y"), 16))
      .collect().foreach { r =>
        r.getLong(2) shouldBe Scale.hilbert2Jvm(r.getLong(0), r.getLong(1), 16)
      }
  }

  test("cosine_sim agrees with the fallback on malformed input: ragged/null-element → NULL") {
    val rows = Seq(
      (1L, Seq(Some(1f), Some(2f)), Seq(Some(1f), Some(2f), Some(3f))), // ragged
      (2L, Seq(Some(1f), None),     Seq(Some(1f), Some(2f))),           // null element
      (3L, Seq(Some(1f), Some(0f)), Seq(Some(1f), Some(0f))))           // well-formed
      .toDF("id", "a", "b")
      .select(col("id"), col("a").cast("array<float>"), col("b").cast("array<float>"))
    val native = rows.select(col("id"), call_function("cosine_sim", col("a"), col("b")).as("sim"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq.sortBy(_._1)
    val fallback = rows.select(col("id"), Similarity.cosine(col("a"), col("b")).as("sim"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq.sortBy(_._1)
    native shouldBe fallback
    native.map(_._2.isDefined) shouldBe Seq(false, false, true)
  }

  test("substr_count equals regexp_count on metachar-free literals (randomized)") {
    val rnd = new scala.util.Random(41)
    val pats = Seq("ab", "ión", " de", "aa", "the", "zzz")
    val rows = (1 to 60).map { i =>
      (i.toLong, (0 until 80).map(_ => "abión dethz "(rnd.nextInt(12))).mkString)
    }.toDF("id", "t")
    pats.foreach { p =>
      val got = rows.select(call_function("substr_count", col("t"), lit(p)).as("c"))
        .collect().map(_.getInt(0)).toSeq
      val want = rows.select(regexp_count(col("t"), lit(p)).as("c"))
        .collect().map(_.getInt(0)).toSeq
      got shouldBe want
    }
    // overlap semantics match regex: non-overlapping stepping; empty
    // pattern matches regexp_count's empty-regex position count (true
    // drop-in, no silently-different edge)
    Seq(("aaaa", "aa", 2), ("aaa", "aa", 1), ("", "aa", 0),
        ("abc", "", 4), ("", "", 1)).toDF("t", "p", "want")
      .select(call_function("substr_count", col("t"), col("p")).as("c"), col("want"))
      .collect().foreach(r => r.getInt(0) shouldBe r.getInt(1))
    // supplementary (surrogate-pair) text: the empty-pattern parity claims
    // numChars+1 CODE POINTS, while Java's zero-width-match advance over
    // surrogates is a JDK implementation detail — pin the two against each
    // other DYNAMICALLY (on this JDK) so a runtime where they diverge fails
    // loudly instead of shipping a silently-different edge. Non-empty
    // supplementary patterns ride the same pin.
    Seq(("abc", ""), ("", ""), ("a🦜b", ""), ("🦜🦜", ""),
        ("a🦜b🦜", "🦜"), ("🦜", "a")).toDF("t", "p")
      .select(regexp_count(col("t"), col("p")).as("c"),
        call_function("substr_count", col("t"), col("p")).as("s"))
      .collect().foreach(r => r.getInt(1) shouldBe r.getInt(0))
  }

  test("sim_hash60 yields NULL (not NPE) for a null array element") {
    // The expression is SQL-registered and callable on arbitrary
    // array<string>; a null element must propagate NULL like the fallback.
    val r = spark.sql(
      "SELECT sim_hash60(array('a', CAST(NULL AS STRING), 'b')), sim_hash60(array('a','b'))")
      .collect()(0)
    r.isNullAt(0) shouldBe true
    r.isNullAt(1) shouldBe false
  }
}
