package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextOps}

/** Dedup operator semantics on controlled fixtures. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  test("exactGroups: whitespace/case-normalized copies collapse, min id is canonical") {
    val d = docs(
      (1L, "Hello  World", "en"),
      (2L, "hello world", "en"),     // same after normalization
      (3L, " hello   WORLD ", "en"), // same after normalization
      (4L, "different", "en"))
    val out = Dedup.exactGroups(d, col("doc_id"), col("text")).collect()
    out.length shouldBe 2
    val dup = out.find(_.getAs[Long]("n_copies") == 3L).get
    dup.getAs[Long]("canonical_id") shouldBe 1L
  }

  test("minhashLshPairs: near-identical docs found, dissimilar not, output exact jaccard") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"other$i").mkString(" ")
    val d = docs((1L, base, "en"), (2L, nearDup, "en"), (3L, other, "en"))
    val out = Dedup.minhashLshPairs(d, threshold = 0.8).collect()
    out.length shouldBe 1
    out.head.getAs[Long]("doc_a") shouldBe 1L
    out.head.getAs[Long]("doc_b") shouldBe 2L
    // 38 distinct 3-shingles each; only the last shingle differs: J = 37/39
    out.head.getAs[Double]("jaccard") shouldBe (37.0 / 39.0)
  }

  test("minhashLshPairs is deterministic across runs (seeded hashes)") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val d = docs((1L, base, "en"), (2L, base + " tail", "en"))
    val r1 = Dedup.minhashLshPairs(d, 0.5).collect().toSeq
    val r2 = Dedup.minhashLshPairs(d, 0.5).collect().toSeq
    r1 shouldBe r2
  }

  test("blockedNgramPairs: pairs in different langs are never compared") {
    val t = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = docs((1L, t, "en"), (2L, t, "fr"))
    Dedup.blockedNgramPairs(d, threshold = 0.1).count() shouldBe 0
  }

  test("blockedNgramPairs: adjacent length buckets are compared, distant not") {
    val w32 = (1 to 32).map(i => s"tok$i").mkString(" ")   // bucket 1
    val w60 = (1 to 60).map(i => s"tok$i").mkString(" ")   // bucket 1 (60/32=1)
    val w200 = (1 to 200).map(i => s"tok$i").mkString(" ") // bucket 6
    val d = docs((1L, w32, "en"), (2L, w60, "en"), (3L, w200, "en"))
    val pairs = Dedup.blockedNgramPairs(d, threshold = 0.0).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
  }

  test("native jaccard_sim equals the array_intersect formulation exactly") {
    import org.apache.spark.sql.functions.{array_intersect, array_sort, call_function, transform, xxhash64, size => asize}
    val d = docs(
      (1L, (1 to 40).map(i => s"t$i").mkString(" "), "en"),
      (2L, (5 to 45).map(i => s"t$i").mkString(" "), "en"),
      (3L, (1 to 40).map(i => s"u$i").mkString(" "), "en"))
    val sh = d.select(col("doc_id"),
      array_sort(transform(TextOps.wordShingles(TextOps.words(col("text")), 3),
        s => xxhash64(s))).as("sh"))
    val pairs = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
    val inter = asize(array_intersect(col("a.sh"), col("b.sh")))
    val rows = pairs.select(
        call_function("jaccard_sim", col("a.sh"), col("b.sh")).as("native"),
        (inter.cast("double") / (asize(col("a.sh")) + asize(col("b.sh")) - inter)).as("hof"))
      .collect()
    rows.length shouldBe 3
    rows.foreach(r => r.getDouble(0) shouldBe r.getDouble(1))
    rows.map(_.getDouble(0)).max should be > 0.5 // overlapping pair found
  }

  test("hashed_shingles preserves shingle-set identity vs the string HOF chain") {
    import org.apache.spark.sql.functions.{array_sort, call_function, transform, xxhash64, size => asize}
    val d = docs(
      (1L, (1 to 40).map(i => s"t$i").mkString(" "), "en"),
      (2L, "short", "en"),
      (3L, "a b a b a b", "en")) // repeated shingles → dedupe matters
    val native = d.select(call_function("hashed_shingles",
      TextOps.words(col("text")), lit(3)).as("sh"))
    val hof = d.select(array_sort(transform(
      TextOps.wordShingles(TextOps.words(col("text")), 3), s => xxhash64(s))).as("sh"))
    // different hash families → different values, but identical SET SIZES
    // (distinctness) and identical pairwise jaccards
    native.select(asize(col("sh"))).as[Int].collect().toSeq shouldBe
      hof.select(asize(col("sh"))).as[Int].collect().toSeq
    // sortedness + distinctness of the native output
    native.as[Seq[Long]].collect().foreach { arr =>
      arr shouldBe arr.sorted
      arr.distinct.length shouldBe arr.length
    }
  }

  test("simhashPairs: hamming<=3 pairs found via pigeonhole pieces, others dropped") {
    import spark.implicits.{newLongEncoder => _, _}
    // fingerprints differing in 2 bits (pair), 10 bits (no pair)
    val fp = Seq(
      (1L, 0x0F0F0F0F0FL), (2L, 0x0F0F0F0F0CL),  // hamming 2 (low bits)
      (3L, 0x7000000000L)).toDF("doc_id", "simhash")
    val out = Dedup.simhashPairs(fp, maxHamming = 3).collect()
    out.length shouldBe 1
    out.head.getAs[Long]("doc_a") shouldBe 1L
    out.head.getAs[Long]("doc_b") shouldBe 2L
    out.head.getAs[Int]("hamming") shouldBe 2
  }

  test("simhashPairs rejects thresholds the blocking cannot guarantee") {
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashPairs(docs().select(col("doc_id"), col("doc_id").as("simhash")), 4)
  }

  test("resolveClusters: chain components get the min label, singletons stay canonical") {
    // Chain 1-2-3-4-5 (diameter 4, forces several propagation rounds),
    // separate pair 10-11, singleton 20.
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((4L, 5L), (2L, 3L), (3L, 4L), (1L, 2L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.resolveClusters(ids, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    out.map(t => (t._1, t._2)) shouldBe Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    out.filter(_._4).map(_._1) shouldBe Seq(1L, 10L, 20L)
    out.find(_._1 == 3L).get._3 shouldBe 5L  // cluster size
    out.find(_._1 == 20L).get._3 shouldBe 1L
  }

  test("resolveClusters releases superseded checkpoint blocks (keeps only final labels)") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val ids = (1L to 6L).toDF("doc_id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b") // diameter 5
    Dedup.resolveClusters(ids, pairs).collect()
    // several rounds ran; only the final label checkpoint may remain pinned
    spark.sparkContext.getPersistentRDDs.size should be <= (before + 1)
  }

  test("resolveClusters throws instead of returning partial labels past maxRounds") {
    val ids = (1L to 6L).toDF("doc_id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    an[IllegalStateException] should be thrownBy
      Dedup.resolveClusters(ids, pairs, maxRounds = 1).collect()
  }

  test("segmentBoilerplate: cross-doc repeated segments drop, order-preserving digest") {
    import org.apache.spark.sql.functions.{split => ssplit}
    // "paragraphs" delimited by '|': HDR recurs in all three docs, FTR in
    // two, bodies are unique.
    val d = Seq(
      (1L, "HDR|body one|FTR"),
      (2L, "HDR|body two|FTR"),
      (3L, "HDR|body three")).toDF("doc_id", "text")
    val out = Dedup.segmentBoilerplate(d, ssplit(col("text"), "\\|"), minDocs = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_segments"),
        r.getAs[Long]("n_boiler"), r.getAs[String]("clean_md5"))).sortBy(_._1)
    out.map(t => (t._2, t._3)) shouldBe Seq((3L, 2L), (3L, 2L), (2L, 1L))
    // kept content differs (unique bodies) -> distinct cleaned digests
    out.map(_._4).distinct.length shouldBe 3
    // a doc of pure boilerplate digests to md5("")
    val all = Seq((1L, "HDR"), (2L, "HDR")).toDF("doc_id", "text")
    Dedup.segmentBoilerplate(all, ssplit(col("text"), "\\|"), minDocs = 2)
      .collect().map(_.getAs[String]("clean_md5")).distinct shouldBe
      Array("d41d8cd98f00b204e9800998ecf8427e")
  }

  test("wordShingles: distinct k-shingles; short docs yield a single shingle") {
    val out = Seq("a b c d", "a b")
      .toDF("text")
      .select(TextOps.wordShingles(TextOps.words(col("text")), 3).as("sh"))
      .as[Seq[String]].collect()
    out(0) shouldBe Seq("a b c", "b c d")
    out(1) shouldBe Seq("a b")
  }

  test("contaminationPairs: shared-trigram pairs surface with exact overlap counts") {
    val evalDoc = "the quick brown fox jumps over the lazy dog tonight"
    val leaked  = "prefix words then the quick brown fox jumps over the lazy dog tonight suffix"
    val clean   = "completely different content with no phrases in common at all here"
    val corpus = docs((10L, leaked, "en"), (11L, clean, "en"))
    val eval = docs((1L, evalDoc, "en"))
    val out = Dedup.contaminationPairs(corpus, eval, shingleK = 3, minOverlap = 3).collect()
    out.length shouldBe 1
    out.head.getAs[Long]("corpus_id") shouldBe 10L
    out.head.getAs[Long]("eval_id") shouldBe 1L
    // evalDoc has 8 distinct trigrams, all present in leaked
    out.head.getAs[Long]("shared_ngrams") shouldBe 8L
  }

  test("cosineNearDupPairs: same-direction vectors pair once, orthogonal never") {
    // v2 = 2*v1 (cosine 1, same sign bucket in EVERY band -> would duplicate
    // without the post-filter dedup); v3 orthogonal-ish to v1.
    val dim = 8
    val v1 = (0 until dim).map(j => (j + 1).toFloat)
    val v2 = v1.map(_ * 2f)
    val v3 = (0 until dim).map(j => if (j % 2 == 0) (j + 1).toFloat else -(j + 1).toFloat)
    val vecs = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
    val grids = (0 until 4).map(b => Similarity.mdGrid(s"t$b", 4, dim))
    val out = Dedup.cosineNearDupPairs(vecs, 0.9, grids).collect()
    out.length shouldBe 1                       // (1,2) exactly once despite 4 band hits
    out.head.getAs[Long]("vec_a") shouldBe 1L
    out.head.getAs[Long]("vec_b") shouldBe 2L
    out.head.getAs[Double]("cosine") shouldBe 1.0 +- 1e-12
  }

  test("prefixFilterPairs: lossless vs brute force on a seeded random corpus (mutated families, tiny docs, shared boilerplate)") {
    // adversarial shapes for the prefix rule: near-identical families (true
    // pairs), docs shorter than the shingle size, heavy shared boilerplate
    // (stresses the rarest-first ordering), and unrelated noise
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    def sentence(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val boiler = sentence(12)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    var id = 0L
    (0 until 10).foreach { _ =>           // families of mutated near-dups
      val base = sentence(8 + rnd.nextInt(30))
      val words = base.split(" ")
      rows += ((id, base, "en")); id += 1
      (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        val mutated = words.updated(rnd.nextInt(words.length),
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
        rows += ((id, mutated, "en")); id += 1
      }
    }
    (0 until 6).foreach { _ =>            // boilerplate-heavy docs
      rows += ((id, s"$boiler ${sentence(4 + rnd.nextInt(6))}", "en")); id += 1
    }
    (0 until 5).foreach { _ =>            // tiny docs (below shingle k)
      rows += ((id, sentence(1 + rnd.nextInt(2)), "en")); id += 1
    }
    (0 until 8).foreach { _ =>            // noise
      rows += ((id, sentence(5 + rnd.nextInt(25)), "en")); id += 1
    }
    val d = docs(rows.toSeq: _*)

    // brute force over the SAME shingle sets the operator uses
    val sets = Dedup.shingleSets(d, 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      uni = sets(a).size + sets(b).size - inter
      if inter.toDouble / uni >= 0.6
    } yield (a, b)).toSet

    val got = Dedup.prefixFilterPairs(d, 3, 5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    got shouldBe expected
    expected.size should be >= 10 // the fixture really exercises true pairs
  }
}
