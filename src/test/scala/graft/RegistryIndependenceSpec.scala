package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Scale

/** Operators build the engine's expressions directly
  * ([[GraftExtensions.call]]), never through the session's function
  * registry. This spec drops every `GraftExtensions` registration, then
  * checks each operator that uses one: its optimized plan still carries
  * the native expression, and its rows equal the run with the
  * registrations present. The registry is restored afterwards. */
class RegistryIndependenceSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def withoutNativeFunctions[T](body: => T): T = {
    val reg = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (ident, _, _) => reg.dropFunction(ident) }
    try body
    finally GraftExtensions.functions.foreach { case (ident, info, builder) =>
      reg.registerFunction(ident, info, builder)
    }
  }

  /** The optimized plan's expressions, scalar subqueries included. */
  private def planExpressions(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p => p.expressions }.flatten

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def registryFree(name: String, nodes: Class[_ <: Expression]*)(
      build: => DataFrame): Unit =
    test(s"$name plans ${nodes.map(_.getSimpleName).mkString(", ")} " +
        "without the function registrations, same rows") {
      val withRegistry = rows(build)
      val without = withoutNativeFunctions {
        GraftExtensions.functions.foreach { case (ident, _, _) =>
          spark.catalog.functionExists(ident.funcName) shouldBe false
        }
        val df = build
        val exprs = planExpressions(df)
        nodes.foreach { c =>
          withClue(s"${c.getSimpleName} in the optimized plan: ") {
            exprs.exists(_.exists(c.isInstance)) shouldBe true
          }
        }
        rows(df)
      }
      without shouldBe withRegistry
      withRegistry should not be empty
    }

  registryFree("q18 fingerprint", classOf[MinMd5Shingle60Expr], classOf[HashedShinglesExpr]) {
    TextQueries.q18Fingerprint(spark, sf)
  }

  registryFree("q19 simhash", classOf[SimHash60Expr]) {
    TextQueries.q19Simhash(spark, sf)
  }

  registryFree("q21 minhash LSH", classOf[HashedShinglesExpr], classOf[LshBandKeysExpr],
      classOf[JaccardSimilarity]) {
    DedupQueries.q21DedupMinhashLsh(spark, sf)
  }

  registryFree("q24 sign-bucket LSH", classOf[DotFD], classOf[CosineSimilarity]) {
    SimilarityQueries.q24AnnLsh(spark, sf)
  }

  registryFree("q33 IVF", classOf[L2SquaredDistance], classOf[CosineSimilarity]) {
    SimilarityQueries.q33AnnIvf(spark, sf)
  }

  registryFree("q35 cosineNearDupPairs", classOf[DotFD], classOf[CosineSimilarity]) {
    DedupQueries.q35DedupEmbedding(spark, sf)
  }

  registryFree("q41 ngramScores", classOf[SubstrCountExpr]) {
    TextQueries.q41LangIdNgram(spark, sf)
  }

  registryFree("q43 repetition", classOf[HashedShinglesExpr]) {
    TextQueries.q43RepetitionScore(spark, sf)
  }

  registryFree("q75 char entropy", classOf[CharClassCountsExpr]) {
    TextQueries.q75CharEntropy(spark, sf)
  }

  registryFree("q76 PQ codes", classOf[L2SquaredDistance]) {
    SimilarityQueries.q76PqCodes(spark, sf)
  }

  registryFree("q81 k-means", classOf[L2SquaredDistance]) {
    ClusterQueries.q81Kmeans(spark, sf)
  }

  registryFree("q82 bloom prefilter", classOf[BloomFilterMightContain]) {
    DedupQueries.q82BloomDecontam(spark, sf)
  }

  registryFree("q110 cdcChunks", classOf[CdcCutsExpr]) {
    DedupQueries.q110CdcChunks(spark, sf)
  }

  registryFree("Scale.hilbert2", classOf[HilbertIndexExpr]) {
    spark.range(1024)
      .select((col("id") / 32).cast("bigint").as("x"), (col("id") % 32).as("y"))
      .withColumn("h", Scale.hilbert2(col("x"), col("y"), 5))
  }

  test("q82's bloom prefilter drops no pair: the answer is q38's unfiltered join") {
    rows(DedupQueries.q82BloomDecontam(spark, sf)) shouldBe
      rows(DedupQueries.q38Decontamination(spark, sf))
  }
}
