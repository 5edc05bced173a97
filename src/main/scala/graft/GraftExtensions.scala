package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.GraftSqlShim

import graft.functions.{CdcCutsExpr, CharClassCountsExpr, CosineSimilarity, DotFD, HashedShinglesExpr, HilbertIndexExpr, JaccardSimilarity, L2SquaredDistance, LshBandKeysExpr, MinHash60Expr, MinMd5Shingle60Expr, SimHash60Expr, SubstrCountExpr}

/** Engine extension point (the public `SparkSessionExtensions` API):
  * registers the native expressions so SQL callers can reach them, the
  * materialized-view rewrite rule
  * ([[graft.plans.MvRewriteRule]]) into the operator-optimization
  * fixpoint — inert (a registry-emptiness check) unless a query scope
  * registers an MV — and the AS-OF JOIN planner strategy
  * ([[graft.plans.AsofJoinStrategy]]), inert unless a plan contains
  * [[graft.plans.AsofJoinPlan]]. Installed by [[GraftSession]] via
  * `spark.sql.extensions`. Operators never depend on the registrations:
  * they build the same expressions through [[GraftExtensions.call]], so a
  * session built elsewhere plans them identically, and
  * [[graft.operators.Asof]] installs the AS-OF strategy into such a
  * session itself. Such a session loses SQL access to the functions, v2
  * view resolution and the MV rule (every aggregate reads its source —
  * correct, just unaccelerated). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(s => new graft.plans.MvRewriteRule(s))
    // the whole-operator extension path: AS-OF JOIN as a custom logical
    // node lowered by a planner strategy to a co-partitioned streaming
    // merge (graft.plans.AsofJoinExec)
    ext.injectPlannerStrategy(_ => new graft.plans.AsofJoinStrategy)
    // V2 view resolution (graft.plans.ResolveGraftViews): OSS Spark ships
    // the ViewCatalog API but resolves no v2 views — this rule expands a
    // graft_cat view reference to its stored SQL, the Iceberg pattern
    ext.injectResolutionRule(s => graft.plans.ResolveGraftViews(s))
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def desc(name: String, clazz: Class[_])(
      builder: Seq[Expression] => Expression): FunctionDescription =
    (new FunctionIdentifier(name), new ExpressionInfo(clazz.getName, null, name), builder)

  /** The one name → expression table: registered for SQL callers and
    * applied directly by [[call]]. Exposed so specs can drop the
    * registrations and show the operators do not need them. */
  val functions: Seq[FunctionDescription] = Seq(
    desc("cosine_sim", classOf[CosineSimilarity])(c => CosineSimilarity(c.head, c(1))),
    desc("l2_sq", classOf[L2SquaredDistance])(c => L2SquaredDistance(c.head, c(1))),
    desc("dot_fd", classOf[DotFD])(c => DotFD(c.head, c(1))),
    desc("jaccard_sim", classOf[JaccardSimilarity])(c => JaccardSimilarity(c.head, c(1))),
    desc("min_hash60", classOf[MinHash60Expr])(c => MinHash60Expr(c.head)),
    desc("sim_hash60", classOf[SimHash60Expr])(c => SimHash60Expr(c.head)),
    desc("min_md5_shingle60", classOf[MinMd5Shingle60Expr])(
      c => MinMd5Shingle60Expr(c.head, c(1))),
    desc("hashed_shingles", classOf[HashedShinglesExpr])(
      c => HashedShinglesExpr(c.head, c(1))),
    desc("lsh_band_keys", classOf[LshBandKeysExpr])(c => LshBandKeysExpr(
      c.head, c(1).eval().asInstanceOf[Int], c(2).eval().asInstanceOf[Int])),
    desc("substr_count", classOf[SubstrCountExpr])(c => SubstrCountExpr(c.head, c(1))),
    desc("char_class_counts", classOf[CharClassCountsExpr])(
      c => CharClassCountsExpr(c.head)),
    desc("cdc_cuts", classOf[CdcCutsExpr])(c => CdcCutsExpr(
      c.head, c(1).eval().asInstanceOf[Int], c(2).eval().asInstanceOf[Int])),
    desc("hilbert2", classOf[HilbertIndexExpr])(c => HilbertIndexExpr(
      c.head, c(1), c(2).eval().asInstanceOf[Int])),
    // Spark's own sketch expressions (the machinery behind the optimizer's
    // runtime bloom-filter join reduction), surfaced as callable functions
    // so a query can build the semi-join-reduction shape explicitly:
    // bloom_agg(longCol, estItems, numBits) -> binary; a bitset OR-merge is
    // order-independent, so the aggregate is deterministic at any
    // parallelism. bloom_might_contain(bloom, longCol) -> boolean, with
    // NO false negatives — an exact join downstream of the prefilter
    // returns exactly the unfiltered answer.
    desc("bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate])(
      c => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        c.head, c(1), c(2))),
    desc("bloom_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain])(
      c => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        c.head, c(1))))

  private lazy val builders: Map[String, Seq[Expression] => Expression] =
    functions.map { case (ident, _, builder) => ident.funcName -> builder }.toMap

  /** `name`'s expression over `args`, built directly from [[functions]]:
    * the DataFrame counterpart of `call_function(name, args*)` that needs
    * no registry, so it plans the same in any session. */
  def call(name: String, args: Column*): Column =
    GraftSqlShim.column(builders(name)(args.map(GraftSqlShim.expression)))
}
