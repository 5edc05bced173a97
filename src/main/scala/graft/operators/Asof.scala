package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.GraftSqlShim

import graft.plans.{AsofJoinPlan, AsofJoinStrategy}

/** AS-OF JOIN builder — point-in-time lookup as a first-class operator.
  *
  * `asofJoin(left, right, …)` keeps every left row and attaches the
  * single latest right row of the same key whose time is strictly
  * earlier (`strict = true`) or at-or-before (`strict = false`) the left
  * row's time; unmatched left rows null-extend. Ties on (rightKey,
  * rightTime) are broken arbitrarily — pre-aggregate the right side to
  * unique (key, time) for a deterministic answer (the discipline the
  * gated queries and their DuckDB `ASOF LEFT JOIN` oracles follow).
  *
  * One plan in every session: [[graft.plans.AsofJoinPlan]], which
  * [[graft.plans.AsofJoinStrategy]] lowers to the co-partitioned
  * streaming merge [[graft.plans.AsofJoinExec]] — each side pays its own
  * (narrow) key exchange + sort, then one forward pass with a single
  * buffered right row. [[graft.GraftExtensions]] injects the strategy
  * into sessions built by [[graft.GraftSession]]; any other session gets
  * it installed on its first as-of join.
  *
  * Output columns: left's then right's (right nullable); names must be
  * disjoint — rename before joining, as with any join producing a flat
  * schema. */
object Asof {

  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      strict: Boolean = true): DataFrame = {
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty,
      s"asofJoin output is flat; rename overlapping columns first: $dup")
    def typ(df: DataFrame, c: String) = df.schema(c).dataType
    require(typ(left, leftKey) == typ(right, rightKey),
      s"key types differ: ${typ(left, leftKey)} vs ${typ(right, rightKey)}")
    require(typ(left, leftTime) == typ(right, rightTime),
      s"time types differ: ${typ(left, leftTime)} vs ${typ(right, rightTime)}")
    installStrategy(left.sparkSession)
    // fresh-alias the right side: a self-as-of (both legs off the same
    // scan) would otherwise present the same exprIds on both children
    val r2 = right.select(right.columns.toIndexedSeq.map(c => right.col(c).as(c)): _*)
    val lp = left.queryExecution.analyzed
    val rp = r2.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n).getOrElse(
      sys.error(s"asofJoin: no column '$n' in ${p.output.map(_.name)}"))
    GraftSqlShim.ofRows(left.sparkSession,
      AsofJoinPlan(lp, rp,
        attr(lp, leftKey), attr(rp, rightKey),
        attr(lp, leftTime), attr(rp, rightTime), strict))
  }

  /** Install-if-missing (idempotent): a session whose planner already
    * carries the strategy — injected or installed earlier — is left as
    * it is. */
  private def installStrategy(s: SparkSession): Unit =
    s.experimental.synchronized {
      if (!s.sessionState.planner.strategies.exists(_.isInstanceOf[AsofJoinStrategy]))
        s.experimental.extraStrategies =
          new AsofJoinStrategy +: s.experimental.extraStrategies
    }
}
