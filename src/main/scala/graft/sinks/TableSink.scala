package graft.sinks

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Table sinks (SURVEY.md §2.1 S4/S6/S7).
  *
  * The reference materializes star tables with `INSERT INTO … SELECT`
  * (`sql_queries.py:132-190`) into tables declared with a `sortkey`
  * (`:68,81,90,100,110`); README.md:79 notes every table is presorted on its
  * sort key before insert. Here a sink owns that presort: callers hand over
  * the *unsorted* logical plan and the sink applies `sortWithinPartitions`
  * so the physical files carry clustered min/max stats (the parquet
  * equivalent of a Redshift sortkey — zone-map pruning on later scans).
  *
  * `sortWithinPartitions`, not `orderBy`: a global sort would add a range
  * shuffle of the entire table per write; per-partition clustering gets the
  * same scan-pruning effect at 100 TB without it.
  */
trait TableSink {
  /** S6: materialize `df` as `table`, presorted on `sortKey` when given. */
  def write(df: DataFrame, table: String, sortKey: Option[String] = None): Unit
  /** S4: idempotent drop. */
  def drop(table: String): Unit
}

object TableSink {
  /** P3: insert-by-name column reorder (`sql_queries.py:181-188` lists time's
    * columns as (day,hour,month,start_time,week,year) against table order
    * (start_time,hour,day,week,month,year)). Spark's `insertInto` is
    * positional, so name-matching is an explicit projection: select the
    * target schema's columns in target order, casting to target types. */
  def insertByName(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)

  /** O1: the sortkey presort both sinks apply before materializing —
    * `sortWithinPartitions`, never a global sort (see trait scaladoc).
    * Exposed so the spec can pin the PLAN (a Sort with global=false and no
    * added Exchange) independent of any endpoint's physical read-back
    * order. */
  def presorted(df: DataFrame, sortKey: Option[String]): DataFrame =
    sortKey.fold(df)(k => df.sortWithinPartitions(col(k)))
}

/** Parquet sink — the locally-verified materialization path. */
final class ParquetSink(root: String) extends TableSink {
  def path(table: String): String = s"$root/$table"

  override def write(df: DataFrame, table: String, sortKey: Option[String]): Unit =
    TableSink.presorted(df, sortKey).write.mode("overwrite").parquet(path(table))

  override def drop(table: String): Unit =
    graft.operators.Scale.deleteRecursively(Paths.get(path(table)))

  /** Read `table` back with its declared schema: no inference job, and
    * the plan is fixed before any file is opened. */
  def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path(table))

  /** Schema-inferring read: one Spark job per call to read the file
    * footers. The pipeline never uses it; perfbench's layer decomposition
    * (`perfbench/src/perfbench/Layers.scala`) still calls it. */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(path(table))
}

/** JDBC sink — the Redshift-shaped endpoint (S7, `etl.py:36-52`). Kept
  * behind the same trait so the pipeline can target a warehouse unchanged;
  * exercised locally against embedded Derby (JdbcSinkSpec) — no Redshift
  * cluster exists in the test environment (SURVEY.md §7.5), but the sink's
  * executable semantics (append + create-if-missing, idempotent drop,
  * presort) are identical against any JDBC endpoint. Presort is still
  * applied: Redshift benefits identically from pre-clustered input on the
  * sortkey. */
final class JdbcSink(url: String, connectionProperties: java.util.Properties)
    extends TableSink {
  override def write(df: DataFrame, table: String, sortKey: Option[String]): Unit =
    TableSink.presorted(df, sortKey).write.mode("append").jdbc(url, table, connectionProperties)

  /** S4: `DROP TABLE IF EXISTS` as a DDL round-trip. ANSI has no portable
    * IF EXISTS (Derby lacks the clause; Redshift has it), so idempotency is
    * drop + swallow of the two missing-table SQLStates — anything else
    * (permissions, connectivity) still propagates. */
  override def drop(table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, connectionProperties)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE $table")
      catch {
        case e: java.sql.SQLException
            if e.getSQLState == "42Y55" || e.getSQLState == "42P01" => ()
      } finally st.close()
    } finally conn.close()
  }
}
