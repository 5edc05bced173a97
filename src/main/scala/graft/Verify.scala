package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`tools/check_oracle.py`).
  * Also writes attempted.txt (every name tried, one per line) and
  * failures.txt (each name that threw, tab, its message), so a query that
  * throws is a listed failure rather than a silently missing dump. The exit
  * status does not depend on failures. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: query names to restrict the dump to (builder-side
    // fast iteration); the driver passes exactly two args → full dump.
    val only = args.drop(2).toSet
    // Oracle SQL embeds absolute fixture paths (read_json) — render them
    // for THIS run's scale, not the default sf0.01, so the gate is
    // scale-correct everywhere.
    System.setProperty("graft.oracle.sf", sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val failures = attempted.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(s"$name\t${String.valueOf(e.getMessage).replaceAll("\\s+", " ")}")
      }
    }
    def lines(xs: Seq[String]): String = xs.map(_ + "\n").mkString
    Files.writeString(Paths.get(s"$outDir/attempted.txt"), lines(attempted.map(_._1)))
    Files.writeString(Paths.get(s"$outDir/failures.txt"), lines(failures))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
