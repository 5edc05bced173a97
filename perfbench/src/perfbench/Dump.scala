package perfbench

import java.nio.file.{Files, Paths}

/** Correctness mode: dump a catalog slice's query results with the
  * engine's `graft.Verify` (results + oracle SQL) for the DuckDB check, and
  * list the names the dump must contain. */
object Dump {
  def main(args: Array[String]): Unit = {
    val Array(workload, data, out) = args
    val names = Workloads.slices.getOrElse(workload,
      sys.error(s"$workload has no query slice; it checks its own outputs in every run")).map(_._2)
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "names.txt"), names.mkString("\n"))
    graft.Verify.main(Array(data, out) ++ names)
  }
}
