package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One closed-loop benchmark run in one JVM: set up, warm to steady state,
  * run whole passes over the workload's ops until the time is up, and write
  * the result (and, traced, the spans) as JSON.
  *
  * {{{
  * Main --workload catalog_sql --seed 1 --seconds 10 --trace 0
  *      --data <scale dir> --expected <rows json> --result <out json>
  * }}}
  * The work root comes from the `graft.bench.work` system property. */
object Main {
  val cores = 4
  val warmSeconds = 10.0

  final case class Sample(op: String, pass: Int, seconds: Double, cpu: Double, span: Span, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val steal0 = Host.stealSeconds
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val work = sys.props.getOrElse("graft.bench.work", sys.error("graft.bench.work is not set"))
    val expectedRows = opt.get("expected").map(readCounts).getOrElse(Map.empty)

    val tr = new Tracer(traced)
    val root = tr.open("run")
    val spark = tr("session.start")(_ => GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.catalog.graft_cat.root", s"$work/graft_cat")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate())
    val sessionStartS = (System.nanoTime() - tMain) / 1e9
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(sc.addSparkListener)
    // jobs carry the id of the span that submitted them
    if (traced) tr.onEnter = {
      case Some(s) => sc.setJobGroup(s.id.toString, s.name)
      case None => sc.clearJobGroup()
    }

    /** Wait for Spark's events so far; traced, hang their jobs under `s`. */
    def settle(s: Span): Unit = {
      ListenerBusAccess.drain(sc)
      listener.foreach(l => Attribution.attach(tr, s, l.take()))
    }

    val wl = Workloads(workloadName, spark, opt("data"), work, seed, expectedRows)
    settle(tr("land") { s => wl.land(); s })

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val samples = mutable.ArrayBuffer.empty[Sample]
    val lakeRoots = Seq(new File(s"$work/graft_cat"), new File(s"$work/warehouse"))

    /** Reset, run and check one op; a timed op becomes a sample. */
    def runOp(op: Op, pass: Int, timed: Boolean): Unit = {
      settle(tr("reset") { s => op.reset(); s })
      val before = if (traced) Lake.snapshot(lakeRoots) else Map.empty[String, (Long, Long)]
      val span = tr.open("op")
      span.attrs ++= Seq("op" -> op.name, "pass" -> pass)
      val c0 = Jvm.threadCpuSeconds
      val t0 = System.nanoTime()
      val outcome = try Right(op.run(tr)) catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = Jvm.threadCpuSeconds - c0
      tr.close(span)
      // between-op hygiene, as the engine's bench does: no cached plan or
      // persisted RDD of this op may serve the next one
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      val problem = outcome match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        case Right(o) if o.detail.nonEmpty => Some(o.detail)
        case Right(o) => op.expected.filter(_ != o.rows).map(w => s"rows ${o.rows}, expected $w")
      }
      if (timed) {
        attempted += 1
        problem.foreach(p => failures += s"${op.name} (pass $pass): $p")
        samples += Sample(op.name, pass, dt, cpu, span, problem.isEmpty)
      } else problem.foreach(p => failures += s"${op.name} (warm-up): $p")
      settle(span)
      if (traced) {
        val (files, bytes) = Lake.diff(before, Lake.snapshot(lakeRoots))
        span.attrs ++= Seq("lake_files" -> files, "lake_bytes" -> bytes)
      }
    }

    // the seed fixes the op order of every timed pass; warm-up draws from
    // its own generator, since its pass count depends on the host's speed
    val rng = new Random(seed)
    val warmRng = new Random(~seed)
    // warm to steady state: whole passes, at least two, for at least
    // warmSeconds (a short-lived JVM is still compiling hot driver code
    // after two passes)
    val warmPassS = tr("warm") { _ =>
      val t0 = System.nanoTime()
      val times = mutable.ArrayBuffer.empty[Double]
      while (times.size < 2 || (System.nanoTime() - t0) / 1e9 < warmSeconds) {
        val p0 = System.nanoTime()
        tr("pass")(_ => warmRng.shuffle(wl.ops).foreach(runOp(_, -(times.size + 1), timed = false)))
        times += (System.nanoTime() - p0) / 1e9
      }
      times.toSeq
    }
    val warmFailures = failures.size
    val setupWallS = (System.nanoTime() - tMain) / 1e9
    val setupS = setupWallS * Host.unstolen(Host.stealSeconds - steal0, setupWallS)
    val (compiles0, _) = ListenerBusAccess.codegen
    val gc0 = Jvm.gcSeconds
    Jvm.resetPeaks()

    // timed phase: whole passes until the time is up. pass_s is the fastest
    // pass, the cost floor a quiet host reproduces. Every reported time is
    // scaled by the share of the machine's CPU time the hypervisor did not
    // steal while it ran (Host.unstolen); the unscaled ones are kept too.
    final case class Pass(n: Int, seconds: Double, cpu: Double, steal: Double)
    val tTimed = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Pass]
    def elapsed = (System.nanoTime() - tTimed) / 1e9
    while (passes.size < 2 || elapsed < seconds) {
      val n = passes.size + 1
      val n0 = samples.size
      val (s0, t0) = (Host.stealSeconds, System.nanoTime())
      tr("pass")(_ => rng.shuffle(wl.ops).foreach(runOp(_, n, timed = true)))
      val wall = (System.nanoTime() - t0) / 1e9
      val ss = samples.drop(n0)
      passes += Pass(n, ss.map(_.seconds).sum, ss.map(_.cpu).sum,
        1.0 - Host.unstolen(Host.stealSeconds - s0, wall))
    }
    val pass = passes.size
    val timedS = (System.nanoTime() - tTimed) / 1e9
    val gcS = Jvm.gcSeconds - gc0
    val heapPeak = Jvm.heapPeakMb
    val (compiles1, compileS) = ListenerBusAccess.codegen
    val retained = Jvm.retainedHeapMb

    val times = samples.map(_.seconds).toIndexedSeq
    val endToEnd = Json.obj(
      "setup_s" -> setupS,
      "pass_s" -> passes.map(p => p.seconds * (1 - p.steal)).min,
      "pass_cpu_s" -> Stats.quantile(passes.map(p => p.cpu * (1 - p.steal)).toIndexedSeq, 0.5),
      "setup_wall_s" -> setupWallS,
      "pass_wall_min_s" -> passes.map(_.seconds).min,
      // per-op figures; their run-to-run spread is too wide to gate on
      "op_p50_s" -> Stats.quantile(times, 0.5),
      "op_p90_s" -> Stats.quantile(times, 0.9),
      "op_cpu_p50_s" -> Stats.quantile(samples.map(_.cpu).toIndexedSeq, 0.5),
      "retained_heap_mb" -> retained)

    val perLayer = if (!traced) None else Some(Layers.compute(tr, spark, wl, work,
      samples.toSeq, cores, settle(_),
      Json.obj(
        "session.start_s" -> sessionStartS,
        "warm.passes" -> warmPassS.size,
        "codegen.compile_s" -> compileS,
        "codegen.timed_compiles" -> (compiles1 - compiles0),
        "jvm.jit_s" -> Jvm.jitSeconds,
        "jvm.gc_s" -> gcS,
        "jvm.heap_peak_mb" -> heapPeak,
        "jvm.retained_heap_mb" -> retained)))
    tr.close(root)

    val opJobs = samples.groupBy(_.op).map { case (op, ss) =>
      op -> ss.sortBy(_.pass).map(s => Attribution.jobs(tr, s.span).size) }
    val out = Json.obj(
      "workload" -> workloadName, "seed" -> seed, "trace" -> traced,
      "ops" -> wl.ops.map(_.name),
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> samples.count(!_.ok),
      "failures" -> failures.toSeq,
      "warmup_failures" -> warmFailures,
      "passes" -> pass, "samples" -> samples.size, "timed_s" -> timedS,
      "pass_steal" -> passes.map(p => Json.obj("pass" -> p.n, "s" -> p.seconds, "steal_share" -> p.steal)),
      "warm_pass_s" -> warmPassS, "session_start_s" -> sessionStartS,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer.map(_._1),
      "op_jobs_by_pass" -> (if (traced) opJobs else Map.empty),
      "ops_jobs_not_repeating" -> (if (traced) opJobs.filter(_._2.distinct.size > 1).keys.toSeq.sorted else Nil),
      "op_times" -> samples.map(s => Json.obj("op" -> s.op, "pass" -> s.pass, "s" -> s.seconds)),
      "trace" -> perLayer.map(_._2))
    Files.writeString(Paths.get(opt("result")), Json(out))
    spark.stop()
  }

  private def readCounts(path: String): Map[String, Long] = {
    val entry = "\"([^\"]+)\"\\s*:\\s*(\\d+)".r
    entry.findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}

object Stats {
  /** Linear interpolation between order statistics (numpy's default). */
  def quantile(xs: IndexedSeq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Files and bytes the lake layer wrote: the catalog and warehouse roots
  * listed around an op. */
object Lake {
  def snapshot(roots: Seq[File]): Map[String, (Long, Long)] = {
    val out = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) out += f.getPath -> (f.length, f.lastModified)
    roots.foreach(walk)
    out.result()
  }
  def diff(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Int, Long) = {
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    (written.size, written.values.map(_._1).sum)
  }
}
