package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.pipeline.Etl
import graft.schemas.Schemas
import graft.sinks.ParquetSink

/** Places each Spark job under the span that submitted it. */
object Attribution {
  private val toleranceNs = 2000000L // job timestamps are whole milliseconds

  def attach(tr: Tracer, op: Span, jobs: Seq[JobStats]): Unit = {
    val candidates = tr.subtree(op).filter(_.name != "job")
    jobs.foreach { j =>
      val t = tr.fromWallMs(j.submitMs)
      def fits(s: Span) = t >= s.start - toleranceNs && t <= s.end + toleranceNs
      // the job group names the submitting span, unless the job came from a
      // pool thread that inherited a stale group; then the innermost open
      // span at submission time is the submitter
      val byGroup = j.group.toIntOption.flatMap(id => candidates.find(c => c.id == id && fits(c)))
      val parent = byGroup.orElse(candidates.filter(fits).sortBy(s => s.end - s.start).headOption)
        .getOrElse(op)
      val span = tr.add(parent, "job", t, tr.fromWallMs(j.endMs) max t)
      span.attrs ++= Seq("job_id" -> j.id, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_run_s" -> j.runMs / 1e3, "task_cpu_s" -> j.cpuNs / 1e9,
        "shuffle_read_mb" -> j.shuffleRead / 1048576.0,
        "shuffle_write_mb" -> j.shuffleWrite / 1048576.0,
        "spill_mb" -> j.spill / 1048576.0, "task_retries" -> j.retries)
    }
  }

  def jobs(tr: Tracer, s: Span): Seq[Span] = tr.subtree(s).filter(_.name == "job")
}

/** Per-layer metrics of a traced run, plus the extra traced passes: the
  * table loads and, on `etl_star`, the stage/insert decomposition. */
object Layers {
  private def median(xs: Seq[Double]): Double = Stats.quantile(xs.toIndexedSeq, 0.5)

  def compute(tr: Tracer, spark: SparkSession, wl: Workload, work: String,
      samples: Seq[Main.Sample], cores: Int, settle: Span => Unit,
      base: Json.Obj): (Json.Obj, Json.Obj) = {
    val passes = samples.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.span))
    def perPass(f: Span => Double): Double = median(passes.map(_.map(f).sum))
    def phase(op: Span, name: String) = tr.children(op).filter(_.name == name)
    def jobsOf(op: Span, name: String) = phase(op, name).flatMap(Attribution.jobs(tr, _))
    def attr(js: Seq[Span], k: String) = js.map(_.attrs(k).asInstanceOf[Number].doubleValue).sum
    def secs(spans: Seq[Span]) = spans.map(_.seconds).sum

    val buildS = perPass(op => secs(phase(op, "build")))
    val execS = perPass(op => secs(phase(op, "exec")))
    val execRunS = perPass(op => attr(jobsOf(op, "exec"), "task_run_s"))
    val execStages = perPass(op => attr(jobsOf(op, "exec"), "stages"))
    val execTasks = perPass(op => attr(jobsOf(op, "exec"), "tasks"))

    // Tables: each table the workload reads, loaded with its schema forced
    val loads = tr("tables") { t =>
      val ps = (1 to 3).map(_ => tr("tables.pass") { p =>
        wl.tables.foreach(name => tr("Tables.load")(_ => graft.Tables.load(spark, wl.dataDir, name).schema))
        p
      })
      settle(t)
      ps
    }

    // etl_star only: the build taken apart into its staging scans, staging
    // writes and the five inserts, each write through ParquetSink
    val decomposition = wl match {
      case etl: EtlStar => tr("etl.decompose") { d =>
        val root = s"$work/decompose"
        val sink = new ParquetSink(root)
        val reps = (1 to 2).map { _ =>
          val scan = tr("json.scan") { s =>
            tr("Etl.stageEvents")(_ => Etl.stageEvents(spark, etl.dataDir)).write.format("noop").mode("overwrite").save()
            tr("Etl.stageSongs")(_ => Etl.stageSongs(spark, etl.dataDir)).write.format("noop").mode("overwrite").save()
            s
          }
          val stage = tr("etl.stage") { s =>
            val ev = tr("Etl.stageEvents")(_ => Etl.stageEvents(spark, etl.dataDir))
            tr("ParquetSink.write")(_ => sink.write(ev, "staging_events"))
            val sg = tr("Etl.stageSongs")(_ => Etl.stageSongs(spark, etl.dataDir))
            tr("ParquetSink.write")(_ => sink.write(sg, "staging_songs"))
            s
          }
          val ev = sink.read(spark, "staging_events")
          val sg = sink.read(spark, "staging_songs")
          val insert = tr("etl.insert") { s =>
            Seq[(String, () => org.apache.spark.sql.DataFrame)](
              "songplay" -> (() => Etl.songplay(ev, sg)), "users" -> (() => Etl.users(ev)),
              "songs" -> (() => Etl.songs(sg)), "artists" -> (() => Etl.artists(sg)),
              "time" -> (() => Etl.time(ev))).foreach { case (t, build) =>
              val df = tr(s"Etl.$t")(_ => build())
              tr("ParquetSink.write")(_ => sink.write(df, t, Schemas.sortKeys.get(t)))
            }
            s
          }
          val files = Option(new File(root).listFiles).toSeq.flatten
            .flatMap(t => Option(t.listFiles).toSeq.flatten).filter(_.getName.startsWith("part-"))
          (scan, stage, insert, files.size, files.map(_.length).sum)
        }
        settle(d)
        Some(reps)
      }
      case _ => None
    }

    val writes = (s: Span) => secs(tr.subtree(s).filter(_.name == "ParquetSink.write"))
    val etlOps = (op: Span) => phase(op, "etl.run").flatMap(Attribution.jobs(tr, _))
    val layer = Json.Obj(base.fields ++ Seq(
      "tables.load_s" -> median(loads.map(p => secs(tr.children(p)))),
      "tables.load_jobs" -> median(loads.map(p => Attribution.jobs(tr, p).size.toDouble)),
      "build.s" -> buildS,
      "build.jobs" -> perPass(op => jobsOf(op, "build").size.toDouble),
      "build.share" -> (if (buildS + execS > 0) buildS / (buildS + execS) else 0.0),
      "exec.s" -> execS,
      "exec.jobs" -> perPass(op => jobsOf(op, "exec").size.toDouble),
      "exec.stages" -> execStages,
      "exec.tasks" -> execTasks,
      "exec.tasks_per_stage" -> (if (execStages > 0) execTasks / execStages else 0.0),
      "exec.task_cpu_s" -> perPass(op => attr(jobsOf(op, "exec"), "task_cpu_s")),
      "exec.core_occupancy" -> (if (execS > 0) execRunS / (execS * cores) else 0.0),
      "exec.shuffle_read_mb" -> perPass(op => attr(jobsOf(op, "exec"), "shuffle_read_mb")),
      "exec.shuffle_write_mb" -> perPass(op => attr(jobsOf(op, "exec"), "shuffle_write_mb")),
      "exec.spill_mb" -> perPass(op => attr(jobsOf(op, "exec"), "spill_mb")),
      "exec.task_retries" -> perPass(op => attr(tr.subtree(op).filter(_.name == "job"), "task_retries")),
      "etl.jobs" -> perPass(op => etlOps(op).size.toDouble),
      "etl.tasks" -> perPass(op => attr(etlOps(op), "tasks")),
      "etl.stage_s" -> decomposition.fold(0.0)(r => median(r.map(_._2.seconds))),
      "etl.insert_s" -> decomposition.fold(0.0)(r => median(r.map(_._3.seconds))),
      "json.scan_s" -> decomposition.fold(0.0)(r => median(r.map(_._1.seconds))),
      "sink.write_s" -> decomposition.fold(0.0)(r => median(r.map(x => writes(x._2) + writes(x._3)))),
      "sink.files" -> decomposition.fold(0.0)(r => median(r.map(_._4.toDouble))),
      "sink.bytes_mb" -> decomposition.fold(0.0)(r => median(r.map(_._5 / 1048576.0))),
      "lake.files_written" -> perPass(op => op.attrs("lake_files").asInstanceOf[Number].doubleValue),
      "lake.bytes_written_mb" -> perPass(op => op.attrs("lake_bytes").asInstanceOf[Number].doubleValue / 1048576.0),
      "ops.jobs_not_repeating" -> samples.groupBy(_.op).count { case (_, ss) =>
        ss.map(s => Attribution.jobs(tr, s.span).size).distinct.size > 1 }.toDouble))

    val ops = samples.map(_.span)
    val coverage = ops.map(op => secs(tr.children(op)) / (op.seconds max 1e-9))
    val selfByName = tr.spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(tr.selfSeconds).sum }
    val trace = Json.obj(
      "op_phase_coverage_min" -> (if (coverage.isEmpty) 0.0 else coverage.min),
      "self_s_by_name" -> selfByName,
      "spans" -> tr.spans.map(s => Json.Obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6, "self_ms" -> tr.selfSeconds(s) * 1e3) ++ s.attrs)))
    (layer, trace)
  }
}
