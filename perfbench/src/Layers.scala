package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Per-layer metrics of a traced window, computed from the operations'
  * span trees. Counts and times are means per operation unless the name
  * says otherwise; `exec.parallel_eff` and `exec.task_skew` are ratios.
  */
object Layers {
  private val MB = 1048576.0

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def dur(s: Span): Double = (s.end - s.start) / 1e9

  /** Mean over operations of `f`, 0 with no operations. */
  def perOp(views: Seq[Trace.OpView])(f: Trace.OpView => Double): Double = mean(views.map(f))

  def common(views: Seq[Trace.OpView], cores: Int): Map[String, Double] = {
    val apiRuns = views.flatMap(v => v.spansNamed(_.startsWith("api.Pipeline")).map(s => (v, s)))
    val parses = views.flatMap(_.spansNamed(_ == "api.parseHocon"))
    def stagesOf(v: Trace.OpView) = v.stageAccs
    def stageSum(v: Trace.OpView)(f: Trace.StageAcc => Double) = stagesOf(v).map(f).sum
    def scans(v: Trace.OpView) = Trace.scansOf(v.qes)
    def writes(v: Trace.OpView) = v.qes.flatMap(_.writes)
    def writeExecS(v: Trace.OpView): Double = v.qes.filter(_.writes.nonEmpty).flatMap { q =>
      v.execs.find(_._1 == q.exec).map(_._2).filter(_.end > 0).map(e => (e.end - e.start) / 1000.0)
    }.sum
    val runS = views.map(v => stageSum(v)(_.runMs / 1000.0)).sum
    val opWall = views.map(_.wallS).sum
    val skews = views.flatMap { v =>
      val ratios = stagesOf(v).filter(_.durs.size >= cores).map { a =>
        val d = a.synchronized(a.durs.map(_.toDouble).toSeq)
        d.max / math.max(1.0, median(d))
      }
      if (ratios.isEmpty) None else Some(ratios.max)
    }
    val formats = Seq("parquet", "json")
    Map(
      "api.parse_s" -> mean(parses.map(dur)),
      "api.driver_s" -> mean(apiRuns.map { case (v, s) => Trace.selfNs(v, s) / 1e9 }),
      "api.jobs" -> mean(apiRuns.map { case (v, s) => v.jobsUnder(Seq(s)).size.toDouble }),
      "catalyst.analysis_s" -> perOp(views)(_.qes.map(_.analysis).sum),
      "catalyst.optimization_s" -> perOp(views)(_.qes.map(_.optimization).sum),
      "catalyst.planning_s" -> perOp(views)(_.qes.map(_.planning).sum),
      "catalyst.exchanges" -> perOp(views)(_.qes.map(_.exchanges).sum.toDouble),
      "catalyst.bhj" -> perOp(views)(_.qes.map(_.bhj).sum.toDouble),
      "catalyst.smj" -> perOp(views)(_.qes.map(_.smj).sum.toDouble),
      "exec.jobs" -> perOp(views)(_.jobs.size.toDouble),
      "exec.stages" -> perOp(views)(_.stageAccs.size.toDouble),
      "exec.tasks" -> perOp(views)(v => stageSum(v)(_.tasks.toDouble)),
      "exec.run_s" -> perOp(views)(v => stageSum(v)(_.runMs / 1000.0)),
      "exec.cpu_s" -> perOp(views)(v => stageSum(v)(_.cpuNs / 1e9)),
      "exec.parallel_eff" -> (if (opWall > 0) runS / (opWall * cores) else 0.0),
      "exec.task_skew" -> median(skews),
      "exec.shuffle_read_mb" -> perOp(views)(v => stageSum(v)(_.shufReadB / MB)),
      "exec.shuffle_write_mb" -> perOp(views)(v => stageSum(v)(_.shufWriteB / MB)),
      "exec.spill_mb" -> perOp(views)(v => stageSum(v)(_.spillB / MB)),
      "exec.gc_s" -> perOp(views)(v => stageSum(v)(_.gcMs / 1000.0)),
      "sources.rows_read" -> perOp(views)(scans(_).map(_.rows.toDouble).sum),
      "sources.mb_read" -> perOp(views)(scans(_).map(_.bytes / MB).sum),
      "sinks.write_s" -> perOp(views)(writeExecS),
      "sinks.rows_written" -> perOp(views)(writes(_).map(_.rows.toDouble).sum),
      "sinks.mb_written" -> perOp(views)(writes(_).map(_.bytes / MB).sum),
      "sinks.files_written" -> perOp(views)(writes(_).map(_.files.toDouble).sum),
      "trace.ops" -> views.size.toDouble,
      "trace.unattributed_share" -> (if (views.isEmpty) 0.0
        else views.map(v => Trace.unattributedNs(v) / 1e9 / math.max(1e-9, v.wallS)).max)
    ) ++ formats.flatMap { f =>
      Seq(s"sources.$f.rows_read" -> perOp(views)(scans(_).filter(_.format == f).map(_.rows.toDouble).sum),
        s"sources.$f.mb_read" -> perOp(views)(scans(_).filter(_.format == f).map(_.bytes / MB).sum))
    }
  }

  /** Per operation: its name, wall and the part of it no span covers. */
  def unattributed(views: Seq[Trace.OpView]): Seq[Map[String, Any]] = views.map { v =>
    Map("op" -> v.root.name.stripPrefix("op:"), "wall_s" -> v.wallS,
      "unattributed_s" -> Trace.unattributedNs(v) / 1e9)
  }

  /** Self time per span name, summed over the operations, per operation. */
  def selfTimes(views: Seq[Trace.OpView]): Map[String, Double] =
    views.flatMap(v => v.all.filter(_.id != v.root.id).map(s => s.name -> Trace.selfNs(v, s) / 1e9))
      .groupMapReduce(_._1)(_._2)(_ + _).map { case (k, t) => k -> t / math.max(1, views.size) }

  /** Write every operation's span tree with self times. */
  def writeSpans(views: Seq[Trace.OpView], path: String): Unit = {
    val out = views.map { v =>
      Map("op" -> v.root.id, "name" -> v.root.name, "wall_s" -> v.wallS,
        "unattributed_s" -> Trace.unattributedNs(v) / 1e9,
        "jobs" -> v.jobs.size,
        "spans" -> v.all.sortBy(_.start).map { s =>
          Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
            "start_s" -> (s.start - v.root.start) / 1e9, "dur_s" -> dur(s),
            "self_s" -> Trace.selfNs(v, s) / 1e9,
            "jobs" -> v.jobs.count(_.span == s.id))
        })
    }
    Files.write(Paths.get(path),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
  }
}
