package perfbench

import Tracer.{Job, Span, StageAgg}

/** Per-layer numbers derived from a traced phase: its spans, the jobs
  * and stages the listener attributed to them, and /proc deltas. */
object Layers {

  /** Every timed operation is one top-level span named "op". */
  def ops(tr: Tracer): Seq[Span] = tr.spans.filter(s => s.parent == 0 && s.name == "op").toSeq

  private def spanIndex(tr: Tracer): Map[Long, Span] = tr.spans.map(s => s.id -> s).toMap

  /** Jobs submitted while one of `spans` (or a descendant) was open. */
  def jobsUnder(tr: Tracer, spans: Seq[Span]): Seq[Job] = {
    val idx = spanIndex(tr)
    val ids = spans.map(_.id).toSet
    def covered(id: Long): Boolean = id != 0 && (ids(id) || idx.get(id).exists(s => covered(s.parent)))
    tr.listener.synchronized(tr.listener.jobs.toVector).filter(j => covered(j.span))
  }

  def stagesOf(tr: Tracer, jobs: Seq[Job]): Seq[StageAgg] = {
    val l = tr.listener
    l.synchronized(jobs.flatMap(_.stages).distinct.flatMap(l.stages.get))
  }

  /** Module (source file) each job ran for: its own call site, or for
    * a job AQE submitted from its own thread, the call site of another
    * job of the same SQL execution. */
  def modules(jobs: Seq[Job]): Map[Int, String] = {
    val own = jobs.map(j => j.id -> Tracer.siteFile(j.callSite)).toMap
    val byExecution = jobs.filter(j => own(j.id) != "other" && j.execution.nonEmpty)
      .map(j => j.execution -> own(j.id)).toMap
    jobs.map(j => j.id -> (if (own(j.id) != "other") own(j.id) else byExecution.getOrElse(j.execution, "other"))).toMap
  }

  def jobsOf(jobs: Seq[Job], file: String): Seq[Job] = {
    val m = modules(jobs)
    jobs.filter(j => m(j.id) == file)
  }

  /** Sum of job wall time (s) of jobs that ran for `file`.scala. */
  def siteSeconds(jobs: Seq[Job], file: String): Double =
    jobsOf(jobs, file).map(j => (j.endMs - j.startMs) / 1000.0).sum

  /** Wall time inside `s` with no Spark job running. */
  def driverGap(s: Span, jobs: Seq[Job]): Double = {
    val startMs = s.startNs / 1e6
    val endMs = s.endNs / 1e6
    // job times are wall-clock ms; spans are nanoTime: align via the
    // current offset between the two clocks
    val offset = System.currentTimeMillis() - System.nanoTime() / 1e6
    val iv = jobs.map(j => (math.max(j.startMs - offset, startMs), math.min(j.endMs - offset, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (endMs - startMs - covered) / 1000.0)
  }

  /** Self time: duration minus the union of direct children. */
  def selfSeconds(tr: Tracer, s: Span): Double = {
    val kids = tr.spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var a = -1L
    var b = -1L
    kids.foreach { case (x, y) =>
      if (a < 0 || x > b) { if (a >= 0) covered += b - a; a = x; b = y }
      else b = math.max(b, y)
    }
    if (a >= 0) covered += b - a
    (s.endNs - s.startNs - covered) / 1e9
  }

  def spansNamed(tr: Tracer, name: String): Seq[Span] = tr.spans.filter(_.name == name).toSeq

  def meanDur(spans: Seq[Span]): Double =
    if (spans.isEmpty) 0.0 else spans.map(_.durS).sum / spans.size

  /** spark.* and proc.* over the traced phase's operations. */
  def generic(tr: Tracer, ph: Phase, cores: Int): Map[String, Double] = {
    val os = ops(tr)
    val n = math.max(1, os.size).toDouble
    val jobs = jobsUnder(tr, os)
    val stages = stagesOf(tr, jobs)
    val runS = stages.map(_.runMs).sum / 1000.0
    val wall = os.map(_.durS).sum
    // skew of the stage that did the most executor work
    val skew = stages.filter(_.taskMs.size >= 2).sortBy(-_.runMs).headOption.map { st =>
      val t = st.taskMs.map(_.toDouble).toSeq
      t.max / math.max(1.0, Stats.median(t))
    }.getOrElse(1.0)
    Map(
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.tasks_per_op" -> stages.map(_.taskMs.size).sum / n,
      "spark.executor_run_s" -> runS / n,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0 / n,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> stages.map(_.spill).sum / n,
      "spark.core_utilization" -> runS / math.max(1e-9, wall * cores),
      "spark.task_skew" -> skew,
      "proc.write_bytes" -> (ph.ioEnd.writeBytes - ph.ioStart.writeBytes).toDouble,
      "proc.read_bytes" -> (ph.ioEnd.readBytes - ph.ioStart.readBytes).toDouble,
      "proc.wchar_bytes" -> (ph.ioEnd.wchar - ph.ioStart.wchar).toDouble,
      "proc.rchar_bytes" -> (ph.ioEnd.rchar - ph.ioStart.rchar).toDouble,
      "proc.peak_rss_mb" -> Proc.peakRssMb())
  }
}
