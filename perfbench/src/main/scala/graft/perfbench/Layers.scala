package graft.perfbench

/** Per-layer metrics derived from the traced passes' spans and
  * listeners. Every value is per traced pass unless its unit says
  * otherwise, so runs of different lengths compare.
  */
object Layers {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of [start, end] intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def fromTrace(passes: Seq[Pass], samples: Seq[Sample], ops: Seq[Op], tracer: Tracer,
                spark: SparkTrace, cores: Int): Seq[(String, (Double, String))] = {
    val traced = passes.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val passIds = traced.map(_.index.toString).toSet
    def inPass(op: String): Boolean = passIds.contains(op.takeWhile(_ != ':'))
    val jobs = spark.jobsOf(inPass)
    val stages = spark.stagesOf(jobs)
    val wall = traced.map(_.wall).sum
    val untracedWall = median(passes.filterNot(_.traced).map(_.wall))
    val tracedWall = median(traced.map(_.wall))
    val jobGap = traced.map { p =>
      val mine = jobs.filter(_.op.takeWhile(_ != ':') == p.index.toString)
      p.wall - union(mine.map(j => (j.start, math.max(j.start, j.end)))) / 1e3
    }
    val tasks = stages.map(_.durations.size).sum
    val busy = stages.map(_.busyMs).sum / 1e3
    val skews = stages.filter(_.durations.size >= 2).map { st =>
      val m = median(st.durations.map(_.toDouble).toSeq)
      if (m > 0) st.durations.max / m else 1.0
    }
    val mb = 1e6
    val tracedSamples = samples.filter(s => passIds.contains(s.pass.toString))
    val byOp = ops.map(o => o.name -> o.registry).toMap
    val regTime = Workloads.registries.map(_._1).map { r =>
      s"queries.$r.s" -> (tracedSamples.filter(s => byOp.get(s.op).contains(r)).map(_.secs).sum / n, "s")
    }
    Seq(
      "trace.overhead_s" -> (tracedWall - untracedWall, "s"),
      "spark.jobs" -> (jobs.size / n, "count"),
      "spark.tasks" -> (tasks / n, "count"),
      "spark.tasks_per_job" -> (if (jobs.isEmpty) 0.0 else tasks.toDouble / jobs.size, "count"),
      "spark.driver_gap_s" -> (median(jobGap), "s"),
      "spark.scheduler_wait_s" -> (stages.map(_.schedDelayMs).sum / 1e3 / n, "s"),
      "spark.slot_util" -> (if (wall > 0) busy / (wall * cores) else 0.0, "ratio"),
      "spark.task_busy_s" -> (busy / n, "s"),
      "spark.task_cpu_s" -> (stages.map(_.cpuNs).sum / 1e9 / n, "s"),
      "spark.gc_s" -> (stages.map(_.gcMs).sum / 1e3 / n, "s"),
      "spark.shuffle_write_mb" -> (stages.map(_.shuffleWrite).sum / mb / n, "MB"),
      "spark.shuffle_read_mb" -> (stages.map(_.shuffleRead).sum / mb / n, "MB"),
      "spark.spill_mb" -> (stages.map(_.spill).sum / mb / n, "MB"),
      "spark.stage_skew" -> (if (skews.isEmpty) 1.0 else median(skews), "ratio"),
      "spark.failed_tasks" -> (stages.map(_.failed).sum.toDouble, "count"),
      "queries.build_s" -> (tracer.totalSeconds("queries.build", inPass) / n, "s"),
      "queries.plan_s" -> (tracer.totalSeconds("queries.plan", inPass) / n, "s"),
      "queries.exec_s" -> (tracer.totalSeconds("queries.exec", inPass) / n, "s"),
    ) ++ regTime
  }
}
