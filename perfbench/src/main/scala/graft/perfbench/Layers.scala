package graft.perfbench

/** Per-layer metrics of a traced run, derived from its spans. Each op
  * (request or catalog key) splits into construct, plan and execute
  * spans; Spark jobs hang under the phase that started them. Values are
  * means per op unless the name says otherwise. */
object Layers {

  def metrics(spans: Vector[Span], jobs: Vector[JobWork], ops: Vector[Op],
              cores: Int, sessionS: Double, embedDocsPerS: Double): Seq[(String, Double, String)] = {
    val self = Trace.selfTimes(spans)
    val jobsBySpan = jobs.groupBy(_.span)
    def jobsUnder(ss: Seq[Span]) = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
    def stagesUnder(ss: Seq[Span]) = jobsUnder(ss).flatMap(_.stages)
    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))

    val served = ops.filter(_.kind != "refresh")
    val n = served.size.max(1).toDouble
    val opIds = served.map(_.id).toSet
    val phase = Seq("construct", "plan", "execute").map { p =>
      p -> spans.filter(s => opIds(s.op) && s.name == p)
    }.toMap
    def perOp(x: Double) = x / n

    val opens = named("open:")
    val reopens = named("reopen:")
    val refreshes = spans.filter(_.name == "refresh")
    val refreshPhases = spans.filter(s => refreshes.exists(_.id == s.parent))
    val exec = phase("execute")
    val execStages = stagesUnder(exec)
    val execWallS = exec.map(_.dur).sum / 1e3
    val opJobs = jobsUnder(phase.values.flatten.toSeq)
    val inputRows = opJobs.flatMap(_.stages).map(_.inputRows).sum.toDouble
    val resultRows = served.map(_.resultRows).sum.toDouble

    def m(name: String, unit: String, value: Double) = (name, value, unit)
    Seq(
      m("session.start_s", "s", sessionS),
      m("sources.open_ms", "ms", Stats.mean(opens.map(_.dur))),
      m("sources.reopen_ms", "ms", Stats.mean(reopens.map(_.dur))),
      m("sources.open_jobs", "count", jobsUnder(opens).size),
      m("functions.embed_docs_per_s", "1/s", embedDocsPerS),
      m("engine.refresh_ms", "ms", Stats.median(refreshes.map(_.dur))),
      m("engine.refresh_jobs", "count", jobsUnder(refreshPhases).size.toDouble / refreshes.size),
      m("op.jobs", "count", perOp(opJobs.size)),
      m("op.input_rows", "count", perOp(inputRows)),
      m("op.input_rows_per_result", "ratio", inputRows / resultRows.max(1.0)),
      m("construct.ms", "ms", perOp(phase("construct").map(_.dur).sum)),
      m("construct.jobs", "count", perOp(jobsUnder(phase("construct")).size)),
      m("construct.task_s", "s", perOp(stagesUnder(phase("construct")).map(_.runS).sum)),
      m("plan.ms", "ms", perOp(phase("plan").map(_.dur).sum)),
      m("execute.ms", "ms", perOp(exec.map(_.dur).sum)),
      m("execute.jobs", "count", perOp(jobsUnder(exec).size)),
      m("execute.stages", "count", perOp(execStages.size)),
      m("execute.tasks", "count", perOp(execStages.map(_.tasks).sum)),
      m("execute.task_cpu_s", "s", perOp(execStages.map(_.cpuS).sum)),
      m("execute.gc_s", "s", perOp(execStages.map(_.gcS).sum)),
      m("execute.shuffle_records", "count", perOp(execStages.map(_.shuffleRecords).sum)),
      m("execute.shuffle_mb", "MB", perOp(execStages.map(_.shuffleBytes).sum / 1e6)),
      m("execute.spill_mb", "MB", perOp(execStages.map(_.spillBytes).sum / 1e6)),
      m("execute.idle_ms", "ms", perOp(exec.map(s => self(s.id)).sum)),
      m("execute.core_busy_share", "ratio",
        if (execWallS == 0) 0.0 else execStages.map(_.runS).sum / (execWallS * cores)))
  }

  /** Mean Spark jobs and input rows per op of each kind (search, qa,
    * refresh, or a catalog key), for the summary. */
  def perKind(spans: Vector[Span], jobs: Vector[JobWork],
              ops: Vector[Op]): Seq[(String, Double, Double)] = {
    val opOf = spans.map(s => s.id -> s.op).toMap
    val byOp = jobs.groupBy(j => opOf.getOrElse(j.span, 0L))
    ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, os) =>
      val js = os.flatMap(o => byOp.getOrElse(o.id, Nil))
      (kind, js.size.toDouble / os.size, js.flatMap(_.stages).map(_.inputRows).sum.toDouble / os.size)
    }
  }
}
