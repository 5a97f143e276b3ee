package perfbench

/** Per-layer numbers computed from the spans and their counters. Every
  * figure is per traced pass unless its name says otherwise.
  */
object Layers {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Self time of each span: its duration minus what its child spans cover. */
  def selfNs(trace: Trace): Map[Int, Long] = {
    val children = trace.spans.groupBy(_.parent)
    trace.spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      s.id -> (s.dur - Trace.union(kids))
    }.toMap
  }

  /** The `spark` layer, plus self time per layer and the trace overhead. */
  def spark(ctx: Ctx, perSpan: Map[Int, Counters], passes: Seq[(Double, Boolean)],
      cpus: Int): Map[String, Double] = {
    val traced = passes.filter(_._2).map(_._1)
    val untraced = passes.filterNot(_._2).map(_._1)
    val n = traced.size.max(1).toDouble
    val all = new Counters
    perSpan.values.foreach(all.add)
    val busyS = Trace.union(all.jobIntervals.toSeq) / 1000.0
    val wallS = traced.sum
    val taskRunS = all.taskRunMs / 1000.0
    val selfs = selfNs(ctx.trace)
    val selfByLayer = ctx.trace.spans.groupBy(_.layer).map { case (l, ss) =>
      s"self.${l}_s" -> ss.map(s => selfs(s.id)).sum / 1e9 / n
    }
    Map(
      "spark.plan_s" -> all.planMs / 1000.0 / n,
      "spark.actions" -> all.actions / n,
      "spark.jobs" -> all.jobs / n,
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.job_busy_s" -> busyS / n,
      "spark.driver_gap_s" -> (wallS - busyS).max(0.0) / n,
      "spark.task_run_s" -> taskRunS / n,
      "spark.task_cpu_s" -> all.taskCpuNs / 1e9 / n,
      "spark.slot_idle_ratio" ->
        (if (busyS > 0) 1.0 - taskRunS / (busyS * cpus) else 0.0),
      "spark.shuffle_write_b" -> all.shuffleWriteB / n,
      "spark.shuffle_read_b" -> all.shuffleReadB / n,
      "spark.shuffle_fetch_wait_s" -> all.fetchWaitMs / 1000.0 / n,
      "spark.spill_b" -> all.spillB / n,
      "spark.gc_s" -> all.gcMs / 1000.0 / n,
      "spark.input_b" -> all.inputB / n,
      "spark.input_rows" -> all.inputRows / n,
      "spark.output_b" -> all.outputB / n,
      "spark.output_files" -> all.outputFiles / n,
      "trace.overhead_ratio" ->
        (if (untraced.nonEmpty && traced.nonEmpty) median(traced) / median(untraced) - 1.0
         else 0.0)
    ) ++ selfByLayer
  }

  /** Jobs and driver-side gap of each span: the gap is the part of the
    * span no Spark job of its own covers.
    */
  def jobsAndGap(span: Span, c: Option[Counters]): (Long, Double) = c match {
    case None => (0L, span.dur / 1e9)
    case Some(cs) =>
      val busyMs = Trace.union(cs.jobIntervals.toSeq)
      (cs.jobs, (span.dur / 1e9 - busyMs / 1000.0).max(0.0))
  }

  /** The spans as written out at the end of a traced run. */
  def spanRecords(trace: Trace, perSpan: Map[Int, Counters]): Seq[Map[String, Any]] = {
    val selfs = selfNs(trace)
    trace.spans.toSeq.map { s =>
      val c = perSpan.get(s.id)
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> selfs(s.id) / 1e9,
        "jobs" -> c.map(_.jobs).getOrElse(0L), "stages" -> c.map(_.stages).getOrElse(0L),
        "tasks" -> c.map(_.tasks).getOrElse(0L),
        "task_run_s" -> c.map(_.taskRunMs / 1000.0).getOrElse(0.0),
        "plan_s" -> c.map(_.planMs / 1000.0).getOrElse(0.0),
        "job_busy_s" -> c.map(x => Trace.union(x.jobIntervals.toSeq) / 1000.0).getOrElse(0.0),
        "shuffle_write_b" -> c.map(_.shuffleWriteB).getOrElse(0L),
        "input_b" -> c.map(_.inputB).getOrElse(0L),
        "output_b" -> c.map(_.outputB).getOrElse(0L),
        "output_files" -> c.map(_.outputFiles).getOrElse(0L))
    }
  }
}
