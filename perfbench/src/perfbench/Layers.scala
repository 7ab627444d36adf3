package perfbench

/** The layers every workload shares — `operators` (build), `plans`
  * (planning), `exec` (the Spark jobs, stages and tasks it drives) —
  * computed from spans. A unit is one repetition of the workload's
  * measured work (a headline pass, a replay repetition, a stream call);
  * an op is a span whose children are named `build`, `plan` and
  * `action`. Each metric is the median over units of the unit's sum.
  * `exec.gc_s` is the JVM's collector time (the whole process: in local
  * mode tasks and driver share it). */
object Layers {

  final case class Rep(ops: Seq[Span], planS: Option[Double] = None)

  def generic(o: Opts, trace: Trace, units: Seq[Rep]): Map[String, Metric] = {
    val kids = trace.all.groupBy(_.parent)
    def phase(op: Span, name: String) = kids.getOrElse(op.id, Nil).filter(_.name == name)
    final case class Sums(build: Double, plan: Double, action: Double, wall: Double,
                          buildJobs: Double, gcS: Double, c: ExecCounters)
    val sums = units.map { u =>
      val c = new ExecCounters
      u.ops.foreach(op => c += trace.countersUnder(op))
      def total(name: String) = u.ops.flatMap(phase(_, name)).map(trace.seconds).sum
      val wall = u.ops.map(trace.seconds).sum
      val build = total("build")
      val plan = u.planS.getOrElse(total("plan"))
      Sums(build, plan,
        if (u.planS.isDefined) wall - build - plan else total("action"), wall,
        u.ops.flatMap(phase(_, "build")).map(trace.countersUnder(_).jobs).sum.toDouble,
        u.ops.map(op => op.gcMs1 - op.gcMs0).sum / 1e3, c)
    }
    def med(f: Sums => Double) = Stats.median(sums.map(f))
    val build = med(_.build); val plan = med(_.plan); val action = med(_.action)
    val wall = med(_.wall); val jobs = med(_.c.jobs.toDouble)
    val taskRun = med(_.c.taskRunMs / 1e3)
    Map(
      "operators.build_s" -> Metric(build, "s"),
      "operators.build_jobs" -> Metric(med(_.buildJobs), "count"),
      "plans.plan_s" -> Metric(plan, "s"),
      "exec.action_s" -> Metric(action, "s"),
      "exec.jobs" -> Metric(jobs, "count"),
      "exec.stages" -> Metric(med(_.c.stages.toDouble), "count"),
      "exec.tasks" -> Metric(med(_.c.tasks.toDouble), "count"),
      "exec.failed_tasks" -> Metric(sums.map(_.c.failedTasks).sum.toDouble, "count"),
      "exec.task_run_s" -> Metric(taskRun, "s"),
      "exec.task_cpu_s" -> Metric(med(_.c.taskCpuNs / 1e9), "s"),
      // a mean, not a median: most units see no collection at all
      "exec.gc_s" -> Metric(sums.map(_.gcS).sum / sums.size, "s"),
      "exec.shuffle_write_bytes" -> Metric(med(_.c.shuffleWriteBytes.toDouble), "bytes"),
      "exec.shuffle_read_bytes" -> Metric(med(_.c.shuffleReadBytes.toDouble), "bytes"),
      "exec.spill_bytes" -> Metric(med(_.c.spillBytes.toDouble), "bytes"),
      "exec.job_overhead_ms" -> Metric(
        (build + action - taskRun / o.cores) / math.max(1.0, jobs) * 1e3, "ms"),
      "exec.core_util" -> Metric(taskRun / (o.cores * wall), "ratio"),
      "trace.layer_coverage" -> Metric((build + plan + action) / wall, "ratio"))
  }
}
