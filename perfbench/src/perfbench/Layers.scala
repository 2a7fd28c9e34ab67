package perfbench

/** Per-layer metrics every workload reports from its traced window. */
object Layers {
  /** Packages jobs are attributed to by call site. */
  val packages = Seq("hic", "sources", "io", "ops", "llm", "stream")

  /** Jobs that started inside the window. */
  def jobs(ctx: Main.Ctx, w: Window): Seq[JobRec] =
    ctx.jobs.map(_.snapshot).getOrElse(Nil)
      .filter(j => j.start >= w.startMs - 1 && j.start <= w.endMs + 1)

  def ops(ctx: Main.Ctx, w: Window): Seq[Span] =
    ctx.spans.all.filter(s => s.kind == "op" && s.start >= w.startMs &&
      s.end <= w.endMs + 1)

  /** `spark.*` and `<package>.jobs/job_s`, divided by `units` (the
    * workload's unit of work: one CLI call, or one suite pass).
    */
  def put(ctx: Main.Ctx, w: Window, units: Double): Unit = {
    val js = jobs(ctx, w)
    val ivs = Intervals.jobIntervals(js)
    val m = ctx.layer
    def per(name: String, v: Double, unit: String) = m.put(name, v / units, unit)
    per("spark.jobs", js.size, "count")
    per("spark.tasks", js.map(_.tasks).sum, "count")
    per("spark.stages", js.map(_.stages).sum, "count")
    per("spark.job_busy_s", Intervals.covered(w.startMs, w.endMs, ivs), "s")
    per("spark.driver_gap_s", ops(ctx, w).map(s =>
      s.dur - Intervals.covered(s.start, s.end, ivs)).sum, "s")
    per("spark.task_cpu_s", js.map(_.cpuNs).sum / 1e9, "s")
    per("spark.input_rows", js.map(_.inputRows).sum, "count")
    per("spark.shuffle_write_bytes", js.map(_.shuffleWrite).sum, "bytes")
    per("spark.shuffle_read_bytes", js.map(_.shuffleRead).sum, "bytes")
    per("spark.spill_bytes", js.map(_.spill).sum, "bytes")
    per("spark.gc_s", js.map(_.gcMs).sum / 1e3, "s")
    packages.foreach { p =>
      val pj = js.filter(_.layer == p)
      per(s"$p.jobs", pj.size, "count")
      per(s"$p.job_s", pj.map(_.dur).sum, "s")
    }
  }

  /** Job counts must repeat: an operation runs the same number of jobs
    * each time it runs, and every job of the window starts inside exactly
    * one operation. Notes the jobs per unit of work (`opsPerUnit`
    * operations) and returns the traced operations that break this: the
    * runs of an operation whose count varied, or every operation when
    * jobs started outside them.
    */
  def reconcile(ctx: Main.Ctx, w: Window, opsPerUnit: Int): Long = {
    val js = jobs(ctx, w)
    val counts = ops(ctx, w).sortBy(_.start)
      .map(s => s.name -> Intervals.jobsIn(s, js).size)
    val inside = counts.map(_._2).sum
    val varying = counts.groupBy(_._1)
      .collect { case (n, c) if c.map(_._2).distinct.size > 1 => n }.toSet
    val bad =
      if (inside != js.size) counts.size.toLong
      else counts.count(c => varying(c._1)).toLong
    ctx.note(s"spark.jobs per unit: " +
      counts.grouped(opsPerUnit).map(_.map(_._2).sum).mkString(" ") +
      s"; jobs in the window ${js.size}, inside operations $inside" +
      (if (bad == 0) " (reconciled)"
       else s" (NOT reconciled; varying: ${varying.toSeq.sorted.mkString(",")})"))
    bad
  }

  /** Sets every per-layer metric this workload does not exercise to 0. */
  def zeroRest(ctx: Main.Ctx): Unit =
    all.foreach { case (n, u) =>
      if (!ctx.layer.values.contains(n)) ctx.layer.put(n, 0.0, u)
    }

  /** Registry groups of the query suite, reported as `suite.<group>.*`. */
  val groups = Seq("ops", "ops.Warehouse", "hic", "llm", "stream")
  val groupFields = Seq("build_s" -> "s", "plan_s" -> "s", "exec_s" -> "s",
    "drain_s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s",
    "scratch_mb" -> "MB")
  val fithicFields = Seq("sources.hictsv_scan_rows_per_s" -> "1/s",
    "sources.hictsv_write_rows_per_s" -> "1/s",
    "functions.binom_sf_ns" -> "ns", "functions.binom_sf_evals" -> "count")

  /** Every per-layer metric name with its unit, in report order. */
  def all: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.stages" -> "count", "spark.job_busy_s" -> "s",
      "spark.driver_gap_s" -> "s", "spark.task_cpu_s" -> "s",
      "spark.input_rows" -> "count", "spark.shuffle_write_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.gc_s" -> "s", "spark.cached_mb_after_op" -> "MB") ++
      packages.flatMap(p => Seq(s"$p.jobs" -> "count", s"$p.job_s" -> "s")) ++
      groups.flatMap(g => groupFields.map { case (f, u) => s"suite.$g.$f" -> u }) ++
      fithicFields ++ Seq("trace.overhead_s" -> "s")
}
