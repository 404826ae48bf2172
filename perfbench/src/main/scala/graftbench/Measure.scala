package graftbench

/** Measurement windows and the metrics derived from them. */
object Measure {
  /** `stealPct`: share of the machine's CPU time the hypervisor took
    * during the window (NaN where /proc/stat is unreadable). */
  final case class Window(outcomes: Seq[Outcome], wallS: Double, gcMs: Long, clients: Int,
      stealPct: Double)

  /** One closed-loop window of `seconds` (whole units; see Exec.closedLoop). */
  def window(seconds: Int, clients: Int)(body: Long => Seq[Outcome]): Window = {
    val gc0 = Stats.gcMs
    val cpu0 = Stats.cpuJiffies()
    val t0 = System.nanoTime()
    val outs = body(t0 + seconds * 1000000000L)
    val steal = for ((a0, s0) <- cpu0; (a1, s1) <- Stats.cpuJiffies())
      yield 100.0 * (s1 - s0) / math.max(1L, a1 - a0)
    Window(outs, (System.nanoTime() - t0) / 1e9, Stats.gcMs - gc0, clients, steal.getOrElse(Double.NaN))
  }

  def qps(w: Window): Double = w.outcomes.count(_.read) / math.max(1e-9, w.wallS)

  /** Read rate of one class of statements in a closed loop: clients over
    * their mean latency. */
  def loopQps(w: Window, outs: Seq[Outcome]): Double =
    w.clients / math.max(1e-9, Stats.mean(outs.filter(_.read).map(_.ms / 1000.0)))

  /** End-to-end metrics common to every workload. */
  def endToEnd(w: Window, setupS: Double, heapMb: Double): Seq[Metric] = {
    val reads = w.outcomes.filter(_.read).map(_.ms)
    Seq(Metric("setup_s", setupS, "s"), Metric("qps", qps(w), "stmt/s"),
      Metric("lat_p50_ms", Stats.median(reads), "ms"),
      Metric("lat_p90_ms", Stats.quantile(reads, 0.9), "ms"),
      Metric("heap_live_mb", heapMb, "MB"))
  }

  def perKindP50(w: Window, kinds: Seq[String]): Seq[Metric] = {
    val outs = w.outcomes
    kinds.map(k => Metric(s"${k}_p50_ms", Stats.median(outs.filter(_.kind == k).map(_.ms)), "ms"))
  }

  def failRatio(w: Window): Metric = {
    val outs = w.outcomes
    Metric("fail_ratio", outs.count(_.error.nonEmpty).toDouble / math.max(1, outs.size), "ratio")
  }

  /** Per-layer metrics from the traced statements' spans: per traced read
    * statement unless the unit says otherwise. */
  def layers(tr: Tracer, w: Window): Seq[Metric] = {
    val traced = w.outcomes.filter(_.traced)
    val readIds = traced.filter(_.read).map(_.id).toSet
    val spans = tr.all.filter(s => readIds.contains(s.stmt))
    val n = math.max(1, readIds.size).toDouble
    val byId = spans.map(s => s.id -> s).toMap
    def phase(name: String) = spans.filter(_.name == name)
    def total(name: String) = phase(name).map(_.durMs).sum
    val parseInAnalyze = phase("search.parse").filter(s => byId.get(s.parent).exists(_.name == "catalog.analyze"))
    val jobs = spans.filter(_.name == "spark.job")
    def jobsUnder(name: String) = jobs.filter(j => byId.get(j.parent).exists(_.name == name))
    val execJobs = jobsUnder("exec.collect")
    def attr(js: Seq[Span], k: String) = js.map(_.attrs.getOrElse(k, 0.0)).sum
    val roots = spans.filter(_.name == "stmt")
    val phaseNames = Set("search.parse", "catalog.analyze", "plans.optimize", "plans.physical", "exec.collect")
    val coverage = roots.map { r =>
      spans.filter(s => s.parent == r.id && phaseNames(s.name)).map(_.durMs).sum / math.max(1e-6, r.durMs)
    }
    val untracedQps = loopQps(w, w.outcomes.filterNot(_.traced))
    val tracedQps = loopQps(w, traced)
    Seq(
      Metric("search.parse_ms", total("search.parse") / n, "ms"),
      Metric("catalog.analyze_ms", (total("catalog.analyze") - parseInAnalyze.map(_.durMs).sum) / n, "ms"),
      Metric("plans.optimize_ms", total("plans.optimize") / n, "ms"),
      Metric("plans.optimize_jobs", jobsUnder("plans.optimize").size / n, "count"),
      Metric("plans.physical_ms", total("plans.physical") / n, "ms"),
      Metric("exec.collect_ms", total("exec.collect") / n, "ms"),
      Metric("exec.jobs", execJobs.size / n, "count"),
      Metric("exec.tasks", attr(execJobs, "tasks") / n, "count"),
      Metric("exec.task_wait_ms", attr(execJobs, "task_wait_ms") / math.max(1.0, attr(execJobs, "tasks")), "ms"),
      Metric("exec.task_cpu_ms", attr(execJobs, "task_cpu_ms") / n, "ms"),
      Metric("exec.input_bytes", attr(execJobs, "input_bytes") / n, "bytes"),
      Metric("exec.shuffle_bytes", attr(execJobs, "shuffle_bytes") / n, "bytes"),
      Metric("jvm.gc_ms", w.gcMs.toDouble / math.max(1, w.outcomes.count(_.read)), "ms"),
      Metric("trace.phase_coverage", Stats.mean(coverage), "ratio"),
      Metric("trace.qps_ratio", tracedQps / math.max(1e-9, untracedQps), "ratio"),
      Metric("trace.qps_traced", tracedQps, "stmt/s"),
      Metric("trace.qps_untraced", untracedQps, "stmt/s"))
  }

  /** Per span name: count, total and self time. */
  def summary(tr: Tracer): Seq[String] = {
    val self = tr.selfTimes
    val rows = tr.all.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.size, ss.map(_.durMs).sum, ss.map(s => self.getOrElse(s.id, 0.0)).sum)
    }.sortBy(-_._4)
    f"${"span"}%-24s ${"count"}%7s ${"total_ms"}%12s ${"self_ms"}%12s" +:
      rows.map { case (n, c, t, s) => f"$n%-24s $c%7d $t%12.1f $s%12.1f" }
  }
}
