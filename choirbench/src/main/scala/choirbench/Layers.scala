package choirbench

import graft.CuratePipeline.StageCounts

/** Per-layer metrics of a traced run, read off the spans and their
  * attributed listener counts. Every traced run reports the full list;
  * a layer the workload does not exercise reads 0. Times and counts are
  * medians over the traced operations of each operation's total. */
object Layers {
  val Tables: Seq[String] = Replay.Curated ++ Replay.Marts3

  val All: Seq[(String, String)] =
    Seq("sessions.start_s" -> "s", "setup.first_s" -> "s",
      "widesheet.infer_s" -> "s", "widesheet.scans" -> "count", "widesheet.scan_tasks" -> "count") ++
    Tables.flatMap(t => Seq(s"etl.$t.s" -> "s", s"etl.$t.plan_s" -> "s", s"etl.$t.jobs" -> "count",
      s"etl.$t.tasks" -> "count", s"etl.$t.task_s" -> "s", s"etl.$t.shuffle_bytes" -> "B")) ++
    Seq("etl.marts.spill_bytes" -> "B",
      "io.overwrite_s" -> "s", "io.readback_s" -> "s", "io.append_s" -> "s",
      "io.bytes_written" -> "B", "io.files_written" -> "count", "io.scan_bytes" -> "B",
      "serve.lookup.files_scanned" -> "count", "serve.lookup.rows_scanned" -> "count",
      "serve.lookup.selectivity" -> "ratio",
      "analytics.streaks_s" -> "s", "analytics.rate_s" -> "s", "analytics.jobs" -> "count",
      "analytics.task_s" -> "s", "format.message_s" -> "s",
      "curate.run_s" -> "s", "curate.jobs" -> "count", "curate.tasks" -> "count",
      "curate.task_s" -> "s", "curate.shuffle_bytes" -> "B", "curate.spill_bytes" -> "B",
      "curate.cc_rounds" -> "count", "curate.dedup_drop_frac" -> "ratio",
      "curate.decon_drop_frac" -> "ratio",
      "spark.busy_frac" -> "ratio", "spark.sched_delay_s" -> "s", "spark.gc_s" -> "s",
      "spark.jobs" -> "count",
      "trace.overhead_frac" -> "ratio", "trace.unattributed_s" -> "s")

  /** Spans of one traced run grouped by operation. */
  private final class Ops(t: Tracer, roots: Set[String]) {
    private val inc = t.inclusive
    private val byOp = t.spans.groupBy(_.op)
    val ids: Seq[Int] = byOp.keys.toSeq.sorted
    def spans(op: Int, name: String): Seq[Span] = byOp(op).filter(_.name == name).toSeq
    def secs(op: Int, name: String): Double = spans(op, name).map(_.seconds).sum
    def count(op: Int, name: String)(f: Counts => Long): Long =
      spans(op, name).map(s => f(inc.getOrElse(s.id, new Counts))).sum
    def root(op: Int): Seq[Span] = byOp(op).filter(s => roots(s.name)).toSeq
    def rootCount(op: Int)(f: Counts => Long): Long =
      root(op).map(s => f(inc.getOrElse(s.id, new Counts))).sum
    def unattributed(op: Int): Double = root(op).map(t.selfSeconds).sum
    def med(f: Int => Double): Double = Stats.median(ids.map(f))
  }

  /** Whole-operation Spark figures: busy share of the cores over the
    * operations' wall time, and per-operation waiting, GC and jobs. */
  private def sparkTotals(ctx: Ctx, o: Ops, wallPerOp: Int => Double): Unit = {
    val task = o.ids.map(i => o.rootCount(i)(_.taskNs) / 1e9).sum
    val wall = o.ids.map(wallPerOp).sum
    ctx.layer("spark.busy_frac", task / (wall * ctx.args.cores), "ratio")
    ctx.layer("spark.sched_delay_s", o.med(i => o.rootCount(i)(_.schedDelayNs) / 1e9), "s")
    ctx.layer("spark.gc_s", o.med(i => o.rootCount(i)(_.gcNs) / 1e9), "s")
    ctx.layer("spark.jobs", o.med(i => o.rootCount(i)(_.jobs).toDouble), "count")
  }

  def etl(ctx: Ctx, t: Tracer, times: Seq[Double], files: Seq[Double],
      untracedMedian: Double): Unit = {
    val o = new Ops(t, Set("etl.run"))
    ctx.layer("widesheet.infer_s", o.med(o.secs(_, "widesheet.infer")), "s")
    ctx.layer("widesheet.scans", o.med(i => o.rootCount(i)(_.sheetScans).toDouble), "count")
    ctx.layer("widesheet.scan_tasks", o.med(i => o.rootCount(i)(_.sheetScanTasks).toDouble), "count")
    for (tb <- Tables) {
      val n = s"etl.$tb"
      ctx.layer(s"$n.s", o.med(o.secs(_, n)), "s")
      ctx.layer(s"$n.plan_s", o.med(o.count(_, n)(_.planNs) / 1e9), "s")
      ctx.layer(s"$n.jobs", o.med(o.count(_, n)(_.jobs).toDouble), "count")
      ctx.layer(s"$n.tasks", o.med(o.count(_, n)(_.tasks).toDouble), "count")
      ctx.layer(s"$n.task_s", o.med(o.count(_, n)(_.taskNs) / 1e9), "s")
      ctx.layer(s"$n.shuffle_bytes", o.med(o.count(_, n)(_.shuffleBytes).toDouble), "B")
    }
    ctx.layer("etl.marts.spill_bytes",
      o.med(i => Replay.Marts3.map(m => o.count(i, s"etl.$m")(_.spillBytes)).sum.toDouble), "B")
    ctx.layer("io.overwrite_s", o.med(o.secs(_, "io.overwrite")), "s")
    ctx.layer("io.readback_s", o.med(o.secs(_, "io.readback")), "s")
    ctx.layer("io.append_s", o.med(o.secs(_, "io.append")), "s")
    ctx.layer("io.bytes_written", o.med(i => o.rootCount(i)(_.outputBytes).toDouble), "B")
    ctx.layer("io.files_written", Stats.median(files), "count")
    ctx.layer("io.scan_bytes", o.med(i => o.rootCount(i)(_.inputBytes).toDouble), "B")
    ctx.layer("analytics.streaks_s", o.med(o.secs(_, "analytics.streaks")), "s")
    ctx.layer("analytics.rate_s", o.med(o.secs(_, "analytics.rate")), "s")
    ctx.layer("analytics.jobs", o.med(i =>
      (o.count(i, "analytics.streaks")(_.jobs) + o.count(i, "analytics.rate")(_.jobs)).toDouble), "count")
    ctx.layer("analytics.task_s", o.med(i =>
      (o.count(i, "analytics.streaks")(_.taskNs) + o.count(i, "analytics.rate")(_.taskNs)) / 1e9), "s")
    ctx.layer("format.message_s", o.med(o.secs(_, "format.message")), "s")
    sparkTotals(ctx, o, o.secs(_, "etl.run"))
    overhead(ctx, Stats.median(times), untracedMedian)
    val unattributed = o.med(o.unattributed)
    ctx.layer("trace.unattributed_s", unattributed, "s")
    ctx.say(f"trace: ${times.size} traced runs; top-level spans leave " +
      f"$unattributed%.4f s of a ${Stats.median(times)}%.3f s run unattributed")
  }

  def serve(ctx: Ctx, t: Tracer, served: Seq[Served], wall: Double, untracedMedian: Double): Unit = {
    val o = new Ops(t, Set("serve.alert", "serve.lookup"))
    val alerts = o.ids.filter(i => o.root(i).exists(_.name == "serve.alert"))
    val lookups = o.ids.filter(i => o.root(i).exists(_.name == "serve.lookup"))
    def med(ops: Seq[Int])(f: Int => Double): Double = if (ops.isEmpty) 0.0 else Stats.median(ops.map(f))
    ctx.layer("analytics.streaks_s", med(alerts)(o.secs(_, "analytics.streaks")), "s")
    ctx.layer("analytics.rate_s", med(alerts)(o.secs(_, "analytics.rate")), "s")
    ctx.layer("analytics.jobs", med(alerts)(i =>
      (o.count(i, "analytics.streaks")(_.jobs) + o.count(i, "analytics.rate")(_.jobs)).toDouble), "count")
    ctx.layer("analytics.task_s", med(alerts)(i =>
      (o.count(i, "analytics.streaks")(_.taskNs) + o.count(i, "analytics.rate")(_.taskNs)) / 1e9), "s")
    ctx.layer("format.message_s", med(alerts)(o.secs(_, "format.message")), "s")
    ctx.layer("io.scan_bytes", med(lookups)(o.count(_, "io.scan")(_.inputBytes).toDouble), "B")
    val ls = served.filter(_.kind == "lookup")
    def lmed(f: Served => Double): Double = if (ls.isEmpty) 0.0 else Stats.median(ls.map(f))
    ctx.layer("serve.lookup.files_scanned", lmed(_.filesScanned.toDouble), "count")
    ctx.layer("serve.lookup.rows_scanned", lmed(_.rowsScanned.toDouble), "count")
    ctx.layer("serve.lookup.selectivity",
      if (ls.map(_.rowsScanned).sum == 0) 0.0
      else ls.map(_.rowsReturned).sum.toDouble / ls.map(_.rowsScanned).sum, "ratio")
    // busy share over the window: client threads overlap, so use the
    // window's wall time rather than the sum of query latencies
    val task = o.ids.map(i => o.rootCount(i)(_.taskNs) / 1e9).sum
    ctx.layer("spark.busy_frac", task / (wall * ctx.args.cores), "ratio")
    ctx.layer("spark.sched_delay_s", o.med(i => o.rootCount(i)(_.schedDelayNs) / 1e9), "s")
    ctx.layer("spark.gc_s", o.med(i => o.rootCount(i)(_.gcNs) / 1e9), "s")
    ctx.layer("spark.jobs", o.med(i => o.rootCount(i)(_.jobs).toDouble), "count")
    overhead(ctx, Stats.median(served.map(_.seconds)), untracedMedian)
    ctx.layer("trace.unattributed_s", o.med(o.unattributed), "s")
    ctx.say(f"trace: ${served.size} traced queries in $wall%.1f s")
  }

  def curate(ctx: Ctx, t: Tracer, times: Seq[Double], untracedMedian: Double,
      c: StageCounts): Unit = {
    val o = new Ops(t, Set("curate.run"))
    ctx.layer("curate.run_s", o.med(o.secs(_, "curate.run")), "s")
    ctx.layer("curate.jobs", o.med(o.count(_, "curate.run")(_.jobs).toDouble), "count")
    ctx.layer("curate.tasks", o.med(o.count(_, "curate.run")(_.tasks).toDouble), "count")
    ctx.layer("curate.task_s", o.med(o.count(_, "curate.run")(_.taskNs) / 1e9), "s")
    ctx.layer("curate.shuffle_bytes", o.med(o.count(_, "curate.run")(_.shuffleBytes).toDouble), "B")
    ctx.layer("curate.spill_bytes", o.med(o.count(_, "curate.run")(_.spillBytes).toDouble), "B")
    ctx.layer("curate.cc_rounds", c.ccRounds.toDouble, "count")
    ctx.layer("curate.dedup_drop_frac", (c.gated - c.deduped).toDouble / c.gated, "ratio")
    ctx.layer("curate.decon_drop_frac", (c.deduped - c.decontaminated).toDouble / c.deduped, "ratio")
    ctx.layer("io.bytes_written", o.med(i => o.rootCount(i)(_.outputBytes).toDouble), "B")
    ctx.layer("io.scan_bytes", o.med(i => o.rootCount(i)(_.inputBytes).toDouble), "B")
    sparkTotals(ctx, o, o.secs(_, "curate.run"))
    overhead(ctx, Stats.median(times), untracedMedian)
    ctx.layer("trace.unattributed_s", o.med(o.unattributed), "s")
    ctx.say(f"trace: ${times.size} traced runs")
  }

  private def overhead(ctx: Ctx, traced: Double, untraced: Double): Unit = {
    ctx.layer("trace.overhead_frac", traced / untraced - 1, "ratio")
    ctx.say(f"trace: overhead ${(traced / untraced - 1) * 100}%.1f%% (traced median $traced%.4f s, untraced $untraced%.4f s)")
  }
}
