package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, over the measured phase. Counts and
  * times are per unit of work (cycle, batch, request or pass) unless the
  * name says otherwise, so runs with different unit counts compare. */
object Layers {
  private val CallLayers = Set("jobs", "operators", "store")

  def summarize(tr: Tracer, plans: PlanListener, exec: ExecListener, m0ns: Long,
      m1ns: Long, ctx: Ctx, cpus: Int, persisted: Seq[(Int, Double)]): Map[String, Double] = {
    val m0 = m0ns / 1000000L
    val m1 = m1ns / 1000000L
    val windowS = (m1ns - m0ns) / 1e9
    val units = math.max(ctx.units.size, 1).toDouble
    val spans = tr.spans.filter(s => s.startNs >= m0ns && s.endNs <= m1ns)
    val byId = spans.map(s => s.id -> s).toMap
    def named(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    def meanS(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else ss.map(_.durS).sum / ss.size

    val construct = spans.filter(_.layer == "operators")
    val jobStarts = exec.jobStartsMs.asScala.toSeq.filter(t => t >= m0 && t <= m1)
    val eagerJobs = jobStarts.count(t => construct.exists(s =>
      t >= s.startNs / 1000000L && t <= s.endNs / 1000000L))
    val calls = spans.count(s => CallLayers(s.layer) &&
      !byId.get(s.parent).exists(p => CallLayers(p.layer)))

    val recs = plans.recs.asScala.toSeq.filter(r => r.endMs >= m0 && r.endMs <= m1)
    val tasks = exec.tasks.asScala.toSeq.filter(t => t.launchMs >= m0 && t.finishMs <= m1)
    // wall time with at least one task running: union of task intervals
    val busyMs = tasks.map(t => (t.launchMs, t.finishMs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (a >= end) (acc + (b - a), b)
        else if (b > end) (acc + (b - end), b)
        else (acc, end)
      }._1
    val taskBusyS = tasks.map(_.runS).sum
    val skew = tasks.groupBy(_.stage).values.filter(_.size >= cpus).flatMap { ts =>
      val d = ts.map(t => (t.finishMs - t.launchMs).toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) Some(d.last / med) else None
    }
    val probes = ctx.units.filter(_._1 == "probe").map(_._2).sorted
    val self = tr.selfTimeByLayer(m0ns, m1ns)
    val mb = 1e6

    Map(
      "operators.construct_s" -> construct.map(_.durS).sum / units,
      "operators.eager_jobs" -> eagerJobs / units,
      "plans.analyze_s" -> recs.map(_.analyzeS).sum / units,
      "plans.optimize_s" -> recs.map(_.optimizeS).sum / units,
      "plans.physical_s" -> recs.map(_.physicalS).sum / units,
      "plans.queries" -> recs.size / units,
      "plans.exchanges" -> recs.map(_.exchanges).sum / units,
      "plans.broadcasts" -> recs.map(_.broadcasts).sum / units,
      "exec.s" -> busyMs / 1000.0 / units,
      "exec.jobs" -> jobStarts.size / units,
      "exec.tasks" -> tasks.size / units,
      "exec.task_busy_s" -> taskBusyS / units,
      "exec.core_util" -> taskBusyS / (windowS * cpus),
      "exec.gc_s" -> tasks.map(_.gcS).sum / units,
      "exec.driver_gap_s" -> (windowS - busyMs / 1000.0) / units,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb / units,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb / units,
      "exec.spill_mb" -> tasks.map(_.spill).sum / mb / units,
      "exec.input_mb" -> tasks.map(_.input).sum / mb / units,
      "exec.skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "jobs.prices_s" -> meanS(named("jobs", "prices").toSeq),
      "jobs.partials_s" -> meanS(named("jobs", "partials").toSeq),
      "jobs.worldmap_s" -> meanS(named("jobs", "worldmap").toSeq),
      "jobs.curation_s" -> meanS(named("jobs", "curation").toSeq),
      "sink.files_written" -> recs.map(_.filesWritten).sum / units,
      "sink.mb_written" -> recs.map(_.bytesWritten).sum / mb / units,
      "store.probe_s" -> (if (probes.isEmpty) 0.0 else probes.sum / probes.size),
      "store.probe_p90_s" -> (if (probes.isEmpty) 0.0 else probes((probes.size * 9) / 10)),
      "store.probe_samples" -> probes.size.toDouble,
      "store.admit_s" -> meanS(named("store", "admit").toSeq),
      "store.compact_s" -> meanS(named("store", "compact").toSeq),
      "store.rows_scanned_per_result" ->
        (if (probes.isEmpty) 0.0
         else recs.filter(_.funcName == "collect").map(_.codesRowsScanned).sum /
           ctx.counters("probe_result_rows")),
      "iter.jobs_per_op" -> jobStarts.size.toDouble / math.max(calls, 1),
      "iter.persisted_rdds_after" ->
        (if (persisted.isEmpty) 0.0 else persisted.map(_._1).sum.toDouble / persisted.size),
      "iter.persisted_mb_after" ->
        (if (persisted.isEmpty) 0.0 else persisted.map(_._2).sum / persisted.size),
      "self.unit_s" -> self.getOrElse("unit", 0.0) / units,
      "self.jobs_s" -> self.getOrElse("jobs", 0.0) / units,
      "self.operators_s" -> self.getOrElse("operators", 0.0) / units,
      "self.sink_s" -> self.getOrElse("sink", 0.0) / units,
      "self.store_s" -> self.getOrElse("store", 0.0) / units,
      "jvm.peak_rss_mb" -> Main.vmHwmKb() / 1024.0) ++
      // landed-store counters; IndexServe overrides them
      Seq("store.build_s", "store.admitted_rows", "store.replay_admitted",
        "store.codes_files_before", "store.codes_files_after", "store.index_mb").map(_ -> 0.0)
  }
}
