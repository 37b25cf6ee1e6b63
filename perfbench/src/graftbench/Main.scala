package graftbench

import scala.jdk.CollectionConverters._

import graft.{Dev, SparkEntry}

/** One benchmark run in one JVM:
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> <launchEpochMs>`.
  *
  * Phases: session start, input generation (three times, the median is
  * reported), workload preparation, one warm-up pass, the measured phase
  * (round(seconds / nominal pass time) passes), then output checks.
  * Everything the run writes stays under `runDir`; `runDir/result.json` is
  * the record `perfbench/run.py` turns into the metrics line. */
object Main {
  val GenReps = 3
  /** DuckDB twins the output checks use (the curated corpus is checked
    * against dedup_survivors + text_quality + text_langid). */
  val OracleKeys = Seq("steam_pipeline", "dedup_survivors", "text_quality",
    "text_langid", "ann_ivf_pq", "graph_pagerank")

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, launchS) = argv
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = Dev.session(cpus.toString)
    s.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - launchS.toLong) / 1000.0
    val tr = new Tracer(traceS == "1")
    val (plans, exec) =
      if (tr.enabled) { val (p, e) = Listeners.install(s); (Some(p), Some(e)) } else (None, None)
    val ctx = new Ctx(s, tr, seedS.toLong, s"$runDir/data", s"$runDir/out", s"$runDir/check")
    val w = Workloads(workload, ctx)

    val genS = (1 to GenReps).map { _ =>
      val t0 = System.nanoTime()
      tr.span("bench", "generate")(w.generate())
      (System.nanoTime() - t0) / 1e9
    }.sorted
    val tprep = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - tprep) / 1e9
    val stats = w.inputStats() ++ Map(
      "input_mb" -> Workloads.dirBytes(ctx.dataDir) / 1e6,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / 1e6)
    // Every pass starts from the same state: cached frames dropped and a
    // full GC, so blocks the previous pass left (localCheckpoint data is not
    // in the cache manager) are collected outside the timed phase rather
    // than inside a later pass.
    def settle(): Unit = { s.catalog.clearCache(); System.gc() }
    val tw = System.nanoTime()
    tr.span("bench", "warmup")(w.warmup())
    val warmS = (System.nanoTime() - tw) / 1e9
    settle()

    // measured phase: a fixed number of whole passes for a given --seconds,
    // so every run of a workload does the same work however fast it goes
    ctx.measuring = true
    val passes = math.max(1, math.round(secondsS.toDouble / w.nominalPassS).toInt)
    val m0ns = tr.nowNs
    val t0 = System.nanoTime()
    val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val persisted = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    while (passS.size < passes) {
      val i = passS.size
      if (i > 0) Workloads.deleteTree(w.passDir(i - 1))
      val tp = System.nanoTime()
      w.pass(i)
      passS += (System.nanoTime() - tp) / 1e9
      if (tr.enabled) {
        val infos = s.sparkContext.getRDDStorageInfo
        persisted += (s.sparkContext.getPersistentRDDs.size ->
          infos.map(r => r.memSize + r.diskSize).sum / 1e6)
      }
      settle()
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val m1ns = tr.nowNs
    ctx.measuring = false
    val last = passS.size - 1

    val (checks, oracle) = tr.span("bench", "check") {
      try w.check(last)
      catch { case e: Exception => (Seq(Check("checks ran", ok = false, e.toString)), Seq.empty) }
    }
    val landedBytes = Workloads.dirBytes(w.passDir(last))
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        Listeners.drain(s)
        Layers.summarize(tr, plans.get, exec.get, m0ns, m1ns, ctx, cpus, persisted.toSeq) ++
          w.layerExtras()
      }
    if (tr.enabled) tr.writeJsonl(s"$runDir/spans.jsonl")
    val oracleSql = OracleKeys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    val record = Json.obj(
      "workload" -> workload, "seed" -> seedS.toLong, "cpus" -> cpus,
      "session_s" -> sessionS, "gen_s" -> genS, "prepare_s" -> prepareS,
      "warmup_s" -> warmS,
      "measured_s" -> measuredS, "pass_s" -> passS,
      "cycle_kind" -> w.cycleKind,
      "units" -> ctx.units.map { case (k, t, r) => Map("kind" -> k, "s" -> t, "rows" -> r) },
      "failed_units" -> ctx.failedUnits,
      "landed_bytes" -> landedBytes,
      "inputs" -> stats, "layers" -> layers,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "oracle" -> oracle.map { case (k, p) => Map("key" -> k, "path" -> p) },
      "oracle_sql" -> oracleSql)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$runDir/result.json"), record)
    s.stop()
  }

  /** Peak resident set of this JVM, from /proc/self/status. */
  def vmHwmKb(): Long =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}
