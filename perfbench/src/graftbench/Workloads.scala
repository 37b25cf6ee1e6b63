package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Jobs, Tables}
import graft.operators.{AnnIndexOps, DedupOps, GraphOps}

/** What one workload run shares with the harness: the session, the
  * tracer, where inputs and outputs live, and the per-unit timings. */
final class Ctx(val s: SparkSession, val tr: Tracer, val seed: Long,
    val dataDir: String, val outDir: String, val checkDir: String) {
  /** (kind, seconds, input rows) of every unit of work in the measured phase. */
  val units = mutable.ArrayBuffer.empty[(String, Double, Long)]
  var measuring = false
  var failedUnits = 0
  /** Counts a workload keeps for its layer metrics. */
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Time one unit of work as the client sees it. A unit that throws is
    * counted as failed and the loop goes on. */
  def unit(kind: String, rows: Long)(body: => Unit): Unit = {
    tr.op += 1
    val t0 = System.nanoTime()
    val ok = try { tr.span("unit", kind)(body); true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
    }
    val t = (System.nanoTime() - t0) / 1e9
    if (measuring) {
      if (ok) units += ((kind, t, rows)) else failedUnits += 1
    } else if (!ok) failedUnits += 1
  }

  /** Call into graft's operators/Jobs that returns a DataFrame, then the
    * action that runs it — timed as two layers. */
  def construct(name: String)(df: => DataFrame): DataFrame = tr.span("operators", name)(df)
  def land(df: DataFrame, path: String): Unit =
    tr.span("sink", "write")(df.write.mode("overwrite").parquet(path))
}

final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: inputs made from the seed, a warm-up, and a pass — the
  * fixed amount of work the measured phase repeats until its time is up. */
trait Workload {
  def ctx: Ctx
  /** Unit kind whose median is `cycle_p50_s`. */
  def cycleKind: String
  /** Measured seconds one pass stands for: the measured phase runs
    * round(--seconds / this) passes, so the work per run depends only on
    * --seconds. */
  def nominalPassS: Double
  def generate(): Unit
  /** Input rows, bytes on disk and the workload's shape parameters. */
  def inputStats(): Map[String, Any]
  /** Work done once after input generation and before the warm-up,
    * outside both set-up and the measured phase. */
  def prepare(): Unit = ()
  def warmup(): Unit
  def pass(i: Int): Unit
  /** Output directory of pass `i`, whose size is `landed_mb`. */
  def passDir(i: Int): String = s"${ctx.outDir}/pass$i"
  /** Output checks after the measured phase; oracle comparisons are
    * returned as (oracle key, parquet dir) for the DuckDB side. */
  def check(lastPass: Int): (Seq[Check], Seq[(String, String)])
  /** Layer counters that only this workload has. */
  def layerExtras(): Map[String, Double] = Map.empty

  protected def s: SparkSession = ctx.s
  protected def count(name: String): Long =
    s.read.parquet(s"${ctx.dataDir}/$name.parquet").count()
  protected def oracleOut(key: String, df: DataFrame): (String, String) = {
    val p = s"${ctx.checkDir}/$key"
    df.write.mode("overwrite").parquet(p)
    key -> p
  }
}

object Workloads {
  def apply(name: String, c: Ctx): Workload = name match {
    case "prices_daily" => new PricesDaily(c)
    case "curation_batch" => new CurationBatch(c)
    case "index_serve" => new IndexServe(c)
    case "graph_iterate" => new GraphIterate(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
  }

  def fileCount(path: String, suffix: String): Long = {
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try st.filter(p => p.toString.endsWith(suffix)).count() finally st.close()
  }

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val st = java.nio.file.Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))
      finally st.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val st = java.nio.file.Files.walk(src)
    try st.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally st.close()
  }
}

/** The paper's two jobs as a daily loop: each cycle lands a date-stamped
  * prices drop, merges its per-country partials into the running state,
  * and builds the world-map frame from the latest drop. */
final class PricesDaily(val ctx: Ctx) extends Workload {
  val BaseOrders = 30000L
  val Copies = 3
  val CyclesPerPass = 2
  val cycleKind = "cycle"
  val nominalPassS = 6.0
  private var lineRows = 0L

  def generate(): Unit = {
    val li = Inputs.lineitem(s, ctx.seed, BaseOrders, 1000)
    Inputs.write(Inputs.grown(li, Copies, "l_orderkey", BaseOrders), ctx.dataDir, "lineitem")
    Inputs.write(Inputs.nation(s), ctx.dataDir, "nation")
    Inputs.write(Inputs.region(s), ctx.dataDir, "region")
  }

  def inputStats(): Map[String, Any] = {
    lineRows = count("lineitem")
    Map("lineitem_rows" -> lineRows, "copies" -> Copies, "cycles_per_pass" -> CyclesPerPass)
  }

  private def date(d: Int) = f"2024-01-${d + 1}%02d"

  private def cycle(base: String, d: Int): Unit = ctx.unit("cycle", lineRows) {
    val drop = ctx.tr.span("jobs", "prices")(
      Jobs.runSteamPricesJob(s, ctx.dataDir, base, date(d)))
    ctx.tr.span("jobs", "partials")(
      Jobs.landCountryPartials(s, s"$base/partials", s.read.parquet(drop), date(d)))
    ctx.tr.span("jobs", "worldmap") {
      val map = ctx.construct("runWorldMapJob")(Jobs.runWorldMapJob(s, ctx.dataDir, base))
      ctx.tr.span("sink", "collect")(map.collect())
    }
  }

  def warmup(): Unit = (0 until CyclesPerPass).foreach(d => cycle(s"${ctx.outDir}/warmup", d))

  def pass(i: Int): Unit = (0 until CyclesPerPass).foreach(d => cycle(passDir(i), d))

  def check(lastPass: Int): (Seq[Check], Seq[(String, String)]) = {
    val base = passDir(lastPass)
    val drops = Workloads.fileCount(s"$base/steam_prices", "_SUCCESS")
    val state = s.read.parquet(s"$base/partials/dt=${date(CyclesPerPass - 1)}")
      .agg(sum("cnt")).head().getLong(0)
    val parsed = s.read.parquet(s"$base/steam_prices/dt=${date(0)}")
      .filter(col("usd_price").isNotNull).count()
    val checks = Seq(
      Check("one drop per cycle", drops == CyclesPerPass, s"$drops drops"),
      Check("partials count every parsed row once per cycle",
        state == parsed * CyclesPerPass, s"state $state vs ${parsed * CyclesPerPass}"))
    (checks, Seq(oracleOut("steam_pipeline", Jobs.runWorldMapJob(s, ctx.dataDir, base))))
  }
}

/** The curation job over a documents corpus with known exact and near
  * duplicate shares. */
final class CurationBatch(val ctx: Ctx) extends Workload {
  val BaseDocs = 1200L
  val SynthRows = 400L
  val cycleKind = "batch"
  val nominalPassS = 4.0
  private var docRows = 0L
  private val Date = "2024-02-01"

  def generate(): Unit =
    Inputs.write(Inputs.documents(s, ctx.seed, BaseDocs, SynthRows), ctx.dataDir, "documents")

  def inputStats(): Map[String, Any] = {
    val d = s.read.parquet(s"${ctx.dataDir}/documents.parquet")
    docRows = d.count()
    val distinctText = d.select("text").distinct().count()
    Map("documents_rows" -> docRows,
      "exact_dup_share" -> (docRows - distinctText).toDouble / docRows,
      "near_dup_share" -> d.filter(col("text").startsWith("wnear ")).count().toDouble / docRows)
  }

  private def batch(base: String): Unit = ctx.unit("batch", docRows) {
    ctx.tr.span("jobs", "curation")(Jobs.runCurationJob(s, ctx.dataDir, base, Date))
  }

  def warmup(): Unit = batch(s"${ctx.outDir}/warmup")

  def pass(i: Int): Unit = batch(passDir(i))

  def check(lastPass: Int): (Seq[Check], Seq[(String, String)]) = {
    val landed = s.read.parquet(s"${passDir(lastPass)}/curated_corpus/dt=$Date")
    val rows = landed.count()
    val clusters = landed.select("cluster_id").distinct().count()
    (Seq(Check("one landed row per cluster", rows > 0 && rows == clusters,
        s"$rows rows, $clusters clusters")),
      Seq(oracleOut("dedup_survivors", DedupOps.dedupSurvivors(s, ctx.dataDir)),
        "curated_corpus" -> s"${passDir(lastPass)}/curated_corpus/dt=$Date"))
  }
}

/** One closed-loop client against a landed IVF-PQ index: probes of seeded
  * query batches, an admit of a fresh batch every few requests, one
  * replay of an admitted batch and one compaction per pass. */
final class IndexServe(val ctx: Ctx) extends Workload {
  val BaseVecs = 500L
  val Copies = 2
  val QueryRows = 16
  val AdmitRows = 32
  /** Request script of one pass. */
  val Script: Seq[String] = Seq("probe", "probe", "admit", "probe", "compact",
    "probe", "replay", "probe", "probe")
  val cycleKind = "probe"
  val nominalPassS = 11.0
  private val Admits = Script.count(_ == "admit")
  private def index = s"${ctx.outDir}/index"
  private var corpusRows = 0L
  private var queries: Array[Row] = Array.empty
  private var admits: Array[Row] = Array.empty
  private val batchLog = mutable.ArrayBuffer.empty[(String, Long)]
  private val filesAroundCompact = mutable.ArrayBuffer.empty[(Long, Long)]
  private val probeRows = mutable.ArrayBuffer.empty[Long]

  def generate(): Unit = {
    Inputs.write(Inputs.embeddings(s, ctx.seed, BaseVecs, Copies), ctx.dataDir, "embeddings")
    Inputs.write(Inputs.vectors(s, ctx.seed, 1024, 1L << 32, 34), ctx.dataDir, "queries")
    Inputs.write(Inputs.vectors(s, ctx.seed, 1024, 1L << 33, 35), ctx.dataDir, "admits")
  }

  def inputStats(): Map[String, Any] = {
    corpusRows = count("embeddings")
    def rows(n: String) = s.read.parquet(s"${ctx.dataDir}/$n.parquet").orderBy("vec_id").collect()
    queries = rows("queries")
    admits = rows("admits")
    Map("embeddings_rows" -> corpusRows, "query_rows" -> QueryRows,
      "admit_rows" -> AdmitRows, "requests_per_pass" -> Script.size,
      "index_heap_share" -> Workloads.dirBytes(index).toDouble / Runtime.getRuntime.maxMemory())
  }

  private val schema = Inputs.vectors(s, 0L, 1, 0L, 0).schema
  private var cursor = 0
  private def nextBatch(pool: Array[Row], n: Int): DataFrame = {
    val from = (cursor * n) % (pool.length - n)
    cursor += 1
    s.createDataFrame(java.util.Arrays.asList(pool.slice(from, from + n): _*), schema)
  }

  private var buildS = 0.0
  /** The one index build, before the warm-up: timed as `store.build_s`. */
  override def prepare(): Unit = ctx.tr.span("store", "build") {
    val t0 = System.nanoTime()
    AnnIndexOps.buildAnnIndex(Tables.embeddings(s, ctx.dataDir), index)
    s.catalog.clearCache()
    buildS = (System.nanoTime() - t0) / 1e9
  }

  private def request(kind: String, dir: String, lastAdmit: DataFrame): DataFrame = {
    var admitted: DataFrame = lastAdmit
    ctx.unit(kind, if (kind == "probe") QueryRows else AdmitRows) {
      kind match {
        case "probe" =>
          val q = nextBatch(queries, QueryRows)
          val df = ctx.construct("probeAnnIndex")(
            AnnIndexOps.probeAnnIndex(s, dir, q, allQueries = true))
          val n = ctx.tr.span("store", "probe")(df.collect().length)
          if (ctx.measuring) {
            probeRows += n
            ctx.counters("probe_result_rows") += n
          }
        case "admit" =>
          admitted = nextBatch(admits, AdmitRows)
          val n = ctx.tr.span("store", "admit")(AnnIndexOps.admitToIndex(s, dir, admitted))
          if (ctx.measuring) batchLog += ("admit" -> n)
        case "replay" =>
          val n = ctx.tr.span("store", "admit")(AnnIndexOps.admitToIndex(s, dir, lastAdmit))
          if (ctx.measuring) batchLog += ("replay" -> n)
        case "compact" =>
          val before = Workloads.fileCount(s"$dir/codes", ".parquet")
          ctx.tr.span("store", "compact")(AnnIndexOps.compactAnnIndex(s, dir))
          s.catalog.refreshByPath(dir)
          if (ctx.measuring)
            filesAroundCompact += (before -> Workloads.fileCount(s"$dir/codes", ".parquet"))
      }
    }
    admitted
  }

  private def session(dir: String, script: Seq[String]): Unit = {
    Workloads.deleteTree(dir)
    Workloads.copyTree(index, dir)
    script.foldLeft(null: DataFrame)((last, kind) => request(kind, dir, last))
  }

  def warmup(): Unit = session(s"${ctx.outDir}/warmup", Seq("probe", "admit", "compact"))

  def pass(i: Int): Unit = session(passDir(i), Script)

  override def layerExtras(): Map[String, Double] = {
    val admitsN = batchLog.filter(_._1 == "admit").map(_._2)
    Map("store.build_s" -> buildS,
      "store.admitted_rows" -> (if (admitsN.isEmpty) 0.0 else admitsN.sum.toDouble / admitsN.size),
      "store.replay_admitted" -> batchLog.filter(_._1 == "replay").map(_._2).sum.toDouble,
      "store.codes_files_before" -> filesAroundCompact.headOption.map(_._1.toDouble).getOrElse(0.0),
      "store.codes_files_after" -> filesAroundCompact.headOption.map(_._2.toDouble).getOrElse(0.0),
      "store.index_mb" -> Workloads.dirBytes(index) / 1e6)
  }

  def check(lastPass: Int): (Seq[Check], Seq[(String, String)]) = {
    val dir = passDir(lastPass)
    val codes = s.read.parquet(s"$dir/codes").count()
    val fresh = batchLog.filter(_._1 == "admit").map(_._2)
    val replays = batchLog.filter(_._1 == "replay").map(_._2)
    val checks = Seq(
      Check("every probe returns top-5 per query", probeRows.forall(_ == QueryRows * 5L),
        s"rows ${probeRows.distinct.mkString(",")}"),
      Check("a fresh admit lands the whole batch", fresh.forall(_ == AdmitRows), fresh.mkString(",")),
      Check("a replayed admit lands 0 rows", replays.nonEmpty && replays.forall(_ == 0L),
        replays.mkString(",")),
      Check("codes = corpus + admitted", codes == corpusRows + Admits * AdmitRows,
        s"$codes codes"),
      Check("compaction leaves at most one file per cell",
        filesAroundCompact.forall { case (b, a) => a <= AnnIndexOps.adaptiveCells(corpusRows) && a <= b },
        filesAroundCompact.mkString(",")))
    (checks, Seq(oracleOut("ann_ivf_pq",
      AnnIndexOps.probeAnnIndex(s, index, Tables.embeddings(s, ctx.dataDir)))))
  }
}

/** Graph iteration over the customer–supplier co-purchase graph:
  * connected components and PageRank, each landed. */
final class GraphIterate(val ctx: Ctx) extends Workload {
  val Orders = 5000L
  val Customers = 500L
  val Suppliers = 100L
  val cycleKind = "pass"
  val nominalPassS = 5.0
  private var lineRows = 0L

  def generate(): Unit = {
    Inputs.write(Inputs.lineitem(s, ctx.seed, Orders, Suppliers), ctx.dataDir, "lineitem")
    Inputs.write(Inputs.orders(s, ctx.seed, Orders, Customers), ctx.dataDir, "orders")
  }

  def inputStats(): Map[String, Any] = {
    lineRows = count("lineitem")
    val pairs = s.read.parquet(s"${ctx.dataDir}/lineitem.parquet")
      .join(s.read.parquet(s"${ctx.dataDir}/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
    val all = pairs.select("o_custkey", "l_suppkey").distinct().count()
    val changed = pairs.filter(pmod(col("o_orderkey"), lit(GraphOps.IncrBatchMod)) === 0)
      .select("o_custkey", "l_suppkey").distinct().count()
    Map("lineitem_rows" -> lineRows, "orders_rows" -> count("orders"),
      "edges" -> all, "changed_edge_share" -> changed.toDouble / all)
  }

  private def graphPass(base: String): Unit = ctx.unit("pass", lineRows) {
    val li = Tables.lineitem(s, ctx.dataDir)
    val ord = Tables.orders(s, ctx.dataDir)
    ctx.land(ctx.construct("graphComponentsFrames")(GraphOps.graphComponentsFrames(li, ord)),
      s"$base/components")
    ctx.land(ctx.construct("graphPagerankFrames")(GraphOps.graphPagerankFrames(li, ord)),
      s"$base/pagerank")
  }

  def warmup(): Unit = graphPass(s"${ctx.outDir}/warmup")

  def pass(i: Int): Unit = graphPass(passDir(i))

  def check(lastPass: Int): (Seq[Check], Seq[(String, String)]) = {
    val base = passDir(lastPass)
    (Seq.empty, Seq("graph_pagerank" -> s"$base/pagerank",
      "graph_components" -> s"$base/components"))
  }
}
