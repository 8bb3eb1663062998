package perfbench

import graft.SparkEntry
import graft.canon.{Robots, UrlCanon}
import graft.engine.CrawlEngine
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle}
import graft.queue.FrontierStore
import graft.schema.RequestState
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random

/** One timed operation: a crawl (or kill + reopen + resume), a store reopen,
  * or one catalog operator. A failed operation keeps its error and no time.
  */
final case class OpRecord(
    kind: String,
    name: String,
    wallS: Double,
    cpuS: Double,
    items: Long,
    stepsMs: Seq[Long],
    ok: Boolean,
    error: String,
    extra: Map[String, Double] = Map.empty)

/** The benchmark's JVM side. It drives the library only through its public
  * calls (`CrawlEngine.run`, `new FrontierStore` + `state()`,
  * `CrawlOracle.run`, `SparkEntry.queries(name)(spark, dir).count()`) and
  * writes raw per-operation records as JSON for `run.py` to check and
  * reduce.
  *
  * Usage: perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *          --t0-ms T --work DIR --data DIR --out FILE --trace-out FILE
  */
object Harness {

  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val run = new Run(spark, workload, seed, seconds, traced, work, opt("data"), opt("t0-ms").toLong)
    val result =
      try run.execute()
      finally spark.stop()
    write(opt("out"), result)
    if (traced) write(opt("trace-out"), run.tracer.spansJson)
  }

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Everything one benchmark run does, in order: set-up (fixtures + warm-up),
  * the timed region, then the output checks and per-layer readings.
  */
final class Run(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Double,
    traced: Boolean,
    work: String,
    dataDir: String,
    t0Ms: Long) {

  import Run._

  val tracer = new Tracer(spark, traced)
  private val rnd = new Random(seed)
  private val records = mutable.ArrayBuffer.empty[OpRecord]
  private val layerExtra = mutable.LinkedHashMap.empty[String, Double]
  private var setupS = 0.0
  private val catalogOut = mutable.LinkedHashMap.empty[String, String]
  private var storeSeq = 0
  private var lastStore: Option[(String, FrontierStore)] = None

  def execute(): String = {
    val host0 = HostSample.take()
    workload match {
      case "crawl-polite" => crawlPolite()
      case "catalog-heavy" => catalogHeavy()
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val host1 = HostSample.take()
    val opsJson = records.map(opJson).mkString("[", ",", "]")
    val layers = tracer.layerMetrics() ++ layerExtra
    Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(HostSample.vmHwmKb() / 1024.0),
      "steal_frac" -> Json.num(HostSample.stealFrac(host0, host1)),
      "load1" -> Json.num(HostSample.load1()),
      "ops" -> opsJson,
      "catalog" -> Json.obj(catalogOut.toSeq.map { case (k, v) => k -> v }: _*),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
  }

  // ---- set-up / timed-region scaffolding ------------------------------------

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def endSetup(): Unit = {
    setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    System.err.println(f"[perfbench] $workload set-up done in $setupS%.2fs")
  }

  /** Runs `seconds / nominalS` whole operations (at least one), one after
    * another; a failure stops the loop. `nominalS` is one operation's warm
    * wall on a 4-core host, so the region lasts about `seconds` there. The
    * count is fixed rather than timed: a timed loop runs more, and warmer,
    * operations on a faster host, which widens the spread between runs. A
    * traced run counts half the region (still at least one operation), to
    * keep it short with the two untraced operations around it.
    */
  private def timedLoop(nominalS: Double)(op: => Boolean): Unit = {
    val regionS = if (traced) seconds / 2 else seconds
    val n = math.max(1L, math.round(regionS / nominalS))
    var i = 0L
    while (i < n && op) i += 1
  }

  /** Times one operation. `f` is the timed call; the check it returns runs
    * after the clock stops and yields (items, per-step walls, readings). A
    * throw or a failed check records the error and no time.
    */
  private def measure(kind: String, name: String)(
      f: => (() => (Long, Seq[Long], Map[String, Double]))): OpRecord = {
    val c0 = cpuNs()
    val w0 = System.nanoTime()
    val rec =
      try {
        val check = tracer.span(s"$kind:$name", timed = TimedKinds(kind))(f)
        val wall = (System.nanoTime() - w0) / 1e9
        val cpu = (cpuNs() - c0) / 1e9
        val (items, steps, extra) = tracer.span(s"check:$name")(check())
        System.err.println(f"[perfbench] $kind $name wall=$wall%.2fs cpu=$cpu%.2fs items=$items steps=${steps.size}")
        OpRecord(kind, name, wall, cpu, items, steps, ok = true, "", extra)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind $name failed:")
          e.printStackTrace()
          OpRecord(kind, name, 0.0, 0.0, 0L, Nil, ok = false, e.toString)
      }
    records += rec
    rec
  }

  private def nextRoot(): String = {
    storeSeq += 1
    s"$work/stores/crawl-$storeSeq"
  }

  // ---- crawl fixtures ---------------------------------------------------------

  private final class Web(val spec: WebSpec) {
    import spark.implicits._
    val pages: DataFrame = tracer.span("fixture:pages") {
      val sp = spec // the closure must not capture this class
      spark.range(sp.totalPages.toLong).map(g => SyntheticWeb.pageAt(sp, g)).toDF()
    }
    val robots = SyntheticWeb.allRobots(spec)
      .map(r => r.host -> Robots.fromFetch(s"https://${r.host}", r.status, r.body)).toMap

    def engine(store: FrontierStore, cfg: CrawlConfig): CrawlEngine = {
      val sp = spec
      new CrawlEngine(
        spark, store, pages, robots, cfg, claimBatchSize = PoliteBatch,
        enforcePoliteness = true, batchPeriodMs = 30000L,
        trackImages = false, trackOrder = false,
        statusAtFn = (url, attempt) => {
          val host = UrlCanon.parse(url).host
          SyntheticWeb.statusAt(sp, CrawlOracle.hostIdx(sp, host), CrawlOracle.pageIdx(url), attempt)
        })
    }

    /** Every page of every main host, in an order drawn by the run's seed.
      * The order decides which pages share a claim batch and where the
      * kill lands; the crawl's shape stays the same across seeds. Seeding
      * every page also keeps a seed ahead of every link to it, which hides
      * a known engine/oracle divergence (README.md, "Departures").
      */
    def seeds(): Seq[String] =
      rnd.shuffle(for (h <- 0 until spec.hosts; i <- 0 until spec.pagesPerHost) yield SyntheticWeb.urlOf(spec, h, i))

    def oracle(seeds: Seq[String]): Keys = {
      val o = tracer.span("CrawlOracle.run") { CrawlOracle.run(spec, seeds, CrawlConfig()) }
      Keys(o.seenKeys, o.handledOkKeys, o.failedKeys)
    }
  }

  /** Seen, handled-ok and failed keys of the store's current state. */
  private def storeKeys(store: FrontierStore): Keys = {
    val rows = store.state().select("unique_key", "state", "handled_ok").collect()
    def keys(p: org.apache.spark.sql.Row => Boolean) = rows.filter(p).map(_.getString(0)).toSet
    Keys(keys(_ => true),
      keys(r => r.getInt(1) == RequestState.Done && !r.isNullAt(2) && r.getBoolean(2)),
      keys(r => r.getInt(1) == RequestState.Error))
  }

  /** Fails the operation unless the store's final state equals the
    * oracle's seen, handled-ok and failed key sets. Returns the terminal
    * URL count.
    */
  private def checkState(store: FrontierStore, want: Keys): Long = {
    val got = storeKeys(store)
    // read before the check, so a failing crawl still reports its drops
    val drops = (want.seen -- got.seen).size.toDouble
    layerExtra("dedup.false_drops") = math.max(drops, layerExtra.getOrElse("dedup.false_drops", 0.0))
    val problems = got.diff(want)
    if (problems.nonEmpty)
      throw new IllegalStateException("crawl output differs from CrawlOracle: " + problems.mkString("; "))
    (got.ok.size + got.failed.size).toLong
  }

  /** Per-batch rows (claimed, terminal, wall_ms) of a store's metrics table. */
  private def batchRows(root: String): Seq[(Long, Long, Long)] =
    spark.read.parquet(s"$root/metrics").orderBy("batch_id")
      .select("claimed", "terminal", "wall_ms").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  private def reopen(root: String): FrontierStore = {
    val store = tracer.span("FrontierStore.open") { new FrontierStore(spark, root, bloomDedup = true) }
    tracer.span("FrontierStore.state") { store.state() }
    store
  }

  private def dirStats(dir: String): (Long, Long) = {
    val files = Option(new File(dir).listFiles()).toSeq.flatten
    files.foldLeft((0L, 0L)) { case ((bytes, n), f) =>
      if (f.isDirectory) { val (b, m) = dirStats(f.getPath); (bytes + b, n + m) }
      else (bytes + f.length(), n + 1)
    }
  }

  /** Store-side readings after the last timed crawl: log size, commits,
    * bloom shard bytes, and a few timed reopens of the finished store.
    */
  private def storeReadings(root: String, store: FrontierStore): Unit = {
    val (logBytes, logFiles) = dirStats(s"$root/log")
    val seen = store.state().count()
    layerExtra("queue.log_mb") = logBytes / 1048576.0
    layerExtra("queue.log_files") = logFiles.toDouble
    layerExtra("queue.bytes_per_url") = if (seen > 0) logBytes.toDouble / seen else 0.0
    layerExtra("dedup.bloom_mb") = dirStats(s"$root/bloom")._1 / 1048576.0
    if (traced) {
      val opens = (0 until 3).map(i => measure("reopen", s"reopen-$i") {
        reopen(root)
        () => (0L, Nil, Map.empty)
      }).filter(_.ok).map(_.wallS)
      val inCrawl = records.filter(r => r.kind == "crawl" && r.ok).flatMap(_.extra.get("reopen_s"))
      layerExtra("queue.open_s") = median(opens ++ inCrawl)
    }
  }

  private def batchReadings(): Unit = {
    val done = records.filter(r => r.kind == "crawl" && r.ok)
    layerExtra("engine.batches") = done.map(_.extra.getOrElse("batches", 0.0)).sum
    layerExtra("engine.prefetched_batches") = done.map(_.extra.getOrElse("prefetched", 0.0)).sum
    val claimed = done.map(_.extra.getOrElse("claimed", 0.0)).sum
    layerExtra("engine.useful_frac") = if (claimed > 0) done.map(_.extra.getOrElse("terminal", 0.0)).sum / claimed else 0.0
    layerExtra("politeness.idle_batches") = done.map(_.extra.getOrElse("idle", 0.0)).sum
    layerExtra("queue.commits") = done.map(_.extra.getOrElse("commits", 0.0)).sum
    layerExtra("oracle.crawl_s") = tracer.spanSeconds("CrawlOracle.run")
  }

  private def batchExtra(root: String, results: Seq[CrawlEngine#EngineResult], commits: Long): Map[String, Double] = {
    val rows = batchRows(root)
    Map(
      "batches" -> rows.size.toDouble,
      "prefetched" -> results.map(_.prefetchedBatches).sum.toDouble,
      "claimed" -> rows.map(_._1).sum.toDouble,
      "terminal" -> rows.map(_._2).sum.toDouble,
      "idle" -> rows.count(_._1 == 0).toDouble,
      "commits" -> commits.toDouble)
  }

  /** Runs the timed region with the listeners on. A traced run brackets it
    * with one untraced operation before and one after, so that
    * `trace.overhead_frac` compares traced and untraced operations of about
    * the same warmth.
    */
  private def timedRegion(untraced: => Unit)(region: => Unit): Unit = {
    if (traced) {
      untraced
      spark.catalog.clearCache()
    }
    tracer.start()
    region
    tracer.stop()
    if (traced) {
      spark.catalog.clearCache()
      untraced
    }
  }

  // ---- crawl-polite -----------------------------------------------------------

  private def crawlPolite(): Unit = {
    val web = new Web(PoliteSpec)
    val seeds = web.seeds()
    val expected = web.oracle(seeds)

    val half = (expected.ok.size + expected.failed.size) / 2

    /** Crawl killed at half the oracle's URL total, reopened, resumed. */
    def killResume(kind: String): OpRecord = {
      val root = nextRoot()
      measure(kind, "kill-resume") {
        val store1 = tracer.span("FrontierStore.open") { new FrontierStore(spark, root, bloomDedup = true) }
        val r1 = tracer.span("CrawlEngine.run:killed") {
          web.engine(store1, CrawlConfig(maxRequestsPerCrawl = half)).run(seeds)
        }
        val t1 = System.nanoTime()
        val store2 = reopen(root)
        val t2 = System.nanoTime()
        val r2 = tracer.span("CrawlEngine.run:resumed") {
          web.engine(store2, CrawlConfig()).run(seeds)
        }
        () => {
          if (r1.processedCount != half)
            throw new IllegalStateException(s"killed phase processed ${r1.processedCount}, expected $half")
          val done = checkState(store2, expected)
          if (kind == "crawl") lastStore = Some((root, store2))
          (done, batchRows(root).map(_._3),
            batchExtra(root, Seq(r1, r2), store2.batchId) + ("reopen_s" -> (t2 - t1) / 1e9))
        }
      }
    }

    killResume("warmup")
    spark.catalog.clearCache()
    endSetup()
    timedRegion(killResume("untraced")) {
      timedLoop(NominalCrawlS) {
        spark.catalog.clearCache()
        killResume("crawl").ok
      }
    }
    batchReadings()
    lastStore.foreach { case (root, store) => storeReadings(root, store) }
  }

  // ---- catalog-heavy ------------------------------------------------------------

  private def catalogHeavy(): Unit = {
    def pass(kind: String): Boolean =
      rnd.shuffle(CatalogOps).map { name =>
        measure(kind, name) {
          val rows = tracer.span(s"SparkEntry.queries:$name", layer = "ops") {
            SparkEntry.queries(name)(spark, dataDir).count()
          }
          () => (1L, Nil, Map("rows" -> rows.toDouble))
        }.ok
      }.forall(identity)

    // Warm-up: one pass that also keeps every operator's rows for the
    // DuckDB comparison in run.py.
    rnd.shuffle(CatalogOps).foreach { name =>
      val out = s"$work/rows/$name"
      measure("warmup", name) {
        SparkEntry.queries(name)(spark, dataDir).write.mode("overwrite").parquet(out)
        () => (1L, Nil, Map.empty)
      }
      catalogOut(name) = Json.obj("rows_dir" -> Json.str(out), "oracle_sql" -> Json.str(SparkEntry.oracleSql(name)))
    }
    spark.catalog.clearCache()
    endSetup()
    timedRegion(pass("untraced"))(timedLoop(NominalPassS)(pass("op")))
  }

  private def opJson(r: OpRecord): String =
    Json.obj(
      "kind" -> Json.str(r.kind), "name" -> Json.str(r.name), "wall_s" -> Json.num(r.wallS),
      "cpu_s" -> Json.num(r.cpuS), "items" -> r.items.toString,
      "steps_ms" -> r.stepsMs.mkString("[", ",", "]"), "ok" -> r.ok.toString,
      "error" -> Json.str(r.error),
      "extra" -> Json.obj(r.extra.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
}

object Run {
  // crawl-polite: many small hosts, crawl-delay quotas and 429 backoff on a
  // 30 s virtual batch clock, bloom dedup, killed at half and resumed. The
  // claim batch is far above any host's quota, so politeness sets the batch.
  val PoliteSpec: WebSpec = WebSpec(hosts = 32, pagesPerHost = 16, otherOrgPages = 16, subHostPages = 16)
  val PoliteBatch = 2048

  /** Warm wall of one timed operation on a 4-core host: a kill/resume crawl,
    * and a catalog pass. They turn `--seconds` into an operation count.
    */
  val NominalCrawlS = 12.0
  val NominalPassS = 6.0

  /** Operations inside the timed region; the others are set-up, checks or
    * the traced run's untraced reference.
    */
  val TimedKinds: Set[String] = Set("crawl", "op")

  /** The eight heaviest non-crawl catalog operators on the sf0.01 tables
    * whose Spark side and oracle stay inside the input directory (README.md
    * has the ranking they were taken from).
    */
  val CatalogOps: Seq[String] = Seq(
    "td_dedup_components", "td_dedup_ngram_jaccard", "td_dedup_minhash_lsh", "fr_host_authority",
    "td_dsir_weights", "j1_region_revenue", "w2_stream_windowed_counts", "w4_stream_dedup")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** A crawl's outcome: seen, handled-ok and failed unique keys. */
final case class Keys(seen: Set[String], ok: Set[String], failed: Set[String]) {
  def diff(want: Keys): Seq[String] = {
    def one(name: String, got: Set[String], exp: Set[String]): Option[String] =
      if (got == exp) None
      else Some(s"$name: ${got.size} vs ${exp.size}; " +
        s"missing ${(exp -- got).take(3).mkString(",")} extra ${(got -- exp).take(3).mkString(",")}")
    Seq(one("seen", seen, want.seen), one("handled-ok", ok, want.ok), one("failed", failed, want.failed)).flatten
  }

}

/** Minimal JSON writing (values arrive pre-rendered). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Host readings from /proc: CPU steal share, load, and peak RSS. */
object HostSample {
  final case class Cpu(steal: Long, total: Long)

  def take(): Cpu =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val fields = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      Cpu(if (fields.length > 7) fields(7) else 0L, fields.take(8).sum)
    } catch { case _: Exception => Cpu(0L, 0L) }

  def stealFrac(a: Cpu, b: Cpu): Double =
    if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0

  def load1(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.getLines().next().split(" ")(0).toDouble finally f.close()
    } catch { case _: Exception => 0.0 }

  def vmHwmKb(): Long =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally f.close()
    } catch { case _: Exception => 0L }
}
