package graft.engine

import graft.SparkSpec
import graft.canon.Robots
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle}
import graft.queue.FrontierStore
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Checkpoint/resume (north rule: "a killed job resumes exactly") and
  * politeness enforcement (P2-P4) at the engine level.
  */
class ResumePolitenessSpec extends SparkSpec {

  val spec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 18, otherOrgPages = 6, subHostPages = 6, nImages = 40)
  val seeds = Seq("https://h0.example.com/p/0", "https://h1.example.com/p/0")

  private def mkEngine(root: String, cfg: CrawlConfig, batchSize: Int,
      politeness: Boolean = false, statusOverride: (String, Int) => Int = null,
      trackOrder: Boolean = true,
      retryAfter: (String, Int) => Option[Int] = (_, _) => None): CrawlEngine = {
    import spark.implicits._
    val pagesDf = spark
      .createDataset((0L until spec.totalPages.toLong).map(g => SyntheticWeb.pageAt(spec, g)))
      .toDF()
    val robots = SyntheticWeb.allRobots(spec)
      .map(r => r.host -> Robots.fromFetch(s"https://${r.host}", r.status, r.body)).toMap
    val store = new FrontierStore(spark, root)
    val sp = spec // local copy: the closure must not capture the test class
    new CrawlEngine(
      spark, store, pagesDf, robots, cfg, claimBatchSize = batchSize,
      enforcePoliteness = politeness,
      trackOrder = trackOrder,
      retryAfterFn = retryAfter,
      statusAtFn = if (statusOverride != null) statusOverride
        else (url, attempt) => {
          val host = graft.canon.UrlCanon.parse(url).host
          SyntheticWeb.statusAt(sp, CrawlOracle.hostIdx(sp, host), CrawlOracle.pageIdx(url), attempt)
        }
    )
  }

  test("kill + resume: interrupted crawl continues to the identical final state") {
    val full = CrawlOracle.run(spec, seeds, CrawlConfig())
    val fullTotal = full.handledOkKeys.size + full.failedKeys.size
    val interruptAt = fullTotal / 2
    assert(interruptAt >= 2, s"fixture too small for a meaningful resume test (total $fullTotal)")

    // phase 1: "crash" after an artificial budget (nothing special is saved —
    // resume state IS the committed frontier manifest)
    val root = Files.createTempDirectory("resume").toString
    val phase1 = mkEngine(root, CrawlConfig(maxRequestsPerCrawl = interruptAt), batchSize = 4).run(seeds)
    info(s"phase1: order=${phase1.crawlOrder.mkString("|")} ok=${phase1.handledOkKeys.size} fail=${phase1.failedKeys.size} batches=${phase1.batches}")
    info(s"full oracle: total=$fullTotal order=${full.crawlOrder.take(12).mkString("|")}")
    assert(phase1.handledOkKeys.size + phase1.failedKeys.size == interruptAt)

    // phase 2: fresh store + engine on the same root; re-adding the seeds is
    // dedup-safe; the crawl drains to completion
    val phase2 = mkEngine(root, CrawlConfig(), batchSize = 8).run(seeds)
    val handledOk = phase1.handledOkKeys ++ phase2.handledOkKeys
    val failed = phase1.failedKeys ++ phase2.failedKeys
    assert(phase2.seenKeys == full.seenKeys) // seen set identical to uninterrupted run
    assert(handledOk == full.handledOkKeys)
    assert(failed == full.failedKeys)

    // the metrics table recorded both phases' batches
    val metrics = spark.read.parquet(s"$root/metrics")
    assert(metrics.count() == phase1.batches + phase2.batches)
    // per-run processed counters sum to the uninterrupted total
    assert(phase1.processedCount + phase2.processedCount ==
      full.handledOkKeys.size + full.failedKeys.size)
  }

  /** (seen keys, handled-ok keys, rows fetched more than once) of the
    * store at `root`: the same in both tracking modes (bench mode keeps
    * none of these on the EngineResult).
    */
  private def storeOutcome(root: String): (Set[String], Set[String], Long) = {
    val rows = new FrontierStore(spark, root).state()
      .select("unique_key", "handled_ok", "retry_count").collect()
    (rows.map(_.getString(0)).toSet,
      rows.filter(r => !r.isNullAt(1) && r.getBoolean(1)).map(_.getString(0)).toSet,
      rows.count(_.getInt(2) > 0).toLong)
  }

  /** Per-batch claimed counts from the engine's metrics table. */
  private def claimedPerBatch(root: String): Seq[Long] =
    spark.read.parquet(s"$root/metrics").orderBy("batch_id").select("claimed").collect().map(_.getLong(0)).toSeq

  for (trackOrder <- Seq(true, false)) {
    def name(base: String) = if (trackOrder) base else s"$base (bench mode)"

    test(name("P4 crawl-delay quota: a delay-2s host is claimed at most 1/batch")) {
      // h1 (index 1 % 4 == 1) carries Crawl-delay: 2; batchPeriod 1s -> quota 1
      val root = Files.createTempDirectory("polite").toString
      val cfg = CrawlConfig()
      val result = mkEngine(root, cfg, batchSize = 16, politeness = true, trackOrder = trackOrder)
        .run(Seq("https://h1.example.com/p/0"))
      // every h1 claim needed its own batch
      val claimed = claimedPerBatch(root)
      assert(claimed.forall(_ <= 1), s"claimed per batch $claimed — quota not enforced")
      assert(result.batches >= claimed.sum)
      if (trackOrder) assert(result.batches >= result.crawlOrder.size)
      // and the crawl still completed (same seen set as an unthrottled run)
      val root2 = Files.createTempDirectory("polite2").toString
      mkEngine(root2, cfg, 16, trackOrder = trackOrder).run(Seq("https://h1.example.com/p/0"))
      assert(storeOutcome(root)._1 == storeOutcome(root2)._1)
    }

    test(name("P3 429 backoff: a throttled host pauses, then succeeds after cooldown")) {
      // every first fetch on h0 returns 429; second attempt succeeds
      val statusFn: (String, Int) => Int = (_, attempt) => if (attempt == 0) 429 else 200
      val root = Files.createTempDirectory("backoff").toString
      val result = mkEngine(root, CrawlConfig(maxRequestsPerCrawl = 6), batchSize = 4,
        politeness = true, statusOverride = statusFn, trackOrder = trackOrder)
        .run(Seq("https://h0.example.com/p/0"))
      val (_, handledOk, retried) = storeOutcome(root)
      assert(handledOk.nonEmpty)
      // all processed urls required a retry
      assert(retried >= handledOk.size)
      if (trackOrder) assert(result.crawlOrder.size > result.handledOkKeys.size)
      // backoff inserted idle batches: batch count exceeds fetch count
      assert(result.batches > handledOk.size)
    }
  }

  test("P3 Retry-After beats the exponential schedule, identically in both modes") {
    // every first fetch returns 429 with Retry-After: 5 s — five 1 s batch
    // periods of backoff where the schedule would give two
    val statusFn: (String, Int) => Int = (_, attempt) => if (attempt == 0) 429 else 200
    def crawl(trackOrder: Boolean, header: Boolean): (Int, Set[String]) = {
      val root = Files.createTempDirectory("retryafter").toString
      val ra: (String, Int) => Option[Int] = (_, attempt) => if (header && attempt == 0) Some(5) else None
      val result = mkEngine(root, CrawlConfig(maxRequestsPerCrawl = 6), batchSize = 4,
        politeness = true, statusOverride = statusFn, trackOrder = trackOrder, retryAfter = ra)
        .run(Seq("https://h0.example.com/p/0"))
      (result.batches, storeOutcome(root)._1)
    }
    val parity = crawl(trackOrder = true, header = true)
    val bench = crawl(trackOrder = false, header = true)
    assert(parity == bench)
    val schedule = crawl(trackOrder = false, header = false)
    assert(bench._1 > schedule._1, s"Retry-After crawl ${bench._1} batches, schedule ${schedule._1}")
  }
}
