package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle, SeedRequest}
import graft.queue.FrontierStore

import java.nio.file.Files

/** R5: abort_on_error + cooperative stop() (reference
  * `_basic_crawler.py:539-548` stop flag, `:1411-1414` abort_on_error in
  * __is_finished_function): the first terminal failure (abort) or an
  * external stop() ends the crawl after the in-flight work drains; the
  * frontier keeps its pending rows, so a fresh engine on the same store
  * resumes and finishes.
  */
class AbortStopSpec extends SparkSpec {

  val spec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 40, otherOrgPages = 6, subHostPages = 6, nImages = 40)

  private def mkEngine(cfg: CrawlConfig, dir: String, batchSize: Int): CrawlEngine = {
    val site = SyntheticWeb.site(spark, spec)
    new CrawlEngine(
      spark, new FrontierStore(spark, dir), site.pages, site.robots, cfg,
      claimBatchSize = batchSize, statusAtFn = site.statusAt)
  }

  // a page whose first fetch 404s -> guaranteed terminal failure, no retry
  private val i404: Int =
    (1 until 40).find(i => i % 17 != 0 && SyntheticWeb.baseStatus(spec, 0, i) == 404)
      .getOrElse(fail("fixture has no 404 page on h0 below 40"))
  // pages that fetch 200 on the first attempt
  private val okIdx: Seq[Int] =
    (1 until 40).filter(i => i % 17 != 0 && SyntheticWeb.baseStatus(spec, 0, i) == 200)

  test("abort_on_error stops after the first terminal failure (engine == oracle)") {
    val cfg = CrawlConfig(abortOnError = true, maxCrawlDepth = 0)
    val seeds = Seq(
      SeedRequest(s"https://h0.example.com/p/${okIdx(0)}"),
      SeedRequest(s"https://h0.example.com/p/$i404"),
      SeedRequest(s"https://h0.example.com/p/${okIdx(1)}"),
      SeedRequest(s"https://h0.example.com/p/${okIdx(2)}"))
    val oracle = CrawlOracle.runRequests(spec, seeds, cfg)
    assert(oracle.failedKeys.size == 1)
    assert(oracle.handledOkKeys.size == 1) // ok seed before the 404; abort before the rest
    val engine = mkEngine(cfg, Files.createTempDirectory("abort").toString, batchSize = 1)
    val res = engine.runRequests(seeds)
    assert(res.crawlOrder == oracle.crawlOrder)
    assert(res.failedKeys == oracle.failedKeys)
    assert(res.handledOkKeys == oracle.handledOkKeys)
  }

  test("abort_on_error without failures runs to completion") {
    val cfg = CrawlConfig(abortOnError = true, maxCrawlDepth = 0)
    val seeds = okIdx.take(3).map(i => SeedRequest(s"https://h0.example.com/p/$i"))
    val oracle = CrawlOracle.runRequests(spec, seeds, cfg)
    val engine = mkEngine(cfg, Files.createTempDirectory("abort2").toString, batchSize = 2)
    val res = engine.runRequests(seeds)
    assert(res.handledOkKeys == oracle.handledOkKeys)
    assert(res.handledOkKeys.size == 3)
    assert(res.failedKeys.isEmpty)
  }

  test("stop() mid-crawl drains the batch; a fresh engine resumes and finishes") {
    val dir = Files.createTempDirectory("stop").toString
    // stop as a side effect of the first failed request (driver-side hook)
    var engineRef: CrawlEngine = null
    val cfgStop = CrawlConfig(
      maxCrawlDepth = 0,
      failedRequestHandler = Some(_ => engineRef.stop()))
    val seeds = Seq(
      SeedRequest(s"https://h0.example.com/p/${okIdx(0)}"),
      SeedRequest(s"https://h0.example.com/p/$i404"),
      SeedRequest(s"https://h0.example.com/p/${okIdx(1)}"),
      SeedRequest(s"https://h0.example.com/p/${okIdx(2)}"))
    engineRef = mkEngine(cfgStop, dir, batchSize = 1)
    val partial = engineRef.runRequests(seeds)
    // stopped after the failing batch: later seeds never processed
    assert(partial.processedCount == 2)
    assert(partial.handledOkKeys.size == 1)

    // a fresh engine on the same store picks up the remaining pending rows
    val resumed = mkEngine(CrawlConfig(maxCrawlDepth = 0), dir, batchSize = 1)
    val rest = resumed.runRequests(Seq.empty)
    assert(rest.handledOkKeys.size == 2) // the two ok seeds left behind
    assert((partial.handledOkKeys ++ rest.handledOkKeys).size == 3)
  }
}
