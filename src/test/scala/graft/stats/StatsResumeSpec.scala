package graft.stats

import graft.SparkSpec
import graft.engine.CrawlEngine
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, SeedRequest}
import graft.queue.FrontierStore
import graft.storage.KeyValueStore

import java.nio.file.Files

/** Statistics resume across restarts (reference _statistics.py:80,284-299
  * via RecoverableState; test_basic_crawler.py:2155-2248): a crawl killed
  * mid-run and resumed on the same store ends with the SAME final counters
  * and retry histogram as one uninterrupted run.
  */
class StatsResumeSpec extends SparkSpec {

  val spec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 40, otherOrgPages = 6, subHostPages = 6, nImages = 40)
  val seeds = Seq(SeedRequest("https://h0.example.com/p/1"), SeedRequest("https://h1.example.com/p/1"))

  private def mkEngine(cfg: CrawlConfig, dir: String, batchSize: Int): CrawlEngine = {
    val site = SyntheticWeb.site(spark, spec)
    new CrawlEngine(
      spark, new FrontierStore(spark, dir), site.pages, site.robots, cfg,
      claimBatchSize = batchSize, statusAtFn = site.statusAt)
  }

  test("interrupted + resumed run ends with an uninterrupted run's counters") {
    val cfg = CrawlConfig()

    // uninterrupted baseline
    val full = mkEngine(cfg, Files.createTempDirectory("stats-full").toString, batchSize = 4)
    val fullRes = full.runRequests(seeds)
    val expected = full.runStats.state
    assert(expected.requestsFinished == fullRes.handledOkKeys.size)
    assert(expected.requestsFailed == fullRes.failedKeys.size)
    assert(expected.retryHistogram.sum == expected.requestsTotal)

    // phase 1: budget-bounded run persists partial counters
    val dir = Files.createTempDirectory("stats-resume").toString
    val phase1 = mkEngine(cfg.copy(maxRequestsPerCrawl = 10), dir, batchSize = 4)
    phase1.runRequests(seeds)
    val partial = phase1.runStats.state
    assert(partial.requestsTotal > 0 && partial.requestsTotal < expected.requestsTotal)

    // phase 2: a FRESH engine on the same store resumes counters and the
    // frontier, then finishes the crawl
    val phase2 = mkEngine(cfg, dir, batchSize = 4)
    assert(phase2.runStats.state == partial) // resumed, not reset
    phase2.runRequests(seeds)
    val resumed = phase2.runStats.state

    assert(resumed.requestsFinished == expected.requestsFinished)
    assert(resumed.requestsFailed == expected.requestsFailed)
    assert(resumed.requestsRetries == expected.requestsRetries)
    assert(resumed.retryHistogram == expected.retryHistogram)
    assert(resumed.crawlerRuntimeMs > 0) // accumulates across both runs
  }

  test("state JSON round-trips through the KVS") {
    val s = StatisticsState(7, 3, 2, Vector(5L, 3L, 2L), 1234L)
    assert(StatisticsState.fromJson(s.toJson) == s)

    val dir = Files.createTempDirectory("stats-kvs").toString
    val kvs = new KeyValueStore(spark, dir)
    val rs = new RunStatistics(kvs)
    rs.recordTerminal(finished = true, 0)
    rs.recordTerminal(finished = true, 2)
    rs.recordTerminal(finished = false, 1)
    rs.addRuntime(500L)
    rs.persist()
    val rs2 = new RunStatistics(new KeyValueStore(spark, dir)) // fresh instance: disk round-trip
    assert(rs2.state == rs.state)
    assert(rs2.state.retryHistogram == Vector(1L, 1L, 1L))
    assert(rs2.state.requestsRetries == 2L)
  }
}
