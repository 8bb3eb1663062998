package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, SeedRequest}
import graft.queue.FrontierStore

import java.nio.file.Files

/** Robots-at-scale (SCALE.md §Crawl loop; VERDICT r2 #7): robots rules as
  * a TABLE joined against the claim set and the enqueue candidates, with
  * NO whole-map driver/broadcast structure — the engine is constructed
  * with an EMPTY robotsByHost map and thousands of hosts' rules living
  * only in the table. Crawl results are identical to the broadcast-map
  * engine on the same web.
  */
class RobotsAtScaleSpec extends SparkSpec {

  // 4002 hosts: far beyond anything a test would want in one driver map
  val spec: WebSpec = WebSpec(hosts = 4000, pagesPerHost = 3, otherOrgPages = 2, subHostPages = 2, nImages = 10)

  private def robotsRows = SyntheticWeb.allRobots(spec)

  test("robots-table join mode == broadcast-map mode on a 4000-host web") {
    import spark.implicits._
    val cfg = CrawlConfig()
    // seeds spanning robots variants: Disallow /private, Crawl-delay, 404
    // (allow-all), 503 (disallow-all)
    val variantHosts = robotsRows.groupBy(r => (r.status, r.body.take(30))).map(_._2.head.host).toSeq.sorted
    val seeds = variantHosts.take(4).map(h => SeedRequest(s"https://$h/p/0")) :+
      SeedRequest(s"https://${variantHosts.head}/private/p/0")
    val site = SyntheticWeb.site(spark, spec)

    val mapEngine = new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("robots-map").toString),
      site.pages, site.robots, cfg, claimBatchSize = 8, statusAtFn = site.statusAt)
    val mapRes = mapEngine.runRequests(seeds)

    val joinEngine = new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("robots-join").toString),
      site.pages,
      Map.empty, // NO whole-map structure anywhere on the driver
      cfg, claimBatchSize = 8, statusAtFn = site.statusAt,
      robotsTable = Some(spark.createDataset(robotsRows).toDF()))
    val joinRes = joinEngine.runRequests(seeds)

    assert(joinRes.seenKeys == mapRes.seenKeys)
    assert(joinRes.handledOkKeys == mapRes.handledOkKeys)
    assert(joinRes.failedKeys == mapRes.failedKeys)
    assert(joinRes.skippedRobotsKeys == mapRes.skippedRobotsKeys)
    assert(joinRes.crawlOrder.sorted == mapRes.crawlOrder.sorted)
    // robots actually bit: something was seen and the rules were not all-allow
    assert(joinRes.seenKeys.nonEmpty)
  }

  test("politeness delays ride the quota-table claim join — map mode and table mode agree (VERDICT r3 #2)") {
    import spark.implicits._
    // small web for speed; h1 (h%4==1) declares Crawl-delay: 2 -> quota 1/batch
    val pspec = WebSpec(hosts = 2, pagesPerHost = 14, otherOrgPages = 4, subHostPages = 4, nImages = 10)
    val pRows = SyntheticWeb.allRobots(pspec)
    val site = SyntheticWeb.site(spark, pspec)
    val seeds = Seq(SeedRequest("https://h1.example.com/p/0"))
    val cfg = CrawlConfig()

    val mapRes = new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("pol-map").toString),
      site.pages, site.robots,
      cfg, claimBatchSize = 16, enforcePoliteness = true, statusAtFn = site.statusAt).runRequests(seeds)

    val joinRes = new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("pol-join").toString),
      site.pages, Map.empty, cfg, claimBatchSize = 16, enforcePoliteness = true, statusAtFn = site.statusAt,
      robotsTable = Some(spark.createDataset(pRows).toDF())).runRequests(seeds)

    // delay actually bit in BOTH modes: every h1 fetch needed its own batch
    assert(mapRes.batches >= mapRes.crawlOrder.size)
    assert(joinRes.batches >= joinRes.crawlOrder.size,
      s"table-mode quota not enforced: ${joinRes.batches} batches < ${joinRes.crawlOrder.size} fetches")
    assert(joinRes.seenKeys == mapRes.seenKeys)
    assert(joinRes.handledOkKeys == mapRes.handledOkKeys)
    assert(joinRes.batches == mapRes.batches)

    // ADVICE r3 #1 regression: a lowercase "crawl-delay:" directive is
    // still enforced in table mode (the parser lowercases, the pre-filter
    // must too)
    val lowerRows = pRows.map(r => r.copy(body = r.body.replace("Crawl-delay", "crawl-delay")))
    val lowerRes = new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("pol-lower").toString),
      site.pages, Map.empty, cfg, claimBatchSize = 16, enforcePoliteness = true, statusAtFn = site.statusAt,
      robotsTable = Some(spark.createDataset(lowerRows).toDF())).runRequests(seeds)
    assert(lowerRes.batches >= lowerRes.crawlOrder.size,
      "lowercase crawl-delay was silently unenforced")
    assert(lowerRes.seenKeys == joinRes.seenKeys)
  }

  test("join mode enforces robots: disallowed /private seed never enqueues, disallow-all host skips at fetch") {
    import spark.implicits._
    val cfg = CrawlConfig()
    // variant 0 host: "Disallow: /private"; variant 3 host: 503 => disallow all
    val disallowPrivate = robotsRows.find(r => r.status == 200 && r.body.contains("/private")).get.host
    val disallowAll = robotsRows.find(_.status == 503).get.host
    val site = SyntheticWeb.site(spark, spec)
    val engine = new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("robots-join2").toString),
      site.pages, Map.empty, cfg, claimBatchSize = 4, statusAtFn = site.statusAt,
      robotsTable = Some(spark.createDataset(robotsRows).toDF()))
    val res = engine.runRequests(Seq(
      SeedRequest(s"https://$disallowPrivate/private/p/0"), // F7: dropped at seed gate
      SeedRequest(s"https://$disallowAll/p/0"))) // allowed at seed?  No: disallow-all drops it too
    // both seeds are robots-dropped at the gate -> nothing was ever fetched
    assert(res.crawlOrder.isEmpty)
    assert(res.seenKeys.isEmpty)
  }
}
