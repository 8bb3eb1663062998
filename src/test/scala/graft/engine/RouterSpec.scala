package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle, SeedRequest}
import graft.queue.FrontierStore
import graft.router.{PageHandler, Router}

import java.nio.file.Files

/** Per-label handler dispatch parity (reference router.py:20-121 and its
  * dispatch rules at :113-121): two labeled handlers + a default produce
  * label-dependent enqueues and outputs, identical between the Spark engine
  * and the single-threaded oracle; duplicate registration is an error
  * (router.py:90-94), as is dispatch with no matching handler and no
  * default.
  */
class RouterSpec extends SparkSpec {

  private def mkEngine(spec: WebSpec, cfg: CrawlConfig, batchSize: Int,
      trackOrder: Boolean = true): CrawlEngine = {
    val site = SyntheticWeb.site(spark, spec)
    val store = new FrontierStore(spark, Files.createTempDirectory("router").toString)
    new CrawlEngine(
      spark, store, site.pages, site.robots, cfg,
      claimBatchSize = batchSize,
      trackOrder = trackOrder, trackImages = trackOrder,
      statusAtFn = site.statusAt
    )
  }

  private def threeLevelRouter(): Router =
    new Router()
      // default: seeds (no label) -> links become 'category'
      .defaultHandler(PageHandler(tag = "DEF", linkLabel = Some("category")))
      // category pages -> links become 'product'
      .handler("category", PageHandler(tag = "CAT", linkLabel = Some("product")))
      // product pages: leaf handler — no enqueue, no image push
      .handler("product", PageHandler(tag = "PROD", extractLinks = false, emitImages = false))

  // pagesPerHost = 80 so the three-level graph is deep enough that category
  // pages discover NEW pages (first-enqueue wins on dedup — a too-dense
  // small graph gets fully covered by 'category' labels before any product
  // link lands)
  val spec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 80, otherOrgPages = 6, subHostPages = 6, nImages = 40)
  val seeds = Seq(SeedRequest("https://h0.example.com/p/1"), SeedRequest("https://h1.example.com/p/1"))

  test("label-dependent dispatch parity: order at batch 1, tags/outputs at batch 8") {
    val cfg = CrawlConfig(router = Some(threeLevelRouter()))
    val oracle = CrawlOracle.runRequests(spec, seeds, cfg)
    val e1 = mkEngine(spec, cfg, batchSize = 1).runRequests(seeds)
    assert(e1.crawlOrder == oracle.crawlOrder)
    assert(e1.handledTags == oracle.handledTags)

    val e8 = mkEngine(spec, cfg, batchSize = 8).runRequests(seeds)
    assert(e8.seenKeys == oracle.seenKeys)
    assert(e8.handledOkKeys == oracle.handledOkKeys)
    assert(e8.handledTags == oracle.handledTags)
    // all three handlers actually ran
    assert(e8.handledTags.values.toSet == Set("DEF", "CAT", "PROD"))
    // product pages are leaves: no images pushed by PROD
    assert(e8.emittedImageIds.sorted == oracle.emittedImageIds.sorted)
    // bench mode counts without the ids: PROD pages still push none
    val bench = mkEngine(spec, cfg, batchSize = 8, trackOrder = false).runRequests(seeds)
    assert(bench.emittedImageIds.isEmpty)
    assert(bench.emittedImageCount == oracle.emittedImageIds.size)
  }

  test("labeled seeds route directly to their handler") {
    val cfg = CrawlConfig(router = Some(threeLevelRouter()), maxRequestsPerCrawl = 2)
    val labeled = Seq(
      SeedRequest("https://h0.example.com/p/0", label = Some("product")),
      SeedRequest("https://h0.example.com/p/3", label = Some("category")))
    val oracle = CrawlOracle.runRequests(spec, labeled, cfg)
    val eng = mkEngine(spec, cfg, batchSize = 1).runRequests(labeled)
    assert(eng.handledTags == oracle.handledTags)
    assert(eng.handledTags.values.toSet.subsetOf(Set("PROD", "CAT")))
    assert(eng.crawlOrder == oracle.crawlOrder)
  }

  test("duplicate label / duplicate default registration is an error (router.py:90-94)") {
    val r = new Router().handler("a", PageHandler(tag = "A"))
    intercept[IllegalStateException](r.handler("a", PageHandler(tag = "A2")))
    r.defaultHandler(PageHandler(tag = "D"))
    intercept[IllegalStateException](r.defaultHandler(PageHandler(tag = "D2")))
  }

  test("no matching handler and no default is a dispatch error (router.py:113-121)") {
    val r = new Router().handler("a", PageHandler(tag = "A"))
    intercept[IllegalStateException](r.resolve(Some("b")))
    intercept[IllegalStateException](r.resolve(None))
    assert(r.resolve(Some("a")).tag == "A")
  }
}
