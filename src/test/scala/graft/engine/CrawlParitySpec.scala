package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle}
import graft.queue.FrontierStore

import java.nio.file.Files

/** The north-rule correctness gate: the Spark engine must match the
  * single-threaded reference oracle (a port of the memory queue + crawler
  * loop) on crawl ORDER at claim-batch 1 and on the final URL-seen set at
  * any batch size, under an identical seed list and politeness budget.
  */
class CrawlParitySpec extends SparkSpec {

  private def mkEngine(spec: WebSpec, cfg: CrawlConfig, batchSize: Int, bloom: Boolean = false,
      root: String = Files.createTempDirectory("engine").toString): CrawlEngine = {
    val site = SyntheticWeb.site(spark, spec)
    val store = new FrontierStore(spark, root, bloomDedup = bloom, bloomBuckets = 8)
    new CrawlEngine(
      spark, store, site.pages, site.robots, cfg,
      claimBatchSize = batchSize, statusAtFn = site.statusAt)
  }

  val smallSpec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 18, otherOrgPages = 6, subHostPages = 6, nImages = 40)
  val seeds = Seq("https://h0.example.com/p/0", "https://h1.example.com/p/0")

  test("crawl order parity at concurrency 1 (claim batch = 1)") {
    val cfg = CrawlConfig(maxRequestsPerCrawl = 30)
    val oracle = CrawlOracle.run(smallSpec, seeds, cfg)
    val engine = mkEngine(smallSpec, cfg, batchSize = 1).run(seeds)
    assert(engine.crawlOrder == oracle.crawlOrder)
    assert(engine.handledOkKeys == oracle.handledOkKeys)
    assert(engine.failedKeys == oracle.failedKeys)
  }

  test("URL-seen set + image emission parity on a full crawl (batch = 16)") {
    val cfg = CrawlConfig()
    val oracle = CrawlOracle.run(smallSpec, seeds, cfg)
    val root = Files.createTempDirectory("engine").toString
    val engine = mkEngine(smallSpec, cfg, batchSize = 16, root = root).run(seeds)
    assert(engine.seenKeys == oracle.seenKeys)
    assert(engine.handledOkKeys == oracle.handledOkKeys)
    assert(engine.failedKeys == oracle.failedKeys)
    assert(engine.emittedImageIds.sorted == oracle.emittedImageIds.sorted)
    // the image count and the metrics table's running image total agree
    // with the ids collected
    assert(engine.emittedImageCount == engine.emittedImageIds.size)
    val images = spark.read.parquet(s"$root/metrics").orderBy("batch_id").select("images")
      .collect().map(_.getLong(0))
    assert(images.last == engine.emittedImageIds.size, images.mkString(","))
  }

  test("pipelined bench mode reaches the identical final state (prefetched claims, compaction crossed)") {
    val cfg = CrawlConfig()
    val parity = mkEngine(smallSpec, cfg, batchSize = 4).run(seeds)

    val site = SyntheticWeb.site(spark, smallSpec)
    // compactEvery=2: the pipelined run crosses several compaction+vacuum
    // boundaries while prefetched claims are in flight
    def benchEngine(store: FrontierStore, trackImages: Boolean) = new CrawlEngine(
      spark, store, site.pages, site.robots, cfg,
      claimBatchSize = 4, trackOrder = false, trackImages = trackImages, statusAtFn = site.statusAt)
    val store = new FrontierStore(
      spark, Files.createTempDirectory("pipelined").toString, compactEvery = 2)
    val engine = benchEngine(store, trackImages = false)
    val bench = engine.run(seeds)
    // same terminal work, same seen set size, same image volume — the
    // pipelined claim relaxes only ORDER, never membership
    assert(bench.processedCount == parity.processedCount)
    assert(engine.seenCount == parity.seenKeys.size)
    assert(bench.emittedImageCount == parity.emittedImageIds.size)
    // the store's final state agrees key-for-key with the parity run
    assert(store.state().select("unique_key").collect().map(_.getString(0)).toSet == parity.seenKeys)
    // trackImages collects the ids in bench mode too: the parity run's ids
    val withIds = benchEngine(new FrontierStore(
      spark, Files.createTempDirectory("pipelined-ids").toString, compactEvery = 2), trackImages = true)
      .run(seeds)
    assert(withIds.emittedImageIds.nonEmpty)
    assert(withIds.emittedImageIds.sorted == parity.emittedImageIds.sorted)
    assert(withIds.emittedImageCount == parity.emittedImageIds.size)
  }

  test("selector-parametrized extraction: img/src crawl parity (_abstract_http_crawler.py:198-219)") {
    // the same web rendered with <img src="..."> markup: crawling with the
    // img/src selector must walk it exactly like the default a/href crawl
    // walks the default markup
    val imgSpec = smallSpec.copy(linkTag = "img", linkAttr = "src")
    val cfg = CrawlConfig(linkSelector = graft.oracle.LinkSelector("img", "src"))
    val oracle = CrawlOracle.run(imgSpec, seeds, cfg)
    val engine = mkEngine(imgSpec, cfg, batchSize = 1).run(seeds)
    assert(engine.crawlOrder == oracle.crawlOrder)
    assert(engine.seenKeys == oracle.seenKeys)
    assert(engine.handledOkKeys == oracle.handledOkKeys)
    // the img-markup web holds real links — the selector crawl went past the seeds
    assert(oracle.seenKeys.size > seeds.size)

    // and the DEFAULT a/href selector finds nothing on the img-markup web:
    // only the two seeds are ever seen
    val defOracle = CrawlOracle.run(imgSpec, seeds, CrawlConfig())
    val defEngine = mkEngine(imgSpec, CrawlConfig(), batchSize = 8).run(seeds)
    assert(defEngine.seenKeys == defOracle.seenKeys)
    assert(defEngine.seenKeys.size <= seeds.size)
  }

  test("robots-nofollow meta gate: page crawled, its links suppressed, engine ≡ oracle") {
    val nfSpec = smallSpec.copy(nofollowEvery = 4)
    val cfgOn = CrawlConfig(respectNofollowMeta = true)
    val oracleOn = CrawlOracle.run(nfSpec, seeds, cfgOn)
    val engineOn = mkEngine(nfSpec, cfgOn, batchSize = 8).run(seeds)
    assert(engineOn.seenKeys == oracleOn.seenKeys)
    assert(engineOn.handledOkKeys == oracleOn.handledOkKeys)
    assert(engineOn.failedKeys == oracleOn.failedKeys)
    // the gate suppresses discovery: strictly fewer URLs seen than flag-off
    val oracleOff = CrawlOracle.run(nfSpec, seeds, CrawlConfig())
    assert(oracleOn.seenKeys.size < oracleOff.seenKeys.size)
    // nofollow pages themselves ARE fetched and handled (only their links die)
    def isNofollowUrl(u: String): Boolean =
      u.split("/").lastOption.flatMap(_.toIntOption).exists(i => i > 0 && i % 4 == 0)
    assert(oracleOn.crawlOrder.exists(isNofollowUrl),
      s"a nofollow page should still be crawled: ${oracleOn.crawlOrder}")
  }

  test("F4 per-call link limit: dense count over ELIGIBLE links, engine ≡ oracle (custom top-k path)") {
    // limit 3 < the web's out-degree, so the gate actually prunes; the
    // engine routes this through graft.plans.TopK (per-parent dense rank
    // over link_idx), the oracle through .take(limit) on the filtered list
    val cfg = CrawlConfig(linksPerPageLimit = 3)
    val oracle = CrawlOracle.run(smallSpec, seeds, cfg)
    val engine = mkEngine(smallSpec, cfg, batchSize = 1).run(seeds)
    assert(engine.crawlOrder == oracle.crawlOrder)
    assert(engine.seenKeys == oracle.seenKeys)
    assert(engine.handledOkKeys == oracle.handledOkKeys)
    // the limit bit: fewer pages seen than the unlimited crawl
    val unlimited = CrawlOracle.run(smallSpec, seeds, CrawlConfig())
    assert(oracle.seenKeys.size < unlimited.seenKeys.size)

    // and at a wider batch the seen set still agrees
    val engine16 = mkEngine(smallSpec, cfg, batchSize = 16).run(seeds)
    assert(engine16.seenKeys == oracle.seenKeys)
  }

  test("max_requests_per_crawl exactness at concurrency 1 (test_basic_crawler.py:1094-1122)") {
    val cfg = CrawlConfig(maxRequestsPerCrawl = 3)
    val engine = mkEngine(smallSpec, cfg, batchSize = 1).run(seeds)
    assert(engine.handledOkKeys.size + engine.failedKeys.size == 3)
  }

  test("max_crawl_depth gate (test_basic_crawler.py:1125-1150)") {
    val cfg = CrawlConfig(maxCrawlDepth = 0)
    val oracle = CrawlOracle.run(smallSpec, seeds, cfg)
    val engine = mkEngine(smallSpec, cfg, batchSize = 8).run(seeds)
    // depth 0 only: exactly the (robots-allowed) seeds are crawled
    assert(engine.seenKeys == oracle.seenKeys)
    assert(engine.seenKeys.size <= seeds.size)
  }

  test("include/exclude glob patterns (exclude wins)") {
    val cfg = CrawlConfig(
      includePatterns = Seq("https://h0.example.com/**"),
      excludePatterns = Seq("https://h0.example.com/private/**")
    )
    val oracle = CrawlOracle.run(smallSpec, Seq(seeds.head), cfg)
    val engine = mkEngine(smallSpec, cfg, batchSize = 8).run(Seq(seeds.head))
    assert(engine.seenKeys == oracle.seenKeys)
    assert(!engine.seenKeys.exists(_.contains("/private/")))
  }

  test("bloom-dedup mode reproduces the exact seen-set (fpp 1e-7 at this scale)") {
    val cfg = CrawlConfig()
    val oracle = CrawlOracle.run(smallSpec, seeds, cfg)
    val engine = mkEngine(smallSpec, cfg, batchSize = 16, bloom = true).run(seeds)
    assert(engine.seenKeys == oracle.seenKeys)
    assert(engine.handledOkKeys == oracle.handledOkKeys)
  }

  test("F9 transform_request hook: rewrite + drop, engine matches oracle") {
    // drop /private links outright; strip fragments-like ?a= suffixes never
    // occur post-normalize, so rewrite /p/1x -> /p/1 style is the demo
    val hook: graft.oracle.RequestOptions => Option[graft.oracle.RequestOptions] = { r =>
      if (r.url.contains("/private/")) None else Some(r)
    }
    val cfg = CrawlConfig(transformRequest = Some(hook))
    val oracle = CrawlOracle.run(smallSpec, seeds, cfg)
    val engine = mkEngine(smallSpec, cfg, batchSize = 16).run(seeds)
    assert(engine.seenKeys == oracle.seenKeys)
    assert(!engine.seenKeys.exists(_.contains("/private/")))
    // hook actually changed the crawl vs the un-hooked run
    val unhooked = CrawlOracle.run(smallSpec, seeds, CrawlConfig())
    assert(unhooked.seenKeys.exists(_.contains("/private/")) ==
      (unhooked.seenKeys != oracle.seenKeys))
  }

  test("hot-host skew: a 4x-degree host crawls to the same parity (P6)") {
    val skewed = smallSpec.copy(skewHost = 0)
    val cfg = CrawlConfig()
    val oracle = CrawlOracle.run(skewed, seeds, cfg)
    val engine = mkEngine(skewed, cfg, batchSize = 16).run(seeds)
    assert(engine.seenKeys == oracle.seenKeys)
    assert(engine.handledOkKeys == oracle.handledOkKeys)
  }

  test("same-domain strategy reaches the sub-host, not other.org") {
    val cfg = CrawlConfig(strategy = graft.canon.EnqueueStrategy.SameDomain)
    val oracle = CrawlOracle.run(smallSpec, Seq(seeds.head), cfg)
    val engine = mkEngine(smallSpec, cfg, batchSize = 16).run(Seq(seeds.head))
    assert(engine.seenKeys == oracle.seenKeys)
    assert(engine.seenKeys.exists(_.contains("sub.h0.example.com")))
    assert(!engine.seenKeys.exists(_.contains("other.org")))
  }

  test("full strategy matrix parity: ALL / SAME_DOMAIN / SAME_HOSTNAME / SAME_ORIGIN " +
      "(reference EnqueueStrategy, _types.py)") {
    import graft.canon.EnqueueStrategy._
    val seen = Seq(All, SameDomain, SameHostname, SameOrigin).map { strat =>
      val cfg = CrawlConfig(strategy = strat)
      val oracle = CrawlOracle.run(smallSpec, seeds, cfg)
      val engine = mkEngine(smallSpec, cfg, batchSize = 8).run(seeds)
      assert(engine.seenKeys == oracle.seenKeys, s"strategy $strat seen-set diverged")
      assert(engine.handledOkKeys == oracle.handledOkKeys, s"strategy $strat handled diverged")
      strat -> engine.seenKeys
    }.toMap
    // strictness ordering: ALL ⊇ SAME_DOMAIN ⊇ SAME_HOSTNAME ⊇ SAME_ORIGIN
    assert(seen(SameDomain).subsetOf(seen(All)))
    assert(seen(SameHostname).subsetOf(seen(SameDomain)))
    assert(seen(SameOrigin).subsetOf(seen(SameHostname)))
    // each tier actually bites on this fixture: cross-org links (ALL only),
    // sub-host links (domain), http-twin links (hostname but not origin)
    assert(seen(All).exists(_.contains("other.org")))
    assert(!seen(SameDomain).exists(_.contains("other.org")))
    assert(seen(SameDomain).exists(_.contains("sub.h0")))
    assert(!seen(SameHostname).exists(_.contains("sub.h0")))
    assert(seen(SameHostname).exists(_.startsWith("http://")))
    assert(!seen(SameOrigin).exists(_.startsWith("http://")))
  }
}
