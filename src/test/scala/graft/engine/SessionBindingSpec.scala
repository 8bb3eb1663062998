package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle, RequestOptions, SeedRequest}
import graft.queue.FrontierStore

import java.nio.file.Files
import scala.collection.mutable

/** Session–request binding parity (reference `_request.py:61-62` session_id
  * and `_basic_crawler.py:1673-1686` RequestCollisionError): a request
  * strictly bound to a Session fails terminally WITHOUT a fetch when that
  * session is not available in the pool — missing id, or retired/worn-out
  * by the time the request is dispatched. A bound request whose session IS
  * available uses exactly that session (get_session_by_id,
  * `_session_pool.py:200-221`).
  */
class SessionBindingSpec extends SparkSpec {

  private def mkEngine(spec: WebSpec, cfg: CrawlConfig, batchSize: Int): CrawlEngine = {
    val site = SyntheticWeb.site(spark, spec)
    val store = new FrontierStore(spark, Files.createTempDirectory("sessbind").toString)
    new CrawlEngine(
      spark, store, site.pages, site.robots, cfg,
      claimBatchSize = batchSize, statusAtFn = site.statusAt)
  }

  val spec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 40, otherOrgPages = 6, subHostPages = 6, nImages = 40)

  test("bound-to-missing session collides; bound-to-live session binds (parity, batch 1 and 4)") {
    val failedUrls = mutable.ArrayBuffer.empty[String]
    val cfg = CrawlConfig(
      preFillSessions = 3,
      maxCrawlDepth = 0, // isolate the seed dispatch semantics
      failedRequestHandler = Some(ro => { failedUrls += ro.url; () })
    )
    val seeds = Seq(
      SeedRequest("https://h0.example.com/p/1", sessionId = Some("session_000002")), // live
      SeedRequest("https://h0.example.com/p/9", sessionId = Some("session_999999")), // missing -> collision
      SeedRequest("https://h1.example.com/p/1"), // unbound
      SeedRequest("https://h1.example.com/p/9", sessionId = Some("session_000000")) // live
    )
    val oracle = CrawlOracle.runRequests(spec, seeds, cfg)
    assert(oracle.collidedKeys.size == 1)
    // the collided request was never fetched but IS terminally failed
    val collidedKey = oracle.collidedKeys.head
    assert(oracle.failedKeys.contains(collidedKey))
    assert(!oracle.crawlOrder.exists(u => u.contains("h0") && u.endsWith("/p/9")))

    val e1 = mkEngine(spec, cfg, batchSize = 1).runRequests(seeds)
    assert(e1.crawlOrder == oracle.crawlOrder)
    assert(e1.collidedKeys == oracle.collidedKeys)
    assert(e1.failedKeys == oracle.failedKeys)
    assert(e1.handledOkKeys == oracle.handledOkKeys)

    val e4 = mkEngine(spec, cfg, batchSize = 4).runRequests(seeds)
    assert(e4.collidedKeys == oracle.collidedKeys)
    assert(e4.failedKeys == oracle.failedKeys)
    assert(e4.handledOkKeys == oracle.handledOkKeys)
  }

  test("failed handler fires for the collided request (reference no_retry -> failed path)") {
    val oracleFailed = mutable.ArrayBuffer.empty[String]
    val engineFailed = mutable.ArrayBuffer.empty[String]
    def cfgWith(buf: mutable.ArrayBuffer[String]) = CrawlConfig(
      preFillSessions = 1,
      maxCrawlDepth = 0,
      failedRequestHandler = Some((ro: RequestOptions) => { buf += ro.url; () })
    )
    val seeds = Seq(
      SeedRequest("https://h0.example.com/p/1", sessionId = Some("nope")),
      SeedRequest("https://h0.example.com/p/2"))
    val o = CrawlOracle.runRequests(spec, seeds, cfgWith(oracleFailed))
    val e = mkEngine(spec, cfgWith(engineFailed), batchSize = 1).runRequests(seeds)
    assert(oracleFailed.contains("https://h0.example.com/p/1"))
    assert(engineFailed.toSeq == oracleFailed.toSeq)
    assert(e.collidedKeys == o.collidedKeys)
  }

  test("binding to a session that wears out mid-crawl collides at dispatch time") {
    // pool of 2 sessions, each usable twice: four unbound seeds wear both
    // out; the fifth is bound to session_000000, which by then has been
    // evicted -> collision (reference: bound session retired mid-crawl)
    val cfg = CrawlConfig(
      preFillSessions = 2,
      sessionPoolSize = 2,
      sessionMaxUsage = 2,
      maxCrawlDepth = 0)
    val seeds = Seq(
      SeedRequest("https://h0.example.com/p/1"),
      SeedRequest("https://h0.example.com/p/2"),
      SeedRequest("https://h0.example.com/p/4"),
      SeedRequest("https://h0.example.com/p/5"),
      SeedRequest("https://h0.example.com/p/7", sessionId = Some("session_000000")))
    // binding forces pool accounting on even though detectBlocked is off
    val bindingSeeds = seeds
    val oracle = CrawlOracle.runRequests(spec, bindingSeeds, cfg)
    assert(oracle.collidedKeys.size == 1)
    val engine = mkEngine(spec, cfg, batchSize = 1).runRequests(bindingSeeds)
    assert(engine.collidedKeys == oracle.collidedKeys)
    assert(engine.crawlOrder == oracle.crawlOrder)
    assert(engine.failedKeys == oracle.failedKeys)
  }

  test("bound frontier rows survive a kill+resume: collision check sees persisted bindings (ADVICE r3 #3)") {
    val site = SyntheticWeb.site(spark, spec)
    val root = Files.createTempDirectory("sessbind-resume").toString
    val cfg1 = CrawlConfig(preFillSessions = 3, maxCrawlDepth = 0, maxRequestsPerCrawl = 1)
    val seeds = Seq(
      SeedRequest("https://h0.example.com/p/1"), // processed before the "kill"
      SeedRequest("https://h0.example.com/p/9", sessionId = Some("session_999999")) // left pending
    )
    val e1 = new CrawlEngine(spark, new FrontierStore(spark, root), site.pages, site.robots, cfg1,
      claimBatchSize = 1)
    val r1 = e1.runRequests(seeds)
    assert(r1.processedCount == 1 && r1.collidedKeys.isEmpty)

    // resume on the SAME store with a FRESH engine (empty seed list): the
    // bound row comes from persisted state, not this run's seeds — the
    // collision check must still fire (pre-fix it dispatched round-robin)
    val cfg2 = cfg1.copy(maxRequestsPerCrawl = Long.MaxValue)
    val e2 = new CrawlEngine(spark, new FrontierStore(spark, root), site.pages, site.robots, cfg2,
      claimBatchSize = 1)
    val r2 = e2.runRequests(Seq.empty)
    assert(r2.collidedKeys.size == 1)
    assert(r2.failedKeys == r2.collidedKeys)
    assert(!r2.crawlOrder.exists(_.endsWith("/p/9")))
  }

  test("bound request uses exactly its session (usage accounting parity)") {
    val cfg = CrawlConfig(preFillSessions = 3, maxCrawlDepth = 0)
    // pick pages that fetch 200 on the first attempt so each seed is
    // dispatched exactly once (no retry dispatches to skew usage counts)
    val okIdx = (1 to 30).filter(i => i % 17 != 0 && SyntheticWeb.baseStatus(spec, 0, i) == 200).take(3)
    val seeds = Seq(
      SeedRequest(s"https://h0.example.com/p/${okIdx(0)}", sessionId = Some("session_000001")),
      SeedRequest(s"https://h0.example.com/p/${okIdx(1)}", sessionId = Some("session_000001")),
      SeedRequest(s"https://h0.example.com/p/${okIdx(2)}"))
    val engine = mkEngine(spec, cfg, batchSize = 1)
    engine.runRequests(seeds)
    // session_000001 was used by both bound requests; the unbound request
    // round-robined onto session_000000
    assert(engine.sessionPool.getById("session_000001").map(_.usageCount).contains(2))
    assert(engine.sessionPool.getById("session_000000").map(_.usageCount).contains(1))
    assert(engine.sessionPool.getById("session_000002").map(_.usageCount).contains(0))
  }
}
