package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle, RequestOptions, SeedRequest}
import graft.politeness.DomainThrottle
import graft.queue.FrontierStore

import java.nio.file.Files

/** Round-2 request-model semantics: per-request retry overrides (no_retry /
  * max_retries, reference _basic_crawler.py:982-997), POST payload dedup via
  * the extended unique key (_request.py:183-235), forefront enqueue_links
  * ordering (_basic_crawler.py:1017-1073), error-handler request replacement
  * (_basic_crawler.py:1151-1204), failed-request handler callbacks
  * (:1206-1230), keep_alive (X5, :189-190), and Retry-After backoff priority
  * (_throttling_request_manager.py:311-326).
  */
class RequestSemanticsSpec extends SparkSpec {

  // 120 pages/host so the deterministic status mix includes hard-500 pages
  // (the retry/no_retry/error-handler tests need one)
  val smallSpec: WebSpec =
    WebSpec(hosts = 2, pagesPerHost = 120, otherOrgPages = 6, subHostPages = 6, nImages = 40)

  private def mkEngine(
      spec: WebSpec,
      cfg: CrawlConfig,
      batchSize: Int,
      onIdle: Int => Option[Seq[SeedRequest]] = _ => None
  ): (CrawlEngine, FrontierStore) = {
    val site = SyntheticWeb.site(spark, spec)
    val store = new FrontierStore(spark, Files.createTempDirectory("engine").toString)
    val engine = new CrawlEngine(
      spark, store, site.pages, site.robots, cfg,
      claimBatchSize = batchSize, statusAtFn = site.statusAt, onIdle = onIdle)
    (engine, store)
  }

  /** First fixture page (host 0 or 1, robots-allowed path) with the wanted
    * deterministic status shape.
    */
  private def findPage(pred: (Int, Int) => Boolean): String = {
    val hit = (for {
      h <- 0 until 2
      i <- 1 until smallSpec.pagesPerHost
      if i % 17 != 0 && pred(h, i)
    } yield (h, i)).headOption.getOrElse(fail("fixture has no page matching predicate"))
    SyntheticWeb.urlOf(smallSpec, hit._1, hit._2)
  }

  private def hard500Url: String =
    findPage((h, i) => SyntheticWeb.hard500(smallSpec, h, i))

  private def okUrl: String =
    findPage((h, i) => SyntheticWeb.baseStatus(smallSpec, h, i) == 200)

  test("no_retry: a 500ing request fails after exactly one attempt (engine == oracle)") {
    val seeds = Seq(SeedRequest(hard500Url, noRetry = true), SeedRequest(okUrl))
    val cfg = CrawlConfig(maxCrawlDepth = 0)
    val oracle = CrawlOracle.runRequests(smallSpec, seeds, cfg)
    val (engine, _) = mkEngine(smallSpec, cfg, batchSize = 1)
    val res = engine.runRequests(seeds)
    assert(res.crawlOrder == oracle.crawlOrder)
    assert(res.crawlOrder.count(_ == hard500Url) == 1) // exactly one attempt
    assert(res.failedKeys == oracle.failedKeys)
    assert(res.handledOkKeys == oracle.handledOkKeys)
  }

  test("per-request max_retries override beats the crawl default (engine == oracle)") {
    val seeds = Seq(SeedRequest(hard500Url, maxRetries = Some(1)))
    val cfg = CrawlConfig(maxCrawlDepth = 0, maxRetries = 5)
    val oracle = CrawlOracle.runRequests(smallSpec, seeds, cfg)
    val (engine, _) = mkEngine(smallSpec, cfg, batchSize = 1)
    val res = engine.runRequests(seeds)
    assert(res.crawlOrder == oracle.crawlOrder)
    assert(res.crawlOrder.count(_ == hard500Url) == 2) // initial + 1 retry, not 6
    assert(res.failedKeys == oracle.failedKeys)
  }

  test("POST payload participates in the extended unique key: same URL, different payloads are distinct requests") {
    val url = okUrl
    val seeds = Seq(
      SeedRequest(url, method = "POST", payload = "alpha".getBytes, useExtendedUniqueKey = true),
      SeedRequest(url, method = "POST", payload = "beta".getBytes, useExtendedUniqueKey = true),
      SeedRequest(url, method = "POST", payload = "alpha".getBytes, useExtendedUniqueKey = true) // dup of #1
    )
    val keys = seeds.map(_.uniqueKey)
    assert(keys(0) != keys(1)) // payload hash differs
    assert(keys(0) == keys(2)) // identical payload dedups
    val cfg = CrawlConfig(maxCrawlDepth = 0)
    val oracle = CrawlOracle.runRequests(smallSpec, seeds, cfg)
    val (engine, store) = mkEngine(smallSpec, cfg, batchSize = 4)
    val res = engine.runRequests(seeds)
    assert(res.seenKeys == oracle.seenKeys)
    assert(res.seenKeys.count(keys.contains) == 2)
    // the frontier row carries the payload itself
    import org.apache.spark.sql.functions.col
    val stored = store.state().filter(col("unique_key") === keys(0)).select("payload", "method").head()
    assert(new String(stored.getAs[Array[Byte]](0)) == "alpha")
    assert(stored.getString(1) == "POST")
  }

  test("enqueue_links forefront: discovered links jump the queue (order parity at concurrency 1)") {
    val seeds = Seq("https://h0.example.com/p/0", "https://h1.example.com/p/0")
    val cfg = CrawlConfig(enqueueForefront = true, maxRequestsPerCrawl = 25)
    val oracle = CrawlOracle.run(smallSpec, seeds, cfg)
    val (engine, _) = mkEngine(smallSpec, cfg, batchSize = 1)
    val res = engine.run(seeds)
    assert(res.crawlOrder == oracle.crawlOrder)
    // forefront actually changed the order vs FIFO
    val fifo = CrawlOracle.run(smallSpec, seeds, cfg.copy(enqueueForefront = false))
    assert(fifo.crawlOrder != oracle.crawlOrder)
  }

  test("error handler replaces a retried request's url/label; counters preserved (engine == oracle)") {
    val bad = hard500Url
    val good = okUrl
    val handler: (RequestOptions, Int) => Option[RequestOptions] =
      (r, _) => if (r.url == bad) Some(RequestOptions(good, Some("recovered"))) else None
    val cfg = CrawlConfig(maxCrawlDepth = 0, errorHandler = Some(handler))
    val seeds = Seq(SeedRequest(bad))
    val oracle = CrawlOracle.runRequests(smallSpec, seeds, cfg)
    val (engine, store) = mkEngine(smallSpec, cfg, batchSize = 1)
    val res = engine.runRequests(seeds)
    assert(res.crawlOrder == oracle.crawlOrder)
    assert(res.crawlOrder == Seq(bad, good)) // attempt 1 fails, retry fetches the REPLACED url
    assert(res.handledOkKeys == oracle.handledOkKeys)
    import org.apache.spark.sql.functions.col
    val row = store.state().filter(col("unique_key") === seeds.head.uniqueKey)
      .select("url", "label", "retry_count").head()
    assert(row.getString(0) == good && row.getString(1) == "recovered" && row.getInt(2) == 1)
  }

  test("failed-request handler fires once per terminally-failed request (engine == oracle)") {
    val engineCalls = scala.collection.mutable.ArrayBuffer.empty[String]
    val oracleCalls = scala.collection.mutable.ArrayBuffer.empty[String]
    val seeds = Seq(SeedRequest(hard500Url, noRetry = true), SeedRequest(okUrl))
    val cfgE = CrawlConfig(maxCrawlDepth = 0,
      failedRequestHandler = Some(r => { engineCalls += r.url; () }))
    val cfgO = cfgE.copy(failedRequestHandler = Some(r => { oracleCalls += r.url; () }))
    CrawlOracle.runRequests(smallSpec, seeds, cfgO)
    val (engine, _) = mkEngine(smallSpec, cfgE, batchSize = 1)
    engine.runRequests(seeds)
    assert(engineCalls.toSeq == oracleCalls.toSeq)
    assert(engineCalls.toSeq == Seq(hard500Url))
  }

  test("keep_alive: the crawl survives an empty queue and processes late-injected work (X5)") {
    var idleCalls = 0
    val late = okUrl
    val onIdle: Int => Option[Seq[SeedRequest]] = { _ =>
      idleCalls += 1
      if (idleCalls == 1) Some(Seq(SeedRequest(late))) else None
    }
    val cfg = CrawlConfig(maxCrawlDepth = 0, keepAlive = true)
    val (engine, _) = mkEngine(smallSpec, cfg, batchSize = 4, onIdle = onIdle)
    val res = engine.runRequests(Seq.empty)
    assert(idleCalls == 2) // injected once, then stopped
    assert(res.handledOkKeys.contains(SeedRequest(late).uniqueKey))
  }

  test("P5 new-work wakeup: a concurrent external add interrupts the keep-alive idle wait") {
    import scala.concurrent.duration._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    // keepAlive + newWorkWaitMs: the engine idles on the empty frontier
    // BLOCKED on the store's new-work event (not spinning, not exiting);
    // a streaming-ingest-style addBatch from another thread wakes it, the
    // late request is crawled, and the next (un-woken) wait ends the run.
    val late = okUrl
    val sr = SeedRequest(late)
    val cfg = CrawlConfig(maxCrawlDepth = 0, keepAlive = true, newWorkWaitMs = 8000L)
    val (engine, store) = mkEngine(smallSpec, cfg, batchSize = 4)
    val run = Future(engine.runRequests(Seq.empty))
    Thread.sleep(400) // let the engine reach the idle wait
    val host = graft.canon.UrlCanon.parse(late).host
    store.addBatch(
      Seq((sr.uniqueKey, late, host, null.asInstanceOf[String], "GET", 0, false, 0L))
        .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order"))
    val res = Await.result(run, 90.seconds)
    assert(res.handledOkKeys.contains(sr.uniqueKey))
  }

  test("Retry-After beats the exponential backoff schedule but stays capped (P3)") {
    val t = new DomainThrottle(Map.empty)
    // exponential: first 429 -> 2s
    t.update(0L, Map("a.com" -> 1L), Map("a.com" -> 1L))
    assert(t.state("a.com") == ((1, 2000L)))
    // header priority: second 429 would be 4s exponential; Retry-After 30 wins
    t.update(10000L, Map("a.com" -> 1L), Map("a.com" -> 1L), Map("a.com" -> 30))
    assert(t.state("a.com") == ((2, 40000L)))
    // cap: a 600s header is clamped to the 60s max delay
    t.update(50000L, Map("a.com" -> 1L), Map("a.com" -> 1L), Map("a.com" -> 600))
    assert(t.state("a.com") == ((3, 110000L)))
    assert(t.blockedHosts(109999L) == Set("a.com"))
    assert(t.blockedHosts(110000L) == Set.empty)
  }

  test("throttle driver state tracks only hosts in an active 429 episode, never every claimed host") {
    val t = new DomainThrottle(Map.empty)
    // 10^4 distinct hosts claimed, 3 of them 429ing: state must hold 3
    // entries — the 10^10 design point has ~10^8 distinct hosts and an
    // entry per claimed host would be a silent multi-GB driver structure
    val hosts = (0 until 10000).map(i => s"h$i.example.com")
    val claimed = hosts.map(_ -> 1L).toMap
    val got429 = Map("h1.example.com" -> 1L, "h2.example.com" -> 2L, "h3.example.com" -> 1L)
    t.update(0L, claimed, got429)
    assert(t.state.size == 3, s"state must track 429-ing hosts only, got ${t.state.size}")
    assert(t.state.keySet == got429.keySet)
    // a success on a previously-429ing host REMOVES its entry (schedule
    // reset), it does not write a zero
    t.update(100000L, Map("h1.example.com" -> 1L), Map.empty)
    assert(t.state.size == 2)
    assert(!t.state.contains("h1.example.com"))
    // and the next 429 on that host restarts the schedule at step 1 (2s)
    t.update(200000L, Map("h1.example.com" -> 1L), Map("h1.example.com" -> 1L))
    assert(t.state("h1.example.com") == ((1, 202000L)))
  }

  test("Retry-After header parser matches the reference (test_throttling_request_manager.py:533-575)") {
    val now = 1700000000000L
    assert(DomainThrottle.parseRetryAfter(null, now).isEmpty)
    assert(DomainThrottle.parseRetryAfter("", now).isEmpty)
    assert(DomainThrottle.parseRetryAfter("120", now).contains(120L))
    assert(DomainThrottle.parseRetryAfter("0", now).contains(0L)) // retry immediately is valid
    assert(DomainThrottle.parseRetryAfter("-5", now).isEmpty) // malformed negative ignored
    assert(DomainThrottle.parseRetryAfter("not-a-date-or-number", now).isEmpty)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("EEE, dd MMM yyyy HH:mm:ss 'GMT'", java.util.Locale.US)
      .withZone(java.time.ZoneOffset.UTC)
    val future = fmt.format(java.time.Instant.ofEpochMilli(now + 120000L))
    val parsed = DomainThrottle.parseRetryAfter(future, now)
    assert(parsed.exists(s => s > 60 && s <= 121))
    // naive HTTP-date (no zone designator) treated as UTC
    val naiveFmt = java.time.format.DateTimeFormatter
      .ofPattern("EEE, dd MMM yyyy HH:mm:ss", java.util.Locale.US)
      .withZone(java.time.ZoneOffset.UTC)
    val naive = naiveFmt.format(java.time.Instant.ofEpochMilli(now + 120000L))
    assert(DomainThrottle.parseRetryAfter(naive, now).exists(s => s > 60 && s <= 121))
  }

  test("F11+R4: blocked content rotates the session and retries; exhausted rotation fails (engine == oracle)") {
    // tiny web crawled to completion so blocked requests drain off the queue
    // tail and exhaust their rotation budget
    val spec = WebSpec(hosts = 1, pagesPerHost = 20, otherOrgPages = 4, subHostPages = 4,
      nImages = 20, blockedEvery = 5)
    // seed pages that actually carry links (fixture out-degree is hash-chosen)
    val seeds = (0 until 20).filter(i => SyntheticWeb.outDegree(spec, 0, i) > 0)
      .take(3).map(i => SyntheticWeb.urlOf(spec, 0, i))
    val cfg = CrawlConfig(detectBlocked = true, maxSessionRotations = 2)
    val oracle = CrawlOracle.run(spec, seeds, cfg)
    val (engine, _) = mkEngine(spec, cfg, batchSize = 1)
    val res = engine.run(seeds)
    assert(res.crawlOrder == oracle.crawlOrder)
    assert(res.failedKeys == oracle.failedKeys)
    assert(res.handledOkKeys == oracle.handledOkKeys)
    // a blocked page was fetched 1 + maxSessionRotations times then failed
    val hitCounts = res.crawlOrder.groupBy(identity).map { case (u, hits) => (u, hits.size) }
    assert(hitCounts.values.exists(_ == 3),
      s"no blocked page exhausted rotation among ${hitCounts.size} urls")
    // the engine's session pool actually rotated
    assert(engine.sessionPool.retiredSessionCount > 0)
  }

  test("X4 max_tasks_per_minute caps the per-batch claim budget") {
    // rate 120/min at a 1000ms batch period = 2 tasks per batch
    val seeds = (0 until 8).map(i => SeedRequest(s"https://h0.example.com/p/$i"))
      .filter(s => CrawlOracle.pageIdx(s.url) % 17 != 0)
    val cfg = CrawlConfig(maxCrawlDepth = 0, maxTasksPerMinute = Some(120))
    val (engine, _) = mkEngine(smallSpec, cfg, batchSize = 64)
    val res = engine.runRequests(seeds)
    assert(res.processedCount == seeds.size)
    assert(res.batches >= (seeds.size + 1) / 2) // never more than 2 per batch
    assert(graft.engine.CrawlEngine.rateCapPerBatch(120, 1000L) == 2L)
    assert(graft.engine.CrawlEngine.rateCapPerBatch(10, 1000L) == 1L) // floor is 1
  }

  test("catch-all status classification: an unexpected status is terminal, never re-claimed (ADVICE)") {
    val site = SyntheticWeb.site(spark, smallSpec)
    val store = new FrontierStore(spark, Files.createTempDirectory("engine").toString)
    // statusAtFn returns 418 — outside the fixture's {200,301,404,429,500}
    val engine = new CrawlEngine(spark, store, site.pages, site.robots,
      CrawlConfig(maxCrawlDepth = 0), claimBatchSize = 4, statusAtFn = (_, _) => 418)
    val res = engine.run(Seq("https://h0.example.com/p/1"))
    assert(res.batches <= 2) // terminates instead of re-claiming forever
    assert(res.failedKeys.size == 1)
  }
}
