package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.CrawlConfig
import graft.queue.FrontierStore

import java.nio.file.Files

/** R7 request-handler timeout (reference _basic_crawler.py:298,1587-1598):
  * each request's pluggable fetch/handler call is bounded by a wall-clock
  * deadline; a timed-out request fails with the reference's "Request
  * handler timed out after N seconds" error, which is RETRYABLE — it
  * consumes a retry and then rides the normal R1 exhaustion machinery.
  */
class HandlerTimeoutSpec extends SparkSpec {

  private val webSpec =
    WebSpec(hosts = 1, pagesPerHost = 8, otherOrgPages = 2, subHostPages = 2, nImages = 10)

  private def mkEngine(
      cfg: CrawlConfig,
      statusFn: (String, Int) => Int): (CrawlEngine, FrontierStore) = {
    val site = SyntheticWeb.site(spark, webSpec)
    val store = new FrontierStore(spark, Files.createTempDirectory("rht").toString)
    (new CrawlEngine(spark, store, site.pages, site.robots, cfg, claimBatchSize = 4,
      statusAtFn = statusFn), store)
  }

  test("TimeBoxed: fast call passes through, slow call times out, exceptions propagate") {
    assert(TimeBoxed.run(2000L) { 41 + 1 } == Some(42))
    assert(TimeBoxed.run(100L) { Thread.sleep(5000); 1 }.isEmpty)
    val e = intercept[IllegalStateException] {
      TimeBoxed.run(2000L) { throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
  }

  test("a timed-out attempt is retryable: the retry succeeds where the slow attempt would have failed") {
    // attempt 0 sleeps past the deadline and WOULD return a terminal 404;
    // with the timeout engaged it never gets to — the attempt is classified
    // retryable and attempt 1's instant 200 handles the request. Without
    // the timeout this crawl terminally fails the seed, so a handled
    // outcome proves the time-box engaged AND consumed a retry.
    val cfg = CrawlConfig(maxCrawlDepth = 0, requestHandlerTimeoutMs = Some(400L))
    val (engine, _) = mkEngine(cfg, (url, attempt) =>
      if (url.endsWith("/1")) {
        if (attempt == 0) { Thread.sleep(5000); 404 } else 200
      } else 200)
    val res = engine.run(Seq("https://h0.example.com/p/1", "https://h0.example.com/p/2"))
    assert(res.failedKeys.isEmpty, s"expected no failures, got ${res.failedKeys}")
    assert(res.handledOkKeys.size == 2)
  }

  test("a permanently hanging handler exhausts retries and fails with the reference's timeout message") {
    val cfg = CrawlConfig(maxCrawlDepth = 0, maxRetries = 1,
      requestHandlerTimeoutMs = Some(300L), captureErrorSnapshots = true)
    val (engine, store) = mkEngine(cfg, (url, _) => {
      if (url.endsWith("/1")) Thread.sleep(60000)
      200
    })
    val t0 = System.nanoTime()
    val res = engine.run(Seq("https://h0.example.com/p/1", "https://h0.example.com/p/2"))
    val wallMs = (System.nanoTime() - t0) / 1000000L
    assert(res.failedKeys.size == 1)
    assert(res.handledOkKeys.size == 1)
    // the deadline actually bounded the attempts: 1+maxRetries dispatches of
    // a 60 s hang (>=120 s of sleeping if unbounded) completed in a bound
    // that is pure engine overhead (generous — shared-VM noise)
    assert(wallMs < 45000L, s"crawl took ${wallMs} ms — the time-box did not bound the hang")
    // error snapshot carries the reference's message text and wildcard group
    val keys = engine.errorSnapshotter.snapshotKeys.filter(_.endsWith(".html"))
    assert(keys.exists(_.contains("Requesthandlertimedout")), s"snapshot keys: $keys")
    val kvs = new graft.storage.KeyValueStore(spark, s"${store.root}/snapshots_kvs")
    val meta = kvs.getJson(keys.find(_.contains("Requesthandlertimedout")).get
      .stripSuffix(".html") + ".json").get
    assert(meta.contains("Request handler timed out after 0.3 seconds"))
    // the A6 group wildcards the digit runs ("0.3" -> "***.***")
    assert(meta.contains("Request handler timed out after ***"))
  }

  test("without the config the fetch path is the direct call (sentinel never produced)") {
    val cfg = CrawlConfig(maxCrawlDepth = 0)
    val (engine, _) = mkEngine(cfg, (_, _) => 200)
    val res = engine.run(Seq("https://h0.example.com/p/1"))
    assert(res.handledOkKeys.size == 1 && res.failedKeys.isEmpty)
  }
}
