package graft.stats

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.CrawlConfig
import graft.queue.FrontierStore

import java.nio.file.Files

/** Error snapshots (reference statistics/_error_snapshotter.py:1-77 +
  * tests/unit/crawlers/_http/test_http_crawler.py:619-634): failing
  * dispatches persist the fetched body to a KVS under a deduped
  * ERROR_SNAPSHOT_{sha1(loc)[:30]}_{msg[:30]}.html name — one error retried
  * N times leaves exactly ONE snapshot record whose content is the body.
  */
class ErrorSnapshotSpec extends SparkSpec {

  test("base-name construction mirrors the reference (hash, truncation, sanitization)") {
    val base = ErrorSnapshotter.baseName("timeout after 30 seconds", "file.py:42")
    assert(base.startsWith("ERROR_SNAPSHOT_"))
    assert(base.length <= 250)
    assert(base.endsWith("_timeout after 30 seconds".filter(c => c.isLetterOrDigit || "!-_.".contains(c))))
    // hash segment is sha1(file_and_line)[:30]
    assert(base.contains(ErrorSnapshotter.sha1Hex("file.py:42").take(30)))
    // empty message falls back to the BASE_MESSAGE
    assert(ErrorSnapshotter.baseName("", "f:1").contains("Anerroroccurred"))
    // disallowed characters are stripped, not replaced
    assert(!ErrorSnapshotter.baseName("msg with /slash\\and spaces", "f:1").exists(c => c == '/' || c == '\\' || c == ' '))
    // over-long names truncate to 250 BEFORE sanitization
    assert(ErrorSnapshotter.baseName("x" * 500, "f:1").length <= 250)
  }

  test("wildcard group matches the A6 error-tracker generalization") {
    assert(ErrorSnapshotter.wildcardGroup("timeout after 30 seconds") == "timeout after *** seconds")
    assert(ErrorSnapshotter.wildcardGroup("no such host 'h3.test'") == "no such host '***'")
    assert(ErrorSnapshotter.wildcardGroup("connection reset") == "connection reset")
  }

  test("one error retried N times leaves exactly one snapshot whose content is the body") {
    val spec = WebSpec(hosts = 1, pagesPerHost = 8, otherOrgPages = 2, subHostPages = 2, nImages = 10)
    val site = SyntheticWeb.site(spark, spec)
    val store = new FrontierStore(spark, Files.createTempDirectory("snap").toString)
    // the single seed 500s on EVERY attempt -> 1 + maxRetries dispatches
    val engine = new graft.engine.CrawlEngine(
      spark, store, site.pages, site.robots,
      CrawlConfig(maxCrawlDepth = 0, captureErrorSnapshots = true),
      claimBatchSize = 4,
      statusAtFn = (_, _) => 500)
    val seed = "https://h0.example.com/p/1"
    val res = engine.run(Seq(seed))
    assert(res.failedKeys.size == 1)

    val htmlKeys = engine.errorSnapshotter.snapshotKeys.filter(_.endsWith(".html"))
    assert(htmlKeys.size == 1, s"expected ONE deduped snapshot, got $htmlKeys")
    assert(htmlKeys.head.startsWith("ERROR_SNAPSHOT_"))
    // content is the fetched page body
    val kvs = new graft.storage.KeyValueStore(spark, s"${store.root}/snapshots_kvs")
    val body = new String(kvs.getValue(htmlKeys.head).get, "UTF-8")
    assert(body == SyntheticWeb.pageAt(spec, 1L).body)
    // the sidecar meta carries the wildcarded A6 group
    val meta = kvs.getJson(htmlKeys.head.stripSuffix(".html") + ".json").get
    assert(meta.contains("\"group\""))
    assert(meta.contains("HTTP *** server error"))
  }

  test("distinct failure classes produce distinct snapshot names") {
    val spec = WebSpec(hosts = 1, pagesPerHost = 10, otherOrgPages = 2, subHostPages = 2, nImages = 10)
    val site = SyntheticWeb.site(spark, spec)
    val store = new FrontierStore(spark, Files.createTempDirectory("snap2").toString)
    // p/1 -> 404 (client), p/2 -> 500 (retryable)
    val engine = new graft.engine.CrawlEngine(
      spark, store, site.pages, site.robots,
      CrawlConfig(maxCrawlDepth = 0, captureErrorSnapshots = true),
      claimBatchSize = 4,
      statusAtFn = (url, _) => if (url.endsWith("/1")) 404 else 500)
    engine.run(Seq("https://h0.example.com/p/1", "https://h0.example.com/p/2"))
    val keys = engine.errorSnapshotter.snapshotKeys.filter(_.endsWith(".html"))
    assert(keys.size == 2, s"got $keys")
    assert(keys.exists(_.contains("client")) && keys.exists(_.contains("server")))
  }
}
