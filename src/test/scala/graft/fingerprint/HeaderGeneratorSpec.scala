package graft.fingerprint

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.CrawlConfig
import graft.queue.FrontierStore

import java.nio.file.Files

/** Header generation (reference fingerprint_suite/_header_generator.py;
  * cases mirror tests/unit/fingerprint_suite/test_header_generator.py).
  */
class HeaderGeneratorSpec extends SparkSpec {

  private val KeywordByType = Map(
    "chrome" -> Set("Chrome", "CriOS"),
    "firefox" -> Set("Firefox", "FxiOS"),
    "edge" -> Set("Edg", "Edge", "EdgA", "EdgiOS"),
    "safari" -> Set("Safari"))

  test("common headers carry Accept and Accept-Language (test_get_common_headers)") {
    val h = HeaderGenerator.getCommonHeaders
    assert(h.contains("Accept") && h("Accept").nonEmpty)
    assert(h("Accept-Language") == "en-US,en;q=0.9")
  }

  test("random UA header is non-empty (test_get_random_user_agent_header)") {
    assert(HeaderGenerator.getRandomUserAgentHeader(7L)("User-Agent").nonEmpty)
  }

  test("UA contains the browser keyword for every type and seed (stress test)") {
    for (bt <- Seq("chrome", "firefox", "edge", "safari"); seed <- 0L until 100L) {
      val ua = HeaderGenerator.getUserAgentHeader(bt, seed)("User-Agent")
      assert(KeywordByType(bt).exists(ua.contains), s"$bt seed $seed: $ua")
    }
    // edge UAs must be recognized as edge, not swallowed by the chrome token
    val edgeUa = HeaderGenerator.getUserAgentHeader("edge", 1L)("User-Agent")
    assert(edgeUa.contains("Edg"))
  }

  test("invalid browser type rejects (test_get_user_agent_header_invalid_browser_type)") {
    val e = intercept[IllegalArgumentException](HeaderGenerator.getUserAgentHeader("invalid_browser"))
    assert(e.getMessage.contains("Unsupported browser type"))
    intercept[IllegalArgumentException](HeaderGenerator.getSecChUaHeaders("invalid_browser"))
  }

  test("sec-ch-ua exists for chromium family, is EMPTY for firefox/safari") {
    val ch = HeaderGenerator.getSecChUaHeaders("chrome", 3L)
    assert(ch.keySet == Set("sec-ch-ua", "sec-ch-ua-mobile", "sec-ch-ua-platform"))
    assert(ch("sec-ch-ua").contains("Chromium"))
    assert(HeaderGenerator.getSecChUaHeaders("edge", 3L)("sec-ch-ua").contains("Microsoft Edge"))
    assert(HeaderGenerator.getSecChUaHeaders("firefox", 3L).isEmpty)
    assert(HeaderGenerator.getSecChUaHeaders("safari", 3L).isEmpty)
  }

  test("per-session identity is stable and session-dependent") {
    val a1 = HeaderGenerator.forSession("session_000000")
    val a2 = HeaderGenerator.forSession("session_000000")
    assert(a1 == a2) // same session -> same headers, every time
    assert(a1.contains("User-Agent") && a1.contains("Accept") && a1.contains("sec-ch-ua"))
    // across many sessions the pool yields more than one identity
    val uas = (0 until 32).map(i => HeaderGenerator.forSession(f"session_$i%06d")("User-Agent")).toSet
    assert(uas.size > 1)
  }

  test("engine: dispatched requests carry their session's generated headers") {
    val spec = WebSpec(hosts = 1, pagesPerHost = 40, otherOrgPages = 2, subHostPages = 2, nImages = 10)
    val site = SyntheticWeb.site(spark, spec)
    val engine = new graft.engine.CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("hdr").toString),
      site.pages, site.robots,
      CrawlConfig(maxCrawlDepth = 0, preFillSessions = 2, sessionPoolSize = 2, detectBlocked = true),
      claimBatchSize = 1, statusAtFn = site.statusAt)
    val okIdx = (1 until 40).filter(i => i % 17 != 0 && SyntheticWeb.baseStatus(spec, 0, i) == 200).take(4)
    val res = engine.run(okIdx.map(i => s"https://h0.example.com/p/$i"))
    assert(res.headerAssignments.size == 4)
    // every dispatch has a UA; the 2-session round-robin yields exactly the
    // two session identities, each appearing twice
    assert(res.headerAssignments.values.forall(_.get("User-Agent").exists(_.nonEmpty)))
    val identities = res.headerAssignments.values.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(identities.size == 2, s"expected 2 session identities, got ${identities.size}")
    assert(identities.values.toSeq.sorted == Seq(2, 2))
    // and they match the pool's sessions
    assert(identities.keySet ==
      Set(HeaderGenerator.forSession("session_000000"), HeaderGenerator.forSession("session_000001")))
  }
}
