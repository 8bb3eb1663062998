package graft.events

import graft.SparkSpec
import graft.engine.CrawlEngine
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle, SeedRequest}
import graft.queue.FrontierStore

import java.nio.file.Files
import scala.collection.mutable

/** X6 event manager (reference events/_event_manager.py:50-230) + C7
  * always_enqueue (reference _request.py:284-310): lifecycle events fire
  * at batch boundaries with registerable/removable listeners, and salted
  * seeds defeat dedup with engine == oracle parity.
  */
class EventsSpec extends SparkSpec {

  val spec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 40, otherOrgPages = 6, subHostPages = 6, nImages = 40)

  private def mkEngine(cfg: CrawlConfig, batchSize: Int): CrawlEngine = {
    val site = SyntheticWeb.site(spark, spec)
    new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("events").toString),
      site.pages, site.robots, cfg,
      claimBatchSize = batchSize, statusAtFn = site.statusAt)
  }

  private val okIdx: Seq[Int] =
    (1 until 40).filter(i => i % 17 != 0 && SyntheticWeb.baseStatus(spec, 0, i) == 200)

  test("on/off/emit semantics: registration order, removal, failure isolation") {
    val em = new EventManager
    val calls = mutable.ArrayBuffer.empty[String]
    val l1 = em.on(Event.PersistState)(d => calls += s"a:$d")
    em.on(Event.PersistState)(_ => throw new RuntimeException("listener boom"))
    em.on(Event.PersistState)(d => calls += s"b:$d")
    assert(em.listenerCount(Event.PersistState) == 3)
    em.emit(Event.PersistState, 7)
    assert(calls.toSeq == Seq("a:7", "b:7")) // order kept; failure isolated
    em.off(Event.PersistState, Some(l1))
    em.emit(Event.PersistState, 8)
    assert(calls.toSeq == Seq("a:7", "b:7", "b:8"))
    em.off(Event.PersistState)
    assert(em.listenerCount(Event.PersistState) == 0)
  }

  test("crawl lifecycle emits SystemInfo per batch, PersistState on flush, Exit once") {
    val engine = mkEngine(CrawlConfig(maxCrawlDepth = 0), batchSize = 2)
    val systemInfo = mutable.ArrayBuffer.empty[Any]
    var persistState = 0
    var exits = 0
    engine.events.on(Event.SystemInfo)(d => systemInfo += d)
    engine.events.on(Event.PersistState)(_ => persistState += 1)
    engine.events.on(Event.Exit)(_ => exits += 1)
    val seeds = okIdx.take(4).map(i => SeedRequest(s"https://h0.example.com/p/$i"))
    val res = engine.runRequests(seeds)
    assert(systemInfo.size == res.batches || systemInfo.size == res.batches - 1)
    assert(systemInfo.forall(_.isInstanceOf[Long])) // batch wall ms payload
    assert(persistState >= 1) // final flush always persists
    assert(exits == 1)
  }

  test("abort emits Aborting before Exit") {
    val engine = mkEngine(CrawlConfig(maxCrawlDepth = 0, abortOnError = true), batchSize = 1)
    val order = mutable.ArrayBuffer.empty[String]
    engine.events.on(Event.Aborting)(d => order += s"abort:$d")
    engine.events.on(Event.Exit)(_ => order += "exit")
    val i404 = (1 until 40).find(i => i % 17 != 0 && SyntheticWeb.baseStatus(spec, 0, i) == 404).get
    engine.runRequests(Seq(SeedRequest(s"https://h0.example.com/p/$i404")))
    assert(order.toSeq == Seq("abort:abort_on_error", "exit"))
  }

  test("C7 always_enqueue: identical seeds both crawl; unsalted seeds dedup (engine == oracle)") {
    val url = s"https://h0.example.com/p/${okIdx(0)}"
    val salted = Seq(
      SeedRequest(url, alwaysEnqueue = true),
      SeedRequest(url, alwaysEnqueue = true),
      SeedRequest(url)) // unsalted third copy: distinct key, also crawls
    val cfg = CrawlConfig(maxCrawlDepth = 0)
    val oracle = CrawlOracle.runRequests(spec, salted, cfg)
    assert(oracle.crawlOrder.count(_ == url) == 3)
    assert(oracle.handledOkKeys.size == 3)
    val engine = mkEngine(cfg, batchSize = 1).runRequests(salted)
    assert(engine.crawlOrder == oracle.crawlOrder)
    assert(engine.handledOkKeys == oracle.handledOkKeys)

    // without the salt the duplicates collapse to one request
    val unsalted = Seq(SeedRequest(url), SeedRequest(url))
    val o2 = CrawlOracle.runRequests(spec, unsalted, cfg)
    assert(o2.crawlOrder.count(_ == url) == 1)
    val e2 = mkEngine(cfg, batchSize = 1).runRequests(unsalted)
    assert(e2.crawlOrder == o2.crawlOrder)
  }

  test("C6 random salt mode: crypto-random always_enqueue salts still defeat dedup") {
    val url = s"https://h0.example.com/p/${okIdx(0)}"
    val salted = Seq(SeedRequest(url, alwaysEnqueue = true), SeedRequest(url, alwaysEnqueue = true))
    val cfg = CrawlConfig(maxCrawlDepth = 0, randomAlwaysEnqueueSalt = true)
    val res = mkEngine(cfg, batchSize = 1).runRequests(salted)
    assert(res.crawlOrder.count(_ == url) == 2)
    // both keys carry a 17-char alphabet salt prefix, and the salts differ
    val salts = res.handledOkKeys.toSeq.map(_.split("\\|", 2)(0))
    assert(salts.size == 2 && salts.distinct.size == 2)
    assert(salts.forall(s => s.length == 17 && s.forall(graft.canon.Ids.Alphabet.contains(_))))
  }
}
