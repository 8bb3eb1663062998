package graft.storage

import graft.SparkSpec
import graft.engine.CrawlEngine
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, SeedRequest}
import graft.queue.FrontierStore
import graft.util.Json

import java.nio.file.Files

/** use_state (reference _basic_crawler.py:869-875 →
  * KeyValueStore.get_auto_saved_value, _key_value_store.py:262-311, backed
  * by RecoverableState, _utils/recoverable_state.py): crawler-global
  * mutable state, auto-persisted on the PERSIST_STATE cadence and at crawl
  * end, recovered by a later engine on the same store
  * (test_key_value_store.py get_auto_saved_value suite).
  */
class UseStateSpec extends SparkSpec {

  private val spec: WebSpec = WebSpec(hosts = 1, pagesPerHost = 12, otherOrgPages = 2, subHostPages = 2, nImages = 8)
  private val seeds = Seq(SeedRequest("https://h0.example.com/p/1"))

  private def mkEngine(dir: String): CrawlEngine = {
    val site = SyntheticWeb.site(spark, spec)
    new CrawlEngine(
      spark, new FrontierStore(spark, dir), site.pages, site.robots, CrawlConfig(),
      claimBatchSize = 4, statusAtFn = site.statusAt)
  }

  test("default on first use; repeat calls share one instance; other keys isolated") {
    val kvs = new KeyValueStore(spark, Files.createTempDirectory("usestate-kvs").toString)
    val st = kvs.getAutoSavedValue("k", Map("hello" -> "world", "n" -> 1L))
    assert(st("hello") == "world" && st("n") == 1L)
    st("n") = 2L
    // cached: the same mutable instance comes back, default ignored now
    val again = kvs.getAutoSavedValue("k", Map("n" -> 99L))
    assert(again eq st)
    assert(again("n") == 2L)
    // a different key gets its own state
    val other = kvs.getAutoSavedValue("k2")
    assert(other.isEmpty && !(other eq st))
  }

  test("persistAutosavedValues round-trips nested JSON values") {
    val dir = Files.createTempDirectory("usestate-rt").toString
    val kvs = new KeyValueStore(spark, dir)
    val st = kvs.getAutoSavedValue("state")
    st("list") = Vector(1L, 2L, 3L)
    st("obj") = scala.collection.mutable.LinkedHashMap[String, Any]("a" -> true, "b" -> null, "c" -> 1.5)
    st("text") = "quote\" brace} newline\n"
    kvs.persistAutosavedValues()

    val reopened = new KeyValueStore(spark, dir)
    val back = reopened.getAutoSavedValue("state")
    assert(back("list") == Vector(1L, 2L, 3L))
    assert(Json.obj(back("obj")).toSeq == Seq("a" -> true, "b" -> null, "c" -> 1.5))
    assert(back("text") == "quote\" brace} newline\n")
  }

  test("engine use_state persists at crawl end and recovers on the same store") {
    val dir = Files.createTempDirectory("usestate-engine").toString

    val e1 = mkEngine(dir)
    val st = e1.useState(Map("visited_hint" -> 0L))
    assert(st("visited_hint") == 0L)
    st("visited_hint") = 7L
    st("note") = "set before run"
    val res = e1.runRequests(seeds) // Exit event persists autosaved values
    assert(res.handledOkKeys.nonEmpty)

    // a NEW engine on the same store recovers the mutated state (the
    // default must lose to the persisted record)
    val e2 = mkEngine(dir)
    val recovered = e2.useState(Map("visited_hint" -> 0L))
    assert(recovered("visited_hint") == 7L)
    assert(recovered("note") == "set before run")

    // a different store starts from the default
    val e3 = mkEngine(Files.createTempDirectory("usestate-other").toString)
    assert(e3.useState(Map("visited_hint" -> 0L))("visited_hint") == 0L)
  }
}
