package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle}
import graft.queue.FrontierStore
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** VERDICT r4 next-round #4: pipelined claim in PARITY mode. With FIFO-only
  * ordering (no forefront in flight) and a deep frontier, the prefetched
  * claim — built on the pre-commit snapshot minus in-flight keys — is
  * EXACTLY the claim the serial contract path would produce, so the strict
  * ordering contract survives the overlap. These tests pin:
  *   - order parity vs the single-threaded oracle at concurrency 1 with
  *     the prefetch measurably engaged;
  *   - final-state parity at batch > 1 with the prefetch engaged;
  *   - the static fallback: forefront enqueue disables the overlap;
  *   - the per-batch fallback: a resumed store holding forefront rows
  *     blocks the prefetch while they are in flight, and the total claim
  *     order stays exact.
  */
class PipelinedParitySpec extends SparkSpec {

  val spec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 18, otherOrgPages = 6, subHostPages = 6, nImages = 40)
  // deep web for the batch>1 overlap: the frontier must hold a full next
  // batch beyond the in-flight rows or the depth gate (correctly) defers
  val deepSpec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 60, otherOrgPages = 6, subHostPages = 6, nImages = 40)
  val seeds = Seq("https://h0.example.com/p/0", "https://h1.example.com/p/0")

  private def mkEngine(spec: WebSpec, cfg: CrawlConfig, batchSize: Int): CrawlEngine = {
    val site = SyntheticWeb.site(spark, spec)
    new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("pipepar").toString),
      site.pages, site.robots, cfg,
      claimBatchSize = batchSize, statusAtFn = site.statusAt)
  }

  test("parity crawl order at concurrency 1 with the prefetch engaged") {
    val cfg = CrawlConfig(maxRequestsPerCrawl = 40)
    val oracle = CrawlOracle.run(spec, seeds, cfg)
    val res = mkEngine(spec, cfg, batchSize = 1).run(seeds)
    assert(res.crawlOrder == oracle.crawlOrder)
    assert(res.handledOkKeys == oracle.handledOkKeys)
    assert(res.failedKeys == oracle.failedKeys)
    assert(res.prefetchedBatches > 0,
      "the pipelined overlap never engaged on a deep-frontier parity crawl")
  }

  test("final-state parity at batch 4 with the prefetch engaged") {
    val cfg = CrawlConfig()
    val oracle = CrawlOracle.run(deepSpec, seeds, cfg)
    val res = mkEngine(deepSpec, cfg, batchSize = 4).run(seeds)
    assert(res.seenKeys == oracle.seenKeys)
    assert(res.handledOkKeys == oracle.handledOkKeys)
    assert(res.failedKeys == oracle.failedKeys)
    assert(res.emittedImageIds.sorted == oracle.emittedImageIds.sorted)
    assert(res.prefetchedBatches > 0)
  }

  test("forefront enqueue statically disables the parity-mode overlap") {
    val cfg = CrawlConfig(enqueueForefront = true)
    val oracle = CrawlOracle.run(spec, seeds, cfg)
    val res = mkEngine(spec, cfg, batchSize = 4).run(seeds)
    assert(res.seenKeys == oracle.seenKeys)
    assert(res.handledOkKeys == oracle.handledOkKeys)
    assert(res.prefetchedBatches == 0,
      "prefetch must not engage when forefront rows can enter the queue mid-flight")
  }

  test("resumed store with forefront rows: per-batch guard defers the overlap, order stays exact") {
    import spark.implicits._
    // a store pre-populated by an EARLIER run with mixed forefront rows —
    // the static gate can't see them, so the per-batch in-flight check must
    val host = "h0.example.com"
    val store = new FrontierStore(spark, Files.createTempDirectory("pipeff").toString)
    // 16 pages, all present in the pages table (pagesPerHost = 18):
    // forefront 0..5, regular 6..15
    val adds = spark.range(16).select(
      concat(lit("k"), col("id")).as("unique_key"),
      concat(lit(s"https://$host/p/"), col("id")).as("url"),
      lit(host).as("host"),
      lit(null).cast("string").as("label"),
      lit("GET").as("method"),
      lit(0).as("depth"),
      (col("id") < 6).as("forefront"),
      col("id").as("cand_order"))
    store.addBatch(adds)
    val engine = new CrawlEngine(
      spark, store, SyntheticWeb.site(spark, spec).pages, Map.empty,
      CrawlConfig(maxCrawlDepth = 0, respectRobots = false),
      claimBatchSize = 4)
    val res = engine.runRequests(Seq.empty)
    // expected total order: forefront LIFO (5..0), then regular FIFO (6..15);
    // batches = [5,4,3,2] [1,0,6,7] [8..11] [12..15] — the first two carry
    // forefront rows (guarded, serial), only batch 4 can come from prefetch
    val expected = ((5 to 0 by -1) ++ (6 to 15)).map(i => s"https://$host/p/$i")
    assert(res.crawlOrder == expected)
    assert(res.prefetchedBatches == 1,
      "exactly the post-forefront deep batch should have been prefetched")
  }
}
