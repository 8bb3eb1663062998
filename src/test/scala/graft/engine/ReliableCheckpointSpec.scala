package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, SeedRequest}
import graft.ops.GraphOps
import graft.queue.FrontierStore

import java.nio.file.Files

/** VERDICT r4 next-round #3: the reliable-checkpoint materialization tier.
  * `localCheckpoint(true)` is executor-resident — correct and fast locally,
  * but on a real cluster an executor loss mid-batch kills the job (the
  * claim's post-zipWithIndex lineage is deliberately non-deterministic and
  * must not recompute). `CrawlConfig.reliableCheckpointDir` /
  * `GraphOps.connectedComponents(reliableCheckpointDir = ...)` switch the
  * same sites to durable `checkpoint(true)` writes. These tests pin that
  * the tier changes ONLY durability: results are identical either way, and
  * the durable run actually writes RDD checkpoint files to the configured
  * directory.
  */
class ReliableCheckpointSpec extends SparkSpec {

  val spec: WebSpec = WebSpec(hosts = 2, pagesPerHost = 30, otherOrgPages = 4, subHostPages = 4, nImages = 30)

  private def runCrawl(cfg: CrawlConfig): CrawlEngine#EngineResult = {
    val site = SyntheticWeb.site(spark, spec)
    val engine = new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("relck").toString),
      site.pages, site.robots, cfg,
      claimBatchSize = 16, statusAtFn = site.statusAt)
    engine.runRequests(Seq(SeedRequest("https://h0.example.com/p/0")))
  }

  test("crawl with reliable checkpoints is result-identical to the local tier, and durable files exist") {
    val local = runCrawl(CrawlConfig())
    val ckDir = Files.createTempDirectory("relck_dir").toString
    val durable = runCrawl(CrawlConfig(reliableCheckpointDir = Some(ckDir)))
    assert(durable.crawlOrder == local.crawlOrder)
    assert(durable.seenKeys == local.seenKeys)
    assert(durable.handledOkKeys == local.handledOkKeys)
    assert(durable.failedKeys == local.failedKeys)
    assert(durable.emittedImageIds == local.emittedImageIds)
    // the tier must actually have written reliable checkpoint data
    val wrote = Files.walk(java.nio.file.Paths.get(ckDir)).count() > 1
    assert(wrote, s"no reliable checkpoint files under $ckDir")
  }

  test("connected components with reliable checkpoints match the local tier on a deep chain") {
    import spark.implicits._
    // a 64-chain forces the pointer-jump rounds through the durable tier too
    val edges = (0 until 63).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val local = GraphOps.connectedComponents(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val ckDir = Files.createTempDirectory("relck_cc").toString
    val durable = GraphOps.connectedComponents(edges, "src", "dst",
        reliableCheckpointDir = Some(ckDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(durable.sameElements(local))
    assert(durable.forall(_._2 == 0L))
    assert(Files.walk(java.nio.file.Paths.get(ckDir)).count() > 1)
  }
}
