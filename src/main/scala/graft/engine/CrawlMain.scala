package graft.engine

import graft.SparkEntry
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.CrawlConfig
import graft.queue.FrontierStore

import java.nio.file.Files

/** CLI surface for the crawl engine: generates the deterministic synthetic
  * web at the requested size, runs a crawl, prints one JSON summary line.
  *
  * Usage: tools/run_main.sh graft.engine.CrawlMain [pagesPerHost] [hosts] [batchSize] [maxRequests] [seedsPerHost]
  *
  * Runs on `SPARK_GRAFT_CPUS` cores (default 4). `GRAFT_LINK_FACTOR`
  * multiplies every page's out-degree (default 1); `GRAFT_BLOOM` set
  * switches the store to bloom dedup.
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    val pagesPerHost = args.lift(0).map(_.toInt).getOrElse(200)
    val hosts = args.lift(1).map(_.toInt).getOrElse(4)
    val batchSize = args.lift(2).map(_.toInt).getOrElse(64)
    val maxRequests = args.lift(3).map(_.toLong).getOrElse(Long.MaxValue)
    val seedsPerHost = args.lift(4).map(_.toInt).getOrElse(1)
    val cpus = SparkEntry.defaultCpus
    val spark = SparkEntry.localSession("graft-crawl", cpus)

    val spec = WebSpec(hosts = hosts, pagesPerHost = pagesPerHost,
      otherOrgPages = pagesPerHost / 5, subHostPages = pagesPerHost / 5,
      nImages = pagesPerHost * 2,
      linkFactor = sys.env.getOrElse("GRAFT_LINK_FACTOR", "1").toInt)
    val site = SyntheticWeb.site(spark, spec)
    val store = new FrontierStore(
      spark, Files.createTempDirectory("crawl-main").toString,
      bloomDedup = sys.env.contains("GRAFT_BLOOM"))
    val engine = new CrawlEngine(
      spark, store, site.pages, site.robots, CrawlConfig(maxRequestsPerCrawl = maxRequests),
      claimBatchSize = batchSize, trackImages = false, trackOrder = false, statusAtFn = site.statusAt)
    // wide seed lists model the production shape (millions of sitemap seeds):
    // the frontier is immediately wide, so claim batches run full
    val seeds = for {
      h <- 0 until hosts
      i <- 0 until seedsPerHost
    } yield SyntheticWeb.urlOf(spec, h, i * 3 % pagesPerHost)
    val t0 = System.nanoTime()
    val result = engine.run(seeds)
    val secs = (System.nanoTime() - t0) / 1e9
    val processed = result.processedCount
    println(
      s"""{"pages":${spec.totalPages},"batch":$batchSize,"cpus":$cpus,""" +
        s""""fetches":${result.crawlOrder.size},"processed":$processed,""" +
        s""""seen":${engine.seenCount},"images":${result.emittedImageCount},""" +
        s""""batches":${result.batches},"secs":$secs,""" +
        s""""urls_per_sec":${processed / secs},"images_per_sec":${result.emittedImageCount / secs}}"""
    )
    store.close()
    spark.stop()
  }
}
