package graft.autoscale

import graft.SparkSpec
import graft.engine.CrawlEngine
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, SeedRequest}
import graft.queue.FrontierStore

import java.nio.file.Files

/** X1-X3 batch-native autoscaling (reference autoscaled_pool.py:184-202 +
  * system_status.py:141-160): desired claim-batch size grows by ceil(5%)
  * while the loop keeps pace and claims fill, shrinks by ceil(5%) when the
  * recent overloaded-sample ratio crosses the threshold, and never grows
  * when claims come back under 90% of desired (frontier-constrained).
  */
class AutoscaleSpec extends SparkSpec {

  test("idle + full claims grow by ceil(5%) steps to max; overload shrinks; clamps hold") {
    val s = new AutoscaledBatchSizer(minBatch = 8, maxBatch = 128, initial = 100, autoscaleEvery = 1)
    // idle batches (wall < target), claims fill the desired size
    s.record(100, wallMs = 500, targetMs = 1000)
    assert(s.desired == 105) // ceil(0.05 * 100)
    s.record(105, 500, 1000)
    assert(s.desired == 111) // ceil(5.25)
    (1 to 10).foreach(_ => s.record(s.desired, 500, 1000))
    assert(s.desired == 128) // clamped at max
    // sustained overload flips is_system_idle and walks back down
    (1 to 3).foreach(_ => s.record(s.desired, 5000, 1000)) // ratio still < 0.6
    val beforeShrink = s.desired
    (1 to 20).foreach(_ => s.record(s.desired, 5000, 1000))
    assert(s.desired < beforeShrink)
    assert(!s.isSystemIdle)
    (1 to 200).foreach(_ => s.record(s.desired, 5000, 1000))
    assert(s.desired == 8) // clamped at min
  }

  test("claims under 90% of desired block scale-up (frontier-constrained)") {
    val s = new AutoscaledBatchSizer(minBatch = 8, maxBatch = 128, initial = 100, autoscaleEvery = 1)
    s.record(claimed = 50, wallMs = 500, targetMs = 1000) // half-full claim
    assert(s.desired == 100) // no growth
    s.record(claimed = 90, wallMs = 500, targetMs = 1000) // exactly floor(0.9*100)
    assert(s.desired == 105)
  }

  test("autoscaled crawl reaches the same result set as a fixed-batch crawl") {
    val site = SyntheticWeb.site(spark,
      WebSpec(hosts = 2, pagesPerHost = 60, otherOrgPages = 6, subHostPages = 6, nImages = 40))
    val seeds = Seq(SeedRequest("https://h0.example.com/p/1"), SeedRequest("https://h1.example.com/p/1"))

    val fixed = new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("as-fixed").toString),
      site.pages, site.robots, CrawlConfig(), claimBatchSize = 8, statusAtFn = site.statusAt)
      .runRequests(seeds)

    val sizer = new AutoscaledBatchSizer(minBatch = 2, maxBatch = 64, initial = 4, autoscaleEvery = 1)
    val scaled = new CrawlEngine(
      spark, new FrontierStore(spark, Files.createTempDirectory("as-scaled").toString),
      site.pages, site.robots, CrawlConfig(), claimBatchSize = 4, statusAtFn = site.statusAt,
      batchSizer = Some(sizer))
      .runRequests(seeds)

    // batching changed, semantics did not
    assert(scaled.seenKeys == fixed.seenKeys)
    assert(scaled.handledOkKeys == fixed.handledOkKeys)
    assert(scaled.failedKeys == fixed.failedKeys)
  }
}
