package graft.engine

import graft.SparkSpec
import graft.canon.{Robots, UrlCanon}
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, CrawlOracle}
import graft.queue.FrontierStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The per-micro-batch Spark execution budget of the serial crawl path:
  * pin, outcome aggregate, commit, fold pass (CrawlEngine header).
  */
class BatchExecutionsSpec extends SparkSpec {

  /** Executions a run pays once, whatever its batch count: page-table pin,
    * bound-session scan, seed commit and its fold, seen count, the final
    * metrics flush with the statistics write, and one compaction (the
    * store compacts every 8 commits).
    */
  val PerRunAllowance = 16

  /** Counts SQL executions started while `f` runs; waits until every
    * started execution has also ended on the listener bus.
    */
  private def countExecutions[T](f: => T): (T, Int) = {
    val starts = new AtomicInteger()
    val ends = new AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => starts.incrementAndGet()
        case _: SparkListenerSQLExecutionEnd => ends.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      val deadline = System.currentTimeMillis() + 20000L
      var last = -1
      while ((starts.get != ends.get || starts.get != last) && System.currentTimeMillis() < deadline) {
        last = starts.get
        Thread.sleep(300)
      }
      (r, starts.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a polite bloom micro-batch runs at most 5 Spark SQL executions") {
    import spark.implicits._
    val spec = WebSpec(hosts = 8, pagesPerHost = 16, otherOrgPages = 8, subHostPages = 8)
    val sp = spec // the closures must not capture the suite
    val pages = spark.createDataset((0L until spec.totalPages.toLong).map(g => SyntheticWeb.pageAt(sp, g))).toDF()
    val robots = SyntheticWeb.allRobots(spec)
      .map(r => r.host -> Robots.fromFetch(s"https://${r.host}", r.status, r.body)).toMap
    val seeds = for (h <- 0 until spec.hosts; i <- 0 until spec.pagesPerHost) yield SyntheticWeb.urlOf(spec, h, i)
    val root = Files.createTempDirectory("batchexec").toString
    val engine = new CrawlEngine(
      spark, new FrontierStore(spark, root, bloomDedup = true), pages, robots, CrawlConfig(),
      // crawl-delay 2 s hosts get 3 claims per 6 s batch: a few batches
      claimBatchSize = 2048, enforcePoliteness = true, batchPeriodMs = 6000L,
      trackImages = false, trackOrder = false,
      statusAtFn = (url, attempt) =>
        SyntheticWeb.statusAt(sp, CrawlOracle.hostIdx(sp, UrlCanon.parse(url).host), CrawlOracle.pageIdx(url), attempt))
    val (result, executions) = countExecutions(engine.run(seeds))
    // the metrics table holds one row per non-empty batch
    val nonEmpty = spark.read.parquet(s"$root/metrics").count().toInt
    val idle = result.batches - nonEmpty
    assert(nonEmpty >= 4, s"too few batches to measure: $nonEmpty")
    // an idle batch pays the pin, the aggregate and one pending count
    val budget = 5 * nonEmpty + 3 * idle + PerRunAllowance
    info(s"$executions executions over $nonEmpty non-empty and $idle idle batches (budget $budget)")
    assert(executions <= budget,
      s"$executions SQL executions for $nonEmpty non-empty + $idle idle batches; budget $budget")
  }
}
