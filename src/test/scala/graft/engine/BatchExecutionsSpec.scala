package graft.engine

import graft.SparkSpec
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.CrawlConfig
import graft.queue.FrontierStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The per-micro-batch Spark execution budget of the serial crawl path:
  * pin, outcome aggregate, commit, fold pass (CrawlEngine header).
  */
class BatchExecutionsSpec extends SparkSpec {

  /** Executions a run pays once, whatever its batch count: page-table pin,
    * bound-session scan, seed commit and its fold, the final metrics flush
    * and the statistics write, and one compaction with its summary rebuild
    * (the store compacts every 8 commits). The end of the crawl is proven
    * from the store's bookkeeping and the seen count is read on demand, so
    * neither costs an execution.
    */
  val PerRunAllowance = 8

  /** The call sites (long form) of the SQL executions started while `f`
    * runs; waits until every started execution has also ended on the
    * listener bus.
    */
  private def executionSites[T](f: => T): (T, Seq[String]) = {
    val sites = new ConcurrentLinkedQueue[String]()
    val ends = new AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.add(s.details)
        case _: SparkListenerSQLExecutionEnd => ends.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      val deadline = System.currentTimeMillis() + 20000L
      var last = -1
      while ((sites.size != ends.get || sites.size != last) && System.currentTimeMillis() < deadline) {
        last = sites.size
        Thread.sleep(300)
      }
      (r, sites.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def countExecutions[T](f: => T): (T, Int) = {
    val (r, sites) = executionSites(f)
    (r, sites.size)
  }

  private val spec = WebSpec(hosts = 8, pagesPerHost = 16, otherOrgPages = 8, subHostPages = 8)
  private val seeds = for (h <- 0 until spec.hosts; i <- 0 until spec.pagesPerHost) yield SyntheticWeb.urlOf(spec, h, i)

  /** A polite bloom bench-mode engine over `spec` on the store at `root`. */
  private def politeEngine(root: String): CrawlEngine = {
    val site = SyntheticWeb.site(spark, spec)
    new CrawlEngine(
      spark, new FrontierStore(spark, root, bloomDedup = true), site.pages, site.robots, CrawlConfig(),
      // crawl-delay 2 s hosts get 3 claims per 6 s batch: a few batches
      claimBatchSize = 2048, enforcePoliteness = true, batchPeriodMs = 6000L,
      trackImages = false, trackOrder = false, statusAtFn = site.statusAt)
  }

  test("a polite bloom micro-batch runs at most 5 Spark SQL executions") {
    val root = Files.createTempDirectory("batchexec").toString
    val engine = politeEngine(root)
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

  test("a resumed run over a drained store pins no batch and writes no delta") {
    val root = Files.createTempDirectory("batchexec-drained").toString
    politeEngine(root).run(seeds)
    // reopen the finished store and re-send the same seeds: every seed is
    // already seen and the bookkeeping proves the drain
    val engine = politeEngine(root)
    val (result, sites) = executionSites(engine.run(seeds))
    // executions whose call stack passes through cls.method
    def at(cls: String, method: String): Int =
      sites.count(_.linesIterator.exists(l => l.contains(s"$cls.") && l.contains(method)))
    val pins = at("graft.engine.CrawlEngine", "materialize")
    val deltaWrites = at("graft.queue.FrontierStore", "commitEvents")
    info(s"${sites.size} executions: $pins pins, $deltaWrites delta writes")
    assert(result.processedCount == 0 && result.batches == 0)
    assert(pins == 0, sites.mkString("\n---\n"))
    assert(deltaWrites == 0, sites.mkString("\n---\n"))
  }
}
