package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's instruments. Disabled, every call is a pass-through:
  * no listener, no spans, no counters.
  *
  * Spans are recorded around the benchmark's own calls into the library
  * (name, start, end, parent) and kept in memory until the run ends. The
  * listener sees Spark jobs, stages and tasks only between `start()` and
  * `stop()`; a job counts toward the per-layer numbers when it starts inside
  * a timed span.
  */
final class Tracer(spark: SparkSession, enabled: Boolean) {

  private final case class Span(name: String, parent: String, startMs: Long, endMs: Long, timed: Boolean)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[String] = Nil
  private val listener = new LayerListener
  private var before: Counters = _
  private var after: Counters = _

  def span[T](name: String, timed: Boolean = false, layer: String = null)(f: => T): T =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption.getOrElse("")
      val oldSpan = sc.getLocalProperty(LayerListener.SpanKey)
      val oldLayer = sc.getLocalProperty(LayerListener.LayerKey)
      if (timed) sc.setLocalProperty(LayerListener.SpanKey, name)
      if (layer != null) sc.setLocalProperty(LayerListener.LayerKey, layer)
      stack = name :: stack
      val t0 = System.currentTimeMillis()
      try f
      finally {
        spans.synchronized { spans += Span(name, parent, t0, System.currentTimeMillis(), timed) }
        stack = stack.tail
        sc.setLocalProperty(LayerListener.SpanKey, oldSpan)
        sc.setLocalProperty(LayerListener.LayerKey, oldLayer)
      }
    }

  def spanSeconds(name: String): Double =
    spans.filter(_.name == name).map(s => (s.endMs - s.startMs) / 1e3).sum

  def start(): Unit = if (enabled) {
    // the whole stack, so the innermost library frame is never cut off
    System.setProperty("spark.callstack.depth", "1000")
    spark.sparkContext.addSparkListener(listener)
    before = Counters.take(resetPeaks = true)
  }

  def stop(): Unit = if (enabled) {
    after = Counters.take(resetPeaks = false)
    listener.drain()
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Per-layer metrics of the timed region; empty when disabled. */
  def layerMetrics(): Map[String, Double] =
    if (!enabled || after == null) Map.empty
    else {
      val timed = spans.filter(_.timed).map(s => (s.startMs, s.endMs)).toSeq
      listener.metrics(timed) ++ Counters.delta(before, after) ++ exchangesPerOp()
    }

  /** Shuffle exchanges in each catalog operator's final executed plans,
    * averaged over the operator's timed runs.
    */
  private def exchangesPerOp(): Map[String, Double] = {
    val runs = spans.filter(s => s.timed && s.name.startsWith("op:")).groupBy(_.name).map { case (k, v) => k -> v.size }
    listener.exchangesBySpan().collect {
      case (span, n) if runs.contains(span) => s"ops.${span.stripPrefix("op:")}_exchanges" -> n.toDouble / runs(span)
    }
  }

  def spansJson: String =
    spans.map(s => Json.obj(
      "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString, "timed" -> s.timed.toString))
      .mkString("[", ",\n", "]")
}

/** JVM and Spark-internal counters read before and after the timed region. */
final case class Counters(compiles: Long, compileMs: Double, ruleNs: Long, ruleRuns: Long, gcMs: Long, heapPeak: Long)

object Counters {
  def take(resetPeaks: Boolean): Counters = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val rules = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val peak = pools.map(_.getPeakUsage.getUsed).sum
    if (resetPeaks) pools.foreach(_.resetPeakUsage())
    Counters(
      h.getCount, h.getCount * h.getSnapshot.getMean, rules.time, rules.numRuns,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum, peak)
  }

  /** The histogram behind compile time keeps a decaying sample, so
    * `codegen.compile_ms` is count x sample mean: an estimate.
    */
  def delta(a: Counters, b: Counters): Map[String, Double] = Map(
    "codegen.compiles" -> (b.compiles - a.compiles).toDouble,
    "codegen.compile_ms" -> math.max(0.0, b.compileMs - a.compileMs),
    "catalyst.optimize_ms" -> (b.ruleNs - a.ruleNs) / 1e6,
    "catalyst.rule_runs" -> (b.ruleRuns - a.ruleRuns).toDouble,
    "jvm.gc_s" -> (b.gcMs - a.gcMs) / 1e3,
    "jvm.heap_peak_mb" -> b.heapPeak / 1048576.0)
}

/** Attributes Spark jobs, stages and tasks to the library's layers.
  *
  * A job's layer comes from, in order: a streaming query's id property
  * (`streaming`); the innermost `graft` frame of its SQL execution's call
  * site; the innermost `graft` frame of its own call site; the layer of the
  * benchmark span that started it; otherwise `other`.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private final class Job(val layer: String, val span: String, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  private final class Stage {
    var taskMs = 0L
    var readBytes = 0L
    var writeBytes = 0L
    var spillBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val execLayer = mutable.HashMap.empty[Long, Option[String]]
  private val execPlan = mutable.HashMap.empty[Long, SparkPlanInfo]
  private val execSpan = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execLayer(e.executionId) = layerOf(e.details)
        execPlan(e.executionId) = e.sparkPlanInfo
      case e: SparkListenerSQLAdaptiveExecutionUpdate =>
        execPlan(e.executionId) = e.sparkPlanInfo
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val execId = prop("spark.sql.execution.id").map(_.toLong)
    val rootId = prop("spark.sql.execution.root.id").map(_.toLong)
    val resultStage = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val layer =
      if (prop("sql.streaming.queryId").isDefined) "streaming"
      else execId.flatMap(execLayer.get).flatten
        .orElse(rootId.flatMap(execLayer.get).flatten)
        .orElse(resultStage.flatMap(s => layerOf(s.details)))
        .orElse(prop(LayerKey))
        .getOrElse("other")
    val span = prop(SpanKey).getOrElse("")
    execId.foreach(id => if (span.nonEmpty) execSpan.getOrElseUpdate(id, span))
    jobs(e.jobId) = new Job(layer, span, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new Stage)
    st.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.taskMs += m.executorRunTime
      st.readBytes += m.shuffleReadMetrics.totalBytesRead
      st.writeBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Waits (bounded) until every job seen so far has ended. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def open = synchronized(jobs.values.exists(_.endMs < 0))
    Thread.sleep(200)
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def exchangesBySpan(): Map[String, Int] = synchronized {
    execSpan.toSeq.groupBy(_._2).map { case (span, ids) =>
      span -> ids.map { case (id, _) => execPlan.get(id).map(exchanges).getOrElse(0) }.sum
    }
  }

  /** Per-layer sums over jobs that started inside a timed interval, plus
    * the timed wall split across layers: each instant goes in equal shares
    * to the layers of the jobs running then, and to `driver.gap_s` when
    * none runs.
    */
  def metrics(timed: Seq[(Long, Long)]): Map[String, Double] = synchronized {
    def inTimed(t: Long) = timed.exists { case (a, b) => t >= a && t <= b }
    val counted = jobs.filter { case (_, j) => inTimed(j.startMs) }
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers; k <- Seq("jobs", "job_s", "wall_s", "task_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "skew"))
      out(s"$l.$k") = 0.0
    def add(k: String, v: Double): Unit = out(k) = out(k) + v
    counted.values.foreach { j =>
      add(s"${j.layer}.jobs", 1)
      if (j.endMs >= j.startMs) add(s"${j.layer}.job_s", (j.endMs - j.startMs) / 1e3)
    }
    for ((sid, st) <- stages; jid <- stageJob.get(sid); j <- counted.get(jid)) {
      add(s"${j.layer}.task_s", st.taskMs / 1e3)
      add(s"${j.layer}.shuffle_read_mb", st.readBytes / 1048576.0)
      add(s"${j.layer}.shuffle_write_mb", st.writeBytes / 1048576.0)
      add(s"${j.layer}.spill_mb", st.spillBytes / 1048576.0)
      if (st.durations.nonEmpty) {
        val d = st.durations.sorted
        val med = d(d.size / 2).toDouble
        val skew = if (med > 0) d.last / med else 1.0
        out(s"${j.layer}.skew") = math.max(out(s"${j.layer}.skew"), skew)
      }
    }
    var gap = 0.0
    for ((a, b) <- timed) {
      val live = counted.values.toSeq
        .map(j => (math.max(j.startMs, a), math.min(if (j.endMs < 0) b else j.endMs, b), j.layer))
        .filter { case (s, e, _) => e > s }
      val cuts = (Seq(a, b) ++ live.flatMap { case (s, e, _) => Seq(s, e) }).distinct.sorted
      cuts.zip(cuts.tail).foreach { case (s, e) =>
        val running = live.filter { case (js, je, _) => js <= s && je >= e }
        if (running.isEmpty) gap += (e - s) / 1e3
        else running.foreach { case (_, _, l) => add(s"$l.wall_s", (e - s) / 1e3 / running.size) }
      }
    }
    out("driver.gap_s") = gap
    out("trace.timed_wall_s") = timed.map { case (a, b) => (b - a) / 1e3 }.sum
    out.toMap
  }
}

object LayerListener {
  val SpanKey = "perfbench.span"
  val LayerKey = "perfbench.layer"
  val Layers: Seq[String] = Seq("engine", "queue", "dedup", "ops", "streaming", "other")
  private val Named = Set("engine", "queue", "dedup", "ops", "streaming")

  /** Layer of the innermost `graft` frame in a call site, if any:
    * `graft.<module>.X` gives `<module>` for the named modules,
    * `graft.QueryCatalog` gives `ops`, any other library frame `other`.
    */
  def layerOf(callSite: String): Option[String] =
    Option(callSite).flatMap(_.split("\n").iterator.map(_.trim).find(_.startsWith("graft.")))
      .map { frame =>
        val parts = frame.takeWhile(_ != '(').split('.')
        if (parts.length > 2 && Named(parts(1))) parts(1)
        else if (parts(1).startsWith("QueryCatalog")) "ops"
        else "other"
      }

  def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange") 1 else 0) + p.children.map(exchanges).sum
}
