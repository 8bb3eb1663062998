package graft.engine

import graft.canon.{EnqueueStrategy, Globs, Robots, RobotsRules, UrlCanon}
import graft.expr.UrlFunctions
import graft.ml.AdaptiveDelegation
import graft.oracle.{CrawlConfig, RequestOptions, SeedRequest}
import graft.queue.FrontierStore
import graft.schema.RequestState
import graft.util.Trace
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The Spark-native crawl loop (SURVEY.md §3.1): an iterative micro-batch
  * driver loop of claim → fetch → handle → commit over the FrontierStore.
  *
  * One micro-batch off the prefetch path runs four Spark executions:
  *   1. pin      — ONE linear plan, localCheckpoint-ed: the claim
  *                 (FrontierStore.claimSet, top-k under per-host quota,
  *                 ranked in claim order), the robots gate (F6), the
  *                 session-collision check, the status join against the
  *                 page table (synthetic fetch, S9), one redirect hop with
  *                 its strategy re-check (F8), and the body digest (links,
  *                 base URL, blocked flag). Every claimed row keeps a class:
  *                 fetched, redirect-fail, robots-skip or collided; only
  *                 fetched rows ever reach statusAtFn.
  *   2. outcomes — ONE read of the pin before the commit: an aggregate by
  *                 (outcome, retry count, host when polite) in bench mode,
  *                 the claim-ordered rows in parity mode. It gives the
  *                 claimed count, the outcome/image counters and the
  *                 politeness inputs (claimed and 429s per host, largest
  *                 Retry-After).
  *   3. commit   — classify (F12, R1), handler (href extraction L1,
  *                 absolutize, strategy + pattern + depth + robots filters
  *                 F1-F10, per-page limit F4), dedup + enqueue, terminal
  *                 and reclaim events: one delta write (Q1).
  *   4. fold     — one pass over the committed delta: the store's claim
  *                 summaries and, in bloom mode, the seen-shards.
  * Optional features add their own reads of the pin (adaptive feedback,
  * error snapshots, failed-request handler, image ids, session/proxy
  * accounting); an idle batch adds one pending count.
  *
  * Politeness (P2-P4) runs on a virtual batch clock: per-host quotas are
  * computed driver-side from robots crawl-delay + 429 backoff state and
  * enforced inside the claim window. Disabled for oracle-parity runs
  * (the oracle models a zero politeness budget).
  */
final class CrawlEngine(
    spark: SparkSession,
    store: FrontierStore,
    pages: DataFrame, // PageRow schema
    robotsByHost: Map[String, RobotsRules],
    cfg: CrawlConfig,
    claimBatchSize: Int = 64,
    enforcePoliteness: Boolean = false,
    batchPeriodMs: Long = 1000L,
    statusAtFn: (String, Int) => Int = (_, _) => 200, // (url, attempt) => status
    trackImages: Boolean = true, // false: count images, don't collect ids (bench mode)
    trackOrder: Boolean = true, // false: per-batch driver bookkeeping is a 6-row aggregate, not an O(batch) collect
    // Retry-After header surface (P3): (url, attempt) => seconds; when a 429
    // row carries one, it beats the exponential backoff schedule
    // (_throttling_request_manager.py:311-326)
    retryAfterFn: (String, Int) => Option[Int] = (_, _) => None,
    // X5 keep_alive idle hook: batchIdx => Some(new seeds) keeps the crawl
    // alive (possibly with no new work this tick); None stops it
    onIdle: Int => Option[Seq[SeedRequest]] = _ => None,
    // X1-X3 autoscaling: when set, the desired CLAIM BATCH SIZE replaces
    // the fixed claimBatchSize and adapts to batch lateness (see
    // graft.autoscale.AutoscaledBatchSizer)
    batchSizer: Option[graft.autoscale.AutoscaledBatchSizer] = None,
    // Robots-at-scale path (SCALE.md §Crawl loop): rules as a TABLE
    // (host, status, body) JOINED against the claim set and the enqueue
    // candidates instead of a whole-map driver broadcast — the shape for
    // 10^6+ hosts. When set, `robotsByHost` may be empty; each executor
    // parses a host's rules at most once (Robots.cachedFromFetch).
    robotsTable: Option[DataFrame] = None
) extends Serializable {

  import CrawlEngine._

  final case class EngineResult(
      crawlOrder: Seq[String],
      seenKeys: Set[String],
      handledOkKeys: Set[String],
      failedKeys: Set[String],
      skippedRobotsKeys: Set[String],
      emittedImageIds: Seq[String], // empty when trackImages = false
      emittedImageCount: Long,
      processedCount: Long,
      batches: Int,
      handledTags: Map[String, String] = Map.empty, // uniqueKey -> router handler tag
      collidedKeys: Set[String] = Set.empty, // session-collision terminal failures
      proxyAssignments: Map[String, (String, Option[Int])] = Map.empty, // key -> (url, tier)
      // key -> the dispatched session's generated browser-like headers
      // (fingerprint_suite surface; stable per session)
      headerAssignments: Map[String, Map[String, String]] = Map.empty,
      // bench mode (trackOrder=false): proxy url -> dispatch count — the
      // assignment MULTISET (per-key maps are a parity-mode surface)
      proxyAssignmentCounts: Map[String, Long] = Map.empty,
      // batches served from a pipelined prefetch (diagnostic: specs assert
      // the overlap actually engaged / correctly fell back)
      prefetchedBatches: Int = 0,
      // tier -> dispatch count (tiered proxy configs; both modes) — the
      // multiset form of the tier climb, comparable across parity/bench
      proxyTierCounts: Map[Int, Long] = Map.empty,
      // adaptive delegation (reference AdaptivePlaywrightCrawlerStatisticState
      // counters + the detection log): static-only dispatches, browser
      // dispatches, checker-failed static runs, url -> detected type
      httpOnlyRuns: Long = 0L,
      browserRuns: Long = 0L,
      renderingMispredictions: Long = 0L,
      adaptiveDetections: Map[String, String] = Map.empty
  )

  def run(seeds: Seq[String]): EngineResult = runRequests(seeds.map(u => SeedRequest(u)))

  /** Per-batch materialization tier (VERDICT r4 next-round #3). Local
    * checkpoints are executor-resident: fast, but NOT fault-tolerant — on a
    * real cluster an executor loss mid-batch kills the job, and recompute
    * is not an option here because the pin's claim reads the pre-commit
    * state, which a recompute after the commit would no longer see. With
    * `cfg.reliableCheckpointDir` set, the same sites write RELIABLE
    * checkpoints (HDFS/object store), so a long batch survives executor
    * loss; results are identical either way (ReliableCheckpointSpec pins
    * that).
    */
  private def materialize(df: DataFrame): DataFrame =
    if (cfg.reliableCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  def runRequests(seeds: Seq[SeedRequest]): EngineResult = {
    val runT0 = System.nanoTime()
    stopRequested = false // each run() honors only ITS stop() calls
    aeCounter = 0 // C7 salt counter is per-run (mirrors the oracle)
    import spark.implicits._
    UrlFunctions.register(spark)
    // error-handler replacement can move a key across host buckets; the
    // store's bucket-local compaction then needs latest-wins dedup on read
    if (cfg.errorHandler.isDefined) store.keysMayChangeBuckets = true

    val sc = spark.sparkContext
    cfg.reliableCheckpointDir.foreach(sc.setCheckpointDir)
    val robotsBc = sc.broadcast(robotsByHost)
    val respectRobots = cfg.respectRobots
    val robotsAllowedUdf = udf { (url: String) =>
      if (!respectRobots || url == null) true
      else {
        val host = UrlCanon.normalizeHost(UrlCanon.parse(url).host)
        robotsBc.value.get(host).forall(_.isAllowed(url))
      }
    }

    // --- robots TABLE mode (SCALE.md §Crawl loop) ----------------------------
    // Rules ride a join keyed by host instead of a whole-map broadcast:
    // only hosts actually PRESENT in the claim set / candidate set move,
    // and each executor parses a body at most once (per-JVM cache). A
    // missing robots row (left-join null status) means "no robots.txt" =>
    // allowed, matching the map path's `forall`.
    val robotsJoinMode = robotsTable.isDefined && respectRobots
    val robotsRulesUdf = udf { (url: String, host: String, st: java.lang.Integer, body: String) =>
      if (url == null) false
      else st == null || Robots.cachedFromFetch(host, st.intValue(), body).isAllowed(url)
    }
    lazy val robotsRt = robotsTable.get.select(
      col("host").as("rb_host"), col("status").as("rb_status"), col("body").as("rb_body"))
    /** Filter `df` to rows whose `urlCol` passes robots, via the table join. */
    def robotsFilterJoin(df: DataFrame, urlCol: String, hostCol: Column): DataFrame =
      df.withColumn("__rb_key", hostCol)
        .join(robotsRt, col("__rb_key") === col("rb_host"), "left")
        .filter(robotsRulesUdf(col(urlCol), col("__rb_key"), col("rb_status"), col("rb_body")))
        .drop("__rb_key", "rb_host", "rb_status", "rb_body")
    /** Driver-side robots lookup for a small URL set (seed gate F7). */
    def robotsAllowsDriver(urls: Seq[String]): Map[String, Boolean] =
      if (!respectRobots) urls.map(_ -> true).toMap
      else if (!robotsJoinMode)
        urls.map { u =>
          val host = UrlCanon.normalizeHost(UrlCanon.parse(u).host)
          u -> robotsByHost.get(host).forall(_.isAllowed(u))
        }.toMap
      else {
        val hosts = urls.map(u => UrlCanon.normalizeHost(UrlCanon.parse(u).host)).distinct
        val rows = robotsRt.filter(col("rb_host").isInCollection(hosts)).collect()
          .map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
        urls.map { u =>
          val host = UrlCanon.normalizeHost(UrlCanon.parse(u).host)
          u -> rows.get(host).forall { case (st, body) =>
            Robots.cachedFromFetch(host, st, body).isAllowed(u)
          }
        }.toMap
      }
    val statusFn = statusAtFn
    // R7: with a request-handler timeout configured, every per-request
    // fetch/handler call races a wall-clock deadline (TimeBoxed); a timeout
    // yields the sentinel status classified RETRYABLE below. Default path
    // is the direct call — zero extra machinery.
    val statusUdf = cfg.requestHandlerTimeoutMs match {
      case Some(t) =>
        udf { (url: String, attempt: Int) =>
          TimeBoxed.run(t) { statusFn(url, attempt) }
            .getOrElse(CrawlEngine.StatusHandlerTimeout)
        }
      case None => udf { (url: String, attempt: Int) => statusFn(url, attempt) }
    }
    val raFn = retryAfterFn
    val retryAfterUdf = udf { (url: String, attempt: Int) => raFn(url, attempt).getOrElse(-1) }

    val includeP = cfg.includePatterns
    val excludeP = cfg.excludePatterns
    val patternsOkUdf = udf { (url: String) =>
      if (url == null) false
      else if (excludeP.exists(g => Globs.matches(g, url))) false
      else includeP.isEmpty || includeP.exists(g => Globs.matches(g, url))
    }

    val pagesDf = pinPages(spark, pages)
    Trace.span("engine.pages-pin")(pagesDf.count())

    // --- seed enqueue (S1 + F7: robots filter before add) -------------------
    // Seeds are driver-provided (small) so the full Request row — method,
    // payload, headers, user_data, retry overrides — is built driver-side;
    // the extended unique key (C2) comes straight from SeedRequest.
    if (cfg.preFillSessions > 0) sessionPool.fillTo(cfg.preFillSessions, 0L)

    // Rebuild the bound-session-id set from persisted frontier state
    // (ADVICE r3 #3): after a kill+resume the seeds of THIS run are empty,
    // but rows already in the store may carry a `session_id` binding — the
    // collision check must see them. One tiny aggregate per run start
    // (bindings are rare; an unbound store contributes zero rows).
    boundSessionIds ++= store.state()
      .filter(col("session_id").isNotNull && col("status") =!= graft.schema.Status.Handled)
      .select(col("session_id")).distinct().collect().map(_.getString(0))

    def enqueueSeeds(srs: Seq[SeedRequest]): Unit = {
      if (srs.isEmpty) return
      val seedAllowed = robotsAllowsDriver(srs.map(_.url))
      val rows = srs.zipWithIndex.collect {
        case (sr, i) if seedAllowed(sr.url) =>
          // C7 always_enqueue: the salt defeats dedup (reference
          // _request.py:309-310). Default is a deterministic per-run
          // counter (parity-comparable); randomAlwaysEnqueueSalt uses the
          // reference's crypto-random object id (C6, crypto.py:21-24).
          val key =
            if (sr.alwaysEnqueue) {
              val salt =
                if (cfg.randomAlwaysEnqueueSalt) graft.canon.Ids.randomObjectId()
                else { val c = f"ae$aeCounter%06d"; aeCounter += 1; c }
              s"$salt|${sr.uniqueKey}"
            } else sr.uniqueKey
          org.apache.spark.sql.Row(
            key,
            sr.url,
            UrlCanon.normalizeHost(UrlCanon.parse(sr.url).host),
            sr.label.orNull,
            sr.method.toUpperCase,
            sr.payload,
            if (sr.headers == null) null else sr.headers.toMap,
            sr.userDataJson.orNull,
            sr.sessionId.orNull,
            0,
            false,
            sr.noRetry,
            sr.maxRetries.map(Int.box).orNull,
            i.toLong
          )
      }
      boundSessionIds ++= srs.flatMap(_.sessionId)
      val seedDf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, 4))),
        CrawlEngine.seedSchema)
      store.addBatch(seedDf, candBound = rows.size.toLong)
    }
    Trace.span("engine.seed-enqueue")(enqueueSeeds(seeds))

    val crawlOrder = mutable.ArrayBuffer.empty[String]
    val handledTags = mutable.HashMap.empty[String, String]
    val collidedSessions = mutable.HashSet.empty[String]
    val proxyAssignments = mutable.HashMap.empty[String, (String, Option[Int])]
    val headersByKey = mutable.HashMap.empty[String, Map[String, String]]
    val proxyAssignmentCounts = mutable.HashMap.empty[String, Long]
    val proxyTierCounts = mutable.HashMap.empty[Int, Long]
    // last_proxy_tier per IN-FLIGHT request (reference `last_proxy_tier`
    // persisted on the Request row, _request.py:52-53). Tier assignment
    // happens in the driver-side disposition pass, which runs CONCURRENTLY
    // with the batch commit — so the tier can't ride the already-committed
    // retry event row; instead the map (plus the rotation/tier-tracker
    // state) persists to a KVS beside the frontier on the flush cadence
    // and restores at run start, so a resumed crawl CONTINUES its tier
    // climb instead of restarting it (VERDICT r3 next-round #4). Terminal
    // requests are evicted, so the map holds only in-flight keys.
    val lastProxyTierByKey = mutable.HashMap.empty[String, Option[Int]]
    val proxyKvs: Option[graft.storage.KeyValueStore] =
      cfg.proxyConfiguration.map(_ => new graft.storage.KeyValueStore(spark, s"${store.root}/proxy_kvs"))
    proxyKvs.foreach { kvs =>
      kvs.getJson("__PROXY_CONF_STATE").foreach(cfg.proxyConfiguration.get.restoreStateFromJson)
      kvs.getJson("__PROXY_TIERS_BY_KEY").foreach { j =>
        graft.util.Json.obj(graft.util.Json.parse(j)).foreach { case (k, v) =>
          lastProxyTierByKey(k) = Option(v).map(graft.util.Json.long(_).toInt)
        }
      }
    }
    // --- bench-mode tiered proxies: history-as-data (VERDICT r4 #5) ---------
    // Parity mode walks the tier tracker one request at a time on the
    // driver (exact, O(crawl) driver hops — the contract surface). Bench
    // mode keeps the per-DOMAIN tracker state (histogram + current tier)
    // in a TABLE, the per-request tier history on the frontier row's
    // last_proxy_tier column, and folds each batch's tier transitions
    // executor-side per host partition with the SAME ProxyTierTracker
    // arithmetic — no per-request driver hop, domain set unbounded. The
    // state table persists as parquet beside the proxy KVS on the same
    // flush cadence; a resumed bench crawl continues its climb. (Modes
    // don't mix on one store: parity reads history from its persisted
    // map, bench from the row column.)
    val benchTiered = !trackOrder && cfg.proxyConfiguration.exists(_.tierTracker.isDefined)
    val tierStateDir = s"${store.root}/proxy_tiers"
    // set when a batch fold updates the state; an unchanged resumed table
    // still references the parquet files it was read from and must not be
    // overwritten onto itself (updates are localCheckpoint-materialized, so
    // a dirty table is always safe to write)
    var tierStateDirty = false
    var tierStateDf: Option[DataFrame] =
      if (!benchTiered) None
      else Some {
        try spark.read.parquet(tierStateDir)
        catch {
          case _: Exception =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("t_host", org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("t_hist",
                  org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)),
                org.apache.spark.sql.types.StructField("t_cur", org.apache.spark.sql.types.IntegerType))))
        }
      }
    def persistProxyState(): Unit = proxyKvs.foreach { kvs =>
      kvs.setJson("__PROXY_CONF_STATE", cfg.proxyConfiguration.get.stateToJson)
      val tiers = lastProxyTierByKey.toSeq.sortBy(_._1)
        .map { case (k, t) => s"${graft.util.Json.quote(k)}:${t.map(_.toString).getOrElse("null")}" }
        .mkString("{", ",", "}")
      kvs.setJson("__PROXY_TIERS_BY_KEY", tiers)
      kvs.persist()
      if (tierStateDirty)
        tierStateDf.foreach(df => df.write.mode("overwrite").parquet(tierStateDir))
    }

    val handledOk = mutable.HashSet.empty[String]
    val failedKeys = mutable.HashSet.empty[String]
    val skippedRobots = mutable.HashSet.empty[String]
    val emittedImages = mutable.ArrayBuffer.empty[String]
    var emittedImageCount = 0L
    var processedTotal = 0L
    seenCount = 0L
    var batchIdx = 0
    // adaptive delegation counters (reference track_* methods,
    // _adaptive_playwright_crawler.py:496-503) + the detection log
    var httpOnlyRunsAcc = 0L
    var browserRunsAcc = 0L
    var mispredictionsAcc = 0L
    val adaptiveDetectionLog = mutable.LinkedHashMap.empty[String, String]
    // Politeness delays. Map mode: from the (already-bounded) driver robots
    // map. TABLE mode (SCALE.md / VERDICT r3 "wrong" #2): delays stay a
    // DataFrame — (host, delay) derived from the robots table with a
    // case-insensitive pre-filter (ADVICE r3 #1) and joined into the claim
    // as a quota table each batch; the set of delay-declaring hosts is
    // unbounded by construction and is NEVER collected to the driver. The
    // residual driver state (DomainThrottle) holds only 429-backoff rows —
    // bounded by hosts that actually returned 429 in this run.
    val crawlDelays: Map[String, Int] =
      if (robotsJoinMode) Map.empty
      else robotsByHost.map { case (h, r) => h -> r.crawlDelay().getOrElse(0) }
    val throttle = new graft.politeness.DomainThrottle(crawlDelays)
    val delaysDf: Option[DataFrame] =
      if (robotsJoinMode && enforcePoliteness) {
        val delayUdf = udf { (host: String, st: Int, body: String) =>
          Robots.cachedFromFetch(host, st, body).crawlDelay().getOrElse(0)
        }
        val d = robotsRt
          .filter(lower(col("rb_body")).contains("crawl-delay") && col("rb_status") < 400)
          .select(col("rb_host").as("host"),
            delayUdf(col("rb_host"), col("rb_status"), col("rb_body")).as("delay"))
          .filter(col("delay") > 0)
          .persist()
        Some(d)
      } else None

    // A7 per-batch metrics: buffered driver-side and flushed every 16
    // batches + at crawl end — one parquet write job PER BATCH was a pure
    // serial-floor cost (NOTES #1); the lineage/metrics record per batch is
    // identical, only the flush cadence changes (a crash loses at most the
    // unflushed tail of metric rows, never frontier state — the frontier
    // commit is the recovery point, metrics are telemetry)
    val metricsDir = s"${store.root}/metrics"
    val metricsBuf = mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Long, Long, Long)]
    def flushMetrics(): Unit = {
      import spark.implicits._
      if (metricsBuf.nonEmpty) {
        metricsBuf.toSeq
          .toDF("batch_id", "virtual_now_ms", "claimed", "terminal", "images", "wall_ms", "processed_total")
          .coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(metricsDir)
        metricsBuf.clear()
      }
      runStats.persist() // PERSIST_STATE cadence rides the metrics flush
      persistProxyState() // proxy tier/rotation state rides the same cadence
      events.emit(graft.events.Event.PersistState, batchIdx) // X6
    }
    def appendMetrics(batch: Int, nowMs: Long, claimed: Long, terminal: Long,
        images: Long, wallMs: Long): Unit = {
      metricsBuf += ((batch, nowMs, claimed, terminal, images, wallMs, processedTotal))
      if (metricsBuf.size >= 16) flushMetrics()
    }

    // Pipelined claiming: the NEXT batch's claim is prefetched CONCURRENTLY
    // with the current batch's commit — the claim plan binds to the
    // pre-commit state snapshot excluding the in-flight keys. This removes
    // the claim+checkpoint from the serial critical path: per-batch wall =
    // max(commit, next-claim) instead of their sum.
    //
    // Bench mode (trackOrder=false): always legal — no ordering contract;
    // adds landed by the concurrent commit become visible one batch later
    // (a valid, slightly-stale claim).
    //
    // Parity mode (VERDICT r4 next-round #4): the prefetch is EXACT — not
    // just valid — under the strict-ordering gate, because with FIFO-only
    // ordering every row the concurrent commit introduces lands BEHIND all
    // pre-commit pending rows (adds get seq in (maxSeq, maxSeq+S]; reclaims
    // get maxSeq+S+pos), and the deep-frontier gate guarantees the next
    // top-k never reaches them: post-commit top-k == pre-commit top-k minus
    // in-flight keys, which is precisely what claimPlan computes. The gate:
    //   - static: no forefront enqueue path (cfg.enqueueForefront), so
    //     in-flight ADDS can never jump the queue;
    //   - per-batch: no forefront row in the in-flight batch (covers
    //     resumed stores holding forefront rows from an earlier run, whose
    //     RECLAIM would jump the queue) — checked on the batch pin.
    // Politeness/autoscaling/rate caps still force the serial path (their
    // per-batch driver state feeds the next claim's arguments).
    val pipelined = !enforcePoliteness && batchSizer.isEmpty &&
      cfg.maxTasksPerMinute.isEmpty && (!trackOrder || !cfg.enqueueForefront)
    var prefetched: Option[DataFrame] = None
    var prefetchHits = 0

    var done = false
    while (!done && !stopRequested && processedTotal < cfg.maxRequestsPerCrawl) {
      val batchT0 = System.nanoTime()
      // P5: capture the new-work epoch BEFORE the claim evaluates, so a
      // concurrent add racing this iteration's empty claim wakes the idle
      // wait immediately instead of being missed until the next commit.
      val workEpochBefore = store.newWorkEpoch
      val nowMs = batchIdx.toLong * batchPeriodMs
      // R6: never claim more than the remaining budget (reproduces the
      // concurrency-1 exactness of test_basic_crawler.py:1094-1122);
      // X4: the rate cap bounds tasks dispatched per batch period
      val rateCap = cfg.maxTasksPerMinute
        .map(r => CrawlEngine.rateCapPerBatch(r, batchPeriodMs)).getOrElse(Long.MaxValue)
      val batchTarget = batchSizer.map(_.desired).getOrElse(claimBatchSize)
      val budget = math.min(
        math.min(batchTarget.toLong, rateCap),
        cfg.maxRequestsPerCrawl - processedTotal).toInt
      val quota =
        if (enforcePoliteness && delaysDf.isEmpty) throttle.quotas(nowMs, batchPeriodMs)
        else Map.empty[String, Int]
      val blocked = if (enforcePoliteness) throttle.blockedHosts(nowMs) else Set.empty[String]
      // table mode: per-host claim quota = floor(batchPeriod / delay), min 1
      // — the same arithmetic as DomainThrottle.quotas, riding a join
      // instead of a collected map (429-backoff blocks stay in `blocked`)
      val quotaTable = delaysDf.map(d =>
        d.select(col("host"),
          greatest(lit(1L), floor(lit(batchPeriodMs) / (col("delay") * 1000L))).cast("int").as("quota")))

      def trace[T](label: String)(f: => T): T = Trace.span(s"batch=$batchIdx $label")(f)

      // claim selection WITHOUT a commit: the whole batch commits once at the
      // end (an uncommitted batch replays deterministically on crash, which
      // preserves exactly-once without the claim round-trip). The fresh
      // claim is a lazy plan, evaluated once inside the batch pin below; a
      // prefetched claim arrives already materialized.
      def freshClaim(): DataFrame =
        store.claimSet(budget, nowMs, hostQuota = quota, blockedHosts = blocked, quotaTable = quotaTable)
      val claim = prefetched match {
        case Some(b) =>
          prefetched = None
          // a stale-empty prefetch must be confirmed against FRESH state
          // before concluding the frontier is drained (the concurrent
          // commit may have added rows the snapshot couldn't see)
          if (b.count() > 0) { prefetchHits += 1; b } else freshClaim()
        case None => freshClaim()
      }

      // --- session-request collision check (reference
      // _basic_crawler.py:1673-1686): a request strictly bound to a
      // session whose Session is no longer available in the pool fails
      // terminally WITHOUT a fetch (RequestCollisionError -> no_retry).
      // The bound-id set is tiny (only seeds can bind), so availability
      // is resolved driver-side once per batch and pushed down as an
      // isin literal — zero cost for unbound crawls.
      // Session clock (ADVICE r3 #4): parity mode pins the session clock
      // to 0L exactly like the oracle (sessions never age out), so long
      // crawls can't drift engine-vs-oracle on age-based rotation; bench
      // mode keeps the real virtual clock so maxAgeMs is honored.
      val sessNow = if (trackOrder) 0L else nowMs
      val unavailableBound: Set[String] =
        if (boundSessionIds.isEmpty) Set.empty
        else boundSessionIds.toSet.filter(id => !sessionPool.getById(id).exists(_.isUsable(sessNow)))
      val collidedRow =
        if (unavailableBound.isEmpty) lit(false)
        else col("session_id").isNotNull && col("session_id").isInCollection(unavailableBound)

      // --- adaptive delegation: predict + route BEFORE the fetch -------------
      // (reference _adaptive_playwright_crawler.py:385-446). Scoring is a
      // broadcast of the small model against a (key, url, label)
      // projection of the batch; route/detect become claim columns.
      val routedIn = cfg.adaptive match {
        case Some(ac) =>
          graft.ml.AdaptiveDelegation.routeColumns(ac, claim, "url", "label", "unique_key")
        case None =>
          claim
            .withColumn("__rt", lit(null).cast("string"))
            .withColumn("__dp", lit(null).cast("double"))
            .withColumn("__detect", lit(false))
            .withColumn("__route", lit(graft.ml.AdaptiveDelegation.RouteStatic))
      }

      // --- synthetic fetch: status join, then one redirect hop ---------------
      // The first join reads only (url, redirect target) of the page table
      // and spreads the batch over the join's partitions before any per-row
      // UDF runs. Every claimed row stays in ONE linear plan and carries its
      // class: a row the robots re-check (F6) or the collision check stops
      // is never fetched (statusAtFn is only called for fetchable rows).
      val joined = routedIn
        .join(pagesDf.select(col("p_url"), col("p_redirect")), col("url") === col("p_url"), "left")
      val withRobots =
        if (!robotsJoinMode) joined.withColumn("robots_ok", robotsAllowedUdf(col("url")))
        else // F6 via the robots-table join: rules move only for claim hosts
          joined.join(robotsRt, col("host") === col("rb_host"), "left")
            .withColumn("robots_ok",
              robotsRulesUdf(col("url"), col("host"), col("rb_status"), col("rb_body")))
            .drop("rb_host", "rb_status", "rb_body")
      val fetchable = col("__class") === ClassFetched
      val fetched = withRobots
        .withColumn("__class",
          when(!col("robots_ok"), lit(ClassRobotsSkip))
            .when(collidedRow, lit(ClassCollided))
            .otherwise(lit(ClassFetched)))
        .drop("robots_ok")
        .withColumn("eff_status",
          when(fetchable,
            when(col("p_url").isNull, lit(404)).otherwise(statusUdf(col("url"), col("retry_count")))))
      // The hop re-checks the strategy against the original url (F8), and
      // the second join loads the body of the page actually served: the
      // redirect target, else the page itself — never a null key, which
      // would send every non-redirect row to one shuffle partition. The
      // fixture guarantees redirect targets are terminal.
      val isRedirect = fetchable && col("eff_status") === 301
      val hopped = fetched
        .withColumn("loaded_url", when(isRedirect, col("p_redirect")).otherwise(col("url")))
        .withColumn("__class",
          when(isRedirect &&
            !UrlFunctions.strategyAllows(col("loaded_url"), lit(cfg.strategy), col("url")),
            lit(ClassRedirectFail)).otherwise(col("__class")))
        .drop("p_url", "p_redirect")
        .join(pagesDf.select(col("p_url").as("t_url"), col("p_body"), col("p_images"),
          col("p_rbody"), col("p_rimages")), col("loaded_url") === col("t_url"), "left")
        .withColumn("eff_status",
          when(isRedirect, statusUdf(col("loaded_url"), col("retry_count"))).otherwise(col("eff_status")))
        .drop("t_url")

      // Digest the body BEFORE the pin: the checkpoint then materializes
      // the extracted link list + base URL + blocked flag (~100 B/row)
      // instead of the raw page body (~KBs/row), and the regexp generators
      // run exactly once per fetched page instead of once per downstream
      // plan. Links are only extracted from 200s — failed fetches never
      // enter the handler.
      val blockedUdf = udf { (st: Int, body: String) =>
        graft.canon.Blocked.blockedReason(st, body).isDefined
      }
      // --- adaptive sub-crawler selection (reference :400-446) ---------------
      // A checker-failed static run is a tracked misprediction that falls
      // through to the browser sub-crawler; detection rows compare the two
      // sub-runs' pushed data (push-data-only comparator); the ROUTED
      // body/images drive everything downstream — blocked detection, link
      // extraction, image emission — so a browser-routed page crawls its
      // rendered DOM.
      def applyRoute(df: DataFrame): DataFrame = cfg.adaptive match {
        case None =>
          df.withColumn("__mispred", lit(false))
            .withColumn("__detection", lit(null).cast("string"))
            .drop("p_rbody", "p_rimages")
        case Some(ac) =>
          val checkerFail = ac.resultChecker match {
            case Some(ck) =>
              val ckUdf = udf { (st: Int, imgs: Seq[String]) =>
                !ck(st, Option(imgs).getOrElse(Seq.empty))
              }
              fetchable && col("__route") === AdaptiveDelegation.RouteStatic &&
                ckUdf(col("eff_status"), col("p_images"))
            case None => lit(false)
          }
          df.withColumn("__mispred", checkerFail)
            .withColumn("__route",
              when(col("__mispred"), lit(AdaptiveDelegation.RouteBrowser))
                .otherwise(col("__route")))
            .withColumn("__detection",
              when(col("__detect") && col("eff_status") === 200,
                AdaptiveDelegation.detectionCol(col("p_images"), col("p_rimages")))
                .otherwise(lit(null).cast("string")))
            .withColumn("p_body",
              when(col("__route") === AdaptiveDelegation.RouteBrowser,
                coalesce(col("p_rbody"), col("p_body"))).otherwise(col("p_body")))
            .withColumn("p_images",
              when(col("__route") === AdaptiveDelegation.RouteBrowser,
                coalesce(col("p_rimages"), col("p_images"))).otherwise(col("p_images")))
            .drop("p_rbody", "p_rimages")
      }
      def digestBody(df: DataFrame): DataFrame = df
        .withColumn("is_blocked",
          // R7: a timed-out dispatch is a timeout error, never a session
          // block (the handler never completed; reference raises the
          // TimeoutError before any blocked-content check can run)
          if (cfg.detectBlocked)
            fetchable && col("eff_status") =!= CrawlEngine.StatusHandlerTimeout &&
              blockedUdf(col("eff_status"), col("p_body"))
          else lit(false))
        .withColumn("base_href",
          when(col("eff_status") === 200, regexp_extract(col("p_body"), BaseHrefPattern, 1))
            .otherwise(lit("")))
        .withColumn("base_url",
          when(length(col("base_href")) > 0, col("base_href")).otherwise(col("loaded_url")))
        .withColumn("links",
          when(fetchable && col("eff_status") === 200 &&
            // page-level robots nofollow: the whole page contributes no
            // links (opt-in; shared pattern with the oracle's check)
            (if (cfg.respectNofollowMeta)
              !col("p_body").rlike(graft.oracle.CrawlOracle.NofollowMetaPattern)
            else lit(true)),
            // selector-parametrized generator (reference
            // _abstract_http_crawler.py:198-219): the (tag, attribute)
            // pair is user configuration, default <a href>
            regexp_extract_all(col("p_body"), lit(cfg.linkSelector.pattern), lit(1)))
            .otherwise(array().cast("array<string>")))
        .drop("base_href")
      // THE batch pin: every claimed row with its class, evaluated ONCE
      // (claim, robots gate, collision check, both fetch joins, digest).
      // localCheckpoint also truncates lineage, so every downstream plan
      // this batch (outcome aggregate, enqueue pipeline, commit) is planned
      // over a flat in-memory scan. It is REQUIRED for correctness, not
      // just speed: those plans run before and after commitBatch swaps the
      // state, and an unpinned claim would re-select against the NEW state.
      val pin = trace("pin")(materialize(digestBody(applyRoute(hopped)).select(resultCols: _*)))
      val fetchedRows = pin.filter(fetchable)

      // --- classification (F12 / R1) -----------------------------------------
      // retryable = 429 or any 5xx; EVERYTHING else non-200 is a terminal
      // client error (catch-all — an unexpected status from statusAtFn must
      // never leave the row Pending to be re-claimed forever).
      // Retry eligibility honors the per-request no_retry flag and
      // max_retries override before the crawl default
      // (_basic_crawler.py:982-997).
      // F11 + R4: blocked content is the SessionError path — rotate the
      // session and retry WITHOUT consuming a retry, up to
      // maxSessionRotations (reference _basic_crawler.py:990-991)
      val isBlockedRow = col("is_blocked")
      val isRetryableStatus = col("eff_status") === 429 || col("eff_status") >= 500 ||
        col("eff_status") === CrawlEngine.StatusHandlerTimeout // R7: timeout is retryable
      val retryAllowed =
        !col("no_retry") && col("retry_count") < coalesce(col("max_retries"), lit(cfg.maxRetries))

      // --- per-row outcome over the pin ----------------------------------------
      // outcome codes: 0=ok, 1=fail404, 2=retry, 3=exhausted/rotation-exhausted,
      // 4=blocked-rotate, 10=redir_fail, 11=robots_skip, 12=session-collision
      val disposition = pin
        .select(
          col("claim_rank"),
          col("url"),
          col("unique_key"),
          col("host"),
          when(!fetchable, col("__class"))
            .when(isBlockedRow && col("rotation_count") < cfg.maxSessionRotations, 4)
            .when(isBlockedRow, 3)
            .when(col("eff_status") === 200, 0)
            .when(!isRetryableStatus, 1)
            .when(retryAllowed, 2)
            .otherwise(3)
            .as("outcome"),
          when(fetchable && col("eff_status") === 200 && !isBlockedRow,
            coalesce(size(col("p_images")), lit(0)))
            .otherwise(0)
            .as("n_images"),
          (fetchable && col("eff_status") === 429).as("is429"),
          col("label").as("r_label"),
          col("session_id").as("r_session"),
          col("retry_count").as("r_retry"),
          col("last_proxy_tier").as("r_last_tier")
        )

      // --- ONE bookkeeping read of the pin, before the commit ------------------
      // (read BEFORE the commit mutates state — see the pin note). Parity
      // mode collects every row in claim order; bench mode folds the rows
      // into one aggregate by (outcome, retry count, and host when
      // politeness is on). Either gives the claimed count, the outcome and
      // image counters, and the politeness inputs.
      val dispositionRows: Array[org.apache.spark.sql.Row] =
        if (!trackOrder) Array.empty
        else trace("outcomes")(disposition.collect().sortBy(_.getInt(0)))
      val aggRows: Array[org.apache.spark.sql.Row] =
        if (trackOrder) Array.empty
        else trace("outcomes") {
          val polite =
            if (!enforcePoliteness) Nil
            else Seq(
              sum(when(col("is429"), 1L).otherwise(0L)).as("n429"),
              max(when(col("is429"), retryAfterUdf(col("url"), col("r_retry")))).as("ra"))
          disposition
            .groupBy((Seq(col("outcome"), col("r_retry")) ++
              (if (enforcePoliteness) Seq(col("host")) else Nil)): _*)
            .agg(count(lit(1)).as("cnt"), (sum(col("n_images")).as("imgs") +: polite): _*)
            .collect()
        }
      val claimedCount =
        if (trackOrder) dispositionRows.length.toLong else aggRows.iterator.map(_.getAs[Long]("cnt")).sum

      if (claimedCount == 0) {
        pin.unpersist(false)
        // all throttled (pending rows remain): advance the virtual clock
        // (P2 sleep); a non-empty pending set already implies !isFinished
        if (enforcePoliteness && store.pendingCount(nowMs) > 0) {
          batchIdx += 1
        } else if (cfg.keepAlive) {
          // X5 keep_alive: idle doesn't stop the crawl; the idle hook may
          // inject new work (reference test_basic_crawler.py:1681+) or stop it
          onIdle(batchIdx) match {
            case Some(newSeeds) => enqueueSeeds(newSeeds); batchIdx += 1
            case None =>
              // P5 new-work wakeup: before concluding the crawl is drained,
              // block on the store's add/reclaim event (a concurrent
              // streaming ingest or external producer may still be
              // committing). Woken -> claim again; timeout -> finished.
              if (cfg.newWorkWaitMs > 0L &&
                  store.awaitNewWork(workEpochBefore, cfg.newWorkWaitMs)) batchIdx += 1
              else done = true
          }
        } else done = true
      } else {
        val processedBefore = processedTotal

        // --- adaptive feedback (reference :429-446) --------------------------
        // Detection rows feed the predictor IN CLAIM ORDER (the reference's
        // sequential store_result calls); run counters ride one bounded
        // aggregate. Only detection rows — a fraction bounded by the
        // decaying detection probability — reach the driver. Reads the
        // checkpointed frame, so nothing recomputes.
        cfg.adaptive.foreach { ac =>
          val agg = fetchedRows.agg(
            sum(when(col("__route") === AdaptiveDelegation.RouteStatic || col("__mispred"), 1L)
              .otherwise(0L)),
            sum(when(col("__route") === AdaptiveDelegation.RouteBrowser, 1L).otherwise(0L)),
            sum(when(col("__mispred"), 1L).otherwise(0L))).head()
          httpOnlyRunsAcc += (if (agg.isNullAt(0)) 0L else agg.getLong(0))
          browserRunsAcc += (if (agg.isNullAt(1)) 0L else agg.getLong(1))
          mispredictionsAcc += (if (agg.isNullAt(2)) 0L else agg.getLong(2))
          fetchedRows.filter(col("__detection").isNotNull && !col("is_blocked"))
            .select(col("claim_rank"), col("url"), col("label"), col("__detection"))
            .collect()
            .sortBy(_.getInt(0))
            .foreach { r =>
              val url = r.getString(1)
              ac.predictor.storeResult(url, r.getString(3), Option(r.getString(2)))
              adaptiveDetectionLog(url) = r.getString(3)
            }
        }
        val blockedRows = fetchedRows.filter(isBlockedRow)
        val canRotate = blockedRows.filter(col("rotation_count") < cfg.maxSessionRotations)
        val classified = fetchedRows.filter(!isBlockedRow)
        val ok200 = classified.filter(col("eff_status") === 200)
        val canRetry0 = classified.filter(isRetryableStatus).filter(retryAllowed)
        // error handler: may replace url/label before the retry (counters
        // preserved, unique_key kept — prevents retry loops via re-dedup)
        val canRetry = cfg.errorHandler match {
          case Some(h) =>
            val replUdf = udf { (u: String, lbl: String, rc: Int) =>
              h(RequestOptions(u, Option(lbl)), rc).map(r => Seq(r.url, r.label.orNull)).orNull
            }
            canRetry0
              .withColumn("__repl", replUdf(col("url"), col("label"), col("retry_count")))
              .withColumn("url",
                when(col("__repl").isNotNull, element_at(col("__repl"), 1)).otherwise(col("url")))
              .withColumn("label",
                when(col("__repl").isNotNull, element_at(col("__repl"), 2)).otherwise(col("label")))
              .withColumn("host",
                when(col("__repl").isNotNull, UrlFunctions.hostOf(col("url"))).otherwise(col("host")))
              .withColumn("host_hash", xxhash64(col("host")))
              .drop("__repl")
          case None => canRetry0
        }

        // --- error snapshots (reference _error_snapshotter.py:1-77) -----------
        // every failing dispatch (client error, retryable, blocked) persists
        // the fetched body under a name deduped by (error location, message
        // prefix) — identical errors collapse to ONE snapshot key, exactly
        // the reference's test contract. Failing rows are few by
        // construction; the body rejoin touches only them.
        if (cfg.captureErrorSnapshots) {
          val failing = fetchedRows.filter(col("eff_status") =!= 200 || col("is_blocked"))
            .select(col("url"), col("loaded_url"), col("eff_status"), col("is_blocked"))
          // snapshot names dedupe on (error location, message prefix) which
          // is a pure function of (blocked?, status) — so sample ONE
          // deterministic row per snapshot key EXECUTOR-SIDE and collect only
          // the handful of distinct keys, never every failing body (a
          // high-failure batch would otherwise ship 10^5+ page bodies to the
          // driver only to be overwritten onto the same few KVS keys).
          val sampled = failing
            .withColumn("snap_key",
              when(col("is_blocked"), lit("blocked"))
                .otherwise(col("eff_status").cast("string")))
            .groupBy(col("snap_key"))
            .agg(min_by(
              struct(col("url"), col("loaded_url"), col("eff_status"), col("is_blocked")),
              col("url")).as("s"))
            .select(col("s.url").as("url"), col("s.loaded_url").as("loaded_url"),
              col("s.eff_status").as("eff_status"), col("s.is_blocked").as("is_blocked"))
          val snapRows = sampled
            .join(pagesDf.select(col("p_url").as("snap_url"), col("p_body").as("snap_body")),
              sampled("loaded_url") === col("snap_url"), "left")
            .select(col("url"), col("eff_status"), col("is_blocked"), col("snap_body"))
            .collect()
          snapRows.foreach { r =>
            val st = r.getInt(1)
            val (msg, loc) =
              if (r.getBoolean(2)) ("session blocked by target site", "CrawlEngine.scala:blocked")
              else if (st == CrawlEngine.StatusHandlerTimeout)
                // reference _request_handler_timeout_text + total_seconds()
                // (_basic_crawler.py:275,1593-1595)
                (s"Request handler timed out after ${cfg.requestHandlerTimeoutMs.get / 1000.0} seconds",
                  "CrawlEngine.scala:timeout")
              else if (st == 429) (s"HTTP $st too many requests", "CrawlEngine.scala:retryable")
              else if (st >= 500) (s"HTTP $st server error", "CrawlEngine.scala:retryable")
              else (s"HTTP $st client error", "CrawlEngine.scala:client")
            errorSnapshotter.capture(msg, loc, Option(r.getString(3)).getOrElse(""),
              url = r.getString(0), status = st)
          }
          if (snapRows.nonEmpty) errorSnapshotter.persist()
        }
        // --- router dispatch (reference router.py:113-121) --------------------
        // handler resolution is a tiny per-label lookup riding as columns on
        // the fetched rows; exact-match, default fallback, error when
        // unmatched with no default (the resolve throw surfaces in the job)
        val routed = cfg.router match {
          case Some(r) =>
            // dispatch compiles to a when-chain over the label column —
            // whole-stage codegen, no UDF (Router.chain)
            ok200
              .withColumn("h_extract", r.extractLinksCol(col("label")))
              .withColumn("h_link_label", r.linkLabelCol(col("label")))
              .withColumn("h_emit", r.emitImagesCol(col("label")))
              .withColumn("h_tag", r.tagCol(col("label")))
          case None =>
            ok200
              .withColumn("h_extract", lit(true))
              .withColumn("h_link_label", lit(null).cast("string"))
              .withColumn("h_emit", lit(true))
              .withColumn("h_tag", lit(null).cast("string"))
        }

        // --- handler: link extraction + enqueue pipeline (L1-L4) -------------
        val maxDepthOk = routed.filter(col("h_extract") && col("depth") + 1 <= cfg.maxCrawlDepth)
        val hrefs = maxDepthOk
          .select(
            col("unique_key").as("parent_key"),
            col("url").as("origin_url"),
            col("depth"),
            col("claim_rank"),
            col("base_url"),
            col("h_link_label"),
            posexplode(col("links")).as(Seq("link_idx", "raw_link"))
          )
        val resolved = hrefs
          .withColumn("abs_url", UrlFunctions.resolveUrl(col("base_url"), col("raw_link")))
          .filter(col("abs_url").isNotNull)
        val eligibleBase = resolved
          .withColumn(
            "strategy_ok",
            UrlFunctions.strategyAllows(col("abs_url"), lit(cfg.strategy), col("origin_url"))
          )
          .filter(col("strategy_ok") && patternsOkUdf(col("abs_url")))
        // link_rank feeds two things: the F4 per-call limit (a DENSE count
        // over ELIGIBLE links) and the cand_order stride arithmetic (which
        // only needs a per-parent-unique, order-preserving value < 2^20).
        // Unlimited crawls — the common case, incl. the bench headline —
        // therefore skip the per-parent ranking entirely and ride the
        // posexplode index (+1): same enqueue sequence, and the candidate
        // pipeline stays map-only instead of paying a 'links' shuffle+sort
        // per batch. A real limit routes through the custom per-key top-k
        // operator (graft.plans.TopK): identical dense rank over the
        // (link_idx) total order, map-side-pruned to limit rows per parent
        // before the exchange instead of sort+WindowExec.
        val eligible0 =
          if (cfg.linksPerPageLimit == Int.MaxValue)
            eligibleBase.withColumn("link_rank", col("link_idx") + 1)
          else
            graft.plans.TopK
              .perKey(eligibleBase, Seq("parent_key"), Seq("link_idx" -> true),
                cfg.linksPerPageLimit, rankName = "link_rank")
        // F9 user transform: rewrite/drop/label the request before robots +
        // enqueue (the label routes per-label handlers, reference router.py)
        val eligibleT = (cfg.transformRequest match {
          case Some(fn) =>
            val tf = udf { (u: String) =>
              fn(RequestOptions(u, None)).map(r => Seq(r.url, r.label.orNull)).orNull
            }
            eligible0
              .withColumn("__tf", tf(col("abs_url")))
              .filter(col("__tf").isNotNull)
              .withColumn("abs_url", element_at(col("__tf"), 1))
              // transform label wins; the routing handler's enqueue default
              // applies when the transform leaves it unset
              .withColumn("link_label", coalesce(element_at(col("__tf"), 2), col("h_link_label")))
              .drop("__tf")
          case None => eligible0.withColumn("link_label", col("h_link_label"))
        })
        // F5 robots gate at enqueue: map-mode probe, or the robots-table
        // join keyed by each candidate link's host
        val eligible =
          if (!robotsJoinMode) eligibleT.filter(robotsAllowedUdf(col("abs_url")))
          else robotsFilterJoin(eligibleT, "abs_url", UrlFunctions.hostOf(col("abs_url")))
        // cand_order composes (claim_rank, dense per-parent link_rank) with a
        // collision-free stride: link_rank <= links on one page < 2^20, so
        // distinct (parent, link) pairs never collide (the round-1 *10000
        // stride collided past 10k links/page).
        val candidates = eligible.select(
          UrlFunctions.uniqueKeyCol(col("abs_url")).as("unique_key"),
          col("abs_url").as("url"),
          UrlFunctions.hostOf(col("abs_url")).as("host"),
          col("link_label").as("label"),
          lit("GET").as("method"),
          (col("depth") + 1).as("depth"),
          lit(cfg.enqueueForefront).as("forefront"),
          (col("claim_rank").cast("long") * FrontierStore.CandOrderStride + col("link_rank"))
            .as("cand_order")
        )

        // --- image emission (D1) ---------------------------------------------
        val images = routed
          .filter(col("h_emit"))
          .select(col("unique_key"), explode_outer(col("p_images")).as("image_id"))
          .filter(col("image_id").isNotNull)
        // --- ONE atomic commit for the whole batch ------------------------------
        // terminal rows carry full event columns (they came from claimSet),
        // so the store needs no join against in-progress state. ONE pass
        // over the pin for every terminal class: the class only decides
        // r_ok/r_state, which fold into computed columns (all terminal rows
        // share one event_seq, so their order never mattered).
        val terminal = pin
          .filter(!fetchable ||
            (!isBlockedRow && (col("eff_status") === 200 || !isRetryableStatus || !retryAllowed)) ||
            (isBlockedRow && col("rotation_count") >= cfg.maxSessionRotations))
          .withColumn("r_ok", fetchable && !isBlockedRow && col("eff_status") === 200)
          .withColumn("r_state",
            when(col("r_ok"), lit(RequestState.Done))
              .when(fetchable || col("__class") === ClassCollided, lit(RequestState.Error))
              .otherwise(lit(RequestState.Skipped)))
          .select((FrontierStore.eventCols :+ col("r_ok") :+ col("r_state")): _*)

        // failed-request handler: one driver hop over ONLY the terminally-
        // failed rows of this batch (few by construction), in claim order —
        // mirroring the reference's sequential callback
        // (_basic_crawler.py:1206-1230)
        cfg.failedRequestHandler.foreach { h =>
          val failedRows =
            if (trackOrder) dispositionRows.filter(r => Set(1, 3, 12).contains(r.getInt(4)))
            else disposition.filter(col("outcome").isin(1, 3, 12)).collect().sortBy(_.getInt(0))
          failedRows.foreach(r => h(RequestOptions(r.getString(1), Option(r.getString(7)))))
        }

        // --- bench-mode tier fold (VERDICT r4 #5) -----------------------------
        // Per-host tier assignment as DATA: this batch's dispatches join the
        // per-host tier state table and fold per host partition with the
        // same tracker arithmetic the parity path walks on the driver. The
        // result frame is materialized BEFORE the commit because retry rows
        // carry their newly-assigned tier into the frontier row (the next
        // dispatch counts an error against it). Per-request output is
        // bounded by the batch; state output by the batch's distinct hosts.
        val tierFold: Option[DataFrame] =
          if (!benchTiered) None
          else Some {
            val nT = cfg.proxyConfiguration.get.tierTracker.get.numTiers
            val disp = disposition
              .filter(col("outcome") =!= 11 && col("outcome") =!= 12)
              .select(col("host"), col("claim_rank"), col("unique_key"), col("r_last_tier"))
              .join(tierStateDf.get, col("host") === col("t_host"), "left")
              .select(col("host"), col("claim_rank"), col("unique_key"),
                col("r_last_tier"), col("t_hist"), col("t_cur"))
              .as[TierDispatch]
            materialize(
              disp.groupByKey(_.host).flatMapGroups(CrawlEngine.foldTierGroup(nT) _).toDF())
          }
        // retry/rotation rows persist this dispatch's tier on the frontier
        // row (reference last_proxy_tier, _request.py:52-53); identity in
        // parity mode (the driver map is the vehicle there)
        def withAssignedTier(df: DataFrame): DataFrame = tierFold match {
          case None => df
          case Some(tf) =>
            val rt = tf.filter(col("unique_key").isNotNull)
              .select(col("unique_key").as("tf_key"), col("tier").as("tf_tier"))
            df.join(rt, df("unique_key") === col("tf_key"), "left")
              .withColumn("last_proxy_tier", coalesce(col("tf_tier"), col("last_proxy_tier")))
              .drop("tf_key", "tf_tier")
        }

        // ONE pass over the pinned batch for the two reclaim classes
        // (retry / session-rotate): the class only decides which counter
        // increments, so it folds into conditional columns instead of two
        // full filter arms (same single-pass rationale as `terminal`).
        // A configured error handler rewrites retry URLs through its UDF,
        // so that (rare, off in bench and parity defaults) case keeps the
        // two-arm shape.
        def reclaimEvents(wrap: DataFrame => DataFrame): DataFrame =
          if (cfg.errorHandler.isDefined)
            wrap(canRetry).select(FrontierStore.eventCols: _*)
              .withColumn("retry_count", col("retry_count") + 1)
              .unionByName(
                wrap(canRotate).select(FrontierStore.eventCols: _*)
                  .withColumn("rotation_count", col("rotation_count") + 1))
          else
            wrap(
              fetchedRows.filter(
                (isBlockedRow && col("rotation_count") < cfg.maxSessionRotations) ||
                (!isBlockedRow && isRetryableStatus && retryAllowed)))
              .withColumn("retry_count",
                when(!col("is_blocked"), col("retry_count") + 1).otherwise(col("retry_count")))
              .withColumn("rotation_count",
                when(col("is_blocked"), col("rotation_count") + 1).otherwise(col("rotation_count")))
              .select(FrontierStore.eventCols: _*)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global

        // kick off the NEXT batch's claim before the commit starts: the
        // plan binds to the pre-commit state snapshot (claimPlan) and its
        // execution + checkpoint (rankClaim) runs lock-free alongside the
        // commit below. Budget is conservative (assumes every in-flight
        // row terminates), so the R6 cap can never be over-claimed.
        val prefetchF: Option[Future[DataFrame]] =
          if (!pipelined) None
          else {
            val nextBudget = math.min(
              claimBatchSize.toLong,
              cfg.maxRequestsPerCrawl - processedTotal - claimedCount).toInt
            // only prefetch when the PRE-commit frontier already holds a
            // full next batch beyond the in-flight keys: a shallow-frontier
            // prefetch returns a stale sliver that splits batches (more
            // per-batch fixed cost than the overlap saves); deep frontiers
            // — the cluster-scale regime — get the full overlap. In parity
            // mode the depth gate is also what makes the prefetch EXACT
            // (new rows land behind >= nextBudget older pending rows).
            val deepEnough = store.pendingEstimate - claimedCount >= nextBudget
            // strict-ordering per-batch gate: an in-flight forefront row's
            // reclaim would jump the queue, which the snapshot can't see —
            // cheap take(1) scan on the pin; only resumed stores with
            // pre-existing forefront rows ever pay a fallback here
            val noForefrontInFlight =
              !trackOrder || pin.filter(col("forefront")).isEmpty
            Trace.line(s"batch=$batchIdx prefetch-gate nextBudget=$nextBudget " +
              s"pending=${store.pendingEstimate} claimed=$claimedCount deep=$deepEnough noFf=$noForefrontInFlight")
            if (nextBudget <= 0 || !deepEnough || !noForefrontInFlight) None
            else {
              val plan = store.claimPlan(nextBudget, nowMs + batchPeriodMs,
                excludeKeys = Some(pin.select(col("unique_key"))),
                excludePad = claimedCount.toInt)
              val par = spark.sparkContext.defaultParallelism
              Some(Future {
                val ranked = store.rankClaim(plan, nextBudget)
                // parity keeps the sorted single-partition layout (image-
                // emission order rides physical row order); bench spreads
                materialize(if (trackOrder) ranked else ranked.repartition(par))
              })
            }
          }
        trace("commit")(store.commitBatch(
          candidates,
          terminal,
          reclaimEvents(withAssignedTier)
        ))
        // politeness inputs of this batch: claimed rows and 429s per host,
        // and the largest Retry-After header (P3) per host
        val claimedPerHost = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
        val got429 = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
        val retryAfter = mutable.HashMap.empty[String, Int]
        def noteRetryAfter(host: String, secs: Int): Unit =
          if (secs >= 0) retryAfter(host) = math.max(secs, retryAfter.getOrElse(host, secs))
        if (trackOrder) {
          dispositionRows.foreach { r =>
            val url = r.getString(1)
            val key = r.getString(2)
            val host = r.getString(3)
            val outcome = r.getInt(4)
            // robots skips (11) and session collisions (12) were never
            // fetched; redirect-strategy fails (10) WERE fetched (the
            // oracle logs them before the re-check)
            if (outcome != 11 && outcome != 12) crawlOrder += url
            outcome match {
              case 0 =>
                handledOk += key; processedTotal += 1
                runStats.recordTerminal(finished = true, r.getInt(9))
                // router dispatch record (driver-side resolve mirrors the
                // column-side dispatch — same handler table)
                cfg.router.foreach(rt => handledTags(key) = rt.resolve(Option(r.getString(7))).tag)
              case 1 | 3 =>
                failedKeys += key; processedTotal += 1
                runStats.recordTerminal(finished = false, r.getInt(9))
              case 10 => processedTotal += 1
              case 11 => skippedRobots += key
              case 12 =>
                failedKeys += key; collidedSessions += key; processedTotal += 1
                runStats.recordTerminal(finished = false, r.getInt(9))
              case _ => // retry / rotation: not terminal
            }
            // session accounting runs when blocked-detection is on, any
            // request carries a session binding, or a proxy configuration
            // needs session-affine rotation; a bound request uses ITS
            // session (get_session_by_id), an unbound one round-robins
            val sessionAccounting =
              cfg.detectBlocked || boundSessionIds.nonEmpty || cfg.proxyConfiguration.isDefined
            if (sessionAccounting && outcome != 11 && outcome != 12) {
              val sess = Option(r.getString(8)).flatMap(sessionPool.getById) match {
                case Some(bound) => bound.markUsed(); bound
                case None => sessionPool.getSession(sessNow)
              }
              // the dispatch rides the session's generated header identity
              // (fingerprint_suite: same session, same headers)
              headersByKey(key) = sess.headers
              if (outcome == 4) sess.retire() // SessionError -> rotate
              else if (outcome == 0) sess.markGood()
              // proxy assignment for this dispatch (reference
              // _get_proxy_info): session-affine, per-domain tier tracking;
              // the previous dispatch's tier counts as an error
              cfg.proxyConfiguration.foreach { pc =>
                pc.newProxyInfo(
                  sessionId = Some(sess.id),
                  requestHost = Some(host),
                  lastProxyTier = lastProxyTierByKey.getOrElse(key, None)
                ).foreach { pi =>
                  proxyAssignments(key) = (pi.url, pi.proxyTier)
                  lastProxyTierByKey(key) = pi.proxyTier
                  // per-DISPATCH multisets (bench mode exposes the same two
                  // maps, so the executor-side tier fold is comparable)
                  proxyAssignmentCounts(pi.url) = proxyAssignmentCounts.getOrElse(pi.url, 0L) + 1
                  pi.proxyTier.foreach(t =>
                    proxyTierCounts(t) = proxyTierCounts.getOrElse(t, 0L) + 1)
                }
              }
            }
            // terminal request: its in-flight tier record is dead (the
            // persisted map holds only live retry/rotation chains)
            if (outcome == 0 || outcome == 1 || outcome == 3 || outcome == 10 || outcome == 12)
              lastProxyTierByKey.remove(key)
            if (enforcePoliteness) {
              claimedPerHost(host) += 1
              if (r.getBoolean(6)) {
                got429(host) += 1
                noteRetryAfter(host, raFn(url, r.getInt(9)).getOrElse(-1))
              }
            }
          }
          // R5 abort_on_error: any terminal failure in this (drained) batch
          // ends the crawl (_basic_crawler.py:1411-1414)
          if (cfg.abortOnError &&
              dispositionRows.exists(r => { val o = r.getInt(4); o == 1 || o == 3 || o == 12 })) {
            done = true
            events.emit(graft.events.Event.Aborting, "abort_on_error")
          }
          if (trackImages)
            emittedImages ++= images.select(col("image_id")).collect().map(_.getString(0))
          else
            emittedImageCount += dispositionRows.iterator.map(_.getInt(5).toLong).sum
        } else {
          aggRows.foreach { r =>
            val outcome = r.getInt(0)
            val retry = r.getInt(1)
            val cnt = r.getAs[Long]("cnt")
            if (outcome == 0 || outcome == 1 || outcome == 3 || outcome == 10 || outcome == 12)
              processedTotal += cnt
            if (outcome == 0) runStats.recordTerminal(finished = true, retry, cnt)
            else if (outcome == 1 || outcome == 3 || outcome == 12)
              runStats.recordTerminal(finished = false, retry, cnt)
            if (outcome == 0 && !r.isNullAt(r.fieldIndex("imgs"))) emittedImageCount += r.getAs[Long]("imgs")
            if (enforcePoliteness) {
              val host = r.getAs[String]("host")
              claimedPerHost(host) += cnt
              got429(host) += r.getAs[Long]("n429")
              if (!r.isNullAt(r.fieldIndex("ra"))) noteRetryAfter(host, r.getAs[Int]("ra"))
            }
          }
          if (cfg.abortOnError &&
              aggRows.exists(r => { val o = r.getInt(0); o == 1 || o == 3 || o == 12 })) {
            done = true
            events.emit(graft.events.Event.Aborting, "abort_on_error")
          }
          // executor-side session/proxy assignment (VERDICT r3 next-round
          // #6, tiered + bound-session exactness ADVICE r4 #2 / VERDICT r4
          // #5): the parity path walks the pool one request at a time on
          // the driver; here the SAME schedule is computed as columns over
          // the dispatch batch and folded back as ONE bounded aggregate
          // (<= pool size + bound sessions rows). A bound request resolves
          // its own session (get_session_by_id) and never advances the
          // round-robin rotor, so the rr column ranks UNBOUND dispatches
          // only. Tiered configs take each dispatch's tier from the
          // executor-side tier fold; the session's proxy URL pins on its
          // FIRST dispatch (reference proxy_configuration.py:216-221 —
          // session-affine even for tiered configs), so pins replay in
          // first-dispatch order and later dispatches ride the pinned URL.
          // Session-state transitions (markGood / blocked retire) fold in
          // closed form AFTER the batch — exact under the bulk
          // precondition: a stable pool, i.e. no mid-batch transition that
          // feeds back into the same batch's schedule. The rank windows
          // span only the CLAIM BATCH (bounded by the batch size).
          if (cfg.proxyConfiguration.isDefined || boundSessionIds.nonEmpty || cfg.detectBlocked) {
            if (sessionPool.sessionCount == 0) sessionPool.fillTo(1, sessNow)
            val poolSize = sessionPool.sessionCount
            val rrStart = sessionPool.rrIndex
            val dispatched0 = disposition
              .filter(col("outcome") =!= 11 && col("outcome") =!= 12)
            val dispatched = tierFold match {
              case Some(tf) =>
                dispatched0.join(
                  tf.filter(col("unique_key").isNotNull)
                    .select(col("unique_key").as("tf_key"), col("tier").as("tf_tier")),
                  dispatched0("unique_key") === col("tf_key"), "left")
              case None => dispatched0.withColumn("tf_tier", lit(null).cast("int"))
            }
            val ordWin = Window.orderBy(col("claim_rank"))
            val perSess = dispatched
              .withColumn("__gr", row_number().over(ordWin))
              .withColumn("__ur",
                sum(when(col("r_session").isNull, 1L).otherwise(0L)).over(ordWin))
              .withColumn("sess_key",
                when(col("r_session").isNotNull, col("r_session"))
                  .otherwise(concat(lit("__rr_"),
                    pmod(lit(rrStart.toLong) + col("__ur") - 1, lit(poolSize.toLong)))))
              .groupBy(col("sess_key"))
              .agg(
                count(lit(1)).as("cnt"),
                min(col("__gr")).as("first_rank"),
                min_by(col("tf_tier"), col("__gr")).as("first_tier"),
                count(when(col("outcome") === 0, 1)).as("goods"),
                count(when(col("outcome") === 4, 1)).as("blocked"),
                sum(when(col("r_session").isNull, 1L).otherwise(0L)).as("unbound_cnt"))
              .collect()
              .sortBy(_.getAs[Int]("first_rank"))
            var unboundTotal = 0L
            perSess.foreach { r =>
              val key = r.getAs[String]("sess_key")
              val cnt = r.getAs[Long]("cnt")
              unboundTotal += r.getAs[Long]("unbound_cnt")
              val sess =
                if (key.startsWith("__rr_"))
                  Some(sessionPool.sessionAt(key.stripPrefix("__rr_").toInt))
                else sessionPool.getById(key)
              sess.foreach { s =>
                sessionPool.recordBulkUse(s, cnt)
                sessionPool.recordBulkOutcomes(s,
                  goods = r.getAs[Long]("goods"), blocked = r.getAs[Long]("blocked"))
                cfg.proxyConfiguration.foreach { pc =>
                  val firstTier =
                    if (r.isNullAt(r.fieldIndex("first_tier"))) None
                    else Some(r.getAs[Int]("first_tier"))
                  pc.newProxyInfo(sessionId = Some(s.id), proxyTier = firstTier).foreach { pi =>
                    proxyAssignmentCounts(pi.url) = proxyAssignmentCounts.getOrElse(pi.url, 0L) + cnt
                  }
                }
              }
            }
            sessionPool.advanceRr(unboundTotal)
          }
          // fold results back into driver maps + the state table: tier
          // counts are <= nTiers rows; the state update touches only this
          // batch's hosts (anti-join on a broadcast of the batch host set)
          tierFold.foreach { tf =>
            tf.filter(col("unique_key").isNotNull).groupBy(col("tier")).count().collect()
              .foreach { r =>
                val t = r.getInt(0)
                proxyTierCounts(t) = proxyTierCounts.getOrElse(t, 0L) + r.getLong(1)
              }
            val newStates = tf.filter(col("unique_key").isNull)
              .select(col("host").as("t_host"), col("hist").as("t_hist"), col("cur").as("t_cur"))
            val batchHosts = broadcast(tf.select(col("host")).distinct())
            tierStateDf = Some(materialize(
              tierStateDf.get
                .join(batchHosts, tierStateDf.get("t_host") === batchHosts("host"), "left_anti")
                .unionByName(newStates)))
            tierStateDirty = true
          }
        }
        if (enforcePoliteness)
          throttle.update(nowMs, claimedPerHost.toMap, got429.toMap.filter(_._2 > 0), retryAfter.toMap)

        // collect the prefetched next batch (usually already finished —
        // its checkpoint ran alongside the commit)
        prefetched = prefetchF.map(f => trace("prefetch-await")(Await.result(f, Duration.Inf)))

        pin.unpersist(false)
        val batchWallMs = (System.nanoTime() - batchT0) / 1000000
        Trace.line(f"batch=$batchIdx batch-total ${batchWallMs / 1000.0}%.2fs")
        batchSizer.foreach(_.record(claimedCount, batchWallMs, batchPeriodMs))
        events.emit(graft.events.Event.SystemInfo, batchWallMs) // X6 snapshot tick
        appendMetrics(batchIdx, nowMs, claimedCount,
          processedTotal - processedBefore, emittedImageCount, batchWallMs)
        batchIdx += 1
      }
    }

    val seen =
      if (trackOrder) store.state().select(col("unique_key")).collect().map(_.getString(0)).toSet
      else Set.empty[String]
    seenCount = Trace.span("engine.seen-count")(
      if (trackOrder) seen.size.toLong else store.state().count())
    runStats.addRuntime((System.nanoTime() - runT0) / 1000000L)
    Trace.span("engine.run-teardown") {
      flushMetrics() // also persists the run statistics and proxy state
      // a compaction on the final commit defers its vacuum to "the next
      // commit" — which never comes once the crawl ends. Reclaim the
      // superseded snapshot/delta files now (the last prefetch was awaited
      // above, so no concurrent reader holds the old generation).
      store.vacuumNow()
    }
    if (stopRequested) events.emit(graft.events.Event.Aborting, "stop")
    events.emit(graft.events.Event.Exit, processedTotal) // X6: final state durable
    delaysDf.foreach(_.unpersist(false))
    pagesDf.unpersist(false)
    EngineResult(
      crawlOrder.toSeq,
      seen,
      handledOk.toSet,
      failedKeys.toSet,
      skippedRobots.toSet,
      emittedImages.toSeq,
      if (trackImages) emittedImages.size.toLong else emittedImageCount,
      processedTotal,
      batchIdx,
      handledTags.toMap,
      collidedSessions.toSet,
      proxyAssignments.toMap,
      headersByKey.toMap,
      proxyAssignmentCounts.toMap,
      prefetchedBatches = prefetchHits,
      proxyTierCounts = proxyTierCounts.toMap,
      httpOnlyRuns = httpOnlyRunsAcc,
      browserRuns = browserRunsAcc,
      renderingMispredictions = mispredictionsAcc,
      adaptiveDetections = adaptiveDetectionLog.toMap
    )
  }

  /** Row count of the final seen-set (valid in both tracking modes). */
  @volatile var seenCount: Long = 0L

  /** Cooperative stop (reference BasicCrawler.stop(),
    * _basic_crawler.py:539-548): callable from any thread or from inside a
    * handler callback; the CURRENT batch drains (its commit is atomic), no
    * further batch is claimed — the reference's "ongoing requests will be
    * allowed to complete".
    */
  @volatile private var stopRequested = false
  def stop(): Unit = stopRequested = true

  /** R4 session pool: one session per dispatched request (round-robin,
    * deterministic substitution for the reference's random pick); a blocked
    * dispatch retires its session (reference rotation,
    * _basic_crawler.py:1515-1558). Driven in trackOrder mode.
    */
  val sessionPool = new graft.sessions.SessionPool(
    maxPoolSize = cfg.sessionPoolSize, maxUsageCount = cfg.sessionMaxUsage)

  /** A7 + statistics resume (reference _statistics.py:80,284-299 +
    * RecoverableState): terminal-request counters and the retry histogram
    * persist to a KVS beside the frontier and RESUME across engine
    * restarts on the same store — final statistics after a kill+resume
    * equal an uninterrupted run's (test_basic_crawler.py:2155-2248).
    * Persisted on the metrics-flush cadence and at crawl end, so a crash
    * can at most replay the unflushed tail (same at-least-once semantic as
    * the reference's periodic PERSIST_STATE).
    */
  val runStats = new graft.stats.RunStatistics(
    new graft.storage.KeyValueStore(spark, s"${store.root}/stats_kvs"))

  /** Error snapshots (reference statistics/_error_snapshotter.py): failing
    * pages' bodies land in a KVS beside the frontier under deduped
    * ERROR_SNAPSHOT_* names; enabled via cfg.captureErrorSnapshots.
    */
  lazy val errorSnapshotter = new graft.stats.ErrorSnapshotter(
    new graft.storage.KeyValueStore(spark, s"${store.root}/snapshots_kvs"))

  /** Crawler-global recoverable state (reference use_state,
    * _basic_crawler.py:869-875 → KeyValueStore.get_auto_saved_value →
    * RecoverableState): a mutable map auto-persisted on the PERSIST_STATE
    * cadence and at crawl end, recovered by any later engine opened on the
    * same store. The state key mirrors the reference's
    * `CRAWLEE_STATE_{crawler id}` with the store-root-derived deterministic
    * id standing in for the crawler id, so resume finds the same record.
    */
  def useState(defaultValue: Map[String, Any] = Map.empty): mutable.Map[String, Any] =
    stateKvs.getAutoSavedValue(s"CRAWLEE_STATE_${stateKvs.id}", defaultValue)

  private lazy val stateKvs: graft.storage.KeyValueStore = {
    val kvs = new graft.storage.KeyValueStore(spark, s"${store.root}/state_kvs")
    // RecoverableState.initialize registers the PERSIST_STATE listener;
    // _save_crawler_state persists at teardown — Exit covers that here.
    events.on(graft.events.Event.PersistState)(_ => kvs.persistAutosavedValues())
    events.on(graft.events.Event.Exit)(_ => kvs.persistAutosavedValues())
    kvs
  }

  /** Session ids any seed has ever bound to (reference `session_id`,
    * _request.py:61-62) — collision checks only consult this small set, so
    * unbound crawls pay nothing.
    */
  private val boundSessionIds = mutable.HashSet.empty[String]

  /** C7 always_enqueue salt counter (monotone per engine run). */
  private var aeCounter = 0

  /** X6 event bus: PersistState on the flush cadence, SystemInfo per
    * batch, Aborting on stop/abort, Exit when the final state is durable
    * (reference events/_event_manager.py re-expressed at batch
    * boundaries — see graft.events.EventManager).
    */
  val events = new graft.events.EventManager
}

object CrawlEngine {

  /** R7: sentinel `eff_status` for a request whose time-boxed fetch/handler
    * call exceeded `CrawlConfig.requestHandlerTimeoutMs`. Deliberately not a
    * plausible HTTP status — the reference models the timeout as an ERROR,
    * not a response (_basic_crawler.py:1587-1598) — and classified
    * retryable, so it rides the standard R1 retry/exhaustion machinery.
    */
  val StatusHandlerTimeout: Int = -597

  /** X4: tasks dispatchable in one batch period under a per-minute rate cap
    * (shared by the engine loop and the x4 catalog oracle entry).
    */
  def rateCapPerBatch(tasksPerMinute: Int, batchPeriodMs: Long): Long =
    math.max(1L, tasksPerMinute.toLong * batchPeriodMs / 60000L)

  /** Default href extractor pattern (the L1 generator with the default
    * LinkSelector; kept as a constant for catalog oracles).
    */
  val HrefPattern: String = graft.oracle.LinkSelector().pattern
  val BaseHrefPattern: String = "(?i)<base\\s[^>]*href\\s*=\\s*\"([^\"]*)\""

  import org.apache.spark.sql.functions._
  /** Batch frame columns: the full frontier event row (so terminal commits
    * need no state join) plus the fetch-side columns and the row's class.
    */
  val resultCols: Seq[org.apache.spark.sql.Column] =
    graft.queue.FrontierStore.eventSchema.fieldNames.toSeq.map(col) ++ Seq(
      col("claim_rank"), col("loaded_url"), col("eff_status"),
      col("links"), col("base_url"), col("is_blocked"), col("p_images"),
      // adaptive delegation columns (constant literals when adaptive is off)
      col("__route"), col("__mispred"), col("__detection"),
      col("__class")
    )

  /** Batch row classes (`__class`); the non-fetched ones double as their
    * outcome codes.
    */
  val ClassFetched: Int = 0
  val ClassRedirectFail: Int = 10
  val ClassRobotsSkip: Int = 11
  val ClassCollided: Int = 12

  /** The page table as the fetch joins read it, persisted (lazily). Adaptive
    * mode reads the "browser" sub-crawler's view from optional
    * rendered_body / rendered_images columns (null or absent = the page
    * renders identically under both sub-crawlers).
    *
    * Hash-partitioned on the join key with the session's shuffle-partition
    * count BEFORE the persist: both per-batch fetch joins (status and
    * redirect hop) are keyed on p_url and require exactly that
    * distribution, so the cached layout satisfies them and the page table
    * — the heavy side, bodies included — never re-exchanges (guide §2.4);
    * only the batch side shuffles. Sorted within partitions on the same
    * key, so a sort-merge join's ordering requirement is ALSO satisfied
    * straight from the cache.
    */
  def pinPages(spark: SparkSession, pages: DataFrame): DataFrame =
    pages
      .select(
        col("url").as("p_url"),
        col("status").as("p_status"),
        col("redirect_to").as("p_redirect"),
        col("body").as("p_body"),
        col("image_ids").as("p_images"),
        (if (pages.columns.contains("rendered_body")) col("rendered_body")
         else lit(null).cast("string")).as("p_rbody"),
        (if (pages.columns.contains("rendered_images")) col("rendered_images")
         else lit(null).cast("array<string>")).as("p_rimages")
      )
      .repartition(spark.sessionState.conf.numShufflePartitions, col("p_url"))
      .sortWithinPartitions(col("p_url"))
      .persist()

  /** One dispatched request entering the bench-mode tier fold: the claim
    * batch row (host, rank, key, previous-dispatch tier from the frontier
    * row's `last_proxy_tier` column) left-joined with the per-host tier
    * state table (histogram + current tier; null for a first-seen host).
    */
  final case class TierDispatch(
      host: String, claim_rank: Int, unique_key: String,
      r_last_tier: Option[Int], t_hist: Option[Seq[Int]], t_cur: Option[Int])

  /** Tier-fold output: per-request rows (`unique_key` set, `tier` = the
    * dispatch's assigned tier) plus ONE state row per host (`unique_key`
    * null, `hist`/`cur` = the post-batch tracker snapshot).
    */
  final case class TierFoldRow(
      host: String, unique_key: Option[String], tier: Int, hist: Seq[Int], cur: Int)

  /** Executor-side per-host tier fold (VERDICT r4 #5): runs the SAME
    * ProxyTierTracker arithmetic as the parity path's per-request driver
    * walk (reference proxy_configuration.py:228-261 via
    * graft.proxy.ProxyTierTracker), over one host's dispatches of one
    * batch in claim order. Tier state is per-DOMAIN and dispatches of a
    * domain are processed in claim order on both paths, so the resulting
    * tier sequence is bit-identical to parity's. A host's batch rows are
    * bounded by the claim batch size, so the in-memory sort is bounded.
    */
  def foldTierGroup(nTiers: Int)(host: String, it: Iterator[TierDispatch]): Iterator[TierFoldRow] = {
    val rows = it.toArray.sortBy(_.claim_rank)
    val tracker = new graft.proxy.ProxyTierTracker(nTiers)
    rows.headOption.foreach { h0 =>
      h0.t_hist.foreach(h => tracker.restore(host, h.toArray, h0.t_cur.getOrElse(0)))
    }
    val perRequest = rows.iterator.map { d =>
      d.r_last_tier.foreach(t => tracker.addError(host, t))
      TierFoldRow(host, Some(d.unique_key), tracker.predictTier(host), Nil, -1)
    }.toVector
    val (hist, cur) = tracker.snapshot(host)
    (perRequest :+ TierFoldRow(host, None, -1, hist.toSeq, cur)).iterator
  }

  import org.apache.spark.sql.types._
  /** Wide adds schema for driver-built seed rows (matches
    * FrontierStore.normalizeAdds output order).
    */
  val seedSchema: StructType = StructType(Seq(
    StructField("unique_key", StringType),
    StructField("url", StringType),
    StructField("host", StringType),
    StructField("label", StringType),
    StructField("method", StringType),
    StructField("payload", BinaryType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("user_data_json", StringType),
    StructField("session_id", StringType),
    StructField("depth", IntegerType),
    StructField("forefront", BooleanType),
    StructField("no_retry", BooleanType),
    StructField("max_retries", IntegerType),
    StructField("cand_order", LongType)
  ))
}
