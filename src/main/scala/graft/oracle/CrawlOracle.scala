package graft.oracle

import graft.canon.{EnqueueStrategy, Globs, RobotsRules, UniqueKey, UrlCanon}
import graft.fixtures.{SyntheticWeb, WebSpec}

import scala.collection.mutable

/** Single-threaded reference oracle (SURVEY.md §5): a direct Scala port of
  * the reference memory queue
  * (/root/reference/src/crawlee/storage_clients/_memory/_request_queue_client.py:44-300)
  * plus the BasicCrawler loop semantics at concurrency 1
  * (robots check F6, status classification F12, enqueue pipeline L1-L4,
  * depth gate F10, max_requests R6, retries R1-R3). The Spark engine must
  * reproduce its crawl order (claim batch 1) and final URL-seen set.
  */
final class MemoryQueueOracle {

  final case class OracleRequest(
      uniqueKey: String,
      var url: String,
      depth: Int,
      var retryCount: Int = 0,
      var noRetry: Boolean = false,
      var maxRetries: Option[Int] = None,
      var label: Option[String] = None,
      var rotationCount: Int = 0,
      var sessionId: Option[String] = None,
      // tier of this request's previous dispatch (reference
      // `last_proxy_tier`, _request.py:64-66): a re-dispatch counts it as
      // an error against that tier
      var lastProxyTier: Option[Int] = None
  )

  private val pending = mutable.LinkedHashMap.empty[String, OracleRequest]
  private val handled = mutable.HashMap.empty[String, OracleRequest]
  private val inProgress = mutable.HashMap.empty[String, OracleRequest]

  final case class Processed(uniqueKey: String, wasPresent: Boolean, wasHandled: Boolean)

  /** _memory/_request_queue_client.py:141-210 */
  def addBatch(requests: Seq[OracleRequest], forefront: Boolean = false): Seq[Processed] =
    requests.map { request =>
      val wasHandled = handled.contains(request.uniqueKey)
      val isInProgress = inProgress.contains(request.uniqueKey)
      val wasPresent = wasHandled || isInProgress || pending.contains(request.uniqueKey)
      if (wasHandled) Processed(request.uniqueKey, wasPresent = true, wasHandled = true)
      else if (isInProgress) Processed(request.uniqueKey, wasPresent = true, wasHandled = false)
      else {
        if (!wasPresent) pending(request.uniqueKey) = request
        if (forefront) moveToFront(request.uniqueKey)
        Processed(request.uniqueKey, wasPresent, wasHandled = false)
      }
    }

  private def moveToFront(key: String): Unit = {
    val entry = pending.remove(key)
    entry.foreach { e =>
      val rest = pending.toSeq
      pending.clear()
      pending(key) = e
      rest.foreach { case (k, v) => pending(k) = v }
    }
  }

  def fetchNext(): Option[OracleRequest] =
    pending.headOption.map { case (k, req) =>
      pending.remove(k)
      inProgress(k) = req
      req
    }

  def markHandled(req: OracleRequest): Unit =
    if (inProgress.contains(req.uniqueKey)) {
      inProgress.remove(req.uniqueKey)
      handled(req.uniqueKey) = req
    }

  def reclaim(req: OracleRequest, forefront: Boolean = false): Unit =
    if (inProgress.contains(req.uniqueKey)) {
      inProgress.remove(req.uniqueKey)
      pending(req.uniqueKey) = req
      if (forefront) moveToFront(req.uniqueKey)
    }

  def isEmpty: Boolean = pending.isEmpty
  def isFinished: Boolean = pending.isEmpty && inProgress.isEmpty
  def handledKeys: Set[String] = handled.keySet.toSet
  def seenKeys: Set[String] = (pending.keySet ++ handled.keySet ++ inProgress.keySet).toSet
}

/** Crawl configuration shared by oracle and Spark engine. */
/** F9 user hook: rewrite a discovered request before enqueue, tag it with a
  * label, or drop it (None) — the reference's transform_request_function
  * (_abstract_http_crawler.py:240-245). Must be a pure function (it runs
  * inside executors and on the oracle).
  */
final case class RequestOptions(url: String, label: Option[String])

/** Link-extraction selector (reference extract_links(selector=, attribute=),
  * _abstract_http_crawler.py:198-219: `selector: str = 'a'`,
  * `attribute: str = 'href'` are USER parameters — e.g. `img`/`src` or
  * `link`/`href`). The engine compiles it into the regexp generator column;
  * the oracle into its extraction regex. Tag/attribute are restricted to
  * name characters so the pattern stays RE2-safe for SQL oracles.
  */
final case class LinkSelector(tag: String = "a", attribute: String = "href") extends Serializable {
  require(tag.matches("[A-Za-z][A-Za-z0-9-]*"), s"bad selector tag: $tag")
  require(attribute.matches("[A-Za-z][A-Za-z0-9-]*"), s"bad selector attribute: $attribute")

  /** Java/RE2-compatible pattern; group 1 = the attribute value. */
  def pattern: String = s"""(?i)<$tag\\s[^>]*$attribute\\s*=\\s*"([^"]*)""""
}

/** A fully-specified seed request (reference Request.from_url surface,
  * `_request.py:183-235`): method/payload/headers participate in the
  * extended unique key (C2) when `useExtendedUniqueKey` is set; `noRetry` /
  * `maxRetries` override the crawl-level retry policy per request
  * (`_basic_crawler.py:982-997`).
  */
final case class SeedRequest(
    url: String,
    method: String = "GET",
    payload: Array[Byte] = null,
    headers: Seq[(String, String)] = null,
    label: Option[String] = None,
    userDataJson: Option[String] = None,
    // strict binding to a Session by id (reference _request.py:61-62) —
    // dispatch fails with a collision when the session is unavailable
    sessionId: Option[String] = None,
    noRetry: Boolean = false,
    maxRetries: Option[Int] = None,
    useExtendedUniqueKey: Boolean = false,
    // C7 always_enqueue (reference _request.py:284-310): the unique key is
    // prefixed with a per-enqueue salt so the request enqueues even when an
    // identical one is already present. The reference salts with a
    // crypto-random id (C6, crypto.py:21-24); engine and oracle default to
    // a deterministic per-run counter so runs are parity-comparable, and
    // `CrawlConfig.randomAlwaysEnqueueSalt` switches the engine to the
    // reference's `Ids.randomObjectId()` salt.
    alwaysEnqueue: Boolean = false,
    // Custom unique key (reference Request.from_url `unique_key=` param,
    // _request.py:258-263): overrides the computed C2 key verbatim.
    uniqueKeyOverride: Option[String] = None
) extends Serializable {
  // reference _request.py:291-292: custom unique_key + always_enqueue is a
  // ValueError at construction
  require(
    !(uniqueKeyOverride.isDefined && alwaysEnqueue),
    "`always_enqueue` cannot be used with a custom `unique_key`"
  )

  def uniqueKey: String = uniqueKeyOverride.getOrElse(
    UniqueKey.compute(url, method, headers, payload, null, keepUrlFragment = false,
      useExtendedUniqueKey = useExtendedUniqueKey))
}

final case class CrawlConfig(
    strategy: String = EnqueueStrategy.SameHostname,
    includePatterns: Seq[String] = Seq.empty,
    excludePatterns: Seq[String] = Seq.empty,
    maxCrawlDepth: Int = Int.MaxValue,
    maxRequestsPerCrawl: Long = Long.MaxValue,
    maxRetries: Int = 3,
    respectRobots: Boolean = true,
    linksPerPageLimit: Int = Int.MaxValue,
    transformRequest: Option[RequestOptions => Option[RequestOptions]] = None,
    // enqueue_links(forefront=...) — discovered links jump the queue
    // (_basic_crawler.py:1017-1073)
    enqueueForefront: Boolean = false,
    // error handler: on a retryable failure, may REPLACE the request's
    // url/label before the retry; retry counters are preserved to prevent
    // loops (_basic_crawler.py:1151-1204)
    errorHandler: Option[(RequestOptions, Int) => Option[RequestOptions]] = None,
    // failed handler: called once per terminally-failed request
    // (_basic_crawler.py:1206-1230)
    failedRequestHandler: Option[RequestOptions => Unit] = None,
    // X5 keep_alive: don't stop on empty queue (_basic_crawler.py:189-190)
    keepAlive: Boolean = false,
    // P5 new-work wakeup (_throttling_request_manager.py:104-107,407-427):
    // with keep_alive on and the idle hook returning no work, block up to
    // this long on the store's new-work event (set by any add/reclaim
    // commit — e.g. a concurrent streaming ingest) before finishing. The
    // wakeup is event-driven, not a poll: an add landing 100 ms into a
    // 60 s wait resumes claiming immediately. 0 (default) keeps the
    // original exit-on-idle behavior.
    newWorkWaitMs: Long = 0L,
    // R5 abort_on_error: the first terminally-failed request finishes the
    // in-flight work and shuts the crawl down (_basic_crawler.py:1411-1414)
    abortOnError: Boolean = false,
    // X4 max_tasks_per_minute: per-batch claim budget cap =
    // rate * batchPeriod / 60000 (reference _autoscaling/_system_status.py
    // task-rate limiting surface)
    maxTasksPerMinute: Option[Int] = None,
    // F11 + R4: blocked-content detection raises the SessionError path —
    // rotate the session and retry WITHOUT consuming a retry, up to
    // max_session_rotations (_basic_crawler.py:144-152,990-991;
    // _abstract_http_crawler.py:316-332)
    detectBlocked: Boolean = false,
    maxSessionRotations: Int = 10,
    // session pool shape (engine and oracle build identical deterministic
    // pools; reference sessions/_session_pool.py:36-225). preFillSessions
    // pre-creates ids session_000000..N-1 so requests can bind to them.
    sessionPoolSize: Int = 1000,
    sessionMaxUsage: Int = 50,
    preFillSessions: Int = 0,
    // proxy rotation surface (reference proxy_configuration.py:55-225 via
    // _basic_crawler._get_proxy_info): every dispatched request gets a
    // ProxyInfo — session-affine, tier-tracked per domain. Engine and
    // oracle drive ONE shared-config shape with identical call order, so
    // assignments are parity-checkable.
    proxyConfiguration: Option[graft.proxy.ProxyConfiguration] = None,
    // per-label handler dispatch (reference router.py:20-121): requests are
    // routed to the registered handler for their label, falling back to the
    // default handler; an unmatched label with no default is an error
    router: Option[graft.router.Router] = None,
    // selector-parametrized link extraction (reference
    // _abstract_http_crawler.py:198-219): which (tag, attribute) pairs count
    // as links — default <a href>, e.g. LinkSelector("img", "src") for an
    // image crawl
    linkSelector: LinkSelector = LinkSelector(),
    // page-level robots meta: when true, a page whose head declares
    // <meta name="robots" content="...nofollow..."> contributes NO links to
    // the frontier (beyond-reference — the reference honors robots.txt
    // only; this is the standard REP page-level directive). Detection is
    // the shared CrawlOracle.NofollowMetaPattern regex on the body, applied
    // identically by the engine (rlike gate on the links column) and the
    // oracle (pre-extraction check).
    respectNofollowMeta: Boolean = false,
    // error snapshots (reference statistics/_error_snapshotter.py:1-77):
    // persist failing pages' bodies to a KVS under deduped
    // ERROR_SNAPSHOT_* names for postmortem evidence
    captureErrorSnapshots: Boolean = false,
    // Cluster fault-tolerance tier: the engine's per-batch materializations
    // default to localCheckpoint (executor-resident — fast, but an executor
    // loss mid-batch kills the job, because the claim's post-zipWithIndex
    // lineage is deliberately non-deterministic and must NOT recompute).
    // Setting a directory here switches those sites to RELIABLE
    // checkpoints (HDFS/object store on a real cluster), so a long batch
    // survives executor loss at the cost of a durable write per
    // materialization. The manifest-replay crash story is unchanged — this
    // tier covers executor loss INSIDE a batch; driver loss still replays
    // the uncommitted batch.
    reliableCheckpointDir: Option[String] = None,
    // Adaptive rendering-type delegation (reference
    // _adaptive_playwright_crawler.py:376-446): per claim, the predictor
    // routes between the static fetch (page body) and the "browser" fetch
    // (the pages table's rendered_body/rendered_images columns); a
    // decaying fraction runs both, compares pushed data, and feeds the
    // detection back into the predictor. Engine-only surface (the parity
    // oracle models a static-only crawler).
    adaptive: Option[graft.ml.AdaptiveCrawl] = None,
    // C6/C7: salt always_enqueue keys with the reference's crypto-random
    // 17-char object id instead of the deterministic per-run counter.
    // Random salts defeat dedup identically but make the run
    // non-reproducible, so parity tests keep the default off.
    randomAlwaysEnqueueSalt: Boolean = false,
    // R7 request_handler_timeout (_basic_crawler.py:298,1587-1598): bound
    // each request's pluggable fetch/handler call by a wall-clock deadline;
    // a timed-out request fails with the reference's "Request handler timed
    // out after N seconds" error, which is RETRYABLE (consumes a retry,
    // then the normal R1 exhaustion path). None (the default) = unbounded,
    // and the fetch UDF stays the direct zero-overhead call.
    requestHandlerTimeoutMs: Option[Long] = None
) extends Serializable

final case class OracleResult(
    crawlOrder: Seq[String], // URLs in fetch order
    seenKeys: Set[String],
    handledOkKeys: Set[String],
    failedKeys: Set[String],
    skippedRobotsKeys: Set[String],
    emittedImageIds: Seq[String],
    attempts: Map[String, Int],
    handledTags: Map[String, String] = Map.empty, // uniqueKey -> router handler tag
    collidedKeys: Set[String] = Set.empty, // session-collision terminal failures
    // uniqueKey -> (proxy url, tier) of the LAST dispatch (reference
    // ProxyInfo surface)
    proxyAssignments: Map[String, (String, Option[Int])] = Map.empty
)

object CrawlOracle {

  /** HTML href extractor shared with the engine (regex-based; FIXTURES.md
    * pages carry well-formed quoted hrefs).
    */
  val HrefRe = """(?i)<a\s[^>]*href\s*=\s*"([^"]*)"""".r

  /** Page-level robots nofollow (quoted name-before-content form, the
    * fixture contract — same quoting contract as HrefRe). Shared by the
    * engine's rlike gate and the oracle's check so both sides detect
    * identically.
    */
  val NofollowMetaPattern: String =
    """(?i)<meta\s[^>]*name\s*=\s*"robots"[^>]*content\s*=\s*"[^"]*nofollow"""
  val NofollowMetaRe = NofollowMetaPattern.r
  val BaseRe = """(?i)<base\s[^>]*href\s*=\s*"([^"]*)"""".r

  def extractHrefs(body: String): Seq[String] =
    HrefRe.findAllMatchIn(body).map(_.group(1)).toSeq

  def extractBase(body: String): Option[String] =
    BaseRe.findFirstMatchIn(body).map(_.group(1))

  /** Run the full reference crawl at concurrency 1 over the synthetic web. */
  def run(spec: WebSpec, seeds: Seq[String], cfg: CrawlConfig): OracleResult =
    runRequests(spec, seeds.map(u => SeedRequest(u)), cfg)

  def runRequests(spec: WebSpec, seeds: Seq[SeedRequest], cfg: CrawlConfig): OracleResult = {
    val queue = new MemoryQueueOracle
    import queue.OracleRequest

    val pagesByUrl: Map[String, graft.schema.PageRow] =
      (0L until spec.totalPages.toLong).map(g => SyntheticWeb.pageAt(spec, g)).map(p => p.url -> p).toMap

    val robotsByHost: Map[String, RobotsRules] = SyntheticWeb.robots(spec)

    val include = cfg.includePatterns.map(Globs.compile)
    val exclude = cfg.excludePatterns.map(Globs.compile)
    // selector-parametrized extraction (_abstract_http_crawler.py:198-219)
    val linkRe = cfg.linkSelector.pattern.r
    def extractLinks(body: String): Seq[String] =
      linkRe.findAllMatchIn(body).map(_.group(1)).toSeq

    def patternsOk(url: String): Boolean = {
      if (exclude.exists(_.matcher(url).matches())) return false
      if (include.isEmpty) true else include.exists(_.matcher(url).matches())
    }

    def robotsAllowed(url: String): Boolean = {
      if (!cfg.respectRobots) return true
      val host = UrlCanon.normalizeHost(UrlCanon.parse(url).host)
      robotsByHost.get(host).forall(_.isAllowed(url))
    }

    // seed enqueue (robots-filtered per _basic_crawler.py:841-867);
    // always_enqueue seeds get the deterministic salt in seed order
    var aeCounter = 0
    val seedReqs = seeds.flatMap { sr =>
      if (!robotsAllowed(sr.url)) None
      else {
        val key =
          if (sr.alwaysEnqueue) { val k = f"ae$aeCounter%06d|${sr.uniqueKey}"; aeCounter += 1; k }
          else sr.uniqueKey
        Some(OracleRequest(key, sr.url, depth = 0,
          noRetry = sr.noRetry, maxRetries = sr.maxRetries, label = sr.label,
          sessionId = sr.sessionId))
      }
    }
    queue.addBatch(seedReqs)

    // R4 session pool — mirrors the engine's driver-side pool exactly
    // (same deterministic round-robin); accounting runs when
    // blocked-detection is on or any request binds a session
    val sessionPool = new graft.sessions.SessionPool(
      maxPoolSize = cfg.sessionPoolSize, maxUsageCount = cfg.sessionMaxUsage)
    if (cfg.preFillSessions > 0) sessionPool.fillTo(cfg.preFillSessions, 0L)
    val bindingActive = seeds.exists(_.sessionId.isDefined)

    val crawlOrder = mutable.ArrayBuffer.empty[String]
    val handledOk = mutable.HashSet.empty[String]
    val failed = mutable.HashSet.empty[String]
    val skippedRobots = mutable.HashSet.empty[String]
    val images = mutable.ArrayBuffer.empty[String]
    val attempts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val handledTags = mutable.HashMap.empty[String, String]
    val collided = mutable.HashSet.empty[String]
    val proxyAssignments = mutable.HashMap.empty[String, (String, Option[Int])]
    var processedTotal = 0L
    var aborted = false // R5 abort_on_error (_basic_crawler.py:1411-1414)

    while (!aborted && !queue.isFinished && processedTotal < cfg.maxRequestsPerCrawl) {
      queue.fetchNext() match {
        case None => // only in-progress left; single-threaded ⇒ done
          processedTotal = cfg.maxRequestsPerCrawl
        case Some(req) =>
          // robots re-check at fetch time (F6): skip as handled, no count
          if (!robotsAllowed(req.url)) {
            queue.markHandled(req)
            skippedRobots += req.uniqueKey
          } else if (req.sessionId.exists(sid => !sessionPool.getById(sid).exists(_.isUsable(0L)))) {
            // RequestCollisionError (reference _basic_crawler.py:1673-1686):
            // the bound Session is no longer available in the pool ->
            // no_retry terminal failure WITHOUT a fetch
            failed += req.uniqueKey
            collided += req.uniqueKey
            cfg.failedRequestHandler.foreach(h => h(RequestOptions(req.url, req.label)))
            queue.markHandled(req)
            processedTotal += 1
            if (cfg.abortOnError) aborted = true
          } else {
            // session accounting at dispatch (mirrors the engine's
            // disposition loop): a bound request uses ITS session, an
            // unbound one round-robins via getSession
            val sessOpt =
              if (cfg.detectBlocked || bindingActive || cfg.proxyConfiguration.isDefined)
                Some(req.sessionId.flatMap(sessionPool.getById) match {
                  case Some(bound) => bound.markUsed(); bound
                  case None => sessionPool.getSession(0L)
                })
              else None
            // proxy assignment at dispatch (reference _get_proxy_info):
            // session-affine, tier hill-climbed per domain; the previous
            // dispatch's tier counts as an error against that tier
            cfg.proxyConfiguration.foreach { pc =>
              val host = UrlCanon.normalizeHost(UrlCanon.parse(req.url).host)
              pc.newProxyInfo(
                sessionId = sessOpt.map(_.id),
                requestHost = Some(host),
                lastProxyTier = req.lastProxyTier
              ).foreach { pi =>
                proxyAssignments(req.uniqueKey) = (pi.url, pi.proxyTier)
                req.lastProxyTier = pi.proxyTier
              }
            }
            val attempt = attempts(req.uniqueKey)
            attempts(req.uniqueKey) = attempt + 1
            crawlOrder += req.url

            // fetch: resolve page (following one redirect hop)
            def terminalFail(): Unit = {
              failed += req.uniqueKey
              cfg.failedRequestHandler.foreach(h => h(RequestOptions(req.url, req.label)))
              queue.markHandled(req)
              processedTotal += 1
              if (cfg.abortOnError) aborted = true
            }
            val page0 = pagesByUrl.get(req.url)
            page0 match {
              case None =>
                // unknown URL = 404 client error: no retry (F12)
                terminalFail()
              case Some(p0) =>
                var status = SyntheticWeb.statusAt(spec, hostIdx(spec, p0.host), pageIdx(p0.url), attempt)
                var page = p0
                var loadedUrl = req.url
                var redirectFailedStrategy = false
                if (status == 301) {
                  loadedUrl = p0.redirect_to
                  // redirect strategy re-check vs ORIGINAL url (F8)
                  val (ok, _) = EnqueueStrategy.filterUrl(loadedUrl, cfg.strategy, req.url)
                  if (!ok) redirectFailedStrategy = true
                  else {
                    page = pagesByUrl(loadedUrl)
                    status = SyntheticWeb.statusAt(spec, hostIdx(spec, page.host), pageIdx(page.url), attempt)
                    if (status == 301) status = 200 // fixture guarantees non-redirect targets
                  }
                }
                val blockedReason =
                  if (cfg.detectBlocked && !redirectFailedStrategy)
                    graft.canon.Blocked.blockedReason(status, page.body)
                  else None
                if (redirectFailedStrategy) {
                  // request interrupted: handled without output (F8)
                  queue.markHandled(req)
                  processedTotal += 1
                } else if (blockedReason.isDefined) {
                  // F11/R4: SessionError — rotate, retry WITHOUT consuming a
                  // retry; rotations have their own budget
                  if (req.rotationCount < cfg.maxSessionRotations) {
                    req.rotationCount += 1
                    sessOpt.foreach(_.retire()) // SessionError -> rotate
                    queue.reclaim(req)
                  } else terminalFail()
                } else if (status == 200) {
                  // router dispatch (router.py:113-121): resolve the handler
                  // for this request's label (default fallback; error when
                  // unmatched and no default is configured)
                  val handlerOpt = cfg.router.map(_.resolve(req.label))
                  handlerOpt.foreach(h => handledTags(req.uniqueKey) = h.tag)
                  // handler: extract links, enqueue, emit images (L1-L4);
                  // a robots-nofollow page contributes none (opt-in gate)
                  val pageNofollow = cfg.respectNofollowMeta &&
                    NofollowMetaRe.findFirstIn(page.body).isDefined
                  if (handlerOpt.forall(_.extractLinks) && !pageNofollow) {
                    val base = extractBase(page.body).getOrElse(loadedUrl)
                    val links = extractLinks(page.body).iterator
                      .map(l => if (UrlCanon.isAbsolute(l)) l else UrlCanon.resolve(base, l))
                      .filter(_ != null)
                      .toSeq
                    val eligible = links.filter { l =>
                      EnqueueStrategy.filterUrl(l, cfg.strategy, req.url)._1 && patternsOk(l)
                    }.take(cfg.linksPerPageLimit)
                    // F9 user transform: rewrite / drop before robots + enqueue
                    val transformed = cfg.transformRequest match {
                      case Some(fn) =>
                        eligible.flatMap(l => fn(RequestOptions(l, None)).map(r => (r.url, r.label)))
                      case None => eligible.map(l => (l, Option.empty[String]))
                    }
                    // robots partition at enqueue (F5)
                    val (allowedLinks, _) = transformed.partition { case (u, _) => robotsAllowed(u) }
                    // the handler's enqueue_links(label=...) default applies
                    // when the transform did not set one (router surface)
                    val defaultLinkLabel = handlerOpt.flatMap(_.linkLabel)
                    val children = allowedLinks
                      .filter(_ => req.depth + 1 <= cfg.maxCrawlDepth) // F10
                      .map { case (l, lbl) =>
                        OracleRequest(UniqueKey.compute(l), l, req.depth + 1,
                          label = lbl.orElse(defaultLinkLabel))
                      }
                    queue.addBatch(children, forefront = cfg.enqueueForefront)
                  }
                  if (handlerOpt.forall(_.emitImages)) images ++= page.image_ids
                  sessOpt.foreach(_.markGood())
                  handledOk += req.uniqueKey
                  queue.markHandled(req)
                  processedTotal += 1
                } else if (status == 429 || status >= 500) { // retryable (F12, R1)
                  // per-request no_retry / max_retries override the crawl
                  // defaults (_basic_crawler.py:982-997)
                  val maxR = req.maxRetries.getOrElse(cfg.maxRetries)
                  if (!req.noRetry && req.retryCount < maxR) {
                    // error handler may replace url/label before the retry,
                    // counters preserved (_basic_crawler.py:1151-1204)
                    cfg.errorHandler
                      .flatMap(h => h(RequestOptions(req.url, req.label), req.retryCount))
                      .foreach { repl => req.url = repl.url; req.label = repl.label }
                    req.retryCount += 1
                    queue.reclaim(req)
                  } else terminalFail()
                } else {
                  // catch-all: any other status (404, other 4xx, unknown) is
                  // a terminal client error — never silently re-claimed
                  terminalFail()
                }
            }
          }
      }
    }

    OracleResult(
      crawlOrder.toSeq,
      queue.seenKeys,
      handledOk.toSet,
      failed.toSet,
      skippedRobots.toSet,
      images.toSeq,
      attempts.toMap,
      handledTags.toMap,
      collided.toSet,
      proxyAssignments.toMap
    )
  }

  def hostIdx(spec: WebSpec, host: String): Int = SyntheticWeb.hostIdx(spec, host)

  def pageIdx(url: String): Int = SyntheticWeb.pageIdx(url)
}
