package graft.queue

import graft.schema.Status
import graft.util.Trace
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Dataset-native RequestQueue (SURVEY.md §2.4) as an append-only event log
  * with snapshot-manifest commits — the Iceberg-style status-as-log design
  * of SURVEY §7.4.5 (no Iceberg jars ship with this image, so the snapshot
  * semantics are provided by an atomic manifest rename over plain parquet).
  *
  * Semantics ported from the reference queue clients:
  *   - dedup-on-add, first add wins, re-add of pending + forefront
  *     repositions (memory client `_memory/_request_queue_client.py:141-210`)
  *   - FIFO `seq` / LIFO `forefront_seq` two-level ordering
  *     (`_file_system/_request_queue_client.py:42-49,373-381,725-734`)
  *   - claim with lease; expired leases are auto-reclaimed by the next claim
  *     (Redis `_BLOCK_REQUEST_TIME` + stale sweep,
  *     `_redis/_request_queue_client.py:80-87`)
  *   - markHandled / reclaim only act on in-progress rows
  *     (`_memory/_request_queue_client.py:232-288`)
  *
  * Scale design (10^10 frontier): current state is one row per unique_key,
  * maintained incrementally — each commit merges the delta into the cached
  * state with a latest-event-wins window, and persists the delta file; the
  * manifest lists {snapshot?, deltas}. State is hash-distributed on
  * unique_key, so the merge window and the dedup anti-join both reuse the
  * same shuffle partitioning; `host_hash` buckets drive claim locality. At
  * cluster scale the snapshot would be bucketed by `pmod(host_hash, B)` and
  * the claim would prune to politeness-eligible buckets.
  */
final class FrontierStore(
    val spark: SparkSession,
    val root: String,
    leaseMs: Long = 300000L, // reference claim lease: 300 s
    compactEvery: Int = 8,
    bloomDedup: Boolean = false, // Q2: bloom mode replaces the exact dedup anti-join
    bloomBuckets: Int = 64,
    bloomExpectedKeys: Long = 4000000L, // total capacity across buckets
    bloomFpp: Double = 1e-7, // reference default (_redis/_storage_client.py:45)
    claimBucketPruning: Boolean = true,
    // storage name (reference storages/_request_queue.py:112-138): a NAMED
    // queue is persistent shared data and is never purged implicitly; only
    // the unnamed default queue participates in purge-on-start
    val name: Option[String] = None
) {

  import FrontierStore._

  /** C6 storage id (reference `crypto_random_object_id` at creation,
    * persisted in metadata — e.g. _sql/_client_mixin.py:125). Derived
    * deterministically from the store identity so a re-open yields the
    * same id without extra persisted state.
    */
  val id: String = graft.canon.Ids.deterministicObjectId(s"rq|$root|${name.getOrElse("")}")

  private val logDir = s"$root/log"
  private val bloomDir = s"$root/bloom"
  private val manifestPath = Paths.get(s"$root/manifest.json")

  Files.createDirectories(Paths.get(logDir))

  @volatile private var manifest: Manifest =
    if (Files.exists(manifestPath)) Manifest.read(manifestPath) else Manifest.empty

  // ---- claim bucket pruning (SCALE.md: the claim must not scan the whole
  // 10^10-row state every batch) -------------------------------------------
  //
  // Driver-side per-bucket upper bound on non-handled rows, keyed by
  // pmod(host_hash, ClaimBuckets). Maintained from each commit's delta:
  //  - a Handled event is exactly -1 (handled is terminal and reachable
  //    only from a non-handled row);
  //  - a Pending event with a null `prev_epoch` is +1: a brand-new key, or
  //    a contract-path reclaim from InProgress (which consumed no pending
  //    position, so it keeps the safe overcount);
  //  - a Pending event with a non-null `prev_epoch` is net 0: it consumed
  //    a Pending position of the same key (engine reclaims, session
  //    rotations, forefront repositions) — unless `keysMayChangeBuckets`
  //    is set, because the event's bucket may then differ from the bucket
  //    it left, and the new bucket must count it (+1).
  // Every rule errs up, never down, which is what makes the bound safe: a
  // bucket is pruned only when its bound is 0. The bound is reset EXACTLY
  // at every compaction and at resume (one aggregate over the state being
  // rewritten anyway), so any drift is bounded by compactEvery commits. The
  // claim then scans only buckets with a nonzero bound — late in a crawl
  // (most hosts exhausted) that prunes most of the state; at cluster scale
  // the snapshot would be cluster-bucketed on the same key so the pruning
  // maps to file skipping. All bounds at 0 prove the queue drained
  // ([[drained]]).
  private val bucketNonHandled = scala.collection.mutable.HashMap.empty[Int, Long].withDefaultValue(0L)

  private def bucketCol = pmod(col("host_hash"), lit(ClaimBuckets)).cast("int")

  // ---- claim epoch-cutoff pre-filter (SCALE.md §Claim (a)) -----------------
  //
  // Driver-side per-EPOCH pending counts (epoch = seq >> 42 — the stride
  // allocator advances ~one epoch per commit class, so low epochs are the
  // head of the FIFO; forefront rows live in epoch -1, which sorts first).
  // Maintained EXACTLY from each commit's delta: a Pending event is +1 at
  // its own epoch; any event that consumes a previously-pending position
  // carries that position's epoch in `prev_epoch` and is -1 there (terminal
  // commits, claim leases, repositions, reclaim moves). Rebuilt exactly at
  // compaction/resume. Any drift can only UNDERCOUNT (claim-leased rows
  // whose lease later expires are not counted), which is safe: the cutoff
  // keeps MORE epochs than needed, never fewer — the proof obligation is
  // counted(<=C) <= trueEligible(<=C), so counted(<=C) >= maxN implies all
  // true top-maxN rows sort at or below C.
  //
  // The claim then pre-filters the pending scan to `epoch <= C` where C is
  // the smallest epoch whose cumulative count reaches the claim size —
  // mid-crawl that reads a few head epochs instead of the whole pending
  // set, and at cluster scale it maps to file pruning on a seq-bucketed
  // snapshot. Only applied when the claim is unconstrained (no per-host
  // quota, no blocked hosts): a host-level constraint could push the
  // claimable head past any count-based cutoff.
  private val epochPending = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)

  /** Position epoch of an event row: -1 for forefront, seq >> 42 otherwise. */
  private def epochExpr = when(col("forefront_seq") >= 0, lit(-1L)).otherwise(shiftright(col("seq"), 42))

  /** Exact rebuild of both driver summaries in ONE aggregate over every
    * state row (resume + compaction reset points); returns the state's row
    * count. Handled rows fold into one group: only their count is used.
    */
  private def rebuildSummaries(): Long = {
    bucketNonHandled.clear()
    epochPending.clear()
    val handled = col("status") === Status.Handled
    stateDf
      .groupBy(when(handled, lit(-1)).otherwise(bucketCol).as("b"), col("status"),
        when(handled, lit(0L)).otherwise(epochExpr).as("e"))
      .count().collect()
      .foldLeft(0L) { (rows, r) =>
        val n = r.getLong(3)
        if (r.getInt(1) != Status.Handled) bucketNonHandled(r.getInt(0)) += n
        if (r.getInt(1) == Status.Pending) epochPending(r.getLong(2)) += n
        rows + n
      }
  }

  /** Fold summary-count rows (bucket, status, epoch, prev_epoch, n) of one
    * committed delta into both summaries. Rows may repeat a group (one per
    * task of the fold pass); they are summed before the update.
    */
  private def foldSummaryCounts(rows: Array[org.apache.spark.sql.Row]): Unit =
    rows.groupMapReduce(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))(
        _.getLong(4))(_ + _)
      .foreach { case ((b, st, e, pe), n) =>
        val bucketDelta =
          if (st == Status.Handled) -n
          else if (st == Status.Pending && (pe.isEmpty || keysMayChangeBuckets)) n
          else 0L
        bucketNonHandled(b) = math.max(0L, bucketNonHandled(b) + bucketDelta)
        if (st == Status.Pending) epochPending(e) += n
        pe.foreach(epochPending(_) -= n)
      }

  /** The fold pass of one commit, after its manifest is durable: the
    * summary counts (skipped when the commit compacted, which rebuilt them
    * exactly) and, in bloom mode, the admitted keys appended as runs to the
    * seen-set, in ONE job over the delta. A compacting commit's pass also
    * merges every run into the base shards (one rewrite per bucket per
    * `compactEvery` commits; the deferred vacuum then drops the merged
    * runs). The bloom version moves only after the manifest, so a crash
    * between the two is replayed at the next open.
    */
  private def foldCommitted(delta: DataFrame, compacted: Boolean, bloom: Boolean): Unit = {
    val groups =
      if (!compacted && claimBucketPruning)
        Seq(bucketCol.as("b"), col("status"), epochExpr.as("e"), col("prev_epoch").as("pe"))
      else Nil
    val counts = bloomShards.filter(_ => bloom) match {
      case Some(s) =>
        val f = s.foldCounting(delta, col("status") === Status.Pending && col("retry_count") === 0,
          groups, batchId, merge = compacted)
        Trace.line(s"bloom.fold batch=$batchId keys=${f.keys} run_bytes=${f.runBytes} " +
          s"shards_rewritten=${f.shardsRewritten}")
        f.counts
      case None if groups.nonEmpty => delta.groupBy(groups: _*).count().collect()
      case None => Array.empty[org.apache.spark.sql.Row]
    }
    foldSummaryCounts(counts)
  }

  /** Driver-side pending-row estimate from the epoch summaries (may
    * UNDERCOUNT — lease-expired rows aren't counted; exact at compaction
    * boundaries). Callers gating optional work (claim prefetch) on
    * frontier depth only need the conservative bound.
    */
  def pendingEstimate: Long = synchronized { epochPending.valuesIterator.map(math.max(0L, _)).sum }

  /** Smallest epoch C whose cumulative pending count reaches `maxN`
    * (None = no pruning possible — fewer than maxN counted rows).
    */
  private def epochCutoff(maxN: Int): Option[Long] = {
    val entries = epochPending.toSeq.filter(_._2 != 0L).sortBy(_._1)
    var cum = 0L
    entries.foreach { case (e, n) =>
      cum += n
      if (cum >= maxN) return Some(e)
    }
    None
  }

  /** True when the driver bookkeeping PROVES the queue drained: the state
    * is built, bucket pruning is on, and every bucket bound is 0 — no
    * pending, in-progress or lease-expired row remains, since the bound
    * never undercounts. False only means "not proven"; callers then let an
    * empty claim decide.
    */
  def drained: Boolean = synchronized {
    stateDf != null && claimBucketPruning && bucketNonHandled.valuesIterator.forall(_ == 0L)
  }

  /** Buckets that may still hold claimable rows (None = no pruning possible). */
  private def claimableBuckets(): Option[Seq[Int]] = {
    if (!claimBucketPruning) return None
    val nonEmpty = bucketNonHandled.collect { case (b, n) if n > 0 => b }.toSeq
    if (nonEmpty.size < ClaimBuckets) Some(nonEmpty) else None
  }


  /** Bloom seen-set (bloom mode only): keys ever admitted to the queue.
    * A bloom hit is treated as already-seen — the reference's documented
    * 1e-7 false-drop semantics — in exchange for O(batch) dedup with no
    * join against the frontier. Partition-LOCAL shards: the probe and the
    * per-commit fold repartition on the key bucket; the fold appends each
    * task's admitted keys as one run file, and compaction merges the runs
    * into the base shards — the whole filter is never broadcast and no key
    * set is ever collected to the driver (SCALE.md §Q2, implemented).
    */
  private val bloomShards: Option[graft.dedup.BloomShardStore] =
    if (bloomDedup) {
      val s = graft.dedup.BloomShardStore.openOrCreate(
        bloomDir, bloomBuckets, math.max(1L, bloomExpectedKeys / bloomBuckets), bloomFpp)
      // resume: a crash between the manifest write and the shard fold leaves
      // the shards behind the log — replay every key committed after the
      // folded-through batch (bloom puts are idempotent, so the
      // over-approximation of folding any-status keys is safe)
      if (s.version < manifest.batchId)
        s.fold(state().filter(col("batch_id") > s.version).select(col("key64")), manifest.batchId)
      Some(s)
    } else None

  /** Current state: exactly one row (the latest event) per unique_key.
    * Maintained as a persisted base plus a short lazy chain of broadcast
    * anti-join merges (one per commit); re-materialized every
    * `compactEvery` commits together with a parquet snapshot.
    */
  private var stateDf: DataFrame = _
  private var persistedBase: DataFrame = _ // the persisted ancestor of stateDf

  /** Latest-event-per-key reduction. */
  private def latestWins(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("unique_key")).orderBy(col("event_seq").desc)
    events.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Queue state AS OF a committed batch — Iceberg-style time travel over
    * the retained log window: latest event per key among events with
    * `batch_id <= asOfBatchId`, reconstructed straight from the log files
    * (never from the live cached chain). Valid back to the newest
    * compaction epoch still referenced by the manifest: bucket-local
    * compaction collapses per-key history inside rewritten buckets, so an
    * earlier reconstruction would silently DROP keys whose surviving event
    * is newer than the cut — the method refuses rather than answer wrong.
    * (Iceberg semantics exactly: snapshots expire at compaction; travel
    * inside the retention window is exact.)
    */
  def stateAt(asOfBatchId: Long): DataFrame = synchronized {
    val m = manifest
    val epochOf = """snapshot-(\d+)""".r
    val floor = m.bucketDirs.values
      .flatMap(d => epochOf.findFirstMatchIn(d).map(_.group(1).toLong))
      .maxOption.getOrElse(0L)
    require(
      asOfBatchId >= floor && asOfBatchId <= m.batchId,
      s"time-travel window is [$floor, ${m.batchId}] " +
        s"(compaction collapsed history before batch $floor); got $asOfBatchId")
    val files = m.allFiles(root)
    if (files.isEmpty) emptyEvents(spark)
    else latestWins(
      spark.read.schema(eventSchema).parquet(files: _*)
        .filter(col("batch_id") <= asOfBatchId))
  }

  /** Current queue state (one row per key). Reconstructs from the manifest
    * on first access (resume path), then maintained incrementally.
    */
  def state(): DataFrame = synchronized {
    if (stateDf == null) {
      val files = manifest.allFiles(root)
      stateDf =
        if (files.isEmpty) emptyEvents(spark)
        else latestWins(spark.read.schema(eventSchema).parquet(files: _*))
      materialize()
      // ONE aggregate at resume: the exact per-bucket/per-epoch claimable
      // bounds and the row count that seeds the join-shape crossover. It
      // ADDS to the bound: a caller may already have counted rows into it.
      stateRowsBound +=
        (if (files.isEmpty) 0L else if (claimBucketPruning) rebuildSummaries() else stateDf.count())
    }
    stateDf
  }

  /** Persist the current chain (lazily — the next consumer materializes
    * it; skipping the forcing count saves one action per commit) and
    * release the base from TWO generations ago. The one-generation grace
    * keeps the previous base cached while a concurrently-running claim
    * PREFETCH (engine pipelining, claimPlan/rankClaim) may still be
    * reading it — by the time the grace base is released, nothing holds a
    * plan over it. Recompute of an evicted chain walks to parquet roots,
    * so laziness stays safe for the live base.
    */
  private var graceBase: DataFrame = _
  private def materialize(): Unit = {
    val newBase = stateDf.persist(StorageLevel.MEMORY_AND_DISK)
    if (graceBase != null && (graceBase ne newBase) && (graceBase ne persistedBase))
      graceBase.unpersist(false)
    graceBase = persistedBase
    persistedBase = newBase
    stateDf = newBase
  }

  /** Merge a (small) committed delta into the state WITHOUT shuffling the
    * base: `base LEFT ANTI broadcast(delta-keys) UNION latest(delta)`.
    * The anti-join broadcasts the delta side, so the (large) base keeps its
    * partitioning and is only scanned — per-commit cost is O(delta) + a
    * cached-base scan, not a full re-shuffle. The chain depth is capped by
    * `compactEvery`, at which point the state is snapshotted + re-persisted.
    */
  private def mergeDelta(delta: DataFrame, deltaRows: Long): Unit = {
    stateRowsBound += deltaRows // upper bound: new keys <= delta rows
    // Small deltas: broadcast anti-join (no shuffle of the base, but the
    // broadcast build is a DRIVER-side collect — serial). The delta side
    // (narrow, batch-scale) is coalesced before the union: the window
    // behind latestWins leaves shuffle.partitions partitions, and a union
    // per commit grew the cached chain by that many — late in a crawl every
    // state scan was a 449-task stage of mostly-empty tasks (event-log
    // measured). Large deltas (bulk enqueues): a shuffled anti-join, and
    // the delta keeps the window's parallelism. The cached base keeps its
    // layout untouched either way.
    val deltaLatest = latestWins(delta)
    stateDf =
      if (deltaRows <= 65536) {
        val small = deltaLatest.coalesce(4)
        state()
          .join(broadcast(small.select(col("unique_key"))), Seq("unique_key"), "left_anti")
          .unionByName(small)
      } else
        state()
          .join(deltaLatest.select(col("unique_key")), Seq("unique_key"), "left_anti")
          .unionByName(deltaLatest)
    // Re-materialize immediately: a persisted 1-deep state keeps every later
    // action this batch from re-evaluating a join chain.
    materialize()
  }

  // ---- counters -----------------------------------------------------------

  def batchId: Long = manifest.batchId

  /** Per-batch driver constant (ordering-counter bases, batch ids, the
    * virtual clock) as a references-array value instead of an inline
    * literal: keeps every micro-batch's codegen SOURCE byte-identical so
    * the whole-stage cache hits across batches (graft.expr.DriverLong).
    */
  private def dLong(v: Long): org.apache.spark.sql.Column =
    graft.expr.DriverConst.driverLong(spark, v)

  /** Row count of the most recent claim() commit (saves callers a count). */
  @volatile var lastClaimCount: Long = 0L

  /** Driver-side UPPER bound on current state rows (cumulative committed
    * delta rows since open/resume; every state row descends from at least
    * one event, so events >= keys). Drives the exact-mode join-shape
    * crossover in commitWithAdds — overestimating flips to the
    * broadcast-semi shape earlier, which is the scale-safe direction.
    * Exact-ish at resume (one count of the rebuilt state), grows by event
    * volume afterwards; never decreases.
    */
  private var stateRowsBound: Long = 0L

  /** Set by callers whose hooks can REPLACE a request's host (error-handler
    * replacement): bucket leafs then stop being key-disjoint and compaction
    * reads dedupe with latestWins.
    */
  @volatile var keysMayChangeBuckets: Boolean = false
  def counters: (Long, Long, Long) = (manifest.maxSeq, manifest.maxForefrontSeq, manifest.maxEventSeq)

  // ---- commit -------------------------------------------------------------

  /** Append `events` as one atomic commit: parquet delta write + manifest
    * rename, then the fold pass. New ordering counters are read back from
    * observed metrics of the write (no pre-write counting). Returns the
    * number of events committed; an empty delta is dropped and leaves the
    * manifest untouched. `bloomFold` folds the commit's admitted keys into
    * the bloom shards (bloom mode).
    */
  private def commitEvents(events: DataFrame, bloomFold: Boolean): Long = synchronized {
    // a compaction from the PREVIOUS commit left superseded files behind:
    // reclaim them now, before any new work. Deferring vacuum one commit
    // guarantees a concurrently-prefetched claim (engine pipelining) has
    // finished its checkpoint before the files its lineage could reference
    // disappear — prefetches are always awaited before the next commit.
    if (vacuumPending) { Trace.span("store.vacuum")(vacuum()); vacuumPending = false }
    val bid = manifest.batchId + 1
    val deltaName = f"delta-$bid%06d"
    val deltaPath = s"$logDir/$deltaName"
    // Observation: the count/max stats ride on the write job itself —
    // no second read-the-delta-back aggregate action per commit.
    val obs = new org.apache.spark.sql.Observation(s"commit-$bid")
    Trace.span("store.delta-write")(events
      .observe(obs, count(lit(1)).as("n"), max(col("seq")).as("ms"),
        max(col("forefront_seq")).as("mf"), max(col("event_seq")).as("me"))
      .write.mode(SaveMode.Overwrite).parquet(deltaPath))
    val metrics = obs.get
    val delta = spark.read.schema(eventSchema).parquet(deltaPath)
    val aggRow = org.apache.spark.sql.Row(
      metrics("n"), metrics.getOrElse("ms", null), metrics.getOrElse("mf", null), metrics.getOrElse("me", null))
    val n = aggRow.getLong(0)
    if (n == 0) {
      deleteRecursively(Paths.get(deltaPath))
      return 0L
    }
    def maxOr(i: Int, old: Long): Long = if (aggRow.isNullAt(i)) old else math.max(old, aggRow.getLong(i))
    val nextManifest = manifest.copy(
      batchId = bid,
      maxSeq = maxOr(1, manifest.maxSeq),
      maxForefrontSeq = maxOr(2, manifest.maxForefrontSeq),
      maxEventSeq = maxOr(3, manifest.maxEventSeq),
      deltas = manifest.deltas :+ deltaName
    )
    // merge the committed delta into the state chain (reading it back keeps
    // the chain's lineage rooted in parquet, never in caller DataFrames)
    Trace.span("store.merge")(mergeDelta(delta, n))
    val compacted = nextManifest.deltas.size >= compactEvery
    val finalManifest =
      if (compacted) Trace.span("store.compact")(compact(nextManifest))
      else nextManifest
    Manifest.writeAtomic(manifestPath, finalManifest)
    manifest = finalManifest
    Trace.span("store.fold")(foldCommitted(delta, compacted, bloom = bloomFold))
    // reclaim superseded epochs once the new manifest is durable — at
    // cluster scale the un-vacuumed log grows without bound (every
    // compaction strands a snapshot epoch + compactEvery delta files).
    // Deferred to the START of the next commit (see above).
    if (compacted) vacuumPending = true
    n
  }

  // ---- P5 new-work wakeup -----------------------------------------------
  // The reference's request manager sets an asyncio event on every
  // add/reclaim, interrupting a worker's empty-queue sleep
  // (_throttling_request_manager.py:104-107,407-427). The Spark analogue: a
  // monitor epoch bumped on every commit that can create claimable work
  // (adds, reclaims, handled transitions — never pure claims), which an
  // idle engine blocks on instead of spinning or exiting. A separate lock
  // object keeps waiters off the store's own commit lock: `awaitNewWork`
  // must be callable while another thread is inside a synchronized commit.
  private val newWorkMonitor = new Object
  private var newWorkEpochCounter = 0L

  private def signalNewWork(): Unit = newWorkMonitor.synchronized {
    newWorkEpochCounter += 1
    newWorkMonitor.notifyAll()
  }

  /** Monotonic counter of work-creating commits; capture BEFORE evaluating
    * a claim so a commit racing the claim is never missed by awaitNewWork.
    */
  def newWorkEpoch: Long = newWorkMonitor.synchronized(newWorkEpochCounter)

  /** Block until a work-creating commit lands after `sinceEpoch`, or
    * `timeoutMs` elapses. True = woken by new work; false = timed out.
    */
  def awaitNewWork(sinceEpoch: Long, timeoutMs: Long): Boolean = newWorkMonitor.synchronized {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (newWorkEpochCounter == sinceEpoch) {
      val remainMs = (deadline - System.nanoTime()) / 1000000L
      if (remainMs <= 0L) return false
      newWorkMonitor.wait(remainMs)
    }
    true
  }

  /** Set when a compaction superseded files; the next commit vacuums. */
  @volatile private var vacuumPending = false

  /** Run any deferred vacuum now (for callers who stop committing). */
  def vacuumNow(): Long = synchronized {
    vacuumPending = false
    vacuum()
  }

  /** Delete log entries the CURRENT manifest no longer references:
    * superseded snapshot-epoch leaf dirs and delta files from before the
    * last compaction. Leaf-aware — bucket-local compaction leaves clean
    * buckets pointing at OLDER epochs, so partially-referenced epoch dirs
    * lose only their unreferenced `__cb=` leafs. Runs only
    * AFTER the new manifest is durable, so a crash mid-vacuum leaves
    * nothing dangling — every referenced file still exists. In bloom mode
    * also deletes the seen-set runs the base shards already hold.
    * Returns the number of log entries removed.
    */
  def vacuum(): Long = synchronized {
    bloomShards.foreach(_.dropMergedRuns())
    val m = manifest
    val refTop = scala.collection.mutable.Set.empty[String]
    m.deltas.foreach(refTop += _)
    m.snapshot.foreach(refTop += _)
    val refLeaf = m.bucketDirs.values.toSet // e.g. "snapshot-000016/__cb=4"
    val refEpochs = refLeaf.map(_.takeWhile(_ != '/'))
    var removed = 0L
    val entries = Files.list(Paths.get(logDir)).iterator()
    while (entries.hasNext) {
      val p = entries.next()
      val name = p.getFileName.toString
      if (refTop.contains(name)) () // fully referenced
      else if (refEpochs.contains(name)) {
        // epoch partially referenced: drop only unreferenced bucket leafs
        val leafs = Files.list(p).iterator()
        while (leafs.hasNext) {
          val leaf = leafs.next()
          val leafName = leaf.getFileName.toString
          if (leafName.startsWith("__cb=") && !refLeaf.contains(s"$name/$leafName")) {
            deleteRecursively(leaf)
            removed += 1
          }
        }
      } else {
        deleteRecursively(p)
        removed += 1
      }
    }
    removed
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** BUCKET-LOCAL compaction (SCALE.md / NOTES #6): rewrite ONLY the host-
    * hash buckets the current delta window touched; untouched buckets keep
    * their existing snapshot leaf dirs. The manifest maps bucket → leaf dir
    * so the write amplification per compaction is O(active buckets), not
    * O(full state) — late in a 10^10 crawl most buckets are quiescent.
    *
    * Correctness: every bucket leaf holds at most one row per key AT WRITE
    * TIME; a key whose host (and therefore bucket) was replaced leaves a
    * stale copy in its old bucket's leaf until that bucket next compacts —
    * latestWins over the union picks the newer event_seq, so reads stay
    * exact. Doubles as the chain re-materialization point.
    */
  private def compact(m: Manifest): Manifest = {
    val epoch = f"snapshot-${m.batchId}%06d"
    // dirty buckets = buckets with rows in the current delta window; the
    // very first compaction covers everything
    val dirty: Seq[Int] =
      if (m.bucketDirs.isEmpty) (0 until ClaimBuckets)
      else
        spark.read.schema(eventSchema).parquet(m.deltas.map(n => s"$logDir/$n"): _*)
          .select(bucketCol.as("b")).distinct().collect().map(_.getInt(0)).toSeq
    stateDf
      .withColumn("__cb", bucketCol)
      .filter(col("__cb").isin(dirty: _*))
      .repartition(math.min(math.max(dirty.size, 1), spark.sparkContext.defaultParallelism), col("__cb"))
      .write.mode(SaveMode.Overwrite).partitionBy("__cb").parquet(s"$logDir/$epoch")
    val newBucketDirs = m.bucketDirs ++ dirty.map(b => b -> s"$epoch/__cb=$b").toMap
    // leaf dirs for buckets that had delta rows but no surviving state rows
    // (host-replaced keys) never get written — drop them from the map
    val liveBucketDirs = newBucketDirs.filter { case (_, d) => Files.exists(Paths.get(s"$logDir/$d")) }
    val dirs = liveBucketDirs.values.toSeq.distinct.map(d => s"$logDir/$d")
    // Bucket leafs are key-disjoint (each key lives in exactly one leaf)
    // UNLESS a key's host was replaced mid-flight (error handler) — then a
    // stale copy can linger in the old bucket's un-rewritten leaf and the
    // read needs the latest-event-wins reduction. The engine raises the
    // flag only when a replacement hook is configured, so the common path
    // skips the full-state window shuffle.
    stateDf =
      if (dirs.isEmpty) emptyEvents(spark)
      else {
        val read = spark.read.schema(eventSchema).parquet(dirs: _*)
        if (keysMayChangeBuckets) latestWins(read) else read
      }
    materialize()
    if (claimBucketPruning) rebuildSummaries() // exact reset: clears overcount drift
    m.copy(snapshot = None, deltas = Vector.empty, bucketDirs = liveBucketDirs)
  }

  // ---- add (Q1-Q4) ---------------------------------------------------------

  /** Add a batch of candidate requests.
    *
    * `candidates` columns: unique_key, url, host, label, method, depth,
    * forefront (boolean), cand_order (long; deterministic within-batch
    * insertion order).
    *
    * Returns the add-report: (unique_key, was_already_present,
    * was_already_handled) per the reference's ProcessedRequest.
    */
  def addBatch(candidates: DataFrame, candBound: Long = -1L): DataFrame =
    commitResults(candidates, emptyHandled(spark), emptyReclaims(spark), candBound)

  /** One atomic commit for a whole micro-batch's results: enqueue `adds`
    * (with dedup + ordering, Q1-Q4), mark `handled` (Q6), `reclaims` back to
    * pending (Q7) — a single delta write instead of three commits.
    *
    * Ordering-id allocation is stride-based (disjoint Long ranges per event
    * class) so no driver-side count is needed before the write; the new
    * counter values are read back from one aggregate over the committed
    * delta. Gaps in seq are harmless — only monotonicity matters.
    *
    * Returns the add-report (unique_key, was_already_present,
    * was_already_handled).
    */
  def commitResults(
      adds: DataFrame,
      handled: DataFrame,
      reclaims: DataFrame,
      candBound: Long = -1L
  ): DataFrame = synchronized {
    // in-progress rows, shaped like commitBatch's input: handled ones carry
    // r_ok/r_state (Q6); reclaimed ones their new retry_count and
    // forefront, which supersede the stored values (Q7)
    val inProg = state().filter(col("status") === Status.InProgress)
    val terminal = inProg.join(
      handled.select(col("unique_key").as("r_key"), col("handled_ok").as("r_ok"), col("state").as("r_state")),
      col("unique_key") === col("r_key"), "inner")
    val reclaimRows = inProg
      .drop("forefront", "retry_count")
      .join(
        reclaims.select(col("unique_key").as("r_key"), col("forefront"), col("retry_count")),
        col("unique_key") === col("r_key"), "inner")
    // prior status was InProgress: its pending position was already
    // consumed by the claim event — no epoch removal here
    outcomeEvents(adds, terminal, reclaimRows, lit(null).cast("long"), candBound)
  }

  /** Commit `adds` with the terminal and reclaim events built from rows
    * carrying full event columns: `terminal` plus `r_ok`/`r_state`,
    * `reclaimRows` with their new `retry_count` and `forefront`.
    * `prevEpoch` is the pending position each row consumes, evaluated
    * before a reclaim's seq is reassigned. Terminal rows share one
    * event_seq; a reclaim takes a fresh tail (or head) position in the
    * stride ABOVE this batch's adds.
    */
  private def outcomeEvents(
      adds: DataFrame,
      terminal: DataFrame,
      reclaimRows: DataFrame,
      prevEpoch: Column,
      candBound: Long
  ): DataFrame = {
    val (maxSeq, maxFf, maxEv) = counters
    val S = Stride
    val terminalEvents = terminal
      .withColumn("status", lit(Status.Handled))
      .withColumn("state", col("r_state"))
      .withColumn("handled_ok", col("r_ok"))
      .withColumn("lock_expires_at", lit(0L))
      .withColumn("event_seq", dLong(maxEv + 2 * S + 1))
      .withColumn("batch_id", dLong(batchId + 1))
      .withColumn("prev_epoch", prevEpoch)
      .select(eventCols: _*)
    val reclaimEvents = reclaimRows
      .withColumn("prev_epoch", prevEpoch)
      .withColumn("__pos", pmod(xxhash64(col("unique_key")), lit(S / 2)) + 1)
      .withColumn("status", lit(Status.Pending))
      .withColumn("seq", when(col("forefront"), lit(-1L)).otherwise(dLong(maxSeq + S) + col("__pos")))
      .withColumn("forefront_seq", when(col("forefront"), dLong(maxFf + 2 * S) + col("__pos")).otherwise(lit(-1L)))
      .withColumn("lock_expires_at", lit(0L))
      .withColumn("event_seq", dLong(maxEv + 3 * S) + col("__pos"))
      .withColumn("batch_id", dLong(batchId + 1))
      .drop("__pos")
      .select(eventCols: _*)
    commitWithAdds(adds, terminalEvents, reclaimEvents, maxSeq, maxFf, maxEv, candBound)
  }

  /** Shared core: enqueue pipeline (dedup + ordering + report) unioned with
    * caller-built terminal/reclaim event frames, committed as one delta.
    */
  private def commitWithAdds(
      adds: DataFrame,
      handledEvents: DataFrame,
      reclaimEvents: DataFrame,
      maxSeq: Long,
      maxFf: Long,
      maxEv: Long,
      candBound: Long = -1L
  ): DataFrame = {
    val S = Stride
    val candidates = FrontierStore.normalizeAdds(adds)
    // in-batch dedup: first occurrence wins the request FIELDS (matching the
    // reference's add loop — later adds never replace), but the LAST
    // occurrence's cand_order is kept as the forefront position: every
    // forefront re-add of a pending key moves it to the front again
    // (_memory/_request_queue_client.py:141-210), so a dup later in the same
    // batch repositions the key.
    val wIn = Window.partitionBy(col("unique_key")).orderBy(col("cand_order"))
    val cand = candidates
      .withColumn("__rn", row_number().over(wIn))
      .withColumn("__dup_in_batch", col("__rn") > 1)
      .withColumn("__last_order", max(col("cand_order")).over(Window.partitionBy(col("unique_key"))))
    val firsts = cand.filter(!col("__dup_in_batch")).drop("__rn", "__dup_in_batch")

    val st = state().select(
      col("unique_key").as("ex_key"),
      col("status").as("ex_status"),
      col("url").as("ex_url"),
      col("host").as("ex_host"),
      col("label").as("ex_label"),
      col("method").as("ex_method"),
      col("payload").as("ex_payload"),
      col("headers").as("ex_headers"),
      col("user_data_json").as("ex_user_data"),
      col("session_id").as("ex_session_id"),
      col("depth").as("ex_depth"),
      col("retry_count").as("ex_retry"),
      col("no_retry").as("ex_no_retry"),
      col("max_retries").as("ex_max_retries"),
      col("rotation_count").as("ex_rotation"),
      col("seq").as("ex_seq"),
      col("forefront_seq").as("ex_ffseq"),
      col("state").as("ex_state"),
      col("handled_ok").as("ex_ok"),
      col("lock_expires_at").as("ex_lock"),
      col("last_proxy_tier").as("ex_last_tier")
    )

    // Exact-mode candidate↔state resolution. Two row-identical shapes
    // (resolveExisting), picked WITHOUT materializing the candidate
    // pipeline — r5 persisted + count()ed `firsts` here to drive this
    // choice, a synchronous extra evaluation of the whole engine-side
    // link-extraction pipeline that doubled store.delta-write per batch
    // (VERDICT r5 #2). The decision now rides driver-side bookkeeping:
    //  - SMALL state (< BroadcastSemiMinStateRows): plain left join. Both
    //    sides are batch-/small-state-scale, the sort-merge is cheap, and
    //    the candidate pipeline is evaluated ONCE (the broadcast-semi
    //    shape evaluates it twice: key-broadcast build + join left side).
    //  - LARGE state: broadcast-semi keeps the state un-shuffled
    //    (VERDICT r4 #9); the batch's keys must be broadcastable, gated
    //    by the caller's `candBound` when known, else the optimizer's
    //    size estimate (no job either way). Bulk loads over the gate fall
    //    back to the shuffled join. A misestimate only picks the slower
    //    of two row-identical plans — never a wrong answer.
    val exactResolveBound: Long =
      if (bloomDedup) Long.MaxValue // unused
      else if (stateRowsBound < FrontierStore.BroadcastSemiMinStateRows) Long.MaxValue
      else if (candBound >= 0L) candBound
      else if (firsts.queryExecution.optimizedPlan.stats.sizeInBytes
                 <= FrontierStore.BroadcastSemiMaxCandBytes) 0L
      else Long.MaxValue

    val isNew = col("ex_key").isNull
    val wasHandled = !isNew && col("ex_status") === Status.Handled
    val inProgress = !isNew && col("ex_status") === Status.InProgress
    val pendingDup = !isNew && col("ex_status") === Status.Pending

    // New inserts: exact mode decides by anti-join against the frontier;
    // bloom mode probes the partition-local shard files instead (a hit =
    // seen, accepting the 1e-7 false-drop rate) — NO join against frontier
    // state and NO whole-filter broadcast: the probe repartitions the
    // (small) candidate batch on the key bucket and each task reads only
    // its own shards.
    val probed = bloomShards.map(s => s.probe(cand, "unique_key"))
    // seq rides directly on cand_order (unique, monotone within the batch):
    // no global row_number window — gaps are harmless, only order matters.
    // FIFO position = first occurrence; forefront position = last occurrence
    // (see the dedup note above).
    //
    // New inserts AND forefront repositions come out of ONE pass over the
    // candidate pipeline (a single join against state, selected with
    // per-column when(isNew, ...)): the candidate side of an enqueue is the
    // expensive side — in the engine it carries the whole link-extraction
    // pipeline — and the previous two-branch union evaluated it twice per
    // commit.
    //
    // Forefront re-add of a still-pending request repositions it (keeps the
    // ORIGINAL request fields — incoming dup loses accumulated state).
    // Repositions share the new-adds forefront_seq base so they INTERLEAVE
    // with the batch's own new forefront adds by cand_order — the reference
    // moves each request to the front one-by-one in add order
    // (_memory/_request_queue_client.py:141-210), so a new add issued AFTER
    // a reposition must land in front of it. (cand_order is unique across
    // the batch, so the shared base cannot collide.)
    // Bloom mode trades repositioning away (a bloom hit carries no stored
    // row to reposition) — matching the reference's Redis bloom-dedup mode.
    val enqueueEvents = probed match {
      case Some(p) =>
        p.filter(!col("__seen") && !col("__dup_in_batch"))
          .drop("__seen", "__rn", "__dup_in_batch")
          .withColumn("__pos", col("cand_order") + 1)
          .withColumn("__ffpos", col("__last_order") + 1)
          .select(
            col("unique_key"),
            xxhash64(col("unique_key")).as("key64"),
            col("url"),
            col("host"),
            xxhash64(col("host")).as("host_hash"),
            col("label"),
            col("method"),
            col("payload"),
            col("headers"),
            col("user_data_json"),
            col("session_id"),
            col("depth"),
            lit(0).as("retry_count"),
            col("no_retry"),
            col("max_retries"),
            lit(0).as("rotation_count"),
            col("forefront"),
            when(col("forefront"), lit(-1L)).otherwise(dLong(maxSeq) + col("__pos")).as("seq"),
            when(col("forefront"), dLong(maxFf) + col("__ffpos")).otherwise(lit(-1L)).as("forefront_seq"),
            lit(Status.Pending).as("status"),
            lit(graft.schema.RequestState.Unprocessed).as("state"),
            lit(false).as("handled_ok"),
            lit(0L).as("lock_expires_at"),
            (dLong(maxEv) + col("__pos")).as("event_seq"),
            dLong(batchId + 1).as("batch_id"),
            lit(null).cast("long").as("prev_epoch"), // brand-new pending position
            lit(null).cast("int").as("last_proxy_tier")
          )
      case None =>
        FrontierStore.resolveExisting(firsts, st, exactResolveBound)
          .filter(isNew || (pendingDup && col("forefront")))
          .withColumn("__pos", col("cand_order") + 1)
          .withColumn("__ffpos", col("__last_order") + 1)
          .select(
            col("unique_key"),
            xxhash64(col("unique_key")).as("key64"),
            when(isNew, col("url")).otherwise(col("ex_url")).as("url"),
            when(isNew, col("host")).otherwise(col("ex_host")).as("host"),
            xxhash64(when(isNew, col("host")).otherwise(col("ex_host"))).as("host_hash"),
            when(isNew, col("label")).otherwise(col("ex_label")).as("label"),
            when(isNew, col("method")).otherwise(col("ex_method")).as("method"),
            when(isNew, col("payload")).otherwise(col("ex_payload")).as("payload"),
            when(isNew, col("headers")).otherwise(col("ex_headers")).as("headers"),
            when(isNew, col("user_data_json")).otherwise(col("ex_user_data")).as("user_data_json"),
            when(isNew, col("session_id")).otherwise(col("ex_session_id")).as("session_id"),
            when(isNew, col("depth")).otherwise(col("ex_depth")).as("depth"),
            when(isNew, lit(0)).otherwise(col("ex_retry")).as("retry_count"),
            when(isNew, col("no_retry")).otherwise(col("ex_no_retry")).as("no_retry"),
            when(isNew, col("max_retries")).otherwise(col("ex_max_retries")).as("max_retries"),
            when(isNew, lit(0)).otherwise(col("ex_rotation")).as("rotation_count"),
            when(isNew, col("forefront")).otherwise(lit(true)).as("forefront"),
            when(isNew && !col("forefront"), dLong(maxSeq) + col("__pos")).otherwise(lit(-1L)).as("seq"),
            when(col("forefront"), dLong(maxFf) + col("__ffpos")).otherwise(lit(-1L)).as("forefront_seq"),
            lit(Status.Pending).as("status"),
            when(isNew, lit(graft.schema.RequestState.Unprocessed)).otherwise(col("ex_state")).as("state"),
            when(isNew, lit(false)).otherwise(col("ex_ok")).as("handled_ok"),
            when(isNew, lit(0L)).otherwise(col("ex_lock")).as("lock_expires_at"),
            when(isNew, dLong(maxEv) + col("__pos")).otherwise(dLong(maxEv + S) + col("__ffpos")).as("event_seq"),
            dLong(batchId + 1).as("batch_id"),
            when(isNew, lit(null).cast("long"))
              .otherwise(when(col("ex_ffseq") >= 0, lit(-1L)).otherwise(shiftright(col("ex_seq"), 42)))
              .as("prev_epoch"),
            when(isNew, lit(null).cast("int")).otherwise(col("ex_last_tier")).as("last_proxy_tier")
          )
    }

    val allEvents = enqueueEvents.select(eventCols: _*)
      .unionByName(handledEvents)
      .unionByName(reclaimEvents)
    // bloom mode folds this commit's admitted keys into the shard files in
    // the commit's fold pass — fully executor-side, no driver hop that
    // grows with the batch
    val committed = commitEvents(allEvents, bloomFold = bloomDedup)
    if (committed > 0) signalNewWork() // P5: add/reclaim interrupts idle waits

    // Add report (for every candidate incl. in-batch duplicates); the exact
    // branch rides the same resolution shape as the enqueue join (the
    // report is consumed lazily — an ignored report costs nothing)
    if (bloomDedup) {
      probed.get.select(
        col("unique_key"),
        (col("__seen") || col("__dup_in_batch")).as("was_already_present"),
        lit(false).as("was_already_handled") // single seen-filter: handled state not separable
      )
    } else
      FrontierStore.resolveExisting(cand, st, exactResolveBound)
        .select(
          cand("unique_key"),
          (col("ex_key").isNotNull || col("__dup_in_batch")).as("was_already_present"),
          (col("ex_key").isNotNull && col("ex_status") === Status.Handled).as("was_already_handled")
        )
  }

  // ---- engine fast path: claim-free batch commit ------------------------------

  /** Bloom mode: the keys among `keys` the seen-shards already hold,
    * probed on the driver at the shard version the executor-side probe of
    * [[addBatch]] reads — so dropping them first admits exactly the same
    * keys. None in exact mode, which has no driver-side answer.
    */
  def knownKeys(keys: Seq[String]): Option[Set[String]] = synchronized {
    bloomShards.map { s =>
      val v = s.version
      keys.iterator.filter(k => s.mightContain(graft.canon.Hashing.xxh64(k), v)).toSet
    }
  }

  /** Select (do NOT commit) the next claim set: same ordering/quota logic as
    * `claim`, returned with a `claim_rank` column. The engine pairs this
    * with `commitBatch` so a whole micro-batch is ONE commit — a crashed
    * batch left nothing behind and replays deterministically, which gives
    * the same exactly-once guarantee the claim lease provides without
    * paying a second commit round-trip. (`claim`+`markHandled` remain the
    * multi-writer-shaped contract surface.)
    */
  def claimSet(
      maxN: Int,
      nowMs: Long,
      hostQuota: Map[String, Int] = Map.empty,
      defaultQuota: Int = Int.MaxValue,
      blockedHosts: Set[String] = Set.empty,
      // Politeness quotas as a TABLE (host, quota) joined into the claim
      // (SCALE.md / VERDICT r3 "wrong" #2): the set of delay-declaring
      // hosts is unbounded at 10^10-frontier scale, so it must never be a
      // collected driver map. Hosts absent from the table get defaultQuota.
      quotaTable: Option[DataFrame] = None
  ): DataFrame = synchronized {
    if (maxN <= 0) return emptyEvents(spark).withColumn("claim_rank", lit(0))
    // NOTE a parallel range-sort rank variant (sort unbounded + rank filter,
    // partitions stay spread) was measured wall-neutral at the 262k-claim
    // local shape — TakeOrderedAndProject's map-side top-k + one merge is
    // the better constant here. The returned plan is lazy: the engine
    // evaluates it once, inside its batch pin.
    withClaimRank(pickTop(maxN, nowMs, hostQuota, defaultQuota, blockedHosts, quotaTable = quotaTable), maxN)
  }

  // ---- pipelined claim (engine prefetch) -----------------------------------
  //
  // `claimPlan` builds the claim PLAN under the store lock (cheap — pure
  // Catalyst construction over a snapshot of the state chain + driver
  // summaries) so a caller can then EXECUTE it via `rankClaim` with NO
  // lock held — concurrently with the previous batch's commitBatch. The
  // plan is fully determined at build time (state reference, bucket/epoch
  // pruning literals), so a concurrent commit cannot change its result.
  // `excludeKeys` removes the in-flight batch's keys (their status in the
  // snapshot predates the concurrent commit); rows added by that commit
  // are simply not visible yet — a valid, slightly-stale claim, which is
  // exactly the relaxation bench mode (no ordering contract) permits.

  /** Build the claim plan over the current state snapshot (no execution).
    * `excludePad` must bound |excludeKeys| (the engine passes the in-flight
    * batch's row count): the top-k is padded by it so the anti-join can
    * never underfill the returned maxN rows.
    */
  def claimPlan(
      maxN: Int,
      nowMs: Long,
      excludeKeys: Option[DataFrame] = None,
      excludePad: Int = 0
  ): DataFrame = synchronized {
    if (maxN <= 0) return emptyEvents(spark)
    excludeKeys match {
      // anti-join BEFORE the limit would change top-k semantics; after the
      // limit it could underfill by up to |exclude| rows — take a padded
      // top-(maxN + pad) first; rankClaim re-limits to maxN in order
      case Some(ex) =>
        pickTop(maxN + excludePad, nowMs, Map.empty, Int.MaxValue, Set.empty)
          .join(broadcast(ex.select(col("unique_key").as("__ex_key"))),
            col("unique_key") === col("__ex_key"), "left_anti")
          .drop("__ex_key")
      case None => pickTop(maxN, nowMs, Map.empty, Int.MaxValue, Set.empty)
    }
  }

  /** Rank a claimPlan: order is already baked in; assign claim_rank and
    * bound to maxN. Lock-free — safe to evaluate concurrently with a commit.
    */
  def rankClaim(plan: DataFrame, maxN: Int): DataFrame =
    withClaimRank(plan, maxN)

  /** Shared claim selection: bucket pruning + epoch cutoff + eligibility +
    * (only when host quotas actually constrain) the per-host rank window,
    * then global top-maxN via orderBy+limit — `TakeOrderedAndProject`
    * (map-side partial top-k), NOT a global sort. The unconstrained path
    * (the engine/bench default) has NO window at all: the per-batch shuffle
    * of the whole pending set was the #1 serial cost (VERDICT r2 #3).
    */
  private[graft] def pickTop(
      maxN: Int,
      nowMs: Long,
      hostQuota: Map[String, Int],
      defaultQuota: Int,
      blockedHosts: Set[String],
      quotaTable: Option[DataFrame] = None
  ): DataFrame = {
    val st = state() // FIRST: a resumed store builds the driver summaries here
    val prunedState = claimableBuckets() match {
      case Some(bs) => st.filter(bucketCol.isin(bs: _*))
      case None => st
    }
    val noQuota = hostQuota.isEmpty && defaultQuota == Int.MaxValue && quotaTable.isEmpty
    // epoch cutoff: only when nothing host-level can exclude head rows
    val preFiltered =
      if (noQuota && blockedHosts.isEmpty && claimBucketPruning)
        epochCutoff(maxN) match {
          case Some(c) => prunedState.filter(epochExpr <= dLong(c))
          case None => prunedState
        }
      else prunedState
    val eligible = preFiltered.filter(
      (col("status") === Status.Pending) ||
        (col("status") === Status.InProgress && col("lock_expires_at") <= dLong(nowMs))
    )
    val notBlocked =
      if (blockedHosts.isEmpty) eligible
      else eligible.filter(!col("host").isin(blockedHosts.toSeq: _*))
    val underQuota =
      if (noQuota) notBlocked
      else {
        val base = notBlocked
        val hostRank = row_number().over(Window.partitionBy(col("host")).orderBy(claimOrder: _*))
        quotaTable match {
          case Some(qt) =>
            // TABLE form: quotas ride a join keyed by host — only hosts
            // actually present in the (pruned, eligible) claim scan move,
            // and the quota set itself is never collected to the driver.
            base
              .join(
                qt.select(col("host").as("__q_host"), col("quota").as("__quota")),
                base("host") === col("__q_host"), "left")
              .withColumn("__host_rank", hostRank)
              .filter(col("__host_rank") <= coalesce(col("__quota"), lit(defaultQuota)))
              .drop("__host_rank", "__q_host", "__quota")
          case None =>
            val quotaUdf = udf((host: String) => hostQuota.getOrElse(host, defaultQuota))
            base
              .withColumn("__host_rank", hostRank)
              .filter(col("__host_rank") <= quotaUdf(col("host")))
              .drop("__host_rank")
        }
      }
    underQuota.orderBy(claimOrder: _*).limit(maxN)
  }

  /** The claim order: forefront rows first (newest forefront first), then
    * FIFO by seq; unique_key makes it total.
    */
  private def claimOrder: Seq[org.apache.spark.sql.Column] =
    Seq(col("forefront").desc, when(col("forefront"), -col("forefront_seq")).otherwise(col("seq")).asc,
      col("unique_key").asc)

  /** Dense 1-based `claim_rank` over a frame already bounded and sorted by
    * [[claimOrder]], bounded to `maxN` rows. The claim's top-k output is
    * ONE partition already in claim order, so the unpartitioned rank window
    * adds no exchange and sorts at most `maxN` rows — no RDD round trip,
    * and the claim stays a lazy plan that its consumer evaluates once.
    */
  private def withClaimRank(sorted: DataFrame, maxN: Int): DataFrame =
    sorted.limit(maxN).withColumn("claim_rank", row_number().over(Window.orderBy(claimOrder: _*)))

  /** One commit for a whole engine micro-batch: enqueue `adds` (dedup +
    * ordering, exactly as commitResults), terminal outcomes, and reclaims.
    *
    * `terminal` rows: full event columns plus `r_ok` (boolean) and `r_state`
    * (int). `reclaimRows`: full event columns with retry_count ALREADY
    * incremented and `forefront` carrying the reclaim flag. Both come from
    * `claimSet` output, so no join against in-progress state is needed —
    * the rows were never committed as in-progress at all.
    */
  def commitBatch(
      adds: DataFrame,
      terminal: DataFrame,
      reclaimRows: DataFrame,
      candBound: Long = -1L
  ): Unit = synchronized {
    // the rows were still Pending: each consumes its own position
    outcomeEvents(adds, terminal, reclaimRows, epochExpr, candBound)
    ()
  }

  // ---- claim (Q5 + P2/P4) ---------------------------------------------------

  /** Claim up to `maxN` requests, at most `quotaFor(host)` per host, honoring
    * the two-level forefront/FIFO order. Rows whose lease expired count as
    * pending (Q8 stale auto-reclaim). Returns the claimed rows.
    */
  def claim(
      maxN: Int,
      nowMs: Long,
      hostQuota: Map[String, Int] = Map.empty,
      defaultQuota: Int = Int.MaxValue,
      blockedHosts: Set[String] = Set.empty
  ): DataFrame = synchronized {
    if (maxN <= 0) return emptyEvents(spark)
    val (maxSeq, maxFf, maxEv) = counters
    val picked = withClaimRank(pickTop(maxN, nowMs, hostQuota, defaultQuota, blockedHosts), maxN)

    val claimEvents = picked
      // the lease consumes the pending position (computed before overwrite)
      .withColumn("prev_epoch", epochExpr)
      .withColumn("status", lit(Status.InProgress))
      .withColumn("state", lit(graft.schema.RequestState.BeforeNav))
      .withColumn("lock_expires_at", dLong(nowMs + leaseMs))
      .withColumn("event_seq", dLong(maxEv) + col("claim_rank").cast("long"))
      .withColumn("batch_id", dLong(batchId + 1))
      .drop("claim_rank")
      .select(eventCols: _*)

    val _ = (maxSeq, maxFf)
    val n = commitEvents(claimEvents, bloomFold = false)
    lastClaimCount = n
    if (n > 0)
      // return the COMMITTED rows (from the refreshed state chain) so callers
      // never hold lineage onto the pre-commit state
      state().filter(col("status") === Status.InProgress && col("batch_id") === batchId)
    else emptyEvents(spark)
  }

  // ---- markHandled / reclaim (Q6/Q7): single-op wrappers ---------------------

  /** `results` columns: unique_key, handled_ok (bool), state (int).
    * Marks in-progress rows handled; others ignored (reference returns None).
    */
  def markHandled(results: DataFrame): Unit = {
    commitResults(emptyAdds(spark), results, emptyReclaims(spark))
    ()
  }

  /** `rows` columns: unique_key, forefront (bool), retry_count (new value). */
  def reclaim(rows: DataFrame): Unit = {
    commitResults(emptyAdds(spark), emptyHandled(spark), rows)
    ()
  }

  // ---- predicates (Q9) -------------------------------------------------------

  /** (claimable, leased) row counts at `nowMs` in one aggregate: pending
    * or lease-expired rows, and rows under a live lease.
    */
  private def liveCounts(nowMs: Long): (Long, Long) = {
    val claimable = (col("status") === Status.Pending) ||
      (col("status") === Status.InProgress && col("lock_expires_at") <= dLong(nowMs))
    val leased = col("status") === Status.InProgress && col("lock_expires_at") > dLong(nowMs)
    val r = state().agg(count(when(claimable, 1)), count(when(leased, 1))).head()
    (r.getLong(0), r.getLong(1))
  }

  def pendingCount(nowMs: Long): Long = liveCounts(nowMs)._1
  def inProgressCount(nowMs: Long): Long = liveCounts(nowMs)._2

  def isEmpty(nowMs: Long): Boolean = pendingCount(nowMs) == 0
  def isFinished(nowMs: Long): Boolean = liveCounts(nowMs) == ((0L, 0L))

  /** Metadata counters (Q11). */
  def metadata(): Map[String, Long] = {
    val byStatus = state().groupBy(col("status")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    Map(
      "total_request_count" -> byStatus.values.sum,
      "pending_request_count" -> byStatus.getOrElse(Status.Pending, 0L),
      "in_progress_request_count" -> byStatus.getOrElse(Status.InProgress, 0L),
      "handled_request_count" -> byStatus.getOrElse(Status.Handled, 0L)
    )
  }

  /** Point lookup (Q12). */
  def getRequest(uniqueKey: String): Option[org.apache.spark.sql.Row] =
    state().filter(col("unique_key") === uniqueKey).collect().headOption

  /** Purge: empty the queue but keep the storage (Q13) — identity (root,
    * name) is preserved and the store stays usable
    * (test_request_queue.py:748-800).
    */
  def purge(): Unit = synchronized {
    manifest = Manifest.empty
    Manifest.writeAtomic(manifestPath, manifest)
    bucketNonHandled.clear()
    epochPending.clear()
    release()
  }

  /** Releases what the store holds in memory: both cached state
    * generations and, in bloom mode, the filters and parsed runs this JVM
    * cached for its shard directory. The files stay; the next call reads
    * them back as a fresh open would.
    */
  def close(): Unit = synchronized {
    release()
    stateRowsBound = 0L
  }

  private def release(): Unit = {
    Seq(persistedBase, graceBase).filter(_ != null).foreach(_.unpersist(false))
    persistedBase = null
    graceBase = null
    stateDf = null
    bloomShards.foreach(s => graft.dedup.BloomShardStore.evict(s.dir))
  }

  /** Implicit start-of-run purge (reference `purge_on_start`,
    * storages/_request_queue.py:152-175 + test_request_queue.py:845-887):
    * NAMED stores are persistent shared data — the implicit purge is a
    * no-op for them; only the unnamed default store is cleared. Returns
    * whether a purge actually happened.
    */
  def purgeOnStart(): Boolean = synchronized {
    if (name.isDefined) false // named: never implicitly purged
    else { purge(); true }
  }

  /** Drop: delete the storage entirely (reference RequestQueue.drop,
    * storages/_request_queue.py:144-151). The instance resets to an empty,
    * re-usable store — the recreate-on-open semantics of the reference.
    */
  def drop(): Unit = synchronized {
    purge()
    deleteRecursively(Paths.get(logDir))
    deleteRecursively(Paths.get(bloomDir))
    Files.deleteIfExists(manifestPath)
    Files.createDirectories(Paths.get(logDir))
    manifest = Manifest.empty
  }
}

object FrontierStore {

  /** Host-hash buckets for claim pruning: `pmod(host_hash, ClaimBuckets)`. */
  private[graft] val ClaimBuckets: Int = 64

  /** Candidate batches above this row count fall back to the shuffled
    * left join in [[resolveExisting]] (a broadcast of ~10^6 keys is the
    * same order as [[mergeDelta]]'s gating trade).
    */
  private[queue] val FlipJoinMaxCandidates: Long = 1L << 20

  /** Below this many state rows the exact-mode commit resolves candidates
    * with the PLAIN left join: both join sides are small, the sort-merge
    * costs less than the broadcast-semi shape's second evaluation of the
    * candidate pipeline (measured on the 88k-page crawl bench — r4's
    * plain-join commits ran ~2x faster than r5's persist+count variant).
    * Above it — the cluster-scale regime — the broadcast-semi shape keeps
    * the O(state) side un-shuffled (VERDICT r4 #9).
    */
  private[graft] val BroadcastSemiMinStateRows: Long = 1L << 22

  /** Optimizer-estimated candidate-pipeline size above which an
    * unknown-bound batch on a LARGE state falls back to the shuffled
    * join instead of broadcasting its keys (same spirit as
    * spark.sql.autoBroadcastJoinThreshold; estimate only — both plans
    * are row-identical).
    */
  private[queue] val BroadcastSemiMaxCandBytes: BigInt = BigInt(64L << 20)

  /** Left-join `left` (batch-bounded candidates, keyed `unique_key`)
    * against the `ex_*`-renamed state frame `st` WITHOUT shuffling the
    * state side: the batch keys broadcast into a LeftSemi
    * BroadcastHashJoin that scans `st` once in place, and the batch-
    * bounded match set left-joins back onto `left`. Row-identical to
    * `left.join(st, left("unique_key") === st("ex_key"), "left")` (state
    * holds at most one row per key), which is also the fallback for
    * batches too large to broadcast.
    */
  private[queue] def resolveExisting(left: DataFrame, st: DataFrame, leftRows: Long): DataFrame =
    if (leftRows > FlipJoinMaxCandidates)
      left.join(st, left("unique_key") === st("ex_key"), "left")
    else {
      val matchedEx = st.join(
        broadcast(left.select(col("unique_key").as("__ck"))),
        st("ex_key") === col("__ck"), "left_semi")
      left.join(matchedEx, left("unique_key") === matchedEx("ex_key"), "left")
    }

  import org.apache.spark.sql.types._

  val eventSchema: StructType = StructType(Seq(
    StructField("unique_key", StringType),
    StructField("key64", LongType),
    StructField("url", StringType),
    StructField("host", StringType),
    StructField("host_hash", LongType),
    StructField("label", StringType),
    StructField("method", StringType),
    StructField("payload", BinaryType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("user_data_json", StringType),
    StructField("depth", IntegerType),
    StructField("retry_count", IntegerType),
    StructField("no_retry", BooleanType),
    StructField("max_retries", IntegerType),
    StructField("rotation_count", IntegerType),
    StructField("forefront", BooleanType),
    StructField("seq", LongType),
    StructField("forefront_seq", LongType),
    StructField("status", IntegerType),
    StructField("state", IntegerType),
    StructField("handled_ok", BooleanType),
    StructField("lock_expires_at", LongType),
    StructField("event_seq", LongType),
    StructField("batch_id", LongType),
    // epoch (seq >> 42; -1 = forefront) of the pending position this event
    // CONSUMED, or null — drives the exact driver-side epoch-cutoff stats.
    // Deltas written before r3 read as null (stats rebuild exactly at
    // resume/compaction, so old stores stay correct).
    StructField("prev_epoch", LongType),
    // session binding (reference _request.py:61-62): id of the Session this
    // request is strictly bound to, or null. Deltas written before this
    // column existed read as null (= unbound), so old stores stay correct.
    StructField("session_id", StringType),
    // tier of the request's previous dispatch (reference `last_proxy_tier`
    // persisted on the Request row, _request.py:52-53): the vehicle for
    // executor-side tiered-proxy assignment — a retried row counts an
    // error against this tier on its next dispatch. Null = never
    // dispatched under a tiered config; old deltas read null.
    StructField("last_proxy_tier", IntegerType)
  ))

  val eventCols: Seq[org.apache.spark.sql.Column] =
    eventSchema.fieldNames.toSeq.map(col)

  /** Ordering-id stride separating event classes within one commit (must
    * exceed any single batch's max cand_order; gaps are harmless). The
    * engine composes cand_order = claim_rank * CandOrderStride + link_rank,
    * so with claim batches up to 2^20 rows the max cand_order is 2^40 —
    * Stride leaves 4× headroom above that.
    */
  val Stride: Long = 1L << 42

  /** Per-parent stride inside cand_order: claim_rank * this + link_rank.
    * link_rank is the DENSE per-parent rank of kept links (1-based), so a
    * collision would need >2^20 kept links on one page.
    */
  val CandOrderStride: Long = 1L << 20

  def emptyEvents(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], eventSchema)

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def emptyAdds(spark: SparkSession): DataFrame = emptyOf(spark, StructType(Seq(
    StructField("unique_key", StringType), StructField("url", StringType),
    StructField("host", StringType), StructField("label", StringType),
    StructField("method", StringType), StructField("depth", IntegerType),
    StructField("forefront", BooleanType), StructField("cand_order", LongType)
  )))

  /** Optional request-row columns (reference Request model,
    * `_request.py:183-235`): callers that don't carry them get nulls /
    * defaults, so the narrow 8-column adds shape keeps working.
    */
  def normalizeAdds(df: DataFrame): DataFrame = {
    var d = df
    if (!d.columns.contains("payload")) d = d.withColumn("payload", lit(null).cast(BinaryType))
    if (!d.columns.contains("headers"))
      d = d.withColumn("headers", lit(null).cast(MapType(StringType, StringType)))
    if (!d.columns.contains("user_data_json"))
      d = d.withColumn("user_data_json", lit(null).cast(StringType))
    if (!d.columns.contains("no_retry")) d = d.withColumn("no_retry", lit(false))
    if (!d.columns.contains("max_retries")) d = d.withColumn("max_retries", lit(null).cast(IntegerType))
    if (!d.columns.contains("session_id")) d = d.withColumn("session_id", lit(null).cast(StringType))
    if (!d.columns.contains("last_proxy_tier"))
      d = d.withColumn("last_proxy_tier", lit(null).cast(IntegerType))
    d
  }

  def emptyHandled(spark: SparkSession): DataFrame = emptyOf(spark, StructType(Seq(
    StructField("unique_key", StringType), StructField("handled_ok", BooleanType),
    StructField("state", IntegerType)
  )))

  def emptyReclaims(spark: SparkSession): DataFrame = emptyOf(spark, StructType(Seq(
    StructField("unique_key", StringType), StructField("forefront", BooleanType),
    StructField("retry_count", IntegerType)
  )))

  /** Commit manifest: JSON file, atomically replaced via temp+rename.
    * `bucketDirs` maps claim bucket -> snapshot leaf dir (bucket-local
    * compaction); `snapshot` remains for manifests written before r2.
    */
  final case class Manifest(
      batchId: Long,
      maxSeq: Long,
      maxForefrontSeq: Long,
      maxEventSeq: Long,
      snapshot: Option[String],
      deltas: Vector[String],
      bucketDirs: Map[Int, String] = Map.empty
  ) {
    def allFiles(root: String): Seq[String] =
      (snapshot.toSeq ++ bucketDirs.values.toSeq.distinct ++ deltas).map(n => s"$root/log/$n")
  }

  object Manifest {
    val empty: Manifest = Manifest(0L, 0L, 0L, 0L, None, Vector.empty)

    def writeAtomic(path: Path, m: Manifest): Unit = {
      val buckets = m.bucketDirs.toSeq.sortBy(_._1)
        .map { case (b, d) => "\"" + b + "\":\"" + d + "\"" }.mkString(",")
      val json =
        s"""{"batchId":${m.batchId},"maxSeq":${m.maxSeq},"maxForefrontSeq":${m.maxForefrontSeq},
           |"maxEventSeq":${m.maxEventSeq},"snapshot":${m.snapshot.map(s => "\"" + s + "\"").getOrElse("null")},
           |"deltas":[${m.deltas.map(d => "\"" + d + "\"").mkString(",")}],
           |"bucketDirs":{$buckets}}""".stripMargin
      val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

    def read(path: Path): Manifest = {
      val json = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
      def longOf(k: String): Long =
        s""""$k":\\s*(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
      val snapshot = """"snapshot":\s*"([^"]+)"""".r.findFirstMatchIn(json).map(_.group(1))
      def arr(k: String): Vector[String] =
        (k + """":\s*\[([^\]]*)\]""").r
          .findFirstMatchIn(json)
          .map(_.group(1))
          .filter(_.nonEmpty)
          .map(_.split(",").toVector.map(_.trim.stripPrefix("\"").stripSuffix("\"")))
          .getOrElse(Vector.empty)
      val deltas = arr(""""deltas""")
      val bucketDirs = """"bucketDirs":\s*\{([^}]*)\}""".r
        .findFirstMatchIn(json)
        .map(_.group(1))
        .filter(_.nonEmpty)
        .map(_.split(",").toSeq.map { pair =>
          val Array(k, v) = pair.split(":", 2)
          k.trim.stripPrefix("\"").stripSuffix("\"").toInt ->
            v.trim.stripPrefix("\"").stripSuffix("\"")
        }.toMap)
        .getOrElse(Map.empty[Int, String])
      Manifest(longOf("batchId"), longOf("maxSeq"), longOf("maxForefrontSeq"),
        longOf("maxEventSeq"), snapshot, deltas, bucketDirs)
    }
  }
}
