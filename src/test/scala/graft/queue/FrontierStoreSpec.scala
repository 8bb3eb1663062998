package graft.queue

import graft.SparkSpec
import graft.canon.Hashing
import graft.engine.CrawlEngine
import graft.fixtures.{SyntheticWeb, WebSpec}
import graft.oracle.{CrawlConfig, RequestOptions}
import graft.schema.Status
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Mirrors the reference RequestQueue contract tests
  * (/root/reference/tests/unit/storages/test_request_queue.py): dedup
  * (:159-178), mixed-forefront ordering (:387-435), fetch/handle/reclaim
  * (:437-545), is_empty/is_finished (:547-640), plus our resume semantics
  * (Q8: expired lease auto-reclaim).
  */
class FrontierStoreSpec extends SparkSpec {

  private def newStore(leaseMs: Long = 300000L): FrontierStore = {
    val dir = Files.createTempDirectory("frontier").toString
    new FrontierStore(spark, dir, leaseMs = leaseMs)
  }

  private def cand(urls: Seq[String], forefront: Boolean, orderBase: Long = 0): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    urls.zipWithIndex
      .map { case (u, i) =>
        (u, u, "example.com", null.asInstanceOf[String], "GET", 0, forefront, orderBase + i)
      }
      .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order")
  }

  private def drainOrder(store: FrontierStore): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = false
    while (!done) {
      val claimed = store.claim(1, nowMs = 0L)
      val rows = claimed.select("unique_key").collect()
      if (rows.isEmpty) done = true
      else {
        val key = rows.head.getString(0)
        out += key
        import spark.implicits._
        store.markHandled(
          Seq((key, true, graft.schema.RequestState.Done)).toDF("unique_key", "handled_ok", "state")
        )
      }
    }
    out.toSeq
  }

  test("mixed forefront ordering contract (test_request_queue.py:387-435)") {
    val store = newStore()
    store.addBatch(cand(Seq("normal1"), forefront = false))
    store.addBatch(cand(Seq("normal2"), forefront = false))
    store.addBatch(cand(Seq("priority1", "priority2"), forefront = true))
    store.addBatch(cand(Seq("normal3"), forefront = false))
    store.addBatch(cand(Seq("priority3"), forefront = true))

    val order = drainOrder(store)
    assert(order.length == 6)
    assert(order.head == "priority3")
    assert(Set(order(1), order(2)) == Set("priority1", "priority2"))
    assert(order.slice(3, 6) == Seq("normal1", "normal2", "normal3"))
  }

  test("dedup on add: first wins; handled re-add reported") {
    val store = newStore()
    val r1 = store.addBatch(cand(Seq("a", "b", "a"), forefront = false)).collect()
    assert(r1.length == 3)
    val byKey = r1.map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    // in-batch duplicate of 'a' reported present
    assert(byKey.count(t => t._1 == "a" && t._2) == 1)
    assert(byKey.count(t => t._1 == "a" && !t._2) == 1)

    // re-add of pending: present, not handled, no new row
    val r2 = store.addBatch(cand(Seq("a"), forefront = false, orderBase = 100)).collect()
    assert(r2.head.getBoolean(1) && !r2.head.getBoolean(2))
    assert(store.metadata()("total_request_count") == 2)

    // handle 'a', then re-add: present + handled
    val claimed = store.claim(1, 0L).select("unique_key").collect().head.getString(0)
    assert(claimed == "a")
    import spark.implicits._
    store.markHandled(Seq(("a", true, 6)).toDF("unique_key", "handled_ok", "state"))
    val r3 = store.addBatch(cand(Seq("a"), forefront = false, orderBase = 200)).collect()
    assert(r3.head.getBoolean(1) && r3.head.getBoolean(2))
  }

  test("forefront re-add repositions pending request (move_to_end front)") {
    val store = newStore()
    store.addBatch(cand(Seq("x", "y", "z"), forefront = false))
    store.addBatch(cand(Seq("y"), forefront = true, orderBase = 10))
    assert(drainOrder(store) == Seq("y", "x", "z"))
  }

  test("reclaim returns to queue; forefront reclaim goes to head") {
    val store = newStore()
    store.addBatch(cand(Seq("r1", "r2", "r3"), forefront = false))
    import spark.implicits._
    val first = store.claim(1, 0L).select("unique_key").collect().head.getString(0)
    assert(first == "r1")
    // tail reclaim: r1 goes behind r2, r3
    store.reclaim(Seq(("r1", false, 1)).toDF("unique_key", "forefront", "retry_count"))
    assert(drainOrder(store) == Seq("r2", "r3", "r1"))
  }

  test("claim respects per-host quota and lease") {
    val store = newStore(leaseMs = 1000L)
    import spark.implicits._
    val c = Seq(
      ("h1a", "https://h1/a", "h1"), ("h1b", "https://h1/b", "h1"), ("h1c", "https://h1/c", "h1"),
      ("h2a", "https://h2/a", "h2")
    ).zipWithIndex.map { case ((k, u, h), i) => (k, u, h, null.asInstanceOf[String], "GET", 0, false, i.toLong) }
      .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order")
    store.addBatch(c)
    val claimed = store.claim(10, nowMs = 0L, hostQuota = Map("h1" -> 1), defaultQuota = 10)
    val keys = claimed.select("unique_key").collect().map(_.getString(0)).toSet
    assert(keys == Set("h1a", "h2a")) // one from h1, all of h2

    // before lease expiry: claimed rows are not re-claimable
    assert(store.claim(10, nowMs = 500L).select("unique_key").collect().map(_.getString(0)).toSet == Set("h1b", "h1c"))
    // first claim's leases (t=0, 1s) expired at t=1200; second claim's
    // (t=500 → 1500) still live ⇒ only the stale two come back (Q8)
    val stale = store.claim(10, nowMs = 1200L).select("unique_key").collect().map(_.getString(0)).toSet
    assert(stale == Set("h1a", "h2a"))
  }

  test("is_empty / is_finished and metadata counters") {
    val store = newStore()
    assert(store.isEmpty(0) && store.isFinished(0))
    store.addBatch(cand(Seq("m1", "m2"), forefront = false))
    assert(!store.isEmpty(0) && !store.isFinished(0))
    store.claim(1, 0L)
    import spark.implicits._
    assert(!store.isFinished(0))
    store.markHandled(Seq(("m1", true, 6)).toDF("unique_key", "handled_ok", "state"))
    store.claim(1, 0L)
    store.markHandled(Seq(("m2", true, 6)).toDF("unique_key", "handled_ok", "state"))
    assert(store.isEmpty(0) && store.isFinished(0))
    val md = store.metadata()
    assert(md("handled_request_count") == 2 && md("total_request_count") == 2)
  }

  test("claim bucket pruning skips exhausted host buckets, same results as unpruned") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // pick two hosts that land in DIFFERENT claim buckets
    val hosts = (0 until 40).map(i => s"h$i.example.com")
    val hostA = hosts.head
    val hostB = hosts.find(h => claimBucketOf(h) != claimBucketOf(hostA)).get
    def candAB(): org.apache.spark.sql.DataFrame =
      (0 until 10).flatMap(i => Seq((s"a$i", hostA), (s"b$i", hostB))).zipWithIndex
        .map { case ((k, h), ord) => (k, s"https://$h/$k", h, null.asInstanceOf[String], "GET", 0, false, ord.toLong) }
        .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order")
    def runScenario(pruning: Boolean): (Set[String], String) = {
      val store = new FrontierStore(
        spark, Files.createTempDirectory("prune").toString,
        leaseMs = 1000L, claimBucketPruning = pruning)
      store.addBatch(candAB())
      val c1 = store.claim(20, nowMs = 0L)
      store.markHandled(c1.filter(col("host") === hostA)
        .select(col("unique_key"), org.apache.spark.sql.functions.lit(true).as("handled_ok"),
          org.apache.spark.sql.functions.lit(graft.schema.RequestState.Done).as("state")))
      // hostA's bucket is now exhausted (exact -1 per handled); hostB's rows
      // are stale-reclaimable at t=2000
      val cs = store.claimSet(20, nowMs = 2000L)
      // the SELECTION plan (the part bucket pruning applies to) is
      // asserted via pickTop directly
      val plan = store.pickTop(20, 2000L, Map.empty, Int.MaxValue, Set.empty)
        .queryExecution.executedPlan.toString
      (cs.select("unique_key").collect().map(_.getString(0)).toSet, plan)
    }
    val (prunedKeys, prunedPlan) = runScenario(pruning = true)
    val (plainKeys, _) = runScenario(pruning = false)
    assert(prunedKeys == plainKeys)
    assert(prunedKeys == (0 until 10).map(i => s"b$i").toSet)
    // the pruned claim actually filters on the host-hash bucket
    assert(prunedPlan.contains("pmod(host_hash"), prunedPlan)
  }

  test("epoch-cutoff pre-filter: interleaved claims/handles match an unpruned store exactly") {
    // many commits -> many seq epochs; small claims force the cutoff to
    // engage (cumulative pending >> maxN); forefront adds + reclaims
    // exercise the -1 epoch and the position-consumption accounting
    def run(pruning: Boolean): Seq[String] = {
      val store = new FrontierStore(
        spark, Files.createTempDirectory("epoch").toString,
        leaseMs = 1000L, claimBucketPruning = pruning)
      (0 until 5).foreach { b =>
        store.addBatch(cand((0 until 20).map(i => s"k-$b-$i"), forefront = false, orderBase = b * 100))
      }
      store.addBatch(cand(Seq("ff-1", "ff-2"), forefront = true, orderBase = 1000))
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var spin = 0
      while (!store.isFinished(0L) && spin < 50) {
        val claimed = store.claim(7, nowMs = 0L)
        val keys = claimed.orderBy(col("event_seq")).select("unique_key").collect().map(_.getString(0))
        out ++= keys
        import spark.implicits._
        // reclaim one key per batch back to the tail, handle the rest
        val (recl, handled) = (keys.take(1).filter(_ => spin % 3 == 0), keys.drop(if (spin % 3 == 0) 1 else 0))
        if (recl.nonEmpty)
          store.reclaim(recl.toSeq.map(k => (k, false, 1)).toDF("unique_key", "forefront", "retry_count"))
        if (handled.nonEmpty)
          store.markHandled(handled.toSeq.map(k => (k, true, graft.schema.RequestState.Done))
            .toDF("unique_key", "handled_ok", "state"))
        spin += 1
      }
      out.toSeq
    }
    val pruned = run(pruning = true)
    val plain = run(pruning = false)
    assert(pruned == plain)
    assert(pruned.toSet.size == 102) // every key claimed at least once
  }

  test("a resumed store's FIRST call is a claim (bucket summary builds lazily)") {
    val root = Files.createTempDirectory("resumeclaim").toString
    val s1 = new FrontierStore(spark, root)
    s1.addBatch(cand(Seq("r1", "r2", "r3"), forefront = false))
    // fresh instance, claim immediately — no state()/count() call first
    val s2 = new FrontierStore(spark, root)
    val claimed = s2.claim(10, nowMs = 0L)
    assert(claimed.count() == 3)
  }

  test("bucket-local compaction rewrites only delta-touched buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val hosts = (0 until 40).map(i => s"h$i.example.com")
    val hostA = hosts.head
    val hostB = hosts.find(h => claimBucketOf(h) != claimBucketOf(hostA)).get
    def cand1(k: String, h: String, ord: Long) =
      Seq((k, s"https://$h/$k", h, null.asInstanceOf[String], "GET", 0, false, ord))
        .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order")
    val root = Files.createTempDirectory("bucketcompact").toString
    val store = new FrontierStore(spark, root, compactEvery = 2)
    // window 1: touch BOTH buckets -> first compaction covers everything
    store.addBatch(cand1("a0", hostA, 0))
    store.addBatch(cand1("b0", hostB, 1)) // compaction #1 fires here
    val m1 = FrontierStore.Manifest.read(java.nio.file.Paths.get(s"$root/manifest.json"))
    assert(m1.deltas.isEmpty && m1.bucketDirs.nonEmpty)
    val epochOfA1 = m1.bucketDirs(claimBucketOf(hostA))
    val epochOfB1 = m1.bucketDirs(claimBucketOf(hostB))
    // window 2: touch ONLY hostB's bucket -> compaction #2 must leave
    // hostA's leaf at the old epoch
    store.addBatch(cand1("b1", hostB, 2))
    store.addBatch(cand1("b2", hostB, 3)) // compaction #2
    val m2 = FrontierStore.Manifest.read(java.nio.file.Paths.get(s"$root/manifest.json"))
    val epochOfA2 = m2.bucketDirs(claimBucketOf(hostA))
    val epochOfB2 = m2.bucketDirs(claimBucketOf(hostB))
    assert(epochOfA2 == epochOfA1, "untouched bucket was rewritten")
    assert(epochOfB2 != epochOfB1, "touched bucket kept a stale leaf")
    // state stays exact across the partial compaction + survives resume
    assert(store.state().count() == 4)
    val resumed = new FrontierStore(spark, root)
    assert(resumed.state().select(col("unique_key")).collect().map(_.getString(0)).toSet ==
      Set("a0", "b0", "b1", "b2"))
    assert(resumed.state().filter(col("status") === lit(graft.schema.Status.Pending)).count() == 4)
  }

  test("stateAt: time travel reproduces every retained batch exactly; refuses past the compaction floor") {
    val dir = Files.createTempDirectory("frontier-tt").toString
    val store = new FrontierStore(spark, dir, compactEvery = 3)
    def snap(): Set[(String, Int, Long)] = store.state()
      .select("unique_key", "status", "batch_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val observed = scala.collection.mutable.Map.empty[Long, Set[(String, Int, Long)]]
    var batch = 0L
    (1 to 4).foreach { g =>
      store.addBatch(cand((1 to 5).map(i => s"u$g-$i"), forefront = false, orderBase = g * 10L))
      batch += 1
      observed(batch) = snap()
      if (store.claim(3, nowMs = g * 1000L).count() > 0) {
        batch += 1
        observed(batch) = snap()
      }
    }
    val results = (1L to batch).map { b =>
      try Right(store.stateAt(b)
        .select("unique_key", "status", "batch_id").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet)
      catch { case e: IllegalArgumentException => Left(e) }
    }
    assert(results.last.isRight, "the current batch is always reconstructible")
    // refusals form a prefix (the compaction floor), and every answered
    // batch matches the state observed live right after that commit
    val firstOk = results.indexWhere(_.isRight)
    results.zipWithIndex.foreach { case (r, i) =>
      r match {
        case Right(s) =>
          assert(i >= firstOk)
          assert(s == observed(i + 1L), s"stateAt(${i + 1}) diverged from the live snapshot")
        case Left(e) =>
          assert(i < firstOk, s"refusal after an answered batch: ${e.getMessage}")
      }
    }
    // 8 commits at compactEvery=3 guarantees at least one compaction,
    // so the earliest batch must refuse rather than answer lossily
    assert(results.head.isLeft, "pre-compaction history must refuse, not answer wrong")
  }

  test("resume from manifest: new store instance sees identical state") {
    val dir = Files.createTempDirectory("frontier-resume").toString
    val store = new FrontierStore(spark, dir)
    store.addBatch(cand(Seq("s1", "s2", "s3"), forefront = false))
    store.claim(1, 0L)
    import spark.implicits._
    store.markHandled(Seq(("s1", true, 6)).toDF("unique_key", "handled_ok", "state"))

    // simulate restart
    val resumed = new FrontierStore(spark, dir)
    assert(resumed.metadata() == store.metadata())
    assert(drainOrder(resumed) == Seq("s2", "s3"))
  }

  test("compaction preserves state across many commits") {
    val store = newStore()
    (0 until 12).foreach(i => store.addBatch(cand(Seq(s"k$i"), forefront = false, orderBase = i)))
    assert(store.metadata()("total_request_count") == 12)
    assert(drainOrder(store).size == 12)
  }

  test("purge empties but keeps storage usable") {
    val store = newStore()
    store.addBatch(cand(Seq("p1"), forefront = false))
    store.purge()
    assert(store.isEmpty(0))
    store.addBatch(cand(Seq("p2"), forefront = false))
    assert(drainOrder(store) == Seq("p2"))
  }

  test("named store is exempt from implicit purge-on-start; unnamed is cleared " +
      "(test_request_queue.py:845-887)") {
    val namedDir = Files.createTempDirectory("frontier-named").toString
    val named = new FrontierStore(spark, namedDir, name = Some("shared-queue"))
    named.addBatch(cand(Seq("n1", "n2"), forefront = false))
    assert(!named.purgeOnStart()) // persistent shared data: left intact
    assert(named.metadata()("pending_request_count") == 2)
    // explicit purge still works on a named store (test_request_queue.py:748-800)
    named.purge()
    assert(named.isEmpty(0))

    val unnamed = newStore()
    unnamed.addBatch(cand(Seq("u1", "u2"), forefront = false))
    assert(unnamed.purgeOnStart()) // default unnamed store: purged
    assert(unnamed.isEmpty(0))
    unnamed.addBatch(cand(Seq("u3"), forefront = false))
    assert(drainOrder(unnamed) == Seq("u3"))
  }

  test("vacuum after compaction removes superseded epochs; state and resume intact") {
    val dir = Files.createTempDirectory("frontier-vacuum").toString
    val store = new FrontierStore(spark, dir, compactEvery = 4)
    (0 until 10).foreach { i =>
      store.addBatch(cand(Seq(s"v$i-a", s"v$i-b"), forefront = false, orderBase = i * 10L))
    }
    // two compactions happened; superseded snapshot epochs + old deltas gone
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/log"))
      .forEach(p => names += p.getFileName.toString)
    val snapshots = names.filter(_.startsWith("snapshot-"))
    assert(snapshots.size <= 1, s"superseded snapshot epochs not vacuumed: $names")
    assert(names.count(_.startsWith("delta-")) <= 4, s"old deltas not vacuumed: $names")
    // state is complete and a fresh instance resumes identically
    assert(store.metadata()("pending_request_count") == 20)
    val reopened = new FrontierStore(spark, dir, compactEvery = 4)
    assert(reopened.metadata()("pending_request_count") == 20)
    assert(drainOrder(reopened).size == 20)
  }

  test("drop deletes the storage; the instance recreates empty and stays usable") {
    val dir = Files.createTempDirectory("frontier-drop").toString
    val store = new FrontierStore(spark, dir, name = Some("dropme"))
    store.addBatch(cand(Seq("d1", "d2"), forefront = false))
    store.drop()
    assert(store.isEmpty(0))
    // a fresh instance over the same root also sees nothing (files are gone)
    val reopened = new FrontierStore(spark, dir)
    assert(reopened.isEmpty(0))
    store.addBatch(cand(Seq("d3"), forefront = false))
    assert(drainOrder(store) == Seq("d3"))
  }

  test("exact-mode resolution never shuffles the state side (flip broadcast-semi)") {
    // VERDICT r4 #9: plain-parquet state has no bucketed catalog, so the
    // naive candidate-vs-state left join sort-merges BOTH sides — a full
    // O(state) shuffle per commit. resolveExisting must (a) be
    // row-identical to that join and (b) keep the state side exchange-free
    // (batch keys broadcast into a LeftSemi that scans state in place).
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val left = (0 until 50).map(i => (s"k$i", i.toLong)).toDF("unique_key", "cand_order")
      // half-overlapping state incl. a key the batch doesn't carry
      val st = (25 until 100).map(i => (s"k$i", Status.Pending, i.toLong))
        .toDF("ex_key", "ex_status", "ex_seq")
      val flipped = FrontierStore.resolveExisting(left, st, leftRows = 50)
      val shuffled = left.join(st, left("unique_key") === st("ex_key"), "left")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().toSeq
          .map((r: Row) => s"${r.getString(0)}|${Option(r.getAs[String]("ex_key")).orNull}")
          .sorted
      assert(rows(flipped) == rows(shuffled))
      assert(flipped.columns.sameElements(shuffled.columns))
      val semis = flipped.queryExecution.executedPlan.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
      }
      assert(semis.nonEmpty, flipped.queryExecution.executedPlan.toString)
      // streamed (state) side of the semi join: no exchange above the scan
      assert(semis.forall(_.left.collect { case e: ShuffleExchangeExec => e }.isEmpty),
        flipped.queryExecution.executedPlan.toString)
      // bulk batches (> FlipJoinMaxCandidates) fall back to the shuffled join
      val bulk = FrontierStore.resolveExisting(left, st, leftRows = FrontierStore.FlipJoinMaxCandidates + 1)
      assert(rows(bulk) == rows(shuffled))
      assert(bulk.queryExecution.executedPlan.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
      }.isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("P5 new-work event: an add wakes a blocked waiter; pure claims never signal") {
    import scala.concurrent.duration._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val store = newStore()
    store.addBatch(cand(Seq("a"), forefront = false))
    val e0 = store.newWorkEpoch
    // a claim-only commit creates no claimable work -> no signal
    store.claim(1, nowMs = 0L)
    assert(store.newWorkEpoch == e0)
    // a blocked waiter is woken by a concurrent add well inside its timeout
    val waiter = Future(store.awaitNewWork(e0, 30000L))
    Thread.sleep(200)
    val t0 = System.nanoTime()
    store.addBatch(cand(Seq("b"), forefront = false, orderBase = 10))
    assert(Await.result(waiter, 10.seconds), "waiter must be woken by the add")
    assert((System.nanoTime() - t0) / 1e6 < 5000, "wakeup must be event-driven, not the 30s timeout")
    // an already-passed epoch returns immediately without waiting
    assert(store.awaitNewWork(e0, 30000L))
    // and with no new commit the wait times out (bounded, returns false)
    assert(!store.awaitNewWork(store.newWorkEpoch, 250L))
  }

  /** A bench-mode crawl of every main-host page of `spec` into `store`. */
  private def crawlInto(store: FrontierStore, spec: WebSpec, cfg: CrawlConfig): Unit = {
    val site = SyntheticWeb.site(spark, spec)
    val seeds = for (h <- 0 until spec.hosts; i <- 0 until spec.pagesPerHost) yield SyntheticWeb.urlOf(spec, h, i)
    new CrawlEngine(spark, store, site.pages, site.robots, cfg,
      claimBatchSize = 16, trackOrder = false, trackImages = false, statusAtFn = site.statusAt
    ).run(seeds)
    ()
  }

  /** The store's claim bucket of `host`: pmod(xxh64(host), ClaimBuckets). */
  private def claimBucketOf(host: String): Int =
    java.lang.Math.floorMod(Hashing.xxh64(host), FrontierStore.ClaimBuckets.toLong).toInt

  test("close() after a crawl and purge() after two commits release every cached state generation") {
    val sc = spark.sparkContext
    // the engine's per-batch local checkpoints are not the store's: Spark's
    // ContextCleaner drops them once the engine is collected
    def cached: Int = sc.getPersistentRDDs.values.count(!_.toString.contains(" at localCheckpoint at "))
    val before = cached
    val crawled = new FrontierStore(spark, Files.createTempDirectory("close").toString, bloomDedup = true)
    crawlInto(crawled, WebSpec(hosts = 2, pagesPerHost = 20, otherOrgPages = 4, subHostPages = 4), CrawlConfig())
    val rows = crawled.state().count()
    val bloomDir = s"${crawled.root}/bloom"
    assert(graft.dedup.BloomShardStore.ShardCache.cachedShards(bloomDir) > 0)
    crawled.close()
    assert(cached == before)
    assert(graft.dedup.BloomShardStore.ShardCache.cachedShards(bloomDir) == 0)
    // a closed store reads its files back on the next call
    assert(crawled.state().count() == rows)
    crawled.close()

    val purged = newStore()
    purged.addBatch(cand(Seq("a", "b"), forefront = false))
    purged.addBatch(cand(Seq("c"), forefront = false, orderBase = 2))
    assert(cached > before)
    purged.purge()
    assert(cached == before)
    assert(purged.state().count() == 0)
  }

  test("after a bloom crawl with retries and session rotations every bucket bound is 0: drained") {
    // no compaction during the crawl: the bounds come from the per-commit
    // fold alone, never from an exact rebuild. Without compaction the
    // cached state chain deepens with every commit, so the web stays small
    // (2 hosts: ~9 commits, still with retries and a dozen rotations)
    val store = new FrontierStore(spark, Files.createTempDirectory("drain").toString,
      bloomDedup = true, compactEvery = 1000)
    crawlInto(store, WebSpec(hosts = 2, pagesPerHost = 40, otherOrgPages = 4,
      subHostPages = 4, blockedEvery = 5), CrawlConfig(detectBlocked = true, maxSessionRotations = 2))
    val st = store.state()
    assert(st.filter(col("retry_count") > 0).count() > 0, "the crawl must retry (429/5xx)")
    assert(st.filter(col("rotation_count") > 0).count() > 0, "the crawl must rotate sessions")
    assert(store.metadata()("pending_request_count") == 0)
    // every bucket bound is 0
    assert(store.drained)
  }

  test("a host-replacing error handler: the crawl still reaches every replaced URL") {
    val spec = WebSpec(hosts = 6, pagesPerHost = 40, otherOrgPages = 4, subHostPages = 4)
    // retried requests move to a host whose claim bucket holds no other row:
    // a bound that did not count the moved rows would prune them forever
    val webBuckets = (0 until spec.hosts).map(h => claimBucketOf(SyntheticWeb.hostName(spec, h))).toSet
    val moved = Iterator.from(0).map(i => s"moved$i.example.net").find(h => !webBuckets(claimBucketOf(h))).get
    val handler: (RequestOptions, Int) => Option[RequestOptions] =
      (r, _) =>
        if (r.url.contains(moved)) None
        else Some(RequestOptions(r.url.replace("https://", s"https://$moved/"), r.label))
    val store = new FrontierStore(spark, Files.createTempDirectory("replaced").toString,
      bloomDedup = true, compactEvery = 1000)
    crawlInto(store, spec, CrawlConfig(errorHandler = Some(handler)))
    val replaced = store.state().filter(col("host") === moved).select("url", "status").collect()
    assert(replaced.nonEmpty, "the crawl must retry some request")
    // a moved URL has no page: one fetch, a terminal 404
    assert(replaced.forall(_.getInt(1) == Status.Handled), replaced.mkString(", "))
    assert(store.metadata()("pending_request_count") == 0)
  }
}
