package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions (the builder-prompt rubric: filters pushed to
  * the parquet scan, column pruning, whole-stage codegen coverage,
  * broadcast joins where a side is small). These pin the plans we WANT,
  * so a regression that silently de-optimizes fails the suite.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("filter + projection push down to the parquet scan") {
    val li = spark.read.parquet(s"${sf("sf0.001")}/lineitem.parquet")
    val q = li.filter(col("l_orderkey") === 42L).select("l_orderkey", "l_quantity")
    val f = formatted(q)
    assert(f.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"), f)
    // column pruning: the scan reads exactly the two projected columns
    assert(f.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), f)
  }

  test("catalog aggregation runs inside whole-stage codegen (map-side partial agg)") {
    val q = QueryCatalog.all("q1_agg")(spark, sf("sf0.001"))
    q.collect() // finalize the AQE plan
    val p = plan(q)
    // '*(n)' prefixes mark whole-stage-codegen stages in the final plan
    assert(p.contains("*("), p)
    assert(p.contains("partial_sum"), p) // map-side combine before the shuffle
    assert(p.contains("HashAggregate"), p)
  }

  test("URL expressions stay inside whole-stage codegen (no UDF boxing)") {
    graft.expr.UrlFunctions.register(spark)
    val q = QueryCatalog.all("c1_normalize_url")(spark, sf("sf0.001"))
    val p = plan(q)
    // the Project containing normalizeurl(...) sits inside codegen stage *(1)
    assert(p.contains("*(1) Project") && p.contains("normalizeurl"), p)
  }

  test("frontier dedup anti-join broadcasts the small side") {
    import spark.implicits._
    val store = new graft.queue.FrontierStore(
      spark, java.nio.file.Files.createTempDirectory("plan").toString)
    store.addBatch(
      Seq(("k1", "https://a.com/1", "a.com", null.asInstanceOf[String], "GET", 0, false, 0L))
        .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order"))
    // small-delta merge path: the state chain uses a broadcast anti-join
    val p = plan(store.state())
    assert(p.contains("BroadcastHashJoin") || p.contains("InMemoryTableScan"), p)
  }

  test("a bulk enqueue delta keeps its parallelism in the state merge; small deltas are coalesced") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    def cand(from: Long, n: Long) = spark.range(from, from + n).select(
      concat(lit("k"), col("id")).as("unique_key"), concat(lit("https://a.com/"), col("id")).as("url"),
      lit("a.com").as("host"), lit(null).cast("string").as("label"), lit("GET").as("method"),
      lit(0).as("depth"), lit(false).as("forefront"), col("id").as("cand_order"))
    // narrowing coalesces (no shuffle) in the plan that built the state
    def coalesces(st: org.apache.spark.sql.DataFrame): Seq[Int] =
      st.queryExecution.analyzed.collect { case r: Repartition if !r.shuffle => r.numPartitions }
    val store = new graft.queue.FrontierStore(
      spark, java.nio.file.Files.createTempDirectory("planbulk").toString)
    store.addBatch(cand(0L, 70000L)) // above the 65,536-row broadcast gate
    assert(coalesces(store.state()).isEmpty, store.state().queryExecution.analyzed.toString)
    assert(store.state().count() == 70000L)
    store.addBatch(cand(70000L, 10L))
    val small = coalesces(store.state())
    assert(small.nonEmpty && small.forall(_ == 4), store.state().queryExecution.analyzed.toString)
  }

  test("above the broadcast-semi state size the engine's commit takes its shape from the passed bound") {
    import graft.queue.FrontierStore
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    // a store whose committed state already holds BroadcastSemiMinStateRows
    // handled rows, on a host outside the crawled web
    val root = java.nio.file.Files.createTempDirectory("planbound").toString
    val n = FrontierStore.BroadcastSemiMinStateRows
    val key = concat(lit("old-"), col("id"))
    spark.range(n).select(FrontierStore.eventSchema.fields.toSeq.map { f =>
      (f.name match {
        case "unique_key" => key
        case "key64" => xxhash64(key)
        case "host" => lit("old.invalid")
        case "host_hash" => xxhash64(lit("old.invalid"))
        case "status" => lit(graft.schema.Status.Handled)
        case "seq" | "event_seq" => col("id")
        case "forefront_seq" => lit(-1L)
        case "batch_id" => lit(1L)
        case _ => lit(null)
      }).cast(f.dataType).as(f.name)
    }: _*).write.parquet(s"$root/log/delta-000001")
    FrontierStore.Manifest.writeAtomic(java.nio.file.Paths.get(s"$root/manifest.json"),
      FrontierStore.Manifest(1L, n, 0L, n, None, Vector("delta-000001")))
    // the plan of every delta write after the seed commit (batch ids 1 and 2)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed match {
          case c: InsertIntoHadoopFsRelationCommand
              if c.outputPath.getName.startsWith("delta-") && c.outputPath.getName.drop(6).toInt > 2 =>
            plans.add(qe.executedPlan.toString)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sp = graft.fixtures.WebSpec(hosts = 2, pagesPerHost = 8, otherOrgPages = 2, subHostPages = 2)
    val site = graft.fixtures.SyntheticWeb.site(spark, sp)
    val store = new FrontierStore(spark, root)
    val engine = new graft.engine.CrawlEngine(spark, store, site.pages, site.robots, graft.oracle.CrawlConfig(),
      claimBatchSize = 4096, trackImages = false, trackOrder = false, statusAtFn = site.statusAt)
    spark.listenerManager.register(listener)
    val result =
      try {
        val r = engine.run((0 until 8).map(i => graft.fixtures.SyntheticWeb.urlOf(sp, 0, i)))
        val deadline = System.currentTimeMillis() + 20000L
        while (plans.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(200)
        r
      } finally {
        spark.listenerManager.unregister(listener)
        // the store keeps its large state cached; the suites that follow
        // in this JVM need the heap back
        spark.catalog.clearCache()
      }
    assert(result.processedCount > 8)
    // the candidates meet the state in a broadcast LEFT SEMI join, which
    // scans the large state in place; the shuffled left join would
    // exchange all of it
    assert(plans.size >= 2, s"${plans.size} batch commits observed")
    plans.forEach(p => assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"), p))
  }

  test("brute-force ANN broadcasts the small query side (no shuffle of the corpus)") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = graft.ops.VectorOps.bruteForceTopK(
      emb, "vec_id", "embedding", emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
    val p = plan(q)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("r6 budget top-k plans as TakeOrderedAndProject, not a global window") {
    val q = QueryCatalog.all("r6_budget_exactness")(spark, sf("sf0.001"))
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("unconstrained claim selection has NO window and plans a top-k") {
    import spark.implicits._
    val store = new graft.queue.FrontierStore(
      spark, java.nio.file.Files.createTempDirectory("planclaim").toString)
    store.addBatch(
      (0 until 50).map(i => (s"k$i", s"https://a.com/$i", "a.com", null.asInstanceOf[String], "GET", 0, false, i.toLong))
        .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order"))
    // assert on the claim plan itself — everything ABOVE the cached-state
    // scan (the InMemoryRelation's build plan legitimately contains the
    // key-PARTITIONED latest-wins window)
    def aboveCache(s: String): String = s.split("InMemoryRelation").head
    val p = aboveCache(plan(store.pickTop(10, 0L, Map.empty, Int.MaxValue, Set.empty)))
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // quota-constrained claims still rank per host — window PARTITIONED by host
    val pq = aboveCache(plan(store.pickTop(10, 0L, Map("a.com" -> 1), 1, Set.empty)))
    assert(pq.contains("Window") && pq.contains("windowspecdefinition(host"), pq)
  }

  test("fetch joins run at the shuffle parallelism and never re-exchange the cached page table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val key = "spark.sql.shuffle.partitions"
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = (spark.conf.get(key), spark.conf.get(bcKey))
    // shuffle partitions set apart from the default parallelism: a page
    // table partitioned by the wrong one would re-exchange in every join.
    // No broadcast: a real page table is far above the threshold.
    val parts = spark.sparkContext.defaultParallelism * 2 + 1
    spark.conf.set(key, parts.toString)
    spark.conf.set(bcKey, "-1")
    val pages = (0 until 50)
      .map(i => (s"https://a.com/$i", 200, null.asInstanceOf[String], s"<p>$i</p>", Seq(s"i$i")))
      .toDF("url", "status", "redirect_to", "body", "image_ids")
    val pinned = graft.engine.CrawlEngine.pinPages(spark, pages)
    try {
      // materialized first, as the engine does: a cached plan reports its
      // partitioning once its adaptive plan is final
      pinned.count()
      val batch = (0 until 20).map(i => (s"https://a.com/${i * 3}", i)).toDF("url", "n")
      // the engine's two fetch-join shapes: status join, redirect-hop join
      val status = batch.join(pinned.select(col("p_url"), col("p_redirect")), col("url") === col("p_url"), "left")
      val hop = status.withColumn("loaded_url", coalesce(col("p_redirect"), col("url")))
        .drop("p_url", "p_redirect")
        .join(pinned.select(col("p_url").as("t_url"), col("p_body")), col("loaded_url") === col("t_url"), "left")
      val physical = hop.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      // an exchange fed straight from the cached scan (through unary
      // operators only) re-shuffles the page table itself
      def readsCache(p: SparkPlan): Boolean = p match {
        case _: InMemoryTableScanExec => true
        case u if u.children.size == 1 => readsCache(u.children.head)
        case _ => false
      }
      val overCache = physical.collect { case ex: ShuffleExchangeExec if readsCache(ex.child) => ex }
      assert(physical.collect { case s: InMemoryTableScanExec => s }.size == 2, physical.toString)
      assert(overCache.isEmpty, physical.toString)
      // and the batch side shuffles to the session's partition count, not
      // to a page-table layout left over from another setting
      val exchangeParts = physical.collect { case ex: ShuffleExchangeExec => ex.outputPartitioning.numPartitions }
      assert(exchangeParts.nonEmpty && exchangeParts.forall(_ == parts), physical.toString)
      assert(hop.count() == 20)
    } finally {
      spark.conf.set(key, saved._1)
      spark.conf.set(bcKey, saved._2)
      pinned.unpersist()
    }
  }

  test("shingle self-join shuffles on the high-cardinality shingle key (no cartesian)") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val q = graft.ops.TextOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("LSH near-dup plan buckets on (table, signature) — no cartesian product") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = graft.ops.VectorOps.cosineNearDupPairsLsh(emb, "vec_id", "embedding", 0.35)
    val p = plan(q)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // above the exact-rows cap the entry point itself must route through LSH
    val routed = graft.ops.VectorOps.cosineNearDupPairs(emb, "vec_id", "embedding", 0.35, maxExactRows = 10)
    assert(!plan(routed).contains("CartesianProduct"), plan(routed))
  }

  test("vector signature/assignment stages carry NO Scala UDF (native expressions)") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // LSH signature pass (VecSigns)
    val sigs = graft.ops.VectorOps.lshSignatures(emb, "vec_id", "embedding", 8, 12)
    val ps = plan(sigs)
    assert(!ps.toLowerCase.contains("scalaudf"), ps)
    assert(ps.contains("vec_signs") || ps.contains("vecsigns"), ps)
    // IVF assignment + probe pass (ArgmaxDot / TopProbes)
    val cents = graft.ops.VectorOps.ivfCentroids(emb, "vec_id", "embedding", 4, iters = 1)
    val topk = graft.ops.VectorOps.ivfTopK(
      emb, "vec_id", "embedding", emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3, cents)
    val pt = plan(topk)
    assert(!pt.toLowerCase.contains("scalaudf"), pt)
  }

  test("router dispatch compiles to a when-chain inside codegen — no UDF, no join") {
    val router = new graft.router.Router()
      .defaultHandler(graft.router.PageHandler(tag = "DEF"))
      .handler("a", graft.router.PageHandler(tag = "A"))
      .handler("b", graft.router.PageHandler(tag = "B", extractLinks = false))
    val df = spark.read.parquet(s"${sf("sf0.001")}/events.parquet")
      .select(when(col("event_id") % 2 === 0, lit("a")).otherwise(lit("b")).as("label"))
      .select(router.tagCol(col("label")).as("tag"), router.extractLinksCol(col("label")).as("ext"))
    val p = plan(df)
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("BatchEvalPython"), p)
    assert(!p.contains("Join"), p) // dispatch is a projection, not a lookup join
    assert(p.contains("*(1) Project") && p.contains("CASE WHEN"), p)
  }

  test("robots-table mode gates candidates with a JOIN keyed by host, not a map probe") {
    import spark.implicits._
    // the robots table rides a join: the plan must contain a join keyed on
    // rb_host and must NOT evaluate any robots UDF over a driver map
    val robots = Seq(("h1.example.com", 200, "User-agent: *\nAllow: /"))
      .toDF("host", "status", "body")
    val rt = robots.select(col("host").as("rb_host"), col("status").as("rb_status"), col("body").as("rb_body"))
    val cands = spark.read.parquet(s"${sf("sf0.001")}/events.parquet")
      .select(concat(lit("https://h"), pmod(col("user_id"), lit(7)),
        lit(".example.com/p/"), col("event_id")).as("abs_url"))
      .withColumn("__rb_key", graft.expr.UrlFunctions.hostOf(col("abs_url")))
    val joined = cands.join(rt, col("__rb_key") === col("rb_host"), "left")
    val p = plan(joined)
    assert(p.contains("Join") && p.contains("rb_host"), p)
  }

  test("map-only cleaning ops carry no Exchange and no Scala UDF") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val norm = plan(graft.ops.TextOps.normalizeText(docs, "doc_id", "text"))
    assert(!norm.contains("Exchange") && !norm.contains("ScalaUDF"), norm)
    val img = Seq(("i1", Array[Byte](1, 2), 64, 64, "png", "a caption here", 7L))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val filt = plan(graft.ops.Multimodal.imageSetFilter(img))
    assert(!filt.contains("Exchange") && !filt.contains("ScalaUDF"), filt)
  }

  test("stratified sampling broadcasts the rate table — the data side never shuffles") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val p = plan(graft.ops.Sampling.stratifiedSample(
      docs, "lang", "doc_id", Map("en" -> 0.5), defaultRate = 0.25))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("CMS estimate probes the sketch via broadcast join") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val sketch = graft.ops.Sketches.countMinSketch(docs, "source", 4, 64)
    val p = plan(graft.ops.Sketches.cmsEstimate(
      docs.select("source").distinct(), sketch, "source", 4, 64))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("HLL registers build as ONE map-combinable aggregation — single exchange, no UDF") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val p = plan(graft.ops.Sketches.hllRegisters(docs, "source", b = 6))
    assert(!p.contains("ScalaUDF"), p)
    // exactly one shuffle (partial HashAggregate -> exchange -> final):
    // each executor ships at most m=64 rows regardless of input size
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_max") || p.contains("HashAggregate"), p)
  }

  test("DSIR scoring broadcasts the bounded feature-weight table — the corpus never shuffles for the join") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val p = plan(graft.ops.TextOps.dsirWeights(
      docs, col("lang") === "en", "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("pHash survivor election: banded candidates, no cartesian, window partitioned by component") {
    import spark.implicits._
    val feats = (0 until 64).map(i => (s"im$i", (i * 2654435761L) ^ (i << 7), 100L + i))
      .toDF("id", "phash", "pixels")
    val p = plan(graft.ops.Multimodal.phashDedupSurvivors(feats, maxHamming = 3))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("No Partition Defined"), p)
  }
}
