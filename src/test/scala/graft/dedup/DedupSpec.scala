package graft.dedup

import graft.SparkSpec
import graft.canon.Hashing

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Bloom seen-shards (Q2, BloomShardStore). */
class DedupSpec extends SparkSpec {

  /** A copy of the shard directory `dir` at a fresh path: a store opened
    * there has no filter in the executor-local cache, so it reads cold.
    */
  private def coldCopy(dir: String): String = {
    val to = Files.createTempDirectory("bloomcold")
    val src = java.nio.file.Paths.get(dir)
    val files = Files.walk(src)
    try files.iterator.asScala.foreach { p =>
      val t = to.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally files.close()
    to.toString
  }

  test("bloom: no false negatives, persists and reloads") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bloom").toString
    val s = new BloomShardStore(dir, buckets = 8, expectedPerBucket = 10000, fpp = 1e-7)
    val keys = (0 until 5000).map(i => Hashing.xxh64(s"key-$i"))
    // two folds: the keys live in runs of two versions
    s.fold(keys.take(2500).toDF("key64"), newVersion = 1L)
    s.fold(keys.drop(2500).toDF("key64"), newVersion = 2L)
    assert(keys.forall(s.mightContain(_)))
    // reopened from disk alone (no cached filter at the copied path)
    val g = BloomShardStore.openOrCreate(coldCopy(dir), 0, 0, 0)
    assert(g.buckets == 8 && g.version == 2L)
    assert(keys.forall(g.mightContain(_)))
    // fresh keys: at fpp 1e-7 expect zero false positives in 100k probes
    val fp = (0 until 100000).count(i => g.mightContain(Hashing.xxh64(s"other-$i")))
    assert(fp == 0, s"unexpected false positives: $fp")
  }

  test("bloom: distributed build equals driver-side build") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bloomagree").toString
    val s = new BloomShardStore(dir, buckets = 16, expectedPerBucket = 10000, fpp = 1e-6)
    val folded = (0 until 20000).map(i => s"d-$i")
    s.fold(folded.map(Hashing.xxh64).toDF("key64"), newVersion = 1L)
    val probeKeys = folded ++ (0 until 50000).map(i => s"m-$i")
    // the executor-side probe answers every key as the driver's mightContain does
    val probed = s.probe(probeKeys.toDF("unique_key"), "unique_key")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(probeKeys.forall(k => probed(k) == s.mightContain(Hashing.xxh64(k))))
    assert(folded.forall(probed))
    val misses = (0 until 50000).count(i => probed(s"m-$i"))
    assert(misses < 5) // fpp 1e-6 over 50k probes
  }

  test("bloom: serialize round-trip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = Files.createTempDirectory("bloomser").toString
    val s = new BloomShardStore(dir, buckets = 4, expectedPerBucket = 1000, fpp = 1e-5)
    val keys = (0 until 500).map(i => Hashing.xxh64(s"s-$i"))
    // a merging fold writes every bucket's base shard
    s.foldCounting(keys.toDF("key64"), lit(true), Nil, 1L, merge = true)
    (0 until 4).foreach { b =>
      val cached = BloomShardStore.ShardCache.get(s, b, 1L)
      val cold = BloomShardStore.readShard(BloomShardStore.shardPath(dir, b))
      assert(bytesOf(cold) == bytesOf(cached), s"bucket $b")
    }
    // a store opened cold answers every key the same
    val g = BloomShardStore.openOrCreate(coldCopy(dir), 0, 0, 0)
    assert(keys.forall(k => g.mightContain(k) && s.mightContain(k)))
    assert((0 until 2000).map(i => Hashing.xxh64(s"t-$i")).forall(k => g.mightContain(k) == s.mightContain(k)))
  }

  test("shard store: executor-side fold + probe, no whole-filter broadcast") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("shards").toString
    val s = new BloomShardStore(dir, buckets = 16, expectedPerBucket = 10000, fpp = 1e-7)
    val keys = (0 until 5000).map(i => s"url-$i")
    s.fold(keys.map(Hashing.xxh64).toDF("key64"), newVersion = 1L)
    assert(s.version == 1L)
    // probe: all folded keys seen, fresh keys not (fpp 1e-7)
    val probeIn = (keys ++ (0 until 5000).map(i => s"fresh-$i")).toDF("unique_key")
    val out = s.probe(probeIn, "unique_key")
    // the probe plan repartitions on the key bucket — no broadcast of filter state
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Broadcast"), plan)
    val rows = out.collect().map(r => r.getString(0) -> r.getBoolean(r.length - 1)).toMap
    assert(keys.forall(rows(_)))
    assert((0 until 5000).forall(i => !rows(s"fresh-$i")))
    // incremental fold: a second generation adds more keys, old ones persist
    s.fold(Seq(Hashing.xxh64("late-1")).toDF("key64"), newVersion = 2L)
    assert(s.mightContain(Hashing.xxh64("late-1")))
    assert(s.mightContain(Hashing.xxh64("url-17")))
    // reload from disk (resume)
    val re = BloomShardStore.openOrCreate(dir, 0, 0, 0)
    assert(re.buckets == 16 && re.version == 2L)
    assert(re.mightContain(Hashing.xxh64("url-4999")))
  }

  test("shard cache keeps one filter per bucket across fold versions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("shardcache").toString
    val buckets = 4
    val s = new BloomShardStore(dir, buckets, expectedPerBucket = 1000, fpp = 1e-5)
    (1 to 5).foreach { v =>
      val keys = (0 until 200).map(i => s"v$v-$i")
      s.fold(keys.map(Hashing.xxh64).toDF("key64"), newVersion = v.toLong)
      // each probe loads this version's shards into the executor cache
      val seen = s.probe(keys.toDF("unique_key"), "unique_key").filter("__seen").count()
      assert(seen == keys.size)
    }
    val cached = BloomShardStore.ShardCache.cachedShards(dir)
    assert(cached <= buckets, s"$cached cached filters for $buckets buckets after 5 folds")
  }

  test("shard store: frontier crash-replay folds deltas committed after the last fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("bloomresume").toString
    def cand(ks: Seq[String]) = ks.zipWithIndex
      .map { case (k, i) => (k, s"https://x.com/$k", "x.com", null.asInstanceOf[String], "GET", 0, false, i.toLong) }
      .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order")
    val store = new graft.queue.FrontierStore(spark, root, bloomDedup = true, bloomBuckets = 8)
    store.addBatch(cand(Seq("a", "b")))
    // simulate a crash between the manifest write and the shard fold by
    // rolling the version file back one batch
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/bloom/version"), "0")
    // a resumed store replays the missing fold, so re-adding "a" dedups
    val store2 = new graft.queue.FrontierStore(spark, root, bloomDedup = true, bloomBuckets = 8)
    val report = store2.addBatch(cand(Seq("a", "c"))).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(report("a") === true) // replayed into the shards
    assert(report("c") === false)
    assert(store2.state().filter(col("unique_key") === "a").count() == 1)
  }

  test("shard store: the driver-side seed probe admits exactly the keys the executor probe admits") {
    import spark.implicits._
    def cand(ks: Seq[String]) = ks.zipWithIndex
      .map { case (k, i) => (k, s"https://x.com/$k", "x.com", null.asInstanceOf[String], "GET", 0, false, i.toLong) }
      .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order")
    def keysOf(st: graft.queue.FrontierStore): Set[String] =
      st.state().select("unique_key").collect().map(_.getString(0)).toSet
    val first = (0 until 300).map(i => s"seed-$i")
    val again = (150 until 450).map(i => s"seed-$i") // half already seen
    val roots = Seq.fill(2)(Files.createTempDirectory("seedprobe").toString)
    val Seq(viaExecutor, viaDriver) = roots.map { r =>
      val st = new graft.queue.FrontierStore(spark, r, bloomDedup = true, bloomBuckets = 8)
      st.addBatch(cand(first))
      st
    }
    val known = viaDriver.knownKeys(again).get
    // the same answer the executor-side probe gives at this shard version
    val probed = BloomShardStore.openOrCreate(s"${roots(1)}/bloom", 0, 0, 0)
      .probe(again.toDF("unique_key"), "unique_key")
      .collect().filter(_.getBoolean(1)).map(_.getString(0)).toSet
    assert(known == probed)
    assert(known == (150 until 300).map(i => s"seed-$i").toSet)
    // re-adding every seed, or only the driver-unseen ones, admits the same keys
    viaExecutor.addBatch(cand(again))
    viaDriver.addBatch(cand(again.filterNot(known)))
    assert(keysOf(viaExecutor) == keysOf(viaDriver))
    assert(keysOf(viaDriver).size == 450)
    // exact mode has no driver-side answer
    val exact = new graft.queue.FrontierStore(spark, Files.createTempDirectory("seedexact").toString)
    assert(exact.knownKeys(again).isEmpty)
  }

  /** Bytes under `dir`, recursively. */
  private def treeBytes(dir: String): Long = {
    val files = Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally files.close()
  }

  private def shardFiles(dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".bloom")).toSeq

  private def runVersions(dir: String): Seq[Long] =
    Files.list(java.nio.file.Paths.get(dir, "runs")).iterator.asScala.map(_.getFileName.toString)
      .collect { case n if n.endsWith(".keys") => n.split("-")(1).toLong }.toSeq

  private def bytesOf(f: org.apache.spark.util.sketch.BloomFilter): Seq[Byte] =
    BloomShardStore.serialize(f).toSeq

  test("shard store: a fold appends its keys as runs and rewrites no shard") {
    import spark.implicits._
    val dir = Files.createTempDirectory("shardfold").toString
    val s = new BloomShardStore(dir, buckets = 16, expectedPerBucket = 10000, fpp = 1e-7)
    val before = treeBytes(dir)
    val keys = (0 until 200).map(i => Hashing.xxh64(s"fold-$i"))
    s.fold(keys.toDF("key64"), newVersion = 1L)
    assert(shardFiles(dir).isEmpty, shardFiles(dir))
    // 8 bytes a key plus the version marker — not one filter per touched bucket
    val grown = treeBytes(dir) - before
    assert(grown <= 200 * 8 + 64, s"bloom/ grew by $grown bytes for 200 keys")
    assert(keys.forall(s.mightContain(_)))
  }

  test("shard store: the cached filter at version v is bit-identical to direct puts of the keys through v") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.util.sketch.BloomFilter
    val dir = Files.createTempDirectory("shardbits").toString
    val s = new BloomShardStore(dir, buckets = 4, expectedPerBucket = 1000, fpp = 1e-5)
    val gens = (1 to 4).map(v => (0 until 150).map(i => Hashing.xxh64(s"g$v-$i")))
    def direct(bucket: Int, through: Int): Seq[Byte] = {
      val f = BloomFilter.create(1000, 1e-5)
      gens.take(through).flatten.filter(s.bucketOf(_) == bucket).foreach(f.putLong)
      bytesOf(f)
    }
    def check(v: Int): Unit = (0 until 4).foreach { b =>
      assert(bytesOf(BloomShardStore.ShardCache.get(s, b, v)) == direct(b, v), s"bucket $b at version $v")
    }
    s.fold(gens(0).toDF("key64"), 1L)
    s.fold(gens(1).toDF("key64"), 2L)
    s.fold(gens(2).toDF("key64"), 3L)
    check(2) // built from runs 1 and 2; run 3 is above the asked version
    check(3) // caught up from the cached version-2 filter with run 3
    s.foldCounting(gens(3).toDF("key64"), lit(true), Nil, 4L, merge = true)
    assert(s.mergedThrough == 4L && shardFiles(dir).size == 4)
    check(4) // rebuilt from the merged base shards
    s.dropMergedRuns()
    assert(runVersions(dir).isEmpty)
    // a fresh executor (no cached filter) reads the same bits from the base
    assert((0 until 4).forall(b => bytesOf(BloomShardStore.readShard(BloomShardStore.shardPath(dir, b))) == direct(b, 4)))
  }

  test("shard store: a run above the version is invisible until its fold is replayed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("shardreplay").toString
    val s = new BloomShardStore(dir, buckets = 8, expectedPerBucket = 1000, fpp = 1e-7)
    val early = (0 until 100).map(i => s"early-$i")
    s.fold(early.map(Hashing.xxh64).toDF("key64"), 1L)
    // a fold whose runs are durable but whose version move was lost
    s.fold(Seq(Hashing.xxh64("late")).toDF("key64"), 2L)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "version"), "1")
    assert(runVersions(dir).contains(2L))
    def probed(): Map[String, Boolean] = s.probe((early :+ "late").toDF("unique_key"), "unique_key")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(!s.mightContain(Hashing.xxh64("late")))
    val p1 = probed()
    assert(!p1("late") && early.forall(p1))
    // the replayed fold at that version succeeds and publishes the key
    s.fold(Seq(Hashing.xxh64("late")).toDF("key64"), 2L)
    assert(s.version == 2L)
    assert(s.mightContain(Hashing.xxh64("late")))
    val p2 = probed()
    assert(p2("late") && early.forall(p2))
  }

  test("shard store: a compacting commit merges the runs; the next commit's vacuum drops them") {
    import spark.implicits._
    def cand(ks: Seq[String]) = ks.zipWithIndex
      .map { case (k, i) => (k, s"https://x.com/$k", "x.com", null.asInstanceOf[String], "GET", 0, false, i.toLong) }
      .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order")
    val batches = (0 until 4).map(b => (b * 60 until b * 60 + 100).map(i => s"k-$i")) // overlapping
    val probeKeys = (0 until 400).map(i => s"k-$i") // seen and never-added keys
    val merging = Files.createTempDirectory("bloommerge").toString
    val plain = Files.createTempDirectory("bloomplain").toString
    val m = new graft.queue.FrontierStore(spark, merging, compactEvery = 3, bloomDedup = true, bloomBuckets = 8)
    val p = new graft.queue.FrontierStore(spark, plain, compactEvery = 1000, bloomDedup = true, bloomBuckets = 8)
    def sameAnswers(): Unit = {
      assert(m.knownKeys(probeKeys) == p.knownKeys(probeKeys))
      val bm = BloomShardStore.openOrCreate(s"$merging/bloom", 0, 0, 0)
      val bp = BloomShardStore.openOrCreate(s"$plain/bloom", 0, 0, 0)
      assert(bm.version == bp.version)
      (0 until 8).foreach { b =>
        val (fm, fp) = (BloomShardStore.ShardCache.get(bm, b, bm.version), BloomShardStore.ShardCache.get(bp, b, bp.version))
        assert((fm == null) == (fp == null) && (fm == null || bytesOf(fm) == bytesOf(fp)), s"bucket $b")
      }
    }
    batches.take(3).foreach { ks => m.addBatch(cand(ks)); p.addBatch(cand(ks)) }
    // the third commit compacted: the base shards hold every run through it
    val bloomDir = s"$merging/bloom"
    assert(BloomShardStore.openOrCreate(bloomDir, 0, 0, 0).mergedThrough == 3L)
    assert(shardFiles(bloomDir).nonEmpty && shardFiles(s"$plain/bloom").isEmpty)
    sameAnswers()
    m.addBatch(cand(batches(3))); p.addBatch(cand(batches(3)))
    // its deferred vacuum dropped the merged runs; only the newest remain
    assert(runVersions(bloomDir).nonEmpty && runVersions(bloomDir).forall(_ > 3L), runVersions(bloomDir))
    sameAnswers()
    assert(m.knownKeys(probeKeys).get == (0 until 280).map(i => s"k-$i").toSet)
  }

  test("shard store: an empty version file reopens as 0 and replays every committed key") {
    import spark.implicits._
    def cand(ks: Seq[String]) = ks.zipWithIndex
      .map { case (k, i) => (k, s"https://x.com/$k", "x.com", null.asInstanceOf[String], "GET", 0, false, i.toLong) }
      .toDF("unique_key", "url", "host", "label", "method", "depth", "forefront", "cand_order")
    val root = Files.createTempDirectory("bloomempty").toString
    new graft.queue.FrontierStore(spark, root, bloomDedup = true, bloomBuckets = 8).addBatch(cand(Seq("a", "b")))
    // a crash in the middle of an in-place rewrite leaves the file empty
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/bloom/version"), Array.emptyByteArray)
    val store2 = new graft.queue.FrontierStore(spark, root, bloomDedup = true, bloomBuckets = 8)
    val report = store2.addBatch(cand(Seq("a", "c"))).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(report("a") === true)
    assert(report("c") === false)
    assert(store2.state().count() == 3)
  }
}
