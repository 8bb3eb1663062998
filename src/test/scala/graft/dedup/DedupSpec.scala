package graft.dedup

import graft.SparkSpec
import graft.canon.Hashing

import java.nio.file.Files

/** Bloom seen-filter (Q2) + cuckoo spill tier semantics. */
class DedupSpec extends SparkSpec {

  test("bloom: no false negatives, persists and reloads") {
    val f = BloomSeenFilter.create(buckets = 8, expectedPerBucket = 10000, fpp = 1e-7)
    val keys = (0 until 5000).map(i => Hashing.xxh64(s"key-$i"))
    keys.foreach(f.put)
    assert(keys.forall(f.mightContain))
    val dir = Files.createTempDirectory("bloom").toString
    f.save(dir)
    val g = BloomSeenFilter.load(dir).get
    assert(keys.forall(g.mightContain))
    // fresh keys: at fpp 1e-7 expect zero false positives in 100k probes
    val fp = (0 until 100000).count(i => g.mightContain(Hashing.xxh64(s"other-$i")))
    assert(fp == 0, s"unexpected false positives: $fp")
  }

  test("bloom: distributed build equals driver-side build") {
    import spark.implicits._
    val keys = (0L until 20000L).map(i => Hashing.xxh64(s"d-$i"))
    val df = keys.toDF("key64")
    val built = BloomSeenFilter.build(spark, df, buckets = 16, expectedPerBucket = 10000, fpp = 1e-6)
    assert(keys.forall(built.mightContain))
    val misses = (0 until 50000).count(i => built.mightContain(Hashing.xxh64(s"m-$i")))
    assert(misses < 5) // fpp 1e-6 over 50k probes
  }

  test("bloom: serialize round-trip") {
    val f = BloomSeenFilter.create(buckets = 4, expectedPerBucket = 1000, fpp = 1e-5)
    (0 until 500).foreach(i => f.put(Hashing.xxh64(s"s-$i")))
    val g = BloomSeenFilter.deserialize(BloomSeenFilter.serialize(f))
    assert((0 until 500).forall(i => g.mightContain(Hashing.xxh64(s"s-$i"))))
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

  test("cuckoo: insert, lookup, delete") {
    val f = CuckooFilter.forCapacity(10000)
    val keys = (0 until 8000).map(i => Hashing.xxh64(s"c-$i"))
    keys.foreach(k => assert(f.add(k)))
    assert(keys.forall(f.mightContain))
    // deletions actually remove (the property bloom can't provide)
    keys.take(4000).foreach(k => assert(f.remove(k)))
    val stillThere = keys.take(4000).count(f.mightContain)
    // fingerprint collisions may keep a few "present"; the bulk must be gone
    assert(stillThere < 40, s"deletion ineffective: $stillThere of 4000 still present")
    assert(keys.drop(4000).forall(f.mightContain))
    assert(f.size == 4000)
  }

  test("cuckoo: serialize round-trip") {
    val f = CuckooFilter.forCapacity(1000)
    (0 until 800).foreach(i => f.add(Hashing.xxh64(s"r-$i")))
    val g = CuckooFilter.deserialize(f.serialize())
    assert((0 until 800).forall(i => g.mightContain(Hashing.xxh64(s"r-$i"))))
    assert(g.size == f.size)
  }

  test("cuckoo: low false-positive rate on fresh keys") {
    val f = CuckooFilter.forCapacity(10000)
    (0 until 8000).foreach(i => f.add(Hashing.xxh64(s"c-$i")))
    val fp = (0 until 100000).count(i => f.mightContain(Hashing.xxh64(s"fresh-$i")))
    // 16-bit fingerprints, 2x4 slots: theoretical FPR ~ 8/2^16 ~ 0.012%
    assert(fp < 100, s"fp rate too high: $fp / 100000")
  }
}
