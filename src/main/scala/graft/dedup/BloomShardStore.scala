package graft.dedup

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

import java.io.ByteArrayInputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Partition-local Bloom "URL-seen" shards (Q2, the north rule's 10^10
  * artery; SURVEY §7.4.3 / SCALE.md design — now implemented).
  *
  * One Bloom sketch per key-hash bucket (`bucketOf(key64)`). A bucket's
  * filter at fold version v is its BASE shard file (every key merged
  * through the `merged` marker M) plus the bucket's keys from the RUN
  * files tagged in (M, v]. Neither the probe nor the fold ever
  * materializes the WHOLE filter in one place:
  *
  *   - fold(keys): repartition on the bucket column; each task appends the
  *     keys it admits as ONE immutable run `runs/run-<version>-<task>.keys`
  *     (8 bytes a key, tmp-file + atomic rename). No shard is read or
  *     written, so a commit's dedup write is O(admitted keys) — the
  *     reference's per-key BF.ADD, not a rewrite of every shard a key
  *     touches.
  *   - merge (a fold with `merge = true`, ridden by the frontier's
  *     compaction): the same pass carries one marker row per bucket, so
  *     each bucket lands in exactly one task, which rewrites its base shard
  *     ONCE with every run in (M, v] folded in. The `merged` marker then
  *     moves to v and [[dropMergedRuns]] deletes the runs it covers.
  *     Bucket-to-task exclusivity makes concurrent shard writes impossible.
  *   - probe(df): same repartition; each task asks [[ShardCache]] for its
  *     buckets' filters — built from base + runs once per executor, then
  *     caught up run by run as the version moves. At the 10^10 design
  *     point (≈42 bits/key at 1e-7 ≈ 52 GB total, 4096 buckets ≈ 13 MB a
  *     shard) a task touches a handful of shards; nothing is broadcast
  *     whole.
  *
  * The `version` file (the folded-through frontier batch id) moves only
  * after a fold's runs are durable: a run tagged above it is invisible,
  * and a resumed job replays the deltas committed after it (bloom puts are
  * idempotent, so the replay can safely over-approximate).
  *
  * Semantics follow the reference's Redis bloom dedup mode
  * (_redis/_request_queue_client.py:269-339, default FPR 1e-7): a probe
  * hit is treated as already-seen.
  */
final class BloomShardStore(
    val dir: String,
    val buckets: Int,
    val expectedPerBucket: Long,
    val fpp: Double
) extends Serializable {

  import BloomShardStore._

  Files.createDirectories(runsDir(dir))
  writeMetaIfAbsent()

  def bucketOf(key64: Long): Int = (((key64 % buckets) + buckets) % buckets).toInt

  /** Folded-through batch id (0 = nothing folded yet). */
  def version: Long = readMarker(dir, "version")

  /** Batch id through which the base shards hold every run. */
  def mergedThrough: Long = readMarker(dir, "merged")

  private def newFilter: BloomFilter = BloomFilter.create(expectedPerBucket, fpp)

  private def writeMetaIfAbsent(): Unit = {
    val p = Paths.get(dir, "meta")
    if (!Files.exists(p)) Files.writeString(p, s"$buckets,$expectedPerBucket,$fpp")
  }

  /** Run file names tagged in (`from`, `to`]. */
  private def runsIn(from: Long, to: Long): Seq[String] = {
    val names = Files.list(runsDir(dir))
    try names.iterator.asScala.map(_.getFileName.toString)
      .filter(n => runVersion(n).exists(v => v > from && v <= to)).toSeq
    finally names.close()
  }

  /** Adds a `__seen` boolean column: whether the key's shard (probably)
    * contains it. `keyCol` is a STRING column hashed with xxhash64 (same
    * hash as the frontier's key64). The input is repartitioned on the
    * bucket so each task probes only its own shards.
    */
  def probe(df: DataFrame, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val store = this
    val b = buckets
    val v = version
    val outSchema = StructType(df.schema.fields :+ StructField("__seen", BooleanType, nullable = false))
    val keyIdx = df.schema.fieldIndex(keyCol)
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val nParts = math.min(b, math.max(1, spark.sparkContext.defaultParallelism))
    df.repartition(nParts, pmod(xxhash64(col(keyCol)), lit(b)))
      .mapPartitions { rows =>
        rows.map { r =>
          val key64 = graft.canon.Hashing.xxh64(r.getString(keyIdx))
          val shard = ShardCache.get(store, store.bucketOf(key64), v)
          val seen = shard != null && shard.mightContainLong(key64)
          Row.fromSeq(r.toSeq :+ seen)
        }
      }(enc)
  }

  /** Append `keys` (a single LONG key64 column) as runs and bump the
    * version to `newVersion`. Each bucket's keys are folded by exactly one
    * task (bucket-exclusive repartition), written tmp-then-rename.
    */
  def fold(keys: DataFrame, newVersion: Long): Unit = {
    foldCounting(keys.select(col(keys.columns.head).as("key64")), lit(true), Nil, newVersion)
    ()
  }

  /** [[fold]] the `key64` values of the rows of `rows` where `admit` holds,
    * and count the rows by `groups` in the same job. The counts are one
    * row per (task, group value): the group columns followed by a LONG
    * count, so a group may appear once per task (callers sum them); with
    * no groups there are none. `merge` also rewrites every bucket's base
    * shard with all runs through `newVersion` in the same job, then moves
    * the merged-through marker.
    */
  def foldCounting(
      rows: DataFrame,
      admit: Column,
      groups: Seq[Column],
      newVersion: Long,
      merge: Boolean = false
  ): Folded = {
    val spark = rows.sparkSession
    val store = this
    val b = buckets
    val projected = rows.select(
      (col("key64").cast("long").as("__k") +: coalesce(admit, lit(false)).as("__admit") +:
        lit(false).as("__mark") +: groups): _*)
    // merge: one marker row per bucket puts every bucket in some task
    val input =
      if (!merge) projected
      else projected.unionByName(spark.range(b).select(
        (col("id").as("__k") +: lit(false).as("__admit") +: lit(true).as("__mark") +:
          projected.schema.fields.drop(3).map(f => lit(null).cast(f.dataType).as(f.name)).toSeq): _*))
    val toMerge = if (merge) runsIn(mergedThrough, newVersion) else Nil
    val nGroups = groups.size
    val outSchema = StructType(projected.schema.fields.drop(3) :+ StructField("__n", LongType, nullable = false))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val nParts = math.min(b, math.max(1, spark.sparkContext.defaultParallelism))
    val sc = spark.sparkContext
    val (keysAcc, bytesAcc, shardsAcc) = (sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
    val counts = input
      .repartition(nParts, pmod(col("__k"), lit(b)))
      .mapPartitions { it =>
        val admitted = mutable.ArrayBuilder.make[Long]
        val marked = mutable.ArrayBuffer.empty[Int]
        val perGroup = mutable.HashMap.empty[Seq[Any], Long].withDefaultValue(0L)
        it.foreach { r =>
          if (r.getBoolean(2)) marked += r.getLong(0).toInt
          else {
            if (r.getBoolean(1)) admitted += r.getLong(0)
            if (nGroups > 0) perGroup((3 until 3 + nGroups).map(r.get)) += 1L
          }
        }
        val keys = admitted.result()
        if (keys.nonEmpty) {
          keysAcc.add(keys.length)
          bytesAcc.add(store.writeRun(newVersion, TaskContext.getPartitionId(), keys))
        }
        if (marked.nonEmpty) {
          val own = keys.groupBy(store.bucketOf)
          marked.foreach { bucket =>
            if (store.mergeShard(bucket, toMerge, own.getOrElse(bucket, Array.emptyLongArray))) shardsAcc.add(1)
          }
        }
        perGroup.iterator.map { case (g, n) => Row.fromSeq(g :+ n) }
      }(enc)
      .collect()
    writeMarker(dir, "version", newVersion)
    if (merge) writeMarker(dir, "merged", newVersion)
    Folded(counts, keysAcc.sum, bytesAcc.sum, shardsAcc.sum)
  }

  /** Writes `keys` as the run of fold task `part` at `version`; returns
    * its size. A retried attempt replaces its own run with the same keys.
    */
  private def writeRun(version: Long, part: Int, keys: Array[Long]): Long = {
    val buf = ByteBuffer.allocate(keys.length * 8)
    keys.foreach(buf.putLong)
    writeAtomic(runsDir(dir).resolve(f"run-$version%012d-$part%05d.keys"), buf.array())
    keys.length * 8L
  }

  /** Rewrites `bucket`'s base shard with its keys from `runs` and `own`;
    * false when no key was added (the shard is left as it is).
    */
  private def mergeShard(bucket: Int, runs: Seq[String], own: Array[Long]): Boolean = {
    val path = shardPath(dir, bucket)
    var shard: BloomFilter = null
    var added = false
    def put(keys: Array[Long]): Unit = if (keys.nonEmpty) {
      if (shard == null) shard = if (Files.exists(path)) readShard(path) else newFilter
      keys.foreach(shard.putLong)
      added = true
    }
    runs.foreach(n => put(RunCache.keys(this, n).getOrElse(bucket, Array.emptyLongArray)))
    put(own)
    if (added) writeAtomic(path, serialize(shard))
    added
  }

  /** Deletes the runs the base shards already hold (at or below the
    * merged-through version); returns how many.
    */
  def dropMergedRuns(): Int = {
    val gone = runsIn(Long.MinValue, mergedThrough)
    gone.foreach(n => Files.deleteIfExists(runsDir(dir).resolve(n)))
    gone.size
  }

  /** Driver-side point probe: the answer [[probe]] gives for `key64` at
    * fold version `atVersion`, from the same shard cache.
    */
  def mightContain(key64: Long, atVersion: Long = version): Boolean = {
    val shard = ShardCache.get(this, bucketOf(key64), atVersion)
    shard != null && shard.mightContainLong(key64)
  }
}

object BloomShardStore {

  /** One fold's result: the per-task group counts of [[BloomShardStore.foldCounting]],
    * the keys it admitted, the run bytes it wrote, and the shards it
    * rewrote (0 unless it merged).
    */
  final case class Folded(counts: Array[Row], keys: Long, runBytes: Long, shardsRewritten: Long)

  def shardPath(dir: String, bucket: Int): Path = Paths.get(dir, f"shard-$bucket%04d.bloom")

  private def runsDir(dir: String): Path = Paths.get(dir, "runs")

  private val RunName = """run-(\d+)-\d+\.keys""".r

  private def runVersion(name: String): Option[Long] = name match {
    case RunName(v) => Some(v.toLong)
    case _ => None
  }

  def readShard(path: Path): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(Files.readAllBytes(path)))

  def serialize(shard: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    shard.writeTo(out)
    out.toByteArray
  }

  /** tmp-file + atomic rename; the tmp name is unique per writer, so
    * concurrent attempts never interleave their bytes.
    */
  private def writeAtomic(path: Path, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** A batch-id marker file; missing, empty or garbled reads as 0, which
    * only makes readers replay or re-read more (puts are idempotent).
    */
  private def readMarker(dir: String, name: String): Long = {
    val p = Paths.get(dir, name)
    if (!Files.exists(p)) 0L
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLongOption.getOrElse(0L)
  }

  private def writeMarker(dir: String, name: String, v: Long): Unit =
    writeAtomic(Paths.get(dir, name), v.toString.getBytes(StandardCharsets.UTF_8))

  /** Open an existing shard dir (meta file present) or create a new one. */
  def openOrCreate(dir: String, buckets: Int, expectedPerBucket: Long, fpp: Double): BloomShardStore = {
    val meta = Paths.get(dir, "meta")
    if (Files.exists(meta)) {
      val Array(b, e, f) = Files.readString(meta).split(",")
      new BloomShardStore(dir, b.toInt, e.toLong, f.toDouble)
    } else new BloomShardStore(dir, buckets, expectedPerBucket, fpp)
  }

  /** Executor-local parsed runs: each run file is read once per executor,
    * its keys grouped by bucket. Runs the base shards already hold are
    * evicted when a filter is rebuilt past them.
    */
  private object RunCache {
    private val parsed = new java.util.concurrent.ConcurrentHashMap[(String, String), Map[Int, Array[Long]]]()

    def keys(s: BloomShardStore, name: String): Map[Int, Array[Long]] =
      parsed.computeIfAbsent((s.dir, name), { _ =>
        val buf = ByteBuffer.wrap(Files.readAllBytes(runsDir(s.dir).resolve(name)))
        Array.fill(buf.remaining / 8)(buf.getLong).groupBy(s.bucketOf)
      })

    def evictThrough(dir: String, merged: Long): Unit =
      parsed.keySet.removeIf { case (d, n) => d == dir && runVersion(n).exists(_ <= merged) }

    def evict(dir: String): Unit = parsed.keySet.removeIf(_._1 == dir)
  }

  /** Drops every filter and parsed run cached in this JVM for the shard
    * store at `dir` (a closed or dropped store). On a cluster each
    * executor keeps its own caches; this clears the driver's JVM, which in
    * local mode is every executor.
    */
  def evict(dir: String): Unit = {
    ShardCache.evict(dir)
    RunCache.evict(dir)
  }

  /** Executor-local filter cache: one filter per (dir, bucket), tagged with
    * the fold version it holds — base shard plus runs, shared across
    * tasks. A newer version catches the cached filter up with the runs it
    * lacks (the filter is extended in place, so superseded generations do
    * not pile up on the heap); after a merge has passed it, the filter is
    * rebuilt from the new base shard. A request for an older version than
    * the cached one is served the cached filter: bloom folds only ever add
    * keys. The filter at version v holds exactly the keys folded through v,
    * so it is bit-identical to `BloomFilter.create` plus those puts.
    */
  object ShardCache {
    private final case class Entry(version: Long, shard: BloomFilter) // shard null = no keys yet
    private val cache = new java.util.concurrent.ConcurrentHashMap[(String, Int), Entry]()

    def get(s: BloomShardStore, bucket: Int, version: Long): BloomFilter = {
      val key = (s.dir, bucket)
      val hit = cache.get(key) // lock-free fast path: probes call this per row
      if (hit != null && hit.version >= version) hit.shard
      else
        cache.compute(key, { (_, old) =>
          if (old != null && old.version >= version) old else load(s, bucket, old, version)
        }).shard
    }

    private def load(s: BloomShardStore, bucket: Int, old: Entry, version: Long): Entry = {
      val merged = s.mergedThrough
      // the cached filter lacks only runs above its version, which still
      // exist while no merge has passed it; otherwise start from the base
      val (from, start) =
        if (old != null && old.version >= merged) (old.version, old.shard)
        else {
          RunCache.evictThrough(s.dir, merged)
          val p = shardPath(s.dir, bucket)
          (merged, if (Files.exists(p)) readShard(p) else null)
        }
      var shard = start
      s.runsIn(from, version).foreach { n =>
        RunCache.keys(s, n).get(bucket).foreach { ks =>
          if (shard == null) shard = s.newFilter
          ks.foreach(shard.putLong)
        }
      }
      Entry(math.max(from, version), shard)
    }

    /** Filters cached for `dir` (one per bucket at most). */
    def cachedShards(dir: String): Int = cache.keySet.asScala.count(_._1 == dir)

    private[BloomShardStore] def evict(dir: String): Unit = cache.keySet.removeIf(_._1 == dir)
  }
}
