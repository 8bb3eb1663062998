package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Partition-local Bloom "URL-seen" shards (Q2, the north rule's 10^10
  * artery; SURVEY §7.4.3 / SCALE.md design — now implemented).
  *
  * One Bloom sketch per key-hash bucket (`bucketOf(key64)`), persisted as
  * one file per bucket. Neither the probe nor the fold ever materializes
  * the WHOLE filter in one place:
  *
  *   - probe(df): repartition df on the bucket column so every bucket's
  *     rows land in exactly one task, then mapPartitions — each task loads
  *     only the shard files for the buckets it holds (executor-cached per
  *     (dir, bucket), newest fold version only). At the 10^10 design point
  *     (≈42 bits/key at 1e-7 ≈ 52 GB total, 4096 buckets ≈ 13 MB/shard) a
  *     task touches a handful of shards; nothing is broadcast whole.
  *   - fold(keys): same repartition; each task merges its buckets' keys
  *     into the shard file via tmp-file + atomic rename. Bucket-to-task
  *     exclusivity makes concurrent shard writes impossible.
  *
  * A `version` file (the folded-through frontier batch id) invalidates
  * executor caches after each fold and lets a resumed job detect and
  * replay deltas committed after the last completed fold (bloom puts are
  * idempotent, so replay can safely over-approximate).
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

  Files.createDirectories(Paths.get(dir))
  writeMetaIfAbsent()

  def bucketOf(key64: Long): Int = (((key64 % buckets) + buckets) % buckets).toInt

  /** Folded-through batch id (0 = nothing folded yet). */
  def version: Long = {
    val p = Paths.get(dir, "version")
    if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
  }

  private def writeMetaIfAbsent(): Unit = {
    val p = Paths.get(dir, "meta")
    if (!Files.exists(p)) Files.writeString(p, s"$buckets,$expectedPerBucket,$fpp")
  }

  /** Adds a `__seen` boolean column: whether the key's shard (probably)
    * contains it. `keyCol` is a STRING column hashed with xxhash64 (same
    * hash as the frontier's key64). The input is repartitioned on the
    * bucket so each task probes only its own shards.
    */
  def probe(df: DataFrame, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val d = dir
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
          val bucket = (((key64 % b) + b) % b).toInt
          val shard = ShardCache.get(d, bucket, v)
          val seen = shard != null && shard.mightContainLong(key64)
          Row.fromSeq(r.toSeq :+ seen)
        }
      }(enc)
  }

  /** Merge `keys` (a single LONG key64 column) into the shards and bump the
    * version to `newVersion`. Each bucket's keys are folded by exactly one
    * task (bucket-exclusive repartition), written tmp-then-rename.
    */
  def fold(keys: DataFrame, newVersion: Long): Unit = {
    foldCounting(keys.select(col(keys.columns.head).as("key64")), lit(true), Nil, newVersion)
    ()
  }

  /** [[fold]] the `key64` values of the rows of `rows` where `admit` holds,
    * and count the rows by `groups` in the same job. Returns one row per
    * (task, group value): the group columns followed by a LONG count, so a
    * group may appear once per task (callers sum them). With no groups,
    * returns nothing.
    */
  def foldCounting(rows: DataFrame, admit: Column, groups: Seq[Column], newVersion: Long): Array[Row] = {
    val spark = rows.sparkSession
    val d = dir
    val b = buckets
    val exp = expectedPerBucket
    val f = fpp
    val projected = rows.select(
      (col("key64").cast("long").as("__k") +: coalesce(admit, lit(false)).as("__admit") +: groups): _*)
    val nGroups = groups.size
    val outSchema = StructType(projected.schema.fields.drop(2) :+ StructField("__n", LongType, nullable = false))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val nParts = math.min(b, math.max(1, spark.sparkContext.defaultParallelism))
    val counts = projected
      .repartition(nParts, pmod(col("__k"), lit(b)))
      .mapPartitions { it =>
        // group this task's keys by bucket, then touch each shard file once
        val byBucket = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
        val perGroup = mutable.HashMap.empty[Seq[Any], Long].withDefaultValue(0L)
        it.foreach { r =>
          if (r.getBoolean(1)) {
            val k = r.getLong(0)
            byBucket.getOrElseUpdate((((k % b) + b) % b).toInt, mutable.ArrayBuffer.empty[Long]) += k
          }
          if (nGroups > 0) {
            val g = (2 until 2 + nGroups).map(r.get)
            perGroup(g) += 1L
          }
        }
        byBucket.foreach { case (bucket, ks) =>
          val path = shardPath(d, bucket)
          val shard =
            if (Files.exists(path)) readShard(path)
            else BloomFilter.create(exp, f)
          ks.foreach(shard.putLong)
          writeShardAtomic(path, shard)
        }
        perGroup.iterator.map { case (g, n) => Row.fromSeq(g :+ n) }
      }(enc)
      .collect()
    Files.writeString(Paths.get(d, "version"), newVersion.toString)
    counts
  }

  /** Driver-side point probe: the answer [[probe]] gives for `key64` at
    * fold version `atVersion`, from the same shard cache.
    */
  def mightContain(key64: Long, atVersion: Long = version): Boolean = {
    val shard = ShardCache.get(dir, bucketOf(key64), atVersion)
    shard != null && shard.mightContainLong(key64)
  }

  /** Total bytes across shard files (scale telemetry). */
  def sizeBytes: Long =
    (0 until buckets).map(i => shardPath(dir, i)).filter(Files.exists(_)).map(Files.size).sum
}

object BloomShardStore {

  def shardPath(dir: String, bucket: Int): Path = Paths.get(dir, f"shard-$bucket%04d.bloom")

  def readShard(path: Path): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(Files.readAllBytes(path)))

  def writeShardAtomic(path: Path, shard: BloomFilter): Unit = {
    val out = new ByteArrayOutputStream()
    shard.writeTo(out)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.write(tmp, out.toByteArray)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Open an existing shard dir (meta file present) or create a new one. */
  def openOrCreate(dir: String, buckets: Int, expectedPerBucket: Long, fpp: Double): BloomShardStore = {
    val meta = Paths.get(dir, "meta")
    if (Files.exists(meta)) {
      val Array(b, e, f) = Files.readString(meta).split(",")
      new BloomShardStore(dir, b.toInt, e.toLong, f.toDouble)
    } else new BloomShardStore(dir, buckets, expectedPerBucket, fpp)
  }

  /** Executor-local shard cache: one filter per (dir, bucket), tagged with
    * the fold version it was read at — one disk read per executor per shard
    * per fold-generation, shared across tasks. Loading a newer version
    * replaces the older filter, so superseded generations do not pile up on
    * the heap. A request for an older version than the cached one is served
    * the cached filter: the shard file on disk is at least that new anyway,
    * and bloom folds only ever add keys.
    */
  object ShardCache {
    private final case class Entry(version: Long, shard: BloomFilter) // shard null = no file
    private val cache = new java.util.concurrent.ConcurrentHashMap[(String, Int), Entry]()

    def get(dir: String, bucket: Int, version: Long): BloomFilter = {
      val key = (dir, bucket)
      val hit = cache.get(key) // lock-free fast path: probes call this per row
      if (hit != null && hit.version >= version) hit.shard
      else
        cache.compute(key, { (_, old) =>
          if (old != null && old.version >= version) old
          else {
            val p = shardPath(dir, bucket)
            Entry(version, if (Files.exists(p)) readShard(p) else null)
          }
        }).shard
    }

    /** Filters cached for `dir` (one per bucket at most). */
    def cachedShards(dir: String): Int = cache.keySet.asScala.count(_._1 == dir)
  }
}
