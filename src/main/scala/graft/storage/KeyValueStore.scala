package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Key-value store (SURVEY.md D12-D13), mirroring the reference
  * /root/reference/src/crawlee/storages/_key_value_store.py:152-305:
  * set/get/delete/iterate/recordExists with content-typed values, plus
  * `useState`-style auto-persisted snapshots (RecoverableState,
  * _utils/recoverable_state.py) — here a snapshot-per-commit parquet table
  * with an atomic manifest, so a killed job resumes from the last commit.
  *
  * Values are stored as (key, content_type, value BINARY); JSON payloads use
  * content_type "application/json".
  */
final class KeyValueStore(spark: SparkSession, root: String) {

  /** C6 storage id — deterministic from identity (see `Ids`). */
  val id: String = graft.canon.Ids.deterministicObjectId(s"kvs|$root")

  private val manifestPath = Paths.get(s"$root/kv-manifest")
  Files.createDirectories(Paths.get(root))

  private var version: Long =
    if (Files.exists(manifestPath)) new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8).trim.toLong
    else -1L

  // driver-held materialized map (KVS records are small: checkpoints,
  // statistics, cursors — the reference holds them in memory too)
  private val records = scala.collection.mutable.LinkedHashMap.empty[String, (String, Array[Byte])]
  if (version >= 0) {
    // the fixed record schema: no schema-inference job before the collect
    spark.read.schema(KeyValueStore.RecordSchema).parquet(s"$root/v$version").collect().foreach { r =>
      records(r.getString(0)) = (r.getString(1), r.getAs[Array[Byte]](2))
    }
  }

  def setValue(key: String, value: Array[Byte], contentType: String = "application/octet-stream"): Unit =
    records(key) = (contentType, value)

  def setJson(key: String, json: String): Unit =
    setValue(key, json.getBytes(StandardCharsets.UTF_8), "application/json")

  def getValue(key: String): Option[Array[Byte]] = records.get(key).map(_._2)
  def getContentType(key: String): Option[String] = records.get(key).map(_._1)
  def getJson(key: String): Option[String] = getValue(key).map(new String(_, StandardCharsets.UTF_8))
  def recordExists(key: String): Boolean = records.contains(key)
  def delete(key: String): Unit = records.remove(key)
  def iterateKeys(): Seq[String] = records.keys.toSeq

  // ---- auto-saved values (reference get_auto_saved_value /
  // persist_autosaved_values, _key_value_store.py:262-311, backed by
  // RecoverableState, _utils/recoverable_state.py): a mutable map handed to
  // the caller, cached per key so repeat calls share one instance, loaded
  // from the persisted record when present (the default is used only when
  // no record exists), and written back on persistAutosavedValues().
  private val autosaved =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.Map[String, Any]]

  /** Get a value that is automatically saved on [[persistAutosavedValues]].
    * Mutations to the returned map persist across restarts once saved.
    */
  def getAutoSavedValue(
      key: String,
      defaultValue: Map[String, Any] = Map.empty): scala.collection.mutable.Map[String, Any] =
    autosaved.getOrElseUpdate(key, {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      getJson(key) match {
        case Some(j) => graft.util.Json.obj(graft.util.Json.parse(j)).foreach { case (k, v) => m(k) = v }
        case None => defaultValue.foreach { case (k, v) => m(k) = v }
      }
      m
    })

  /** Write every auto-saved value back as a JSON record and commit a
    * snapshot (the reference's persist_autosaved_values forced save).
    */
  def persistAutosavedValues(): Unit =
    if (autosaved.nonEmpty) {
      autosaved.foreach { case (k, m) => setJson(k, graft.util.Json.render(m)) }
      persist()
    }

  def asDataFrame: DataFrame = {
    import spark.implicits._
    records.toSeq.map { case (k, (ct, v)) => (k, ct, v) }.toDF("key", "content_type", "value")
  }

  /** Persist a snapshot (the PERSIST_STATE event analogue): write-new then
    * atomic manifest swap; old versions remain for time travel until purged.
    */
  def persist(): Long = {
    val next = version + 1
    asDataFrame.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/v$next")
    val tmp = manifestPath.resolveSibling("kv-manifest.tmp")
    Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    version = next
    next
  }
}

object KeyValueStore {

  /** The persisted record schema (see [[KeyValueStore.asDataFrame]]). */
  val RecordSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("key STRING, content_type STRING, value BINARY")
}
