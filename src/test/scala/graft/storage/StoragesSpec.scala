package graft.storage

import java.nio.file.Files

import graft.SparkSpec

/** Opener-facade semantics (reference `storages/_storage_instance_manager.py`):
  * selector validation, default alias, instance caching, name/alias
  * namespace separation, per-backend instantiation.
  */
class StoragesSpec extends SparkSpec {

  private def fresh(backend: String): Storages =
    new Storages(spark, Files.createTempDirectory("storages").toString, backend)

  test("no selector opens the reserved __default__ alias; repeated opens return the same instance") {
    for (backend <- Seq("memory", "fs", "sql")) {
      val st = fresh(backend)
      val a = st.openDataset()
      val b = st.openDataset()
      assert(a eq b, s"$backend: default dataset cached")
      assert(st.openKeyValueStore() eq st.openKeyValueStore(), backend)
      assert(st.openRequestQueue() eq st.openRequestQueue(), backend)
      // a named open is a DIFFERENT instance from the default
      val named = st.openDataset(name = Some("results"))
      assert(!(named eq a), backend)
      assert(st.openDataset(name = Some("results")) eq named, backend)
    }
  }

  test("open by id resolves previously created instances") {
    val st = fresh("memory")
    val d = st.openDataset(name = Some("by-id"))
    assert(st.openDataset(id = Some(d.id)) eq d)
    intercept[IllegalArgumentException](st.openDataset(id = Some("nope")))
  }

  test("selector validation: too many kwargs, reserved and invalid names, invalid aliases") {
    val st = fresh("memory")
    intercept[IllegalArgumentException](
      st.openDataset(name = Some("a"), alias = Some("b")))
    intercept[IllegalArgumentException](st.openDataset(name = Some("__default__")))
    intercept[IllegalArgumentException](st.openDataset(name = Some("-leading")))
    intercept[IllegalArgumentException](st.openDataset(name = Some("trailing-")))
    intercept[IllegalArgumentException](st.openDataset(name = Some("no_underscores")))
    st.openDataset(name = Some("ok-name-1")) // valid
    intercept[IllegalArgumentException](st.openKeyValueStore(alias = Some("a/b")))
    intercept[IllegalArgumentException](st.openKeyValueStore(alias = Some("..")))
    st.openKeyValueStore(alias = Some("run_scope.ok")) // aliases allow _ and mid dots
  }

  test("name and alias namespaces must not collide") {
    val st = fresh("memory")
    st.openDataset(name = Some("shared"))
    intercept[IllegalArgumentException](st.openDataset(alias = Some("shared")))
    st.openKeyValueStore(alias = Some("kv"))
    intercept[IllegalArgumentException](st.openKeyValueStore(name = Some("kv")))
    // separate kinds do not collide
    st.openRequestQueue(name = Some("shared"))
  }

  test("fs backend: a second manager over the same root reopens persisted named storages") {
    val root = Files.createTempDirectory("storages-fs").toString
    val st1 = new Storages(spark, root, "fs")
    st1.openDataset(name = Some("persist")).pushData(Seq("""{"v":1}"""))
    st1.openKeyValueStore(name = Some("persist")).setJson("k", """{"v":2}""")

    val st2 = new Storages(spark, root, "fs")
    val ds = st2.openDataset(name = Some("persist"))
    assert(ds.getData().count == 1, "named dataset persists across managers")
    assert(st2.openKeyValueStore(name = Some("persist")).getValue("k").map(_.asString).contains("""{"v":2}"""))
  }

  test("backend families produce the matching client types") {
    val mem = fresh("memory")
    assert(mem.openDataset().isInstanceOf[MemoryDatasetClient])
    assert(mem.openRequestQueue().isInstanceOf[graft.queue.MemoryRequestQueueClient])
    assert(mem.openKeyValueStore().isInstanceOf[MemoryKeyValueStoreClient])
    val fs = fresh("fs")
    assert(fs.openDataset().isInstanceOf[FileSystemDatasetClient])
    assert(fs.openRequestQueue().isInstanceOf[graft.queue.FileSystemRequestQueueClient])
    assert(fs.openKeyValueStore().isInstanceOf[FileSystemKeyValueStoreClient])
    val sql = fresh("sql")
    assert(sql.openDataset().isInstanceOf[SqlDatasetClient])
    assert(sql.openRequestQueue().isInstanceOf[graft.queue.SqlRequestQueueClient])
    assert(sql.openKeyValueStore().isInstanceOf[SqlKeyValueStoreClient])
    val spk = fresh("spark")
    assert(spk.openDataset().isInstanceOf[SparkDatasetClient])
    assert(spk.openRequestQueue().isInstanceOf[graft.queue.FrontierQueueClient])
    assert(spk.openKeyValueStore().isInstanceOf[SnapshotKeyValueStoreClient])
  }

  test("reopening a persisted key-value store runs one Spark job (no schema inference)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import java.util.concurrent.atomic.AtomicInteger
    val root = Files.createTempDirectory("kvs-reopen").toString
    val kvs = new KeyValueStore(spark, root)
    kvs.setJson("STATE", """{"n":1}""")
    kvs.setValue("BLOB", Array[Byte](1, 2, 3))
    kvs.persist()
    val starts = new AtomicInteger()
    val ends = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val reopened =
      try {
        val r = new KeyValueStore(spark, root)
        val deadline = System.currentTimeMillis() + 20000L
        while ((starts.get == 0 || starts.get != ends.get) && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        Thread.sleep(300) // a late job start would still land here
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(starts.get == 1, s"${starts.get} jobs to reopen a key-value store")
    assert(reopened.getJson("STATE").contains("""{"n":1}"""))
    assert(reopened.getValue("BLOB").exists(_.sameElements(Array[Byte](1, 2, 3))))
    assert(reopened.getContentType("BLOB").contains("application/octet-stream"))
  }
}
