package graft.online

import graft.SparkSpec
import graft.api.{FeatureStore, RepoConfig}
import graft.core._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import java.nio.file.Files
import java.sql.Timestamp

/** Materialize → online lookup loop (reference M5/M6), for both the
  * in-memory and parquet-backed stores.
  */
class OnlineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val featPath: String = {
    val dir = Files.createTempDirectory("graft_online").toString + "/f"
    Seq(
      ("a", "2024-01-01 00:00:00", 1.0),
      ("a", "2024-01-05 00:00:00", 5.0),   // latest in range for a
      ("a", "2024-02-01 00:00:00", 99.0),  // outside range
      ("b", "2024-01-03 00:00:00", 3.0)
    ).toDF("key", "s", "value")
      .select(col("key"), to_timestamp(col("s")).as("event_ts"), col("value"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def fixture(store: OnlineStore): FeatureStore = {
    val fs = new FeatureStore(spark, RepoConfig("t"), new InMemoryRegistry, store)
    fs.applyObjects(Seq(
      Entity("key", Seq("key"), ValueType.STRING),
      FeatureView("fv", Seq("key"), Seq(Feature("value", DoubleType)),
        SparkSource("s", featPath, timestampField = "event_ts"))))
    fs.materialize(
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-31 00:00:00"), Seq("fv"))
    fs
  }

  private def lookupValue(fs: FeatureStore, key: String): Option[Any] =
    fs.getOnlineFeatures(Seq(Map("key" -> key)), Seq("fv:value"))
      .head.get("fv__value").filter(_ != null)

  test("in-memory store serves latest-in-range vectors") {
    val fs = fixture(new InMemoryOnlineStore)
    assert(lookupValue(fs, "a") === Some(5.0))
    assert(lookupValue(fs, "b") === Some(3.0))
    assert(lookupValue(fs, "zz") === None)
  }

  test("parquet store round-trips through disk") {
    val root = Files.createTempDirectory("graft_kv").toString
    val fs = fixture(new ParquetOnlineStore(spark, root))
    assert(lookupValue(fs, "a") === Some(5.0))
    // fresh store instance reloads from disk
    val fs2 = new FeatureStore(spark, RepoConfig("t"), new InMemoryRegistry,
      new ParquetOnlineStore(spark, root))
    fs2.applyObjects(Seq(
      Entity("key", Seq("key"), ValueType.STRING),
      FeatureView("fv", Seq("key"), Seq(Feature("value", DoubleType)),
        SparkSource("s", featPath, timestampField = "event_ts"))))
    assert(lookupValue(fs2, "b") === Some(3.0))
  }

  test("materialize re-run overwrites with newer window (upsert)") {
    val stores = Seq(new InMemoryOnlineStore,
      new ParquetOnlineStore(spark, Files.createTempDirectory("graft_kv_up").toString))
    stores.foreach { store =>
      val fs = fixture(store)
      fs.materialize(
        Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2024-03-01 00:00:00"), Seq("fv"))
      assert(lookupValue(fs, "a") === Some(99.0))
      // a window without key b rewrites a (unconditionally: its latest
      // in this window is 5.0) and leaves b's vector alone, on the
      // whole-table parquet store as on the per-key memory store
      fs.materialize(
        Timestamp.valueOf("2024-01-04 00:00:00"),
        Timestamp.valueOf("2024-01-31 00:00:00"), Seq("fv"))
      assert(lookupValue(fs, "a") === Some(5.0), store.getClass.getSimpleName)
      assert(lookupValue(fs, "b") === Some(3.0), store.getClass.getSimpleName)
    }
  }

  test("parquet store materialize follows a view re-applied with other features or keys") {
    val src = Files.createTempDirectory("graft_online_evo").toString + "/f"
    Seq(
      ("a", "g1", "2024-01-05 00:00:00", 5.0, 50L),
      ("b", "g2", "2024-01-03 00:00:00", 3.0, 30L)
    ).toDF("key", "grp", "s", "value", "count")
      .select(col("key"), col("grp"), to_timestamp(col("s")).as("event_ts"),
        col("value"), col("count"))
      .write.mode("overwrite").parquet(src)
    def view(keys: Seq[String], feats: Feature*) =
      FeatureView("fv", keys, feats, SparkSource("s", src, timestampField = "event_ts"))
    val fs = new FeatureStore(spark, RepoConfig("t"), new InMemoryRegistry,
      new ParquetOnlineStore(spark, Files.createTempDirectory("graft_kv_evo").toString))
    def materialize(from: String): Unit = fs.materialize(
      Timestamp.valueOf(from), Timestamp.valueOf("2024-01-31 00:00:00"), Seq("fv"))
    def served(row: Map[String, Any], feature: String): Option[Any] =
      fs.getOnlineFeatures(Seq(row), Seq(s"fv:$feature"))
        .head.get(s"fv__$feature").filter(_ != null)

    fs.applyObjects(Seq(Entity("key", Seq("key"), ValueType.STRING),
      view(Seq("key"), Feature("value", DoubleType))))
    materialize("2024-01-01 00:00:00")
    // a second session adds a feature; the next window holds only key a
    fs.applyObjects(Seq(view(Seq("key"), Feature("value", DoubleType),
      Feature("count", LongType))))
    materialize("2024-01-04 00:00:00")
    assert(served(Map("key" -> "a"), "count") === Some(50L))
    assert(served(Map("key" -> "b"), "value") === Some(3.0), "key outside the window kept")
    assert(served(Map("key" -> "b"), "count") === None)
    // dropping a feature keeps the rest of the kept keys' vectors
    fs.applyObjects(Seq(view(Seq("key"), Feature("value", DoubleType))))
    materialize("2024-01-04 00:00:00")
    assert(served(Map("key" -> "a"), "value") === Some(5.0))
    assert(served(Map("key" -> "b"), "value") === Some(3.0), "key outside the window kept")
    // other join keys: the window replaces the table
    fs.applyObjects(Seq(view(Seq("grp"), Feature("value", DoubleType))))
    materialize("2024-01-01 00:00:00")
    assert(served(Map("grp" -> "g2"), "value") === Some(3.0))
    assert(served(Map("grp" -> "g1"), "value") === Some(5.0))
  }

  test("kv-client store writes executor-parallel and serves the full loop") {
    val fs = fixture(new KVClientOnlineStore(() => new OnlineSpec.FakeKVClient))
    assert(lookupValue(fs, "a") === Some(5.0))
    assert(lookupValue(fs, "b") === Some(3.0))
    assert(lookupValue(fs, "zz") === None)
    assert(OnlineSpec.fakeKvOpened.get() >= 2,
      "expected one client per partition plus the driver lookup client")
  }

  test("parquet store refuses to collect views beyond maxLoadRows") {
    val root = Files.createTempDirectory("graft_kv_guard").toString
    val small = new ParquetOnlineStore(spark, root, maxLoadRows = 3L)
    small.write("big", Seq("k"),
      (1 to 4).map(i => (s"k$i", i)).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](small.get("big", Seq("k1")))
    assert(e.getMessage.contains("exceeding maxLoadRows=3"), e.getMessage)
    assert(e.getMessage.contains("KVClientOnlineStore"), e.getMessage)
    // exactly at the limit it serves (fresh instance: the cache is per-store)
    val ok = new ParquetOnlineStore(spark, root, maxLoadRows = 4L)
    assert(ok.get("big", Seq("k2")).map(_("v")) === Some(2))
  }

  // ---------------------------------------------------------- kv integration
  // The file-backed client stands in for a networked KV service (Redis,
  // Cassandra): every put is an atomic replace visible to any other
  // process, clients open per partition on the executors, and the driver
  // client reads concurrently — the reference's materialize → Redis →
  // lookup loop, hermetically.

  test("file-backed kv: executor-parallel write across partitions, driver lookups") {
    val dir = OnlineSpec.newKvDir()
    val store = new KVClientOnlineStore(() => new OnlineSpec.FileKVClient(dir))
    val df = (1 to 20).map(i => (s"k$i", i.toDouble)).toDF("key", "value")
      .repartition(4)
    store.write("fv", Seq("key"), df)
    (1 to 20).foreach { i =>
      assert(store.get("fv", Seq(s"k$i")).map(_("value")) === Some(i.toDouble))
    }
    assert(store.get("fv", Seq("nope")) === None)
    // one client per partition (markers recorded at open): >= 4 opens
    // from the write plus the lazily-opened driver client
    assert(OnlineSpec.kvOpens(dir) >= 5,
      s"expected per-partition clients + driver client, saw ${OnlineSpec.kvOpens(dir)}")
  }

  test("kv write flows through putBatch so networked clients can pipeline") {
    val dir = OnlineSpec.newKvDir()
    OnlineSpec.batchCalls.set(0)
    val store = new KVClientOnlineStore(
      () => new OnlineSpec.BatchCountingKVClient(dir))
    val df = (1 to 12).map(i => (s"k$i", i.toDouble)).toDF("key", "value")
      .repartition(3)
    store.write("fv", Seq("key"), df)
    assert(OnlineSpec.batchCalls.get() === 3,
      s"expected one pipelined batch per partition, saw ${OnlineSpec.batchCalls.get()}")
    (1 to 12).foreach { i =>
      assert(store.get("fv", Seq(s"k$i")).map(_("value")) === Some(i.toDouble))
    }
  }

  test("file-backed kv: partial upsert replaces touched keys, keeps the rest") {
    val dir = OnlineSpec.newKvDir()
    val store = new KVClientOnlineStore(() => new OnlineSpec.FileKVClient(dir))
    store.write("fv", Seq("key"),
      Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("key", "value"))
    store.upsert("fv", Seq("key"),
      Seq(("b", 20.0)).toDF("key", "value").repartition(2))
    assert(store.get("fv", Seq("a")).map(_("value")) === Some(1.0))
    assert(store.get("fv", Seq("b")).map(_("value")) === Some(20.0))
    assert(store.get("fv", Seq("c")).map(_("value")) === Some(3.0))
  }

  test("file-backed kv: concurrent reader during a rewrite sees old or new, never torn") {
    val dir = OnlineSpec.newKvDir()
    val store = new KVClientOnlineStore(() => new OnlineSpec.FileKVClient(dir))
    val keys = (1 to 10).map(i => s"k$i")
    store.write("fv", Seq("key"), keys.map((_, 1.0)).toDF("key", "value"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      val c = new OnlineSpec.FileKVClient(dir)
      while (!stop.get()) keys.foreach { k =>
        c.get(OnlineStore.encodeKey(Seq("fv", k)))
          .foreach(v => seen.add(v("value").asInstanceOf[Double]))
      }
    })
    reader.start()
    store.write("fv", Seq("key"), keys.map((_, 2.0)).toDF("key", "value").repartition(4))
    stop.set(true); reader.join()
    import scala.jdk.CollectionConverters._
    val vals = seen.asScala.toSet
    assert(vals.nonEmpty && vals.subsetOf(Set(1.0, 2.0)),
      s"reader observed torn/corrupt values: $vals")
    keys.foreach(k => assert(store.get("fv", Seq(k)).map(_("value")) === Some(2.0)))
  }

  test("file-backed kv: client failure mid-partition fails the write; completed puts persist") {
    val dir = OnlineSpec.newKvDir()
    val store = new KVClientOnlineStore(
      () => new OnlineSpec.PoisonKVClient(dir, poison = "k13"))
    val df = (1 to 20).map(i => (s"k$i", i.toDouble)).toDF("key", "value")
      .repartition(4)
    val e = intercept[Exception](store.write("fv", Seq("key"), df))
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("poisoned")), messages.mkString(" | "))
    // semantics: at-least-once per-key puts — partitions that completed
    // (and any retried prefix) remain visible; per-key idempotence makes
    // replays safe. The poisoned key itself must NOT be visible. (How
    // MANY other keys landed depends on how fast job cancellation
    // interrupts sibling tasks — deliberately not asserted.)
    val clean = new KVClientOnlineStore(() => new OnlineSpec.FileKVClient(dir))
    assert(clean.get("fv", Seq("k13")) === None, "poisoned put leaked")
  }

  test("composite keys with separator/backslash content never collide") {
    val store = new InMemoryOnlineStore
    // ("ab", "c") vs ("a", "bc") concatenate identically
    // without escaping; so do ("x\\", "y") vs ("x", "\\y"); and a null
    // vs the literal strings "\\N" / "N".
    val rows = Seq(
      (Some("ab"), Some("c"), 1.0),
      (Some("a"), Some("bc"), 2.0),
      (Some("x\\"), Some("y"), 3.0),
      (Some("x"), Some("\\y"), 4.0),
      (None: Option[String], Some("z"), 5.0),
      (Some("\\N"), Some("z"), 6.0),
      (Some("N"), Some("z"), 7.0))
    val df = rows.toDF("k1", "k2", "v")
    store.write("cv", Seq("k1", "k2"), df)
    rows.foreach { case (k1, k2, v) =>
      assert(store.get("cv", Seq(k1.orNull, k2.orNull)).map(_("v")) === Some(v),
        s"lookup ($k1, $k2)")
    }
  }

  test("kv key namespace: view and key content cannot collide across views") {
    val dir = OnlineSpec.newKvDir()
    val store = new KVClientOnlineStore(() => new OnlineSpec.FileKVClient(dir))
    // an unescaped `view + "/" + key` renders BOTH of these as "a/b/c" —
    // one view's write would silently clobber the other's vector
    store.write("a", Seq("key"), Seq(("b/c", 1.0)).toDF("key", "value"))
    store.write("a/b", Seq("key"), Seq(("c", 2.0)).toDF("key", "value"))
    assert(store.get("a", Seq("b/c")).map(_("value")) === Some(1.0),
      "view 'a' lost its vector to view 'a/b'")
    assert(store.get("a/b", Seq("c")).map(_("value")) === Some(2.0))
  }

  test("parquet store upsert recovers a crash between rename-aside and rename-in") {
    val root = Files.createTempDirectory("graft_kv_crash").toString
    val store = new ParquetOnlineStore(spark, root)
    store.write("fv", Seq("key"), Seq(
      ("a", Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      ("b", Timestamp.valueOf("2024-01-01 00:00:00"), 2.0))
      .toDF("key", "event_timestamp", "v"))
    // the torn window: live table moved aside, replacement never landed
    val live = new org.apache.hadoop.fs.Path(s"$root/fv")
    val hfs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.rename(live,
      new org.apache.hadoop.fs.Path(s"$root/fv__preupsert")))
    // the next upsert must RESTORE the table before merging — without
    // recovery it would rebuild the view from this one batch (losing b)
    // and a later upsert would delete the real table as a "leftover"
    store.upsert("fv", Seq("key"), Seq(
      ("a", Timestamp.valueOf("2024-01-02 00:00:00"), 10.0))
      .toDF("key", "event_timestamp", "v"))
    val fresh = new ParquetOnlineStore(spark, root)
    assert(fresh.get("fv", Seq("a")).map(_("v")) === Some(10.0))
    assert(fresh.get("fv", Seq("b")).map(_("v")) === Some(2.0),
      "the moved-aside table must be restored, not discarded")
  }

  test("float32 narrowing applies only to declared-FLOAT features") {
    val store = new InMemoryOnlineStore
    store.write("tv", Seq("key"), Seq(("a", 10.04, 10.04)).toDF("key", "vd", "vf"))
    val fs = new FeatureStore(spark, RepoConfig("t"), new InMemoryRegistry, store)
    fs.applyObjects(Seq(
      Entity("key", Seq("key"), ValueType.STRING),
      FeatureView("tv", Seq("key"),
        Seq(Feature("vd", DoubleType),
          Feature("vf", org.apache.spark.sql.types.FloatType)),
        SparkSource("s", featPath, timestampField = "event_ts"))))
    val out = fs.getOnlineFeatures(Seq(Map("key" -> "a")), Seq("tv:vd", "tv:vf")).head
    assert(out("tv__vd") === 10.04) // DoubleType serves full precision
    assert(out("tv__vf") === 10.04f.toDouble) // declared FLOAT narrows
    assert(out("tv__vd") !== out("tv__vf"))
  }
}

object OnlineSpec {
  import scala.collection.concurrent.TrieMap
  import java.util.concurrent.atomic.AtomicInteger

  /** Shared-JVM stand-in for a networked KV service (local-mode executors
    * share the test JVM, so a static map observes executor-side puts).
    */
  val fakeKvData: TrieMap[String, Map[String, Any]] = TrieMap.empty
  val fakeKvOpened = new AtomicInteger(0)

  final class FakeKVClient extends KVClient {
    fakeKvOpened.incrementAndGet()
    override def put(key: String, vector: Map[String, Any]): Unit =
      fakeKvData.put(key, vector)
    override def get(key: String): Option[Map[String, Any]] = fakeKvData.get(key)
    override def close(): Unit = ()
  }

  // ---------------------------------------------------------- file-backed kv
  import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

  def newKvDir(): String = {
    val d = JFiles.createTempDirectory("graft_filekv")
    JFiles.createDirectories(d.resolve(".opens"))
    d.toString
  }

  /** Client-open markers recorded by [[FileKVClient]] — one file per
    * constructed client, so tests can assert per-partition clients.
    */
  def kvOpens(dir: String): Long =
    JFiles.list(Paths.get(dir, ".opens")).count()

  /** File-per-key KV standing in for a networked store: puts are
    * write-tmp + atomic rename (readers in ANY process see the old or
    * the new value, never a torn file — the same visibility contract a
    * Redis SET gives), values are java-serialized vectors. The
    * constructor takes only the directory string, so the client factory
    * closure stays serializable for the executor-side `foreachPartition`
    * path.
    */
  class FileKVClient(dir: String) extends KVClient {
    private val root = Paths.get(dir)
    JFiles.createFile(root.resolve(".opens")
      .resolve(java.util.UUID.randomUUID.toString))

    private def fileFor(key: String) =
      root.resolve(java.net.URLEncoder.encode(key, "UTF-8"))

    override def put(key: String, vector: Map[String, Any]): Unit = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      try oos.writeObject(vector) finally oos.close()
      val tmp = root.resolve(java.util.UUID.randomUUID.toString + ".tmp")
      JFiles.write(tmp, bos.toByteArray)
      JFiles.move(tmp, fileFor(key),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

    override def get(key: String): Option[Map[String, Any]] =
      if (!JFiles.exists(fileFor(key))) None
      else {
        val ois = new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(JFiles.readAllBytes(fileFor(key))))
        try Some(ois.readObject().asInstanceOf[Map[String, Any]])
        finally ois.close()
      }

    override def close(): Unit = ()
  }

  /** [[FileKVClient]] counting [[KVClient.putBatch]] invocations — pins
    * that the executor write path hands each partition to the client as
    * ONE batch (the hook a Redis/Cassandra client pipelines on).
    */
  val batchCalls = new AtomicInteger(0)

  final class BatchCountingKVClient(dir: String) extends FileKVClient(dir) {
    override def putBatch(
        entries: Iterator[(String, Map[String, Any])]): Unit = {
      batchCalls.incrementAndGet()
      super.putBatch(entries)
    }
  }

  /** [[FileKVClient]] that throws on the put of any key containing
    * `poison` — simulates a connection dropping mid-partition.
    */
  final class PoisonKVClient(dir: String, poison: String)
      extends FileKVClient(dir) {
    override def put(key: String, vector: Map[String, Any]): Unit = {
      if (key.contains(poison))
        throw new java.io.IOException(s"poisoned put: $key")
      super.put(key, vector)
    }
  }
}
