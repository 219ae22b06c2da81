package graft.api

import graft.SparkSpec
import graft.core._
import graft.online.InMemoryOnlineStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

/** Each FeatureStore call works from one registry snapshot: one read of
  * the document however many views, features and entity rows it
  * resolves; and the next call reads again, so another session's apply
  * shows on it.
  */
class RegistryReadsSpec extends SparkSpec {
  import spark.implicits._

  /** An in-memory registry that counts document reads. */
  private final class CountingRegistry extends Registry {
    private val inner = new InMemoryRegistry
    val reads = new AtomicInteger
    override def snapshot(): Registry.State = {
      reads.incrementAndGet()
      inner.snapshot()
    }
    override def update(f: Registry.State => Registry.State): Unit = inner.update(f)
  }

  private val keys = (0 until 50).map(i => s"k$i")

  /** One row per key on Jan 2: v1 = i, v2 = 10 * i. */
  private lazy val featPath: String = {
    val dir = Files.createTempDirectory("graft_reads").toString + "/f"
    keys.zipWithIndex.map { case (k, i) => (k, "2024-01-02 00:00:00", i.toDouble, 10.0 * i) }
      .toDF("key", "s", "v1", "v2")
      .select(col("key"), to_timestamp(col("s")).as("event_ts"), col("v1"), col("v2"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  // the entity's join key differs from its name, so a lookup that
  // skipped the entity would ask the rows for a "driver" column
  private val driver = Entity("driver", Seq("key"), ValueType.STRING)
  private def view(name: String, feats: String*) = FeatureView(name, Seq("driver"),
    feats.map(Feature(_, DoubleType)), SparkSource("s", featPath, timestampField = "event_ts"))

  private val jan1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val jan31 = Timestamp.valueOf("2024-01-31 00:00:00")
  private val rows = keys.map(k => Map[String, Any]("key" -> k))

  test("getOnlineFeatures, getHistoricalFeatures and materialize read the registry once per call") {
    val reg = new CountingRegistry
    val fs = new FeatureStore(spark, RepoConfig("t"), reg, new InMemoryOnlineStore)
    fs.applyObjects(Seq(driver, view("fa", "v1"), view("fb", "v2")))
    def readsOf[T](body: => T): (T, Int) = {
      reg.reads.set(0)
      val r = body
      (r, reg.reads.get)
    }

    val (_, matReads) = readsOf(fs.materialize(jan1, jan31, Seq("fa", "fb")))
    assert(matReads === 1)

    val (online, getReads) = readsOf(fs.getOnlineFeatures(rows, Seq("fa:v1", "fb:v2")))
    assert(getReads === 1, "50 rows over two views must still be one read")
    assert(online.map(r => (r("fa__v1"), r("fb__v2"))) ===
      keys.indices.map(i => (i.toDouble, 10.0 * i)))

    val entityDf = keys.map(k => (k, Timestamp.valueOf("2024-01-10 00:00:00")))
      .toDF("key", "event_timestamp")
    val (hist, histReads) = readsOf {
      val j = fs.getHistoricalFeatures(entityDf, Seq("fa:v1", "fb:v2"))
      try j.toDf.select("key", "fa__v1", "fb__v2").as[(String, Double, Double)]
        .collect().sortBy(_._2).toSeq
      finally j.release()
    }
    assert(histReads === 1)
    assert(hist === keys.zipWithIndex.map { case (k, i) => (k, i.toDouble, 10.0 * i) })
  }

  test("a second session's apply shows on the next call") {
    val path = Files.createTempDirectory("graft_reads_x").resolve("registry.json").toString
    val fs = new FeatureStore(spark, RepoConfig("t", Some(path)),
      new HadoopRegistry(spark, path), new InMemoryOnlineStore)
    fs.applyObjects(Seq(driver, view("fa", "v1")))
    fs.materialize(jan1, jan31, Seq("fa"))
    intercept[NoSuchElementException](fs.getOnlineFeatures(rows.take(1), Seq("fa:v2")))

    new HadoopRegistry(spark, path).applyFeatureView(view("fa", "v1", "v2"))
    fs.materialize(jan1, jan31, Seq("fa"))
    val out = fs.getOnlineFeatures(Seq(Map("key" -> "k3")), Seq("fa:v1", "fa:v2"))
    assert(out.head("fa__v1") === 3.0)
    assert(out.head("fa__v2") === 30.0)
  }
}
