package graft.core

import org.apache.spark.sql.types.{DoubleType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.time.Duration

/** Registry round-trip + idempotent apply + metadata stamping
  * (reference M2/M3, `CASE.MD:180-185,234-240,276-279`).
  */
class RegistrySpec extends AnyFunSuite {

  private val entity = Entity("driver", Seq("taxi_id"), ValueType.STRING)
  private val view = FeatureView(
    "taxi_hourly", Seq("driver"),
    Seq(Feature("avg_fare", DoubleType), Feature("flag", StringType)),
    SparkSource("gold", "/tmp/gold", "parquet", "event_timestamp", Some("created")),
    Some(Duration.ofSeconds(172800)))

  test("file registry persists and reloads definitions faithfully") {
    // a registry backed by a plain local file path (no URI scheme): a
    // fresh instance re-reads the file and sees every definition
    val path = Files.createTempDirectory("reg").resolve("registry.json")
    val reg = new HadoopRegistry(path.toString, new org.apache.hadoop.conf.Configuration())
    reg.applyEntity(entity)
    reg.applyFeatureView(view)
    assert(Files.exists(path), "apply must publish registry.json at the given path")
    val reloaded = new HadoopRegistry(path.toString, new org.apache.hadoop.conf.Configuration())
    assert(reloaded.getEntity("driver") === Some(entity))
    assert(reloaded.getFeatureView("taxi_hourly") === Some(view))
    assert(reloaded.listDataSources() === Seq(view.source))
  }

  test("hadoop-fs registry save sweeps STALE writer tmps but spares live ones") {
    // crashed writers leave unique-named `.tmp-<uuid>` orphans that
    // would otherwise accumulate next to the registry forever; a LIVE
    // concurrent writer's young tmp must survive the sweep
    val dir = Files.createTempDirectory("regsweep")
    val path = dir.resolve("registry.json")
    // publish the registry BEFORE planting the young tmps: with the
    // final path missing, a fresh tmp reads as a swap in flight and the
    // load waits it out
    val reg = new HadoopRegistry(path.toString, new org.apache.hadoop.conf.Configuration())
    reg.applyEntity(entity)
    val stale = dir.resolve("registry.json.tmp-dead-writer")
    val live = dir.resolve("registry.json.tmp-live-writer")
    Files.writeString(stale, "{}")
    Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Registry.sweepHorizonMs - 60000L))
    Files.writeString(live, "{}")
    // "live" includes SLOW: a tmp older than the read-side staleness
    // horizon but younger than the sweep horizon is a writer that is
    // merely slow (NFS, big registry) — deleting it would fail its
    // upcoming atomic rename (ADVICE r19)
    val slow = dir.resolve("registry.json.tmp-slow-writer")
    Files.writeString(slow, "{}")
    Files.setLastModifiedTime(slow,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000L))
    reg.applyEntity(entity)
    assert(!Files.exists(stale), "stale orphan tmp must be swept")
    assert(Files.exists(live), "a live writer's young tmp must survive")
    assert(Files.exists(slow), "a slow live writer's tmp must survive the sweep")
    assert(Files.exists(path))
  }

  test("apply is idempotent and preserves created while bumping lastUpdated") {
    val path = Files.createTempDirectory("reg").resolve("registry.json").toString
    val reg = new HadoopRegistry(path, new org.apache.hadoop.conf.Configuration())
    reg.applyEntity(entity)
    val m1 = reg.meta("entity", "driver").get
    Thread.sleep(5)
    reg.applyEntity(entity.copy(description = "updated"))
    val m2 = reg.meta("entity", "driver").get
    assert(reg.listEntities().size === 1)
    assert(reg.getEntity("driver").get.description === "updated")
    assert(m2.created === m1.created)
    assert(m2.lastUpdated >= m1.lastUpdated)
  }

  test("resolve groups refs by view and validates names") {
    val reg = new InMemoryRegistry
    reg.applyEntity(entity)
    reg.applyFeatureView(view)
    val resolved = reg.resolve(Seq("taxi_hourly:avg_fare", "taxi_hourly:flag"))
    assert(resolved.map { case (fv, fs) => (fv.name, fs.map(_.name)) } ===
      Seq(("taxi_hourly", Seq("avg_fare", "flag"))))
    intercept[NoSuchElementException](reg.resolve(Seq("nope:x")))
    intercept[NoSuchElementException](reg.resolve(Seq("taxi_hourly:nope")))
    intercept[IllegalArgumentException](reg.resolve(Seq("malformed")))
  }

  test("entity default join key falls back to entity name") {
    assert(Entity("user_id", ValueType.INT64).resolvedJoinKeys === Seq("user_id"))
  }

  test("hadoop-fs registry round-trips on a local FS URI") {
    val path = java.nio.file.Files.createTempDirectory("hreg").toString + "/registry.json"
    val conf = new org.apache.hadoop.conf.Configuration()
    val reg = new HadoopRegistry(path, conf)
    reg.applyEntity(entity)
    reg.applyFeatureView(view)
    val reloaded = new HadoopRegistry(path, conf)
    assert(reloaded.getEntity("driver") === Some(entity))
    assert(reloaded.getFeatureView("taxi_hourly") === Some(view))
    assert(reloaded.listFeatureViews().map(_.name) === Seq("taxi_hourly"))
    assert(reloaded.listDataSources() === Seq(view.source))
  }

  test("hadoop-fs registry loads a registry.json in the established document format") {
    // pins the on-disk format: registry.json files already written by
    // earlier versions must keep loading unchanged
    val dir = Files.createTempDirectory("hreg_fmt")
    Files.writeString(dir.resolve("registry.json"),
      """{
        |  "entities" : {
        |    "driver" : {
        |      "name" : "driver",
        |      "joinKeys" : [ "taxi_id" ],
        |      "valueType" : "STRING",
        |      "description" : "a driver"
        |    }
        |  },
        |  "views" : {
        |    "taxi_hourly" : {
        |      "name" : "taxi_hourly",
        |      "entities" : [ "driver" ],
        |      "features" : [ {
        |        "name" : "avg_fare",
        |        "dtype" : "double"
        |      }, {
        |        "name" : "flag",
        |        "dtype" : "string"
        |      } ],
        |      "source" : {
        |        "name" : "gold",
        |        "path" : "/tmp/gold",
        |        "fileFormat" : "parquet",
        |        "timestampField" : "event_timestamp",
        |        "createdTimestampColumn" : "created",
        |        "options" : { }
        |      },
        |      "ttl" : "PT48H"
        |    }
        |  },
        |  "meta" : {
        |    "entity/driver" : {
        |      "created" : "2026-10-19T15:56:01.805235194Z",
        |      "lastUpdated" : "2026-10-19T15:56:01.805235194Z"
        |    },
        |    "fv/taxi_hourly" : {
        |      "created" : "2026-10-19T15:56:02.573935888Z",
        |      "lastUpdated" : "2026-10-19T15:56:02.573935888Z"
        |    }
        |  }
        |}""".stripMargin)
    val reg = new HadoopRegistry(dir.resolve("registry.json").toString,
      new org.apache.hadoop.conf.Configuration())
    assert(reg.getEntity("driver") === Some(entity.copy(description = "a driver")))
    assert(reg.getFeatureView("taxi_hourly") === Some(view))
    assert(reg.meta("fv", "taxi_hourly") === Some(Registry.Meta(
      "2026-10-19T15:56:02.573935888Z", "2026-10-19T15:56:02.573935888Z")))
    // and it writes back in the same format: the re-apply keeps created
    reg.applyEntity(entity)
    assert(reg.meta("entity", "driver").get.created === "2026-10-19T15:56:01.805235194Z")
    assert(Registry.fromJson(Files.readString(dir.resolve("registry.json"))).views ===
      Map("taxi_hourly" -> view))
  }

  test("hadoop-fs registry works over a non-local URI scheme (S8)") {
    val dir = Files.createTempDirectory("mockfs_reg")
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.mockfs.impl", classOf[MockFs].getName)
    conf.set("fs.AbstractFileSystem.mockfs.impl", classOf[MockAbstractFs].getName)
    val uri = s"mockfs://$dir/registry.json"
    val reg = new HadoopRegistry(uri, conf)
    reg.applyEntity(entity)
    reg.applyFeatureView(view)
    val reloaded = new HadoopRegistry(uri, conf)
    assert(reloaded.getEntity("driver") === Some(entity))
    assert(reloaded.getFeatureView("taxi_hourly") === Some(view))
    // the write (incl. FileContext rename-OVERWRITE) really went through
    // the non-local scheme and landed where the URI pointed
    assert(Files.exists(dir.resolve("registry.json")))
    // writer-unique tmps are renamed away (and stale ones swept)
    val tmpLeft = new java.io.File(dir.toString).listFiles()
      .map(_.getName).filter(_.contains(".tmp"))
    assert(tmpLeft.isEmpty, s"tmp not cleaned up: ${tmpLeft.mkString(", ")}")
  }

  test("hadoop-fs registry save never exposes a missing/empty registry to readers") {
    // Regression: save() used delete-then-rename, so a concurrent load()
    // could observe no file and silently return an empty registry. With
    // rename-OVERWRITE a reader must always see a complete document.
    val path = java.nio.file.Files.createTempDirectory("hreg2").toString + "/registry.json"
    val conf = new org.apache.hadoop.conf.Configuration()
    val writer = new HadoopRegistry(path, conf)
    writer.applyEntity(entity)
    val reader = new HadoopRegistry(path, conf)
    @volatile var emptyReads = 0
    @volatile var done = false
    val t = new Thread(() => {
      while (!done) if (reader.listEntities().isEmpty) emptyReads += 1
    })
    t.start()
    try {
      (1 to 50).foreach { i =>
        writer.applyEntity(entity.copy(description = s"v$i"))
      }
    } finally { done = true; t.join() }
    assert(emptyReads === 0, s"reader saw an empty registry $emptyReads times")
    assert(writer.getEntity("driver").get.description === "v50")
  }

  test("hadoop-fs registry: stale .tmp reads as empty but blocks read-modify-write") {
    // A crashed writer leaves only registry.json.tmp behind. Readers get an
    // empty registry (the document was never published), but apply() must
    // refuse to save from that empty fallback — rewriting would silently
    // drop whatever the crashed writer had read.
    val dir = java.nio.file.Files.createTempDirectory("hreg3")
    val path = dir.toString + "/registry.json"
    val conf = new org.apache.hadoop.conf.Configuration()
    val tmp = dir.resolve("registry.json.tmp")
    java.nio.file.Files.write(tmp, "{}".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(tmp,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 60000))
    val reg = new HadoopRegistry(path, conf)
    assert(reg.listEntities() === Seq.empty)
    intercept[IllegalStateException](reg.applyEntity(entity))
    // once the stale tmp is cleaned up, apply works again
    java.nio.file.Files.delete(tmp)
    reg.applyEntity(entity)
    assert(reg.getEntity("driver") === Some(entity))
  }

  test("hadoop-fs registry: a crashed swap of REAL content fails loudly, never reads empty") {
    // delete+rename FS crash window: the final file is gone but the
    // crashed writer's tmp holds a COMPLETE non-empty document. Reading
    // "empty" here would let every pipeline (listFeatureViews loops,
    // scheduled materializations) silently no-op with green status —
    // the reader must throw with the recovery path instead.
    val dir = java.nio.file.Files.createTempDirectory("hreg4")
    val path = dir.toString + "/registry.json"
    val conf = new org.apache.hadoop.conf.Configuration()
    // build a real document, then simulate the crash: move the final
    // into a stale writer-unique tmp
    val reg = new HadoopRegistry(path, conf)
    reg.applyEntity(entity)
    val tmp = dir.resolve("registry.json.tmp-dead-writer")
    java.nio.file.Files.move(dir.resolve("registry.json"), tmp)
    java.nio.file.Files.setLastModifiedTime(tmp,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 60000))
    val reader = new HadoopRegistry(path, conf)
    val ex = intercept[IllegalStateException](reader.listEntities())
    assert(ex.getMessage.contains("COMPLETE document"), ex.getMessage)
    // recovery: rename the tmp into place — reads work again
    java.nio.file.Files.move(tmp, dir.resolve("registry.json"))
    assert(reader.getEntity("driver") === Some(entity))
  }

  test("registry resolve dedups repeated feature refs (first occurrence wins)") {
    val reg = new InMemoryRegistry
    reg.applyEntity(entity)
    reg.applyFeatureView(view)
    val resolved = reg.resolve(Seq(
      s"${view.name}:${view.features.head.name}",
      s"${view.name}:${view.features.head.name}"))
    assert(resolved.map(_._2.map(_.name)) === Seq(Seq(view.features.head.name)),
      "duplicate refs must resolve once — duplicate output columns are " +
        "AMBIGUOUS_REFERENCE bait downstream")
  }
}
