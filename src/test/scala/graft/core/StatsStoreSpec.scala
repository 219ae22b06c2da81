package graft.core

import graft.SparkSpec
import graft.api.{FeatureStore, RepoConfig}
import org.apache.spark.sql.functions._

/** Registry-held statistics (VERDICT r9 #6): ANALYZE at register time
  * persists the per-join-key histogram beside the registry, and a
  * join-size forecast driven from those statistics is IDENTICAL to the
  * forecast recomputed from a full source scan.
  */
class StatsStoreSpec extends SparkSpec {

  test("forecast-from-registry stats == forecast-from-scan at sf0.001") {
    val repo = java.nio.file.Files.createTempDirectory("stats_repo")
    val regPath = repo.resolve("registry.json").toString
    val fs = new FeatureStore(spark,
      RepoConfig("stats_demo", Some(regPath)), new HadoopRegistry(spark, regPath))
    fs.applyObjects(Seq(
      Entity("user", Seq("user_id"), ValueType.INT64),
      FeatureView("events_fv", Seq("user"),
        Seq(Feature("value", org.apache.spark.sql.types.DoubleType)),
        SparkSource("events_src", s"$sf0001/events.parquet",
          timestampField = "ts",
          options = Map(graft.sources.SourceReader.NanosColumnsOption -> "ts")))))
    // ANALYZE at register time writes the histogram next to the registry
    val path = fs.analyze("events_fv")
    assert(path.startsWith(repo.toString) && path.contains("/stats/"),
      s"stats must live beside the registry: $path")

    val counts = fs.statsFor("events_fv").get
    val fromRegistry = graft.transform.Skew.joinSizeForecastFromCounts(
      counts.withColumnRenamed("n", "n_a"),
      counts.withColumnRenamed("n", "n_b"), Seq("user_id"))
    val events = graft.Tables.load(spark, sf0001, "events").select(col("user_id"))
    val fromScan = graft.transform.Skew.joinSizeForecast(
      events, events, Seq("user_id"))
    val a = fromRegistry.collect().map(_.toSeq).toSeq
    val b = fromScan.collect().map(_.toSeq).toSeq
    assert(a === b, "registry-fed forecast diverged from the scan-fed forecast")
    assert(a.nonEmpty)

    // un-analyzed views report no stats rather than a broken path
    fs.applyObjects(Seq(
      FeatureView("docs_fv", Seq("user"),
        Seq(Feature("value", org.apache.spark.sql.types.DoubleType)),
        SparkSource("docs_src", s"$sf0001/documents.parquet",
          timestampField = "ts"))))
    assert(fs.statsFor("docs_fv").isEmpty)
  }

  test("artifact paths are unambiguous; ANALYZE works on non-temporal tables") {
    // distinct identities must never share an artifact path even when
    // the lossy sanitizer renders them identically — a collision would
    // silently serve one view's stats/codebook/index to the other
    assert(StatsStore.statsPath("/r/registry.json", "t", Seq("a", "b"))
      !== StatsStore.statsPath("/r/registry.json", "t", Seq("a_b")))
    assert(CodebookStore.codebookPath("/r/registry.json", "a b")
      !== CodebookStore.codebookPath("/r/registry.json", "a/b"))
    assert(CodebookStore.indexStatePath("/r/registry.json", "a b")
      !== CodebookStore.indexStatePath("/r/registry.json", "a/b"))
    // ANALYZE of a non-temporal dimension table must not demand a
    // timestamp_field (readStatic's documented consumer) — region has
    // no event_timestamp column
    val repo = java.nio.file.Files.createTempDirectory("stats_repo_dim")
    val regPath = repo.resolve("registry.json").toString
    val fs = new FeatureStore(spark,
      RepoConfig("dim_demo", Some(regPath)), new HadoopRegistry(spark, regPath))
    fs.applyObjects(Seq(
      Entity("reg", Seq("r_regionkey"), ValueType.INT64),
      FeatureView("region_fv", Seq("reg"),
        Seq(Feature("r_name", org.apache.spark.sql.types.StringType)),
        SparkSource("region_src", s"$sf0001/region.parquet"))))
    fs.analyze("region_fv")
    assert(fs.statsFor("region_fv").get.count() === 5L)
  }

  test("legacy plain-parquet stats stay readable and migrate on next write") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ss_legacy")
      .resolve("stats.parquet").toString
    // the pre-ArtifactStore layout: a bare df.write.parquet(path)
    Seq(("a", 3L)).toDF("k", "n").write.parquet(dir)
    val legacy = StatsStore.read(spark, dir).get
    assert(legacy.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("a", 3L)))
    // re-ANALYZE migrates in place: versioned layout takes precedence
    StatsStore.write(Seq(("a", 5L)).toDF("k", "n"), dir)
    val migrated = StatsStore.read(spark, dir).get
    assert(migrated.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("a", 5L)))
  }

  test("legacy fallback reads paths containing glob metacharacters literally") {
    import spark.implicits._
    // registry paths derive from user table names — brackets/braces are
    // possible and must not be glob-interpreted by the fallback read
    val dir = java.nio.file.Files.createTempDirectory("ss_glob")
      .resolve("stats[v2]{x}.parquet").toString
    Seq(("g", 7L)).toDF("k", "n").write.parquet(dir)
    val legacy = StatsStore.read(spark, dir).get
    assert(legacy.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("g", 7L)))
  }

}
