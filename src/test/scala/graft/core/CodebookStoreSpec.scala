package graft.core

import graft.SparkSpec
import graft.api.{FeatureStore, RepoConfig}
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Registry-held trained ANN artifacts (VERDICT r10 #1): codebook
  * training is an offline index build — store→load→serve must be
  * BITWISE the train-in-query result, the swap must be atomic for
  * readers, and the FeatureStore surface must round-trip it.
  */
class CodebookStoreSpec extends SparkSpec {

  private def tmpBase(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).resolve("cb").toString

  test("store -> load == train for IVF centroids (bitwise)") {
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val trained = Similarity.lloydCentroids(e, "vec_id", "embedding", 16, 3)
    val base = tmpBase("cb_ivf")
    CodebookStore.save(trained, base)
    val loaded = CodebookStore.load(spark, base).get
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    val a = trained.collect().sortBy(key).map(_.toSeq.map {
      case s: Seq[_] => s.toList
      case x => x
    }).toSeq
    val b = loaded.collect().sortBy(key).map(_.toSeq.map {
      case s: Seq[_] => s.toList
      case x => x
    }).toSeq
    assert(a === b, "parquet round-trip must be bitwise for the codebook")
  }

  test("PQ-ADC served from the store == trained in-query (bitwise)") {
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") <= 103)
    val cb = Similarity.lloydPqCodebook(e, "vec_id", "embedding")
    val base = tmpBase("cb_pq")
    val served = CodebookStore.getOrTrain(spark, base)(cb)
    // second getOrTrain must NOT retrain: poison the thunk
    val servedAgain = CodebookStore.getOrTrain(spark, base)(
      throw new AssertionError("retrained despite stored artifact"))
    val direct = Similarity.pqAdcTopK(e, queries, "vec_id", "embedding",
      k = 5, codebook = Some(cb)).collect().map(_.toSeq).sortBy(_.toString)
    val fromStore = Similarity.pqAdcTopK(e, queries, "vec_id", "embedding",
      k = 5, codebook = Some(servedAgain)).collect().map(_.toSeq).sortBy(_.toString)
    assert(direct === fromStore,
      "ADC ranking from the stored codebook diverged from in-query training")
    assert(served.count() == servedAgain.count())
  }

  test("re-save atomically repoints and keeps the previous version readable") {
    import spark.implicits._
    val base = tmpBase("cb_swap")
    ArtifactStore.save(Seq((1L, "a")).toDF("id", "v"), base)
    val firstVersionDf = ArtifactStore.load(spark, base).get
    ArtifactStore.save(Seq((2L, "b")).toDF("id", "v"), base)
    // new pointer serves the new artifact
    assert(ArtifactStore.load(spark, base).get.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // a reader that resolved CURRENT before the swap can still finish:
    // the previous version dir survives one swap
    assert(firstVersionDf.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a YOUNG superseded version is age-protected even two swaps back —
    // a straggling reader under a fast refresh cadence keeps its dir
    ArtifactStore.save(Seq((3L, "c")).toDF("id", "v"), base)
    val fs = new java.io.File(base)
    def versions() = fs.listFiles().map(_.getName).filter(_.startsWith("v-"))
    assert(versions().length == 3,
      s"young versions must survive the GC horizon, got ${versions().toSeq}")
    // once past the horizon, versions outside {new, previous} collect
    fs.listFiles().filter(_.getName.startsWith("v-")).foreach(
      _.setLastModified(System.currentTimeMillis - ArtifactStore.gcHorizonMs - 60000))
    ArtifactStore.save(Seq((4L, "d")).toDF("id", "v"), base)
    assert(versions().length == 2,
      s"expected {new, previous} after horizon, got ${versions().toSeq}")
  }

  test("sanitize keeps artifact names inside the layout, hash-disambiguated") {
    assert(ArtifactStore.sanitize("a/b:c d") == "a_b_c_d")
    assert(ArtifactStore.sanitize("") == "_")
    // readable sanitized prefix + an 8-hex md5 of the RAW name: 'v/1'
    // and 'v 1' sanitize identically but must not share a path
    val p = CodebookStore.codebookPath("/tmp/reg/registry.json", "v/1")
    assert(p.matches("/tmp/reg/codebooks/v_1-[0-9a-f]{8}"), p)
    assert(p !== CodebookStore.codebookPath("/tmp/reg/registry.json", "v 1"))
  }

  test("FeatureStore trainCodebook/codebookFor round-trip beside the registry") {
    val repo = java.nio.file.Files.createTempDirectory("cb_repo")
    val regPath = repo.resolve("registry.json").toString
    val fs = new FeatureStore(spark,
      RepoConfig("cb_demo", Some(regPath)), new HadoopRegistry(spark, regPath))
    fs.applyObjects(Seq(
      Entity("vec", Seq("vec_id"), ValueType.INT64),
      FeatureView("emb_fv", Seq("vec"),
        Seq(Feature("embedding", org.apache.spark.sql.types.DataType.fromDDL(
          "array<double>"))),
        SparkSource("emb_src", s"$sf0001/embeddings.parquet"))))
    assert(fs.codebookFor("emb_fv").isEmpty, "untrained view must report None")
    val path = fs.trainCodebook("emb_fv", "vec_id", "embedding")
    assert(path.startsWith(repo.toString) && path.contains("/codebooks/"),
      s"codebook must live beside the registry: $path")
    val stored = fs.codebookFor("emb_fv").get
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val direct = Similarity.lloydCentroids(e, "vec_id", "embedding", 16, 3)
    assert(stored.count() == direct.count())
    val sIds = stored.select("centroid_id").collect().map(_.getLong(0)).sorted.toSeq
    val dIds = direct.select("centroid_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(sIds == dIds)
  }

  test("facade train -> maintain -> serve == hand-wired serve (bitwise), both kinds") {
    val repo = java.nio.file.Files.createTempDirectory("idx_repo")
    val regPath = repo.resolve("registry.json").toString
    val fs = new FeatureStore(spark,
      RepoConfig("idx_demo", Some(regPath)), new HadoopRegistry(spark, regPath))
    fs.applyObjects(Seq(
      Entity("vec", Seq("vec_id"), ValueType.INT64),
      FeatureView("emb_fv", Seq("vec"),
        Seq(Feature("embedding", org.apache.spark.sql.types.DataType.fromDDL(
          "array<double>"))),
        SparkSource("emb_src", s"$sf0001/embeddings.parquet"))))
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    // maintaining an untrained index is a bug, never a fallback
    intercept[IllegalStateException] {
      fs.indexIncrement("emb_fv", e, "vec_id", "embedding", 0L)
    }
    fs.trainCodebook("emb_fv", "vec_id", "embedding")
    fs.trainCodebook("emb_fv", "vec_id", "embedding", kind = "pq")
    val maxId = e.agg(max(col("vec_id"))).head.getLong(0)
    val width = maxId / 2 + 1
    for (b <- 0L until 2L) {
      val slice = e.filter(
        col("vec_id") >= b * width && col("vec_id") < (b + 1) * width)
      fs.indexIncrement("emb_fv", slice, "vec_id", "embedding", b)
      fs.indexIncrement("emb_fv", slice, "vec_id", "embedding", b,
        kind = "pq")
    }
    // the state lives beside the registry, per kind
    val ivfState = fs.indexStatePath("emb_fv")
    assert(ivfState.startsWith(repo.toString) &&
      ivfState.contains("/indexstate/"), ivfState)
    assert(ivfState !== fs.indexStatePath("emb_fv", kind = "pq"),
      "ivf and pq states must not share a directory")
    // facade serve == hand-wired serve off the same state + stored
    // codebook, bitwise — the facade adds resolution, never arithmetic
    val cbIvf = fs.codebookFor("emb_fv").get
    val direct = Similarity.ivfStateTopK(spark, ivfState, queries,
      "vec_id", "embedding", cbIvf, k = 5, nprobe = 8)
    assert(rows(fs.searchIndex("emb_fv", queries, "vec_id", "embedding",
      topK = 5, nprobe = 8)) === rows(direct),
      "facade IVF serve diverged from the hand-wired serve")
    val cbPq = fs.codebookFor("emb_fv", kind = "pq").get
    val directPq = Similarity.pqAdcFromState(spark,
      fs.indexStatePath("emb_fv", kind = "pq"), queries,
      "vec_id", "embedding", cbPq, k = 5)
    assert(rows(fs.searchIndex("emb_fv", queries, "vec_id", "embedding",
      topK = 5, kind = "pq")) === rows(directPq),
      "facade PQ serve diverged from the hand-wired serve")
  }

  test("indexHealth surfaces the silently-version-filtered stale state") {
    val repo = java.nio.file.Files.createTempDirectory("health_repo")
    val regPath = repo.resolve("registry.json").toString
    val fs = new FeatureStore(spark,
      RepoConfig("health_demo", Some(regPath)), new HadoopRegistry(spark, regPath))
    fs.applyObjects(Seq(
      Entity("vec", Seq("vec_id"), ValueType.INT64),
      FeatureView("emb_fv", Seq("vec"),
        Seq(Feature("embedding", org.apache.spark.sql.types.DataType.fromDDL(
          "array<double>"))),
        SparkSource("emb_src", s"$sf0001/embeddings.parquet"))))
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val n = e.count()
    fs.trainCodebook("emb_fv", "vec_id", "embedding")
    fs.trainCodebook("emb_fv", "vec_id", "embedding", kind = "pq")
    // trained but never incremented: "serves nothing" is zero ROWS,
    // never a PATH_NOT_FOUND throw
    assert(fs.indexHealth("emb_fv").collect().isEmpty,
      "health of an empty index state must be an empty readout")
    // ...and a state dir holding NO committed footers (a crashed first
    // increment's _temporary leftovers) is the same empty readout, not
    // an UNABLE_TO_INFER_SCHEMA throw — health is exactly the probe an
    // operator runs after such a crash
    val torn = new java.io.File(
      s"${fs.indexStatePath("emb_fv")}/assign/batch=0/_temporary")
    assert(torn.mkdirs())
    assert(fs.indexHealth("emb_fv").collect().isEmpty,
      "a footerless state dir must read as the empty health readout")
    def rmr(x: java.io.File): Unit = {
      if (x.isDirectory)
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rmr)
      x.delete(); ()
    }
    rmr(new java.io.File(s"${fs.indexStatePath("emb_fv")}/assign"))
    // an empty arrival would leave a footerless partitioned batch dir —
    // the facade fails loudly before any state write
    intercept[IllegalArgumentException] {
      fs.indexIncrement("emb_fv", e.filter(col("vec_id") < 0),
        "vec_id", "embedding", 0L)
    }
    // nprobe is an ivf knob — silently dropping it on a pq serve would
    // let a caller believe they narrowed the scan; an EXPLICIT pq
    // nprobe is rejected even at the ivf default value
    intercept[IllegalArgumentException] {
      fs.searchIndex("emb_fv", e.limit(1), "vec_id", "embedding",
        kind = "pq", nprobe = 8)
    }
    intercept[IllegalArgumentException] {
      fs.searchIndex("emb_fv", e.limit(1), "vec_id", "embedding",
        kind = "pq", nprobe = 4)
    }
    val maxId = e.agg(max(col("vec_id"))).head.getLong(0)
    val width = maxId / 2 + 1
    for (b <- 0L until 2L) {
      val slice = e.filter(
        col("vec_id") >= b * width && col("vec_id") < (b + 1) * width)
      fs.indexIncrement("emb_fv", slice, "vec_id", "embedding", b)
      fs.indexIncrement("emb_fv", slice, "vec_id", "embedding", b,
        kind = "pq")
    }
    // healthy state, both kinds: ONE version, serving, full coverage
    for (kind <- Seq("ivf", "pq")) {
      val h = fs.indexHealth("emb_fv", kind = kind).collect()
      assert(h.length == 1 && h.head.getAs[Long]("is_serving") == 1L,
        s"$kind: fresh state must be a single serving version: ${h.toSeq}")
      assert(h.head.getAs[Long]("n_batches") == 2L, s"$kind: ${h.toSeq}")
      if (kind == "ivf")
        assert(h.head.getAs[Long]("n_rows") == n, h.toSeq.toString)
    }
    // a RETRAIN (different content, same artifact slot) without repair:
    // every serve now silently filters the whole state out — exactly
    // the shrink-with-no-error hazard the readout exists to make loud
    val retrained = Similarity.lloydCentroids(e, "vec_id", "embedding",
      16, 1).localCheckpoint(true)
    CodebookStore.save(retrained,
      CodebookStore.codebookPath(regPath, "emb_fv__ivf16x3"))
    val stale = fs.indexHealth("emb_fv").collect()
    assert(stale.length == 1 && stale.head.getAs[Long]("is_serving") == 0L,
      s"post-retrain state must read as stale: ${stale.toSeq}")
    // repair under the STORED serving codebook → healthy again, same
    // coverage (facade resolution == hand-wired repair)
    graft.ops.Similarity.reassignStale(fs.indexStatePath("emb_fv"), e,
      "vec_id", "embedding", fs.codebookFor("emb_fv").get,
      payloadCols = Seq("embedding"))
    val repaired = fs.indexHealth("emb_fv").collect()
    assert(repaired.length == 1 &&
      repaired.head.getAs[Long]("is_serving") == 1L &&
      repaired.head.getAs[Long]("n_rows") == n &&
      repaired.head.getAs[Long]("n_batches") == 2L,
      s"repaired state must be one serving version: ${repaired.toSeq}")
  }

  test("facade lifecycle: fresh -> stale-on-retrain -> repairIndex -> gcIndex, both kinds") {
    val repo = java.nio.file.Files.createTempDirectory("lifecycle_repo")
    val regPath = repo.resolve("registry.json").toString
    val fs = new FeatureStore(spark,
      RepoConfig("lc_demo", Some(regPath)), new HadoopRegistry(spark, regPath))
    fs.applyObjects(Seq(
      Entity("vec", Seq("vec_id"), ValueType.INT64),
      FeatureView("emb_fv", Seq("vec"),
        Seq(Feature("embedding", org.apache.spark.sql.types.DataType.fromDDL(
          "array<double>"))),
        SparkSource("emb_src", s"$sf0001/embeddings.parquet"))))
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val n = e.count()
    val maxId = e.agg(max(col("vec_id"))).head.getLong(0)
    val width = maxId / 2 + 1
    def slice(b: Long) = e.filter(
      col("vec_id") >= b * width && col("vec_id") < (b + 1) * width)
    for (kind <- Seq("ivf", "pq")) {
      fs.trainCodebook("emb_fv", "vec_id", "embedding", kind = kind)
      for (b <- 0L until 2L)
        fs.indexIncrement("emb_fv", slice(b), "vec_id", "embedding", b,
          kind = kind)
      // FRESH: one serving version; repair on a fresh state is a no-op
      assert(fs.indexHealth("emb_fv", kind = kind).collect()
        .map(_.getAs[Long]("is_serving")).toSeq === Seq(1L))
      assert(fs.repairIndex("emb_fv", e, "vec_id", "embedding",
        kind = kind) === Seq.empty,
        s"$kind: repairing a fresh state must touch nothing")
      // RETRAIN (different content, same slot) -> whole state stale
      val retrained = (if (kind == "ivf")
        Similarity.lloydCentroids(e, "vec_id", "embedding", 16, 1)
      else Similarity.lloydPqCodebook(e, "vec_id", "embedding", iters = 1)
        .withColumn("n_sub", lit(8)).withColumn("sub_dim", lit(8)))
        .localCheckpoint(true)
      CodebookStore.save(retrained,
        CodebookStore.codebookPath(regPath, s"emb_fv__${kind}16x3"))
      assert(fs.indexHealth("emb_fv", kind = kind).collect()
        .map(_.getAs[Long]("is_serving")).toSeq === Seq(0L),
        s"$kind: post-retrain state must read stale")
      // GC before repair would fold ZERO serving survivors — refused,
      // because the swap-in would be a footerless dir
      intercept[IllegalArgumentException] {
        fs.gcIndex("emb_fv", kind = kind)
      }
      // REPAIR through the facade: both stale partitions rewritten;
      // health returns to a single serving version at full coverage
      assert(fs.repairIndex("emb_fv", e, "vec_id", "embedding",
        kind = kind) === Seq(0L, 1L))
      val h = fs.indexHealth("emb_fv", kind = kind).collect()
      assert(h.length == 1 && h.head.getAs[Long]("is_serving") == 1L &&
        h.head.getAs[Long]("n_batches") == 2L,
        s"$kind: repaired health: ${h.toSeq}")
      if (kind == "ivf") {
        assert(h.head.getAs[Long]("n_rows") == n)
        // facade repair == from-scratch assignment under the stored
        // codebook (the hand-wired verb's own proven equivalence)
        val after = spark.read.parquet(s"${fs.indexStatePath("emb_fv")}/assign")
          .select(col("vec_id"), col("cid").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val scratch = Similarity.assignToCodebook(e, "vec_id", "embedding",
            fs.codebookFor("emb_fv").get)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(after === scratch,
          "facade repair must equal the from-scratch assignment")
      }
      // a third increment under the NEW codebook, then GC: the fold
      // keeps every serving-version row and the state stays whole
      // (nothing here is non-serving after the repair — GC must be
      // a pure fold, never a row loss)
      fs.indexIncrement("emb_fv", slice(0L).limit(7), "vec_id",
        "embedding", 2L, kind = kind)
      fs.gcIndex("emb_fv", kind = kind)
      val g = fs.indexHealth("emb_fv", kind = kind).collect()
      assert(g.length == 1 && g.head.getAs[Long]("is_serving") == 1L,
        s"$kind: post-GC health: ${g.toSeq}")
      if (kind == "ivf")
        assert(g.head.getAs[Long]("n_rows") == n + 7,
          s"GC must not lose serving rows: ${g.toSeq}")
    }
  }

  test("pq geometry persists in the artifact: non-8x8 round trip; mismatch throws") {
    val repo = java.nio.file.Files.createTempDirectory("geom_repo")
    val regPath = repo.resolve("registry.json").toString
    val fs = new FeatureStore(spark,
      RepoConfig("geom_demo", Some(regPath)), new HadoopRegistry(spark, regPath))
    fs.applyObjects(Seq(
      Entity("vec", Seq("vec_id"), ValueType.INT64),
      FeatureView("emb_fv", Seq("vec"),
        Seq(Feature("embedding", org.apache.spark.sql.types.DataType.fromDDL(
          "array<double>"))),
        SparkSource("emb_src", s"$sf0001/embeddings.parquet"))))
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val queries = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    // geometry is a pq concept — the ivf kind rejects it loudly
    intercept[IllegalArgumentException] {
      fs.trainCodebook("emb_fv", "vec_id", "embedding", nSub = 4, subDim = 16)
    }
    // non-default 4x16 geometry: train -> maintain -> serve through the
    // facade, each verb deriving the geometry from the artifact
    fs.trainCodebook("emb_fv", "vec_id", "embedding", kind = "pq",
      nSub = 4, subDim = 16)
    val stored = fs.codebookFor("emb_fv", kind = "pq").get
    assert(stored.select("n_sub", "sub_dim").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((4, 16)),
      "geometry must persist inside the artifact")
    val maxId = e.agg(max(col("vec_id"))).head.getLong(0)
    val width = maxId / 2 + 1
    for (b <- 0L until 2L)
      fs.indexIncrement("emb_fv",
        e.filter(col("vec_id") >= b * width && col("vec_id") < (b + 1) * width),
        "vec_id", "embedding", b, kind = "pq")
    val direct = Similarity.pqAdcFromState(spark,
      fs.indexStatePath("emb_fv", kind = "pq"), queries,
      "vec_id", "embedding", stored.drop("n_sub", "sub_dim"), k = 5,
      nSub = 4, subDim = 16)
    assert(rows(fs.searchIndex("emb_fv", queries, "vec_id", "embedding",
      topK = 5, kind = "pq")) === rows(direct),
      "facade 4x16 serve diverged from the hand-wired serve")
    // the persisted codes must really be 4-subspace rows
    val codeCols = spark.read
      .parquet(s"${fs.indexStatePath("emb_fv", kind = "pq")}/codes")
      .columns.filter(_.startsWith("code_")).sorted.toSeq
    assert(codeCols === (0 until 4).map(i => s"code_$i"),
      s"4x16 state must carry exactly code_0..code_3: $codeCols")
    // MISMATCH GUARD: an artifact whose declared geometry disagrees
    // with its own dim span must throw at resolve time, never mis-serve
    val lying = Similarity.lloydPqCodebook(e, "vec_id", "embedding",
        nSub = 4, subDim = 8, iters = 1) // spans 32 dims...
      .withColumn("n_sub", lit(8)).withColumn("sub_dim", lit(8)) // ...claims 64
      .localCheckpoint(true)
    CodebookStore.save(lying,
      CodebookStore.codebookPath(regPath, "emb_fv__pq16x3"))
    val ex = intercept[IllegalArgumentException] {
      fs.searchIndex("emb_fv", queries, "vec_id", "embedding", kind = "pq")
    }
    assert(ex.getMessage.contains("geometry"), ex.getMessage)
    // EMPTY artifact: a zero-row stored codebook aggregates to NULL
    // geometry — the operator must get the crafted corrupt-artifact
    // message, never an opaque NPE at Int unboxing (ADVICE r18)
    CodebookStore.save(lying.filter(lit(false)).localCheckpoint(true),
      CodebookStore.codebookPath(regPath, "emb_fv__pq16x3"))
    val exEmpty = intercept[IllegalStateException] {
      fs.searchIndex("emb_fv", queries, "vec_id", "embedding", kind = "pq")
    }
    assert(exEmpty.getMessage.contains("EMPTY"), exEmpty.getMessage)
    // same EMPTY message for a zero-row LEGACY artifact WITHOUT
    // geometry columns (ADVICE r19): it previously fell through to the
    // (8,8) default and failed the dims guard with a misleading
    // "spans 0 dims" mismatch message
    CodebookStore.save(
      lying.drop("n_sub", "sub_dim").filter(lit(false)).localCheckpoint(true),
      CodebookStore.codebookPath(regPath, "emb_fv__pq16x3"))
    val exEmptyLegacy = intercept[IllegalStateException] {
      fs.searchIndex("emb_fv", queries, "vec_id", "embedding", kind = "pq")
    }
    assert(exEmptyLegacy.getMessage.contains("EMPTY"), exEmptyLegacy.getMessage)
  }

  test("a retrained codebook refresh swaps atomically under a serving reader") {
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val cents = Similarity.lloydCentroids(e, "vec_id", "embedding", 16, 3)
    val base = tmpBase("cb_refresh")
    CodebookStore.save(cents, base)
    val serving = CodebookStore.load(spark, base).get // reader resolved v1
    // the staleness trigger fired: retrain on the drifted corpus, refresh
    val drifted = e.select(col("vec_id"),
      when(col("vec_id") % 3 === 0, array_sort(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    val cents2 = Similarity.lloydCentroids(drifted, "vec_id", "embedding", 16, 3)
    CodebookStore.save(cents2, base)
    // the in-flight reader still serves its resolved (immutable) version
    assert(serving.count() === cents.count(),
      "pre-swap reader must finish against its resolved version")
    // a fresh resolve serves the retrained artifact
    val v2 = CodebookStore.load(spark, base).get
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: Seq[_] => s.toList
        case x => x
      }).sortBy(_.toString).toSeq
    assert(flat(v2) === flat(cents2))
  }

  test("an aged orphaned CURRENT.tmp reads as no-artifact, not a wedged retry") {
    import spark.implicits._
    val base = tmpBase("cb_orphan")
    new java.io.File(base).mkdirs()
    val tmp = new java.io.File(base, "CURRENT.tmp")
    val w = new java.io.PrintWriter(tmp); w.print("v-dead"); w.close()
    assert(tmp.setLastModified(
      System.currentTimeMillis - ArtifactStore.orphanTmpHorizonMs - 5000))
    val t0 = System.nanoTime()
    assert(ArtifactStore.load(spark, base).isEmpty,
      "orphaned tmp with no pointer must read as no-artifact")
    assert((System.nanoTime() - t0) / 1e9 < 4.0,
      "orphan path must not spin the 5s retry deadline")
    // the next save overwrites the orphan and serves normally
    ArtifactStore.save(Seq((1L, "a")).toDF("id", "v"), base)
    assert(ArtifactStore.load(spark, base).get
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

}
