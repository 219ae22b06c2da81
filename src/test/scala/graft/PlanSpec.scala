package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions — the 100 TB posture checks (SURVEY §4):
  * filters and column pruning must reach the parquet scan, small dims
  * must broadcast, the PIT join must stay an equi-join (not a nested
  * loop), and dynamic partition overwrite must only touch written
  * partitions. These lock in plan shape so a regression that silently
  * de-optimizes (e.g. a filter stops pushing down) fails CI, not a
  * production run.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Count windows with an EMPTY partition spec — the single-reducer
    * global sort that kills plans at 100×. In formatted explain an
    * unpartitioned spec starts with an order clause (`col ASC/DESC …`)
    * or, if also unordered, directly with `specifiedwindowframe`;
    * partitioned specs start with a bare partition column. */
  private def unpartitionedWindows(p: String): Int =
    """windowspecdefinition\([^,()]*\s(?:ASC|DESC)""".r.findAllIn(p).length +
      """windowspecdefinition\(specifiedwindowframe""".r.findAllIn(p).length

  /** One entry per `SinglePartition` exchange: the detail blocks of that
    * exchange and of every operator under it, i.e. everything its single
    * reducer consumes. The tree section renders each child at a deeper
    * name column than its parent, so a subtree is the run of following
    * tree lines indented past the root. */
  private def singlePartitionSubtrees(p: String): Seq[String] = {
    val details = p.split("\n{2,}").flatMap { b =>
      """^\((\d+)\) """.r.findPrefixMatchOf(b).map(_.group(1).toInt -> b)
    }.toMap
    val tree = p.linesIterator.drop(1).takeWhile(_.trim.nonEmpty).toVector
    def col(l: String) = l.indexWhere(_.isLetter)
    def id(l: String) = """\((\d+)\)$""".r.findFirstMatchIn(l)
      .map(_.group(1).toInt)
    tree.indices.filter(i => id(tree(i)).flatMap(details.get)
        .exists(_.contains("Arguments: SinglePartition")))
      .map { i =>
        (tree(i) +: tree.drop(i + 1).takeWhile(col(_) > col(tree(i))))
          .flatMap(id).flatMap(details.get).mkString("\n\n")
      }
  }

  /** The PIT scan read off the physical plan tree, top window first:
    * per key group's Window, its partition column names and the
    * hash-partitioning column names of every shuffle under it, plus the
    * join operators under it. A cached entity frame is an
    * InMemoryTableScan leaf, so the entity's own lineage is not walked:
    * what is under a window is the scan's union of entity and feature
    * rows. */
  private def pitScans(df: org.apache.spark.sql.DataFrame)
      : Seq[(Set[String], Seq[Set[String]], Int)] = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def names(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      es.flatMap(_.references.map(_.name)).toSet
    physical.collect { case w: WindowExec => w }.map { w =>
      val shuffles = w.collect { case e: ShuffleExchangeExec =>
        e.outputPartitioning match {
          case h: HashPartitioning => names(h.expressions)
          case other => Set(other.toString)
        }
      }
      (names(w.partitionSpec), shuffles, w.collect { case j: BaseJoinExec => j }.size)
    }
  }

  /** The pins every PIT retrieval plan holds: one window per key group,
    * each partitioned on its keys with exactly its own hash exchange
    * beneath it (the top window sees one per group), no join anywhere
    * under the scan, an explicit running ROWS frame, no global window
    * and no cartesian product. */
  private def assertPitScan(df: org.apache.spark.sql.DataFrame,
      keyGroups: Seq[Set[String]]): String = {
    val p = plan(df)
    val scans = pitScans(df)
    assert(scans.map(_._1) === keyGroups, s"one window per key group:\n$p")
    scans.zipWithIndex.foreach { case ((keys, shuffles, joins), i) =>
      assert(shuffles === keyGroups.drop(i),
        s"window on $keys: one hash exchange per key group beneath it:\n$p")
      assert(joins === 0, s"a join sits under the PIT scan on $keys:\n$p")
    }
    assert("""specifiedwindowframe\(RowFrame, unboundedpreceding\$\(\), currentrow\$\(\)\)""".r
      .findAllIn(p).nonEmpty, s"PIT scan must use an explicit running ROWS frame:\n$p")
    assert(unpartitionedWindows(p) == 0, s"PIT scan must partition on its keys:\n$p")
    assert(!p.contains("CartesianProduct"), s"PIT scan degenerated:\n$p")
    p
  }

  test("filter+project pushes predicates and prunes columns at the scan") {
    val p = plan(Queries.filterProject(spark, sf0001))
    assert(p.contains("PushedFilters"), "no pushdown section in scan")
    assert(p.contains("l_returnflag"), p)
    // pruned read schema: none of the untouched wide columns
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      s"scan reads unneeded columns:\n$p")
  }

  test("join_agg broadcasts the small dimension tables") {
    val p = plan(Queries.joinAgg(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("PIT join: one keyed exchange under the window, no join") {
    assertPitScan(Queries.pitJoin(spark, sf0001), Seq(Set("user_id")))
  }

  test("PIT join pushes the entity-range prefilter into the feature scan") {
    val p = plan(Queries.pitJoin(spark, sf0001))
    // the entity-range bound lands as a pushed filter on the raw ns
    // column of the events scan (LessThan on the long, see SourceReader)
    assert(p.contains("LessThan(ts,") || p.contains("LessThanOrEqual(ts,"),
      s"entity-range prefilter not pushed to scan:\n$p")
  }

  test("multi-view PIT: one exchange per key group, bounds pushed") {
    // the o_custkey group chains onto the user_id group's output
    val p = assertPitScan(Queries.pitMultiView(spark, sf0001),
      Seq(Set("o_custkey"), Set("user_id")))
    // each view's entity-range prefilter reaches ITS source scan
    assert(p.contains("LessThan(ts,") || p.contains("LessThanOrEqual(ts,"),
      s"events-range prefilter not pushed:\n$p")
    assert(p.contains("LessThanOrEqual(o_orderdate,"),
      s"orders-range prefilter not pushed:\n$p")
  }

  test("hourly agg has exactly one exchange (partial -> final hash agg)") {
    val p = plan(Queries.hourlyAgg(spark, sf0001))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"too many shuffles for a single groupBy:\n$p")
    assert(p.contains("HashAggregate"))
  }

  test("whole-stage codegen covers the scan->project pipeline of scalar queries") {
    // formatted mode marks codegen stages with a leading '*'
    val p = plan(Queries.caseWhen(spark, sf0001))
    assert(p.contains("* Project"), s"no codegen span:\n$p")
  }

  test("custom expressions live inside codegen stages (no interpreted fallback)") {
    val df = Tables.load(spark, sf0001, "documents")
      .select(graft.functions.functions.rolling_hash(col("text")).as("h"))
    val p = plan(df)
    assert(p.contains("* Project"), s"rolling_hash fell out of codegen:\n$p")
  }

  test("dynamic partition overwrite replaces only written partitions") {
    val out = java.nio.file.Files.createTempDirectory("dyn").toString + "/t"
    val day1 = Seq(("2024-01-01", 1), ("2024-01-02", 2)).toDF("created", "v")
    graft.transform.Transforms.writePartitioned(day1, out, "created")
    // dynamic overwrite of only day 2 with new value
    val day2 = Seq(("2024-01-02", 99)).toDF("created", "v")
    graft.transform.Transforms.writePartitioned(day2, out, "created", dynamic = true)
    // partition column reads back as an inferred DATE; normalize
    val got = spark.read.parquet(out)
      .select(col("created").cast("string"), col("v")).orderBy("created")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got === Seq(("2024-01-01", 1), ("2024-01-02", 99)))
  }

  test("bucketed tables join without an exchange") {
    import graft.transform.Transforms
    Seq("ev_bucketed_a", "ev_bucketed_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val ev = Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "value")
    Transforms.writeBucketed(ev, "ev_bucketed_a", Seq("user_id"), 4)
    Transforms.writeBucketed(ev.withColumnRenamed("value", "value2")
      .drop("event_id"), "ev_bucketed_b", Seq("user_id"), 4)
    // disable auto-broadcast so the join exercises the bucketed SMJ path
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("ev_bucketed_a")
        .join(spark.table("ev_bucketed_b"), "user_id")
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange"),
        s"co-bucketed join should not shuffle:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("weather-gold chain is a single keyed shuffle with codegen around it") {
    val p = plan(Queries.weatherGoldChain(spark, sf0001))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"chained agg should not add shuffles:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"expected hash aggregation:\n$p")
  }

  test("fused minhash signature stage is shuffle-free") {
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val p = plan(graft.ops.Dedup.minhashSignaturesFused(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"),
      s"signature computation must be row-local (no shuffle):\n$p")
    assert(p.contains("* Project") || p.contains("* Filter"),
      s"minhash_sigs fell out of codegen:\n$p")
  }

  test("knn broadcast: query side is broadcast, corpus streams") {
    val p = plan(OpsQueries.knnBrute(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$p")
  }

  test("IVF corpus assignment partial-aggregates map-side (argmax, not a window)") {
    val p = plan(OpsQueries.ivfKnn(spark, sf0001))
    assert(p.contains("partial_max"),
      s"corpus->centroid assignment must be a partial-aggregating argmax " +
        s"(a window here shuffles centroid-count times the corpus):\n$p")
    // Window operator nodes (detail-section headers; \b excludes
    // WindowGroupLimit) — query-side multi-probe + two-phase top-k = 3;
    // a 4th would mean the corpus assignment regressed to a window
    val windows = """\(\d+\) Window\b""".r.findAllIn(p).length
    assert(windows <= 3, s"unexpected extra window stages ($windows):\n$p")
  }

  test("tfidf broadcasts the vocabulary side (no shuffle join on the Zipfian term key)") {
    val p = plan(OpsQueries.tfidf(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"df (vocabulary) side must broadcast — a shuffle join on `term` " +
        s"lands stopwords on one reducer at scale:\n$p")
    assert(!p.contains("SortMergeJoin"), s"term-key shuffle join reappeared:\n$p")
  }

  test("unigram LM broadcasts the model side (same Zipfian-term posture as tfidf)") {
    val p = plan(OpsQueries.unigramLm(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the vocabulary-sized unigram model must broadcast to the token bag:\n$p")
    assert(!p.contains("SortMergeJoin"), s"term-key shuffle join appeared:\n$p")
  }

  test("lm perplexity broadcasts the model; doc agg keyed, no global window") {
    val p = plan(OpsQueries.lmPerplexity(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the vocabulary-sized unigram model must broadcast to the (doc,term) frame:\n$p")
    assert(!p.contains("SortMergeJoin"), s"term-key shuffle join appeared:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the corpus-total scalar must ride a broadcast, not a cartesian:\n$p")
    assert(unpartitionedWindows(p) === 0, s"global window crept in:\n$p")
  }

  test("nearest-asof join: equi join with range residual, argmin agg, no window") {
    val p = plan(Queries.nearestAsof(spark, sf0001))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"nearest join must stay an equi join on the keys:\n$p")
    assert(!p.contains("CartesianProduct"), s"degenerated to a cartesian:\n$p")
    assert(unpartitionedWindows(p) === 0,
      s"nearest pick must be the keyed argmin agg, not a global window:\n$p")
  }

  test("time-to-convert: forward asof stays an equi join + keyed argmin, no window") {
    val p = plan(Queries.timeToConvert(spark, sf0001))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"forward asof must stay an equi join on the keys:\n$p")
    assert(!p.contains("CartesianProduct"), s"degenerated to a cartesian:\n$p")
    assert(unpartitionedWindows(p) === 0,
      s"earliest-future pick must be the keyed argmin agg, not a window:\n$p")
  }

  test("centroid drift: keyed exact aggs, count frame broadcasts, no window") {
    val p = plan(OpsQueries.centroidDriftQ(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the group-cardinality count frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(unpartitionedWindows(p) === 0, s"global window crept in:\n$p")
  }

  test("incremental LSH dedup: row-local signatures, band-key joins only, no window") {
    val p = plan(OpsQueries.incrementalLshDedupQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"band join degenerated to a cartesian:\n$p")
    assert(unpartitionedWindows(p) === 0, s"global window crept in:\n$p")
    // the batch signature stage must stay fused/row-local: no Exchange
    // may feed the minhash projection (shuffles appear only at/after the
    // band self-join + distinct)
    assert(p.contains("minhash_sigs") || p.contains("MinHashSigs"),
      s"fused signature expression missing from plan:\n$p")
  }

  test("semantic dedup broadcasts centroids; no unblocked cartesian pair stage") {
    val p = plan(OpsQueries.semanticDedup(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid assignment must broadcast the centroid set:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must stay keyed on the cluster block:\n$p")
    assert(p.contains("partial_max"),
      s"cluster assignment must be the partial-aggregating argmax:\n$p")
  }

  test("rollup expands grouping sets into ONE keyed agg pass, pivot stays one shuffle") {
    val pr = plan(Queries.rollupAgg(spark, sf0001))
    assert(pr.contains("Expand"), s"rollup should expand grouping sets:\n$pr")
    assert("Exchange".r.findAllIn(pr).length <= 2,
      s"rollup must be one keyed shuffle (partial -> final), not one scan per set:\n$pr")
    val pp = plan(Queries.pivotCounts(spark, sf0001))
    assert("Exchange".r.findAllIn(pp).length <= 2,
      s"explicit-value pivot must compile to conditional aggregation, one shuffle:\n$pp")
    // no value-discovery pass: an inferred pivot plans a distinct scan
    // first (formatted mode mentions each node twice: tree + details)
    assert("Scan parquet".r.findAllIn(pp).length <= 2,
      s"pivot re-scanned the source to discover values:\n$pp")
  }

  test("source-mix quota table broadcasts; ranking is the heap aggregate") {
    val p = plan(OpsQueries.sourceMix(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the config-sized quota table must broadcast:\n$p")
    assert(p.contains("collect_top_k"),
      s"per-source ranking must cut through the bounded-heap aggregate:\n$p")
    assert(!p.contains("Window"),
      s"the aggTopK migration must leave no rank window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("bucketed sessionizer windows partition on (key, bucket), no global sort") {
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val p = plan(graft.transform.Transforms.sessionizeBucketed(
      ev, "user_id", "event_id", "us",
      gapUs = 1800L * 1000000L, bucketUs = 3600L * 1000000L,
      persistIntermediate = false))
    assert(p.contains("__bkt"),
      s"event windows must be bounded by the time bucket:\n$p")
    val globalSorts = "(?m)Sort \\[.*\\], true".r.findAllIn(p).length
    assert(globalSorts === 0, s"global sort in bucketed sessionize plan:\n$p")
  }

  test("sessionize plans one keyed window, no global sort") {
    val p = plan(Queries.sessionize(spark, sf0001))
    // Sort nodes must all be partition-local (window sort within user);
    // a global Sort (`, true` in the node args) would mean an accidental
    // orderBy crept in
    val globalSorts = "(?m)Sort \\[.*\\], true".r.findAllIn(p).length
    assert(globalSorts === 0, s"global sort in sessionize plan:\n$p")
  }

  test("zscore stats side broadcasts; the data side never reshuffles for the join") {
    val p = plan(Queries.zscoreScale(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"group-cardinality stats table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"data side reshuffled:\n$p")
  }

  test("bigram coverage: top-K is TakeOrdered (no global sort) and broadcasts") {
    val p = plan(OpsQueries.bigramCoverage(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrdered, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the K-bounded reference table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the Zipfian bigram key must never be a shuffle-join key:\n$p")
  }

  test("opt-out purge plans a broadcast anti-join") {
    val p = plan(Queries.purgeOptOut(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"blocklist must broadcast as LEFT ANTI:\n$p")
  }

  test("full outer join plans sort-merge (both sides preserved, no broadcast)") {
    val p = plan(Queries.fullOuterRecon(spark, sf0001))
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"full outer must be a sort-merge join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("manifest verify: hint-free shuffled full outer diff") {
    // a broadcast hash join cannot keep the build side's unmatched rows,
    // so a broadcast hint on a full outer join is dropped with a
    // HintErrorLogger warning on every call: the diffs carry none and
    // plan as a shuffled full outer join
    import graft.pipelines.CorpusManifest
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val root = java.nio.file.Files.createTempDirectory("manifest-plan").toString
    val docs = Seq((1L, "alpha beta", "web"), (2L, "gamma", "pdf"))
      .toDF("doc_id", "text", "source")
    CorpusManifest.write(docs, root, Seq("source"), "doc_id", "text")
    // two state tables: with one, both sides' table name is the same
    // literal and the equi-condition folds away
    Seq("dd", "ledger").foreach(t => docs.write.parquet(s"$root/state/$t/batch=0"))
    val diffs = Seq(
      CorpusManifest.verify(spark, root, Seq("source"), "doc_id", "text"),
      CorpusManifest.verifyState(spark, s"$root/state", CorpusManifest
        .stateManifest(spark, s"$root/state", Seq("dd", "ledger")).localCheckpoint(true)))
    diffs.foreach { d =>
      val p = plan(d)
      assert(d.queryExecution.analyzed.collect { case h: ResolvedHint => h }.isEmpty,
        s"a join hint is left in the manifest diff:\n${d.queryExecution.analyzed}")
      assert(p.contains("FullOuter") &&
        (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
        s"manifest diff must be a shuffled full outer join:\n$p")
      assert(!p.contains("BroadcastHashJoin"), p)
    }
  }

  test("sliding windows expand per-row then aggregate in one keyed pass") {
    val p = plan(Queries.slidingWindowAgg(spark, sf0001))
    assert(p.contains("Expand") || p.contains("Generate"),
      s"sliding window must expand the per-row window set:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"more than one shuffle for a single keyed agg:\n$p")
  }

  test("label centroids: posexplode then ONE keyed agg shuffle") {
    val p = plan(OpsQueries.labelCentroids(spark, sf0001))
    assert(p.contains("Generate"), s"expected posexplode generator:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"more than one shuffle for explode+agg:\n$p")
  }

  test("cube expands the full grouping lattice into one keyed agg pass") {
    val p = plan(Queries.cubeAgg(spark, sf0001))
    assert(p.contains("Expand"), s"cube must expand grouping sets:\n$p")
    // formatted explain prints each node in the tree AND the details
    // section — one scan node appears twice
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      s"cube re-scanned the source per grouping set:\n$p")
  }

  test("MAD outlier screen broadcasts both group-stats frames") {
    val p = plan(Queries.madOutliers(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"median and MAD frames must both broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the data side must never reshuffle for a stats join:\n$p")
  }

  test("histogram bounds are a 1-row broadcast; ONE keyed agg on the bucket id") {
    val p = plan(Queries.histogramBuckets(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bounds frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"1-row bounds must not plan a cartesian:\n$p")
  }

  test("corr moment sums are one keyed agg pass (no corr() double accumulators)") {
    val p = plan(Queries.corrStats(spark, sf0001))
    // partial + final hash agg around exactly one exchange, plus AQE read
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"more than one shuffle for grouped moment sums:\n$p")
    assert(!p.toLowerCase.contains("pearson"),
      s"must use exact decimal sums, not the built-in corr():\n$p")
  }

  test("PMI joins broadcast the vocabulary marginals (Zipfian term key never shuffle-joins)") {
    val p = plan(OpsQueries.pmiCollocations(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"both marginal joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token-key shuffle join would hot-spot at scale:\n$p")
  }

  test("ewma reuses the window's user partitioning for the final agg (ONE shuffle)") {
    val p = plan(Queries.ewmaRecency(spark, sf0001))
    // formatted explain prints each node name in the tree AND details
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"groupBy(user_id) must reuse the window's hashpartitioning:\n$p")
  }

  test("rank family is one partitioned window pass, no global sort") {
    val p = plan(Queries.rankFamily(spark, sf0001))
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"more than the one window shuffle:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"partitioned window must not globally sort:\n$p")
  }

  test("negative sampling joins on the scrambled neg id, no cartesian") {
    val p = plan(OpsQueries.negativePairs(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"N-row corpus must never cartesian:\n$p")
    assert(p.contains("Join"), s"expected a keyed join on neg_id:\n$p")
  }

  test("source overlap broadcasts both size frames") {
    val p = plan(OpsQueries.sourceOverlap(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"the S-row size table must broadcast twice:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("PSI drift: every stats-frame join broadcasts, no corpus-key shuffle join") {
    val p = plan(Queries.psiDrift(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"bucket-count/total frames must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("JSD drift: stats-frame joins broadcast; window rides the key partitioning") {
    val p = plan(Queries.jsdDrift(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"bucket-count/total frames must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
    assert(unpartitionedWindows(p) == 0, s"jsd_cum must partition by key:\n$p")
  }

  test("l-diversity: one distinct-agg on the QI tuple — no window, no join explosion") {
    val p = plan(OpsQueries.lDiversityQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"), s"QI classes must hash-aggregate:\n$p")
  }

  test("zorder layout: row-local codegen interleave + ONE keyed agg, no shuffle join") {
    val p = plan(Queries.zorderLayout(spark, sf0001))
    assert(unpartitionedWindows(p) == 0)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // codegen of InterleaveBits itself is pinned in FunctionsSpec
    // (CODEGEN_ONLY); here pin that it evaluates row-local in a Project
    assert(p.contains("interleave_bits"), s"expression missing from plan:\n$p")
    assert(p.contains("HashAggregate"))
  }

  test("novelty curve: bag consumed without distinct; ONE bounded 20-row global window") {
    val p = plan(OpsQueries.noveltyCurve(spark, sf0001))
    // exactly the one checkpoint-frame window — bounded at 20 rows by
    // construction, NOT corpus-scale; anything more is a regression
    assert(unpartitionedWindows(p) == 1, s"expected exactly one tiny window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("gini: joinless; running count rides the key-partitioned VALUE-DOMAIN frame") {
    val p = plan(OpsQueries.giniConcentration(spark, sf0001))
    assert(!p.contains("Join"), s"gini needs no join:\n$p")
    assert(unpartitionedWindows(p) == 0, s"window must partition by key:\n$p")
    // the window consumes the (key, value) aggregate, not the corpus:
    // plans print top-down, so an agg BELOW the window appears after it
    val win = p.indexOf("Window")
    assert(win >= 0 && p.lastIndexOf("HashAggregate") > win,
      s"window must ride the aggregated value-domain frame:\n$p")
  }

  test("oov rate: vocab cut is TakeOrdered; vocab broadcasts; no global window") {
    val p = plan(OpsQueries.oovRate(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"vocab cut must TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"K-row vocab must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(unpartitionedWindows(p) == 0)
  }

  test("benford: PSI posture — grid/count frames broadcast, key-partitioned window") {
    val p = plan(Queries.benfordScreen(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"count/total frames must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(unpartitionedWindows(p) == 0)
  }

  test("event lift: user-keyed pair join, broadcast count frames, no window") {
    val p = plan(Queries.eventLift(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"n_t frames must broadcast:\n$p")
    assert(unpartitionedWindows(p) == 0)
  }

  test("kmv: min-k is a mergeable heap aggregate — no rank window at all") {
    val p = plan(Queries.kmvDistinct(spark, sf0001))
    assert(p.contains("collect_top_k"),
      s"min-64 must cut through the bounded-heap aggregate:\n$p")
    assert(!p.contains("Window"),
      s"the aggTopKArray migration must leave no rank window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup eval: label frames broadcast onto bucket pairs; no global window") {
    val p = plan(OpsQueries.dedupEval(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"label frames must broadcast:\n$p")
    assert(unpartitionedWindows(p) == 0)
  }

  test("fd profile: distinct-aggs only — no join, no window") {
    val p = plan(OpsQueries.fdProfile(spark, sf0001))
    assert(!p.contains("Join"), s"FD profiling needs no join:\n$p")
    assert(unpartitionedWindows(p) == 0)
    assert(p.contains("HashAggregate"))
  }

  test("mmr rerank: salted candidate prune engages; all windows key-partitioned") {
    // pin the candidate stage directly — mmrRerank's eager checkpoints
    // truncate the final explain at a LogicalRDD
    val e = Tables.load(spark, sf0001, "embeddings")
    val p = plan(graft.ops.Similarity.mmrCandidates(
      e, e.filter(col("vec_id") < 8), "vec_id", "embedding", topN = 8))
    assert(p.contains("WindowGroupLimit"),
      s"candidate top-N must push the rank limit:\n$p")
    assert(unpartitionedWindows(p) == 0)
    assert(!p.contains("CartesianProduct"))
  }

  test("join forecast: counts-only plan with TakeOrdered cut — never the joined rows") {
    // post-checkpoint stage: the checkpointed key-domain frame feeds a
    // distributed agg (broadcast back as a 1-row crossJoin) and the
    // TakeOrdered cut — NO unpartitioned window anywhere (ADVICE r17:
    // the prior global-window total funneled the whole key domain
    // through one reducer), and no input rescans (the checkpoint is
    // the one materialization)
    val p = plan(Queries.joinForecast(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"top-K must TakeOrdered:\n$p")
    assert(unpartitionedWindows(p) == 0,
      s"the total must be a distributed agg, not a global window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Scan parquet"),
      s"post-checkpoint forecast must not rescan inputs:\n$p")
    // pre-checkpoint stage (the input side): each input scanned ONCE —
    // events feeds both sides of the self-forecast, so exactly 2
    // scans; collapse to 1 via ReuseExchange is also acceptable — and
    // only count joins of count frames, never the joined rows
    val e = graft.Tables.load(spark, sf0001, "events").select(col("user_id"))
    val per = plan(graft.transform.Skew.forecastPerKey(
      e.groupBy(col("user_id")).agg(count(lit(1)).as("n_a")),
      e.groupBy(col("user_id")).agg(count(lit(1)).as("n_b")),
      Seq("user_id")))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(per).size
    assert(scans <= 2, s"forecast must not rescan its inputs:\n$per")
    assert(unpartitionedWindows(per) == 0 && !per.contains("CartesianProduct"))
  }

  test("seasonal profile: only the tiny grid joins; trend window rides the hourly agg") {
    val p = plan(Queries.seasonalProfileQ(spark, sf0001))
    // the key×24 coverage grid is the single (broadcastable) join
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"only the tiny grid may join:\n$p")
    assert(unpartitionedWindows(p) == 0, s"window must partition by key:\n$p")
    val win = p.indexOf("Window")
    assert(win >= 0 && p.lastIndexOf("HashAggregate") > win,
      s"window must consume the hourly aggregate:\n$p")
  }

  test("semantic decontam: holdout broadcasts; row-local scoring; no window") {
    val p = plan(OpsQueries.semanticDecontamination(spark, sf0001))
    assert(p.contains("Broadcast"), s"holdout side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(unpartitionedWindows(p) == 0)
  }

  test("importance weights: PSI posture — broadcast stats frames, key window only") {
    val p = plan(Queries.importanceWeights(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"count/total frames must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(unpartitionedWindows(p) == 0)
  }

  test("ngram containment: q18 candidate posture — capped blocks, no cartesian") {
    val p = plan(OpsQueries.ngramContainmentQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert(unpartitionedWindows(p) == 0)
  }

  test("source boilerplate matrix: fp-keyed self-join, no window, no cartesian") {
    val p = plan(OpsQueries.sourceBoilerplateMatrix(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert(unpartitionedWindows(p) == 0)
  }

  test("dedup savings: one fingerprint-keyed join, no window") {
    val p = plan(OpsQueries.dedupSavings(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert(unpartitionedWindows(p) == 0)
  }

  test("burstiness: joinless; lag window rides the (type,user) partitioning") {
    val p = plan(Queries.burstiness(spark, sf0001))
    assert(!p.contains("Join"), s"burstiness needs no join:\n$p")
    assert(unpartitionedWindows(p) == 0)
  }

  test("grouping sets expand into ONE keyed agg pass (no per-set rescan)") {
    val p = plan(Queries.groupingSets(spark, sf0001))
    assert(p.contains("Expand"), s"grouping sets must expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      s"re-scanned the source per grouping set:\n$p")
  }

  test("correlated EXISTS/scalar subqueries decorrelate into joins") {
    val p = plan(Queries.existsSubquery(spark, sf0001))
    assert(p.contains("LeftSemi") || p.contains("ExistenceJoin"),
      s"EXISTS must decorrelate to a semi join:\n$p")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS must decorrelate to an anti join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"correlated subqueries must not re-execute per outer row:\n$p")
  }

  test("fuzzy match: gram path is a keyed equi-join; only the alphabet-bounded short bucket loops") {
    val p = plan(OpsQueries.fuzzyMatch(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"fuzzy join must never cartesian the corpus:\n$p")
    // the candidate join is an equi-join on the gram key
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"),
      s"expected a keyed gram join:\n$p")
    // the short bucket (len <= q*(k+1)-1 both sides) is the only
    // nested-loop branch, and both its inputs are length-filtered
    val bnlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(bnlj <= 1, s"more than the one short-bucket loop join:\n$p")
  }

  test("gap fill: segment-emit plan has no join and at most two keyed exchanges") {
    val p = plan(Queries.gapFillHourly(spark, sf0001))
    assert(!p.contains("Join"), s"segment emit must not grid-join:\n$p")
    // hourly agg shuffle (user, hour) + window shuffle (user); nothing else
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 2,
      s"gap fill must not reshuffle beyond agg+window:\n$p")
    assert(p.contains("Generate"), s"expected the sequence explode:\n$p")
  }

  test("scd2: windows and run agg all reuse ONE key partitioning") {
    val p = plan(Queries.scd2Versions(spark, sf0001))
    // one exchange on user_id serves change-detect window, run groupBy
    // (clustering on (user, version) is satisfied by user hash) and the
    // closing lead() window
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 1,
      s"scd2 must stay on the single user_id partitioning:\n$p")
    assert(!p.contains("Join"))
  }

  test("transitions: one corpus window, share window bounded by the attr domain") {
    val p = plan(Queries.eventTransitions(spark, sf0001))
    assert(!p.contains("Join"))
    // corpus-sized: user window shuffle + (from,to) agg; the from_type
    // share window runs on |domain|^2 rows
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 3,
      s"transition matrix should be window+agg+tiny-window:\n$p")
  }

  test("inverted index: posting cap is a mergeable heap aggregate, no window") {
    val p = plan(OpsQueries.invertedIndexQ(spark, sf0001))
    assert(p.contains("collect_top_k"),
      s"the posting cap must cut through the bounded-heap aggregate:\n$p")
    assert(!p.contains("Window"),
      s"the aggTopKArray migration must leave no rank window:\n$p")
    assert(!p.contains("CartesianProduct"))
    // stats and postings meet in a term-keyed join, never a loop join
    assert(!p.contains("BroadcastNestedLoopJoin"), s"loop join appeared:\n$p")
  }

  test("quantize_i8 is shuffle-free and stays inside codegen") {
    val p = plan(OpsQueries.quantizeEmbeddings(spark, sf0001))
    assert(!p.contains("Exchange"),
      s"quantization must be row-local:\n$p")
    assert(p.contains("* Project"), s"quantize_i8 fell out of codegen:\n$p")
  }

  test("pagerank round is an equi-join + keyed agg, no cartesian, no loop join") {
    // checkpoint=false so the full iterative plan is inspectable
    val edges = Tables.load(spark, sf0001, "orders")
      .join(Tables.load(spark, sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
    val p = plan(graft.ops.Graph.pagerankFixedPoint(edges, 2, checkpoint = false))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pagerank joins must stay keyed:\n$p")
    assert(p.contains("HashAggregate"), s"expected keyed destination agg:\n$p")
  }

  test("linear count: sketch and exact branches join broadcast on the key domain") {
    val p = plan(Queries.linearCount(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"domain-sized occupied/exact frames must broadcast-join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("triangles: wedge build and closing are keyed equi-joins, never loops") {
    val p = plan(OpsQueries.triangles(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle counting must stay on keyed joins:\n$p")
    assert(p.contains("Join"), s"expected the wedge/closing joins:\n$p")
  }

  test("bm25 keeps the tfidf posture: vocabulary broadcasts, doc-key joins stay keyed") {
    val p = plan(OpsQueries.bm25(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"df (vocabulary) side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") || !p.contains("term"),
      s"term-key shuffle join appeared:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("item similarity: both item-count frames broadcast; pair join stays keyed") {
    val p = plan(OpsQueries.itemSimilarity(spark, sf0001))
    assert("""\(\d+\) BroadcastHashJoin""".r.findAllIn(p).length >= 2,
      s"the dimension-sized n_i/n_j frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("k-core round is a degree agg + two keyed joins, never a loop join") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val p = plan(graft.ops.Graph.kCore(edges, k = 2, rounds = 2, checkpoint = false))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"peeling must stay on keyed joins:\n$p")
    assert(p.contains("HashAggregate"), s"expected the degree agg:\n$p")
  }

  test("feature hash: one keyed agg on (doc, bucket), no vocabulary join anywhere") {
    val p = plan(OpsQueries.featureHash(spark, sf0001))
    assert(!p.contains("Join"), s"the hashing trick must need no vocab join:\n$p")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 1,
      s"expected a single keyed agg shuffle:\n$p")
  }

  test("pps sample: one stratum window pass, no join, no global sort") {
    val p = plan(OpsQueries.ppsSampleQ(spark, sf0001))
    assert(!p.contains("Join"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 1,
      s"pps must be one stratum-keyed window shuffle:\n$p")
    assert(!p.contains("Sort [") || !p.contains("global=true"),
      s"no global sort — only within stratum partitions:\n$p")
  }

  test("skyline: windowed rewrite — frontier semi-join, no quadratic self-join") {
    val p = plan(Queries.skylineCustomers(spark, sf0001))
    assert(p.contains("LeftSemi"), s"expected the frontier semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the dominance anti-join must never appear:\n$p")
  }

  test("binary files: distributed binaryFile scan, row-local projection") {
    val p = plan(OpsQueries.binaryFilesQ(spark, sf0001))
    assert(p.contains("binaryFile"), s"expected the binaryFile source:\n$p")
    assert(!p.contains("Exchange"), s"path-parse + md5 must be row-local:\n$p")
  }

  test("attribution: one user-window pass, no join") {
    val p = plan(Queries.lastTouchAttribution(spark, sf0001))
    assert(!p.contains("Join"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 1,
      s"last-touch must be a single keyed window:\n$p")
  }

  test("cuped: per-user frame aggregates once; global moments ride a 1-row broadcast") {
    val p = plan(Queries.cupedReadout(spark, sf0001))
    assert(!p.contains("SortMergeJoin"),
      s"nothing in CUPED justifies a shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row moment/cut frames must broadcast:\n$p")
  }

  test("trailing window: one keyed RANGE-frame window, no join, no expansion") {
    val p = plan(Queries.trailingWindow(spark, sf0001))
    assert(!p.contains("Join") && !p.contains("Generate"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 1,
      s"time-bounded rolling agg is one user-keyed window:\n$p")
  }

  test("quantile normalize (default) has NO unpartitioned window; slot lookup broadcasts") {
    val p = plan(Queries.quantileNormalize(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"single-reducer global window crept back into the default path:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"slot representatives must broadcast onto the rows:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only broadcast-bounded frames may loop-join:\n$p")
    // detector sanity: the exact opt-in path DOES plan one global window
    val pe = plan(Queries.quantileNormalizeImpl(spark, sf0001, 1024, exact = true))
    assert(unpartitionedWindows(pe) == 1,
      s"detector failed to flag the exact path's global window:\n$pe")
  }

  test("unpivot: stack() is ONE Generate pass, not a union of rescans") {
    val p = plan(Queries.unpivotWide(spark, sf0001))
    assert(p.contains("Generate") || p.contains("Expand"),
      s"expected the stack expansion:\n$p")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 1,
      s"melt must not rescan the source per column:\n$p")
  }

  test("randomized response adds zero shuffle over the plain flag count") {
    val p = plan(Queries.randomizedResponse(spark, sf0001))
    assert(!p.contains("Join"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 2,
      s"user agg + etype agg only:\n$p")
  }

  test("nfc_normalize stays inside whole-stage codegen") {
    val p = plan(OpsQueries.nfcNormalizeDocs(spark, sf0001))
    assert(p.contains("* Project"), s"no codegen span:\n$p")
    assert(!p.contains("Exchange"),
      s"row-local normalization must not shuffle:\n$p")
  }

  test("auc: joinless — user agg, score agg, cohort window, final agg reuses partitioning") {
    val p = plan(Queries.aucCohorts(spark, sf0001))
    assert(!p.contains("Join"), s"AUC needs no join:\n$p")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 3,
      s"user agg + score agg + cohort window (final agg reuses):\n$p")
  }

  test("chi2 screen: stack is one Generate; two keyed aggs, no join") {
    val p = plan(Queries.chi2Screen(spark, sf0001))
    assert(!p.contains("Join"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 2,
      s"user agg + feature agg only:\n$p")
  }

  test("interpolate: segment-emit — no join, no grid frame, two keyed exchanges max") {
    val p = plan(Queries.interpolateHourly(spark, sf0001))
    assert(!p.contains("Join"), s"segment emit must not join a grid:\n$p")
    assert(p.contains("Generate"), s"expected the sequence explode:\n$p")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 2,
      s"hourly agg + one key window only:\n$p")
  }

  test("purged folds: bounds/fold frames broadcast; no shuffle join, no sort") {
    val p = plan(Queries.purgedFolds(spark, sf0001))
    assert(!p.contains("SortMergeJoin"),
      s"K-row frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("quality audit: row-local rules fuse into one scan; RI anti-join broadcasts") {
    val p = plan(OpsQueries.qualityAudit(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"dimension keys must broadcast into the anti join:\n$p")
    // 4 row-local rules fuse into ONE lineitem scan; unique adds one,
    // RI adds two (checked + anti) plus the orders dim = 5 total. A
    // rule-at-a-time plan would be 8+.
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 5,
      s"rule-at-a-time rescans detected:\n$p")
  }

  test("jaccard prefix join: df frame broadcasts; candidate/verify joins stay keyed") {
    val p = plan(OpsQueries.jaccardPrefix(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"df (vocabulary) join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"prefix join must stay an equi-join:\n$p")
  }

  test("cms hitters: probe frame broadcasts onto the 1024-row sketch; top-k is TakeOrdered") {
    val p = plan(OpsQueries.cmsHitters(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"probes must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"exact top-k must not globally sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("chunking is fully row-local: no exchange, one Generate, codegen project") {
    val p = plan(OpsQueries.chunkDocs(spark, sf0001))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate") && p.contains("* Project"), p)
  }

  test("rrf fusion: TakeOrdered rankers and cut, ZERO windows in the whole plan") {
    val p = plan(OpsQueries.rrfUsers(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not globally sort:\n$p")
    // rankers are built by topNRanker: no Window operator anywhere —
    // ranking the full user universe through one reducer is the shape
    // this query exists to avoid
    assert(!"""\(\d+\) Window\b""".r.findAllIn(p).hasNext,
      s"a window crept into the ranker build:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("bpe merges: corpus touched once (vocab agg); rounds run on the vocab frame") {
    val p = plan(OpsQueries.bpeMergesQ(spark, sf0001))
    // every round re-derives from the one vocab agg lineage — the
    // corpus parquet itself must be scanned once per union branch at
    // most; windows are word-partitioned; 1-row winner frames may
    // broadcast-loop but nothing may cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(unpartitionedWindows(p) == 0,
      s"pair adjacency must use word-partitioned windows:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"winner selection must be TakeOrdered, not a global sort:\n$p")
  }

  test("golden records: argmax agg not a window; output-scale cluster frame broadcasts") {
    val p = plan(OpsQueries.goldenRecords(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, p)
    assert(!"""\(\d+\) Window\b""".r.findAllIn(p).hasNext,
      s"survivorship must be an argmax agg, not a per-cluster window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cluster frame must broadcast onto the docs:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ols trend: one keyed agg, no join, no window") {
    val p = plan(Queries.olsTrend(spark, sf0001))
    assert(!p.contains("Join") && !"""\(\d+\) Window\b""".r.findAllIn(p).hasNext, p)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 1,
      s"exact moments are a single partial->final agg:\n$p")
  }

  test("source novelty: keyed aggs only; the shingle frame is never broadcast") {
    val p = plan(OpsQueries.sourceNovelty(spark, sf0001))
    assert(!"""\(\d+\) Window\b""".r.findAllIn(p).hasNext,
      s"first-seen must be an argmin agg, not a window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("bpe encode: vocab frame broadcasts onto the word explode; no windows on the corpus path") {
    val p = plan(OpsQueries.bpeEncode(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"per-word token counts must broadcast onto the corpus explode:\n$p")
    assert(unpartitionedWindows(p) == 0, p)
    assert(!p.contains("CartesianProduct"))
  }

  test("png decode histogram is fully row-local: zero exchanges") {
    val p = plan(OpsQueries.pngDecodeHistogram(spark, sf0001))
    assert(!p.contains("Exchange"),
      s"generate+decode+histogram must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected the posexplode:\n$p")
  }

  test("calibration: bounds ride a 1-row broadcast; one keyed agg on the bin id") {
    val p = plan(Queries.calibrationReadout(spark, sf0001))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"only the 1-row bounds frame may broadcast-loop:\n$p")
    // user agg + bin agg on the main path, user agg + 1-row reduce on
    // the bounds path (two-pass min/max is inherent) = 4 exchanges
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 4,
      s"more shuffles than the two-pass layout needs:\n$p")
  }

  test("hll distinct: register state is m rows/key; sketch-exact join broadcasts") {
    val p = plan(OpsQueries.hllShingles(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      s"key-domain frames must broadcast:\n$p")
  }

  test("temperature mix: quota frame broadcasts onto the ranked sample") {
    val p = plan(OpsQueries.temperatureMix(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), s"quotas must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("windowed funnel: three chained stage windows on ONE user exchange, no join") {
    val p = plan(Queries.windowedFunnel(spark, sf0001))
    assert(!p.contains("Join"), s"funnel stages must not join back:\n$p")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 2,
      s"one user partitioning + the 1-row readout:\n$p")
  }

  test("ks test: joinless — value agg, cohort CDF window, final max reuses partitioning") {
    val p = plan(Queries.ksDrift(spark, sf0001))
    assert(!p.contains("Join"), s"KS needs no join:\n$p")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 2,
      s"(cohort,v) agg + cohort window only:\n$p")
  }

  test("spearman: rank/tie windows and the moment agg stay on key partitionings, no join") {
    val p = plan(Queries.spearmanStats(spark, sf0001))
    assert(!p.contains("Join"))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 4,
      s"two rank + two tie windows max:\n$p")
  }

  test("dup passages: fp-keyed aggs/joins only — no window, no cartesian, pruned scan") {
    val p = plan(OpsQueries.duplicatePassagesQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"no global window allowed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    // only doc_id/text/source are consumed — the scan must prune the rest
    assert(!p.contains("n_chars"), s"scan reads unneeded columns:\n$p")
  }

  test("snapshot diff: ONE PK-keyed full-outer join, row-local change detection") {
    val p = plan(Queries.snapshotDiffOrders(spark, sf0001))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"diff must be a keyed join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert("""Join""".r.findAllIn(p).toSeq.nonEmpty &&
      """\(\d+\) \w*Join""".r.findAllIn(p).length == 1,
      s"exactly one join in the diff:\n$p")
  }

  test("simhash hamming join: banded equi-join, no cartesian, no window") {
    val p = plan(OpsQueries.simhashHammingJoin(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"pigeonhole banding degenerated to all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"candidate join must be keyed:\n$p")
    assert(unpartitionedWindows(p) == 0)
    // signatures are codegen'd row-local work
    assert(p.contains("simhash64") || p.contains("SimHash64"), p)
  }

  test("lateness profile: event-scale windows are chunk-partitioned; the only global window rides the 1/8192 summary frame") {
    val p = plan(Queries.latenessProfile(spark, sf0001))
    // exactly ONE unpartitioned window — the metadata-scale chunk prefix
    assert(unpartitionedWindows(p) == 1,
      s"expected exactly the chunk-summary prefix window:\n$p")
    // the chunk prefix frame broadcasts back onto events
    assert(p.contains("BroadcastHashJoin"), s"prefix map must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("pq codes: broadcast codebook, keyed aggs only — no window, no cartesian") {
    val p = plan(OpsQueries.pqCodesQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"argmin must be an agg:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"codebook must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("pq adc: distance table broadcasts; scoring is keyed aggs + salted top-k, no global window") {
    val p = plan(OpsQueries.pqAdcQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"per-query rank must stay salted:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"ADC table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("zone maps: both layouts windowless; only metadata-scale frames meet the predicate loop") {
    val p = plan(Queries.zoneMapPruning(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"linear rank must ride the interval machinery:\n$p")
    assert(p.contains("interleave_bits"), s"z-order side must be row-local:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 3-row broadcast predicate frame may loop-join:\n$p")
  }

  test("label noise: salted knn, keyed label joins (no corpus-scale broadcast hint), no unpartitioned window") {
    val p = plan(OpsQueries.labelNoiseQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"voting must stay keyed:\n$p")
    // the anchor frame broadcast inside bruteForceTopK is the ONLY
    // hinted broadcast; (id, label) maps join keyed (AQE may still
    // broadcast them at runtime when small)
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastHashJoin"),
      s"anchor side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("hard negatives: label constraint inside the broadcast join, salted top-k only") {
    val p = plan(OpsQueries.hardNegativesQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"ranking must stay salted:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"anchor side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("compaction plan: one source-partitioned window, no global sort") {
    val p = plan(OpsQueries.compactionPlanQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"pack order must be per-source:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("column stats: one single-distinct branch per column, no Expand, no joins or windows") {
    // r21: the multi-distinct Expand form (7× rows, SortAggregate on a
    // 7-wide key) was 5.3× slower than one pruned-scan branch per
    // column — each branch reads exactly its own column and the
    // branches run concurrently inside the one action
    val p = plan(Queries.columnStats(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 6,
      s"one pruned scan per column branch:\n$p")
    assert(!p.contains("Expand"),
      s"per-column branches must not re-introduce the Expand pass:\n$p")
    // each branch's scan must prune to its own single column
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint>"),
      s"branch scans must be column-pruned:\n$p")
    assert(!p.contains("Join") && unpartitionedWindows(p) == 0)
  }

  test("balanced shards: exact global rank with NO unpartitioned window") {
    val p = plan(graft.ops.Corpus.balancedShards(
      Tables.load(spark, sf0001, "documents"), "doc_id", "text", 8))
    assert(unpartitionedWindows(p) == 0,
      s"rank must come from intervals, not a global window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"interval map must broadcast:\n$p")
    // the interval construction's triangular bucket join is a broadcast
    // loop over the BUCKET-COUNT frame (bounded), same as q104 — only a
    // full cartesian is banned
    assert(!p.contains("CartesianProduct"))
  }

  test("ndcg: salted knn + keyed label joins, literal gains — no global window") {
    val p = plan(OpsQueries.ndcgEval(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"scoring must stay keyed:\n$p")
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("cusum: scan windows partition on the key; per-key totals broadcast") {
    val p = plan(OpsQueries.cusumScan(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"CUSUM windows must partition on the key:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"totals frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("t-closeness: class CDF windows keyed; one metadata-scale global histogram window") {
    val p = plan(OpsQueries.tClosenessQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 1,
      s"only the buckets-row global CDF may be unpartitioned:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"histogram/totals frames must broadcast:\n$p")
  }

  test("conformal: one calibration-histogram window; thresholds broadcast onto the test side") {
    val p = plan(OpsQueries.conformalQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 1,
      s"only the score-histogram CDF may be unpartitioned:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"alpha/threshold frames must broadcast, never shuffle the corpus:\n$p")
  }

  test("skipgram ppmi: vocab marginals broadcast; no window, no cartesian") {
    val p = plan(OpsQueries.skipgramPpmiQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"counting must stay keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"marginals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("word_shingles"), s"pairs must come from shingles:\n$p")
  }

  test("mutual info: one metadata-scale cell window; marginals broadcast") {
    val p = plan(OpsQueries.miLangLength(spark, sf0001))
    assert(unpartitionedWindows(p) == 1,
      s"only the cell-frame running sum may be unpartitioned:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"marginals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("wilson: ONE keyed agg, row-local closed form — no window, no join") {
    val p = plan(OpsQueries.wilsonRank(spark, sf0001))
    assert(unpartitionedWindows(p) == 0 && !p.contains("Join"),
      s"wilson must be a single agg:\n$p")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
      s"one scan:\n$p")
  }

  test("interval overlap: bucket equi-join (broadcast incidents), no all-pairs, keyed top-3 window") {
    val p = plan(Queries.intervalOverlap(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"overlap join degenerated to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"dimension-sized incident side must broadcast:\n$p")
    assert(unpartitionedWindows(p) == 0,
      s"top-3 ranking partitions on event_type — no global window:\n$p")
    assert(p.contains("Generate"), s"expected the bucket explode:\n$p")
  }

  test("mann-whitney: rank sums from the value domain — keyed windows only, no corpus sort") {
    val p = plan(Queries.mannWhitney(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"the running count must partition on the key:\n$p")
    assert(!p.contains("Join"), s"value-domain rewrite needs no join:\n$p")
  }

  test("kaplan-meier: windows ride the distinct-duration frame; totals broadcast") {
    val p = plan(Queries.kaplanMeierQ(spark, sf0001))
    // prior-count sum + (term sum, zero flag) share the duration frame —
    // all unpartitioned, all metadata-scale (≤ the time domain)
    assert(unpartitionedWindows(p) <= 3,
      s"more global windows than the duration-frame pair:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"1-row total/max frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the window inputs are the grouped duration frame, not raw events:
    // exactly one aggregate keyed on user_id feeds everything
    assert(p.contains("HashAggregate"), p)
  }

  test("kmv setops: corpus touched once (sketch stage); pairwise stage reads the checkpointed sketch only") {
    // stage 1 — the only corpus-touching plan: one scan, keyed windows
    val d = graft.Tables.load(spark, sf0001, "documents")
    val h = d.select(col("source"),
        explode(graft.ops.Dedup.shingles(col("text"), 3)).as("sh"))
      .select(col("source"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
    val ps = plan(graft.transform.Stats.kmvSketch(h, "source", "h", 128))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(ps).length == 1,
      s"the sketch stage must scan the corpus exactly once:\n$ps")
    assert(unpartitionedWindows(ps) == 0, s"min-k windows are keyed:\n$ps")
    // stage 2 — the full query's plan must NOT touch parquet again
    // (everything hangs off the checkpointed groups×k sketch)
    val p = plan(OpsQueries.kmvSourceOverlap(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty,
      s"pairwise stage re-reads the corpus:\n$p")
    assert(unpartitionedWindows(p) == 0, s"merge windows are keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"sketch frames must broadcast into the pair joins:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length <= 2,
      s"loop joins beyond the tiny pair generator:\n$p")
  }

  test("winnowing: doc-keyed windows only, no joins at all") {
    val p = plan(OpsQueries.winnowingQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"selection windows must partition on the doc id:\n$p")
    assert(!p.contains("Join"), s"winnowing is join-free:\n$p")
    assert(p.contains("Generate"), s"expected the gram posexplode:\n$p")
  }

  test("fairness audit: broadcast dim join + keyed agg + 1-row best — no big-side shuffle join") {
    val p = plan(Queries.fairnessAudit(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"customer dim must broadcast onto orders:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffle join belongs here:\n$p")
    assert(unpartitionedWindows(p) == 0)
  }

  test("dp counts: one scan, one keyed agg, row-local noise — no joins, no windows") {
    val p = plan(Queries.dpNoisyCounts(spark, sf0001))
    assert(!p.contains("Join") && unpartitionedWindows(p) == 0,
      s"noise must be row-local after the agg:\n$p")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, p)
  }

  test("markov absorption: events touched once (transition stage); iteration rides checkpointed state frames") {
    // the corpus-touching stage: per-key lag window + one keyed agg
    val tm = graft.transform.Temporal.transitionMatrix(
      graft.Tables.load(spark, sf0001, "events"),
      "user_id", "event_type", "ts", "event_id")
    val ps = plan(tm)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(ps).length == 1, ps)
    // the full query's final plan hangs off checkpointed metadata
    // frames — parquet must not reappear
    val p = plan(Queries.markovAbsorptionQ(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty,
      s"iteration re-reads the corpus:\n$p")
  }

  test("bootstrap ci: series broadcasts into the replicate grid; one 200-row rank window") {
    val p = plan(Queries.bootstrapCIQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 1,
      s"only the replicate-rank window may be unpartitioned:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the series frame must broadcast into the grid:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      s"nothing here is big enough to shuffle-join:\n$p")
  }

  test("mrr/map: salted knn + keyed label joins; AP windows partition per query") {
    val p = plan(OpsQueries.mrrMapEval(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"AP accumulation must partition on query_id:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), s"label frames broadcast:\n$p")
  }

  test("sequential looks: ONE scan feeds all four looks via the boundary explode") {
    val p = plan(Queries.sequentialLooks(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
      s"four looks must not mean four passes:\n$p")
    assert(p.contains("Generate"), s"expected the look explode:\n$p")
    assert(unpartitionedWindows(p) == 0 && !p.contains("Join"), p)
  }

  test("delta ratio: two keyed aggs (per-user, per-arm) — no window, one scan") {
    val p = plan(Queries.deltaMethodRatio(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, p)
    assert(unpartitionedWindows(p) == 0 && !p.contains("Join"), p)
  }

  test("rec metrics: rides the checkpointed rec/popularity frames — no corpus re-read") {
    val p = plan(OpsQueries.recMetrics(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty,
      s"metrics stage re-reads the corpus:\n$p")
    assert(unpartitionedWindows(p) == 0 && !p.contains("CartesianProduct"), p)
  }

  test("ivf balance: one broadcast-centroid assignment pass + k-row rollup") {
    val p = plan(OpsQueries.ivfBalanceQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"assignment argmin must be keyed per vector:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the 16 centroids must broadcast:\n$p")
  }

  test("zipf slope: TakeOrdered vocab cut; moment sums ride the checkpointed 1000-row frame") {
    val p = plan(OpsQueries.zipfSlopeQ(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty,
      s"the OLS stage must read the checkpointed top frame:\n$p")
    // rank + five moment sums on the same ≤1000-row frame
    assert(unpartitionedWindows(p) <= 6, s"windows beyond the top frame:\n$p")
  }

  test("gains table: one metadata-scale cumulative window over the 10 bands") {
    val p = plan(Queries.gainsTable(spark, sf0001))
    // two window EXPRESSIONS (cum_pos, cum_n) share the one 10-row
    // band-frame spec — each prints its own windowspecdefinition
    assert(unpartitionedWindows(p) == 2,
      s"only the band-frame cumulative pair may be unpartitioned:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("catalog health: each table scanned once with the pk pruned to the scan") {
    val p = plan(Queries.catalogHealth(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 10,
      s"ten tables, ten scans:\n$p")
    assert(!p.contains("Join") && unpartitionedWindows(p) == 0, p)
  }

  test("feature screen: one unpivot explode feeds all six AUCs; windows keyed on feature") {
    val p = plan(Queries.featureScreen(spark, sf0001))
    assert(p.contains("Generate"), s"features must explode, not 6 passes:\n$p")
    assert(unpartitionedWindows(p) == 0,
      s"the neg-below window must partition on feature:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("training matrix: feature window pushes to the scan; label join keyed; no corpus window") {
    val p = plan(Queries.trainingMatrix(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"the session lag window must partition on user_id:\n$p")
    assert(p.contains("PushedFilters"),
      s"the cutoff must reach the parquet scan:\n$p")
    assert(!p.contains("CartesianProduct"))
    // label leakage guard in the PLAN: the feature branch filters
    // ts < cutoff, the label branch ts >= cutoff — assert both appear
    assert(p.contains("2024-01-24"), s"cutoff literal missing:\n$p")
  }

  test("recommendations: checkpointed baskets + output-bounded sims; anti join drops seen; heap top-k") {
    val p = plan(OpsQueries.recommendQ(spark, sf0001))
    // everything downstream of the two checkpoints: no parquet re-read
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty,
      s"candidate stage re-reads the corpus:\n$p")
    assert(p.contains("LeftAnti"), s"seen items must drop via anti join:\n$p")
    assert(unpartitionedWindows(p) == 0, s"no global window in scoring:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("neyman allocation: exact-moment weights, windowless strict-before ranking; sum = budget") {
    val p = plan(Queries.neymanAllocation(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"remainder ranking must be the strict-before join, not a window:\n$p")
    assert(!p.contains("CartesianProduct"))
    val rows = Queries.neymanAllocation(spark, sf0001).collect()
    assert(rows.map(_.getLong(4)).sum === 1000L,
      "largest-remainder quotas must sum exactly to the budget")
  }

  test("mde power: one scan, one keyed agg, closed-form row-local output") {
    val p = plan(Queries.mdePower(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join") && unpartitionedWindows(p) == 0, p)
  }

  test("overdispersion: dense grid + exact moments — no window, grid join broadcast") {
    val p = plan(Queries.overdispersion(spark, sf0001))
    assert(unpartitionedWindows(p) == 0 && !p.contains("CartesianProduct"), p)
  }

  test("emerging terms: checkpointed vocab counts feed both TakeOrdered branches — no corpus re-read") {
    val p = plan(OpsQueries.emergingTerms(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty,
      s"both direction branches must read the checkpointed counts:\n$p")
    assert("""\(\d+\) TakeOrderedAndProject""".r.findAllIn(p).length == 2,
      s"top-20 each way must be TakeOrdered:\n$p")
    assert(unpartitionedWindows(p) == 0)
  }

  test("tokenizer fertility: one scan, one keyed agg — no joins, no windows") {
    val p = plan(OpsQueries.tokenizerFertility(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join") && unpartitionedWindows(p) == 0, p)
  }

  test("rfm features: session window shares the user partitioning; 1-row recency broadcast") {
    val p = plan(Queries.rfmFeatures(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"the lag window must partition on user_id:\n$p")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 2,
      s"feature pass + 1-row max only:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("label propagation: rounds ride checkpointed node/edge frames — final plan re-reads no parquet") {
    val p = plan(OpsQueries.labelPropagationQ(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty,
      s"LPA rounds must not re-read the corpus:\n$p")
    assert(unpartitionedWindows(p) == 0 && !p.contains("CartesianProduct"))
  }

  test("bitemporal pit: both knowledge legs from ONE argmax agg — no second PIT join, no window") {
    val p = plan(Queries.bitemporalPit(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"fused argmax, not a window:\n$p")
    // events scanned once for features + once for the entity key space
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 2,
      s"the two knowledge legs must share one scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup sweep: one pair frame feeds all thresholds (explode, not 5 passes); no cartesian") {
    val p = plan(OpsQueries.dedupSweep(spark, sf0001))
    assert(p.contains("Generate"), s"thresholds must explode, not re-scan:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the jaccard machinery's scan count: shingles + sizes + caps reuse
    // q18's shape (~9 scans); the sweep's single-consumption rollup
    // must not double it (the two-branch form hit 18)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 9,
      s"threshold sweep re-reads the corpus per threshold:\n$p")
    // monotonicity: tightening the threshold can only shrink the curve
    val rows = OpsQueries.dedupSweep(spark, sf0001)
      .orderBy(col("t10")).collect()
    val pairsByT = rows.map(_.getLong(2))
    assert(pairsByT.sameElements(pairsByT.sorted.reverse),
      s"n_pairs must be non-increasing in threshold: ${pairsByT.toSeq}")
  }

  test("forecast backtest: dense grid + equi self-join on the shifted index — no series window") {
    val p = plan(Queries.forecastBacktest(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"no window belongs here:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"the 168-hour lag must be an equi join:\n$p")
  }

  test("shared spans: fingerprint-keyed pair join (capped), keyed island windows, no all-pairs") {
    val p = plan(OpsQueries.sharedSpansQ(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"span candidates must come from the fingerprint equi join:\n$p")
    assert(unpartitionedWindows(p) == 0,
      s"winnowing + island windows are keyed:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"),
      s"expected the fingerprint-keyed join:\n$p")
  }

  test("rake: doc-keyed windows only; word stats broadcast; top-k is TakeOrdered, not a global window") {
    val p = plan(OpsQueries.rakeQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"segmentation/score windows must partition on the doc:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab-sized word stats must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("kendall: cells-only self-join (bounded by the bucket domain), no corpus window") {
    val p = plan(Queries.kendallQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"no window belongs here:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the cell pair join must stay keyed:\n$p")
  }

  test("dsir: feature tables broadcast; per-doc ln sum on a doc-keyed window") {
    val p = plan(OpsQueries.dsirQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"the running sum must partition on the doc:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"4096-row feature stats must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("hll merge: keyed register aggs only — no windows, no joins beyond the union") {
    // stage 1 — the only corpus-touching plan: ONE scan into the
    // register agg (pin pre-checkpoint, the kmvSetOps pattern)
    val bag = graft.Tables.load(spark, sf0001, "documents")
      .select(col("source"),
        explode(graft.ops.Dedup.shingles(col("text"))).as("shingle"))
    val ps = plan(graft.transform.Stats.hllRegisters(bag, "source", "shingle"))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(ps).length == 1,
      s"the register stage must scan the corpus exactly once:\n$ps")
    // stage 2 — the full query hangs off the checkpointed keys×m
    // register frame: NO parquet re-scan per consumer
    val p = plan(OpsQueries.hllMergeQ(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty,
      s"merge stage re-reads the corpus:\n$p")
    assert(unpartitionedWindows(p) == 0 && !p.contains("Join"),
      s"merge is register aggs + union only:\n$p")
    assert(p.contains("Union"), s"expected per-key ∪ merged union:\n$p")
  }

  test("late interaction: queries broadcast onto one corpus stream; fused row-local MaxSim; heap cut") {
    val p = plan(OpsQueries.lateInteractionQ(spark, sf0001))
    // the non-equi id guard plans the query broadcast as a nested-loop
    // join — the bruteForceTopK posture (and the right operator name to
    // pin, per CLAUDE.md)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast onto the corpus stream:\n$p")
    assert(p.contains("max_sim_micros"),
      s"scoring must be the fused codegen MaxSim expression:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"token dots must not shuffle-join:\n$p")
    assert(unpartitionedWindows(p) == 0, s"topK cut is query-keyed:\n$p")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 2,
      s"corpus + query sides only:\n$p")
  }

  test("scalar quantization: dim-range frame broadcasts back; row-local coding; no windows") {
    val p = plan(OpsQueries.scalarQuantQ(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the 64-row dim-range frame must broadcast:\n$p")
    assert(unpartitionedWindows(p) == 0 && !p.contains("CartesianProduct"))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 2,
      s"one pass for ranges + one for coding:\n$p")
  }

  test("matryoshka recall: both rankings broadcast queries; overlap is a keyed join; left join preserves zero-overlap queries") {
    val p = plan(OpsQueries.matryoshkaRecallQ(spark, sf0001))
    // brute top-k broadcasts the query side under a non-equi condition
    // → BroadcastNestedLoopJoin (one per ranking), never a cartesian
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length == 2,
      s"both rankings must broadcast their query side:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(unpartitionedWindows(p) == 0, s"topK windows are query-keyed:\n$p")
  }

  test("lloyd training curve: every round reads checkpointed frames — no corpus re-scan per round") {
    val p = plan(OpsQueries.ivfTrainCurveQ(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty,
      s"rounds must hang off checkpointed assignments:\n$p")
    assert(p.contains("Union"), s"rounds union into the curve:\n$p")
  }

  test("anisotropy + dim variance: one component pass each, join-free aggs, no pair materialization") {
    val pa = plan(OpsQueries.anisotropyQ(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(pa).length <= 2,
      s"component pass + count only:\n$pa")
    assert(!pa.contains("SortMergeJoin") && !pa.contains("CartesianProduct"),
      s"the |sum v|^2 identity must not join pairs:\n$pa")
    assert(unpartitionedWindows(pa) == 0)
    val pv = plan(OpsQueries.dimVarianceQ(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(pv).length == 1 &&
      !pv.contains("Join"), s"one scan, one keyed agg:\n$pv")
  }

  test("ivf probe sweep: budgets broadcast onto one shared scored pass; keyed windows only") {
    val p = plan(OpsQueries.ivfProbeSweepQ(spark, sf0001))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the 5-row probe-budget frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(unpartitionedWindows(p) == 0,
      s"rank windows are (budget, query)-keyed:\n$p")
  }

  test("incremental rollup: two keyed aggs + key-domain merge — no corpus window, no cartesian") {
    val p = plan(Queries.incrementalRollupQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0 && !p.contains("CartesianProduct"))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 2,
      s"state + delta passes only:\n$p")
  }

  test("dedup calibration: the planted union rides the fused signature path — signatures shuffle-free") {
    val p = plan(OpsQueries.dedupCalibrationQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    // the minhash signature stage must stay pre-shuffle on BOTH union
    // legs: only (id, band_hash) rows reach an exchange (q17's pin)
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"band join must not drag text through a shuffle:\n$p")
    assert(unpartitionedWindows(p) == 0, s"no global window belongs here:\n$p")
  }

  test("woe/iv screen: keyed aggs + broadcast bounds/totals; windows feature-keyed") {
    val p = plan(Queries.woeIvQ(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"bounds/counts/totals frames must broadcast:\n$p")
    assert(unpartitionedWindows(p) == 0 && !p.contains("CartesianProduct"))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 4,
      s"bounded passes over one table:\n$p")
  }

  test("maxP retrieval: query terms broadcast, no global window, TakeOrdered final cut") {
    val p = plan(OpsQueries.maxPRetrievalQ(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the 4-row query-term frame must broadcast:\n$p")
    assert(unpartitionedWindows(p) == 0,
      s"chunk scoring must not rank globally:\n$p")
    assert("""\(\d+\) TakeOrdered""".r.findAllIn(p).nonEmpty,
      s"the top-10 cut must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("simhash calibration: signature chain row-local; banding join only — no all-pairs") {
    val p = plan(OpsQueries.simhashCalibrationQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert(unpartitionedWindows(p) == 0)
  }

  test("next-event serving: matrix windows are type-keyed, last-event is an argmax agg, model broadcasts") {
    val p = plan(Queries.nextEventQ(spark, sf0001))
    assert(unpartitionedWindows(p) == 0,
      s"transition windows partition on user/from_type:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the attr-domain model frame must broadcast onto users:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("freshness audit: one scan + broadcast watermark, join-free aggs") {
    val p = plan(Queries.freshnessQ(spark, sf0001))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
      s"ONE corpus pass — watermark derives from the hourly summary:\n$p")
    // the one unpartitioned window runs over the metadata-scale
    // (type × hour) summary frame, not the corpus — the q184 posture
    assert(unpartitionedWindows(p) == 1 && !p.contains("CartesianProduct"))
  }

  test("target encoding: two keyed aggs + broadcast totals — no window, no fold self-join") {
    val p = plan(Queries.targetEncoding(spark, sf0001))
    assert(unpartitionedWindows(p) == 0, s"no window belongs here:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"category totals must broadcast onto the cells:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      s"cells×totals is dimension-scale — must not shuffle-join:\n$p")
  }

  test("image dedup: banded equi join on 8-byte signatures — no cartesian, no window") {
    val p = plan(OpsQueries.imageDedupQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"pairing must ride the (band, value) equi join, never all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pairing must ride the (band, value) equi join, never all-pairs:\n$p")
    assert(unpartitionedWindows(p) == 0, s"no global window belongs here:\n$p")
  }

  test("audio dedup: banded equi join on 8-byte signatures — no cartesian, no window") {
    val p = plan(OpsQueries.audioDedupQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"pairing must ride the (band, value) equi join, never all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pairing must ride the (band, value) equi join, never all-pairs:\n$p")
    assert(unpartitionedWindows(p) == 0, s"no global window belongs here:\n$p")
  }

  test("video dedup: banded equi join on per-frame 8-byte signatures — no cartesian, no window") {
    val p = plan(OpsQueries.videoDedupQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"frame pairing must ride the (band, value) equi join, never all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"frame pairing must ride the (band, value) equi join, never all-pairs:\n$p")
    assert(unpartitionedWindows(p) == 0, s"no global window belongs here:\n$p")
  }

  test("cross-modal dedup: both signal joins keyed, fusion equi join — no cartesian, no window") {
    val p = plan(OpsQueries.crossModalDedupQ(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      s"caption md5 join + banded image join + pair-id fusion only:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"caption md5 join + banded image join + pair-id fusion only:\n$p")
    assert(unpartitionedWindows(p) == 0, s"no global window belongs here:\n$p")
  }

  test("ingest drift increment: broadcast metadata joins, batch-partitioned windows only") {
    // pin the PRE-checkpoint stage (the audit loop checkpoints its
    // union, truncating explain at LogicalRDD — CLAUDE.md rule)
    val root = java.nio.file.Files.createTempDirectory("drift-plan-").toString
    try {
      import graft.pipelines.TrainingDataPipeline
      import spark.implicits._
      def arrival(b: Int) =
        Seq((b * 10L, "z" * 100), (b * 10L + 1, "z" * 300))
          .toDF("doc_id", "text")
      TrainingDataPipeline.driftIncrement(arrival(0), "text", root, 0L).collect()
      val p = plan(TrainingDataPipeline.driftIncrement(arrival(1), "text", root, 1L))
      assert(!p.contains("CartesianProduct"),
        s"only 1-row broadcast scalar attaches belong here:\n$p")
      // within ONE increment `batch` is a literal, so Catalyst
      // constant-folds it out of every window spec (the q241 fold
      // pattern). readoutDrift plans four window expressions: the
      // totals nt_ref and nt_cur (which share one Window operator),
      // psi_cum, and the drift max. Formatted explain prints one
      // windowspecdefinition per window EXPRESSION, not per Window
      // operator (CLAUDE.md), so the pin is 4. All four are
      // single-partition over the 16-row bucket grid: one
      // SinglePartition exchange fed by the Range (0, 16) grid, metadata
      // scale by construction. A fifth window, or a second single
      // reducer, would mean someone widened the frame.
      assert(unpartitionedWindows(p) == 4,
        s"expected exactly the 4 bucket-grid windows:\n$p")
      assertGridReducer(p)
      assert(p.contains("BroadcastHashJoin"),
        s"the bucket-grid joins against 16-row histograms must broadcast:\n$p")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  /** The drift readout has exactly one single reducer, and it sits over
    * the 16-row bucket grid (the probe side of the histogram joins). */
  private def assertGridReducer(p: String): Unit = {
    val reducers = singlePartitionSubtrees(p)
    assert(reducers.size == 1,
      s"expected exactly one SinglePartition exchange:\n$p")
    assert(reducers.head.contains("Range (0, 16, step=1"),
      s"the single reducer must sit over the 16-row bucket grid:\n$p")
  }

  test("keyed drift increment (q251 path): same metadata-scale posture as the length monitor") {
    val root = java.nio.file.Files.createTempDirectory("kdrift-plan-").toString
    try {
      import graft.pipelines.TrainingDataPipeline
      import spark.implicits._
      def arrival(b: Int) =
        Seq((b * 10L, "src1"), (b * 10L + 1, "src2")).toDF("doc_id", "source")
      val bucket = expr(
        "cast(conv(substring(md5(source),1,8),16,10) as bigint) % 16")
      TrainingDataPipeline
        .driftIncrementBy(arrival(0), bucket, root, 0L).collect()
      val p = plan(TrainingDataPipeline
        .driftIncrementBy(arrival(1), bucket, root, 1L))
      assert(!p.contains("CartesianProduct"),
        s"only 1-row broadcast scalar attaches belong here:\n$p")
      // same four bucket-grid windows as the length monitor (see above)
      assert(unpartitionedWindows(p) == 4,
        s"expected exactly the 4 bucket-grid windows:\n$p")
      assertGridReducer(p)
      assert(p.contains("BroadcastHashJoin"),
        s"the bucket-grid joins against 16-row histograms must broadcast:\n$p")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("TTL-less multi-view PIT: one exchange per key group, no join") {
    // the TTL-less view's whole history passes through its key's sort
    // once: no join to blow up, so no pre-reduction either
    val p = assertPitScan(Queries.pitMultiViewTtlLess(spark, sf0001),
      Seq(Set("o_custkey"), Set("user_id")))
    assert(p.contains("LessThan(ts,") || p.contains("LessThanOrEqual(ts,"),
      s"events upper bound not pushed:\n$p")
    assert(p.contains("LessThanOrEqual(o_orderdate,"),
      s"orders-range prefilter not pushed:\n$p")
  }

  test("codebook staleness: broadcast codebook, keyed joins, no global window") {
    val p = plan(OpsQueries.codebookStalenessQ(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"the k·dim codebook must broadcast onto the assignment scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"monitor joins must stay keyed (1-row scalar attaches excepted):\n$p")
    assert(unpartitionedWindows(p) == 0,
      s"PSI windows must partition by scenario:\n$p")
  }

  test("codebook retrain lifecycle: both phases broadcast, keyed joins, windows stay k-row") {
    val p = plan(OpsQueries.codebookRetrainQ(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"both codebooks must broadcast onto their assignment scans:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // each phase is a single-codebook staleness frame, so its LITERAL
    // phase key constant-folds out of the window spec: the plan shows
    // exactly 4 partition-free windows (psi_cum + total, × 2 phases),
    // every one over a ≤ k-row cell summary — the intentional
    // metadata-scale exception (q184 posture), pinned here so a real
    // corpus-sized global window cannot hide behind it
    assert(unpartitionedWindows(p) == 4,
      s"expected exactly the 4 k-row PSI windows:\n$p")
  }

  test("ANN append-assign: no Exchange, no join — one codegen'd projection over the increment scan") {
    // VERDICT r13 #8's scale posture: absorbing new vectors between
    // retrains must be O(increment) scan-only. The codebook enters as a
    // literal inside one custom expression (the broadcast's limit
    // case), so the plan is scan → project — any Exchange or join here
    // means the increment started shuffling
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val cents = graft.ops.Similarity
      .lloydCentroids(e, "vec_id", "embedding", 16, 3)
    val p = plan(graft.ops.Similarity
      .assignToCodebook(e, "vec_id", "embedding", cents))
    assert(!p.contains("Exchange"),
      s"assignment must not shuffle the increment:\n$p")
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    assert("""\(\d+\) Project \[codegen id""".r.findFirstIn(p).isDefined ||
      p.contains("codebook_argmin"),
      s"assignment must be a codegen'd projection:\n$p")
  }

  test("ANN state serve: postings scan version-pinned, probe broadcasts, no corpus re-assign") {
    // VERDICT r14 #1's scale posture: the query path of the maintained
    // index reads the persisted assign partitions — it must NEVER
    // re-assign the corpus at query time (no codebook_argmin in the
    // serving plan; assignment happened once, at write time), the
    // version filter must reach the postings scan, and the
    // queries × nprobe probe frame must broadcast onto the postings —
    // the corpus-sized side stays shuffle-free until the salted top-k
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val cents = graft.ops.Similarity
      .lloydCentroids(e, "vec_id", "embedding", 16, 3)
    val root = java.nio.file.Files.createTempDirectory("annserveplan-").toString
    try {
      graft.ops.Similarity.assignIncrement(e, "vec_id", "embedding",
        cents, root, 0L, payloadCols = Seq("embedding"))
      val served = graft.ops.Similarity.ivfStateTopK(spark, root,
        e.filter(col("vec_id") >= 100 && col("vec_id") < 120),
        "vec_id", "embedding", cents, k = 10, nprobe = 8)
      val p = plan(served)
      assert(!p.contains("codebook_argmin"),
        s"serving must read the index, not re-assign the corpus:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"the probe frame must broadcast onto the postings scan:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      // the postings scan carries the version equality as a pushed
      // filter — a stale-partition read would otherwise scan the whole
      // state and filter late
      val pushed = """PushedFilters: \[[^\]]*EqualTo\(codebook_version""".r
      assert(pushed.findFirstIn(p).isDefined,
        s"codebook_version equality must push into the postings scan:\n$p")
      // r17 (VERDICT r16 #1): the probed-cell union must reach the
      // postings scan as a PARTITION filter on the cid=K cell dirs —
      // at production cell counts this is the ~nprobe/cells scan cut
      // that makes state-served retrieval real
      val cellPruned = """PartitionFilters: \[[^\]]*cid""".r
      assert(cellPruned.findFirstIn(p).isDefined,
        s"probed cells must prune cid=K partitions at the scan:\n$p")
      // only per-query windows (probe rank + final rank) — nothing
      // corpus-sized funnels through one reducer
      assert(unpartitionedWindows(p) == 0,
        s"serve windows must partition per query:\n$p")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("state-fed staleness monitor: O(index state) — no corpus scan, no re-assignment") {
    // the q257 posture (VERDICT r17 #4): the monitor's current leg is
    // a per-cid sum of the persisted assign partitions — the plan must
    // never touch the corpus (no embeddings scan, no codebook_argmin)
    // and the version filter must push into the state scan
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val cents = graft.ops.Similarity
      .lloydCentroids(e, "vec_id", "embedding", 16, 3).localCheckpoint(true)
    val refHist = graft.ops.Similarity
      .assignmentCounts(e, "vec_id", "embedding", cents).localCheckpoint(true)
    val root = java.nio.file.Files.createTempDirectory("annhistplan-").toString
    try {
      graft.ops.Similarity.assignIncrement(e, "vec_id", "embedding",
        cents, root, 0L)
      val ver = graft.ops.Similarity.codebookVersionOf(cents)
      val curHist = graft.ops.Similarity.assignHistogram(spark, root, ver)
        .select(lit("state").as("scenario"), col("cid"), col("n"))
      val p = plan(graft.ops.Similarity.codebookStalenessFromHist(
        refHist, curHist, "scenario", cents))
      assert(!p.contains("embeddings.parquet"),
        s"the state-fed monitor must never rescan the corpus:\n$p")
      assert(!p.contains("codebook_argmin"),
        s"the state-fed monitor must never re-assign:\n$p")
      val pushed = """PushedFilters: \[[^\]]*EqualTo\(codebook_version""".r
      assert(pushed.findFirstIn(p).isDefined,
        s"version equality must push into the state scan:\n$p")
      // a LITERAL scenario folds out of the window partition spec, so
      // the two PSI windows render unpartitioned — fine: they ride the
      // ncells×scenarios grid (16 rows here), never anything
      // corpus-sized. Pin the count so a third window (a scalar leaking
      // onto a big frame) still trips.
      assert(unpartitionedWindows(p) <= 2,
        s"only the two bounded-grid PSI windows may appear:\n$p")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("PQ state serve: code scan version-pinned, distance table broadcasts, no corpus re-encode") {
    // the q255 posture: ADC from persisted codes must read the code
    // state (version filter pushed), broadcast the query-side distance
    // table, and never re-encode the corpus (the only wide-dim
    // posexplode in the plan is the QUERY side, which carries its id
    // pushdown into the embeddings scan)
    val e = graft.Tables.load(spark, sf0001, "embeddings")
    val cb = graft.ops.Similarity.lloydPqCodebook(e, "vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("pqserveplan-").toString
    try {
      graft.ops.Similarity.pqCodesIncrement(
        e, "vec_id", "embedding", cb, root, 0L)
      val served = graft.ops.Similarity.pqAdcFromState(spark, root,
        e.filter(col("vec_id") >= 100 && col("vec_id") <= 107),
        "vec_id", "embedding", cb, k = 10)
      val p = plan(served)
      assert(p.contains("BroadcastHashJoin"),
        s"the distance table must broadcast onto the code scan:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      val pushed = """PushedFilters: \[[^\]]*EqualTo\(codebook_version""".r
      assert(pushed.findFirstIn(p).isDefined,
        s"codebook_version equality must push into the code scan:\n$p")
      // every embeddings scan is the query side — its vec_id range must
      // reach PushedFilters (an unfiltered embeddings scan would mean
      // the corpus is being re-encoded at query time)
      val anyUnfiltered = p.linesIterator.sliding(8).exists { w =>
        w.exists(_.contains("embeddings.parquet")) &&
          w.exists(_.matches(".*PushedFilters: \\[\\].*"))
      }
      assert(!anyUnfiltered,
        s"an unfiltered embeddings scan means a corpus re-encode:\n$p")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("incremental curate: persisted-state reads partition-prune to candidate batches") {
    // VERDICT r13 #1: the per-increment postings/sizes scan must be
    // candidate-batch-sized, not O(accumulated corpus) — the batch IN
    // filter must land in the scan's PartitionFilters (file-level
    // pruning), not survive only as a post-scan Filter
    val root = java.nio.file.Files.createTempDirectory("psr-").toString
    try {
      for (b <- 0 to 2)
        Seq((b.toLong * 10, s"sh$b")).toDF("doc_id", "shingle")
          .write.parquet(s"$root/batch=$b")
      val df = graft.pipelines.TrainingDataPipeline
        .prunedStateRead(spark, root, Seq(0L, 2L))
      val p = plan(df)
      val pf = """PartitionFilters: \[([^\]]*)\]""".r
        .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
      assert(pf.contains("batch"),
        s"batch IN (...) must prune partitions at the scan, got " +
          s"PartitionFilters: [$pf]\n$p")
      assert(df.collect().map(_.getLong(0)).toSet === Set(0L, 20L))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("incremental curate: Jaccard stage semi-prunes postings, aggregates at candidate scale, no shingle join key") {
    // the VERDICT r12 #1 posture, r22 array formulation: per increment
    // the verification must touch candidate rows of the persisted
    // posting table only (one left-semi prune feeding the per-candidate
    // array aggregation), never re-aggregate or fully scan the
    // accumulated corpus state — and the pair scoring must carry no
    // shingle-keyed join at all (row-local array_intersect)
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val postings = Seq((1L, "x y z"), (2L, "x y w"), (3L, "p q r"))
      .toDF("doc_id", "shingle")
    val sizes = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "sz")
    val p = plan(graft.pipelines.TrainingDataPipeline
      .prunedJaccardStage(pairs, postings, sizes, "doc_id"))
    assert("LeftSemi".r.findAllIn(p).length >= 1,
      s"postings must enter through a candidate-id semi-join prune:\n$p")
    assert(p.contains("array_intersect"),
      s"pair scoring must be the row-local array intersection:\n$p")
    assert(!"""keys \[\d+\]: \[[^\]]*shingle""".r.findFirstIn(p).isDefined,
      s"no shingle-keyed join may remain:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"verification must stay keyed equi-joins:\n$p")
  }
}
