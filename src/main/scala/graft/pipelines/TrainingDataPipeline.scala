package graft.pipelines

import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Composed training-data curation pipeline — the end-to-end shape a
  * 100 TB pretraining-data job takes, built entirely from the graft
  * operator set:
  *
  *  1. annotate: token counts, quality score, language ID (row-local,
  *     codegen'd — no shuffle);
  *  2. filter: quality/length/language gates (pushed ahead of every
  *     shuffle that follows);
  *  3. exact dedup: one fingerprint shuffle, keep min-id doc;
  *  4. near dedup: MinHash-LSH candidates → n-gram Jaccard verification
  *     → drop the higher id of each confirmed pair (union-find-free
  *     approximation that is exact for pairwise clusters; transitive
  *     chains may need another sweep at scale).
  *
  * Stage order matters at scale: the cheap row-local gates run first so
  * the shuffling stages (3, 4) see only surviving rows.
  */
object TrainingDataPipeline {

  final case class Config(
      minQuality: Double = 0.05,
      minTokens: Long = 10,
      keepLangs: Seq[String] = Seq("en"),
      jaccardThreshold: Double = 0.8,
      shingleN: Int = 3)

  /** Stage 1: annotate only (row-local, no shuffle) — split from the
    * gate so callers that need the REJECTS (the drop ledger) see them.
    */
  def annotate(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))

  /** Stage 2's predicate over [[annotate]]'s columns. */
  def gatePredicate(cfg: Config): org.apache.spark.sql.Column =
    col("n_tokens") >= cfg.minTokens &&
      col("quality") >= cfg.minQuality &&
      col("lang_pred").isin(cfg.keepLangs.map(l => l: Any): _*)

  /** Stage 1+2: annotate and gate (no shuffle). */
  def annotateAndFilter(docs: DataFrame, cfg: Config): DataFrame =
    annotate(docs).filter(gatePredicate(cfg))

  /** The batch slicers' id-span read: `None` on an empty corpus,
    * otherwise `(minId, maxId)` as longs regardless of the physical id
    * type (an IntegerType id would ClassCast a raw `getLong`).
    * Negative ids THROW — the `[b·width, (b+1)·width)` range slicing
    * starts at 0, so a negative id would fall outside every batch and
    * be dropped SILENTLY from the curation (the worst failure mode a
    * data-loss-sensitive pipeline can have).
    */
  private def idSpan(docs: DataFrame, idCol: String): Option[(Long, Long)] = {
    val r = docs.agg(min(col(idCol).cast("long")).as("mn"),
      max(col(idCol).cast("long")).as("mx")).head
    if (r.isNullAt(1)) None
    else {
      val mn = r.getLong(0)
      require(mn >= 0L,
        s"TrainingDataPipeline: id column '$idCol' has negative values " +
          s"(min = $mn); range-sliced batching starts at 0 and would " +
          "silently drop them — remap ids to [0, maxId] first")
      Some((mn, r.getLong(1)))
    }
  }

  /** Stage 3: exact dedup — keep the minimum doc_id per fingerprint. */
  def dropExactDuplicates(docs: DataFrame, idCol: String): DataFrame = {
    val keepers = Dedup.exactDuplicates(docs, idCol, "text")
      .select(col("keeper_id").as(idCol))
    docs.join(keepers, idCol) // inner join on keeper ids = keep one per group
  }

  /** Stage 4: near dedup — LSH candidates, Jaccard-verify, drop the
    * higher id of each confirmed near-dup pair.
    */
  def dropNearDuplicates(docs: DataFrame, idCol: String, cfg: Config): DataFrame = {
    val candidates = Dedup.minhashLshPairs(docs, idCol, "text", cfg.shingleN)
    val verified = Dedup.ngramJaccard(
      candidates, Dedup.shingleSet(docs, idCol, "text", cfg.shingleN), idCol)
      .filter(col("jaccard") >= cfg.jaccardThreshold)
    val losers = verified.select(col("b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** The full curation chain.
    *
    * @param persistIntermediate cache the exact-dedup survivors before
    *   near-dedup. That intermediate is consumed three times (LSH
    *   candidates, Jaccard shingle sets, final anti-join), so without
    *   caching the annotate+gate+dedup lineage recomputes per consumer —
    *   at 100 TB you always persist here (survivors are the narrow,
    *   post-gate minority). Cache lifetime: one CacheManager entry per
    *   distinct input plan per session (identical re-invocations dedup
    *   to the same entry); curating MANY DIFFERENT inputs in one
    *   long-lived session accumulates entries — unpersist via
    *   `spark.sharedState.cacheManager`/`catalog.clearCache()` between
    *   batches, or keep the default off.
    */
  def curate(docs: DataFrame, idCol: String = "doc_id",
      cfg: Config = Config(), persistIntermediate: Boolean = false): DataFrame = {
    val exact0 = dropExactDuplicates(annotateAndFilter(docs, cfg), idCol)
    val exact =
      if (persistIntermediate)
        exact0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else exact0
    dropNearDuplicates(exact, idCol, cfg)
  }

  /** Incremental arrival-ordered composition (q235, VERDICT r10 #2):
    * the corpus arrives as `nBatches` contiguous-`idCol` ranges (ids are
    * assigned at arrival, so id ranges ARE arrival order); each batch
    * runs annotate → gate → [[graft.ops.Dedup.incrementalExactDedup]]
    * against the fingerprint history of all PRIOR batches, and each
    * batch's survivors fold into a running
    * [[graft.transform.Transforms.mergeableRollup]] state (per-`keyCols`
    * stats of `valueCol`) via
    * [[graft.transform.Transforms.mergeRollups]].
    *
    * EQUALS the one-shot recompute (gate everything, global min-id
    * keeper per fingerprint, aggregate once): the first batch containing
    * a fingerprint holds its global min id under arrival-ordered
    * batching, so history-based keepers == one-shot keepers, and the
    * rollup merge is associative integer arithmetic. q235's oracle is
    * spelled in the one-shot form — the hash gate doubles as the
    * machine-checked losslessness proof of the whole composition.
    *
    * Scale: each batch is touched once; history enters as a
    * fingerprint-only frame (16-byte md5s — the thing you bucket at
    * 100 TB so daily runs join exchange-free); the carried rollup state
    * is key-domain-sized. Eager per-batch checkpoints are the
    * greedy-loop rule (replanning compounds otherwise). The one
    * `max(idCol)` scalar cutting the ranges is a bounded driver valve.
    */
  def incrementalRollup(docs: DataFrame, idCol: String,
      keyCols: Seq[String], valueCol: String,
      nBatches: Int = 4, cfg: Config = Config()): DataFrame = {
    require(nBatches >= 1, "incrementalRollup needs nBatches >= 1")
    import graft.transform.Transforms
    val spark = docs.sparkSession
    import spark.implicits._
    val span = idSpan(docs, idCol)
    if (span.isEmpty) // empty corpus: max is NULL, not a row to slice
      return Transforms.mergeableRollup(
        annotateAndFilter(docs, cfg), keyCols, col(valueCol))
    val maxId = span.get._2
    val width = maxId / nBatches + 1
    var history: DataFrame = Seq.empty[String].toDF("fingerprint")
    var state: Option[DataFrame] = None
    // the per-batch annotate+gate checkpoints are mutually independent
    // (row-local functions of disjoint id slices, no state) and were
    // the loop's dominant actions (~0.7-0.9 s each at sf0.1) — fan them
    // out (guide §2.6, r22); the dedup/rollup chain below stays
    // strictly sequential (it IS the cross-batch coupling).
    val batches = graft.util.Par.run(
      (0L until nBatches.toLong).map(b => () =>
        annotateAndFilter(
          docs.filter(col(idCol) >= b * width && col(idCol) < (b + 1) * width),
          cfg).localCheckpoint(true)))
    for (b <- 0L until nBatches.toLong) {
      val batch = batches(b.toInt)
      val dd = graft.ops.Dedup
        .incrementalExactDedup(batch, history, idCol, "text")
        .localCheckpoint(true)
      val kept = batch.join(
        dd.filter(col("kept") === 1L).select(idCol), idCol)
      val roll = Transforms.mergeableRollup(kept, keyCols, col(valueCol))
      state = Some(state
        .map(prev => Transforms.mergeRollups(prev, roll, keyCols))
        .getOrElse(roll).localCheckpoint(true))
      // checkpoint ONLY the new batch's fingerprints and union lazily:
      // re-checkpointing the accumulated union is the O(nBatches ×
      // corpus) shape this file bans (each arrival would re-materialize
      // all prior history). Checkpointed frames carry no file listings,
      // so the arrivalReports ReuseExchange conflation cannot apply to
      // this lazy union.
      history = history.unionByName(
        dd.filter(col("kept") === 1L).select("fingerprint")
          .localCheckpoint(true))
    }
    state.get
  }

  /** The per-batch Jaccard verification stage over PERSISTED state,
    * pruned to the rows a single increment actually needs: candidate
    * ids (both sides of the candidate pairs) semi-join-prune the
    * posting table, then the verification runs in the candidate-scale
    * ARRAY formulation ([[graft.ops.Dedup.ngramJaccardArrays]], r22):
    * per-candidate shingle arrays + sizes from ONE aggregation of the
    * pruned postings, pair scores row-local — no shingle-keyed shuffle,
    * no (a,b) re-aggregation, ~3 stages instead of ~10 (the fixed
    * per-stage cost dominated the increment's ledger write). The sizes
    * derived here provably equal the persisted sizes table (each doc's
    * postings are written exactly once, by its own batch, and every
    * candidate's own batch is in the pruned read —
    * TrainingDataPipelineSpec pins sizes ≡ re-aggregated postings), so
    * nothing is re-aggregated at corpus scale: the aggregation input is
    * candidate volume by construction. Exposed separately so PlanSpec
    * can pin the shape: a left-semi prune into one candidate-scale
    * aggregation, no full-corpus groupBy, no shingle join key.
    *
    * @param sizes retained for API stability; unused since r22 (sizes
    *   ride the pruned-posting aggregation — see equality argument
    *   above). The sizes table stays persisted state: by-id readouts
    *   (doc length profiles, purge audits) consume it without paying a
    *   posting scan.
    */
  def prunedJaccardStage(pairs: DataFrame, postings: DataFrame,
      sizes: DataFrame, idCol: String): DataFrame =
    prunedJaccardStage(pairs, postings, idCol)

  /** [[prunedJaccardStage]] without the legacy sizes frame — callers
    * that would otherwise pay a file listing just to build the unused
    * sizes read (the increment loop) come here.
    */
  def prunedJaccardStage(pairs: DataFrame, postings: DataFrame,
      idCol: String): DataFrame = {
    val candIds = pairs.select(col("a").as(idCol))
      .unionByName(pairs.select(col("b").as(idCol))).distinct()
    Dedup.ngramJaccardArrays(
      pairs,
      postings.join(candIds, Seq(idCol), "left_semi"),
      idCol)
  }

  /** Candidate-batch-pruned read of one arrival-partitioned state table
    * (VERDICT r13 #1): the semi-join prune in [[prunedJaccardStage]]
    * bounds the verification SHUFFLE to candidate volume, but a bare
    * `spark.read.parquet(dir)` still SCANS the whole accumulated state
    * per increment — at thousands of arrivals every increment re-reads
    * the full posting table to keep a few thousand candidate rows. The
    * candidate ids map to a bounded set of `batch=N` values (each cross
    * pair carries its prior side's batch off the band index; in-batch
    * pairs live in the current batch), so the read filters
    * `batch IN (...)` FIRST and Spark's partition pruning drops every
    * non-candidate arrival's files before a row is decoded (PlanSpec
    * pins PartitionFilters on this exact path). At true scale the same
    * layout additionally buckets postings by id so the pruned read is
    * also exchange-free into the verification join.
    */
  private[graft] def prunedStateRead(spark: org.apache.spark.sql.SparkSession,
      dir: String, batches: Seq[Long]): DataFrame =
    spark.read.parquet(dir)
      .filter(col("batch").isin(batches: _*))
      .drop("batch")

  /** Incremental FULL-curation composition (q250, VERDICT r11 #2): the
    * production chain with BOTH dedup stages — each arrival batch runs
    * annotate → gate → [[graft.ops.Dedup.incrementalExactDedup]] →
    * incremental LSH+Jaccard near-dedup against PERSISTED carried state
    * → rollup merge. The carried state lives as arrival-partitioned
    * parquet under `stateDir` (the q236 persisted-artifact shape, now
    * actually persisted — VERDICT r12 #1):
    *
    *   stateDir/dd/batch=N        (id, fingerprint, kept) exact-dedup history
    *   stateDir/bands/batch=N     (id, band_idx, band_hash)  LSH band index
    *   stateDir/postings/batch=N  (id, shingle)           verification postings
    *   stateDir/sizes/batch=N     (id, sz)                per-doc set sizes
    *   stateDir/ranges/batch=N    (id_min, id_max, n_rows) arrival id cover
    *                              ([[CurationState.RangesTable]] — metadata
    *                              for by-id maintenance pruning)
    *
    * Each arrival APPENDS one new `batch=N` directory per table —
    * O(increment) rows written, prior state is never rewritten or
    * re-checkpointed (the r12 shape re-materialized the accumulated
    * union every batch: O(nBatches × corpus) on the widest
    * intermediate). Per-doc shingle sizes are computed once, at append
    * time, from the increment only; the Jaccard stage reads postings
    * and sizes through a candidate-BATCH partition prune
    * ([[prunedStateRead]] — the scan lists only the arrivals candidates
    * live in) and then a candidate-id semi-join prune
    * ([[prunedJaccardStage]]), so per increment both the scan and the
    * shuffle touch candidate volume, not the accumulated corpus. The
    * band index enters as its 16-byte keys only — one
    * hash-table-sized scan per increment; `batch=N` partitioning means
    * the prior-index read partition-prunes the current batch away. At
    * 100 TB the same layout is a bucketed table (bands by band_hash,
    * postings by shingle) so the increment joins are exchange-free;
    * arrival partitioning composes with bucketing unchanged.
    *
    * Like q236, the index carries near-dup-DROPPED docs too: under the
    * one-shot greedy rule a doc colliding only with an already-dropped
    * doc is still a loser.
    *
    * EQUALS the one-shot [[curate]] + rollup: exact keepers match by
    * the q235 arrival-order theorem; a near-dup loser `b` in the
    * one-shot rule has a verified partner `a < b`, and id-ordered
    * batching puts `a` either in the band index (earlier batch) or in
    * `b`'s own batch — both candidate paths — while Jaccard is the same
    * exact integer-count arithmetic on the same shingle sets (the
    * candidate-id prune removes only rows no pair joins to, and the
    * persisted sizes equal re-aggregated sizes because each doc's
    * postings are written exactly once, by its own batch). q250's
    * oracle is spelled in the one-shot form (with the mid-stream
    * compaction + reject-purge hooks engaged), so the hash gate is the
    * machine-checked losslessness proof of the whole two-stage
    * incremental composition INCLUDING the persisted-state plumbing.
    *
    * @param stateDir durable state root. None (tests/demo) uses a fresh
    *   temp directory, deleted on exit; production passes the real
    *   path and each call appends the next arrival's partitions.
    * @param loopShufflePartitions shuffle width INSIDE the per-batch
    *   loop (the [[graft.ops.Dedup.clusterSafeSplit]] device): every
    *   frame the loop materializes is increment- or candidate-scale,
    *   so the session-wide width (sized for corpus scans) only adds
    *   empty-task scheduling per round. All loop frames execute
    *   eagerly inside the scope (checkpoints + state writes), so the
    *   conf restore cannot leak (the lazy-checkpoint trap, CLAUDE.md).
    * @param compactAfter after the arrival with this batchId, fold all
    *   state partitions `batch <= it` into one per table
    *   ([[CurationState.compactState]]). Pure re-partitioning — the
    *   q250 gate proves the final curation is bit-identical with or
    *   without it.
    * @param purgeRejectedAfter after the arrival with this batchId,
    *   delete every doc the ledger rejected outright (gate/exact-dup)
    *   in batches `<= it` from ALL state tables
    *   ([[CurationState.purgeDocs]] over
    *   [[CurationState.rejectedIds]]) — the data-minimization sweep;
    *   provably decision-free, so the q250 oracle stays the plain
    *   one-shot recompute.
    */
  def incrementalCurate(docsDf: DataFrame, idCol: String,
      keyCols: Seq[String], valueCol: String,
      nBatches: Int = 4, cfg: Config = Config(),
      stateDir: Option[String] = None,
      loopShufflePartitions: Int = 8,
      compactAfter: Option[Long] = None,
      purgeRejectedAfter: Option[Long] = None): DataFrame = {
    require(nBatches >= 1, "incrementalCurate needs nBatches >= 1")
    import graft.transform.Transforms
    val spark = docsDf.sparkSession
    import spark.implicits._
    val span = idSpan(docsDf, idCol)
    if (span.isEmpty) // empty corpus: max is NULL, not a row to slice
      return Transforms.mergeableRollup(
        annotateAndFilter(docsDf, cfg), keyCols, col(valueCol))
    val maxId = span.get._2
    val width = maxId / nBatches + 1
    val ownState = stateDir.isEmpty
    val root = stateDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-inc-curate-").toString)
    // outer width scope: the per-round state checkpoint (where each
    // increment's LAZY rollup actually executes, see checkpointResult)
    // must also run at loop width, not session width
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopShufflePartitions)
    try {
      var state: Option[DataFrame] = None
      for (b <- 0L until nBatches.toLong) {
        // checkpointResult=false: the loop owns the one checkpoint per
        // round (on the merged state), so the per-increment rollup does
        // not pay a second materialization job
        val roll = curateIncrement(
          docsDf.filter(col(idCol) >= b * width && col(idCol) < (b + 1) * width),
          idCol, keyCols, valueCol, root, b, cfg, loopShufflePartitions,
          checkpointResult = false)
        state = Some(state
          .map(prev => Transforms.mergeRollups(prev, roll, keyCols))
          .getOrElse(roll).localCheckpoint(true))
        // mid-stream state maintenance (the lifecycle hooks q250
        // hash-gates): both run AFTER this arrival's rollup is eagerly
        // checkpointed, so nothing lazy spans a state rewrite
        if (compactAfter.contains(b))
          CurationState.compactState(spark, root, b)
        if (purgeRejectedAfter.contains(b))
          CurationState.purgeDocs(spark, root,
            CurationState.rejectedIds(spark, root, idCol, b), idCol)
      }
      state.get // eagerly checkpointed — safe to GC internal state below
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      if (ownState)
        try {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** ONE production arrival through the persisted-state curation — the
    * serving shape a real crawl increment calls (the 4-batch
    * [[incrementalCurate]] is this function in a loop, so the q250 and
    * q244 hash gates prove the single-arrival API for free): gate →
    * incremental exact dedup against `stateDir`'s fingerprint history →
    * incremental LSH+Jaccard near-dedup against the persisted band
    * index with candidate-pruned postings → append this increment's
    * `batch=<batchId>` state partitions (overwrite-idempotent on
    * retry) → return this increment's kept-doc rollup (mergeable into
    * the caller's running state via
    * [[graft.transform.Transforms.mergeRollups]]).
    *
    * `batchId` must be strictly increasing across arrivals and doc ids
    * must not recede (the q235 arrival-order contract — ids are
    * assigned at arrival); the prior-state reads partition-prune to
    * `batch < batchId`. With `checkpointResult` (the default) the
    * returned rollup is eagerly checkpointed inside the shuffle-width
    * scope; a caller that immediately folds it into its own
    * checkpointed state (the [[incrementalCurate]] loop) passes false
    * and skips the second materialization — the remaining lazy step is
    * the key-domain-sized rollup agg only (every corpus-scale frame was
    * already forced by the state writes).
    *
    * WARNING (checkpointResult = false): the lazy result must be
    * EXECUTED before co-planning it with another increment's result in
    * one action. Two increments' frames scan the same state directory
    * with different captured file listings; ReuseExchange canonicalizes
    * same-path scans as equal and conflates them, so the co-planned
    * frames all read ONE listing and later increments silently lose
    * their cross-batch evidence (see [[arrivalReports]]).
    */
  def curateIncrement(newDocs: DataFrame, idCol: String,
      keyCols: Seq[String], valueCol: String,
      stateDir: String, batchId: Long, cfg: Config = Config(),
      loopShufflePartitions: Int = 8,
      checkpointResult: Boolean = true): DataFrame = {
    import graft.transform.Transforms
    val spark = newDocs.sparkSession
    import spark.implicits._
    val b = batchId
    val (ddDir, bandsDir, postDir, sizesDir) =
      (s"$stateDir/dd", s"$stateDir/bands", s"$stateDir/postings",
        s"$stateDir/sizes")
    val ledgerDir = s"$stateDir/ledger"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopShufflePartitions)
    try {
      // the arrival's id cover rides the annotate checkpoint as an
      // observe (zero extra jobs) and lands in the ranges manifest —
      // the metadata that lets by-id maintenance ([[CurationState
      // .purgeDocs]], ledger redaction) derive its touched partitions
      // without probing every partition with a Spark job (VERDICT r14 #2)
      val annObs = org.apache.spark.sql.Observation()
      val ann = annotate(newDocs)
        .observe(annObs, min(col(idCol)).as("mn"), max(col(idCol)).as("mx"),
          count(lit(1)).as("n"))
        .localCheckpoint(true)
      // .get(k).flatten: AQE's empty-relation propagation can eliminate
      // an observed empty subtree entirely (empty metrics map) — for a
      // min/max/count that is exactly the empty-arrival case
      def obsLong(m: Map[String, Any], k: String): Option[Long] =
        m.get(k).flatMap(Option(_)).map(_.asInstanceOf[Number].longValue)
      val annM = annObs.get
      CurationState.writeRange(spark, stateDir, b,
        obsLong(annM, "mn"), obsLong(annM, "mx"),
        obsLong(annM, "n").getOrElse(0L), idCol)
      val batch = ann.filter(gatePredicate(cfg))
      val fpHistory =
        if (b == 0L) Seq.empty[String].toDF("fingerprint")
        else spark.read.parquet(ddDir).filter(col("batch") < b)
          .filter(col("kept") === 1L).select("fingerprint")
      // the dedup decision IS state: persist it once (id, fingerprint,
      // kept) — the parquet append doubles as the materialization a
      // checkpoint would have paid for, and later arrivals read their
      // fingerprint history straight off it. Overwrite mode per batch
      // dir: state content is deterministic, so a retry of a crashed
      // arrival simply rewrites its own partitions — idempotent
      // without completion markers
      Dedup.incrementalExactDedup(batch, fpHistory, idCol, "text")
        .write.mode("overwrite").parquet(s"$ddDir/batch=$b")
      val dd = spark.read.parquet(s"$ddDir/batch=$b")
      val ex = batch.join(
        dd.filter(col("kept") === 1L).select(idCol), idCol)
        .localCheckpoint(true)
      // append THIS increment's bands / postings / per-doc sizes —
      // each write is a new batch=N directory; nothing already
      // persisted is touched. The bands→candidates chain and the
      // postings→sizes chain both hang off the CHECKPOINTED `ex` and
      // write disjoint tables, so the two chains overlap (guide §2.6)
      // instead of paying their fixed job costs end-to-end; within
      // each chain order is preserved (candidates read the written
      // bands, sizes read the written postings). r22 moved the
      // candidate generation INTO the bands chain — it depends only on
      // bands state, so it overlaps the postings explode+distinct (the
      // increment's widest write) instead of waiting for it.
      @volatile var pairsOut: (DataFrame, Seq[Long]) = null
      graft.util.Par.run[Unit](Seq(
        () => {
          Dedup.lshBands(
            Dedup.minhashSignaturesFused(ex, idCol, "text", cfg.shingleN),
            idCol).write.mode("overwrite").parquet(s"$bandsDir/batch=$b")
          // candidates: new bands vs the PRIOR index (partition-pruned)
          // plus within-batch collisions. Each cross pair keeps the
          // prior side's arrival batch (`a_batch`, functionally
          // determined by a) so the verification reads below can
          // partition-prune to the batches that actually hold
          // candidates.
          val bandsB = spark.read.parquet(s"$bandsDir/batch=$b")
          val index = spark.read.parquet(bandsDir)
            .filter(col("batch") < b)
            .select(col(idCol).as("a"), col("band_idx"), col("band_hash"),
              col("batch").cast("long").as("a_batch"))
          val cross = bandsB.join(index, Seq("band_idx", "band_hash"))
            .select(col("a"), col(idCol).as("b"), col("a_batch"))
          val inBatch = Dedup.candidatePairs(bandsB, idCol)
            .withColumn("a_batch", lit(b))
          // bounded driver valve: the distinct prior batches candidates
          // touch — ≤ batchId values, harvested as an OBSERVE riding the
          // candidate checkpoint itself (VERDICT r14 #3: the r14 shape
          // paid a separate distinct+collect job per arrival AND widened
          // the dedup to (a, b, a_batch); now the distinct stays
          // two-column and the batch set costs zero extra jobs).
          // a_batch is functionally determined by a, so the narrower
          // distinct keeps the same pair set (the VERDICT r13 #1
          // contract: the per-increment state SCAN is
          // candidate-batch-sized, not O(accumulated corpus))
          val pairsObs = org.apache.spark.sql.Observation()
          val pairs = cross.unionByName(inBatch)
            .observe(pairsObs, collect_set(col("a_batch")).as("cb"))
            .select(col("a"), col("b")).distinct()
            .localCheckpoint(true)
          // AQE's empty-relation propagation ELIMINATES a CollectMetrics
          // node whose observed subtree is runtime-empty below a shuffle
          // — the observation then completes with an EMPTY metrics map.
          // That case is precisely "no candidate pairs", so missing ==
          // empty
          val candBatches: Seq[Long] =
            (pairsObs.get.get("cb").toSeq
              .flatMap(_.asInstanceOf[scala.collection.Seq[Any]])
              .map(_.asInstanceOf[Number].longValue) :+ b).distinct
          pairsOut = (pairs, candBatches)
        },
        () => {
          Dedup.shingleSet(ex, idCol, "text", cfg.shingleN)
            .write.mode("overwrite").parquet(s"$postDir/batch=$b")
          // sizes aggregate off the JUST-WRITTEN postings partition (the
          // state append doubles as the materialization, the dd pattern
          // above): re-deriving from `ex` would re-pay the explode +
          // distinct shuffle of the widest intermediate a second time
          spark.read.parquet(s"$postDir/batch=$b")
            .groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
            .write.mode("overwrite").parquet(s"$sizesDir/batch=$b")
        }))
      val (pairs, candBatches) = pairsOut
      val verified = prunedJaccardStage(pairs,
        prunedStateRead(spark, postDir, candBatches), idCol)
        .filter(col("jaccard") >= cfg.jaccardThreshold)
      val losers = verified.select(col("b").as(idCol)).distinct()
      // the DROP LEDGER: every rejected doc with its reason — gate
      // (annotate-stage predicate), exact_dup (fingerprint history),
      // near_dup (verified Jaccard loser). Kept ids are derivable
      // (dd.kept==1 minus near_dup), so the persisted state answers
      // "why is doc X not in the training set" without any recompute —
      // the curation audit trail (q250 digests the persisted fates
      // against a one-shot classification replay).
      // NULL-annotated rows (e.g. null text) fail BOTH gatePredicate and
      // !gatePredicate under three-valued logic — coalesce to false so
      // every doc lands in exactly one of {kept, ledger} (the audit
      // contract; the q250 ledger-digest oracle classifies every ann row)
      ann.filter(not(coalesce(gatePredicate(cfg), lit(false))))
        .select(col(idCol), lit("gate").as("reason"))
        .unionByName(dd.filter(col("kept") === 0L)
          .select(col(idCol), lit("exact_dup").as("reason")))
        .unionByName(losers.select(col(idCol), lit("near_dup").as("reason")))
        .write.mode("overwrite").parquet(s"$ledgerDir/batch=$b")
      // consume the PERSISTED decision (the write above already paid the
      // Jaccard stage once; re-deriving `losers` here would pay it twice)
      val kept = ex.join(
        spark.read.parquet(s"$ledgerDir/batch=$b")
          .filter(col("reason") === "near_dup").select(idCol),
        Seq(idCol), "left_anti")
      val roll = Transforms.mergeableRollup(kept, keyCols, col(valueCol))
      if (checkpointResult) roll.localCheckpoint(true) else roll
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  /** Per-arrival curation REPORTS — [[incrementalCurate]] without the
    * merge: each arrival batch runs through [[curateIncrement]] against
    * the shared persisted state and keeps its OWN rollup, tagged with
    * its batch id. This is the finer-grained incremental equality: under
    * the arrival-order contract every batch's report equals the
    * one-shot curation restricted to that batch (the q235 argument at
    * doc level — exact-dedup keepers hold their global min id in their
    * first batch, and near-dup losers always lose to a lower id in an
    * earlier-or-same batch), which q244's oracle machine-checks by
    * grouping the one-shot SQL by batch. The production reading: the
    * per-arrival ingest report ("this crawl slice contributed N docs,
    * M tokens per source") is exactly recoverable from the incremental
    * state, no recompute.
    *
    * Scale posture identical to [[incrementalCurate]] (each arrival
    * touches O(increment); state appends are arrival-partitioned); the
    * per-batch rollups stay lazy until ONE final union checkpoint
    * (key-domain × nBatches rows) — no per-batch materialization jobs.
    */
  def arrivalReports(docsDf: DataFrame, idCol: String, keyCols: Seq[String],
      valueCol: String, nBatches: Int = 4, cfg: Config = Config(),
      stateDir: Option[String] = None,
      loopShufflePartitions: Int = 8): DataFrame = {
    require(nBatches >= 1, "arrivalReports needs nBatches >= 1")
    import graft.transform.Transforms
    val spark = docsDf.sparkSession
    val span = idSpan(docsDf, idCol)
    if (span.isEmpty) // empty corpus: empty report with the schema
      return Transforms.mergeableRollup(
        annotateAndFilter(docsDf, cfg), keyCols, col(valueCol))
        .withColumn("batch", lit(0L)).filter(lit(false))
    val maxId = span.get._2
    val width = maxId / nBatches + 1
    val ownState = stateDir.isEmpty
    val root = stateDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-arrivals-").toString)
    try {
      val reports = (0L until nBatches.toLong).map { b =>
        // checkpointResult = true is CORRECTNESS here, not just the
        // greedy-loop perf rule: co-planning the four lazy reports in
        // one union action lets ReuseExchange conflate their scans of
        // the SAME state directory (same root path, different file
        // listings captured per call) — every batch then silently
        // reads the EARLIEST listing and cross-batch near-dup drops
        // vanish (observed: 453 vs 431 kept at sf0.01; flipping
        // spark.sql.exchange.reuse=false confirmed the mechanism).
        // Eager per-batch execution never co-plans two listings.
        curateIncrement(
          docsDf.filter(col(idCol) >= b * width && col(idCol) < (b + 1) * width),
          idCol, keyCols, valueCol, root, b, cfg, loopShufflePartitions,
          checkpointResult = true)
          .withColumn("batch", lit(b))
      }
      reports.reduce(_ unionByName _).localCheckpoint(true)
    } finally {
      if (ownState)
        try {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** ONE arrival through the ingest-side distribution drift monitor —
    * the codebook-staleness posture (q240) applied to the CURATION
    * INGEST: is this crawl slice distributionally unlike everything
    * already curated? Each arrival pays ONE row-local pass over the
    * increment to build a fixed-width text-length histogram
    * (`bucket = least(nBuckets−1, length div bucketWidth)` — exact
    * integer arithmetic), persists it as a new `lenhist/batch=N`
    * partition (bucket-domain-sized: the state is ~nBuckets rows per
    * arrival, never documents), and computes the Laplace-smoothed PSI
    * of this arrival against the SUM of all prior arrivals' persisted
    * histograms — O(increment) scan + O(batches·buckets) state math,
    * the [[curateIncrement]] scale contract. Returns the per-bucket
    * drift curve: (batch, bucket, n_ref, n_cur, contrib, psi_cum,
    * drift), empty for batch 0 (no reference yet; its histogram is
    * still persisted). `drift` = total PSI (psi_cum at the last
    * bucket — contributions are non-negative, so the running sum's max
    * IS the total) > 0.25, the standard PSI alarm line.
    *
    * Gate discipline ([[graft.transform.Stats.psiByKey]]): every
    * probability is one division of exact integers, `ln` is the one
    * ±1-ulp step absorbed by pround(6) on a batches×buckets-bounded
    * output, and the headline PSI rides a RUNNING window sum in pinned
    * bucket order. Within one increment `batch` is a literal, so every
    * window's partitionBy(batch) constant-folds away: the windows are
    * single-partition, but over the nBuckets-row bucket grid only —
    * metadata scale by construction (PlanSpec pins that shape).
    * Retry-idempotent like the dedup state: a re-run of the same
    * batchId overwrites its own partition and reads the same prior
    * state.
    *
    * `logBuckets` switches to scale-free bucketing:
    * `bucket = floor(log2(length))` spelled as the exact integer
    * `strlen(bin(length)) − 1`, no float log near a boundary. Fixed
    * width saturates its last bucket on corpora much longer than
    * `nBuckets·bucketWidth` chars and goes blind to drift WITHIN that
    * tail; the log mode keeps per-octave resolution at any document
    * scale (spec pins the blind-vs-sighted contrast). State from the
    * two modes is incompatible — pick one per stateDir.
    */
  def driftIncrement(newDocs: DataFrame, textCol: String, stateDir: String,
      batchId: Long, nBuckets: Int = 16, bucketWidth: Long = 64L,
      logBuckets: Boolean = false): DataFrame =
    driftIncrementBy(newDocs,
      lenBucketExpr(textCol, nBuckets, bucketWidth, logBuckets),
      stateDir, batchId, nBuckets, histSubdir = "lenhist")

  /** [[driftIncrement]]'s text-length bucketing expression, factored so
    * the arrival-loop audit can hand the same bucketing to the
    * write-phase fan-out.
    */
  private def lenBucketExpr(textCol: String, nBuckets: Int,
      bucketWidth: Long, logBuckets: Boolean): org.apache.spark.sql.Column = {
    require(nBuckets >= 2 && bucketWidth >= 1L,
      "driftIncrement needs >= 2 buckets of positive width")
    // coalesce(length, 0): a NULL text must land in bucket 0 with the
    // empty strings, NOT bucket nBuckets-1 — least() SKIPS nulls, so
    // without it `least(15, NULL)` = 15 and a crawler bug nulling texts
    // reads as LONG-document drift (the exact inversion of the truth).
    val len = s"coalesce(cast(length($textCol) as bigint), cast(0 as bigint))"
    expr(
      if (logBuckets)
        s"least(cast(${nBuckets - 1} as bigint), " +
          s"cast(length(bin($len)) as bigint) - 1)"
      else
        s"least(cast(${nBuckets - 1} as bigint), $len div $bucketWidth)")
  }

  /** ONE arrival through the drift monitor over an ARBITRARY keyed
    * histogram (VERDICT r13 #4 — [[driftIncrement]] generalized): the
    * text-length monitor is blind to a drifted source MIX or a
    * token-entropy shift, so the bucketing is now a parameter — any
    * EXACT-INTEGER expression with domain `[0, nBuckets)` (exactness is
    * the gate discipline: a float bucket boundary could flip a row
    * between engines; a categorical key enters through a replayable
    * integer hash, e.g. the md5-parity spelling
    * `conv(substring(md5(src),1,8),16,10) % k` ↔ DuckDB
    * `('0x'||substr(md5(src),1,8))::BIGINT % k`). Everything else is
    * the [[driftIncrement]] contract verbatim: one row-local pass per
    * arrival, bucket-domain persisted state under
    * `stateDir/<histSubdir>/batch=N`, Laplace-smoothed PSI vs the sum
    * of all prior arrivals, retry-idempotent overwrites.
    *
    * Distinct monitors on one corpus = distinct `histSubdir`s (or
    * stateDirs): each monitor's state is its own table and compacts
    * with [[CurationState.compactState]] unchanged (reads re-aggregate
    * per bucket, so folded partitions sum identically).
    */
  def driftIncrementBy(newDocs: DataFrame, bucket: org.apache.spark.sql.Column,
      stateDir: String, batchId: Long, nBuckets: Int = 16,
      histSubdir: String = "hist"): DataFrame = {
    writeHistIncrement(newDocs, bucket, s"$stateDir/$histSubdir", batchId,
      nBuckets)
    readoutDrift(newDocs.sparkSession, s"$stateDir/$histSubdir", batchId,
      nBuckets)
  }

  /** [[driftIncrementBy]]'s WRITE phase: one row-local pass over the
    * arrival, persisted as `histDir/batch=<batchId>` with the
    * out-of-domain guard riding the write as an observe. Split from the
    * readout so the arrival-loop audits can fan the per-arrival writes
    * out concurrently (they are mutually independent — each scans only
    * its own arrival and overwrites only its own partition; the
    * cross-arrival coupling lives entirely in [[readoutDrift]], which
    * must run after every write it reads).
    */
  private def writeHistIncrement(newDocs: DataFrame,
      bucket: org.apache.spark.sql.Column, histDir: String, batchId: Long,
      nBuckets: Int): Unit = {
    require(nBuckets >= 2, "driftIncrementBy needs >= 2 buckets")
    val spark = newDocs.sparkSession
    // fail fast on an out-of-domain bucket (caller bug, e.g. a missing
    // `% k`): the readout's bucket grid would silently DROP that row's
    // mass from both p and q, understating exactly the drift the
    // monitor was pointed at. The guard RIDES the histogram write as an
    // observe over the bucket-domain aggregated rows (VERDICT r14 #3 —
    // the r14 shape paid a read-back job per arrival; a per-row
    // raise_error was measured +10-15% on the arrival's one scan, and a
    // pre-write checkpoint pays an extra job — the observe costs
    // nothing). An invalid partition is deleted before throwing, so
    // retry-idempotence sees no bad state.
    val isBad = col("bucket").isNull || col("bucket") < 0 ||
      col("bucket") >= nBuckets
    val domObs = org.apache.spark.sql.Observation()
    newDocs
      .select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .observe(domObs,
        sum(when(isBad, 1L).otherwise(0L)).as("n_bad"),
        sum(when(col("bucket").isNull, 1L).otherwise(0L)).as("n_null"),
        min(when(isBad, col("bucket"))).as("mn_bad"),
        max(when(isBad, col("bucket"))).as("mx_bad"))
      .write.mode("overwrite").parquet(s"$histDir/batch=$batchId")
    // .get(k).flatten: an AQE-eliminated empty observed subtree (empty
    // arrival) delivers an empty metrics map — zero bad buckets
    val dom = domObs.get
    def obsL(k: String): Long =
      dom.get(k).flatMap(Option(_)).map(_.asInstanceOf[Number].longValue)
        .getOrElse(0L)
    if (obsL("n_bad") > 0L) {
      val p = new org.apache.hadoop.fs.Path(s"$histDir/batch=$batchId")
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      catch { case scala.util.control.NonFatal(_) => () }
      throw new IllegalArgumentException(
        s"driftIncrementBy: bucket out of [0, $nBuckets): " +
          s"${obsL("n_bad")} offending value(s), ${obsL("n_null")} NULL, " +
          s"non-null range ${dom.get("mn_bad").orNull}.." +
          s"${dom.get("mx_bad").orNull}")
    }
  }

  /** [[driftIncrementBy]]'s READOUT phase: the drift curve of batch
    * `batchId` against the SUM of all persisted `batch < batchId`
    * histograms. The state scan's file listing is captured when this
    * frame is BUILT, so it must be called only after every
    * `batch < batchId` write has completed (the sequential API does;
    * the audit fan-out builds all readouts after its write barrier).
    */
  private def readoutDrift(spark: org.apache.spark.sql.SparkSession,
      histDir: String, batchId: Long, nBuckets: Int): DataFrame = {
    import spark.implicits._
    import graft.util.Rounding.pround
    if (batchId == 0L)
      return Seq.empty[(Long, Long, Long, Long, Double, Double, Long)]
        .toDF("batch", "bucket", "n_ref", "n_cur", "contrib", "psi_cum",
          "drift")
    val ref = spark.read.parquet(histDir).filter(col("batch") < batchId)
      .groupBy(col("bucket")).agg(sum(col("n")).as("n_ref"))
    val cur = spark.read.parquet(s"$histDir/batch=$batchId")
      .withColumnRenamed("n", "n_cur")
    // totals as WINDOW sums over the zero-filled bucket grid (r22): the
    // grid always holds exactly nBuckets rows covering every bucket, so
    // Σ n_ref over the grid IS the state total — the previous separate
    // 1-row total aggregates re-ran the ref/cur scans a second time each
    // and cost two broadcast exchanges per curve (the per-curve fixed
    // cost dominated the audits' readout union). Empty arrivals stay
    // well-defined: the grid rows exist with coalesced 0s, so the window
    // sum is 0, exactly the old coalesce(sum, 0) — Laplace smoothing
    // keeps every probability 1/nBuckets. All-integer window sums, so
    // the totals are bit-identical to the aggregate form.
    val p = (col("n_ref") + 1).cast("double") /
      (col("nt_ref") + nBuckets).cast("double")
    val q = (col("n_cur") + 1).cast("double") /
      (col("nt_cur") + nBuckets).cast("double")
    val contrib = (p - q) * log(p / q)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("batch")).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = Window.partitionBy(col("batch"))
    spark.range(nBuckets).toDF("bucket")
      .join(broadcast(ref), Seq("bucket"), "left")
      .join(broadcast(cur), Seq("bucket"), "left")
      .select(lit(batchId).as("batch"), col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .withColumn("nt_ref", sum(col("n_ref")).over(wb))
      .withColumn("nt_cur", sum(col("n_cur")).over(wb))
      .select(col("batch"), col("bucket"), col("n_ref"), col("n_cur"),
        pround(contrib, 6).as("contrib"),
        pround(sum(contrib).over(w), 6).as("psi_cum"))
      .withColumn("drift",
        (max(col("psi_cum")).over(wb) > 0.25).cast("long"))
  }

  /** Arrival-loop composition of [[driftIncrement]] (the
    * [[incrementalCurate]]-to-[[curateIncrement]] relationship): run
    * each arrival through the persisted-histogram monitor in order and
    * return the concatenated drift curves (batches 1..n — batch 0 has
    * no reference). The result is eagerly checkpointed before any
    * owned temp state is deleted.
    *
    * Failure-state contract (changed by the r21 write fan-out): with a
    * caller-supplied `stateDir`, an out-of-domain-bucket failure in ANY
    * arrival may leave LATER arrivals' `batch=N` histogram partitions
    * already written (the sequential loop stopped at the first bad
    * arrival). Recovery is unchanged — writes are overwrite-idempotent
    * per batch, so re-running after the fix rewrites every partition.
    */
  def ingestDriftAudit(arrivals: Seq[DataFrame], textCol: String,
      stateDir: Option[String] = None, nBuckets: Int = 16,
      bucketWidth: Long = 64L): DataFrame = {
    require(arrivals.nonEmpty, "ingestDriftAudit needs at least one arrival")
    val spark = arrivals.head.sparkSession
    val ownState = stateDir.isEmpty
    val root = stateDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-drift-").toString)
    try {
      // WRITE phase, fanned out (guide §2.6): each arrival's histogram
      // write scans only its own slice and overwrites only its own
      // partition — mutually independent jobs whose fixed cost dominated
      // the sequential loop. The readouts below are the only
      // cross-arrival consumers, and they are built strictly after this
      // barrier so every captured state listing already holds all
      // batches (the `batch < b` filter restores each curve's reference
      // window — same rows as the sequential API).
      val bucketCol = lenBucketExpr(textCol, nBuckets, bucketWidth,
        logBuckets = false)
      graft.util.Par.run(arrivals.zipWithIndex.map { case (a, b) => () =>
        writeHistIncrement(a, bucketCol, s"$root/lenhist", b.toLong, nBuckets)
      })
      val curves = arrivals.indices.map(b =>
        readoutDrift(spark, s"$root/lenhist", b.toLong, nBuckets))
      // batches×buckets rows: eager checkpoint so the frame survives
      // the owned-state cleanup below. Co-planning these lazy curves is
      // SAFE from the [[arrivalReports]] ReuseExchange listing
      // conflation only because every curve's state scan carries a
      // DISTINCT `batch < b` literal — the canonical plans differ, so
      // nothing conflates. Don't refactor that filter away.
      curves.reduce(_ unionByName _).localCheckpoint(true)
    } finally {
      if (ownState)
        try {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Arrival-loop composition of [[driftIncrementBy]] — the
    * [[ingestDriftAudit]] shape for an arbitrary keyed-histogram
    * monitor (q251 runs it over the source mix). Same co-planning
    * safety argument: each curve's state scan carries a distinct
    * `batch < b` literal, so ReuseExchange cannot conflate listings.
    * Same failure-state contract as [[ingestDriftAudit]]: with a
    * caller-supplied `stateDir`, later batches' histogram partitions
    * may already be written when the out-of-domain guard throws
    * (overwrite-idempotent — re-run after the fix).
    */
  def keyedDriftAudit(arrivals: Seq[DataFrame],
      bucket: org.apache.spark.sql.Column,
      stateDir: Option[String] = None, nBuckets: Int = 16): DataFrame = {
    require(arrivals.nonEmpty, "keyedDriftAudit needs at least one arrival")
    val spark = arrivals.head.sparkSession
    val ownState = stateDir.isEmpty
    val root = stateDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-kdrift-").toString)
    try {
      // same two-phase shape as [[ingestDriftAudit]]: independent
      // per-arrival writes fan out, readouts build after the barrier
      graft.util.Par.run(arrivals.zipWithIndex.map { case (a, b) => () =>
        writeHistIncrement(a, bucket, s"$root/hist", b.toLong, nBuckets)
      })
      arrivals.indices.map(b =>
        readoutDrift(spark, s"$root/hist", b.toLong, nBuckets))
        .reduce(_ unionByName _).localCheckpoint(true)
    } finally {
      if (ownState)
        try {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
