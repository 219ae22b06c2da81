package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable feature-engineering operators reproducing the reference's
  * bronze→silver→gold pipelines as composable `DataFrame => DataFrame`
  * stages (SURVEY §2.2-2.4, §2.9; reference pipelines at
  * `chicago_taxi_trips_silver.ipynb`, `chicago_taxi_trips_hourly_gold
  * .ipynb`, `chicago_weather_silver.py`, `chicago_weather_hourly_fs.py`).
  *
  * Everything is built-in `functions._` — codegen'd, no UDFs — so each
  * stage stays inside WholeStageCodegen and Catalyst can push filters /
  * prune columns across stage boundaries.
  */
object Transforms {

  /** F4: truncate-to-hour — the event_timestamp bucketing idiom behind
    * every hourly feature (`chicago_taxi_trips_hourly_gold.ipynb:73-77`).
    * The reference uses `date_format(ts, "yyyy-MM-dd HH:00:00")` (a
    * string); we keep TimestampType (`date_trunc`) per SURVEY §7.4.2 and
    * normalize strings at the boundary instead.
    */
  def hourBucket(ts: Column): Column = date_trunc("hour", ts)

  /** F4 string-parity variant for pipelines that need the reference's
    * exact `"yyyy-MM-dd HH:00:00"` string key. */
  def hourBucketString(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd HH:00:00")

  /** P8: conditional recode (CASE WHEN) — precipitation code → label
    * (`chicago_weather_silver.py:23-27`). */
  def recode(c: Column, mapping: Map[String, String], default: Column): Column =
    mapping.foldLeft(Option.empty[Column]) { case (acc, (from, to)) =>
      Some(acc.fold(when(c === from, to))(_.when(c === from, to)))
    }.fold(default)(_.otherwise(default))

  /** P9: null default (`chicago_weather_hourly_fs.py:36-37`). */
  def nullDefault(c: Column, default: Any): Column = coalesce(c, lit(default))

  /** U1: priority collapse of a precipitation set — "snow" > "rain" >
    * "no" (`chicago_weather_hourly_fs.py:22-29`). The reference uses a
    * Python UDF; pure expressions keep it codegen'd (SURVEY §2.9).
    */
  def precipitationPriority(set: Column): Column =
    when(array_contains(set, "snow"), "snow")
      .when(array_contains(set, "rain"), "rain")
      .otherwise("no")

  /** P12: dynamic map flatten — schema-on-read pivot of a
    * `Map(String,String)` column into top-level columns
    * (`chicago_taxi_trips_silver.ipynb:38-47`). Requires one driver-side
    * key-discovery job (two-pass, as in the reference); at scale bound it
    * with `keySampleFraction` so discovery reads a sample, not the full
    * table (SURVEY §7.4.6).
    */
  def flattenMapColumn(
      df: DataFrame,
      mapCol: String,
      keep: Seq[String] = Seq.empty,
      keySampleFraction: Double = 1.0): DataFrame = {
    // fixed seed: an unseeded sample draws a different key set per
    // invocation, so a rare map key could appear in one run's output
    // schema and vanish in the next — breaking unionByName/append
    // consumers of what must be a deterministic projection
    val base =
      if (keySampleFraction < 1.0) df.sample(keySampleFraction, 20240101L)
      else df
    val keys = base
      .select(explode(map_keys(col(mapCol))).as("key"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted
    val projected = keys.map(k => col(mapCol).getItem(k).as(k))
    df.select(keep.map(col) ++ projected: _*)
  }

  /** P13: JSON parse with declared schema
    * (`chicago_weather_bronze.py:17-36,42-45`). */
  def parseJson(c: Column, schema: org.apache.spark.sql.types.StructType): Column =
    from_json(c, schema)

  /** A1-pattern: hourly stats per key — the flagship gold feature query
    * (`chicago_taxi_trips_hourly_gold.ipynb:78-88`): groupBy(keys, hour)
    * with avg/sum/count. Aggregations are hash aggs with map-side partial
    * aggregation; one keyed shuffle.
    */
  def hourlyStats(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String): DataFrame =
    df.groupBy((keyCols.map(col) :+ hourBucket(col(tsCol)).as("event_timestamp")): _*)
      .agg(
        avg(col(valueCol)).as(s"avg_$valueCol"),
        sum(col(valueCol)).as(s"sum_$valueCol"),
        min(col(valueCol)).as(s"min_$valueCol"),
        max(col(valueCol)).as(s"max_$valueCol"),
        count(lit(1)).as("n_events"))

  /** Batch sessionization: assign each row a per-key running session
    * index that increments at inactivity gaps of `gapUs` or more
    * (epoch-µs integer arithmetic — exact, engine-portable). Gap
    * semantics match Spark's built-in `session_window` (a session spans
    * [first, last + gap); an event exactly `gap` after the previous one
    * starts a new session), so this is the exact batch twin of
    * [[graft.streaming.StreamingIngest.sessionWindows]] — equivalence is
    * spec-pinned. Rows keep their columns plus `session_id` (1-based per
    * key). Ties in the timestamp are pinned by `idCol` so the running
    * index is deterministic.
    *
    * Scale: one per-key window (bounded partitions — per-user activity,
    * not corpus size); no global sort. A single-key firehose would
    * overload its window partition; [[sessionizeBucketed]] is the
    * equality-pinned valve that bounds every partition by a time bucket.
    */
  def sessionize(
      df: DataFrame, keyCol: String, idCol: String, tsUsCol: String,
      gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol).asc, col(idCol).asc)
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(tsUsCol), 1).over(order)
    df.withColumn("session_id",
      sum(when(prev.isNull.or(col(tsUsCol) - prev >= gapUs), 1L)
        .otherwise(0L)).over(run))
  }

  /** Scale valve for [[sessionize]]: identical output, but no window
    * partition ever holds more than one time bucket of one key — the
    * single-key-firehose case (one user producing a reducer-breaking
    * event volume) is bounded by `bucketUs`, not by total key activity.
    *
    * Two phases. Phase 1 sessionizes locally within each (key, bucket)
    * partition — valid because bucket boundaries follow the global
    * per-key time order ((bucket, ts, id) ordering ≡ (ts, id)). Phase 2
    * repairs the boundaries on the per-(key, bucket) SUMMARY table
    * (first/last timestamp + local flag count — buckets-per-key rows,
    * timespan/bucketUs, regardless of event volume): a bucket's first
    * event starts a new session iff the previous present bucket's last
    * event is ≥ `gapUs` away, and each bucket's running session offset
    * is a prefix sum of flag counts over that tiny table. The summary
    * joins back keyed on (key, bucket).
    *
    * Equality with the single-window formulation is property-pinned in
    * TransformsSpec across random streams and bucket widths.
    */
  def sessionizeBucketed(
      df: DataFrame, keyCol: String, idCol: String, tsUsCol: String,
      gapUs: Long, bucketUs: Long,
      persistIntermediate: Boolean = true): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    import org.apache.spark.sql.expressions.Window
    // exact floor division for any sign, in integer arithmetic:
    // (us - pmod(us, b)) is a multiple of b, and `div` keeps the
    // quotient in long domain (a double `/` would round above 2^53)
    val bkt = expr(s"($tsUsCol - pmod($tsUsCol, ${bucketUs}L)) div ${bucketUs}L")
    val wLocal = Window.partitionBy(col(keyCol), col("__bkt"))
      .orderBy(col(tsUsCol).asc, col(idCol).asc)
    // the flagged frame feeds BOTH the summary aggregation and the final
    // join — without persistence the expensive sort+window stage runs
    // twice (ReuseExchange dedupes only the shuffle below it)
    val local0 = df.withColumn("__bkt", bkt)
      .withColumn("__prev", lag(col(tsUsCol), 1).over(wLocal))
      .withColumn("__flag",
        when(col(tsUsCol) - col("__prev") >= gapUs, 1L).otherwise(0L))
    val local = if (persistIntermediate) local0.persist() else local0
    val summary = local.groupBy(col(keyCol), col("__bkt")).agg(
      min(col(tsUsCol)).as("__first_us"),
      max(col(tsUsCol)).as("__last_us"),
      sum(col("__flag")).as("__nflags"))
    val wBkts = Window.partitionBy(col(keyCol)).orderBy(col("__bkt").asc)
    val repaired = summary
      .withColumn("__prevLast", lag(col("__last_us"), 1).over(wBkts))
      .withColumn("__bflag",
        when(col("__prevLast").isNull
          .or(col("__first_us") - col("__prevLast") >= gapUs), 1L)
          .otherwise(0L))
      .withColumn("__offset", coalesce(
        sum(col("__bflag") + col("__nflags"))
          .over(wBkts.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(keyCol), col("__bkt"), col("__bflag"), col("__offset"))
    local
      .join(repaired, Seq(keyCol, "__bkt"))
      .withColumn("session_id", col("__offset") +
        sum(when(col("__prev").isNull, col("__bflag")).otherwise(col("__flag")))
          .over(wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__bkt", "__prev", "__flag", "__bflag", "__offset")
  }

  /** Declared-list pivot as single-shuffle conditional aggregation: one
    * output column per pivot value, counting (or `agg`-ing) the rows
    * that match it. Spark's own `RelationalGroupedDataset.pivot` with an
    * explicit value list plans TWO aggregation phases (pre-agg on
    * (key, pivotCol), then re-agg on key) — correct, but a second
    * shuffle; lowering directly to `sum(when(pivotCol === v, x))` keeps
    * it to one keyed shuffle with map-side partials. (An inferred-values
    * pivot additionally pays a full distinct scan to discover the list —
    * never do that at scale; declare the list.)
    */
  def pivotFixed(
      df: DataFrame, keyCol: String, pivotCol: String, values: Seq[String],
      valueExpr: Column = lit(1L)): DataFrame = {
    require(values.nonEmpty, "pivot needs at least one declared value")
    def cell(v: String): Column =
      sum(when(col(pivotCol) === v, valueExpr).otherwise(lit(0L))).as(v)
    df.groupBy(col(keyCol)).agg(cell(values.head), values.tail.map(cell): _*)
  }

  /** Per-group z-score feature scaling from EXACT integer sums — the
    * standard normalize-before-training transform, engineered so a
    * second engine reproduces every output bit. `centsCol` must be an
    * integral fixed-point quantization of the feature (e.g.
    * `floor(value*100+0.5)`): the group's `count` / `sum(cents)` /
    * `sum(cents²)` are then exact integers, and mean/variance/z-score
    * derive from them through a fixed IEEE expression tree — identical
    * binary64 in any engine (a naive `avg(double)`/`stddev(double)` is
    * aggregation-order-dependent and NOT reproducible). Variance is the
    * sample (n-1) convention.
    *
    * Scale: one keyed partial-agg shuffle for the stats; with
    * `broadcastStats` (default) the stats table is broadcast back so the
    * data side never reshuffles — right while group cardinality is
    * dimension-sized. Set it false for high-cardinality keys (per-user
    * stats at 1e8+ groups breach the broadcast limits) to fall back to
    * a keyed shuffle join. Caller guarantees `sum(cents²)` fits a long
    * (cents ≤ ~3e4 supports ~10⁹ rows/group; pre-scale the quantization
    * down for wider domains).
    */
  def zscoreNormalize(
      df: DataFrame, keyCols: Seq[String], centsCol: String,
      out: String = "zscore", broadcastStats: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "zscoreNormalize needs at least one key column")
    val stats = df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).cast("double").as("__n_d"),
      sum(col(centsCol)).cast("double").as("__sum_d"),
      sum(col(centsCol) * col(centsCol)).cast("double").as("__sumsq_d"))
    val mean = col("__sum_d") / col("__n_d")
    // degenerate groups (one row, or all-equal values) have no sample
    // variance — emit NaN instead of tripping ANSI divide-by-zero; the
    // guards never fire on real groups, so the hash-gated expression
    // tree for n≥2, var>0 is unchanged
    val variance = when(col("__n_d") > 1.0,
      (col("__sumsq_d") - col("__sum_d") * col("__sum_d") / col("__n_d")) /
        (col("__n_d") - lit(1.0))).otherwise(lit(Double.NaN))
    val z = when(variance > 0.0,
      (col(centsCol).cast("double") - mean) / sqrt(variance))
      .otherwise(lit(Double.NaN))
    df.join(if (broadcastStats) broadcast(stats) else stats, keyCols)
      .withColumn(out, z)
      .drop("__n_d", "__sum_d", "__sumsq_d")
  }

  /** Compliance purge / blocklist filter: drop every row whose key
    * appears in `blocklist` (opt-out registries, GDPR erasure lists,
    * flagged-account removal) via LEFT ANTI join. The blocklist is
    * deduped and, when `broadcastList` (default), broadcast — the data
    * side stays map-side with zero shuffle, the right shape for a small
    * list against a 100 TB corpus. Set `broadcastList=false` when the
    * blocklist itself is corpus-sized (keyed shuffle anti-join).
    */
  def purgeByKey(
      df: DataFrame, keyCols: Seq[String], blocklist: DataFrame,
      broadcastList: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "purgeByKey needs at least one key column")
    val keys = blocklist.select(keyCols.map(col): _*).distinct()
    df.join(if (broadcastList) broadcast(keys) else keys, keyCols, "left_anti")
  }

  /** S2/S3 write discipline: repartition by the write-partition column
    * immediately before a partitioned write so each task owns whole
    * output partitions (small-files control, `ingest_taxy.py:72-75`).
    * With `dynamic=true` an overwrite replaces ONLY the partitions
    * present in `df` (the reference's
    * `partitionOverwriteMode=dynamic`, `ingest_taxy.py:62`).
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCol: String,
      mode: String = "overwrite",
      dynamic: Boolean = false): Unit = {
    val w = df.repartition(col(partitionCol))
      .write.mode(mode)
      .partitionBy(partitionCol)
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .parquet(path)
  }

  /** Small-files compaction: rewrite a parquet table into
    * ~`targetFileSizeMB` files. Long-running appends (S2 ingest)
    * accumulate small files that throttle scan parallelism bookkeeping
    * at scale; periodic compaction restores healthy file sizes. Returns
    * the shuffle partition count used for the rewrite.
    *
    * Hive-partitioned tables must pass their `partitionCols` so the
    * layout is preserved (a flat rewrite would permanently lose
    * partition pruning and collide with later dynamic appends); calling
    * without them on a partitioned path fails fast.
    *
    * Concurrency: single-writer only. The swap is rename-old → rename-new
    * → delete-old (each checked), which narrows but does not eliminate
    * the non-atomic window — coordinate with writers, as with any
    * in-place parquet rewrite (a table format with a manifest is the
    * real fix at scale).
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileSizeMB: Int = 128,
      partitionCols: Seq[String] = Seq.empty): Int = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path.stripSuffix("/") + "__compacting")
    val old = new Path(path.stripSuffix("/") + "__precompact")
    // Crash recovery (the upsertByKey preamble): a leftover
    // __precompact with the table path MISSING means a prior compact
    // died between rename-aside and rename-in — restore it, or every
    // reader (and this re-run's getContentSummary) fails with a
    // missing table until manual intervention. Both present = prior
    // swap completed and only missed cleanup.
    if (fs.exists(old)) {
      if (fs.exists(p)) fs.delete(old, true)
      else require(fs.rename(old, p),
        s"compact: failed to restore interrupted table from $old")
      fs.delete(tmp, true)
    }
    if (partitionCols.isEmpty) {
      val partitionDirs = fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.contains("="))
      require(partitionDirs.isEmpty,
        s"$path is hive-partitioned (${partitionDirs.take(3).mkString(", ")}…); " +
          "pass partitionCols to preserve the layout")
    }
    val bytes = fs.getContentSummary(p).getLength
    val target = targetFileSizeMB.toLong << 20
    val nFiles = math.max(1, ((bytes + target - 1) / target).toInt)
    val df = spark.read.parquet(path)
    // Partitioned tables repartition BY the partition columns: a
    // round-robin repartition(nFiles) would hand every task a slice of
    // every partition value, and partitionBy then emits one file per
    // (task, value) — up to nFiles x |values| files, MORE small files
    // than the compaction started with. Hashing by the partition cols
    // co-locates each value in one task: exactly one file per value.
    val writer =
      (if (partitionCols.nonEmpty)
        df.repartition(nFiles, partitionCols.map(col): _*)
      else df.repartition(nFiles)).write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(tmp.toString)
    require(fs.rename(p, old), s"compact: failed to move $p aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // restore
      throw new java.io.IOException(s"compact: failed to swap in $tmp, restored original")
    }
    fs.delete(old, true)
    nFiles
  }

  /** MERGE-style upsert into a parquet table with no table format: the
    * update batch unions with the current rows and the latest row per
    * key survives (argmax on `versionCol` — ONE keyed aggregation, no
    * window), then the rewrite swaps in via [[compact]]'s rename
    * dance. Version ties break toward the update batch; a STALE update
    * (older version than the stored row) is a no-op for its key, which
    * is what makes retried/out-of-order feature backfills idempotent.
    * If the table does not exist yet, the batch itself is deduped and
    * written.
    *
    * Scale: one uniform keyed shuffle over current ∪ updates. The full
    * rewrite is the no-metadata trade (same caveat as [[compact]]:
    * single-writer, near-atomic swap); when updates cluster in recent
    * partitions, partition the table and cut the rewrite to touched
    * partitions with [[writePartitioned]]'s dynamic overwrite — a
    * manifest-based table format is the real fix at scale.
    */
  def upsertByKey(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String): Unit = {
    require(keyCols.nonEmpty, "upsertByKey needs at least one key column")
    require(updates.columns.contains(versionCol),
      s"updates lack version column $versionCol")
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path.stripSuffix("/") + "__upserting")
    val old = new Path(path.stripSuffix("/") + "__preupsert")
    // Crash recovery: a leftover __preupsert means a prior upsert died
    // mid-swap. If the table path is gone, the prior run died BETWEEN
    // moving it aside and swapping the merge in — restore it, or the
    // !exists(p) branch below would silently rewrite the whole table
    // as just the update batch. If both exist, the prior run completed
    // the swap and only missed cleanup — the table is the merged one.
    if (fs.exists(old)) {
      if (fs.exists(p)) fs.delete(old, true)
      else require(fs.rename(old, p),
        s"upsert: failed to restore interrupted table from $old")
      fs.delete(tmp, true)
    }
    val valueCols = updates.columns.filterNot(keyCols.contains).toSeq
    def latestPerKey(df: DataFrame): DataFrame = {
      val orderCols = Seq(col(versionCol).as("__v"), col("__src").as("__s")) ++
        valueCols.zipWithIndex.map { case (f, i) => col(f).as(s"__c$i") }
      df.groupBy(keyCols.map(col): _*)
        .agg(max(struct(orderCols: _*)).as("__best"))
        .select(keyCols.map(col) ++
          valueCols.zipWithIndex.map { case (f, i) => col(s"__best.__c$i").as(f) }: _*)
    }
    if (!fs.exists(p)) {
      latestPerKey(updates.withColumn("__src", lit(1)))
        .write.mode("overwrite").parquet(path)
    } else {
      val current0 = spark.read.parquet(path)
      require(current0.columns.toSet == updates.columns.toSet,
        s"upsert schema mismatch: table has ${current0.columns.toSeq}, " +
          s"updates have ${updates.columns.toSeq} (a full rewrite would " +
          "silently drop data — migrate the schema explicitly first)")
      val current = current0.select(updates.columns.map(col): _*)
      val merged = latestPerKey(
        current.withColumn("__src", lit(0))
          .unionByName(updates.withColumn("__src", lit(1))))
      merged.write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(p, old), s"upsert: failed to move $p aside")
      if (!fs.rename(tmp, p)) {
        fs.rename(old, p) // restore
        throw new java.io.IOException(
          s"upsert: failed to swap in $tmp, restored original")
      }
      fs.delete(old, true)
    }
  }

  /** Mergeable per-key rollup state — the partial-aggregate shape an
    * incremental ETL persists per batch: (n, sum, min, max) over exact
    * integer cents, every component associative and commutative, so
    * states MERGE instead of recomputing history. [[mergeRollups]] is
    * the merge; the q228 gate runs the merged split against a
    * from-scratch oracle, machine-checking the mergeability theorem
    * (the naive-oracle losslessness convention).
    */
  def mergeableRollup(df: DataFrame, keyCols: Seq[String],
      valueCents: Column): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"), sum(valueCents).as("sum_cents"),
      min(valueCents).as("min_cents"), max(valueCents).as("max_cents"))

  /** Merge two [[mergeableRollup]] states: full-outer on the keys so
    * keys present in only one batch survive; counts/sums add, min/max
    * fold (Spark's least/greatest skip one-sided nulls). Key-domain-
    * sized work — the whole point of keeping state instead of rows.
    */
  def mergeRollups(a: DataFrame, b: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val bb = b.select(keyCols.map(col) ++ Seq(col("n").as("__bn"),
      col("sum_cents").as("__bs"), col("min_cents").as("__bmn"),
      col("max_cents").as("__bmx")): _*)
    a.join(bb, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + coalesce(col("__bn"), lit(0L))).as("n"),
        (coalesce(col("sum_cents"), lit(0L)) +
          coalesce(col("__bs"), lit(0L))).as("sum_cents"),
        least(col("min_cents"), col("__bmn")).as("min_cents"),
        greatest(col("max_cents"), col("__bmx")).as("max_cents")): _*)
  }

  /** Z-order layout write — the multi-dimensional pruning layout
    * ("OPTIMIZE ZORDER BY"): each layout column is scaled to a
    * `bits`-bit integer against its own min/max with pure-integer
    * arithmetic (the [[graft.transform.Stats.histogramFixedWidth]]
    * bucket form), the two scaled values Morton-interleave into a
    * z-value via the codegen [[graft.functions.InterleaveBits]], and
    * the data is range-partitioned + sorted by that z-value before
    * writing. Rows close in BOTH dimensions land in the same files/row
    * groups, so parquet min/max pruning cuts scans for predicates on
    * EITHER column — a lexicographic sort only serves its leading
    * column. The bounds row is a 1-row broadcast; the range partitioner
    * samples the z-value; locality (per-file spread ≤ half the global
    * spread on both dims) is spec-pinned, not assumed.
    */
  def zOrderWrite(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      numFiles: Int,
      bits: Int = 16): Unit = {
    require(bits >= 1 && bits <= 32, s"bits must be in [1,32], got $bits")
    require(numFiles >= 1, "numFiles must be positive")
    val scale = 1L << bits
    val bounds = df.agg(
      min(col(colA)).as("__mna"), max(col(colA)).as("__mxa"),
      min(col(colB)).as("__mnb"), max(col(colB)).as("__mxb"))
    def scaled(c: String, mn: String, mx: String) =
      expr(s"(($c - $mn) * $scale) div ($mx - $mn + 1)")
    df.crossJoin(broadcast(bounds))
      .withColumn("__z", graft.functions.functions.interleave_bits(
        scaled(colA, "__mna", "__mxa"), scaled(colB, "__mnb", "__mxb")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__mna", "__mxa", "__mnb", "__mxb")
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed catalog table: pre-shuffles data into `numBuckets` by
    * `bucketCols` at write time so subsequent equi-joins/aggregations on
    * those keys skip their exchange entirely (verified in PlanSpec).
    * The 100 TB pattern for fact tables joined repeatedly on the same
    * key: pay the shuffle once at ingest, never again.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
