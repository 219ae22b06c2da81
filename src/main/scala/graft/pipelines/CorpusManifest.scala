package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus snapshot manifest — the PUBLISH/VERIFY integrity step a
  * training-data pipeline runs when a curated snapshot is handed to a
  * trainer: per key (source, shard, …) the row count, exact char mass,
  * id range, and an ORDER-INDEPENDENT exact content digest. A reader
  * can re-derive the manifest from the data alone and diff — partial
  * writes, dropped files, duplicated files, or tampered rows all
  * surface as a per-key mismatch instead of a silent training-set
  * change.
  *
  * Digest design: per row `conv(substring(md5(text), 1, 15), 16, 10)`
  * (60 bits of the md5, the CLAUDE.md hex→integer device), summed as
  * DECIMAL(38,0). The sum is order- and partition-independent (integer
  * addition is associative-commutative and decimal(38,0) cannot
  * overflow before ~10²⁰ rows), exact in both engines (Spark decimal ↔
  * DuckDB HUGEINT), and unlike an XOR fold it does NOT cancel
  * duplicate rows — a double-counted file changes the digest. Rendered
  * as a string so the cross-engine hash gate compares digits, not
  * engine decimal encodings.
  *
  * Scale: one map-side-combinable keyed aggregation per manifest —
  * O(corpus) scan, key-domain output. Verify is the same scan plus a
  * full outer join of two key-domain-sized manifest frames.
  */
object CorpusManifest {

  /** Derive the manifest frame: one row per key. */
  def manifest(df: DataFrame, keyCols: Seq[String], idCol: String,
      textCol: String): DataFrame = {
    require(keyCols.nonEmpty, "manifest needs at least one key column")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(expr(s"cast(length($textCol) as bigint)")).as("sum_chars"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"),
        sum(expr(s"cast(conv(substring(md5($textCol), 1, 15), 16, 10)" +
          " as decimal(38,0))")).cast("string").as("content_digest"))
  }

  /** Merge two manifests (disjoint row sets over the same key space):
    * every field is a mergeable aggregate — counts and char masses add,
    * id ranges combine by min/max, and the content digest is a SUM, so
    * digests ADD exactly (decimal(38,0) arithmetic). This is what makes
    * per-arrival publishing O(increment): derive each arrival's
    * manifest from the increment alone and fold it in; q247 hash-proves
    * fold(per-arrival manifests) == one-shot manifest of the union.
    * Keys present in only one side pass through (coalesce to the
    * other side's identity).
    */
  def mergeManifests(a: DataFrame, b: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val fields = Seq("n_docs", "sum_chars", "min_id", "max_id",
      "content_digest")
    val l = fields.foldLeft(a) { (d, f) => d.withColumnRenamed(f, s"${f}_l") }
    val r = fields.foldLeft(b) { (d, f) => d.withColumnRenamed(f, s"${f}_r") }
    l.join(r, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col("n_docs_l"), lit(0L)) +
          coalesce(col("n_docs_r"), lit(0L))).as("n_docs"),
        (coalesce(col("sum_chars_l"), lit(0L)) +
          coalesce(col("sum_chars_r"), lit(0L))).as("sum_chars"),
        least(col("min_id_l"), col("min_id_r")).as("min_id"),
        greatest(col("max_id_l"), col("max_id_r")).as("max_id"),
        (coalesce(col("content_digest_l").cast("decimal(38,0)"),
          lit(0).cast("decimal(38,0)")) +
          coalesce(col("content_digest_r").cast("decimal(38,0)"),
            lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").cast("string").as("content_digest")): _*)
  }

  /** One table frame's (n_rows, digest) row — the shared digest block
    * under [[stateManifest]] and [[stateManifestIncrement]]. The
    * canonical row rendering name-sorts the remaining columns, renders
    * each non-null value LENGTH-PREFIXED (`<len>:<value>`), nulls as
    * the bare `<NULL>` token, and '|'-joins. The length prefix makes
    * the rendering INJECTIVE (a prefix-free code): without it a value
    * containing the separator straddles column boundaries invisibly —
    * `('a|b','c')` and `('a','b|c')` rendered identically — and a
    * literal `'<NULL>'` string was indistinguishable from NULL (it now
    * renders `6:<NULL>`). A token starting with a digit is always
    * `len:value` (consume exactly len chars); otherwise it is the null
    * token — decoding is unambiguous, so distinct rows ALWAYS digest
    * distinct canonical strings. Oracles replay the prefix as
    * `length(v)::VARCHAR || ':' || v` (both engines count codepoints).
    */
  private def digestFrame(df0: DataFrame, dropCols: Seq[String],
      table: String, ctx: String): DataFrame = {
    val df = dropCols.foldLeft(df0)(_ drop _)
    val bad = df.schema.fields.filterNot(f => f.dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    require(bad.isEmpty,
      s"$ctx($table): non-atomic column(s) ${bad.map(_.name).mkString(", ")} " +
        "must be listed in dropCols — fractional/array renderings are " +
        "not canonical across engines")
    val parts = df.columns.sorted.map { c =>
      val v = col(c).cast("string")
      coalesce(concat(length(v).cast("string"), lit(":"), v), lit("<NULL>"))
    }
    val canon = parts.drop(1).foldLeft(parts.head: Column)(
      (acc, p) => concat(acc, lit("|"), p))
    df.select(canon.as("__c"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(
          sum(expr("cast(conv(substring(md5(__c), 1, 15), 16, 10)" +
            " as decimal(38,0))")),
          lit(0).cast("decimal(38,0)"))
          .cast("string").as("content_digest"))
      .select(lit(table).as("tbl"), col("n_rows"), col("content_digest"))
  }

  /** Digest ONE in-memory frame with the state-table canonical
    * rendering ([[digestFrame]]) — the (tbl, n_rows, content_digest)
    * row a derived readout (e.g. a curation rollup) contributes when it
    * is audited alongside persisted state under one digest discipline
    * (the q250 combined lifecycle gate). Same contract as
    * [[stateManifest]]: non-atomic columns must be dropped explicitly.
    */
  def frameDigest(df: DataFrame, table: String,
      dropCols: Seq[String] = Nil): DataFrame =
    digestFrame(df, dropCols, table, "frameDigest")

  /** The explicit (table, 0, "0") row an absent table/partition
    * contributes — identical to what an existing-but-empty frame
    * digests to, so fold laws stay total (ADVICE r16): a table no
    * arrival ever wrote folds to the same zero the whole-state side
    * derives, and [[verifyState]] surfaces a LOST table as a loud
    * `0 ≠ stored` mismatch row instead of a read error.
    */
  private def zeroRow(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    Seq((table, 0L, "0")).toDF("tbl", "n_rows", "content_digest")
  }

  /** Integrity manifest over PERSISTED state tables (VERDICT r14 #7 —
    * the [[manifest]] discipline extended from the corpus to the
    * curation/index state itself): one row per state table under
    * `stateDir/<table>/batch=N`, carrying the row count and the
    * order-independent content digest of the CANONICAL row rendering —
    * every column except the `batch` partition (and `dropCols`),
    * name-sorted, null-safe cast to string ([[digestFrame]]),
    * '|'-joined. Same digest device and merge law as [[manifest]]
    * (60-bit md5 prefix summed as DECIMAL(38,0)): digests of disjoint
    * row sets ADD, so per-arrival publishing stays O(increment). A
    * tampered row, a lost or double-counted partition, or a swap that
    * moved a decision all shift the digest ([[verifyState]] diffs per
    * table). A table whose directory does not exist contributes the
    * explicit zero row — the same value the per-arrival fold derives
    * for it, keeping fold(increments) == whole-state TOTAL.
    *
    * Canonical-rendering contract: remaining columns must be
    * string/integer/boolean — floating-point or array payloads render
    * engine- and locale-fragile strings, so they must be named in
    * `dropCols` (they are derivable payloads, not decisions; the q253
    * assign payload is the motivating case). Enforced, not assumed:
    * a non-atomic column not dropped is an error, never a silently
    * weaker digest.
    */
  def stateManifest(spark: SparkSession, stateDir: String,
      tables: Seq[String], dropCols: Seq[String] = Nil): DataFrame = {
    require(tables.nonEmpty, "stateManifest needs at least one table")
    tables.map { t =>
      val dir = new org.apache.hadoop.fs.Path(s"$stateDir/$t")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) zeroRow(spark, t)
      else {
        // existing-but-footerless table dir (crashed writer's empty
        // commit): zero rows, same contract as the increment side
        val df =
          try Some(spark.read.parquet(dir.toString))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        df.map(digestFrame(_, dropCols :+ "batch", t, "stateManifest"))
          .getOrElse(zeroRow(spark, t))
      }
    }.reduce(_ unionByName _)
  }

  /** Per-arrival state-manifest increment — [[stateManifest]]
    * restricted to ONE `batch=<batchId>` partition per table, so
    * publishing a state manifest at arrival cadence costs O(increment)
    * (the ADVICE r16 low): every field is a mergeable sum, so folding
    * per-arrival increments ([[mergeStateManifests]]) equals the
    * whole-state [[stateManifest]] EXACTLY — CorpusManifestSpec pins
    * the equality, the q247 merge-losslessness discipline applied to
    * state. A table with no partition for this arrival contributes an
    * explicit zero row (n_rows 0, digest 0), never a missing one — the
    * fold's table set must not depend on which arrivals touched what.
    */
  def stateManifestIncrement(spark: SparkSession, stateDir: String,
      tables: Seq[String], batchId: Long,
      dropCols: Seq[String] = Nil): DataFrame = {
    require(tables.nonEmpty, "stateManifestIncrement needs >= 1 table")
    tables.map { t =>
      val part = new org.apache.hadoop.fs.Path(
        s"$stateDir/$t/batch=$batchId")
      val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(part)) zeroRow(spark, t)
      else {
        // an existing-but-footerless partition dir (a crashed writer's
        // empty commit, a bare _SUCCESS) carries no rows — that is the
        // documented zero-row case, not a schema-inference error
        val df =
          try Some(spark.read.parquet(part.toString))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        df.map(digestFrame(_, dropCols, t, "stateManifestIncrement"))
          .getOrElse(zeroRow(spark, t))
      }
    }.reduce(_ unionByName _)
  }

  /** Fold two state manifests over the same table set: counts and
    * digests ADD (decimal(38,0) sums — the [[mergeManifests]] law on
    * the state side), so fold(per-arrival increments) ==
    * [[stateManifest]] of the whole accumulated state.
    */
  def mergeStateManifests(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("tbl"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("content_digest").cast("decimal(38,0)"))
          .cast("decimal(38,0)").cast("string").as("content_digest"))

  /** Verify persisted state against a stored state manifest: re-derive
    * [[stateManifest]] for the stored tables UNION the tables actually
    * on disk, and diff per table (`ok = 1` iff row count AND digest
    * match). Both absence directions are loud mismatches, never read
    * errors or silent skips (ADVICE r16): a LOST table re-derives to
    * the explicit zero row (0 ≠ its stored count → `ok = 0`), and an
    * UNEXPECTED on-disk table the manifest never saw surfaces with the
    * stored side NULL (`ok = 0`) instead of being silently unaudited —
    * including one this audit cannot even digest (payload columns with
    * no dropCols entry, a non-parquet dir): it contributes the
    * `(-1, "<undigestable>")` sentinel row rather than aborting the
    * whole verification. Dot-prefixed dirs (in-flight maintenance
    * swaps) and the
    * [[graft.pipelines.CurationState.RangesTable]] text manifest are
    * not parquet state tables and stay out of the disk-side listing.
    * The diff is a shuffled full outer join: a broadcast hash join
    * cannot preserve the build side's unmatched rows, so Spark ignores
    * a broadcast hint on a full outer join.
    */
  def verifyState(spark: SparkSession, stateDir: String,
      stored: DataFrame, dropCols: Seq[String] = Nil): DataFrame = {
    val storedTables = stored.select(col("tbl")).distinct()
      .collect().map(_.getString(0)).toSeq // bounded: table names
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(_.startsWith("."))
        .filterNot(_ == graft.pipelines.CurationState.RangesTable)
    val tables = (storedTables ++ onDisk).distinct.sorted
    // per-table, with an UNDIGESTABLE fallback row: an unexpected
    // on-disk directory this audit cannot digest (non-atomic payload
    // columns it has no dropCols for, a non-parquet dir, a corrupt
    // footer) must surface as a loud ok=0 row like every other
    // absence/mismatch — aborting the whole verification on the first
    // such table would leave the REST of the state unaudited. The
    // sentinel (-1, "<undigestable>") can never equal a stored row
    // (counts are >= 0).
    val actual = tables.map { t =>
      try stateManifest(spark, stateDir, Seq(t), dropCols)
      catch {
        case scala.util.control.NonFatal(_) =>
          import spark.implicits._
          Seq((t, -1L, "<undigestable>"))
            .toDF("tbl", "n_rows", "content_digest")
      }
    }.reduce(_ unionByName _)
      .withColumnRenamed("n_rows", "n_rows_actual")
      .withColumnRenamed("content_digest", "content_digest_actual")
    val s = stored
      .withColumnRenamed("n_rows", "n_rows_stored")
      .withColumnRenamed("content_digest", "content_digest_stored")
    actual.join(s, Seq("tbl"), "full_outer")
      .withColumn("ok",
        (col("n_rows_actual") <=> col("n_rows_stored") &&
          col("content_digest_actual") <=> col("content_digest_stored"))
          .cast("long"))
  }

  /** Publish: write the corpus PARTITIONED BY the manifest keys and the
    * manifest beside it. The manifest goes last — a crashed publish
    * leaves data without a manifest (visibly unpublished), never a
    * manifest describing data that is not fully there. Key-partitioned
    * layout is what makes [[verify]]'s sampled tier O(sample): the
    * sampled keys prune to their partition directories at the scan.
    */
  def write(df: DataFrame, dir: String, keyCols: Seq[String], idCol: String,
      textCol: String): Unit = {
    df.write.mode("overwrite").partitionBy(keyCols: _*).parquet(s"$dir/data")
    val spark = df.sparkSession
    manifest(spark.read.parquet(s"$dir/data"), keyCols, idCol, textCol)
      .write.mode("overwrite").parquet(s"$dir/manifest")
  }

  /** Verify a published snapshot: re-derive the manifest from the data
    * and diff against the stored one, per key. `ok = 1` only when every
    * field matches; keys present on one side only surface with the
    * other side's fields NULL (a dropped source is a mismatch, not an
    * absence). The diff is a shuffled full outer join of the
    * key-domain-sized manifests (see [[verifyState]]).
    *
    * `sampleKeys > 0` is the cheap smoke tier between "trust" and a
    * full rescan: the first k manifest keys in md5 order of the key
    * tuple (deterministic across runs, unpredictable without the
    * manifest) are re-derived and diffed; with the [[write]] layout the
    * key filter partition-prunes, so the scan touches only the sampled
    * keys' files — O(sample), not O(snapshot). Keys dropped from the
    * DATA side still surface (the manifest side drives the sample);
    * keys added to the data that the manifest never saw are a
    * full-verify-only finding.
    */
  def verify(spark: SparkSession, dir: String, keyCols: Seq[String],
      idCol: String, textCol: String, sampleKeys: Int = 0): DataFrame = {
    val stored0 = spark.read.parquet(s"$dir/manifest")
    val (stored, dataDf) =
      if (sampleKeys <= 0) (stored0, spark.read.parquet(s"$dir/data"))
      else {
        // bounded driver valve: k key tuples
        val keys = stored0
          .orderBy(md5(concat_ws("\u0000", keyCols.map(col): _*)))
          .limit(sampleKeys).select(keyCols.map(col): _*).collect()
        // an EMPTY stored manifest (publish of a fully-gated-away
        // snapshot) has no keys to sample — `reduce` on the empty key
        // set would throw; the sampled verify of nothing is the empty
        // diff, not a crash
        val keep =
          if (keys.isEmpty) lit(false)
          else keys.map { r =>
            keyCols.zipWithIndex.map { case (c, i) =>
              col(c) === lit(r.get(i))
            }.reduce(_ && _)
          }.reduce(_ || _)
        (stored0.filter(keep),
          spark.read.parquet(s"$dir/data").filter(keep))
      }
    val actual = manifest(dataDf, keyCols, idCol, textCol)
    val fields = Seq("n_docs", "sum_chars", "min_id", "max_id",
      "content_digest")
    val a = fields.foldLeft(actual) { (d, f) => d.withColumnRenamed(f, s"${f}_actual") }
    val s = fields.foldLeft(stored) { (d, f) => d.withColumnRenamed(f, s"${f}_stored") }
    val matched = fields.map(f => col(s"${f}_actual") <=> col(s"${f}_stored"))
      .reduce(_ && _)
    a.join(s, keyCols, "full_outer")
      .withColumn("ok", matched.cast("long"))
  }
}
