package graft.online

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.concurrent.TrieMap

/** Low-latency KV of *latest* feature vectors per entity key — the
  * rebuild of the reference's Redis online store
  * (`station_reads_hourly_fs/feature_store.yaml:6-8`; lookups at
  * `explore_features.ipynb:610-618`).
  *
  * The write path is executor-parallel (`df.foreachPartition`-style via
  * `writeBatch`), matching how a Redis/Cassandra sink would behave on a
  * real cluster; the in-memory and parquet implementations exist so the
  * full loop is testable hermetically (SURVEY §7.1 module 6).
  */
trait OnlineStore {

  /** Upsert one feature view's latest vectors.
    * @param view feature view name (the KV namespace)
    * @param keyColumns entity join key column names (composite keys joined
    *                   in order)
    * @param df rows of (keys..., event_timestamp, features...) — one row
    *           per entity key, already reduced to latest
    */
  def write(view: String, keyColumns: Seq[String], df: DataFrame): Unit

  /** Point lookup: entity key values (aligned with the write-side
    * `keyColumns`) → feature name → value. No Spark job — mirrors the
    * reference where `get_online_features` never touches the cluster
    * (SURVEY §3.3 secondary entry points).
    */
  def get(view: String, keyValues: Seq[Any]): Option[Map[String, Any]]

  /** Upsert a PARTIAL batch: rows for keys present in `df` replace their
    * vectors, all other keys keep theirs. Required by streaming
    * materialization, where each micro-batch touches a key subset.
    * Default delegates to [[write]] — correct for per-key stores like
    * the in-memory map; whole-table stores must override.
    */
  def upsert(view: String, keyColumns: Seq[String], df: DataFrame): Unit =
    write(view, keyColumns, df)

  /** Bulk point lookup — the audit/backfill read path. Default = one
    * [[get]] per key; networked stores override to pipeline
    * ([[KVClientOnlineStore]] flushes every GET before draining), so an
    * [[OnlineFreshness]]-style sweep over thousands of expected keys is
    * one round-trip, not N.
    */
  def getBatch(view: String,
      keys: Seq[Seq[Any]]): Seq[Option[Map[String, Any]]] =
    keys.map(get(view, _))

  /** Conditional partial upsert: a key's vector is written only when
    * its `tsCol` value is not older than the stored vector's — the
    * out-of-order protection streaming materialization needs across
    * micro-batches ([[StreamingMaterializer.mergeLatest]]). A null
    * incoming timestamp never beats a stored one
    * ([[OnlineStore.incomingWins]] — and never NPEs the stream).
    *
    * Default compares via a driver-side collect + [[getBatch]] —
    * matching the in-memory/parquet stores, whose serving reads are
    * driver-resident by design. [[KVClientOnlineStore]] overrides with
    * an executor-parallel per-partition merge: a materialization window
    * covering billions of keys must never collect to the driver.
    */
  def upsertIfNewer(view: String, keyColumns: Seq[String], df: DataFrame,
      tsCol: String = "event_timestamp"): Unit = {
    val rows = df.collect()
    val stored = getBatch(view,
      rows.toSeq.map(r => keyColumns.map(k => r.get(r.fieldIndex(k)))))
    val fresh = rows.zip(stored).collect {
      case (row, vec) if OnlineStore.incomingWins(
          Option(row.getAs[java.sql.Timestamp](tsCol)),
          vec.flatMap(v => Option(v.getOrElse(tsCol, null))).collect {
            case t: java.sql.Timestamp => t
          }) => row
    }
    if (fresh.nonEmpty)
      upsert(view, keyColumns, df.sparkSession.createDataFrame(
        java.util.Arrays.asList(fresh: _*), df.schema))
  }
}

object OnlineStore {
  /** Composite key encoding shared by implementations: values joined on
    * `\\u0001` with backslash-escaping of the separator (and of
    * backslash itself), and nulls encoded as the unescapable `\\N` token
    * --- so no combination of values can collide with another
    * combination, even when a value contains the separator byte. Escape
    * sequences are spelled as unicode escapes, not raw control bytes
    * (raw bytes made git treat this file as binary).
    */
  private[online] def encodeKey(values: Seq[Any]): String =
    values.map {
      case null => "\\N"
      case v => v.toString
        .replace("\\", "\\\\")
        .replace("\u0001", "\\u0001")
    }.mkString("\u0001")

  /** Freshness rule shared by every conditional-upsert path: the
    * incoming row wins iff no stored timestamp is strictly newer. A
    * null/absent incoming timestamp never beats a stored one — and the
    * null must be decided here, not fed to `Timestamp.after` (an NPE
    * inside foreachBatch kills the streaming query).
    */
  private[online] def incomingWins(incoming: Option[java.sql.Timestamp],
      stored: Option[java.sql.Timestamp]): Boolean =
    stored.forall(s => incoming.exists(i => !s.after(i)))
}

/** Volatile KV for tests and single-process serving.
  *
  * `write` collects the (small, already latest-per-key) materialized
  * batch to the driver — the same data volume the reference ships to
  * Redis. Float32 narrowing for declared-FLOAT features happens at
  * serving time in [[graft.api.FeatureStore.getOnlineFeatures]].
  */
final class InMemoryOnlineStore extends OnlineStore {
  private val store = TrieMap.empty[(String, String), Map[String, Any]]

  override def write(view: String, keyColumns: Seq[String], df: DataFrame): Unit = {
    val featureCols = df.columns.filterNot(keyColumns.contains)
    df.collect().foreach { row =>
      val key = OnlineStore.encodeKey(keyColumns.map(k => row.get(row.fieldIndex(k))))
      val vector = featureCols.map(c => c -> row.get(row.fieldIndex(c))).toMap
      store.put((view, key), vector)
    }
  }

  override def get(view: String, keyValues: Seq[Any]): Option[Map[String, Any]] =
    store.get((view, OnlineStore.encodeKey(keyValues)))
}

/** Parquet-backed KV: each view materializes to one parquet table under
  * `root/<view>`, loaded lazily into memory for lookups. Durable across
  * sessions without any external service.
  *
  * Serving loads the WHOLE view table to the driver — by design (this
  * is the hermetic test/local-serving impl; [[KVClientOnlineStore]] is
  * the scale path). `maxLoadRows` guards that collect: pointing this
  * store at a billion-key view fails fast with a clear message instead
  * of OOMing the driver.
  */
final class ParquetOnlineStore(spark: SparkSession, root: String,
    maxLoadRows: Long = 10_000_000L) extends OnlineStore {
  private val cache = TrieMap.empty[String, Map[String, Map[String, Any]]]
  private val keyCols = TrieMap.empty[String, Seq[String]]

  private def path(view: String) = s"$root/$view"

  override def write(view: String, keyColumns: Seq[String], df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(path(view))
    writeKeyMeta(view, keyColumns) // key-column metadata alongside
  }

  private def load(view: String): Map[String, Map[String, Any]] =
    cache.getOrElseUpdate(view, {
      val keys = keyCols.getOrElseUpdate(view, readKeys(view))
      val df = spark.read.parquet(path(view))
      val n = df.count()
      require(n <= maxLoadRows,
        s"ParquetOnlineStore: view '$view' has $n rows, exceeding maxLoadRows=" +
          s"$maxLoadRows — this store collects whole views to the driver for " +
          "serving; use KVClientOnlineStore (executor-parallel KV) for views this size")
      val featureCols = df.columns.filterNot(keys.contains)
      df.collect().map { row: Row =>
        val k = OnlineStore.encodeKey(keys.map(c => row.get(row.fieldIndex(c))))
        k -> featureCols.map(c => c -> row.get(row.fieldIndex(c))).toMap
      }.toMap
    })

  override def get(view: String, keyValues: Seq[Any]): Option[Map[String, Any]] =
    load(view).get(OnlineStore.encodeKey(keyValues))

  /** Whole-table store: upsert = anti-join out the updated keys from the
    * existing table, union the fresh vectors, rewrite. The merge is
    * written executor-parallel to a sibling path and swapped in (we
    * cannot overwrite the path we are reading from mid-plan, and a
    * driver-side collect would cap the table at driver memory). Swap
    * order is rename-aside → rename-in → delete-aside; a crash BETWEEN
    * the renames leaves the table at `__preupsert` with the live path
    * empty, so the next upsert runs the recovery preamble (restore the
    * moved-aside table) before anything else — without it the
    * missing-path branch would silently rebuild the view from one
    * micro-batch and a later upsert would delete the real table as a
    * crash leftover.
    */
  override def upsert(view: String, keyColumns: Seq[String], df: DataFrame): Unit = {
    val p = path(view)
    val fsPath = new org.apache.hadoop.fs.Path(p)
    val hfs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery (the Transforms.upsertByKey preamble): a leftover
    // __preupsert with the live path MISSING means a prior upsert died
    // between rename-aside and rename-in — restore it, or the
    // !exists branch below would silently rebuild the whole view from
    // this one micro-batch (and a later upsert would then delete the
    // real table as a "leftover"). Both present = prior swap completed
    // and only missed cleanup — the live path is the merged table.
    val old0 = new org.apache.hadoop.fs.Path(p + "__preupsert")
    if (hfs.exists(old0) && !hfs.exists(fsPath))
      require(hfs.rename(old0, fsPath),
        s"upsert: failed to restore interrupted view from $old0")
    if (!hfs.exists(fsPath)) { write(view, keyColumns, df); return }
    // Rows keyed by other join keys (the view was re-applied with new
    // ones) cannot be merged: the batch replaces the table.
    if (!hfs.exists(new org.apache.hadoop.fs.Path(p + "__keys")) ||
        readKeys(view) != keyColumns) { write(view, keyColumns, df); return }
    // Kept rows take the batch's schema: a feature the view dropped is
    // dropped, one it added serves null (as on the memory store), and
    // a retyped feature is cast to its new type.
    val stored = spark.read.parquet(p)
    val kept = stored
      .join(df.select(keyColumns.map(org.apache.spark.sql.functions.col): _*),
        keyColumns, "left_anti")
      .select(df.schema.fields.filter(f => stored.columns.contains(f.name))
        .map(f => org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
    val merged = kept.unionByName(df, allowMissingColumns = true)
    val tmp = new org.apache.hadoop.fs.Path(p + "__upsert")
    val old = new org.apache.hadoop.fs.Path(p + "__preupsert")
    merged.write.mode("overwrite").parquet(tmp.toString)
    if (hfs.exists(old)) hfs.delete(old, true) // leftover from a past crash
    require(hfs.rename(fsPath, old), s"upsert: failed to move $fsPath aside")
    if (!hfs.rename(tmp, fsPath)) {
      hfs.rename(old, fsPath) // restore
      throw new java.io.IOException(s"upsert swap failed: $tmp -> $fsPath, restored original")
    }
    hfs.delete(old, true)
    writeKeyMeta(view, keyColumns)
  }

  private def readKeys(view: String): Seq[String] =
    spark.read.parquet(path(view) + "__keys").collect().map(_.getString(0)).toSeq

  private def writeKeyMeta(view: String, keyColumns: Seq[String]): Unit = {
    import spark.implicits._
    keyColumns.toDF("key_column").coalesce(1)
      .write.mode("overwrite").parquet(path(view) + "__keys")
    cache.remove(view)
    keyCols.put(view, keyColumns)
  }
}
