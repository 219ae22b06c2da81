package graft.online

import graft.core.FeatureView
import graft.sources.SourceReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** `fs.materialize(start, end, views)` — compute the latest feature value
  * per entity key within `[start, end]` and push vectors to the online
  * store (reference M5, `chicago_taxi_trips_hourly_gold.ipynb:474-478`).
  *
  * Latest-per-key uses the same single-shuffle argmax-by-struct as the
  * PIT join (instead of the reference's window + filter): `max(struct(ts,
  * created, features...))` grouped by join keys. The range filter lands
  * on the scan so partition/row-group pruning applies.
  */
object Materializer {

  /** The window's latest-per-key reduction (shared by both write
    * modes).
    */
  private def latestInWindow(
      spark: SparkSession,
      view: FeatureView,
      joinKeys: Seq[String],
      start: Timestamp,
      end: Timestamp): DataFrame = {
    val tsField = view.source.timestampField
    val createdOpt = view.source.createdTimestampColumn
    val featNames = view.featureNames

    val cols = (joinKeys ++ Seq(tsField) ++ createdOpt ++ featNames).distinct
    val inRange = SourceReader.read(spark, view.source, Some(start), Some(end))
      .select(cols.map(col): _*)

    val orderCols =
      Seq(col(tsField).as("__ts")) ++
        createdOpt.map(c => col(c).as("__created")) ++
        featNames.zipWithIndex.map { case (f, i) => col(f).as(s"__v$i") }

    val latest =
      if (joinKeys.isEmpty)
        inRange.agg(max(struct(orderCols: _*)).as("__best"))
      else
        inRange.groupBy(joinKeys.map(col): _*)
          .agg(max(struct(orderCols: _*)).as("__best"))

    latest.select(
      joinKeys.map(col) ++
        Seq(col("__best.__ts").as("event_timestamp")) ++
        featNames.zipWithIndex.map { case (f, i) => col(s"__best.__v$i").as(f) }: _*)
  }

  /** @return the materialized latest-vector DataFrame (keys, event ts,
    *         features) — also upserted into `store`: keys absent from
    *         the window keep their vectors, so incremental windows
    *         accumulate on whole-table stores too.
    */
  def materialize(
      spark: SparkSession,
      store: OnlineStore,
      view: FeatureView,
      joinKeys: Seq[String],
      start: Timestamp,
      end: Timestamp): DataFrame = {
    val out = latestInWindow(spark, view, joinKeys, start, end)
    store.upsert(view.name, joinKeys, out)
    out
  }

  /** Materialize with LAST-EVENT-TS-WINS against vectors already in the
    * store — the guard for OVERLAPPING or interleaved materialize
    * windows: plain [[materialize]] writes unconditionally, so a re-run
    * of an OLDER window after a newer one regresses vectors; this mode
    * routes through the same conditional merge the streaming path uses
    * ([[StreamingMaterializer.mergeLatest]]), so the final store state
    * depends only on the SET of windows materialized, not their order
    * (LoopbackKVSpec pins the convergence on a real TCP store).
    */
  def materializeLatestWins(
      spark: SparkSession,
      store: OnlineStore,
      view: FeatureView,
      joinKeys: Seq[String],
      start: Timestamp,
      end: Timestamp): DataFrame = {
    val out = latestInWindow(spark, view, joinKeys, start, end)
    StreamingMaterializer.mergeLatest(store, view, joinKeys, out)
    out
  }
}
