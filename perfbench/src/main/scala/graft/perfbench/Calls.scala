package graft.perfbench

import graft.api.FeatureStore
import graft.online.OnlineFreshness
import graft.sources.SourceReader
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import java.nio.file.Path
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** What one run shares across its calls: the session, the seed, the
  * tracer, the work directory, and the tally of operations and check
  * results.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val work: Path, startEpochS: Double) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val mismatches = ArrayBuffer.empty[String]
  var checksRun = 0
  var setupS: Double = Double.NaN
  private var asideS = 0.0

  private def sinceStart = System.currentTimeMillis() / 1000.0 - startEpochS

  /** Set-up work of the benchmark's own: making and landing its inputs,
    * and warm-up calls. It runs inside set-up, but `setup_s` leaves it out.
    */
  def aside[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      asideS += (System.nanoTime() - t0) / 1e9
      phase(what)
    }
  }

  /** Set-up ends here: the time since the process started, less the
    * benchmark's own work in it.
    */
  def setupDone(): Unit = {
    setupS = sinceStart - asideS
    println(f"phase set-up done at $sinceStart%.2f s, $asideS%.2f s of it aside: setup_s $setupS%.3f s")
  }

  /** Prints how far into the run a step of set-up ended. */
  def phase(what: String): Unit = println(f"phase $what%s at $sinceStart%.2f s")

  /** One operation against graft. A throw counts it failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        if (failures.size < 5) failures += s"$what: $e"
        None
    }
  }

  def check(result: Seq[String]): Unit = {
    checksRun += 1
    mismatches ++= result.take(5 - math.min(5, mismatches.size))
  }

  /** A self-test: the check must reject a perturbed output. */
  def mustReject(what: String, result: Seq[String]): Unit =
    if (result.isEmpty) mismatches += s"self-test: the $what check accepted a perturbed output"
}

/** The benchmark's calls into graft's public API. Each returns what the
  * call returned and its wall time in nanoseconds. When tracing, each call
  * is a span, and the layer calls it makes inside graft are replayed as
  * spans of their own (graft itself carries no spans).
  */
object Calls {
  private def ts(s: Long) = new Timestamp(s * 1000L)
  private def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  def applyObjects(ctx: Ctx, fs: FeatureStore, objects: Seq[Any]): Long =
    timed(ctx.tracer.span("core.apply")(fs.applyObjects(objects)))._2

  /** getHistoricalFeatures over the parquet entity frame, collected. The
    * replay scans each view's source with the bounds the retrieval uses.
    */
  def retrieve(ctx: Ctx, fs: FeatureStore, entityPath: String,
      refs: Seq[String], minEntityS: Long, maxEntityS: Long): (Array[Row], Long) = {
    val t = ctx.tracer
    val out = timed(t.span("offline.retrieval", drains = true) {
      val job = t.span("offline.plan", drains = true) {
        val j = fs.getHistoricalFeatures(ctx.spark.read.parquet(entityPath), refs)
        j.toDf
        j
      }
      try t.span("offline.exec", drains = true)(job.toDf.collect())
      finally job.release()
    })
    if (t.enabled) {
      val views = replayResolve(ctx, fs, refs)
      t.span("sources.scan", drains = true)(views.foreach { case (fv, feats, _) =>
        val lower = fv.ttl.map(d => ts(minEntityS - d.getSeconds))
        consume(SourceReader.read(ctx.spark, fv.source, lower, Some(ts(maxEntityS))),
          feats, fv.source.createdTimestampColumn)
      })
    }
    out
  }

  /** materialize over `[startS, endS]`; the replay scans that window. */
  def materialize(ctx: Ctx, fs: FeatureStore, startS: Long, endS: Long,
      views: Seq[String]): Long = {
    val t = ctx.tracer
    val dt = timed(t.span("online.materialize", drains = true)(
      fs.materialize(ts(startS), ts(endS), views)))._2
    if (t.enabled) t.span("sources.scan", drains = true)(views.foreach { v =>
      val fv = fs.getFeatureView(v)
      consume(SourceReader.read(ctx.spark, fv.source, Some(ts(startS)), Some(ts(endS))),
        fv.featureNames, fv.source.createdTimestampColumn)
    })
    dt
  }

  /** getOnlineFeatures for `keys`, one entity row each. The replay
    * resolves the refs and reads the entity, then reads the store the way
    * the request does, one `get` per entity row and view. For many keys it
    * also times `getBatch` of the same keys, which getOnlineFeatures does
    * not call: a floor the request could reach if it did.
    */
  def lookup(ctx: Ctx, fs: FeatureStore, keys: Seq[Long],
      refs: Seq[String]): (Seq[Map[String, Any]], Long) = {
    val t = ctx.tracer
    val rows = keys.map(k => Map[String, Any]("driver_id" -> k))
    val out = timed(t.span(if (keys.size == 1) "api.get" else "api.batch")(
      fs.getOnlineFeatures(rows, refs)))
    if (t.enabled) replayResolve(ctx, fs, refs).foreach { case (fv, _, joinKeys) =>
      val keyValues = rows.map(r => joinKeys.map(r))
      if (keys.size == 1)
        t.span("online.store_get")(fs.onlineStore.get(fv.name, keyValues.head))
      else {
        t.span("online.store_get_rows")(keyValues.foreach(fs.onlineStore.get(fv.name, _)))
        t.span("online.store_get_batch")(fs.onlineStore.getBatch(fv.name, keyValues))
      }
    }
    out
  }

  /** OnlineFreshness.audit of `view` over `expectedKeys`, reduced to the
    * (present, stale) counts.
    */
  def audit(ctx: Ctx, fs: FeatureStore, view: String, expectedKeys: DataFrame,
      slaHours: Long): ((Long, Long), Long) =
    timed(ctx.tracer.span("online.audit", drains = true) {
      val r = OnlineFreshness.audit(ctx.spark, fs.onlineStore, view,
        Seq("driver_id"), expectedKeys, slaHours)
        .agg(sum(col("present")), sum(col("stale"))).head()
      (r.getLong(0), r.getLong(1))
    })

  /** Registry.resolve, then Registry.getEntity for each view's entities:
    * (view, feature names, join keys).
    */
  private def replayResolve(ctx: Ctx, fs: FeatureStore, refs: Seq[String]) =
    ctx.tracer.span("core.resolve")(fs.registry.resolve(refs)).map { case (fv, feats) =>
      val joinKeys = fv.entities.flatMap(e =>
        ctx.tracer.span("core.get_entity")(fs.registry.getEntity(e))
          .map(_.resolvedJoinKeys).getOrElse(Seq(e)))
      (fv, feats.map(_.name), joinKeys)
    }

  /** Read the columns a retrieval or materialization reads, and discard them. */
  private def consume(df: DataFrame, feats: Seq[String], created: Option[String]): Unit = {
    val cols = (Seq("driver_id", "event_timestamp") ++ created ++ feats).distinct
    df.select(cols.map(col): _*).write.format("noop").mode("overwrite").save()
  }
}
