package graft.perfbench

import scala.collection.mutable

/** Expected answers computed from the generated rows alone, in plain Scala,
  * and the checks that compare graft's outputs with them. No graft code
  * runs here. Each check returns its mismatches; empty means it passed.
  */
object Oracle {
  type Vec = Map[String, Any]

  private def later(a: StatRow, b: StatRow): Boolean =
    a.ts > b.ts || (a.ts == b.ts && a.created > b.created)

  /** Latest row per key by (event time, created time). */
  def latestStats(rows: Iterable[StatRow]): mutable.HashMap[Long, StatRow] = {
    val m = mutable.HashMap.empty[Long, StatRow]
    rows.foreach { s =>
      if (m.get(s.key).forall(later(s, _))) m(s.key) = s
    }
    m
  }

  def latestProfiles(rows: Iterable[ProfileRow]): mutable.HashMap[Long, ProfileRow] = {
    val m = mutable.HashMap.empty[Long, ProfileRow]
    rows.foreach(p => if (m.get(p.key).forall(_.ts < p.ts)) m(p.key) = p)
    m
  }

  /** A served FLOAT feature is narrowed to float32; DOUBLE is served as
    * stored.
    */
  def float32(d: Double): java.lang.Double = java.lang.Double.valueOf(d.toFloat.toDouble)

  /** The vector `getOnlineFeatures` should serve for `key` from a stats
    * row materialized while the view declared extra feature `declared`
    * (-1 for none), when the request asks for extra feature `asked`.
    */
  def statsVector(key: Long, row: Option[StatRow], declared: Int = -1,
      asked: Int = -1): Vec = {
    val v = Repo.StatsView
    val base: Vec = Map(
      s"${v}__conv_rate" -> row.map(r => float32(r.conv)).orNull,
      s"${v}__acc_rate" -> row.map(r => java.lang.Double.valueOf(r.acc)).orNull,
      s"${v}__trips" -> row.map(r => java.lang.Long.valueOf(r.trips)).orNull,
      s"${v}__tier" -> row.map(_.tier).orNull)
    val extra: Vec =
      if (asked < 0) Map.empty
      else Map(s"${v}__x$asked" -> row.filter(_ => declared == asked)
        .map(r => java.lang.Double.valueOf(r.extras(asked))).orNull)
    base ++ extra + ("driver_id" -> java.lang.Long.valueOf(key))
  }

  def profileVector(row: Option[ProfileRow]): Vec = Map(
    s"${Repo.ProfileView}__rating" -> row.map(p => java.lang.Double.valueOf(p.rating)).orNull,
    s"${Repo.ProfileView}__city" -> row.map(_.city).orNull)

  /** Served vectors must equal the expected ones, row for row. */
  def checkServed(what: String, served: Seq[Vec], expected: Seq[Vec]): Seq[String] =
    if (served.size != expected.size)
      Seq(s"$what: ${served.size} rows served for ${expected.size} requested")
    else served.zip(expected).collect {
      case (s, e) if s != e => s"$what: served $s, expected $e"
    }.take(3)

  /** The point-in-time answer for one entity row: per key, the latest
    * row at or before the entity time (by event time, then created
    * time), within the TTL when the view has one.
    */
  final class AsOf[R](rows: Array[R], key: R => Long, ts: R => Long,
      order: Ordering[R], ttl: Option[Long]) {
    private val sorted = rows.sorted(Ordering.by(key).orElse(order))
    private val ranges = mutable.HashMap.empty[Long, (Int, Int)]
    sorted.indices.foreach { i =>
      val k = key(sorted(i))
      ranges(k) = ranges.get(k).fold((i, i + 1))(r => (r._1, i + 1))
    }
    def apply(k: Long, t: Long): Option[R] = ranges.get(k).flatMap {
      case (lo0, hi0) =>
        var lo = lo0
        var hi = hi0 // first index in [lo0, hi0) with ts > t
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ts(sorted(mid)) <= t) lo = mid + 1 else hi = mid
        }
        if (lo == lo0) None
        else Some(sorted(lo - 1)).filter(r => ttl.forall(ts(r) >= t - _))
    }
  }

  /** One training-set row as text: key, entity time, the four stats
    * features, then the two profile features; `null` for a missing value.
    */
  def trainingRow(e: EntityRow, s: Option[StatRow], p: Option[ProfileRow]): String =
    (Seq[Any](e.key, e.ts) ++
      Seq(s.map(_.conv), s.map(_.acc), s.map(_.trips), s.map(_.tier),
        p.map(_.rating), p.map(_.city)).map(_.getOrElse(null))).mkString("|")

  def expectedTraining(stats: Array[StatRow], profiles: Array[ProfileRow],
      entities: Array[EntityRow]): Array[String] = {
    val s = new AsOf[StatRow](stats, _.key, _.ts,
      Ordering.by((r: StatRow) => (r.ts, r.created)), Some(7 * Gen.Day))
    val p = new AsOf[ProfileRow](profiles, _.key, _.ts,
      Ordering.by((r: ProfileRow) => r.ts), None)
    entities.map(e => trainingRow(e, s(e.key, e.ts), p(e.key, e.ts))).sorted
  }

  /** The training frame must hold one row per entity row, each equal to
    * its point-in-time answer. Both sides are sorted row texts.
    */
  def checkTraining(actual: Array[String], expected: Array[String]): Seq[String] = {
    val countMiss =
      if (actual.length != expected.length)
        Seq(s"training frame has ${actual.length} rows for ${expected.length} entity rows")
      else Nil
    countMiss ++ actual.zip(expected).collect {
      case (a, e) if a != e => s"training row $a, expected $e"
    }.take(3)
  }

  /** Independent freshness counts: a key is present when it has a stored
    * vector, stale when absent or more than `slaHours` whole hours behind
    * the newest stored event time.
    */
  def audit(stored: Iterable[Long], expectedKeys: Int, slaHours: Long): (Long, Long) = {
    val wm = if (stored.isEmpty) 0L else stored.max
    val lagging = stored.count(ts => (wm - ts) / 3600L > slaHours)
    (stored.size.toLong, expectedKeys - stored.size + lagging.toLong)
  }

  def checkAudit(actual: (Long, Long), expected: (Long, Long)): Seq[String] =
    if (actual == expected) Nil
    else Seq(s"audit (present, stale) = $actual, expected $expected")

  /** A copy of `v` with its first non-key feature value changed. */
  def perturb(v: Vec): Vec = v.keys.toSeq.sorted.find(_ != "driver_id") match {
    case Some(k) => v.updated(k, v(k) match {
      case null => "perturbed"
      case d: java.lang.Double => java.lang.Double.valueOf(d + 1e-6)
      case l: java.lang.Long => java.lang.Long.valueOf(l + 1)
      case other => s"$other~"
    })
    case None => v
  }
}
