package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval/range join — points against [lo, hi] intervals. Spark plans
  * a bare theta join (`p BETWEEN lo AND hi`) as BroadcastNestedLoop or,
  * with neither side broadcastable, a cartesian product — O(P×I). This
  * operator buckets the domain instead: each interval explodes into the
  * integer buckets it covers, each point maps to its single bucket, and
  * the join becomes an EQUI join on the bucket with the range predicate
  * as residual — the standard sub-quadratic range-join decomposition
  * (compose-existing-ops path; no custom SparkPlan needed).
  *
  * Cost model: interval replication = avg(width)/bucketWidth + 1, join
  * work = points meet only intervals in their bucket. Pick bucketWidth
  * near the median interval width; too small inflates the interval side,
  * too large degrades toward all-pairs within a bucket.
  */
object RangeJoin {

  /** @param points    side with a scalar column `pointCol`
    * @param intervals side with `loCol`/`hiCol` (inclusive bounds)
    * @return matched rows (all columns of both sides), equi-joined on
    *         bucket with the exact range check as residual
    */
  def rangeJoin(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(!points.columns.contains("__bucket") &&
      !intervals.columns.contains("__bucket"),
      "inputs must not carry a __bucket column (internal name)")
    val p = points.withColumn("__bucket",
      floor(col(pointCol) / bucketWidth).cast("long"))
    // inverted intervals (lo > hi) match nothing — filter them out, or
    // sequence() would default to step -1 and explode a DESCENDING
    // bucket list that inflates the join input before the residual
    // filter discards it
    val i = intervals
      .filter(col(loCol) <= col(hiCol))
      .withColumn("__bucket",
        explode(sequence(
          floor(col(loCol) / bucketWidth).cast("long"),
          floor(col(hiCol) / bucketWidth).cast("long"))))
    p.join(i, "__bucket")
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__bucket")
  }

  /** Interval × interval OVERLAP join — both sides are interval sets
    * (inclusive `[lo, hi]` on an integer domain, e.g. epoch-µs) and a
    * pair matches when the intervals intersect: `aLo <= bHi AND
    * bLo <= aHi`. Spark plans that bare theta predicate as
    * BroadcastNestedLoop / cartesian — O(A×B). This extends
    * [[rangeJoin]]'s bucket decomposition to the two-interval case:
    * BOTH sides explode into the `bucketWidth` buckets they cover and
    * the join becomes an EQUI join on the bucket with the overlap
    * check as residual.
    *
    * De-duplication without a `distinct` shuffle: a pair overlapping k
    * shared buckets would emit k times, so the residual keeps exactly
    * the bucket containing `max(aLo, bLo)` — the first instant both
    * intervals cover. That bucket is provably in both sides' exploded
    * ranges (overlap ⇒ `max(lo) <= min(hi)`), so each overlapping pair
    * survives in EXACTLY one bucket and the output needs no distinct.
    * The naive-theta oracle doubles as the losslessness proof of the
    * decomposition (q185).
    *
    * Scale: interval replication = width/bucketWidth + 1 per side;
    * pairs meet only within a bucket, so skew follows the busiest
    * bucket, not the corpus — pick bucketWidth near the median
    * interval width (the [[rangeJoin]] cost model, applied twice).
    * Inverted intervals (lo > hi) match nothing and are filtered
    * before the explode, exactly as in [[rangeJoin]].
    *
    * @param left  side with long columns `leftLo`/`leftHi`
    * @param right side with long columns `rightLo`/`rightHi`
    * @param broadcastRight hint the exploded right side for broadcast
    *        (set when the interval side is dimension-sized — incident
    *        windows, promo calendars)
    */
  def intervalOverlapJoin(
      left: DataFrame, leftLo: String, leftHi: String,
      right: DataFrame, rightLo: String, rightHi: String,
      bucketWidth: Long, broadcastRight: Boolean = false): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(!(left.columns ++ right.columns).contains("__bucket"),
      "inputs must not carry a __bucket column (internal name)")
    require(left.columns.intersect(right.columns).isEmpty,
      "left/right column names must be disjoint (alias before joining)")
    // exact long bucket index (Spark's `/` on longs is double division;
    // `div` is TRUNCATED integer division). Truncation — not floor — is
    // fine on ALL of ℤ: the only property the bucket-containment and
    // `greatest()`-residual-dedup invariants use is that bucketOf is
    // MONOTONE non-decreasing (lo <= x <= hi ⇒ bucketOf(lo) <=
    // bucketOf(x) <= bucketOf(hi), and overlap ⇒ the max(lo)-bucket
    // lies in both sides' exploded ranges), which truncated division
    // satisfies over negative domains too. What WOULD break dedup is
    // changing the rounding at SOME of bucketOf's call sites but not
    // others (the explode below and the `greatest()` residual must
    // agree on which bucket holds max(lo)) — every call site shares
    // this one definition for that reason (negative-domain equality
    // pinned in RangeJoinSpec).
    def bucketOf(c: String): org.apache.spark.sql.Column =
      expr(s"CAST(`$c` AS BIGINT) div ${bucketWidth}L")
    def exploded(df: DataFrame, lo: String, hi: String): DataFrame =
      df.filter(col(lo) <= col(hi))
        .withColumn("__bucket", explode(sequence(bucketOf(lo), bucketOf(hi))))
    val l = exploded(left, leftLo, leftHi)
    val r0 = exploded(right, rightLo, rightHi)
    val r = if (broadcastRight) broadcast(r0) else r0
    l.join(r, "__bucket")
      .filter(col(leftLo) <= col(rightHi) && col(rightLo) <= col(leftHi) &&
        col("__bucket") === greatest(bucketOf(leftLo), bucketOf(rightLo)))
      .drop("__bucket")
  }
}

/** Generic as-of (backward-looking temporal) join, an argmax
  * counterpart of [[graft.offline.PointInTimeJoin]] without the
  * feature-store framing:
  * for each left row, attach the single latest right row with
  * `right.ts <= left.ts` (and `>= left.ts - ttl` when set) on matching
  * keys; left rows with no eligible match null-pad. One keyed shuffle
  * for the join, one for the argmax — no window over the raw join
  * output, no self-joins.
  */
object AsOfJoin {

  def asofJoin(
      left: DataFrame, right: DataFrame, on: Seq[String],
      leftTsCol: String, rightTsCol: String,
      ttl: Option[java.time.Duration] = None): DataFrame =
    AsOfJoinImpl.argOptJoin(left, right, on, leftTsCol, rightTsCol,
      label = "as-of join",
      timeCond = (rightP, keySpace, p) =>
        (rightP(p + rightTsCol) <= keySpace(leftTsCol)) +:
          ttl.map(d => rightP(p + rightTsCol) >=
            keySpace(leftTsCol) -
              expr(s"INTERVAL ${d.toMillis} MILLISECOND")).toSeq,
      extraOrder = (_, _, _) => Seq.empty,
      useMax = true)

  /** Forward-as-of join — pandas `merge_asof(direction='forward')`: for
    * each left row, attach the single EARLIEST right row with
    * `right.ts >= left.ts` (and `<= left.ts + horizon` when set) on
    * matching keys; left rows with no eligible match null-pad. The
    * mirror of [[asofJoin]] — same key-space dedup, same one keyed
    * argmin (`min(struct(ts, values…))`), no window, no self-join. The
    * time-to-next-event primitive: conversions after touchpoints, next
    * reading after a sensor gap, next error after a deploy.
    */
  def forwardJoin(
      left: DataFrame, right: DataFrame, on: Seq[String],
      leftTsCol: String, rightTsCol: String,
      horizon: Option[java.time.Duration] = None): DataFrame =
    AsOfJoinImpl.argOptJoin(left, right, on, leftTsCol, rightTsCol,
      label = "forward as-of join",
      timeCond = (rightP, keySpace, p) =>
        (rightP(p + rightTsCol) >= keySpace(leftTsCol)) +:
          horizon.map(d => rightP(p + rightTsCol) <=
            keySpace(leftTsCol) +
              expr(s"INTERVAL ${d.toMillis} MILLISECOND")).toSeq,
      extraOrder = (_, _, _) => Seq.empty,
      useMax = false)

  /** Nearest-as-of join — pandas `merge_asof(direction='nearest')`
    * semantics: for each left row, attach the single right row on
    * matching keys whose timestamp is CLOSEST to the left's, in either
    * direction, within ± `tolerance`; left rows with no eligible match
    * null-pad. Ties (one candidate before, one after, equidistant)
    * break deterministically to the EARLIER right timestamp, then the
    * right value columns ascending.
    *
    * Same plan posture as [[asofJoin]]: keys + two range residuals on an
    * equi join, then one keyed argmin (`min(struct(|Δ|, ts, values…))`)
    * — no window over the join output, no self-join. Per-left fan-out is
    * bounded by the right-side row density inside the 2·tolerance
    * window, which is what makes this safe where an unbounded nearest
    * search is not; pick the smallest tolerance the use case allows.
    *
    * Self-join callers: left and right must not share lineage (re-read
    * or `.as()`-alias one side), or Spark's DetectAmbiguousSelfJoin
    * rejects the internal key-space join.
    */
  def nearestJoin(
      left: DataFrame, right: DataFrame, on: Seq[String],
      leftTsCol: String, rightTsCol: String,
      tolerance: java.time.Duration): DataFrame = {
    require(!tolerance.isNegative && !tolerance.isZero,
      "tolerance must be positive")
    val tolMs = tolerance.toMillis
    AsOfJoinImpl.argOptJoin(left, right, on, leftTsCol, rightTsCol,
      label = "nearest join",
      timeCond = (rightP, keySpace, p) => Seq(
        rightP(p + rightTsCol) >=
          keySpace(leftTsCol) - expr(s"INTERVAL $tolMs MILLISECOND"),
        rightP(p + rightTsCol) <=
          keySpace(leftTsCol) + expr(s"INTERVAL $tolMs MILLISECOND")),
      extraOrder = (rightP, keySpace, p) => Seq(
        abs(unix_micros(rightP(p + rightTsCol)) -
          unix_micros(keySpace(leftTsCol))).as("__adx")),
      useMax = false)
  }
}
