package graft.offline

import graft.core.{Feature, FeatureView}
import graft.sources.SourceReader
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time-correct (as-of) historical retrieval — the defining
  * operator of the system (reference `CASE.MD:337-501`, the Feast
  * spark-offline-store generated SQL, executed at
  * `Untitled.ipynb:682-868`).
  *
  * Semantics reproduced from the reference SQL:
  *   - J1 as-of match: feature rows with `feature.ts <= entity.ts`, equal
  *     on the view's join keys, plus the TTL lower bound
  *     `feature.ts >= entity.ts - ttl` when a TTL is set
  *     (`CASE.MD:385-386,407-422`);
  *   - the global upper-bound pre-filter `WHERE ts <= max(entity.ts)`
  *     pushed into the feature scan (`CASE.MD:394-405`), so parquet
  *     row-group stats and partition pruning bound the read;
  *   - A7 + W1 latest-row selection: latest by event_ts, then created
  *     (`CASE.MD:424-463`);
  *   - J4 null padding: every entity row comes out exactly once, with
  *     nulls where a view has no eligible row (`CASE.MD:486-501`).
  *
  * Spark-first redesign (NOT a translation): the reference joins, ranks
  * and joins back per view. Here the views that share join keys form one
  * group, and each group is ONE sorted scan:
  *   1. union the entity rows (kind 1) with every view's feature rows
  *      (kind 0); a feature row carries its view's candidate struct
  *      `(ts, created?, v0..vn)` in that view's own column;
  *   2. one hash exchange on the join keys;
  *   3. sort by `(ts, kind, struct_0..struct_n)`;
  *   4. `last(struct_i, ignoreNulls = true)` over an explicit
  *      `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW` frame;
  *   5. keep the kind-1 rows, and null a value whose `struct.ts` falls
  *      before the view's TTL bound.
  *
  * Why this is the as-of argmax:
  *   - at an equal ts a feature row (kind 0) sorts before an entity row
  *     (kind 1), which is Feast's `<=`;
  *   - among one view's rows the sort order IS the struct order, so the
  *     last one at or before an entity row is `max(struct)` — latest
  *     event_ts, then latest created, and any residual tie resolves
  *     deterministically on the values themselves (SURVEY §7.4.1);
  *   - the latest eligible row is inside the TTL iff any eligible row
  *     is, so one bound check on it is the TTL filter;
  *   - entity rows pass through the scan, so duplicate rows and extra
  *     entity columns survive with no join back;
  *   - feature rows with a null join key or a null ts are dropped first:
  *     a window partition groups nulls together where an equi-join never
  *     matches them, and a null ts would sort before every entity row.
  *
  * A second key group chains: the first group's output is the next
  * group's entity side, so a retrieval costs one exchange per key group,
  * not a join, an aggregate and a join back per view. A view with no
  * join keys forms a group with an EMPTY partition spec, so that one
  * case runs its scan in a single task. The output keeps the shape of
  * the former per-view left-join fold: for each view in request order,
  * its join keys and the entity ts move to the front, and its features
  * follow the columns before them.
  */
object PointInTimeJoin {

  /** One retrieval unit: a view, the features wanted from it, and its
    * registry-resolved entity join keys.
    */
  final case class ViewRequest(
      view: FeatureView,
      features: Seq[Feature],
      joinKeys: Seq[String])

  def retrieve(
      spark: SparkSession,
      entityDf0: DataFrame,
      requests: Seq[ViewRequest],
      entityTsCol: String = "event_timestamp",
      fullFeatureNames: Boolean = true,
      prefilterByEntityRange: Boolean = true): DataFrame = {

    require(entityDf0.columns.contains(entityTsCol),
      s"entity dataframe lacks timestamp column '$entityTsCol'")

    // The reference mixes string- and timestamp-typed event timestamps
    // (SURVEY §7.4.2); normalize string entity timestamps at the boundary
    // so the as-of comparisons are always typed.
    val entityDf =
      if (entityDf0.schema(entityTsCol).dataType ==
        org.apache.spark.sql.types.StringType)
        entityDf0.withColumn(entityTsCol, to_timestamp(col(entityTsCol)))
      else entityDf0

    // Driver-side scalar bounds for scan pruning (one tiny agg job, the
    // same trick as the reference's interpolated '<max entity ts>' literal,
    // CASE.MD:403). Skippable for purely lazy plans. Doubles as the
    // guard against unparseable string timestamps: to_timestamp maps bad
    // strings to null, which would otherwise silently null-pad features.
    lazy val (minEntityTs, maxEntityTs) = {
      val row = entityDf.agg(
        min(col(entityTsCol)).cast("timestamp"),
        max(col(entityTsCol)).cast("timestamp"),
        count(col(entityTsCol)),
        count(lit(1))).head()
      val (nonNull, total) = (row.getLong(2), row.getLong(3))
      require(total > 0, "entity dataframe is empty")
      require(nonNull == total,
        s"entity timestamp column '$entityTsCol' has ${total - nonNull} " +
          "null/unparseable values (string timestamps must be " +
          "'yyyy-MM-dd HH:mm:ss'-parseable)")
      (row.getTimestamp(0), row.getTimestamp(1))
    }
    // the bounds agg doubles as the null/unparseable guard, but it is
    // lazy and prefilterByEntityRange=false never forces it — when the
    // string normalization above ran, to_timestamp may have minted
    // nulls, and an already-TIMESTAMP-typed column whose schema admits
    // nulls can carry them too (ADVICE r19); either way, skipping the
    // guard would silently null-pad every feature for those rows.
    // Force it whenever normalization happened OR the typed column is
    // nullable — the cost is one tiny agg job; only a provably
    // non-nullable typed column keeps the fully lazy behavior.
    // INTENDED side effect (ADVICE r20): since typed columns are
    // nullable in almost all real sources, an EMPTY entity df now
    // fails fast here ("entity dataframe is empty") even with
    // prefilterByEntityRange=false — matching the prefilter=true path
    // rather than lazily returning an empty result. An empty entity df
    // in a PIT retrieval is a caller bug, not a degenerate input.
    if (!(entityDf eq entityDf0) ||
      entityDf.schema(entityTsCol).nullable) { val _ = minEntityTs }

    requests.foreach { case ViewRequest(fv, _, joinKeys) =>
      joinKeys.foreach { k =>
        require(entityDf.columns.contains(k),
          s"entity dataframe lacks join key '$k' required by view '${fv.name}'")
      }
    }

    // Internal names: view v's candidate struct, view v's feature j,
    // the row kind.
    def struct_(v: Int) = s"__graft_pit_s$v"
    def out_(v: Int, j: Int) = s"__graft_pit_o${v}_$j"
    val kind = "__graft_pit_kind"

    // View v's bounded feature rows and its candidate struct
    // (event_ts, created_ts, features): struct order is lexicographic,
    // so the greatest struct is the latest row.
    def featureRows(v: Int): (DataFrame, Column) = {
      val ViewRequest(fv, feats, joinKeys) = requests(v)
      val tsField = fv.source.timestampField
      // Feature-side scan: the entity time range lands inside the read
      // so it pushes to PushedFilters even for raw-nanosecond sources
      // (see SourceReader.read bounds); only keys, time columns and
      // requested features reach the output, so column pruning reaches
      // the parquet scan.
      val upper = if (prefilterByEntityRange) Some(maxEntityTs) else None
      val lower =
        if (prefilterByEntityRange)
          fv.ttl.map(ttl => new java.sql.Timestamp(minEntityTs.getTime - ttl.toMillis))
        else None
      // An equi-join never matches a null key and `ts <= entity.ts`
      // never holds for a null ts; in the scan a null key would share a
      // partition with null entity keys and a null ts would sort first,
      // so both are dropped here.
      val feat = SourceReader.read(spark, fv.source, lower, upper)
        .filter((joinKeys :+ tsField).map(col(_).isNotNull).reduce(_ && _))
      feat -> struct((Seq(feat(tsField).as("__ts")) ++
        fv.source.createdTimestampColumn.map(c => feat(c).as("__created")) ++
        feats.zipWithIndex.map { case (f, j) => feat(f.name).as(s"__v$j") }): _*)
    }

    def scan(ent: DataFrame, group: Seq[Int]): DataFrame = {
      val keys = requests(group.head).joinKeys
      val rows = group.map(featureRows)
      val nullStructs = group.zip(rows).map { case (v, (feat, cand)) =>
        lit(null).cast(feat.select(cand).schema.head.dataType).as(struct_(v))
      }
      // Every side lines up by position with `ent`: a feature row puts
      // its keys under the entity key names, its ts in the entity ts
      // column, nulls in the other entity columns, and its struct in its
      // own view's column.
      val entSide = ent.select(ent.columns.toSeq.map(col) ++
        Seq(lit(1).as(kind)) ++ nullStructs: _*)
      val unioned = group.zip(rows).zipWithIndex.foldLeft(entSide) {
        case (acc, ((v, (feat, cand)), i)) =>
          val ViewRequest(fv, _, joinKeys) = requests(v)
          acc.union(feat.select(ent.schema.fields.toSeq.map { f =>
            if (joinKeys.contains(f.name)) col(f.name)
            else if (f.name == entityTsCol) col(fv.source.timestampField).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          } ++ Seq(lit(0).as(kind)) ++ nullStructs.updated(i, cand.as(struct_(v))): _*))
      }
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy((col(entityTsCol) +: col(kind) +: group.map(u => col(struct_(u)))): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scanned = unioned
        .select(ent.columns.toSeq.map(col) ++ Seq(col(kind)) ++
          group.map(u => last(col(struct_(u)), ignoreNulls = true).over(w).as(struct_(u))): _*)
        .filter(col(kind) === 1)
      // The union widens a key or ts type the two sides disagree on (an
      // INT entity key against a LONG source key); entity rows carry
      // their own values, so casting back to the entity type is exact.
      val passThrough = ent.schema.fields.toSeq.map { f =>
        if (scanned.schema(f.name).dataType == f.dataType) col(f.name)
        else col(f.name).cast(f.dataType).as(f.name)
      }
      scanned.select(passThrough ++ group.flatMap { v =>
        val ViewRequest(fv, feats, _) = requests(v)
        val s = struct_(v)
        // toMillis, not getSeconds: a sub-second TTL must not silently
        // truncate to zero
        val inTtl = fv.ttl.map { ttl =>
          col(s"$s.__ts") >=
            col(entityTsCol) - expr(s"INTERVAL ${ttl.toMillis} MILLISECOND")
        }
        feats.indices.map { j =>
          val value = col(s"$s.__v$j")
          inTtl.fold(value)(when(_, value)).as(out_(v, j))
        }
      }: _*)
    }

    // Views on the same join keys share one scan; groups chain in order
    // of first appearance.
    val groups = requests.indices.groupBy(v => requests(v).joinKeys.toSet)
      .values.toSeq.sortBy(_.head)
    val scanned = groups.foldLeft(entityDf)(scan)

    // The former per-view LEFT JOIN fold's column order: each view's
    // join keys and the entity ts move to the front, its features go
    // last.
    val order = requests.zipWithIndex.foldLeft(
        entityDf.columns.toSeq.map(c => col(c) -> Option(c))) {
      case (acc, (ViewRequest(fv, feats, joinKeys), v)) =>
        val using = (joinKeys :+ entityTsCol).distinct
        using.map(c => col(c) -> Option(c)) ++
          acc.filterNot { case (_, name) => name.exists(using.contains) } ++
          feats.zipWithIndex.map { case (f, j) =>
            col(out_(v, j))
              .as(if (fullFeatureNames) s"${fv.name}__${f.name}" else f.name) -> None
          }
    }
    scanned.select(order.map(_._1): _*)
  }
}
