package graft.perfbench

import org.apache.spark.sql.Row

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

final case class Metric(value: Double, unit: String)

object Quantile {
  /** Linear interpolation between closest ranks. */
  def apply(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = apply(xs, 0.5)
}

/** The end-to-end metrics every workload reports. `op_p50_ms` is the
  * median wall time of the workload's operation; each workload says what
  * its `rows_per_s` counts.
  */
object EndToEnd {
  def apply(ctx: Ctx, opNs: Seq[Long], rowsPerS: Double): Map[String, Metric] = {
    if (opNs.size <= 50) println(s"op ms: ${opNs.map(n => f"${n / 1e6}%.1f").mkString(" ")}")
    Map(
    "setup_s" -> Metric(ctx.setupS, "s"),
    "op_p50_ms" -> Metric(Quantile.median(opNs.map(_ / 1e6)), "ms"),
    "rows_per_s" -> Metric(rowsPerS, "rows/s"))
  }

  /** Rows per second of operation time. Where every operation moves the
    * same rows this is the mean operation time turned over, not a
    * measurement apart from `op_p50_ms`.
    */
  def throughput(rows: Long, opNs: Seq[Long]): Double = rows / math.max(opNs.sum / 1e9, 1e-9)
}

trait Workload {
  def run(ctx: Ctx): Map[String, Metric]

  /** Runs whole rounds until the run's seconds are spent, at least one. */
  protected def rounds(ctx: Ctx)(round: Int => Unit): Unit = {
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    do { round(i); i += 1 } while (System.nanoTime() < deadline)
  }

  protected def dir(ctx: Ctx, name: String): String = ctx.work.resolve(name).toString
}

/** Training-set retrieval: getHistoricalFeatures over two views for a
  * parquet entity frame, collected. Sources and the PIT join do the work.
  * `rows_per_s` is training rows delivered per second of retrieval.
  */
object TrainingSet extends Workload {
  val Keys = 20000
  val StatsPerKey = 5
  val EntityRows = 20000

  def run(ctx: Ctx): Map[String, Metric] = {
    val span = 30 * Gen.Day
    val stats = Gen.Stats(ctx.seed, Keys, StatsPerKey, Gen.Epoch, span, 0, 8)
    val profiles = Gen.Profiles(ctx.seed, Keys, 4, Gen.Epoch, span, 4)
    val entityGen = Gen.Entities(ctx.seed, EntityRows, Keys, Gen.Epoch + 3 * Gen.Day, span, 4)
    val (statsPath, profilePath, entityPath) =
      (dir(ctx, "stats"), dir(ctx, "profile"), dir(ctx, "entity"))
    val entities = ctx.aside("landed") {
      Sink.stats(ctx.spark, stats, statsPath)
      Sink.profiles(ctx.spark, profiles, profilePath)
      Sink.entities(ctx.spark, entityGen, entityPath)
      entityGen.all
    }
    val repo = ctx.work.resolve("repo")
    Repo.create(repo)
    val fs = Repo.open(ctx.spark, repo)
    ctx.attempt("apply")(Calls.applyObjects(ctx, fs, Seq(Repo.Driver,
      Repo.statsView(statsPath), Repo.profileView(profilePath))))
    val refs = Repo.StatsRefs ++ Repo.ProfileRefs
    val (minS, maxS) = (entities.map(_.ts).min, entities.map(_.ts).max)
    def retrieve() = ctx.attempt("getHistoricalFeatures")(
      Calls.retrieve(ctx, fs, entityPath, refs, minS, maxS))
    val first = retrieve().map(_._1)
    ctx.aside("warm-up retrieval")(retrieve()) // the timed ones start warm
    ctx.setupDone()

    val opNs = ArrayBuffer.empty[Long]
    val outputs = ArrayBuffer.empty[Array[String]]
    var rows = 0L
    rounds(ctx) { _ =>
      retrieve().foreach { case (out, ns) =>
        opNs += ns
        rows += out.length
        outputs += asText(out)
      }
    }

    val expected = Oracle.expectedTraining(stats.all, profiles.all, entities)
    (first.map(asText).toSeq ++ outputs).foreach(o => ctx.check(Oracle.checkTraining(o, expected)))
    first.map(asText).foreach { o =>
      ctx.mustReject("training-set value", Oracle.checkTraining(
        o.updated(0, o(0).replaceFirst("\\|[^|]*$", "|perturbed")), expected))
      ctx.mustReject("training-set row count", Oracle.checkTraining(o.drop(1), expected))
    }
    EndToEnd(ctx, opNs.toSeq, EndToEnd.throughput(rows, opNs.toSeq))
  }

  private def asText(rows: Array[Row]): Array[String] = rows.map { row =>
    val e = EntityRow(row.getAs[Long]("driver_id"),
      row.getAs[java.sql.Timestamp]("event_timestamp").getTime / 1000L)
    (Seq[Any](e.key, e.ts) ++ (Repo.StatsRefs ++ Repo.ProfileRefs).map { ref =>
      row.get(row.fieldIndex(ref.replace(":", "__")))
    }).mkString("|")
  }.sorted
}

/** Online serving: a closed loop of getOnlineFeatures from one client over
  * a repo opened with FeatureStore.fromRepo (file-backed registry, memory
  * online store), keys Zipf-skewed with 5% unknown. The loop alternates a
  * round of 20 single-entity requests and one 50-entity request, so both
  * shapes run under the same conditions, and each shape has its own
  * metric: `op_p50_ms` is the median round of singles (from one run to the
  * next a single request's median moved by up to 20% with nothing changed,
  * a round's by about half that), `rows_per_s` is 50 rows over the median
  * 50-entity request. Neither is weighted by the other.
  */
object OnlineServing extends Workload {
  val Keys = 50000
  val Singles = 20
  val BatchSize = 50
  val WarmUpRounds = 50

  def run(ctx: Ctx): Map[String, Metric] = {
    val span = 14 * Gen.Day
    val stats = Gen.Stats(ctx.seed, Keys, 4, Gen.Epoch, span, 0, 4)
    val profiles = Gen.Profiles(ctx.seed, Keys, 2, Gen.Epoch, span, 4)
    val (statsPath, profilePath) = (dir(ctx, "stats"), dir(ctx, "profile"))
    ctx.aside("landed") {
      Sink.stats(ctx.spark, stats, statsPath)
      Sink.profiles(ctx.spark, profiles, profilePath)
    }
    val repo = ctx.work.resolve("repo")
    Repo.create(repo)
    val fs = Repo.open(ctx.spark, repo)
    ctx.attempt("apply")(Calls.applyObjects(ctx, fs, Seq(Repo.Driver,
      Repo.statsView(statsPath), Repo.profileView(profilePath))))
    ctx.attempt("materialize")(Calls.materialize(ctx, fs, Gen.Epoch,
      Gen.Epoch + span, Seq(Repo.StatsView, Repo.ProfileView)))
    ctx.phase("materialized")
    val refs = Repo.StatsRefs ++ Repo.ProfileRefs
    val r = Gen.rng(ctx.seed, "requests", 0)
    val zipf = new Zipf(Keys, 1.0, ctx.seed)
    def key() = Gen.unknownOr(r, Keys, zipf.sample(r))
    def lookup(keys: Seq[Long]) = ctx.attempt("getOnlineFeatures")(Calls.lookup(ctx, fs, keys, refs))
    val warm = Seq.fill(WarmUpRounds)(Seq.fill(Singles)(Seq(key())) :+ Seq.fill(BatchSize)(key())).flatten
    val warmServed = ctx.aside("warmed up")(warm.map(k => (k, lookup(k).map(_._1))))
    ctx.setupDone()

    val latestStats = Oracle.latestStats(stats.all)
    val latestProfiles = Oracle.latestProfiles(profiles.all)
    def expected(keys: Seq[Long]) = keys.map(k =>
      Oracle.statsVector(k, latestStats.get(k)) ++ Oracle.profileVector(latestProfiles.get(k)))
    val roundNs = ArrayBuffer.empty[Long]
    val batchNs = ArrayBuffer.empty[Long]
    val batches = ArrayBuffer.empty[(Seq[Long], Seq[Map[String, Any]])]
    def serve(keys: Seq[Long]): Long = lookup(keys).fold(0L) { case (out, ns) =>
      if (keys.size > 1 && batches.size < 3) batches += ((keys, out))
      ctx.check(Oracle.checkServed("online", out, expected(keys)))
      ns
    }
    rounds(ctx) { _ =>
      roundNs += (0 until Singles).map(_ => serve(Seq(key()))).sum
      batchNs += serve(Seq.fill(BatchSize)(key()))
    }

    warmServed.foreach { case (k, out) =>
      out.foreach(o => ctx.check(Oracle.checkServed("online warm-up", o, expected(k))))
    }
    // a 50-entity answer must equal its 50 single-entity answers
    batches.foreach { case (keys, out) =>
      val singles = keys.flatMap(k => lookup(Seq(k)).map(_._1).getOrElse(Nil))
      ctx.check(Oracle.checkServed("batch vs singles", out, singles))
    }
    batches.headOption.foreach { case (keys, out) =>
      ctx.mustReject("online vector", Oracle.checkServed("online",
        out.updated(0, Oracle.perturb(out.head)), expected(keys)))
      ctx.mustReject("online FLOAT narrowing", Oracle.checkServed("online",
        out.zip(keys).map { case (o, k) =>
          latestStats.get(k).fold(o)(s => o.updated("driver_stats__conv_rate",
            java.lang.Double.valueOf(s.conv)))
        }, expected(keys)))
    }
    EndToEnd(ctx, roundNs.toSeq,
      BatchSize / math.max(Quantile.median(batchNs.toSeq.map(_ / 1e9)), 1e-9))
  }
}

/** Feature refresh: each round an hour of rows lands, a second session
  * re-applies the view with a rotating extra feature, the first session
  * materializes that hour only, then a burst of lookups and a freshness
  * audit over every expected key follow. The sizes (3,000 rows an hour,
  * 40 single lookups and one of 50 entities) are set to make a round of
  * about a second, not taken from any traffic. `rows_per_s` is the rows
  * landed per second of round time.
  */
object FeatureRefresh extends Workload {
  val Keys = 20000
  val Unknown = 100
  val RowsPerHour = 3000
  val Extras = 3
  val SlaHours = 2L

  def run(ctx: Ctx): Map[String, Metric] = {
    val backfillSpan = 2 * Gen.Day
    val backfill = Gen.Stats(ctx.seed, Keys, 3, Gen.Epoch, backfillSpan, Extras, 2)
    val statsPath = dir(ctx, "stats")
    ctx.aside("landed")(Sink.stats(ctx.spark, backfill, statsPath))
    val repo = ctx.work.resolve("repo")
    Repo.create(repo)
    val fs = Repo.open(ctx.spark, repo)
    ctx.attempt("apply")(Calls.applyObjects(ctx, fs, Seq(Repo.Driver, Repo.statsView(statsPath))))
    ctx.attempt("materialize")(Calls.materialize(ctx, fs, Gen.Epoch,
      Gen.Epoch + backfillSpan - 1, Seq(Repo.StatsView)))
    ctx.phase("materialized")
    import ctx.spark.implicits._
    val expectedKeys = (1L to Keys + Unknown).toDF("driver_id")
    val r = Gen.rng(ctx.seed, "requests", 0)
    val zipf = new Zipf(Keys, 1.0, ctx.seed)

    // what the online store should hold: key -> (row, extra feature
    // declared when it was materialized, or -1)
    val stored = mutable.HashMap.empty[Long, (StatRow, Int)]
    Oracle.latestStats(backfill.all).foreach { case (k, s) => stored(k) = (s, -1) }

    val roundNs = ArrayBuffer.empty[Long]
    var landed = 0L
    def round(i: Int, timed: Boolean): Unit = {
      val hourStart = Gen.Epoch + backfillSpan + i * 3600L
      val hour = Gen.Hour(ctx.seed, zipf, RowsPerHour, hourStart, Extras)
      Sink.hour(ctx.spark, hour, statsPath)
      val rows = hour.all
      val extra = i % Extras
      val refs = Repo.StatsRefs :+ s"${Repo.StatsView}:x$extra"
      val touched = rows.map(_.key).distinct
      val keys = Seq.fill(20)(touched(r.nextInt(touched.length))) ++
        Seq.fill(20)(Gen.unknownOr(r, Keys, zipf.sample(r)))
      val batch = Seq.fill(50)(Gen.unknownOr(r, Keys, zipf.sample(r)))

      val t0 = System.nanoTime()
      ctx.attempt("re-apply")(Calls.applyObjects(ctx, Repo.open(ctx.spark, repo),
        Seq(Repo.statsView(statsPath, Seq(s"x$extra")))))
      ctx.attempt("materialize")(Calls.materialize(ctx, fs, hourStart,
        hourStart + 3599, Seq(Repo.StatsView)))
      val served = (keys.map(Seq(_)) :+ batch).map { k =>
        (k, ctx.attempt("getOnlineFeatures")(Calls.lookup(ctx, fs, k, refs)))
      }
      val audited = ctx.attempt("audit")(
        Calls.audit(ctx, fs, Repo.StatsView, expectedKeys, SlaHours))
      val ns = System.nanoTime() - t0

      if (timed) {
        roundNs += ns
        landed += rows.length
      }
      Oracle.latestStats(rows).foreach { case (k, s) => stored(k) = (s, extra) }
      def expected(k: Seq[Long]) = k.map(key =>
        Oracle.statsVector(key, stored.get(key).map(_._1), stored.get(key).fold(-1)(_._2), extra))
      served.foreach { case (k, out) =>
        out.foreach(o => ctx.check(Oracle.checkServed(s"refresh round $i", o._1, expected(k))))
      }
      val audit = Oracle.audit(stored.values.map(_._1.ts), Keys + Unknown, SlaHours)
      audited.foreach(a => ctx.check(Oracle.checkAudit(a._1, audit)))
      if (i == 1) {
        served.last._2.foreach { case (out, _) =>
          ctx.mustReject("refresh vector", Oracle.checkServed("refresh",
            out.updated(0, Oracle.perturb(out.head)), expected(served.last._1)))
        }
        ctx.mustReject("audit", Oracle.checkAudit((audit._1, audit._2 + 1), audit))
      }
    }
    ctx.aside("warm-up round")(round(0, timed = false))
    ctx.setupDone()
    rounds(ctx)(i => round(i + 1, timed = true))
    EndToEnd(ctx, roundNs.toSeq, EndToEnd.throughput(landed, roundNs.toSeq))
  }
}

/** In a traced run, one small pass of the whole loop after the workload,
  * so that every per-layer metric has a value on every workload: a layer
  * the workload never calls is read from these calls, marked as probe
  * spans. Nothing here feeds an end-to-end metric.
  */
object Probe {
  def run(ctx: Ctx): Unit = {
    ctx.tracer.probe = true
    val keys = 300
    val seed = ctx.seed + 1
    val entities = Gen.Entities(seed, 400, keys, Gen.Epoch + Gen.Day, 10 * Gen.Day, 1)
    val p = ctx.work.resolve("probe")
    val (statsPath, profilePath, entityPath) = (p.resolve("stats").toString,
      p.resolve("profile").toString, p.resolve("entity").toString)
    Sink.stats(ctx.spark, Gen.Stats(seed, keys, 5, Gen.Epoch, 10 * Gen.Day, 0, 1), statsPath)
    Sink.profiles(ctx.spark, Gen.Profiles(seed, keys, 2, Gen.Epoch, 10 * Gen.Day, 1), profilePath)
    Sink.entities(ctx.spark, entities, entityPath)
    Repo.create(p.resolve("repo"))
    val fs = Repo.open(ctx.spark, p.resolve("repo"))
    val refs = Repo.StatsRefs ++ Repo.ProfileRefs
    ctx.attempt("probe apply")(Calls.applyObjects(ctx, fs, Seq(Repo.Driver,
      Repo.statsView(statsPath), Repo.profileView(profilePath))))
    ctx.attempt("probe retrieval")(Calls.retrieve(ctx, fs, entityPath, refs,
      entities.all.map(_.ts).min, entities.all.map(_.ts).max))
    ctx.attempt("probe materialize")(Calls.materialize(ctx, fs, Gen.Epoch,
      Gen.Epoch + 10 * Gen.Day, Seq(Repo.StatsView, Repo.ProfileView)))
    for (k <- 1L to 20L) ctx.attempt("probe lookup")(Calls.lookup(ctx, fs, Seq(k), refs))
    for (b <- 0 until 2) ctx.attempt("probe batch")(
      Calls.lookup(ctx, fs, (1L to 50L).map(_ + b * 50), refs))
    import ctx.spark.implicits._
    ctx.attempt("probe audit")(Calls.audit(ctx, fs, Repo.StatsView,
      (1L to keys).toDF("driver_id"), 24L))
    ctx.tracer.probe = false
  }
}
