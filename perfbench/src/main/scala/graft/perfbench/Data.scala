package graft.perfbench

import graft.api.FeatureStore
import graft.core._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.sql.Timestamp
import java.util.SplittableRandom

/** A feature row of the `driver_stats` view. Times are epoch seconds. */
final case class StatRow(key: Long, ts: Long, created: Long, conv: Double,
    acc: Double, trips: Long, tier: String, extras: Array[Double])

/** A feature row of the TTL-less `driver_profile` view. */
final case class ProfileRow(key: Long, ts: Long, rating: Double, city: String)

/** An entity row of a training-set request. */
final case class EntityRow(key: Long, ts: Long)

/** The feature repo every workload registers: entity `driver` keyed by
  * `driver_id`, the `driver_stats` view (7-day TTL, created-timestamp
  * column, one declared-FLOAT feature stored as double) and the TTL-less
  * `driver_profile` view.
  */
object Repo {
  val Driver: Entity = Entity("driver", Seq("driver_id"), ValueType.INT64)
  val StatsView = "driver_stats"
  val ProfileView = "driver_profile"
  val BaseStats: Seq[Feature] = Seq(Feature("conv_rate", FloatType),
    Feature("acc_rate", DoubleType), Feature("trips", LongType),
    Feature("tier", StringType))
  val StatsRefs: Seq[String] = BaseStats.map(f => s"$StatsView:${f.name}")
  val ProfileRefs: Seq[String] =
    Seq(s"$ProfileView:rating", s"$ProfileView:city")

  def statsView(path: String, extras: Seq[String] = Nil): FeatureView =
    FeatureView(StatsView, Seq("driver"),
      BaseStats ++ extras.map(Feature(_, DoubleType)),
      SparkSource("driver_stats_src", path,
        createdTimestampColumn = Some("created")),
      ttl = Some(java.time.Duration.ofDays(7)))

  def profileView(path: String): FeatureView =
    FeatureView(ProfileView, Seq("driver"),
      Seq(Feature("rating", DoubleType), Feature("city", StringType)),
      SparkSource("driver_profile_src", path))

  /** A repo directory with the documented default configuration: a
    * file-backed registry and the memory online store.
    */
  def create(dir: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("feature_store.yaml"),
      """project: perfbench
        |registry:
        |  path: data/registry.json
        |online_store:
        |  type: memory
        |offline_store:
        |  type: spark
        |""".stripMargin)
  }

  def open(spark: SparkSession, dir: java.nio.file.Path): FeatureStore =
    FeatureStore.fromRepo(spark, dir.toString)
}

/** Keys drawn from a Zipf(s) law over `n` keys `1..n`, the rank order
  * shuffled once so the hot keys are spread over the id range.
  */
final class Zipf(n: Int, s: Double, seed: Long) extends Serializable {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private val keyOfRank = {
    val rng = new SplittableRandom(seed)
    val a = Array.tabulate(n)(i => (i + 1).toLong)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  def sample(r: SplittableRandom): Long = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    keyOfRank(lo)
  }
}

/** Seeded input generators. A data set is cut into chunks, each drawn
  * from its own random stream, so Spark tasks can write the chunks in
  * parallel while the oracle draws the same rows on the driver. The same
  * seed gives the same rows.
  */
object Gen {
  /** 2024-01-01T00:00:00Z */
  val Epoch = 1704067200L
  val Day = 86400L
  private val Tiers = Array("bronze", "silver", "gold", "platinum", "diamond")
  private val Cities = Array("chicago", "oslo", "lagos", "lima", "pune",
    "osaka", "quito", "perth")

  def rng(seed: Long, stream: String, chunk: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream.hashCode * 7919L + chunk)

  /** The keys of chunk `c` when `keys` keys are cut into `chunks`. */
  def keyRange(keys: Int, chunks: Int, c: Int): Range =
    (keys.toLong * c / chunks).toInt + 1 to (keys.toLong * (c + 1) / chunks).toInt

  def statRow(r: SplittableRandom, key: Long, ts: Long, created: Long,
      nExtras: Int): StatRow =
    StatRow(key, ts, created, r.nextDouble(), r.nextDouble(),
      r.nextInt(1000).toLong, Tiers(r.nextInt(Tiers.length)),
      Array.fill(nExtras)(r.nextDouble()))

  /** About `perKey` rows for each key, at whole minutes within
    * `[start, start + span)`. One row in six repeats the event time of the
    * key's previous row, so event-time ties occur; the created time
    * `ts + 1 + i` is distinct within a key, so (ts, created) orders the
    * rows of a key totally.
    */
  final case class Stats(seed: Long, keys: Int, perKey: Int, start: Long,
      span: Long, nExtras: Int, chunks: Int) {
    def chunk(c: Int): Array[StatRow] = {
      val r = rng(seed, "stats", c)
      val out = Array.newBuilder[StatRow]
      for (k <- keyRange(keys, chunks, c)) {
        val n = 1 + r.nextInt(2 * perKey - 1)
        var prevTs = -1L
        for (i <- 0 until n) {
          val ts =
            if (prevTs >= 0 && r.nextInt(6) == 0) prevTs
            else start + r.nextLong(span / 60) * 60
          prevTs = ts
          out += statRow(r, k.toLong, ts, ts + 1 + i, nExtras)
        }
      }
      out.result()
    }
    def all: Array[StatRow] = (0 until chunks).toArray.flatMap(chunk)
  }

  /** `rows` rows over Zipf-drawn keys, at whole minutes within the hour
    * from `hourStart`; created `ts + 1 + j` is distinct within the hour.
    */
  final case class Hour(seed: Long, zipf: Zipf, rows: Int, hourStart: Long,
      nExtras: Int) {
    val chunks = 1
    def chunk(c: Int): Array[StatRow] = {
      val r = rng(seed, s"hour$hourStart", c)
      Array.tabulate(rows) { j =>
        val ts = hourStart + r.nextInt(60) * 60L
        statRow(r, zipf.sample(r), ts, ts + 1 + j, nExtras)
      }
    }
    def all: Array[StatRow] = chunk(0)
  }

  /** Up to `perKey` profile rows per key, one per `span / perKey` slot, so
    * no two rows of a key share an event time.
    */
  final case class Profiles(seed: Long, keys: Int, perKey: Int, start: Long,
      span: Long, chunks: Int) {
    def chunk(c: Int): Array[ProfileRow] = {
      val r = rng(seed, "profiles", c)
      val slot = span / perKey
      val out = Array.newBuilder[ProfileRow]
      for (k <- keyRange(keys, chunks, c); j <- 0 until perKey if r.nextInt(4) != 0)
        out += ProfileRow(k.toLong, start + j * slot + r.nextLong(slot),
          r.nextDouble() * 5, Cities(r.nextInt(Cities.length)))
      out.result()
    }
    def all: Array[ProfileRow] = (0 until chunks).toArray.flatMap(chunk)
  }

  /** `rows` entity rows: 5% of keys have no history (ids above `keys`),
    * times uniform over `[start, start + span)`, and 3% of rows repeat an
    * earlier row's (key, ts).
    */
  final case class Entities(seed: Long, rows: Int, keys: Int, start: Long,
      span: Long, chunks: Int) {
    def chunk(c: Int): Array[EntityRow] = {
      val r = rng(seed, "entities", c)
      val n = rows / chunks
      val out = new Array[EntityRow](n)
      for (i <- 0 until n) {
        out(i) =
          if (i > 0 && r.nextInt(100) < 3) out(r.nextInt(i))
          else EntityRow(unknownOr(r, keys, 1 + r.nextInt(keys).toLong),
            start + r.nextLong(span))
      }
      out
    }
    def all: Array[EntityRow] = (0 until chunks).toArray.flatMap(chunk)
  }

  /** `known`, or in 5% of draws a key with no rows at all. */
  def unknownOr(r: SplittableRandom, keys: Int, known: Long): Long =
    if (r.nextInt(100) < 5) keys + 1L + r.nextInt(keys) else known
}

/** Writes generated rows as parquet, the way an upstream job would land
  * them in a view's source directory: one Spark task per chunk draws and
  * writes its rows.
  */
object Sink {
  private def ts(s: Long) = new Timestamp(s * 1000L)

  def statsSchema(nExtras: Int): StructType = StructType(Seq(
    StructField("driver_id", LongType, nullable = false),
    StructField("event_timestamp", TimestampType),
    StructField("created", TimestampType),
    StructField("conv_rate", DoubleType),
    StructField("acc_rate", DoubleType),
    StructField("trips", LongType),
    StructField("tier", StringType)) ++
    (0 until nExtras).map(i => StructField(s"x$i", DoubleType)))

  private def write(spark: SparkSession, chunks: Int, schema: StructType,
      path: String, mode: String)(rows: Int => Iterator[Row]): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(0 until chunks, chunks).flatMap(rows), schema)
      .write.mode(mode).parquet(path)

  def stats(spark: SparkSession, gen: Gen.Stats, path: String): Unit =
    statRows(spark, gen.chunks, gen.nExtras, path, "overwrite")(gen.chunk)

  def hour(spark: SparkSession, gen: Gen.Hour, path: String): Unit =
    statRows(spark, gen.chunks, gen.nExtras, path, "append")(gen.chunk)

  private def statRows(spark: SparkSession, chunks: Int, nExtras: Int,
      path: String, mode: String)(chunk: Int => Array[StatRow]): Unit =
    write(spark, chunks, statsSchema(nExtras), path, mode)(c => chunk(c).iterator.map { s =>
      Row.fromSeq(Seq(s.key, ts(s.ts), ts(s.created), s.conv, s.acc, s.trips,
        s.tier) ++ s.extras.toSeq)
    })

  def profiles(spark: SparkSession, gen: Gen.Profiles, path: String): Unit =
    write(spark, gen.chunks,
      StructType(Seq(StructField("driver_id", LongType, nullable = false),
        StructField("event_timestamp", TimestampType),
        StructField("rating", DoubleType), StructField("city", StringType))),
      path, "overwrite")(c => gen.chunk(c).iterator.map(p => Row(p.key, ts(p.ts), p.rating, p.city)))

  def entities(spark: SparkSession, gen: Gen.Entities, path: String): Unit =
    write(spark, gen.chunks,
      StructType(Seq(StructField("driver_id", LongType, nullable = false),
        StructField("event_timestamp", TimestampType, nullable = false))),
      path, "overwrite")(c => gen.chunk(c).iterator.map(e => Row(e.key, ts(e.ts))))
}
