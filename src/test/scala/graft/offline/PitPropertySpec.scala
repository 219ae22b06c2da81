package graft.offline

import graft.SparkSpec
import graft.api.{FeatureStore, RepoConfig}
import graft.core._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Duration

/** Property-based PIT invariants (SURVEY §5.2): for every output row the
  * joined feature is the argmax over (event_ts, created_ts) among
  * eligible rows (ts <= entity ts, within TTL, equal non-null keys), and
  * row count equals the entity row count. The edge cases of the sorted
  * scan each get a property: null keys and timestamps, widened key
  * types, same-key views with different TTLs, chained key groups, and
  * the result schema.
  *
  * The oracle here is a driver-side brute force over the generated
  * fixture — independent of the Spark implementation under test.
  */
class PitPropertySpec extends SparkSpec {
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private case class FeatRow(key: String, ts: Long, created: Long, value: Double)

  private val genFeat: Gen[FeatRow] = for {
    k <- Gen.oneOf("a", "b", "c")
    ts <- Gen.choose(0L, 100L)
    created <- Gen.choose(0L, 100L)
    v <- Gen.choose(0, 1000).map(_.toDouble)
  } yield FeatRow(k, ts, created, v)

  private val genCase = for {
    feats <- Gen.listOfN(40, genFeat)
    entities <- Gen.listOfN(15, for {
      k <- Gen.oneOf("a", "b", "c", "d")
      ts <- Gen.choose(0L, 120L)
    } yield (k, ts))
    ttlHours <- Gen.oneOf(None, Some(24L), Some(48L))
  } yield (feats, entities, ttlHours)

  private def t(hours: Long) = new Timestamp(base + hours * 3600 * 1000)

  test("PIT join equals brute-force argmax oracle on random fixtures") {
    val prop = Prop.forAllNoShrink(genCase) { case (feats, entities, ttlHours) =>
      val dir = Files.createTempDirectory("graft_prop").toString + "/f"
      feats.map(f => (f.key, t(f.ts), t(f.created), f.value))
        .toDF("key", "event_ts", "created_ts", "value")
        .write.mode("overwrite").parquet(dir)

      val fs = new FeatureStore(spark, RepoConfig("p"), new InMemoryRegistry)
      fs.applyObjects(Seq(
        Entity("key", Seq("key"), ValueType.STRING),
        FeatureView("fv", Seq("key"), Seq(Feature("value", DoubleType)),
          SparkSource("s", dir, timestampField = "event_ts",
            createdTimestampColumn = Some("created_ts")),
          ttlHours.map(Duration.ofHours))))

      val ent = entities.map { case (k, ts) => (k, t(ts)) }
        .toDF("key", "event_timestamp")
      val got = fs.getHistoricalFeatures(ent, Seq("fv:value")).toDf
        .select("key", "event_timestamp", "fv__value")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), Option(r.get(2))))
        .groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).toSeq).toMap

      // brute-force oracle
      def expected(k: String, ets: Long): Option[Double] = {
        val lower = ttlHours.map(ets - _).getOrElse(Long.MinValue)
        val elig = feats.filter(f =>
          f.key == k && f.ts <= ets && f.ts >= lower)
        if (elig.isEmpty) None
        else Some(elig.maxBy(f => (f.ts, f.created, f.value)).value)
      }

      val countOk = got.values.map(_.size).sum == entities.size
      val valuesOk = entities.distinct.forall { case (k, ts) =>
        val want = expected(k, ts)
        got((k, t(ts))).forall(_ == want)
      }
      countOk && valuesOk
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }

  test("multi-view fold: colliding feature names, distinct join keys and TTLs") {
    // the reference's retrieval spans N feature views with different
    // join keys and TTLs; the retrieval must keep the entity row
    // count and compute each view's argmax INDEPENDENTLY even though
    // every view names its feature identically ("value")
    def genFeatK(pool: Seq[String]): Gen[FeatRow] = for {
      k <- Gen.oneOf(pool)
      ts <- Gen.choose(0L, 100L)
      created <- Gen.choose(0L, 100L)
      v <- Gen.choose(0, 1000).map(_.toDouble)
    } yield FeatRow(k, ts, created, v)
    val genMulti = for {
      f0 <- Gen.listOfN(40, genFeatK(Seq("a", "b", "c")))
      f1 <- Gen.listOfN(40, genFeatK(Seq("a", "b", "c")))
      f2 <- Gen.listOfN(40, genFeatK(Seq("x", "y"))) // entity draws x,y,z: misses happen
      entities <- Gen.listOfN(15, for {
        u <- Gen.oneOf("a", "b", "c", "d")
        it <- Gen.oneOf("x", "y", "z")
        ts <- Gen.choose(0L, 120L)
      } yield (u, it, ts))
    } yield (Seq(f0, f1, f2), entities)
    val ttls: Seq[Option[Long]] = Seq(Some(24L), None, Some(48L))
    val viewKey = Seq("user", "user", "item")

    val prop = Prop.forAllNoShrink(genMulti) { case (featLists, entities) =>
      val dirBase = Files.createTempDirectory("graft_mvprop").toString
      val views = featLists.zipWithIndex.map { case (feats, i) =>
        val dir = s"$dirBase/f$i"
        feats.map(f => (f.key, t(f.ts), t(f.created), f.value))
          .toDF(viewKey(i), "event_ts", "created_ts", "value")
          .write.mode("overwrite").parquet(dir)
        FeatureView(s"fv$i", Seq(viewKey(i)), Seq(Feature("value", DoubleType)),
          SparkSource(s"s$i", dir, timestampField = "event_ts",
            createdTimestampColumn = Some("created_ts")),
          ttls(i).map(Duration.ofHours))
      }
      val fs = new FeatureStore(spark, RepoConfig("p"), new InMemoryRegistry)
      fs.applyObjects(
        Seq(Entity("user", Seq("user"), ValueType.STRING),
          Entity("item", Seq("item"), ValueType.STRING)) ++ views)

      val ent = entities.map { case (u, it, ts) => (u, it, t(ts)) }
        .toDF("user", "item", "event_timestamp")
      val out = fs.getHistoricalFeatures(ent,
          Seq("fv0:value", "fv1:value", "fv2:value")).toDf
        .select("user", "item", "event_timestamp",
          "fv0__value", "fv1__value", "fv2__value")
        .collect()
        .map(r => ((r.getString(0), r.getString(1), r.getTimestamp(2)),
          (0 to 2).map(i => Option(r.get(3 + i))).toSeq))

      def expected(feats: Seq[FeatRow], k: String, ets: Long,
          ttl: Option[Long]): Option[Double] = {
        val lower = ttl.map(ets - _).getOrElse(Long.MinValue)
        val elig = feats.filter(f => f.key == k && f.ts <= ets && f.ts >= lower)
        if (elig.isEmpty) None
        else Some(elig.maxBy(f => (f.ts, f.created, f.value)).value)
      }
      val countOk = out.length == entities.size
      val valuesOk = entities.distinct.forall { case (u, it, ts) =>
        val want = (0 to 2).map { i =>
          expected(featLists(i), if (viewKey(i) == "user") u else it, ts, ttls(i))
        }
        out.filter(_._1 == ((u, it, t(ts)))).forall(_._2 == want)
      }
      countOk && valuesOk
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(result.passed, result.status.toString)
  }

  /** Brute force over one view: the greatest (ts, created, value) among
    * rows with an equal non-null key and a non-null ts in the window. */
  private def asOf(feats: Seq[(Option[Any], Option[Long], Long, Double)],
      key: Option[Any], ets: Long, ttl: Option[Long]): Option[Double] = {
    val lower = ttl.map(ets - _).getOrElse(Long.MinValue)
    val elig = feats.collect {
      case (Some(k), Some(ts), c, v) if key.contains(k) && ts <= ets && ts >= lower =>
        (ts, c, v)
    }
    if (elig.isEmpty) None else Some(elig.max._3)
  }

  private def view(name: String, keys: Seq[String], dir: String,
      ttlHours: Option[Long]) =
    FeatureView(name, keys, Seq(Feature("value", DoubleType)),
      SparkSource(s"${name}_src", dir, timestampField = "event_ts",
        createdTimestampColumn = Some("created_ts")),
      ttlHours.map(Duration.ofHours))

  test("null join keys and null feature timestamps never match") {
    // a window partition groups null keys together, where an equi-join
    // never matches them; a null ts would sort before every entity row
    val genRow = for {
      k <- Gen.frequency(1 -> None, 3 -> Gen.oneOf("a", "b").map(Some(_)))
      ts <- Gen.frequency(1 -> None, 4 -> Gen.choose(0L, 100L).map(Some(_)))
      created <- Gen.choose(0L, 100L)
      v <- Gen.choose(0, 1000).map(_.toDouble)
    } yield (k: Option[Any], ts, created, v)
    val gen = for {
      feats <- Gen.listOfN(30, genRow)
      entities <- Gen.listOfN(12, for {
        k <- Gen.frequency(1 -> None, 3 -> Gen.oneOf("a", "b", "c").map(Some(_)))
        ts <- Gen.choose(0L, 120L)
      } yield (k, ts))
      ttl <- Gen.oneOf(None, Some(24L))
    } yield (feats, entities, ttl)
    val prop = Prop.forAllNoShrink(gen) { case (feats, entities, ttl) =>
      val dir = Files.createTempDirectory("graft_propnull").toString + "/f"
      feats.map { case (k, ts, c, v) =>
        (k.map(_.toString), ts.map(t), t(c), v)
      }.toDF("key", "event_ts", "created_ts", "value")
        .write.mode("overwrite").parquet(dir)
      val fs = new FeatureStore(spark, RepoConfig("p"), new InMemoryRegistry)
      fs.applyObjects(Seq(Entity("key", Seq("key"), ValueType.STRING),
        view("fv", Seq("key"), dir, ttl)))
      val got = fs.getHistoricalFeatures(
          entities.map { case (k, ts) => (k, t(ts)) }.toDF("key", "event_timestamp"),
          Seq("fv:value")).toDf
        .collect().map(r => ((Option(r.getString(0)), r.getTimestamp(1)), Option(r.get(2))))
      got.length == entities.size && got.forall { case ((k, ets), v) =>
        v == asOf(feats, k, (ets.getTime - base) / 3600000L, ttl)
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(result.passed, result.status.toString)
  }

  test("an INT entity key matches a LONG source key by value, and stays INT") {
    // source keys k and k + 2^32 agree in their low 32 bits: a key
    // narrowed to INT instead of widened would match both
    val wide = 1L << 32
    val gen = for {
      feats <- Gen.listOfN(30, for {
        k <- Gen.oneOf(1L, 2L, 1L + wide, 2L + wide)
        ts <- Gen.choose(0L, 100L)
        created <- Gen.choose(0L, 100L)
        v <- Gen.choose(0, 1000).map(_.toDouble)
      } yield (Some(k): Option[Any], Some(ts), created, v))
      entities <- Gen.listOfN(12, for {
        k <- Gen.oneOf(1, 2, 3)
        ts <- Gen.choose(0L, 120L)
      } yield (k, ts))
    } yield (feats, entities)
    val prop = Prop.forAllNoShrink(gen) { case (feats, entities) =>
      val dir = Files.createTempDirectory("graft_propwide").toString + "/f"
      feats.map { case (k, ts, c, v) =>
        (k.get.asInstanceOf[Long], t(ts.get), t(c), v)
      }.toDF("id", "event_ts", "created_ts", "value")
        .write.mode("overwrite").parquet(dir)
      val fs = new FeatureStore(spark, RepoConfig("p"), new InMemoryRegistry)
      fs.applyObjects(Seq(Entity("id", Seq("id"), ValueType.INT64),
        view("fv", Seq("id"), dir, None)))
      val out = fs.getHistoricalFeatures(
        entities.map { case (k, ts) => (k, t(ts)) }.toDF("id", "event_timestamp"),
        Seq("fv:value")).toDf
      val got = out.collect().map(r => ((r.getInt(0), r.getTimestamp(1)), Option(r.get(2))))
      out.schema("id").dataType == IntegerType &&
        got.length == entities.size && got.forall { case ((k, ets), v) =>
          v == asOf(feats, Some(k.toLong), (ets.getTime - base) / 3600000L, None)
        }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(result.passed, result.status.toString)
  }

  /** Feature rows for `n` views over the key pools, one row list each. */
  private def genViews(pools: Seq[Seq[String]]) =
    Gen.sequence[Seq[Seq[(Option[Any], Option[Long], Long, Double)]],
        Seq[(Option[Any], Option[Long], Long, Double)]](pools.map { pool =>
      Gen.listOfN(25, for {
        k <- Gen.oneOf(pool)
        ts <- Gen.choose(0L, 100L)
        created <- Gen.choose(0L, 100L)
        v <- Gen.choose(0, 1000).map(_.toDouble)
      } yield (Some(k): Option[Any], Some(ts), created, v))
    })

  test("views on the same keys with different TTLs each apply their own") {
    val ttls = Seq(Some(12L), Some(48L), None, Some(1L))
    val gen = for {
      featLists <- genViews(ttls.map(_ => Seq("a", "b")))
      entities <- Gen.listOfN(12, for {
        k <- Gen.oneOf("a", "b", "c")
        ts <- Gen.choose(0L, 120L)
      } yield (k, ts))
    } yield (featLists, entities)
    val prop = Prop.forAllNoShrink(gen) { case (featLists, entities) =>
      val base0 = Files.createTempDirectory("graft_propttl").toString
      val views = featLists.zipWithIndex.map { case (feats, i) =>
        val dir = s"$base0/f$i"
        feats.map { case (k, ts, c, v) => (k.get.toString, t(ts.get), t(c), v) }
          .toDF("key", "event_ts", "created_ts", "value")
          .write.mode("overwrite").parquet(dir)
        view(s"fv$i", Seq("key"), dir, ttls(i))
      }
      val fs = new FeatureStore(spark, RepoConfig("p"), new InMemoryRegistry)
      fs.applyObjects(Entity("key", Seq("key"), ValueType.STRING) +: views)
      val got = fs.getHistoricalFeatures(
          entities.map { case (k, ts) => (k, t(ts)) }.toDF("key", "event_timestamp"),
          ttls.indices.map(i => s"fv$i:value")).toDf
        .collect().map(r => (r.getString(0), r.getTimestamp(1),
          ttls.indices.map(i => Option(r.get(2 + i)))))
      got.length == entities.size && got.forall { case (k, ets, vs) =>
        val h = (ets.getTime - base) / 3600000L
        vs == ttls.indices.map(i => asOf(featLists(i), Some(k), h, ttls(i)))
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(result.passed, result.status.toString)
  }

  test("key groups chain in any request order and keep the join fold's columns") {
    // five views in three key groups, interleaved in request order: each
    // group's scan takes the previous group's output as its entity side,
    // and the extra `tag` column and duplicate rows ride through
    val keys = Seq(Seq("user"), Seq("item"), Seq("user", "item"), Seq("user"), Seq("item"))
    val ttls = Seq(Some(24L), None, Some(48L), None, Some(12L))
    val gen = for {
      featLists <- genViews(keys.map {
        case Seq("user") => Seq("a", "b")
        case Seq("item") => Seq("x", "y")
        case _ => Seq("a|x", "b|y", "a|y")
      })
      entities <- Gen.listOfN(12, for {
        u <- Gen.oneOf("a", "b", "c")
        it <- Gen.oneOf("x", "y", "z")
        ts <- Gen.choose(0L, 120L)
        tag <- Gen.oneOf("p", "q")
      } yield (u, it, ts, tag))
    } yield (featLists, entities)
    val prop = Prop.forAllNoShrink(gen) { case (featLists, entities) =>
      val base0 = Files.createTempDirectory("graft_propchain").toString
      val views = featLists.zipWithIndex.map { case (feats, i) =>
        val dir = s"$base0/f$i"
        feats.map { case (k, ts, c, v) =>
          val parts = k.get.toString.split('|')
          (parts.head, parts.last, t(ts.get), t(c), v)
        }.toDF("user", "item", "event_ts", "created_ts", "value")
          .select((keys(i) ++ Seq("event_ts", "created_ts", "value")).map(col): _*)
          .write.mode("overwrite").parquet(dir)
        view(s"fv$i", keys(i), dir, ttls(i))
      }
      val fs = new FeatureStore(spark, RepoConfig("p"), new InMemoryRegistry)
      fs.applyObjects(Seq(Entity("user", Seq("user"), ValueType.STRING),
        Entity("item", Seq("item"), ValueType.STRING)) ++ views)
      val out = fs.getHistoricalFeatures(
        entities.map { case (u, it, ts, tag) => (u, it, t(ts), tag) }
          .toDF("user", "item", "event_timestamp", "tag"),
        keys.indices.map(i => s"fv$i:value")).toDf
      // the column order of a per-view LEFT JOIN ... USING fold
      val columnsOk = out.columns.toSeq == Seq("item", "event_timestamp", "user",
        "tag", "fv0__value", "fv1__value", "fv2__value", "fv3__value", "fv4__value")
      val got = out.collect().map { r =>
        (r.getAs[String]("user"), r.getAs[String]("item"),
          r.getAs[Timestamp]("event_timestamp"), r.getAs[String]("tag"),
          keys.indices.map(i => Option(r.get(r.fieldIndex(s"fv${i}__value")))))
      }
      val rowsOk = got.map(g => (g._1, g._2, g._3, g._4)).sortBy(_.toString).toSeq ==
        entities.map { case (u, it, ts, tag) => (u, it, t(ts), tag) }.sortBy(_.toString)
      columnsOk && rowsOk && got.forall { case (u, it, ets, _, vs) =>
        val h = (ets.getTime - base) / 3600000L
        vs == keys.indices.map { i =>
          val k = keys(i) match {
            case Seq("user") => u
            case Seq("item") => it
            case _ => s"$u|$it"
          }
          asOf(featLists(i), Some(k), h, ttls(i))
        }
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, result.status.toString)
  }

  test("q06 and q06c keep the join fold's result schema") {
    def field(name: String, dt: DataType) = StructField(name, dt, nullable = true)
    assert(graft.Queries.pitJoin(spark, sf0001).schema === StructType(Seq(
      field("user_id", LongType), field("event_timestamp", TimestampType),
      field("events_fv__value", DoubleType),
      field("events_fv__event_type", StringType))))
    assert(graft.Queries.pitMultiView(spark, sf0001).schema === StructType(Seq(
      field("o_custkey", LongType), field("event_timestamp", TimestampType),
      field("user_id", LongType), field("events_fv__value", DoubleType),
      field("events_fv__event_type", StringType),
      field("orders_fv__o_totalprice", DoubleType),
      field("orders_fv__o_orderstatus", StringType))))
  }
}
