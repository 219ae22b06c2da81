package graft

/** Catalog-wide sanity: every query in the driver contract runs at
  * sf0.001 and returns rows (candidate-pair queries may legitimately be
  * empty on the dup-free synthetic corpus), and `entry` works on a
  * vanilla session the way the driver's smoke check invokes it.
  */
class QueriesSpec extends SparkSpec {
  import spark.implicits._

  private val mayBeEmpty = Set("q17_minhash_lsh", "q21_embedding_dedup")

  test("every catalog query executes at sf0.001") {
    val counts = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf0001).count()
    }
    val unexpected = counts.filter { case (n, c) => c == 0 && !mayBeEmpty(n) }
    assert(unexpected.isEmpty, s"empty results: $unexpected")
    assert(counts.size === SparkEntry.queries.size)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
    // the contract maps keep the last of a duplicated name, so count on
    // the catalogue lists themselves
    val names = SparkEntry.catalog.map(_.name)
    val twice = names.diff(names.distinct)
    assert(twice.isEmpty, s"names listed twice: $twice")
    assert(names.size === 263)
    // an oracle val declared below its object's `catalog` is still null
    // when the catalogue is built
    val blank = SparkEntry.catalog
      .filter(q => q.oracle == null || q.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"null or blank oracles: $blank")
  }

  test("entry returns rows on the smoke fixture (driver contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q177b KMV column stats: low-card columns exact, high-card within estimator error of exact NDV") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val est = Queries.columnStatsSketch(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(5)))).toMap
    val o = Tables.load(spark, sf001, "orders")
    val exact = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority").map { c =>
      c -> o.agg(countDistinct(col(c))).head().getLong(0)
    }.toMap
    // the inherent threshold: columns with < 64 distinct hashes keep
    // them all and report EXACTLY
    Seq("o_orderstatus", "o_orderpriority").foreach { c =>
      assert(est(c)._1 < 64 && est(c)._2 === exact(c).toDouble,
        s"$c should be exact: ${est(c)} vs ${exact(c)}")
    }
    // high-card columns: k=64 KMV has sd ~ 1/sqrt(k-2) = 12.7%; gate at
    // ~3 sigma so estimator noise passes and a broken sketch fails
    Seq("o_orderkey", "o_custkey").foreach { c =>
      val rel = math.abs(est(c)._2 - exact(c)) / exact(c)
      assert(est(c)._1 === 64L && rel <= 0.38,
        s"$c rel-error $rel too high: est=${est(c)._2} exact=${exact(c)}")
    }
  }

  test("two-proportion z matches an independent driver-side computation") {
    // planted fixture: 40 users, one event each, every 5th converts —
    // the sf fixtures are degenerate here (every user purchases, so
    // the pooled rate is 1 and z is correctly NULL-guarded)
    val dir = java.nio.file.Files.createTempDirectory("zprop").toString
    val rows = (100L to 139L).map(u =>
      (1000L + u, u * 3600000000000L, u,
        if (u % 5 == 0) "purchase" else "view", 1.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Queries.twoProportionZ(spark, dir).head()
    val (n1, x1, n2, x2) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // recompute the arm split and conversions independently of Spark
    val md = java.security.MessageDigest.getInstance("MD5")
    def armA(uid: Long): Boolean = {
      val hex = md.digest(uid.toString.getBytes("UTF-8"))
        .map(b => "%02x".format(b & 0xff)).mkString
      Integer.parseInt(hex.substring(0, 1), 16) < 8
    }
    val users = (100L to 139L).map(u => (armA(u), u % 5 == 0))
    assert(n1 === users.count(_._1).toLong)
    assert(x1 === users.count(t => t._1 && t._2).toLong)
    assert(n2 === users.count(!_._1).toLong)
    assert(x2 === users.count(t => !t._1 && t._2).toLong)
    assert(n1 + n2 === 40L && x1 + x2 === 8L)
    val (p1, p2) = (x1.toDouble / n1, x2.toDouble / n2)
    val pp = (x1 + x2).toDouble / (n1 + n2)
    val want = (p1 - p2) /
      math.sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2))
    assert(r.getDouble(4) === p1 && r.getDouble(5) === p2)
    assert(math.abs(r.getDouble(6) - want) < 1e-12)
  }

  test("dp thresholds: exact inverse-CDF table — symmetric, monotone, total mass 2^60") {
    val t = Queries.DpThresholds
    assert(t.map(_._1) === (-8 to 8))
    assert(t.map(_._2) === t.map(_._2).sorted, "thresholds must be monotone")
    assert(t.last._2 === (1L << 60), "the CDF must end exactly at 2^60")
    // mass of k and −k equal: threshold GAPS are symmetric around 0
    val gaps = t.map(_._2).zip(0L +: t.map(_._2).init).map { case (a, b) => a - b }
    val mass = (-8 to 8).zip(gaps).toMap
    for (k <- 1 to 8)
      assert(math.abs(mass(k) - mass(-k)) <= 1L,
        s"±$k mass asymmetric beyond the floor ulp: ${mass(k)} vs ${mass(-k)}")
    // mass halves per step (floor rounding aside)
    for (k <- 1 to 7)
      assert(math.abs(mass(k) - 2 * mass(k + 1)) <= 2L, s"decay broken at $k")
    // the released noise stays inside the truncation bound on real data
    val out = Queries.dpNoisyCounts(spark, sf0001).collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val noise = r.getLong(3)
      noise >= -8L && noise <= 8L &&
        r.getLong(4) === math.max(r.getLong(2) + noise, 0L)
    })
  }
}
