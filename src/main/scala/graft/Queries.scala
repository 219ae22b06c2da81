package graft

import graft.api.{FeatureStore, RepoConfig}
import graft.core._
import graft.online.{InMemoryOnlineStore, Materializer}
import graft.transform.{Temporal, Transforms}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Rounding.{pround, proundSql}

import java.time.Duration

/** The operator catalog behind [[SparkEntry.queries]]: one named query per
  * implemented operator from SURVEY.md §2, each paired in [[catalog]] with
  * ANSI SQL the driver replays in DuckDB over the same parquet tables.
  *
  * Oracle-parity conventions (see TESTDATA.md; events.ts is parquet
  * timestamp[ns] which Spark truncates to µs while DuckDB keeps ns — so
  * every oracle casts ts to µs TIMESTAMP before comparing/ordering):
  *   - fp aggregates are rounded on both sides (bitwise-stable),
  *   - all computed columns carry identical aliases on both sides,
  *   - ties are pinned with explicit secondary sort keys.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Events as a registered time-series source (ns → µs normalization via
    * [[graft.sources.SourceReader.NanosColumnsOption]]). */
  private def eventsSource(dir: String): SparkSource =
    SparkSource("events_src", s"$dir/events.parquet", timestampField = "ts",
      options = Map(graft.sources.SourceReader.NanosColumnsOption -> "ts"))

  // ---------------------------------------------------------------- §2.3/2.4
  /** A1/F4 flagship: hourly per-user event stats (reference
    * `chicago_taxi_trips_hourly_gold.ipynb:78-88`). */
  def hourlyAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), Transforms.hourBucket(col("ts")).as("event_timestamp"))
      .agg(
        pround(avg("value"), 4).as("avg_value"),
        pround(sum("value"), 4).as("sum_value"),
        pround(min("value"), 4).as("min_value"),
        pround(max("value"), 4).as("max_value"),
        count(lit(1)).as("n_events"))

  val hourlyAggSql: String =
    """SELECT user_id,
      |       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS event_timestamp,
      |       floor(avg(value) * 10000.0 + 0.5) / 10000.0 AS avg_value,
      |       floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS sum_value,
      |       floor(min(value) * 10000.0 + 0.5) / 10000.0 AS min_value,
      |       floor(max(value) * 10000.0 + 0.5) / 10000.0 AS max_value,
      |       count(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- §2.2
  /** P1/P5/P6/P7: projection + conjunctive filters, pushed to the scan. */
  def filterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1997-12-31 00:00:00"))
        && col("l_discount") > 0.05 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))

  val filterProjectSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1997-12-31 00:00:00'
      |  AND l_discount > 0.05 AND l_returnflag = 'R'""".stripMargin

  // ---------------------------------------------------------------- §2.6
  /** Multi-way equi join + agg: revenue per nation (J-family; broadcast
    * of the small dims is Catalyst/AQE's choice, verified in BenchSpec). */
  def joinAgg(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    val nation = t(s, dir, "nation")
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        pround(sum("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  val joinAggSql: String =
    """SELECT n_name, floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS revenue, count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  // ---------------------------------------------------------------- §2.2
  /** P8/P9/P10/P11: CASE WHEN recode + coalesce + cast + literal
    * (reference `chicago_weather_silver.py:20-30`,
    * `chicago_weather_hourly_fs.py:36-37`). */
  def caseWhen(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      Transforms.recode(col("event_type"),
        Map("purchase" -> "conversion", "signup" -> "conversion", "error" -> "bad"),
        lit("other")).as("category"),
      Transforms.nullDefault(nullif(col("event_type"), lit("error")), "unknown")
        .as("filled_type"),
      floor(col("value")).cast("long").as("value_floor"),
      lit("graft").as("tag"))

  val caseWhenSql: String =
    """SELECT event_id,
      |       CASE WHEN event_type IN ('purchase','signup') THEN 'conversion'
      |            WHEN event_type = 'error' THEN 'bad'
      |            ELSE 'other' END AS category,
      |       coalesce(nullif(event_type, 'error'), 'unknown') AS filled_type,
      |       CAST(floor(value) AS BIGINT) AS value_floor,
      |       'graft' AS tag
      |FROM events""".stripMargin

  // ---------------------------------------------------------------- §2.5
  /** W1: latest-row ranking — ROW_NUMBER over (key ORDER BY ts DESC) = 1
    * (reference `CASE.MD:452-463`). Tie-pinned by unique event_id. */
  def windowLatest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts").as("event_timestamp"),
        col("event_type"), col("value"))
  }

  val windowLatestSql: String =
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS event_timestamp,
      |       event_type, value
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- §2.6/2.8
  /** M4/J1-J4: the point-in-time join, end-to-end through the
    * FeatureStore facade (registry resolve → PIT retrieval). Entity grid:
    * every user × four weekly cut-off timestamps; features from `events`
    * with a 7-day TTL.
    */
  val pitCutoffs: Seq[String] =
    Seq("2024-01-08 00:00:00", "2024-01-15 00:00:00",
      "2024-01-22 00:00:00", "2024-01-29 00:00:00")

  def pitFeatureStore(s: SparkSession, dir: String): FeatureStore = {
    val fs = new FeatureStore(s, RepoConfig("graft_demo"), new InMemoryRegistry)
    fs.applyObjects(Seq(
      Entity("user", Seq("user_id"), ValueType.INT64),
      FeatureView(
        name = "events_fv",
        entities = Seq("user"),
        features = Seq(Feature("value", org.apache.spark.sql.types.DoubleType),
          Feature("event_type", org.apache.spark.sql.types.StringType)),
        source = eventsSource(dir),
        ttl = Some(Duration.ofDays(7)))))
    fs
  }

  def pitEntityGrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events").select(col("user_id")).distinct()
      .crossJoin(pitCutoffs.toDF("cutoff")
        .select(to_timestamp(col("cutoff")).as("event_timestamp")))
  }

  def pitJoin(s: SparkSession, dir: String): DataFrame =
    pitFeatureStore(s, dir)
      .getHistoricalFeatures(
        pitEntityGrid(s, dir),
        Seq("events_fv:value", "events_fv:event_type"))
      .toDf

  val pitJoinSql: String =
    """WITH entity AS (
      |  SELECT user_id, event_timestamp
      |  FROM (SELECT DISTINCT user_id FROM events)
      |  CROSS JOIN (VALUES (TIMESTAMP '2024-01-08 00:00:00'),
      |                     (TIMESTAMP '2024-01-15 00:00:00'),
      |                     (TIMESTAMP '2024-01-22 00:00:00'),
      |                     (TIMESTAMP '2024-01-29 00:00:00')) g(event_timestamp)
      |), ranked AS (
      |  SELECT e.user_id, e.event_timestamp, f.value, f.event_type,
      |         row_number() OVER (
      |           PARTITION BY e.user_id, e.event_timestamp
      |           ORDER BY CAST(f.ts AS TIMESTAMP) DESC, f.value DESC,
      |                    f.event_type DESC) AS rn
      |  FROM entity e
      |  JOIN events f
      |    ON f.user_id = e.user_id
      |   AND CAST(f.ts AS TIMESTAMP) <= e.event_timestamp
      |   AND CAST(f.ts AS TIMESTAMP) >= e.event_timestamp - INTERVAL 7 DAY
      |), cleaned AS (SELECT * FROM ranked WHERE rn = 1)
      |SELECT e.user_id, e.event_timestamp,
      |       c.value AS events_fv__value,
      |       c.event_type AS events_fv__event_type
      |FROM entity e
      |LEFT JOIN cleaned c
      |  ON c.user_id = e.user_id AND c.event_timestamp = e.event_timestamp""".stripMargin

  /** q06c: MULTI-VIEW PIT retrieval (VERDICT r10 #4) — the flagship
    * API in its reference shape (`CASE.MD:486-501`): ONE
    * `getHistoricalFeatures` call retrieving from TWO registered views
    * with DIFFERENT join keys and DIFFERENT TTLs — `events_fv` on
    * `user_id` (7-day TTL, 2024 events) and `orders_fv` on `o_custkey`
    * (9000-day TTL reaching back to the 1995-2001 order history). The
    * entity grid carries both keys; each key group is its own sorted
    * scan with its own as-of window, the second chained on the first's
    * output, and the per-view column prefixes keep colliding feature
    * names apart. Oracle: two
    * independent ranked-CTE chains + two LEFT JOINs (the
    * `CASE.MD:339-501` template).
    */
  def pitMultiView(s: SparkSession, dir: String): DataFrame = {
    val fs = new FeatureStore(s, RepoConfig("graft_demo"), new InMemoryRegistry)
    fs.applyObjects(Seq(
      Entity("user", Seq("user_id"), ValueType.INT64),
      Entity("customer", Seq("o_custkey"), ValueType.INT64),
      FeatureView(
        name = "events_fv",
        entities = Seq("user"),
        features = Seq(Feature("value", org.apache.spark.sql.types.DoubleType),
          Feature("event_type", org.apache.spark.sql.types.StringType)),
        source = eventsSource(dir),
        ttl = Some(Duration.ofDays(7))),
      FeatureView(
        name = "orders_fv",
        entities = Seq("customer"),
        features = Seq(Feature("o_totalprice", org.apache.spark.sql.types.DoubleType),
          Feature("o_orderstatus", org.apache.spark.sql.types.StringType)),
        source = SparkSource("orders_src", s"$dir/orders.parquet",
          timestampField = "o_orderdate"),
        ttl = Some(Duration.ofDays(9000)))))
    val entity = pitEntityGrid(s, dir)
      .withColumn("o_custkey", col("user_id"))
    fs.getHistoricalFeatures(entity,
      Seq("events_fv:value", "events_fv:event_type",
        "orders_fv:o_totalprice", "orders_fv:o_orderstatus")).toDf
  }

  val pitMultiViewSql: String =
    """WITH entity AS (
      |  SELECT user_id, user_id AS o_custkey, event_timestamp
      |  FROM (SELECT DISTINCT user_id FROM events)
      |  CROSS JOIN (VALUES (TIMESTAMP '2024-01-08 00:00:00'),
      |                     (TIMESTAMP '2024-01-15 00:00:00'),
      |                     (TIMESTAMP '2024-01-22 00:00:00'),
      |                     (TIMESTAMP '2024-01-29 00:00:00')) g(event_timestamp)
      |), ranked_e AS (
      |  SELECT e.user_id, e.event_timestamp, f.value, f.event_type,
      |         row_number() OVER (
      |           PARTITION BY e.user_id, e.event_timestamp
      |           ORDER BY CAST(f.ts AS TIMESTAMP) DESC, f.value DESC,
      |                    f.event_type DESC) AS rn
      |  FROM entity e
      |  JOIN events f
      |    ON f.user_id = e.user_id
      |   AND CAST(f.ts AS TIMESTAMP) <= e.event_timestamp
      |   AND CAST(f.ts AS TIMESTAMP) >= e.event_timestamp - INTERVAL 7 DAY
      |), cleaned_e AS (SELECT * FROM ranked_e WHERE rn = 1),
      |ranked_o AS (
      |  SELECT e.o_custkey, e.event_timestamp, o.o_totalprice, o.o_orderstatus,
      |         row_number() OVER (
      |           PARTITION BY e.o_custkey, e.event_timestamp
      |           ORDER BY o.o_orderdate DESC, o.o_totalprice DESC,
      |                    o.o_orderstatus DESC) AS rn
      |  FROM (SELECT DISTINCT o_custkey, event_timestamp FROM entity) e
      |  JOIN orders o
      |    ON o.o_custkey = e.o_custkey
      |   AND o.o_orderdate <= e.event_timestamp
      |   AND o.o_orderdate >= e.event_timestamp - INTERVAL 9000 DAY
      |), cleaned_o AS (SELECT * FROM ranked_o WHERE rn = 1)
      |SELECT e.user_id, e.o_custkey, e.event_timestamp,
      |       ce.value AS events_fv__value,
      |       ce.event_type AS events_fv__event_type,
      |       co.o_totalprice AS orders_fv__o_totalprice,
      |       co.o_orderstatus AS orders_fv__o_orderstatus
      |FROM entity e
      |LEFT JOIN cleaned_e ce
      |  ON ce.user_id = e.user_id AND ce.event_timestamp = e.event_timestamp
      |LEFT JOIN cleaned_o co
      |  ON co.o_custkey = e.o_custkey AND co.event_timestamp = e.event_timestamp""".stripMargin

  /** q06d: multi-view PIT with a TTL-LESS view — the flagship's
    * hardest shape: ONE `getHistoricalFeatures` call over `events_fv`
    * with no TTL (unbounded history: a join-based as-of retrieval
    * matches |history per key| × |cutoffs per key| rows) and the TTL'd
    * `orders_fv` (9000 days). In the sorted scan a TTL-less view costs
    * what a TTL'd one does: each history row passes once through its
    * key's sort. The query keeps the name it had when it exercised the
    * retired coarse-bucket pre-reduction. The ORACLE is the naive
    * formulation — the events leg joins ALL eligible history.
    */
  def pitMultiViewTtlLess(s: SparkSession, dir: String): DataFrame = {
    val fs = new FeatureStore(s, RepoConfig("graft_demo"), new InMemoryRegistry)
    fs.applyObjects(Seq(
      Entity("user", Seq("user_id"), ValueType.INT64),
      Entity("customer", Seq("o_custkey"), ValueType.INT64),
      FeatureView(
        name = "events_fv",
        entities = Seq("user"),
        features = Seq(Feature("value", org.apache.spark.sql.types.DoubleType),
          Feature("event_type", org.apache.spark.sql.types.StringType)),
        source = eventsSource(dir)), // NO ttl: unbounded as-of history
      FeatureView(
        name = "orders_fv",
        entities = Seq("customer"),
        features = Seq(Feature("o_totalprice", org.apache.spark.sql.types.DoubleType),
          Feature("o_orderstatus", org.apache.spark.sql.types.StringType)),
        source = SparkSource("orders_src", s"$dir/orders.parquet",
          timestampField = "o_orderdate"),
        ttl = Some(Duration.ofDays(9000)))))
    val entity = pitEntityGrid(s, dir)
      .withColumn("o_custkey", col("user_id"))
    fs.getHistoricalFeatures(entity,
      Seq("events_fv:value", "events_fv:event_type",
        "orders_fv:o_totalprice", "orders_fv:o_orderstatus")).toDf
  }

  val pitMultiViewTtlLessSql: String =
    """WITH entity AS (
      |  SELECT user_id, user_id AS o_custkey, event_timestamp
      |  FROM (SELECT DISTINCT user_id FROM events)
      |  CROSS JOIN (VALUES (TIMESTAMP '2024-01-08 00:00:00'),
      |                     (TIMESTAMP '2024-01-15 00:00:00'),
      |                     (TIMESTAMP '2024-01-22 00:00:00'),
      |                     (TIMESTAMP '2024-01-29 00:00:00')) g(event_timestamp)
      |), ranked_e AS (
      |  SELECT e.user_id, e.event_timestamp, f.value, f.event_type,
      |         row_number() OVER (
      |           PARTITION BY e.user_id, e.event_timestamp
      |           ORDER BY CAST(f.ts AS TIMESTAMP) DESC, f.value DESC,
      |                    f.event_type DESC) AS rn
      |  FROM entity e
      |  JOIN events f
      |    ON f.user_id = e.user_id
      |   AND CAST(f.ts AS TIMESTAMP) <= e.event_timestamp
      |), cleaned_e AS (SELECT * FROM ranked_e WHERE rn = 1),
      |ranked_o AS (
      |  SELECT e.o_custkey, e.event_timestamp, o.o_totalprice, o.o_orderstatus,
      |         row_number() OVER (
      |           PARTITION BY e.o_custkey, e.event_timestamp
      |           ORDER BY o.o_orderdate DESC, o.o_totalprice DESC,
      |                    o.o_orderstatus DESC) AS rn
      |  FROM (SELECT DISTINCT o_custkey, event_timestamp FROM entity) e
      |  JOIN orders o
      |    ON o.o_custkey = e.o_custkey
      |   AND o.o_orderdate <= e.event_timestamp
      |   AND o.o_orderdate >= e.event_timestamp - INTERVAL 9000 DAY
      |), cleaned_o AS (SELECT * FROM ranked_o WHERE rn = 1)
      |SELECT e.user_id, e.o_custkey, e.event_timestamp,
      |       ce.value AS events_fv__value,
      |       ce.event_type AS events_fv__event_type,
      |       co.o_totalprice AS orders_fv__o_totalprice,
      |       co.o_orderstatus AS orders_fv__o_orderstatus
      |FROM entity e
      |LEFT JOIN cleaned_e ce
      |  ON ce.user_id = e.user_id AND ce.event_timestamp = e.event_timestamp
      |LEFT JOIN cleaned_o co
      |  ON co.o_custkey = e.o_custkey AND co.event_timestamp = e.event_timestamp""".stripMargin

  /** Dense PIT: one entity row per event (self as-of enrichment, the
    * realistic retrieval shape — every training example asks for features
    * at its own timestamp). 100k entity rows at sf0.1 with a 3-day TTL —
    * the PIT stress query for the bench.
    */
  def pitDense(s: SparkSession, dir: String): DataFrame = {
    val fs = new FeatureStore(s, RepoConfig("graft_demo"), new InMemoryRegistry)
    fs.applyObjects(Seq(
      Entity("user", Seq("user_id"), ValueType.INT64),
      FeatureView(
        name = "events_fv",
        entities = Seq("user"),
        features = Seq(Feature("value", org.apache.spark.sql.types.DoubleType)),
        source = eventsSource(dir),
        ttl = Some(Duration.ofDays(3)))))
    val entity = t(s, dir, "events")
      .select(col("user_id"), col("ts").as("event_timestamp"))
      .distinct()
    fs.getHistoricalFeatures(entity, Seq("events_fv:value")).toDf
  }

  val pitDenseSql: String =
    """WITH entity AS (
      |  SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS event_timestamp
      |  FROM events),
      |ranked AS (
      |  SELECT e.user_id, e.event_timestamp, f.value,
      |         row_number() OVER (
      |           PARTITION BY e.user_id, e.event_timestamp
      |           ORDER BY CAST(f.ts AS TIMESTAMP) DESC, f.value DESC) AS rn
      |  FROM entity e
      |  JOIN events f
      |    ON f.user_id = e.user_id
      |   AND CAST(f.ts AS TIMESTAMP) <= e.event_timestamp
      |   AND CAST(f.ts AS TIMESTAMP) >= e.event_timestamp - INTERVAL 3 DAY
      |), cleaned AS (SELECT * FROM ranked WHERE rn = 1)
      |SELECT e.user_id, e.event_timestamp, c.value AS events_fv__value
      |FROM entity e
      |LEFT JOIN cleaned c
      |  ON c.user_id = e.user_id AND c.event_timestamp = e.event_timestamp""".stripMargin

  // ---------------------------------------------------------------- §2.8 M5
  /** A7/M5: materialization's latest-per-key reduction (argmax by
    * (ts, features) struct — same engine as the PIT join). */
  def materializeLatest(s: SparkSession, dir: String): DataFrame = {
    val fv = FeatureView(
      name = "events_fv",
      entities = Seq("user"),
      features = Seq(Feature("value", org.apache.spark.sql.types.DoubleType),
        Feature("event_type", org.apache.spark.sql.types.StringType)),
      source = eventsSource(dir))
    Materializer.materialize(
      s, new InMemoryOnlineStore, fv, Seq("user_id"),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-31 23:59:59"))
  }

  val materializeLatestSql: String =
    """SELECT user_id, CAST(ts AS TIMESTAMP) AS event_timestamp, value, event_type
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |        ORDER BY CAST(ts AS TIMESTAMP) DESC, value DESC, event_type DESC) AS rn
      |      FROM events
      |      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 00:00:00'
      |        AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-31 23:59:59')
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- §2.4
  /** A5/A6: distinct / dropDuplicates. */
  def distinctPairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id"), col("event_type")).distinct()

  val distinctPairsSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** A2: collect_set, order-normalized for comparability. */
  def collectSet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
        countDistinct(col("event_type")).as("n_types"))

  val collectSetSql: String =
    """SELECT user_id,
      |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
      |       count(DISTINCT event_type) AS n_types
      |FROM events GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- §2.2
  /** P13: JSON parse of the props payload with a declared schema. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k_value",
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .groupBy(col("user_id"))
      .agg(sum("k_value").as("sum_k"), count(lit(1)).as("n"))

  // DuckDB sum(INTEGER) yields HUGEINT — cast back to BIGINT to match
  // Spark's sum(INT) → BIGINT (the CLAUDE.md type-parity rule).
  val jsonExtractSql: String =
    """SELECT user_id,
      |       CAST(sum(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INTEGER)) AS BIGINT) AS sum_k,
      |       count(*) AS n
      |FROM events GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------- §2.2
  /** P12-family generator: explode tokens, global term frequencies. */
  def explodeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))

  val explodeTokensSql: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |      FROM documents)
      |GROUP BY token""".stripMargin

  // ---------------------------------------------------------------- §2.7
  /** O1/O2: global sort + limit with pinned tiebreak. */
  def topN(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val topNSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- §2.3
  /** F5-F8: surrogate key minting — concat of key + epoch of hour bucket
    * (reference `chicago_weather_hourly_fs.py:45-53`). */
  def surrogateKey(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        concat_ws("_", col("user_id").cast("string"),
          unix_timestamp(Transforms.hourBucket(col("ts"))).cast("string"))
          .as("read_id"),
        col("event_id"))

  val surrogateKeySql: String =
    """SELECT CAST(user_id AS VARCHAR) || '_' ||
      |       CAST(CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
      |            AS VARCHAR) AS read_id,
      |       event_id
      |FROM events""".stripMargin

  // ---------------------------------------------------------------- §2.9
  /** A2+U1+F5/F6 chained — the full weather-gold shape (reference
    * `chicago_weather_hourly_fs.py:22-53`): keyed hourly agg with a
    * collect_set, priority collapse of the set, and the surrogate
    * read_id minted from the hour bucket's epoch. Runs on the events
    * fixture with event_type recoded to the precipitation labels.
    */
  def weatherGoldChain(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("value"),
        Transforms.recode(col("event_type"),
          Map("purchase" -> "rain", "error" -> "snow"), lit("no")).as("ptype"))
      .groupBy(col("user_id"), Transforms.hourBucket(col("ts")).as("event_timestamp"))
      .agg(
        pround(avg("value"), 4).as("avg_value"),
        collect_set(col("ptype")).as("pset"),
        pround(sum("value"), 4).as("total_value"))
      .select(
        col("user_id"), col("event_timestamp"), col("avg_value"),
        Transforms.precipitationPriority(col("pset")).as("precipitation"),
        col("total_value"),
        concat_ws("_", col("user_id").cast("string"),
          unix_timestamp(col("event_timestamp")).cast("string")).as("read_id"))

  val weatherGoldChainSql: String =
    """SELECT user_id,
      |       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS event_timestamp,
      |       floor(avg(value) * 10000.0 + 0.5) / 10000.0 AS avg_value,
      |       CASE WHEN bool_or(event_type = 'error') THEN 'snow'
      |            WHEN bool_or(event_type = 'purchase') THEN 'rain'
      |            ELSE 'no' END AS precipitation,
      |       floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS total_value,
      |       CAST(user_id AS VARCHAR) || '_' ||
      |       CAST(CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
      |            AS VARCHAR) AS read_id
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- §2.2
  /** P12: dynamic map flatten — schema-on-read pivot of the props JSON
    * parsed as map<string,string> into top-level columns (reference
    * `chicago_taxi_trips_silver.ipynb:38-47`). One driver-side
    * key-discovery pass, then a pure projection.
    */
  def mapFlatten(s: SparkSession, dir: String): DataFrame =
    Transforms.flattenMapColumn(
      t(s, dir, "events").select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)).as("props_map")),
      "props_map", keep = Seq("event_id"))

  val mapFlattenSql: String =
    """SELECT event_id, json_extract_string(props, '$.k') AS k FROM events""".stripMargin

  // ---------------------------------------------------------------- §2.1
  /** S6: CSV-with-header round-trip through the registry-described scan —
    * write a projection of events as CSV, read it back via
    * [[graft.sources.SourceReader]] (`fileFormat = "csv"`, reference
    * `trip_stats_fv.ipynb:165`), aggregate. Casts are explicit because a
    * header-only CSV read is untyped.
    */
  def csvRoundTrip(s: SparkSession, dir: String): DataFrame = {
    // pid-scoped so concurrent JVMs (Verify vs Bench) never share a dir
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_csv_${ProcessHandle.current.pid}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")).getPath
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").as("event_timestamp"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    graft.sources.SourceReader
      .read(s, SparkSource("events_csv", tmp, fileFormat = "csv"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id").cast("long")).as("sum_user"))
  }

  val csvRoundTripSql: String =
    """SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_user
      |FROM events GROUP BY 1""".stripMargin

  /** S5: Avro round-trip — write a typed projection of events as Avro
    * container files (executor-parallel [[graft.sources.AvroWriter]],
    * avro-core only), read back through the registry-described scan
    * (`fileFormat = "avro"` → [[graft.sources.AvroReader]], reference
    * `chicago_weather_bronze.py:10-12,38-40`), aggregate. Timestamps
    * travel as long micros, the capture-envelope convention.
    */
  def avroRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_avro_${ProcessHandle.current.pid}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")).getPath
    graft.sources.AvroWriter.write(
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("event_timestamp")),
      tmp)
    graft.sources.SourceReader
      .read(s, SparkSource("events_avro", tmp, fileFormat = "avro"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"),
        max(col("event_timestamp")).as("max_ts_us"))
  }

  val avroRoundTripSql: String =
    """SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_user,
      |       epoch_us(max(CAST(ts AS TIMESTAMP))) AS max_ts_us
      |FROM events GROUP BY 1""".stripMargin

  /** S-source: JSON-lines round-trip through the registry-described scan —
    * write a typed projection of events as JSON (timestamps as epoch-µs
    * longs, the capture-envelope convention shared with the Avro path),
    * read back via [[graft.sources.SourceReader]] (`fileFormat = "json"`),
    * aggregate. JSON numbers come back as longs, so no casts are needed
    * beyond the envelope's own.
    */
  def jsonRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_json_${ProcessHandle.current.pid}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")).getPath
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("event_timestamp"))
      .write.mode("overwrite").json(tmp)
    graft.sources.SourceReader
      .read(s, SparkSource("events_json", tmp, fileFormat = "json",
        timestampField = "event_timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"),
        max(col("event_timestamp")).as("max_ts_us"))
  }

  val jsonRoundTripSql: String =
    """SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_user,
      |       epoch_us(max(CAST(ts AS TIMESTAMP))) AS max_ts_us
      |FROM events GROUP BY 1""".stripMargin

  /** S-source: ORC round-trip — Spark's built-in columnar alternative to
    * parquet, written and read back through the registry-described scan
    * (`fileFormat = "orc"` → the generic format branch of
    * [[graft.sources.SourceReader]]). Types survive natively, so the
    * aggregate needs no casts; the oracle replays the same aggregate from
    * the parquet events table (the round trip itself is the Spark-side
    * operator under test, as with the CSV/Avro/JSON entries).
    */
  def orcRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_orc_${ProcessHandle.current.pid}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")).getPath
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").as("event_timestamp"), col("value"))
      .write.mode("overwrite").orc(tmp)
    graft.sources.SourceReader
      .read(s, SparkSource("events_orc", tmp, fileFormat = "orc",
        timestampField = "event_timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"),
        // integer cents, not pround(sum(double)): a wide double sum is
        // aggregation-order-dependent and can straddle the rounding
        // boundary between engines (same reasoning as rollupAgg)
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
  }

  val orcRoundTripSql: String =
    """SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_user,
      |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- §2.10
  /** Batch sessionization: split each user's event stream into sessions
    * at inactivity gaps ≥ 30 minutes (`session_window` semantics — the
    * streaming twin `StreamingIngest.sessionWindows` is equivalence-
    * pinned by StreamingSpec), then aggregate per session; oracle-gated
    * here because the batch shape is SQL-expressible. All time
    * arithmetic is integer epoch-µs (exact in both engines); ties in
    * `ts` are pinned by `event_id` so the running session index is
    * deterministic.
    *
    * Scale: one per-user window (bounded partitions — user activity, not
    * corpus size) for the gap flags + running sum, then a keyed agg; no
    * global sort. A pathological single-user firehose would bound-break
    * the window partition; the valve is pre-splitting such users by a
    * coarse time bucket before sessionizing.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    Transforms.sessionize(
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us")),
      keyCol = "user_id", idCol = "event_id", tsUsCol = "us",
      gapUs = 1800L * 1000000L) // 30 min
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        (max(col("us")) - min(col("us"))).as("duration_us"))

  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |l AS (
      |  SELECT user_id, event_id, us,
      |         lag(us) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC) AS prev
      |  FROM e),
      |f AS (
      |  SELECT user_id, event_id, us,
      |         CASE WHEN prev IS NULL OR us - prev >= 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM l),
      |s AS (
      |  SELECT user_id, us,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM f)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |       count(*) AS n_events,
      |       min(us) AS start_us,
      |       max(us) - min(us) AS duration_us
      |FROM s GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- §2.3
  /** F2/F4-string/F5/F6 chained: the reference's string-keyed time
    * round trip (`chicago_weather_hourly_fs.py:45-53`,
    * `chicago_taxi_trips_hourly_gold.ipynb:88`): hour bucket as the
    * exact `"yyyy-MM-dd HH:00:00"` string, parsed back to a date with an
    * explicit format, and re-normalized through epoch seconds
    * (`unix_timestamp` → `from_unixtime`).
    */
  def timeFormats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        Transforms.hourBucketString(col("ts")).as("hb_str"),
        // the to_date(fmt) PARSE is the operator under test; the result
        // travels as a string (parquet date32 and DuckDB DATE reach
        // pandas as different types)
        date_format(
          to_date(Transforms.hourBucketString(col("ts")), "yyyy-MM-dd HH:00:00"),
          "yyyy-MM-dd").as("d"),
        from_unixtime(unix_timestamp(Transforms.hourBucket(col("ts"))),
          "yyyy-MM-dd HH:00:00").as("hb_norm"))
      .agg(count(lit(1)).as("n"))

  val timeFormatsSql: String =
    """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00:00') AS hb_str,
      |       strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS d,
      |       strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00:00') AS hb_norm,
      |       count(*) AS n
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- §2.4+
  /** Hierarchical rollup totals — `ROLLUP(event_type, user_bucket)` gives
    * per-(type, bucket), per-type, and grand-total rows in ONE pass
    * (Spark expands grouping sets before the hash agg — still a single
    * keyed shuffle with map-side partials, not three scans). The
    * analytics staple for subtotal reports; `grouping_id` disambiguates
    * the NULL-as-total rows from genuine NULL keys.
    */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
      // exact integer cents: a double sum over the GRAND TOTAL grouping
      // set accumulates engine-order-dependent error that can straddle a
      // rounding boundary; per-row cents are identical binary64 ops in
      // both engines and their integer sum is order-free
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .rollup(col("event_type"), col("user_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        grouping_id().cast("long").as("gid"))

  val rollupAggSql: String =
    """SELECT event_type, user_bucket, count(*) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(grouping(event_type) * 2 + grouping(user_bucket) AS BIGINT) AS gid
      |FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
      |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |      FROM events)
      |GROUP BY ROLLUP (event_type, user_bucket)""".stripMargin

  /** Fixed-list pivot: one row per user, one column per event type with
    * that type's event count — the wide-format feature matrix shape,
    * via [[Transforms.pivotFixed]] (single-shuffle conditional
    * aggregation; see its scaladoc for why this beats the built-in
    * two-phase `pivot` and why the value list must be declared at
    * scale). The oracle replays the identical CASE WHEN form.
    */
  def pivotCounts(s: SparkSession, dir: String): DataFrame =
    Transforms.pivotFixed(
      t(s, dir, "events").select(col("user_id"), col("event_type")),
      "user_id", "event_type", Seq("view", "click", "purchase", "signup", "error"))

  val pivotCountsSql: String =
    """SELECT user_id,
      |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
      |FROM events GROUP BY user_id""".stripMargin

  /** Full-lattice cube totals — `CUBE(event_type, user_bucket)` emits all
    * four grouping sets (detail, per-type, per-bucket, grand total) in a
    * single pass: Spark expands the sets before the hash agg, so it is
    * still ONE keyed shuffle with map-side partials, not four scans.
    * Complements q49's ROLLUP (the hierarchy-only subset);
    * `grouping_id` disambiguates NULL-as-total from genuine NULL keys.
    * Integer-cents sums for the same reason as rollupAgg (a grand-total
    * double sum is aggregation-order-dependent across engines).
    */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .cube(col("event_type"), col("user_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        grouping_id().cast("long").as("gid"))

  val cubeAggSql: String =
    """SELECT event_type, user_bucket, count(*) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(grouping(event_type) * 2 + grouping(user_bucket) AS BIGINT) AS gid
      |FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
      |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |      FROM events)
      |GROUP BY CUBE (event_type, user_bucket)""".stripMargin

  /** Analytic (offset) window functions — `lag` inter-arrival deltas per
    * user: each event's gap to the previous event and absolute value
    * change, aggregated to per-user cadence stats. The W-family's
    * offset-function counterpart to q05's ranking window (the reference
    * uses only ROW_NUMBER; lag/lead is the other half of the window
    * class). Time arithmetic is integer epoch-µs and value deltas are
    * integer cents — exact in both engines; the one division
    * (mean gap) is of exact integers, so 4dp pround is stable. Ties in
    * `ts` are pinned by `event_id`.
    *
    * Scale: one per-user window (bounded partitions — per-user activity,
    * not corpus size) + one keyed agg; no global sort. Single-key
    * firehoses bound-break the window partition; the valve is the same
    * coarse-time-bucket pre-split as sessionizeBucketed.
    */
  def eventDeltas(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .withColumn("adelta", abs(col("cents") - lag(col("cents"), 1).over(w)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(col("gap_us")).as("n_gaps"),
        max(col("gap_us")).as("max_gap_us"),
        pround(sum(col("gap_us")).cast("double") /
          count(col("gap_us")).cast("double"), 4).as("avg_gap_us"),
        sum(col("adelta")).as("sum_abs_delta_cents"))
  }

  val eventDeltasSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |l AS (
      |  SELECT user_id,
      |         us - lag(us) OVER w AS gap_us,
      |         abs(cents - lag(cents) OVER w) AS adelta
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC))
      |SELECT user_id, count(*) AS n_events,
      |       CAST(count(gap_us) AS BIGINT) AS n_gaps,
      |       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
      |       floor((CAST(sum(gap_us) AS DOUBLE) / CAST(count(gap_us) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_gap_us,
      |       CAST(sum(adelta) AS BIGINT) AS sum_abs_delta_cents
      |FROM l GROUP BY user_id""".stripMargin

  /** Distribution bucketing — `NTILE(4)` order-value quartiles within
    * each order priority, then per-(priority, quartile) counts and cent
    * bounds: the discretize-a-feature-into-equal-frequency-bins staple.
    * The order (o_totalprice, o_orderkey) is a total order, so bucket
    * boundaries — and therefore every min/max — are deterministic in
    * both engines (both implement standard NTILE: first `n mod b`
    * buckets take the extra row).
    *
    * Scale: the window partitions on a LOW-cardinality key (5
    * priorities), so each partition is corpus-sized/5 — fine at bench
    * scale, a reducer bound at 100 TB. The scale valve is range
    * bucketing from approx-quantile cutpoints (profileApprox's t-digest
    * posture): row-local bucket assignment against broadcast cutpoints,
    * trading exact equal-frequency for bounded memory.
    */
  def ntileBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
        ntile(4).over(w).cast("long").as("tile"))
      .groupBy(col("o_orderpriority"), col("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
  }

  val ntileBucketsSql: String =
    """WITH r AS (
      |  SELECT o_orderpriority,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         CAST(ntile(4) OVER (PARTITION BY o_orderpriority
      |                             ORDER BY o_totalprice ASC, o_orderkey ASC)
      |              AS BIGINT) AS tile
      |  FROM orders)
      |SELECT o_orderpriority, tile, count(*) AS n,
      |       min(cents) AS min_cents, max(cents) AS max_cents
      |FROM r GROUP BY 1, 2""".stripMargin

  /** Per-group z-score feature scaling over the events stream via
    * [[Transforms.zscoreNormalize]] — mean/variance derived from EXACT
    * integer cent sums so the normalized value is bit-identical in both
    * engines (see the helper's scaladoc for why `avg(double)` /
    * `stddev` cannot be hash-gated). Emits one row per event with its
    * 6dp z-score; the stats side is group-cardinality-sized and
    * broadcast.
    */
  def zscoreScale(s: SparkSession, dir: String): DataFrame =
    Transforms.zscoreNormalize(
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
      keyCols = Seq("event_type"), centsCol = "cents")
      .select(col("event_id"), col("event_type"), col("cents"),
        pround(col("zscore"), 6).as("zscore"))

  val zscoreScaleSql: String =
    """WITH c AS (
      |  SELECT event_id, event_type,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |st AS (
      |  SELECT event_type,
      |         CAST(count(*) AS DOUBLE) AS n_d,
      |         CAST(sum(cents) AS DOUBLE) AS sum_d,
      |         CAST(sum(cents * cents) AS DOUBLE) AS sumsq_d
      |  FROM c GROUP BY event_type)
      |SELECT c.event_id, c.event_type, c.cents,
      |       floor(((CAST(c.cents AS DOUBLE) - sum_d / n_d)
      |              / sqrt((sumsq_d - sum_d * sum_d / n_d) / (n_d - 1.0)))
      |             * 1000000.0 + 0.5) / 1000000.0 AS zscore
      |FROM c JOIN st USING (event_type)""".stripMargin

  /** Opt-out purge — drop every event belonging to a blocklisted user
    * (the GDPR-erasure / flagged-account compliance shape) via
    * [[Transforms.purgeByKey]]'s broadcast LEFT ANTI join, then audit
    * what remains per event type. The blocklist here is derived
    * deterministically (user_id ≡ 0 mod 17 — the synthetic stand-in for
    * an externally supplied opt-out registry); the operator under test
    * is the anti-join, which no other catalog query exercises.
    */
  def purgeOptOut(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val optOut = ev.select(col("user_id")).filter(col("user_id") % 17 === 0)
    Transforms.purgeByKey(ev, Seq("user_id"), optOut)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val purgeOptOutSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events e
      |WHERE NOT EXISTS (SELECT 1 FROM events b
      |                  WHERE b.user_id % 17 = 0 AND b.user_id = e.user_id)
      |GROUP BY event_type""".stripMargin

  /** Set operations — cohort churn: users active in the first three
    * quarters of the time window but not the last (EXCEPT → churned),
    * only in the last (EXCEPT → new), or in both (INTERSECT →
    * retained). The O-family set-op classes the reference never uses
    * (SURVEY §2.7) as a first-class cohort query. The window split point
    * is integer-µs arithmetic on the stream's own min/max (a 1-row
    * broadcast scalar), so the cohorts are deterministic.
    *
    * Scale: EXCEPT/INTERSECT plan as keyed distinct + anti/semi joins on
    * the uniform user key — ordinary shuffles, no driver path; the
    * bounds aggregate is a 1-row broadcast.
    */
  def churnSetOps(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val q3 = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("mn + ((mx - mn) * 3) div 4").as("q3"))
    val tagged = e.crossJoin(broadcast(q3))
    // each cohort feeds TWO set ops below — persist so the scan +
    // distinct shuffle runs once per cohort, not three times (the
    // single-pass alternative — groupBy(user).agg(max(us<=q3),
    // max(us>q3)) with a CASE — is the one-shuffle scale path, but the
    // operators under test here are EXCEPT/INTERSECT themselves)
    val early = tagged.filter(col("us") <= col("q3")).select("user_id").distinct().persist()
    val late = tagged.filter(col("us") > col("q3")).select("user_id").distinct().persist()
    early.except(late).select(col("user_id"), lit("churned").as("status"))
      .unionAll(late.except(early).select(col("user_id"), lit("new").as("status")))
      .unionAll(early.intersect(late).select(col("user_id"), lit("retained").as("status")))
  }

  val churnSetOpsSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |q AS (SELECT min(us) + ((max(us) - min(us)) * 3) // 4 AS q3 FROM e),
      |early AS (SELECT DISTINCT user_id FROM e, q WHERE us <= q3),
      |late AS (SELECT DISTINCT user_id FROM e, q WHERE us > q3)
      |SELECT user_id, 'churned' AS status
      |FROM (SELECT user_id FROM early EXCEPT SELECT user_id FROM late)
      |UNION ALL
      |SELECT user_id, 'new' AS status
      |FROM (SELECT user_id FROM late EXCEPT SELECT user_id FROM early)
      |UNION ALL
      |SELECT user_id, 'retained' AS status
      |FROM (SELECT user_id FROM early INTERSECT SELECT user_id FROM late)""".stripMargin

  /** FULL OUTER join — the reconciliation shape (which customers have no
    * orders, which order keys have no customer record): both inputs are
    * deterministically restricted so BOTH null sides occur, and the
    * output carries presence flags plus coalesced keys. Completes the
    * catalog's join-type matrix (inner/left/anti/semi elsewhere). A full
    * outer join cannot broadcast (both sides must be preserved) — it
    * plans as a sort-merge join on the uniform key, the correct 100 TB
    * shape.
    */
  def fullOuterRecon(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"))
    val ord = t(s, dir, "orders")
      .filter(col("o_custkey") % 3 === 0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_custkey").isNotNull.cast("long").as("has_customer"),
        col("o_custkey").isNotNull.cast("long").as("has_orders"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }

  val fullOuterReconSql: String =
    """WITH cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0),
      |ord AS (SELECT o_custkey, count(*) AS n_orders
      |        FROM orders WHERE o_custkey % 3 = 0 GROUP BY o_custkey)
      |SELECT coalesce(c_custkey, o_custkey) AS custkey,
      |       CAST(c_custkey IS NOT NULL AS BIGINT) AS has_customer,
      |       CAST(o_custkey IS NOT NULL AS BIGINT) AS has_orders,
      |       coalesce(n_orders, 0) AS n_orders
      |FROM cust FULL OUTER JOIN ord ON c_custkey = o_custkey""".stripMargin

  /** Sliding (hopping) time windows in BATCH — 1-hour windows every 30
    * minutes via the built-in `window(ts, len, slide)` generator: each
    * event lands in exactly len/slide = 2 overlapping windows (the
    * trailing-window smoothing shape; q01's tumbling hour is the
    * slide == len special case). Spark explodes the window set per row
    * before the keyed agg — one shuffle, map-side partials; the oracle
    * replays the two epoch-aligned window starts per event with a
    * UNION ALL. Integer-cents sums (two windows share rows, so
    * grand-total double sums would be order-dependent twice over).
    */
  def slidingWindowAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n"), col("sum_cents"))

  val slidingWindowAggSql: String =
    """WITH e AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |h AS (
      |  -- 30-min-aligned floor as a plain (tz-naive) TIMESTAMP: epoch
      |  -- round trips via to_timestamp come back tz-aware and break the
      |  -- gate's dtype normalization
      |  SELECT date_trunc('hour', ts)
      |           + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
      |                  ELSE INTERVAL 0 MINUTE END AS fl,
      |         event_type, cents
      |  FROM e),
      |w AS (
      |  SELECT fl AS window_start, event_type, cents FROM h
      |  UNION ALL
      |  SELECT fl - INTERVAL 30 MINUTE AS window_start, event_type, cents FROM h)
      |SELECT window_start, event_type, count(*) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM w GROUP BY 1, 2""".stripMargin

  /** Exact per-group quantiles — order-total quartiles per priority via
    * [[graft.transform.Stats.quantilesByKey]]: dyadic probabilities over
    * integer cents make the interpolated values bit-identical in both
    * engines regardless of interpolation spelling (see the helper's
    * scaladoc, which also documents the `approx_percentile` valve for
    * unbounded-cardinality columns at 100 TB).
    */
  def quantileStats(s: SparkSession, dir: String): DataFrame =
    graft.transform.Stats.quantilesByKey(
      t(s, dir, "orders").select(col("o_orderpriority"),
        graft.transform.Stats.cents(col("o_totalprice")).as("cents")),
      Seq("o_orderpriority"), "cents", Seq(0.25, 0.5, 0.75))

  val quantileStatsSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |       quantile_cont(cents, 0.25) AS p25,
      |       quantile_cont(cents, 0.5)  AS p50,
      |       quantile_cont(cents, 0.75) AS p75
      |FROM (SELECT o_orderpriority,
      |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |      FROM orders)
      |GROUP BY 1""".stripMargin

  /** Robust outlier screen — per-event-type median/MAD with a 3-MAD
    * flag count via [[graft.transform.Stats.madOutliers]]. Every emitted
    * number is an exact dyadic rational (no rounding step at all); the
    * mean/stddev z-score counterpart is q57.
    */
  def madOutliers(s: SparkSession, dir: String): DataFrame =
    graft.transform.Stats.madOutliers(
      t(s, dir, "events").select(col("event_type"),
        graft.transform.Stats.cents(col("value")).as("cents")),
      Seq("event_type"), "cents", k = 3)

  val madOutliersSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |m AS (
      |  SELECT event_type, quantile_cont(cents, 0.5) AS med
      |  FROM c GROUP BY 1),
      |d AS (
      |  SELECT c.event_type, abs(CAST(cents AS DOUBLE) - med) AS dev, med
      |  FROM c JOIN m USING (event_type)),
      |md AS (
      |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
      |  FROM d GROUP BY 1)
      |SELECT d.event_type, count(*) AS n, min(d.med) AS med,
      |       min(md.mad) AS mad,
      |       CAST(sum(CASE WHEN d.dev > md.mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_outliers
      |FROM d JOIN md USING (event_type)
      |GROUP BY 1""".stripMargin

  /** Equal-width distribution histogram — 16 buckets over order totals
    * via [[graft.transform.Stats.histogramFixedWidth]]: pure-integer
    * bucket arithmetic against a 1-row broadcast bounds frame; the
    * equal-FREQUENCY counterpart is q56's NTILE.
    */
  def histogramBuckets(s: SparkSession, dir: String): DataFrame =
    graft.transform.Stats.histogramFixedWidth(
      t(s, dir, "orders").select(
        graft.transform.Stats.cents(col("o_totalprice")).as("cents")),
      "cents", nBuckets = 16)

  val histogramBucketsSql: String =
    """WITH c AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c)
      |SELECT ((cents - mn) * 16) // (mx - mn + 1) AS bucket,
      |       count(*) AS n,
      |       min(cents) AS lo_cents, max(cents) AS hi_cents
      |FROM c, b GROUP BY 1""".stripMargin

  /** Cross-feature dependence profile — per-returnflag Pearson
    * correlation and OLS slope between quantity and extended price via
    * [[graft.transform.Stats.corrByKey]]'s exact DECIMAL/HUGEINT moment
    * sums (the built-in `corr()` accumulates partition-order-dependent
    * double moments and cannot be hash-gated; the helper's scaladoc
    * has the full exactness argument).
    */
  def corrStats(s: SparkSession, dir: String): DataFrame =
    graft.transform.Stats.corrByKey(
      t(s, dir, "lineitem").select(col("l_returnflag"),
        graft.transform.Stats.cents(col("l_quantity")).as("x"),
        graft.transform.Stats.cents(col("l_extendedprice")).as("y")),
      Seq("l_returnflag"), "x", "y")

  /** Per-event-type OLS drift trend (q127): regress value cents on the
    * event's HOUR INDEX ([[graft.transform.Stats.olsByKey]]) — slope
    * is cents-per-hour drift, R² its explanatory power. The hour index
    * is `unix_timestamp(ts) div 3600`, matching the oracle's
    * `epoch(date_trunc('hour', ts)) // 3600` exactly for non-negative
    * timestamps.
    */
  def olsTrend(s: SparkSession, dir: String): DataFrame =
    graft.transform.Stats.olsByKey(
      t(s, dir, "events").select(col("event_type"),
        expr("unix_timestamp(ts) div 3600").as("x"),
        graft.transform.Stats.cents(col("value")).as("y")),
      Seq("event_type"), "x", "y")

  val olsTrendSql: String =
    """WITH c AS (
      |  SELECT event_type,
      |         CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
      |           // 3600 AS x,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      |  FROM events),
      |s AS (
      |  SELECT event_type, count(*) AS n,
      |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |         sum(CAST(x AS HUGEINT) * x) AS sxx,
      |         sum(CAST(y AS HUGEINT) * y) AS syy,
      |         sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM c GROUP BY 1),
      |d AS (
      |  SELECT event_type, n,
      |         CAST(n AS DOUBLE) AS nd,
      |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
      |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
      |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
      |  FROM s)
      |SELECT event_type, n,
      |       CASE WHEN vx > 0
      |            THEN floor((cov / vx) * 1000000.0 + 0.5) / 1000000.0
      |       END AS slope,
      |       CASE WHEN vx > 0
      |            THEN floor(((syd - (cov / vx) * sxd) / nd) * 1000000.0 + 0.5)
      |                 / 1000000.0
      |       END AS intercept,
      |       CASE WHEN vx > 0 AND vy > 0
      |            THEN floor(((cov * cov) / (vx * vy)) * 1000000.0 + 0.5)
      |                 / 1000000.0
      |       END AS r2
      |FROM d""".stripMargin

  val corrStatsSql: String =
    """WITH c AS (
      |  SELECT l_returnflag,
      |         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
      |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem),
      |s AS (
      |  SELECT l_returnflag, count(*) AS n,
      |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |         sum(CAST(x AS HUGEINT) * x) AS sxx,
      |         sum(CAST(y AS HUGEINT) * y) AS syy,
      |         sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM c GROUP BY 1),
      |d AS (
      |  SELECT l_returnflag, n,
      |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
      |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
      |  FROM s)
      |SELECT l_returnflag, n,
      |       CASE WHEN vx > 0 AND vy > 0
      |            THEN floor((cov / sqrt(vx * vy)) * 1000000.0 + 0.5) / 1000000.0
      |       END AS corr,
      |       CASE WHEN vx > 0
      |            THEN floor((cov / vx) * 1000000.0 + 0.5) / 1000000.0
      |       END AS slope
      |FROM d""".stripMargin

  /** Exponentially-decayed recency score — per-user EWMA over the last
    * 8 events (newest weighted 1, then ½, ¼, …): the time-decayed
    * engagement feature every recommender feature store ships. The
    * decay base ½ is chosen deliberately: each term `cents · 2⁻ᵏ` is an
    * exact dyadic (a bit-shift of an integer), and 8 terms of ≤ 2²⁶
    * cents span ≤ 33 mantissa bits — the sum is EXACT in binary64 in
    * any addition order, so the query hash-gates with no rounding step
    * (a 0.9-base EWMA would be order-dependent). `power(0.5, k)` is
    * exact in every IEEE libm for integer k.
    *
    * Scale: per-user ranking window (bounded partitions; firehose keys
    * take the q55 time-bucket valve) then one keyed agg over ≤ 8 rows
    * per user.
    */
  def ewmaRecency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        graft.transform.Stats.cents(col("value")).as("cents"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 8)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_recent"),
        sum(col("cents").cast("double") * pow(lit(0.5), col("rn") - 1))
          .as("ewma_cents"))
  }

  val ewmaRecencySql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT user_id, cents,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY us DESC, event_id DESC) AS rn
      |  FROM e)
      |SELECT user_id, count(*) AS n_recent,
      |       sum(CAST(cents AS DOUBLE) * power(0.5, rn - 1)) AS ewma_cents
      |FROM r WHERE rn <= 8 GROUP BY user_id""".stripMargin

  /** Relative-rank window family — dense_rank / percent_rank /
    * cume_dist per order priority: the remaining analytic-window class
    * after q05 (row_number), q55 (lag), q56 (ntile). Both engines
    * implement the SQL-standard definitions `(rank−1)/(n−1)` and
    * `n_peers_≤ / n`; with a unique tiebreaker in the ORDER BY the
    * ranks are total, and each value is a single division of exact
    * small integers — identical binary64, no rounding step.
    */
  def rankFamily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        graft.transform.Stats.cents(col("o_totalprice")).as("cents"))
      .select(col("o_orderpriority"), col("o_orderkey"), col("cents"),
        dense_rank().over(w).cast("long").as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
  }

  val rankFamilySql: String =
    """SELECT o_orderpriority, o_orderkey,
      |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |       CAST(dense_rank() OVER w AS BIGINT) AS drank,
      |       percent_rank() OVER w AS prank,
      |       cume_dist() OVER w AS cdist
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ASC,
      |                      o_orderkey ASC)""".stripMargin

  /** Schema-evolution read — an older parquet epoch written BEFORE a
    * column existed unions with a newer epoch under
    * `mergeSchema=true`: the additive-evolution contract every
    * long-lived feature table relies on (old files null-pad the new
    * column; no rewrite). The aggregation distinguishes presence
    * (`count(cents)`) from rows (`count(*)`), proving the nulls came
    * from the schema merge, and the oracle replays the epoch split
    * arithmetically from the source table. Footer merging is
    * per-file parallel work; at real scale declare the superset
    * schema explicitly instead of paying the merge listing
    * (`spark.read.schema(s)`), which this same code path supports.
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    // stable source-keyed scratch dir, written once per (process, dir):
    // a fresh temp dir per invocation would rewrite the full table on
    // every Bench warm-up/timed run and orphan the copies; pid-scoped
    // so concurrent JVMs (Verify vs Bench on the same sf dir) never
    // race the overwrite/read of a shared fixture
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_evo_${ProcessHandle.current.pid}_" +
        Integer.toHexString(dir.hashCode)).toString
    if (!new java.io.File(s"$tmp/epoch=1/_SUCCESS").exists()) {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          graft.transform.Stats.cents(col("value")).as("cents"))
      ev.filter(col("event_id") % 2 === 0).select("event_id", "event_type")
        .write.mode("overwrite").parquet(s"$tmp/epoch=0")
      ev.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$tmp/epoch=1")
    }
    s.read.option("mergeSchema", "true")
      .parquet(s"$tmp/epoch=0", s"$tmp/epoch=1")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("cents")).as("n_with_cents"),
        sum(col("cents")).as("sum_cents"))
  }

  val schemaEvolutionSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_with_cents,
      |       CAST(sum(CASE WHEN event_id % 2 = 1
      |                     THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END)
      |            AS BIGINT) AS sum_cents
      |FROM events GROUP BY 1""".stripMargin

  /** Distribution-drift monitor — PSI of the value distribution per
    * event type, first half of the stream (reference) vs second half
    * (current), via [[graft.transform.Stats.psiByKey]]: 10
    * reference-defined bins, Laplace smoothing, per-bin contributions
    * plus the running `psi_cum` whose last bucket is the headline PSI
    * (the helper's scaladoc explains why the running sum is what makes
    * the total gate-able). The split point is integer-µs arithmetic on
    * a 1-row broadcast, as in q60.
    */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        graft.transform.Stats.cents(col("value")).as("cents"))
    val mid = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("mn + (mx - mn) div 2").as("mid"))
    // both halves feed multiple psiByKey consumers — persist the split
    // input so the events scan + split runs once (churnSetOps posture)
    val tagged = e.crossJoin(broadcast(mid)).persist()
    val ref = tagged.filter(col("us") <= col("mid"))
      .select(col("event_type"), col("cents"))
    val cur = tagged.filter(col("us") > col("mid"))
      .select(col("event_type"), col("cents"))
    graft.transform.Stats.psiByKey(ref, cur, Seq("event_type"), "cents", 10)
  }

  val psiDriftSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |m AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM e),
      |ref AS (SELECT event_type, cents FROM e, m WHERE us <= mid),
      |cur AS (SELECT event_type, cents FROM e, m WHERE us > mid),
      |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM ref),
      |rb AS (SELECT event_type,
      |              least(9, greatest(0, ((cents - mn) * 10) // (mx - mn + 1))) AS bucket,
      |              count(*) AS n_ref
      |       FROM ref, b GROUP BY 1, 2),
      |cb AS (SELECT event_type,
      |              least(9, greatest(0, ((cents - mn) * 10) // (mx - mn + 1))) AS bucket,
      |              count(*) AS n_cur
      |       FROM cur, b GROUP BY 1, 2),
      |rt AS (SELECT event_type, count(*) AS nt_ref FROM ref GROUP BY 1),
      |ct AS (SELECT event_type, count(*) AS nt_cur FROM cur GROUP BY 1),
      |grid AS (SELECT event_type, unnest(range(0, 10)) AS bucket
      |         FROM (SELECT DISTINCT event_type FROM ref)),
      |j AS (SELECT grid.event_type, grid.bucket,
      |             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur,
      |             nt_ref, coalesce(nt_cur, 0) AS nt_cur
      |      FROM grid LEFT JOIN rb USING (event_type, bucket)
      |                LEFT JOIN cb USING (event_type, bucket)
      |                JOIN rt USING (event_type)
      |                LEFT JOIN ct USING (event_type)),
      |k AS (SELECT event_type, bucket, n_ref, n_cur,
      |             (CAST(n_ref + 1 AS DOUBLE) / CAST(nt_ref + 10 AS DOUBLE)
      |              - CAST(n_cur + 1 AS DOUBLE) / CAST(nt_cur + 10 AS DOUBLE))
      |             * ln((CAST(n_ref + 1 AS DOUBLE) / CAST(nt_ref + 10 AS DOUBLE))
      |                  / (CAST(n_cur + 1 AS DOUBLE) / CAST(nt_cur + 10 AS DOUBLE))) AS c
      |      FROM j)
      |SELECT event_type, bucket, n_ref, n_cur,
      |       floor(c * 1000000.0 + 0.5) / 1000000.0 AS contrib,
      |       floor(sum(c) OVER (PARTITION BY event_type ORDER BY bucket ASC
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |             * 1000000.0 + 0.5) / 1000000.0 AS psi_cum
      |FROM k""".stripMargin

  /** Explicit GROUPING SETS — the two marginal-total sets only
    * ((event_type), (user_bucket)), which neither ROLLUP (q49, the
    * hierarchy prefix lattice) nor CUBE (q54, the full lattice) can
    * express without computing extra sets: the custom-report shape.
    * Declared through `spark.sql` over a temp view — the SQL entry
    * point is part of the API surface (SURVEY §1.4) and GROUPING SETS
    * has no DataFrame-side equivalent. Spark expands the declared sets
    * into ONE keyed agg pass with map-side partials, same as
    * cube/rollup (Expand + single Exchange, pinned in PlanSpec).
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events")
      .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .createOrReplaceTempView("__gs_events")
    s.sql(
      """SELECT event_type, user_bucket, count(*) AS n,
        |       sum(cents) AS sum_cents,
        |       CAST(grouping(event_type) * 2 + grouping(user_bucket) AS BIGINT)
        |         AS gid
        |FROM __gs_events
        |GROUP BY GROUPING SETS ((event_type), (user_bucket))""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT event_type, user_bucket, count(*) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(grouping(event_type) * 2 + grouping(user_bucket) AS BIGINT)
      |         AS gid
      |FROM (SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
      |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |      FROM events)
      |GROUP BY GROUPING SETS ((event_type), (user_bucket))""".stripMargin

  /** Correlated subqueries — EXISTS / NOT EXISTS / a correlated scalar
    * subquery in one statement: customers holding at least one
    * above-average-value order but no URGENT order, with their order
    * count inlined as a scalar subquery. Catalyst DECORRELATES all
    * three into joins (existence → semi/anti, scalar → aggregate +
    * left join) — the plan must show no correlated re-execution per
    * outer row (PlanSpec pins no nested-loop/cartesian), which is the
    * difference between O(n+m) and O(n·m) at 100 TB.
    */
  def existsSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("__sq_customer")
    t(s, dir, "orders").createOrReplaceTempView("__sq_orders")
    s.sql(
      """SELECT c.c_custkey,
        |       CAST((SELECT count(*) FROM __sq_orders o
        |             WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
        |FROM __sq_customer c
        |WHERE EXISTS (SELECT 1 FROM __sq_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000.0)
        |  AND NOT EXISTS (SELECT 1 FROM __sq_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin)
  }

  val existsSubquerySql: String =
    """SELECT c.c_custkey,
      |       CAST((SELECT count(*) FROM orders o
      |             WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 300000.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin

  /** Winsorized aggregation — per-type value sums after clipping at the
    * 1/16 and 15/16 dyadic quantile fences via
    * [[graft.transform.Stats.winsorizeByKey]]: every emitted number is
    * an exact integer (clipped·16), order-independent at any scale.
    */
  def winsorize(s: SparkSession, dir: String): DataFrame =
    graft.transform.Stats.winsorizeByKey(
      t(s, dir, "events").select(col("event_type"),
        graft.transform.Stats.cents(col("value")).as("cents")),
      Seq("event_type"), "cents")

  val winsorizeSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |f AS (SELECT event_type,
      |             quantile_cont(cents, 0.0625) AS lo,
      |             quantile_cont(cents, 0.9375) AS hi
      |      FROM c GROUP BY 1)
      |SELECT c.event_type, count(*) AS n,
      |       CAST(sum(CASE WHEN CAST(cents AS DOUBLE) < lo THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_clipped_lo,
      |       CAST(sum(CASE WHEN CAST(cents AS DOUBLE) > hi THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_clipped_hi,
      |       CAST(sum(CAST(least(greatest(CAST(cents AS DOUBLE), lo), hi) * 16
      |                     AS BIGINT)) AS BIGINT) AS sum_clipped_16ths
      |FROM c JOIN f USING (event_type) GROUP BY 1""".stripMargin

  /** Deterministic mode — most frequent cents value per event type with
    * the smallest-value tie-break, via
    * [[graft.transform.Stats.modeByKey]]'s windowless double-argmax
    * (the built-in `mode()` leaves ties unspecified in both engines —
    * ungateable; the oracle replays the same total order with a
    * ranking window).
    */
  def modeValue(s: SparkSession, dir: String): DataFrame =
    graft.transform.Stats.modeByKey(
      t(s, dir, "events").select(col("event_type"),
        graft.transform.Stats.cents(col("value")).as("cents")),
      Seq("event_type"), "cents")
      .withColumnRenamed("mode_value", "mode_cents")

  val modeValueSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |k AS (SELECT event_type, cents, count(*) AS n FROM c GROUP BY 1, 2),
      |r AS (SELECT event_type, cents, n,
      |             row_number() OVER (PARTITION BY event_type
      |                                ORDER BY n DESC, cents ASC) AS rn
      |      FROM k)
      |SELECT event_type, cents AS mode_cents, CAST(n AS BIGINT) AS mode_n
      |FROM r WHERE rn = 1""".stripMargin

  /** Ordered conversion funnel — users whose FIRST view precedes their
    * first click precedes their first purchase: the product-analytics
    * staple. One conditional-aggregation pass builds each user's first
    * occurrence per stage (the [[Transforms.pivotFixed]] single-shuffle
    * shape — no joins between stages, no window), then integer-µs
    * comparisons classify the user; a second tiny agg emits the funnel
    * counts. Strictly-increasing timestamps avoid the simultaneous-
    * event ambiguity (a tie is NOT a conversion in either engine).
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val firsts = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("us"))).as("t_view"),
        min(when(col("event_type") === "click", col("us"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("us"))).as("t_purchase"))
    firsts.agg(
      count(lit(1)).as("n_users"),
      sum(col("t_view").isNotNull.cast("long")).as("n_view"),
      sum((col("t_view") < col("t_click")).cast("long")).as("n_view_click"),
      sum((col("t_view") < col("t_click")
        && col("t_click") < col("t_purchase")).cast("long")).as("n_full_funnel"))
  }

  val funnelSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view'
      |                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
      |         min(CASE WHEN event_type = 'click'
      |                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_click,
      |         min(CASE WHEN event_type = 'purchase'
      |                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_purchase
      |  FROM events GROUP BY user_id)
      |SELECT count(*) AS n_users,
      |       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_view,
      |       CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_view_click,
      |       CAST(sum(CASE WHEN t_view < t_click AND t_click < t_purchase
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
      |FROM f""".stripMargin

  /** Retention cohort matrix — users grouped by first-activity week
    * (the cohort), counted at each later week offset: the
    * product-health triangle. Two keyed aggs on integer epoch-week
    * arithmetic (distinct user-weeks, then per-user min-week broadcast
    * back) — no windows, exact integers throughout. The user-week
    * dedup is the only corpus-sized shuffle; the cohort join is on the
    * uniform user key.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val uw = t(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct()
    val cohorts = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    uw.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  val retentionCohortsSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week
      |  FROM events),
      |c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
      |SELECT cohort_week, week - cohort_week AS offset,
      |       CAST(count(DISTINCT uw.user_id) AS BIGINT) AS n_users
      |FROM uw JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** Ratio-to-report — each (hour, event_type)'s share of its hour's
    * total cents via an UNORDERED partition-wide window sum (the
    * share-of-total report shape; q62's windows slide over TIME, this
    * one spans a whole partition). Numerator and denominator are exact
    * integer sums, so the single division is bit-identical
    * cross-engine with no rounding step.
    */
  def shareOfHour(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = t(s, dir, "events")
      .groupBy(Transforms.hourBucket(col("ts")).as("hour"), col("event_type"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    hourly.withColumn("hour_total",
      sum(col("cents")).over(Window.partitionBy(col("hour"))))
      .select(col("hour"), col("event_type"), col("cents"), col("hour_total"),
        (col("cents").cast("double") / col("hour_total").cast("double"))
          .as("share"))
  }

  val shareOfHourSql: String =
    """WITH h AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
      |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |           AS cents
      |  FROM events GROUP BY 1, 2)
      |SELECT hour, event_type, cents,
      |       CAST(sum(cents) OVER (PARTITION BY hour) AS BIGINT) AS hour_total,
      |       CAST(cents AS DOUBLE)
      |         / CAST(sum(cents) OVER (PARTITION BY hour) AS DOUBLE) AS share
      |FROM h""".stripMargin

  /** Gap-fill — resample each user's hourly cents onto a dense hourly
    * grid with forward fill, via [[Temporal.gapFill]]'s segment-emit
    * plan (one keyed window, NO grid join). The ORACLE deliberately
    * uses the textbook formulation — generate_series grid LEFT JOIN
    * observations + IGNORE NULLS fill window — so the gate proves the
    * two formulations equivalent, not just self-consistent. All values
    * are integer cents and grid timestamps step in exact hours: no
    * rounding anywhere.
    */
  def gapFillHourly(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("user_id"), Transforms.hourBucket(col("ts")).as("hour"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    Temporal.gapFill(hourly, "user_id", "hour", "cents", "1 hour")
  }

  val gapFillHourlySql: String =
    """WITH hourly AS (
      |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |           AS cents
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
      |      FROM hourly GROUP BY 1),
      |grid AS (
      |  SELECT user_id,
      |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM s),
      |j AS (SELECT g.user_id, g.hour, h.cents
      |      FROM grid g LEFT JOIN hourly h USING (user_id, hour))
      |SELECT user_id, hour,
      |       COALESCE(cents, 0) AS cents,
      |       last_value(cents IGNORE NULLS)
      |         OVER (PARTITION BY user_id ORDER BY hour
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS filled_cents,
      |       CAST(cents IS NULL AS INT) AS is_gap
      |FROM j""".stripMargin

  /** SCD Type-2 versioning of each user's event_type from the raw
    * event log via [[Temporal.scd2]] — run-length change detection,
    * epoch-µs validity intervals, -1 open-end sentinel (a NULL BIGINT
    * would degrade to float64 in the gate). Everything is integer
    * arithmetic over one key partitioning.
    */
  def scd2Versions(s: SparkSession, dir: String): DataFrame =
    Temporal.scd2(t(s, dir, "events"), "user_id", "event_type", "ts", "event_id")

  val scd2VersionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_type, us, event_id,
      |         CASE WHEN lag(event_type) OVER
      |                     (PARTITION BY user_id ORDER BY us, event_id)
      |                   IS DISTINCT FROM event_type
      |              THEN 1 ELSE 0 END AS changed
      |  FROM e),
      |v AS (
      |  SELECT user_id, event_type, us,
      |         CAST(sum(changed) OVER
      |                (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS version
      |  FROM m),
      |r AS (
      |  SELECT user_id, version, event_type,
      |         min(us) AS valid_from_us, CAST(count(*) AS BIGINT) AS n_events
      |  FROM v GROUP BY 1, 2, 3)
      |SELECT user_id, version, event_type, valid_from_us, n_events,
      |       COALESCE(lead(valid_from_us)
      |                  OVER (PARTITION BY user_id ORDER BY version),
      |                -1) AS valid_to_us,
      |       CAST(COALESCE(lead(valid_from_us)
      |                       OVER (PARTITION BY user_id ORDER BY version),
      |                     -1) = -1 AS INT) AS is_current
      |FROM r""".stripMargin

  /** Markov transition matrix of event types per user via
    * [[Temporal.transitionMatrix]] — consecutive-pair counts from one
    * keyed window, with the row-normalized next-event probability as
    * a single exact-integer division (no rounding step needed).
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame =
    Temporal.transitionMatrix(t(s, dir, "events"),
      "user_id", "event_type", "ts", "event_id")

  val eventTransitionsSql: String =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |           AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
      |       CAST(n AS DOUBLE)
      |         / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p_next
      |FROM c""".stripMargin

  /** Approximate distinct users per event type via
    * [[graft.transform.Stats.linearCountDistinct]] — the bounded-state
    * cardinality sketch next to its exact ground truth, both
    * oracle-gated (md5 buckets replay as identical hex; the one ln per
    * key rides the libm budget on domain-bounded rows).
    */
  def linearCount(s: SparkSession, dir: String): DataFrame =
    graft.transform.Stats.linearCountDistinct(
      t(s, dir, "events"), Seq("event_type"), "user_id", m = 4096)

  val linearCountSql: String =
    """WITH b AS (
      |  SELECT DISTINCT event_type,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
      |           % 4096 AS bucket
      |  FROM events),
      |o AS (SELECT event_type, CAST(count(*) AS BIGINT) AS occupied
      |      FROM b GROUP BY 1),
      |x AS (SELECT event_type,
      |             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      |      FROM events GROUP BY 1)
      |SELECT event_type, occupied, exact_distinct,
      |       CASE WHEN occupied >= 4096 THEN NULL
      |            ELSE floor((-4096.0 * ln(1 - occupied / 4096.0))
      |                       * 1000000.0 + 0.5) / 1000000.0
      |       END AS lc_estimate
      |FROM o JOIN x USING (event_type)""".stripMargin

  /** Pareto-frontier customers per market segment — maximize (total
    * spend, order count) — via [[graft.transform.Skyline.skyline2D]]'s
    * windowed rewrite; the oracle runs the naive NOT EXISTS dominance
    * form, so the gate proves the rewrite computes the identical
    * frontier. All-integer dimensions (spend in cents).
    */
  def skylineCustomers(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .as("spend_cents"),
        count(lit(1)).as("n_orders"))
    val pts = base.join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_custkey").as("custkey"),
        col("spend_cents"), col("n_orders"))
    graft.transform.Skyline.skyline2D(pts, Seq("segment"),
      "spend_cents", "n_orders")
  }

  val skylineCustomersSql: String =
    """WITH base AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS BIGINT) AS spend_cents,
      |         CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1),
      |pts AS (
      |  SELECT c.c_mktsegment AS segment, b.o_custkey AS custkey,
      |         b.spend_cents, b.n_orders
      |  FROM base b JOIN customer c ON c.c_custkey = b.o_custkey)
      |SELECT segment, custkey, spend_cents, n_orders
      |FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.segment = p.segment
      |    AND q.spend_cents >= p.spend_cents AND q.n_orders >= p.n_orders
      |    AND (q.spend_cents > p.spend_cents OR q.n_orders > p.n_orders))""".stripMargin

  /** Last-touch attribution — each purchase credits the user's most
    * recent STRICTLY-preceding click: one IGNORE NULLS window with a
    * `ROWS ... AND 1 PRECEDING` frame (no self-match, no join). All
    * integer µs and cents; the click→purchase latency is an exact
    * subtraction.
    */
  def lastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("last_click_us",
        last(when(col("event_type") === "click", col("us")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("last_click_us").isNotNull)
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"),
        col("last_click_us"),
        (col("us") - col("last_click_us")).as("latency_us"), col("cents"))
  }

  val lastTouchAttributionSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |m AS (
      |  SELECT *,
      |         last_value(CASE WHEN event_type = 'click' THEN us END
      |                    IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS last_click_us
      |  FROM e)
      |SELECT event_id, user_id, us AS purchase_us, last_click_us,
      |       us - last_click_us AS latency_us, cents
      |FROM m
      |WHERE event_type = 'purchase' AND last_click_us IS NOT NULL""".stripMargin

  /** CUPED A/B readout via [[graft.transform.Stats.cupedByArm]]: users
    * hash-split into arms (md5 — replayable, unlike rand()), the
    * experiment window is the span's second half (integer-µs midpoint
    * broadcast), y = in-window cents, x = pre-period cents per user.
    */
  def cupedReadout(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events").select(col("user_id"),
      unix_micros(col("ts")).as("us"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val cut = base.agg(
      expr("(min(us) + max(us)) div 2").as("cut"))
    val perUser = base.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") < col("cut"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("us") >= col("cut"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("arm",
        when(conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8, "A").otherwise("B"))
    graft.transform.Stats.cupedByArm(perUser, "arm", "x", "y")
  }

  val cupedReadoutSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |b AS (SELECT (min(us) + max(us)) // 2 AS cut FROM e),
      |u AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN us < cut THEN cents ELSE 0 END) AS BIGINT)
      |           AS x,
      |         CAST(sum(CASE WHEN us >= cut THEN cents ELSE 0 END) AS BIGINT)
      |           AS y,
      |         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
      |                     ::INT < 8
      |              THEN 'A' ELSE 'B' END AS arm
      |  FROM e CROSS JOIN b GROUP BY user_id),
      |g AS (
      |  SELECT count(*) AS n_g,
      |         sum(CAST(x AS HUGEINT)) AS sx_g, sum(CAST(y AS HUGEINT)) AS sy_g,
      |         sum(CAST(x AS HUGEINT) * x) AS sxx_g,
      |         sum(CAST(x AS HUGEINT) * y) AS sxy_g
      |  FROM u),
      |a AS (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
      |         sum(CAST(x AS HUGEINT)) AS sx_arm,
      |         sum(CAST(y AS HUGEINT)) AS sy_arm
      |  FROM u GROUP BY 1),
      |d AS (
      |  SELECT arm, n_arm,
      |         CAST(sy_arm AS DOUBLE) / CAST(n_arm AS DOUBLE) AS mean_y,
      |         CASE WHEN CAST(n_g AS DOUBLE) * CAST(sxx_g AS DOUBLE)
      |                     - CAST(sx_g AS DOUBLE) * CAST(sx_g AS DOUBLE) > 0
      |              THEN (CAST(n_g AS DOUBLE) * CAST(sxy_g AS DOUBLE)
      |                     - CAST(sx_g AS DOUBLE) * CAST(sy_g AS DOUBLE))
      |                   / (CAST(n_g AS DOUBLE) * CAST(sxx_g AS DOUBLE)
      |                     - CAST(sx_g AS DOUBLE) * CAST(sx_g AS DOUBLE))
      |              ELSE 0.0 END AS theta,
      |         CAST(sx_arm AS DOUBLE) / CAST(n_arm AS DOUBLE)
      |           - CAST(sx_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS dx
      |  FROM a CROSS JOIN g)
      |SELECT arm, n_arm,
      |       floor(mean_y * 1000000.0 + 0.5) / 1000000.0 AS mean_y,
      |       floor(theta * 1000000.0 + 0.5) / 1000000.0 AS theta,
      |       floor((mean_y - theta * dx) * 1000000.0 + 0.5) / 1000000.0
      |         AS mean_y_cuped
      |FROM d""".stripMargin

  /** Trailing 24h per-user feature via a RANGE window frame — the
    * time-bounded rolling aggregate row frames can't express (events
    * are irregular; "last 24 hours" ≠ "last N rows"). The frame bound
    * is integer µs, sums are integer cents, and equal-timestamp rows
    * are frame-included as a SET in both engines — fully exact.
    * One keyed window; q62's hopping windows bucket time, this slides
    * per event.
    */
  def trailingWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400000000L - 1
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-dayUs, 0)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("trail_cents", sum(col("cents")).over(w))
      .withColumn("trail_n", count(lit(1)).over(w))
  }

  val trailingWindowSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_id, user_id, us, cents,
      |       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY us
      |               RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS trail_cents,
      |       CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
      |               RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS trail_n
      |FROM e""".stripMargin

  /** Quantile normalization — remap each group's value distribution
    * onto the GLOBAL distribution (the batch-effect correction /
    * cross-source feature alignment step): a value at within-group
    * rank r (of n_g) targets global rank
    * `k = (r−1)·(N−1) div (n_g−1) + 1`, then snaps to its quantile
    * slot's representative — the global value at rank
    * `rq = (⌊(k−1)·B/N⌋)·N div B + 1` with `B = 1024` slots. The
    * index arithmetic is ALL integer (no percent_rank double ever
    * materializes), so the mapping replays exactly. Singleton groups
    * map to the global minimum rather than dividing by zero.
    *
    * DEFAULT plan has NO unpartitioned window: per-group ranks use
    * group-partitioned windows; the slot→value lookup is built from
    * [[graft.transform.Stats.exactRankIntervals]] (distinct-value
    * histogram with two-level cumulative counts — keyed aggs,
    * broadcast joins, bucket-partitioned windows only), joined to the
    * B-row slot frame, then broadcast onto the rows. The r7-era exact
    * global `row_number()` rank survives as the `exact = true` opt-in
    * for moderate-cardinality frames; `nSlots = N` provably recovers
    * it (`q = k−1`, `rq = k` — pinned in StatsSpec), so the
    * bucketized operator is a strict generalization.
    *
    * Oracle: spelled with the NAIVE global `row_number()` ranking, so
    * the hash gate doubles as a machine-checked proof that the
    * windowless interval construction loses nothing.
    */
  def quantileNormalize(s: SparkSession, dir: String): DataFrame =
    quantileNormalizeImpl(s, dir, nSlots = 1024, exact = false)

  def quantileNormalizeImpl(s: SparkSession, dir: String, nSlots: Int,
      exact: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val wg = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").asc, col("event_id").asc)
    val n = base.agg(count(lit(1)).as("n_all"))
    val ranked = base
      .withColumn("r", row_number().over(wg).cast("long"))
      .withColumn("n_g", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .crossJoin(broadcast(n))
      .withColumn("g_rank",
        when(col("n_g") === 1, lit(1L)).otherwise(
          expr("(r - 1) * (n_all - 1) div (n_g - 1)") + 1L))
    if (exact) {
      val globalRanked = base
        .select(col("cents").as("g_cents"), col("event_id").as("g_id"))
        .withColumn("g_rank", row_number().over(
          Window.orderBy(col("g_cents").asc, col("g_id").asc)).cast("long"))
        .select(col("g_rank"), col("g_cents"))
      ranked.join(globalRanked, Seq("g_rank"))
        .select(col("event_id"), col("event_type"), col("cents"),
          col("r"), col("g_rank"), col("g_cents").as("norm_cents"))
    } else {
      val intervals = graft.transform.Stats.exactRankIntervals(base, "cents")
      val slots = s.range(nSlots).toDF("qslot")
        .crossJoin(broadcast(n))
        .select(col("qslot"),
          (expr(s"qslot * n_all div $nSlots") + 1L).as("rq"))
      val rep = intervals.join(broadcast(slots),
          col("rq") >= col("lo") && col("rq") <= col("hi"))
        .select(col("qslot"), col("v").as("norm_cents"))
      ranked
        .withColumn("qslot", expr(s"(g_rank - 1) * $nSlots div n_all"))
        .join(broadcast(rep), Seq("qslot"))
        .select(col("event_id"), col("event_type"), col("cents"),
          col("r"), col("g_rank"), col("norm_cents"))
    }
  }

  val quantileNormalizeSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |g AS (
      |  SELECT cents AS g_cents,
      |         CAST(row_number() OVER (ORDER BY cents ASC, event_id ASC)
      |              AS BIGINT) AS g_rank
      |  FROM e),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM e),
      |r AS (
      |  SELECT event_id, event_type, cents,
      |         CAST(row_number() OVER (PARTITION BY event_type
      |                                 ORDER BY cents ASC, event_id ASC)
      |              AS BIGINT) AS r,
      |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_g
      |  FROM e),
      |m AS (
      |  SELECT r.event_id, r.event_type, r.cents, r.r, n.n_all,
      |         CASE WHEN r.n_g = 1 THEN 1
      |              ELSE (r.r - 1) * (n.n_all - 1) // (r.n_g - 1) + 1
      |         END AS g_rank
      |  FROM r CROSS JOIN n),
      |q AS (
      |  SELECT m.*,
      |         ((m.g_rank - 1) * 1024 // m.n_all) * m.n_all // 1024 + 1 AS rq
      |  FROM m)
      |SELECT q.event_id, q.event_type, q.cents, q.r,
      |       CAST(q.g_rank AS BIGINT) AS g_rank, g.g_cents AS norm_cents
      |FROM q JOIN g ON g.g_rank = q.rq""".stripMargin

  /** Two-proportion z-test (q133) — the conversion-rate significance
    * readout beside q102's CUPED means and q108's AUC: users md5-split
    * into arms A/B (the q102 coin), converted = any purchase event;
    * emits per-arm n/x/rate and the pooled z statistic
    * `(p1−p2)/√(p̂(1−p̂)(1/n1+1/n2))`. Counts are exact longs; every
    * derived double is a fixed IEEE op sequence spelled identically in
    * the oracle (sqrt is exact-rounded), so the statistic gates
    * BITWISE with no rounding column. Degenerate pools (p̂ ∈ {0,1})
    * emit NULL. One user-keyed agg + a 1-row arm pivot.
    */
  def twoProportionZ(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm",
        when(conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8, "A").otherwise("B"))
    val armAgg = users.groupBy()
      .agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === "A", col("converted")).otherwise(0L)).as("x1"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n2"),
        sum(when(col("arm") === "B", col("converted")).otherwise(0L)).as("x2"))
    def d(c: String) = col(c).cast("double")
    val p1 = d("x1") / d("n1")
    val p2 = d("x2") / d("n2")
    val pp = (d("x1") + d("x2")) / (d("n1") + d("n2"))
    armAgg.select(col("n1"), col("x1"), col("n2"), col("x2"),
      when(col("n1") > 0, p1).as("p1"),
      when(col("n2") > 0, p2).as("p2"),
      when(col("n1") > 0 && col("n2") > 0 &&
          col("x1") + col("x2") > 0 &&
          col("x1") + col("x2") < col("n1") + col("n2"),
        (p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / d("n1") + lit(1.0) / d("n2"))))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  val twoProportionZSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS converted,
      |         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
      |                   ::BIGINT < 8 THEN 'A' ELSE 'B' END AS arm
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS x1,
      |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS x2
      |  FROM u)
      |SELECT n1, x1, n2, x2,
      |       CASE WHEN n1 > 0 THEN CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) END
      |         AS p1,
      |       CASE WHEN n2 > 0 THEN CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) END
      |         AS p2,
      |       CASE WHEN n1 > 0 AND n2 > 0 AND x1 + x2 > 0
      |                 AND x1 + x2 < n1 + n2
      |            THEN (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |                  - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |                 / sqrt(((CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE))
      |                         / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
      |                        * (1.0 - (CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE))
      |                                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
      |                        * (1.0 / CAST(n1 AS DOUBLE)
      |                           + 1.0 / CAST(n2 AS DOUBLE)))
      |       END AS z
      |FROM a""".stripMargin

  /** Period-over-period delta contribution (q132) — the "what moved
    * the metric" decomposition every metrics review runs: split the
    * event range into halves at the midpoint (1-row broadcast bounds),
    * aggregate cents per (event_type, half) in ONE conditional keyed
    * agg, and emit each type's delta plus its share of the total
    * delta. All counts exact longs; the share is one IEEE division of
    * exact integers (bitwise cross-engine, no rounding column), NULL
    * when the total delta is zero (ANSI-safe).
    */
  def deltaContribution(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      unix_micros(col("ts")).as("us"),
      graft.transform.Stats.cents(col("value")).as("cents"))
    val bounds = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val per = e.crossJoin(broadcast(bounds))
      .withColumn("p2", (col("us") > expr("(mn + mx) div 2")).cast("long"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("p2") === 0, col("cents")).otherwise(0L)).as("c1_cents"),
        sum(when(col("p2") === 1, col("cents")).otherwise(0L)).as("c2_cents"),
        sum(lit(1L) - col("p2")).as("n1"), sum(col("p2")).as("n2"))
      .withColumn("delta_cents", col("c2_cents") - col("c1_cents"))
    val tot = per.agg(sum(col("delta_cents")).as("td"))
    per.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n1"), col("n2"),
        col("c1_cents"), col("c2_cents"), col("delta_cents"),
        when(col("td") =!= 0,
          col("delta_cents").cast("double") / col("td").cast("double"))
          .otherwise(lit(null).cast("double")).as("delta_share"))
  }

  val deltaContributionSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |b AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
      |p AS (
      |  SELECT event_type,
      |         CAST(sum(CASE WHEN us > (b.mn + b.mx) // 2 THEN 0 ELSE cents
      |                  END) AS BIGINT) AS c1_cents,
      |         CAST(sum(CASE WHEN us > (b.mn + b.mx) // 2 THEN cents ELSE 0
      |                  END) AS BIGINT) AS c2_cents,
      |         CAST(sum(CASE WHEN us > (b.mn + b.mx) // 2 THEN 0 ELSE 1
      |                  END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN us > (b.mn + b.mx) // 2 THEN 1 ELSE 0
      |                  END) AS BIGINT) AS n2
      |  FROM e CROSS JOIN b GROUP BY 1),
      |d AS (SELECT p.*, c2_cents - c1_cents AS delta_cents FROM p),
      |t AS (SELECT CAST(sum(delta_cents) AS BIGINT) AS td FROM d)
      |SELECT d.event_type, d.n1, d.n2, d.c1_cents, d.c2_cents,
      |       CAST(d.delta_cents AS BIGINT) AS delta_cents,
      |       CASE WHEN t.td <> 0
      |            THEN CAST(d.delta_cents AS DOUBLE) / CAST(t.td AS DOUBLE)
      |       END AS delta_share
      |FROM d CROSS JOIN t""".stripMargin

  /** Earth-mover (W₁) drift per event type (q137,
    * [[graft.transform.Stats.emdByKey]]) on the q75 first/second-half
    * split — the integrated-CDF-gap companion to PSI (q75) and KS
    * (q121): the numerator is an exact DECIMAL↔HUGEINT cross-product
    * sum, the headline emd ONE division of once-converted exact
    * operands — bitwise, no rounding column.
    */
  def emdDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        graft.transform.Stats.cents(col("value")).as("cents"))
    val mid = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("mn + (mx - mn) div 2").as("mid"))
    val tagged = e.crossJoin(broadcast(mid)).persist()
    val ref = tagged.filter(col("us") <= col("mid"))
      .select(col("event_type"), col("cents"))
    val cur = tagged.filter(col("us") > col("mid"))
      .select(col("event_type"), col("cents"))
    graft.transform.Stats.emdByKey(ref, cur, Seq("event_type"), "cents", 10)
  }

  val emdDriftSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |m AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM e),
      |ref AS (SELECT event_type, cents FROM e, m WHERE us <= mid),
      |cur AS (SELECT event_type, cents FROM e, m WHERE us > mid),
      |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM ref),
      |rb AS (SELECT event_type,
      |              least(9, greatest(0, ((cents - mn) * 10) // (mx - mn + 1))) AS bucket,
      |              count(*) AS n_ref
      |       FROM ref, b GROUP BY 1, 2),
      |cb AS (SELECT event_type,
      |              least(9, greatest(0, ((cents - mn) * 10) // (mx - mn + 1))) AS bucket,
      |              count(*) AS n_cur
      |       FROM cur, b GROUP BY 1, 2),
      |rt AS (SELECT event_type, count(*) AS nt_ref FROM ref GROUP BY 1),
      |ct AS (SELECT event_type, count(*) AS nt_cur FROM cur GROUP BY 1),
      |grid AS (SELECT event_type, unnest(range(0, 10)) AS bucket
      |         FROM (SELECT DISTINCT event_type FROM ref)),
      |j AS (SELECT grid.event_type, grid.bucket,
      |             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur,
      |             nt_ref, coalesce(nt_cur, 0) AS nt_cur
      |      FROM grid LEFT JOIN rb USING (event_type, bucket)
      |                LEFT JOIN cb USING (event_type, bucket)
      |                JOIN rt USING (event_type)
      |                LEFT JOIN ct USING (event_type)),
      |k AS (SELECT event_type, nt_ref, nt_cur,
      |             abs(CAST(sum(n_ref) OVER (PARTITION BY event_type
      |                   ORDER BY bucket ASC ROWS BETWEEN UNBOUNDED PRECEDING
      |                   AND CURRENT ROW) AS HUGEINT) * nt_cur
      |                 - CAST(sum(n_cur) OVER (PARTITION BY event_type
      |                   ORDER BY bucket ASC ROWS BETWEEN UNBOUNDED PRECEDING
      |                   AND CURRENT ROW) AS HUGEINT) * nt_ref) AS gap
      |      FROM j)
      |SELECT event_type,
      |       CAST(nt_ref AS BIGINT) AS nt_ref, CAST(nt_cur AS BIGINT) AS nt_cur,
      |       CAST(sum(gap) AS BIGINT) AS emd_num,
      |       CASE WHEN nt_ref > 0 AND nt_cur > 0
      |            THEN CAST(sum(gap) AS DOUBLE)
      |                 / CAST(CAST(nt_ref AS HUGEINT) * nt_cur * 10 AS DOUBLE)
      |       END AS emd
      |FROM k GROUP BY event_type, nt_ref, nt_cur""".stripMargin

  /** Jensen-Shannon drift per event type (q143,
    * [[graft.transform.Stats.jsdByKey]]) on the q75/q137 first/second-
    * half split — the bounded symmetric member of the drift battery
    * (PSI q75, KS q121, W₁ q137): finite even when a bin empties,
    * ≤ ln 2 by construction, so one alarm threshold works across
    * features of any scale. Same ln-budget argument as PSI: bounded
    * keys×bins output, pround(6) absorbs the ±1-ulp ln step.
    */
  def jsdDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        graft.transform.Stats.cents(col("value")).as("cents"))
    val mid = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("mn + (mx - mn) div 2").as("mid"))
    val tagged = e.crossJoin(broadcast(mid)).persist()
    val ref = tagged.filter(col("us") <= col("mid"))
      .select(col("event_type"), col("cents"))
    val cur = tagged.filter(col("us") > col("mid"))
      .select(col("event_type"), col("cents"))
    graft.transform.Stats.jsdByKey(ref, cur, Seq("event_type"), "cents", 10)
  }

  val jsdDriftSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |m AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM e),
      |ref AS (SELECT event_type, cents FROM e, m WHERE us <= mid),
      |cur AS (SELECT event_type, cents FROM e, m WHERE us > mid),
      |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM ref),
      |rb AS (SELECT event_type,
      |              least(9, greatest(0, ((cents - mn) * 10) // (mx - mn + 1))) AS bucket,
      |              count(*) AS n_ref
      |       FROM ref, b GROUP BY 1, 2),
      |cb AS (SELECT event_type,
      |              least(9, greatest(0, ((cents - mn) * 10) // (mx - mn + 1))) AS bucket,
      |              count(*) AS n_cur
      |       FROM cur, b GROUP BY 1, 2),
      |rt AS (SELECT event_type, count(*) AS nt_ref FROM ref GROUP BY 1),
      |ct AS (SELECT event_type, count(*) AS nt_cur FROM cur GROUP BY 1),
      |grid AS (SELECT event_type, unnest(range(0, 10)) AS bucket
      |         FROM (SELECT DISTINCT event_type FROM ref)),
      |j AS (SELECT grid.event_type, grid.bucket,
      |             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur,
      |             nt_ref, coalesce(nt_cur, 0) AS nt_cur
      |      FROM grid LEFT JOIN rb USING (event_type, bucket)
      |                LEFT JOIN cb USING (event_type, bucket)
      |                JOIN rt USING (event_type)
      |                LEFT JOIN ct USING (event_type)),
      |k AS (SELECT event_type, bucket, n_ref, n_cur,
      |             (CAST(n_ref + 1 AS DOUBLE) / CAST(nt_ref + 10 AS DOUBLE)
      |              * ln((CAST(n_ref + 1 AS DOUBLE) / CAST(nt_ref + 10 AS DOUBLE))
      |                   / ((CAST(n_ref + 1 AS DOUBLE) / CAST(nt_ref + 10 AS DOUBLE)
      |                       + CAST(n_cur + 1 AS DOUBLE) / CAST(nt_cur + 10 AS DOUBLE))
      |                      * 0.5))
      |              + CAST(n_cur + 1 AS DOUBLE) / CAST(nt_cur + 10 AS DOUBLE)
      |              * ln((CAST(n_cur + 1 AS DOUBLE) / CAST(nt_cur + 10 AS DOUBLE))
      |                   / ((CAST(n_ref + 1 AS DOUBLE) / CAST(nt_ref + 10 AS DOUBLE)
      |                       + CAST(n_cur + 1 AS DOUBLE) / CAST(nt_cur + 10 AS DOUBLE))
      |                      * 0.5))) * 0.5 AS c
      |      FROM j)
      |SELECT event_type, bucket, n_ref, n_cur,
      |       floor(c * 1000000.0 + 0.5) / 1000000.0 AS contrib,
      |       floor(sum(c) OVER (PARTITION BY event_type ORDER BY bucket ASC
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |             * 1000000.0 + 0.5) / 1000000.0 AS jsd_cum
      |FROM k""".stripMargin

  /** Z-order file-layout simulation (q144) — the read side of
    * [[graft.transform.Transforms.zOrderWrite]], hash-gated: both
    * dims bucketize to 8 bits (user bucket; value bucket against a
    * 1-row broadcast bounds frame), Morton-interleave via the codegen
    * [[graft.functions.InterleaveBits]] into a 16-bit z-value, and
    * each run of 1024 consecutive z-values is one simulated file.
    * Because 1024 = 4⁵, every file is an ALIGNED 32×32 rectangle in
    * (x, y) space — the emitted per-file min/max/span stats are the
    * data-skipping argument made machine-checkable (a lexicographic
    * layout would span the full 256 on the trailing dim). The oracle
    * replays the interleave as the classic shift-and-mask cascade in
    * SQL, so the hash gate doubles as a cross-engine equivalence
    * proof of the custom expression ON TOP of its byte-equivalence
    * spec. Row-local integer ops + ONE keyed agg — no window, no
    * shuffle join.
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select((col("user_id") % 256).as("x"),
        graft.transform.Stats.cents(col("value")).as("cents"))
    val bounds = e.agg(min(col("cents")).as("__mn"), max(col("cents")).as("__mx"))
    e.crossJoin(broadcast(bounds))
      .select(col("x"),
        least(lit(255L), greatest(lit(0L),
          expr("((cents - __mn) * 256) div (__mx - __mn + 1)"))).as("y"))
      .withColumn("z", graft.functions.functions.interleave_bits(col("x"), col("y")))
      .withColumn("file_id", expr("z div 1024"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .select(col("file_id"), col("n"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"),
        (col("max_x") - col("min_x") + 1).as("span_x"),
        (col("max_y") - col("min_y") + 1).as("span_y"))
  }

  /** Shared oracle CTE chain: events → (event_id, x, y) grid cells →
    * per-row z value via the interleave-bits spread replay. Ends in
    * `zz(event_id, x, y, z)`; used by the q144 layout oracle and the
    * q173 pruning-benefit oracle.
    */
  private val zorderZCtes: String =
    """e AS (
      |  SELECT event_id, user_id % 256 AS x,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM e),
      |xy AS (
      |  SELECT event_id, x,
      |         least(255, greatest(0, ((cents - mn) * 256) // (mx - mn + 1)))
      |           AS y
      |  FROM e CROSS JOIN b),
      |sx AS (SELECT event_id, x, y, (x | (x << 16)) & 281470681808895 AS v FROM xy),
      |sx2 AS (SELECT event_id, x, y, (v | (v << 8)) & 71777214294589695 AS v FROM sx),
      |sx3 AS (SELECT event_id, x, y, (v | (v << 4)) & 1085102592571150095 AS v FROM sx2),
      |sx4 AS (SELECT event_id, x, y, (v | (v << 2)) & 3689348814741910323 AS v FROM sx3),
      |sx5 AS (SELECT event_id, x, y, (v | (v << 1)) & 6148914691236517205 AS xs FROM sx4),
      |sy AS (SELECT event_id, x, y, xs, (y | (y << 16)) & 281470681808895 AS w FROM sx5),
      |sy2 AS (SELECT event_id, x, y, xs, (w | (w << 8)) & 71777214294589695 AS w FROM sy),
      |sy3 AS (SELECT event_id, x, y, xs, (w | (w << 4)) & 1085102592571150095 AS w FROM sy2),
      |sy4 AS (SELECT event_id, x, y, xs, (w | (w << 2)) & 3689348814741910323 AS w FROM sy3),
      |sy5 AS (SELECT event_id, x, y, xs, (w | (w << 1)) & 6148914691236517205 AS ys FROM sy4),
      |zz AS (SELECT event_id, x, y, (xs | (ys << 1)) AS z FROM sy5)""".stripMargin

  val zorderLayoutSql: String =
    s"""WITH $zorderZCtes,
      |z AS (SELECT x, y, z // 1024 AS file_id FROM zz)
      |SELECT file_id, CAST(count(*) AS BIGINT) AS n,
      |       min(x) AS min_x, max(x) AS max_x,
      |       min(y) AS min_y, max(y) AS max_y,
      |       max(x) - min(x) + 1 AS span_x,
      |       max(y) - min(y) + 1 AS span_y
      |FROM z GROUP BY file_id""".stripMargin

  /** Zone-map pruning benefit (q173) — the DECISION readout data
    * layout exists for: given per-file min/max zone maps (the parquet/
    * Delta/Iceberg data-skipping statistics), how many files and rows
    * does a representative predicate workload actually scan under the
    * q144 z-order layout vs a plain (x-major, y) linear sort layout?
    * Three template predicates (an x-cohort scan, a y value-band scan,
    * their conjunction) probe both layouts; output is per (predicate,
    * layout): files/rows total and scanned. All-integer overlap tests,
    * so the readout hash-gates.
    *
    * Scale: both layouts are manufactured WITHOUT a global sort — the
    * z-order file id is row-local codegen (interleave_bits div), and
    * the linear layout's exact rank rides the q104/q170 interval
    * machinery (keyed aggs + broadcast joins + a key-partitioned
    * tiebreak window). File statistics frames are metadata-scale
    * (rows/1024); only those cross the 3-row broadcast predicate
    * frame. The oracle spells the linear rank as the NAIVE global
    * row_number, so the gate again proves the windowless rank
    * construction lossless.
    */
  def zoneMapPruning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "events")
      .select(col("event_id"), (col("user_id") % 256).as("x"),
        graft.transform.Stats.cents(col("value")).as("cents"))
    val bounds = e.agg(min(col("cents")).as("__mn"), max(col("cents")).as("__mx"))
    val xy = e.crossJoin(broadcast(bounds))
      .select(col("event_id"), col("x"),
        least(lit(255L), greatest(lit(0L),
          expr("((cents - __mn) * 256) div (__mx - __mn + 1)"))).as("y"))
    val zf = xy
      .withColumn("z", graft.functions.functions.interleave_bits(col("x"), col("y")))
      .select(lit("zorder").as("layout"), expr("z div 1024").as("file_id"),
        col("x"), col("y"))
    val keyed = xy.withColumn("key", col("x") * 256L + col("y"))
    val intervals = graft.transform.Stats.exactRankIntervals(keyed, "key")
      .select(col("v").as("key"), col("lo"))
    val wv = Window.partitionBy(col("key")).orderBy(col("event_id").asc)
    val lf = keyed.join(broadcast(intervals), Seq("key"))
      .withColumn("rank", col("lo") + row_number().over(wv) - 1L)
      .select(lit("linear").as("layout"),
        expr("(rank - 1) div 1024").as("file_id"), col("x"), col("y"))
    val stats = zf.unionByName(lf)
      .groupBy(col("layout"), col("file_id"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    val preds = Seq(
      ("x_cohort", 10L, 19L, 0L, 255L),
      ("y_band", 0L, 255L, 100L, 119L),
      ("x_and_y", 40L, 49L, 100L, 119L))
      .toDF("pred", "lo_x", "hi_x", "lo_y", "hi_y")
    val hit = col("min_x") <= col("hi_x") && col("max_x") >= col("lo_x") &&
      col("min_y") <= col("hi_y") && col("max_y") >= col("lo_y")
    stats.crossJoin(broadcast(preds))
      .groupBy(col("pred"), col("layout"))
      .agg(count(lit(1)).as("files_total"),
        sum(when(hit, 1L).otherwise(0L)).as("files_scanned"),
        sum(col("n")).as("rows_total"),
        sum(when(hit, col("n")).otherwise(0L)).as("rows_scanned"))
  }

  val zoneMapPruningSql: String =
    s"""WITH $zorderZCtes,
       |fz AS (
       |  SELECT 'zorder' AS layout, z // 1024 AS file_id,
       |         CAST(count(*) AS BIGINT) AS n,
       |         min(x) AS min_x, max(x) AS max_x,
       |         min(y) AS min_y, max(y) AS max_y
       |  FROM zz GROUP BY 1, 2),
       |lin AS (
       |  SELECT x, y,
       |         CAST(row_number() OVER (ORDER BY x * 256 + y ASC, event_id ASC)
       |              AS BIGINT) AS rk
       |  FROM xy),
       |fl AS (
       |  SELECT 'linear' AS layout, (rk - 1) // 1024 AS file_id,
       |         CAST(count(*) AS BIGINT) AS n,
       |         min(x) AS min_x, max(x) AS max_x,
       |         min(y) AS min_y, max(y) AS max_y
       |  FROM lin GROUP BY 1, 2),
       |f AS (SELECT * FROM fz UNION ALL SELECT * FROM fl),
       |p(pred, lo_x, hi_x, lo_y, hi_y) AS (VALUES
       |  ('x_cohort', 10, 19, 0, 255),
       |  ('y_band', 0, 255, 100, 119),
       |  ('x_and_y', 40, 49, 100, 119))
       |SELECT p.pred, f.layout,
       |       CAST(count(*) AS BIGINT) AS files_total,
       |       CAST(sum(CASE WHEN f.min_x <= p.hi_x AND f.max_x >= p.lo_x
       |                      AND f.min_y <= p.hi_y AND f.max_y >= p.lo_y
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       |       CAST(sum(f.n) AS BIGINT) AS rows_total,
       |       CAST(sum(CASE WHEN f.min_x <= p.hi_x AND f.max_x >= p.lo_x
       |                      AND f.min_y <= p.hi_y AND f.max_y >= p.lo_y
       |                     THEN f.n ELSE 0 END) AS BIGINT) AS rows_scanned
       |FROM f CROSS JOIN p GROUP BY 1, 2""".stripMargin

  /** Benford first-digit screen (q148) — the classic books-cooking /
    * synthetic-data smell test: per event type, the observed leading-
    * digit distribution of positive cent amounts against Benford's
    * `p_d = log₁₀(1 + 1/d)`, as a χ² with per-digit contributions and
    * the frame-order-pinned running total (the q75 PSI discipline).
    * `p_d` is spelled `ln(1+1/d)/ln(10)` in BOTH engines — two ±1-ulp
    * lns of identical inputs on a 9×keys-bounded output, absorbed by
    * pround(6). Leading digit extraction is string-prefix of the
    * exact integer — replayed verbatim in SQL. Keyed counts with
    * map-side partials + a 9-row-per-key grid with broadcast joins.
    */
  def benfordScreen(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.util.Rounding.pround
    val e = t(s, dir, "events")
      .select(col("event_type"),
        graft.transform.Stats.cents(col("value")).as("cents"))
      .filter(col("cents") > 0L)
      .select(col("event_type"),
        substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
    val counts = e.groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val totals = e.groupBy(col("event_type")).agg(count(lit(1)).as("n_total"))
    val grid = e.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(1L), lit(9L))).as("digit"))
    val p = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0))
    val expd = col("n_total").cast("double") * p
    val contrib = (col("n_obs").cast("double") - expd) *
      (col("n_obs").cast("double") - expd) / expd
    val w = Window.partitionBy(col("event_type")).orderBy(col("digit").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(broadcast(counts), Seq("event_type", "digit"), "left")
      .join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("digit"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"), col("n_total"))
      .select(col("event_type"), col("digit"), col("n_obs"), col("n_total"),
        pround(contrib, 6).as("contrib"),
        pround(sum(contrib).over(w), 6).as("chi2_cum"))
  }

  val benfordScreenSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |         CAST(substr(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
      |                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM events
      |  WHERE CAST(floor(value * 100 + 0.5) AS BIGINT) > 0),
      |c AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n_obs
      |      FROM e GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
      |      FROM e GROUP BY 1),
      |grid AS (SELECT event_type, unnest(range(1, 10)) AS digit
      |         FROM (SELECT DISTINCT event_type FROM e)),
      |j AS (SELECT grid.event_type, CAST(grid.digit AS BIGINT) AS digit,
      |             coalesce(n_obs, 0) AS n_obs, n_total,
      |             (coalesce(n_obs, 0) - CAST(n_total AS DOUBLE)
      |                * (ln(1.0 + 1.0 / CAST(grid.digit AS DOUBLE)) / ln(10.0)))
      |             * (coalesce(n_obs, 0) - CAST(n_total AS DOUBLE)
      |                * (ln(1.0 + 1.0 / CAST(grid.digit AS DOUBLE)) / ln(10.0)))
      |             / (CAST(n_total AS DOUBLE)
      |                * (ln(1.0 + 1.0 / CAST(grid.digit AS DOUBLE)) / ln(10.0)))
      |               AS contrib
      |      FROM grid LEFT JOIN c USING (event_type, digit)
      |                JOIN t USING (event_type))
      |SELECT event_type, digit, n_obs, n_total,
      |       floor(contrib * 1000000.0 + 0.5) / 1000000.0 AS contrib,
      |       floor(sum(contrib) OVER (PARTITION BY event_type
      |               ORDER BY digit ASC ROWS BETWEEN UNBOUNDED PRECEDING
      |               AND CURRENT ROW) * 1000000.0 + 0.5) / 1000000.0
      |         AS chi2_cum
      |FROM j""".stripMargin

  /** Event co-occurrence lift (q149) — market-basket analysis over
    * user behavior: for each unordered event-type pair, how much more
    * often do both appear in one user's history than independence
    * predicts (`lift = n_both·N / (n_a·n_b)`), plus the pair Jaccard.
    * The pair space is type²-bounded, so the self-join explodes at
    * most C(T,2) rows per user — bounded fan-out by construction, and
    * it rides the user-keyed equi-join (the residual `t1 < t2` halves
    * it). Count frames broadcast; lift's numerator/denominator are
    * exact DECIMAL↔HUGEINT cross products converted once — bitwise.
    */
  def eventLift(s: SparkSession, dir: String): DataFrame = {
    val pres = t(s, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    val na = pres.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val nUsers = pres.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val pairs = pres.as("a")
      .join(pres.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_both"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    pairs
      .join(broadcast(na.select(col("event_type").as("t1"),
        col("n_t").as("n_t1"))), Seq("t1"))
      .join(broadcast(na.select(col("event_type").as("t2"),
        col("n_t").as("n_t2"))), Seq("t2"))
      .crossJoin(broadcast(nUsers))
      .select(col("t1"), col("t2"), col("n_both"), col("n_t1"), col("n_t2"),
        ((dec(col("n_both")) * dec(col("n_users"))).cast("decimal(38,0)")
          .cast("double") /
          (dec(col("n_t1")) * dec(col("n_t2"))).cast("decimal(38,0)")
            .cast("double")).as("lift"),
        (col("n_both").cast("double") /
          (col("n_t1") + col("n_t2") - col("n_both")).cast("double"))
          .as("jaccard"))
  }

  val eventLiftSql: String =
    """WITH pres AS (SELECT DISTINCT user_id, event_type FROM events),
      |na AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
      |       FROM pres GROUP BY 1),
      |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |       FROM pres),
      |p AS (SELECT a.event_type AS t1, b.event_type AS t2,
      |             CAST(count(*) AS BIGINT) AS n_both
      |      FROM pres a JOIN pres b
      |        ON a.user_id = b.user_id AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT t1, t2, n_both, a1.n_t AS n_t1, a2.n_t AS n_t2,
      |       CAST(CAST(n_both AS HUGEINT) * n_users AS DOUBLE)
      |         / CAST(CAST(a1.n_t AS HUGEINT) * a2.n_t AS DOUBLE) AS lift,
      |       CAST(n_both AS DOUBLE)
      |         / CAST(a1.n_t + a2.n_t - n_both AS DOUBLE) AS jaccard
      |FROM p JOIN na a1 ON p.t1 = a1.event_type
      |       JOIN na a2 ON p.t2 = a2.event_type
      |       CROSS JOIN nu""".stripMargin

  /** KMV (k-minimum-values) distinct sketch (q150) — the third member
    * of the cardinality family (linear counting q92, HLL q118): keep
    * the k smallest 60-bit md5 hashes per key; the k-th smallest
    * estimates distinct count as `(k−1)·2⁶⁰ / h₍ₖ₎` (uniform order
    * statistics), and sketches MERGE by keeping the k smallest of a
    * union — the map-side-combinable property that matters at 100 TB.
    * The min-k runs through the mergeable bounded-heap aggregate
    * ([[graft.transform.Skew.aggTopKArray]], r22 — map-side heaps bound
    * every key at k hashes before the shuffle; no reducer sees a whole
    * key, and the sketch row count/max read straight off the array with
    * no rank window or second groupBy); the ORACLE takes the k smallest
    * via the naive single window, so the gate is a losslessness proof
    * of the heap cut. Keys with fewer than k members estimate exactly.
    * `63·2⁶⁰` is bit-exact in binary64; h₍ₖ₎ converts once (identical
    * round-to-nearest both engines); one division.
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val kth = graft.transform.Skew.aggTopKArray(
      h, Seq(col("event_type")), col("h"), k = 64, outCol = "__mins")
      .select(col("event_type"),
        size(col("__mins")).cast("long").as("n_kept"),
        array_max(col("__mins")).as("kth_hash"))
    val exact = h.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    exact.join(kth, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_kept"), col("kth_hash"),
        when(col("n_kept") < 64L, col("n_kept").cast("double"))
          .otherwise(lit(63.0) * lit(1152921504606846976.0) /
            col("kth_hash").cast("double")).as("est_kmv"))
  }

  val kmvDistinctSql: String =
    """WITH pres AS (SELECT DISTINCT event_type, user_id FROM events),
      |h AS (SELECT event_type,
      |             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      |               AS h
      |      FROM pres),
      |r AS (SELECT event_type, h,
      |             CAST(row_number() OVER (PARTITION BY event_type
      |                                     ORDER BY h ASC) AS BIGINT) AS rn
      |      FROM h),
      |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
      |      FROM h GROUP BY 1),
      |k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
      |             max(h) AS kth_hash
      |      FROM r WHERE rn <= 64 GROUP BY 1)
      |SELECT a.event_type, a.n_exact, k.n_kept, k.kth_hash,
      |       CASE WHEN k.n_kept < 64 THEN CAST(k.n_kept AS DOUBLE)
      |            ELSE 63.0 * 1152921504606846976.0 / CAST(k.kth_hash AS DOUBLE)
      |       END AS est_kmv
      |FROM a JOIN k USING (event_type)""".stripMargin

  /** Join-size / skew forecast (q154,
    * [[graft.transform.Skew.joinSizeForecast]]) — the pre-flight
    * audit for the events self-join on user_id (the pair-generation
    * shape that melted q113 before salting): exact output
    * cardinality Σ n², the ten hottest users, and each one's share
    * of the output — computed from two aggregations, never the join.
    */
  def joinForecast(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"))
    graft.transform.Skew.joinSizeForecast(e, e, Seq("user_id"), topK = 10)
  }

  val joinForecastSql: String =
    """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
      |           FROM events GROUP BY user_id),
      |p AS (SELECT user_id, n AS n_a, n AS n_b,
      |             CAST(CAST(n AS HUGEINT) * n AS BIGINT) AS pairs
      |      FROM c),
      |tt AS (SELECT CAST(sum(CAST(pairs AS HUGEINT)) AS BIGINT)
      |               AS total_pairs FROM p)
      |SELECT user_id, n_a, n_b, pairs, total_pairs,
      |       CAST(pairs AS DOUBLE) / CAST(total_pairs AS DOUBLE) AS share
      |FROM p CROSS JOIN tt
      |ORDER BY pairs DESC, user_id ASC LIMIT 10""".stripMargin

  /** Hour-of-day seasonal profile (q155,
    * [[graft.transform.Temporal.seasonalProfile]]): the classical-
    * decomposition seasonal component of per-type hourly value
    * totals, with the detrending done entirely in integers (see the
    * helper's scaladoc) — 24 rows per event type, one division each.
    */
  def seasonalProfileQ(s: SparkSession, dir: String): DataFrame =
    graft.transform.Temporal.seasonalProfile(
      t(s, dir, "events"), Seq("event_type"), "ts", "value")

  val seasonalProfileSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |         CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))
      |              AS BIGINT) // 3600 AS hr,
      |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |           AS c
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, hr, c,
      |         sum(c) OVER (PARTITION BY event_type ORDER BY hr ASC
      |                      ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
      |           AS tsum,
      |         count(c) OVER (PARTITION BY event_type ORDER BY hr ASC
      |                        ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
      |           AS tn,
      |         max(hr) OVER (PARTITION BY event_type ORDER BY hr ASC
      |                       ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
      |           - min(hr) OVER (PARTITION BY event_type ORDER BY hr ASC
      |                           ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
      |           AS hspan
      |  FROM h),
      |r AS (SELECT event_type, hr % 24 AS hour_of_day,
      |             c * 24 - tsum AS r24
      |      FROM w WHERE tn = 24 AND hspan = 23),
      |prof AS (
      |  SELECT event_type, hour_of_day,
      |         CAST(count(*) AS BIGINT) AS n_windows,
      |         CAST(sum(CAST(r24 AS HUGEINT)) AS BIGINT) AS seasonal_num
      |  FROM r GROUP BY event_type, hour_of_day),
      |grid AS (SELECT event_type, unnest(range(0, 24)) AS hour_of_day
      |         FROM (SELECT DISTINCT event_type FROM events))
      |SELECT g.event_type, CAST(g.hour_of_day AS BIGINT) AS hour_of_day,
      |       coalesce(p.n_windows, 0) AS n_windows,
      |       coalesce(p.seasonal_num, 0) AS seasonal_num,
      |       CASE WHEN coalesce(p.n_windows, 0) > 0
      |            THEN CAST(p.seasonal_num AS DOUBLE)
      |                 / (24.0 * CAST(p.n_windows AS DOUBLE)) END AS seasonal
      |FROM grid g LEFT JOIN prof p
      |  ON g.event_type = p.event_type AND g.hour_of_day = p.hour_of_day""".stripMargin

  /** Covariate-shift importance weights (q157) — the training-side
    * ANSWER to the drift the q75/q137/q143 monitors detect: per-
    * bucket weights `w = p_target/p_train` (Laplace-smoothed, train-
    * defined bins — the PSI binning contract) that reweight the train
    * half to match the target half, plus the running effective sample
    * size `ESS = (Σ n·w)²/Σ n·w²` — the number that says whether
    * reweighting is affordable or the drift demands new data. Each w
    * is a fixed 3-division IEEE sequence of exact operands; the ESS
    * terms ride frame-order-pinned running sums (the psi_cum
    * device), so the headline at the last bucket gates bitwise
    * under pround(6).
    */
  def importanceWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.util.Rounding.pround
    val e = t(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        graft.transform.Stats.cents(col("value")).as("cents"))
    val mid = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("mn + (mx - mn) div 2").as("mid"))
    val tagged = e.crossJoin(broadcast(mid)).persist()
    val trn = tagged.filter(col("us") <= col("mid"))
      .select(col("event_type"), col("cents"))
    val tgt = tagged.filter(col("us") > col("mid"))
      .select(col("event_type"), col("cents"))
    val bounds = trn.agg(min(col("cents")).as("__mn"), max(col("cents")).as("__mx"))
    def bucketed(df: DataFrame, out: String): DataFrame =
      df.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          least(lit(9L), greatest(lit(0L),
            expr("((cents - __mn) * 10) div (__mx - __mn + 1)"))).as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as(out))
    val cTrn = bucketed(trn, "n_train")
    val cTgt = bucketed(tgt, "n_target")
    val tTrn = trn.groupBy(col("event_type")).agg(count(lit(1)).as("nt_train"))
    val tTgt = tgt.groupBy(col("event_type")).agg(count(lit(1)).as("nt_target"))
    val grid = trn.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(9L))).as("bucket"))
    val pT = (col("n_target") + 1).cast("double") /
      (col("nt_target") + 10).cast("double")
    val pN = (col("n_train") + 1).cast("double") /
      (col("nt_train") + 10).cast("double")
    val w = pT / pN
    val wn = col("n_train").cast("double") * w
    val wd = (col("n_train").cast("double") * w) * w
    val win = Window.partitionBy(col("event_type")).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(broadcast(cTrn), Seq("event_type", "bucket"), "left")
      .join(broadcast(cTgt), Seq("event_type", "bucket"), "left")
      .join(broadcast(tTrn), Seq("event_type"))
      .join(broadcast(tTgt), Seq("event_type"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_target"), lit(0L)).as("n_target"),
        col("nt_train"), coalesce(col("nt_target"), lit(0L)).as("nt_target"))
      .select(col("event_type"), col("bucket"), col("n_train"), col("n_target"),
        pround(w, 6).as("w"),
        pround(when(sum(wd).over(win) > 0.0,
          (sum(wn).over(win) * sum(wn).over(win)) / sum(wd).over(win)),
          6).as("ess_cum"))
  }

  val importanceWeightsSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |m AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM e),
      |trn AS (SELECT event_type, cents FROM e, m WHERE us <= mid),
      |tgt AS (SELECT event_type, cents FROM e, m WHERE us > mid),
      |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM trn),
      |ctrn AS (SELECT event_type,
      |                least(9, greatest(0, ((cents - mn) * 10) // (mx - mn + 1))) AS bucket,
      |                count(*) AS n_train
      |         FROM trn, b GROUP BY 1, 2),
      |ctgt AS (SELECT event_type,
      |                least(9, greatest(0, ((cents - mn) * 10) // (mx - mn + 1))) AS bucket,
      |                count(*) AS n_target
      |         FROM tgt, b GROUP BY 1, 2),
      |ttrn AS (SELECT event_type, count(*) AS nt_train FROM trn GROUP BY 1),
      |ttgt AS (SELECT event_type, count(*) AS nt_target FROM tgt GROUP BY 1),
      |grid AS (SELECT event_type, unnest(range(0, 10)) AS bucket
      |         FROM (SELECT DISTINCT event_type FROM trn)),
      |j AS (SELECT grid.event_type, grid.bucket,
      |             coalesce(n_train, 0) AS n_train,
      |             coalesce(n_target, 0) AS n_target,
      |             nt_train, coalesce(nt_target, 0) AS nt_target
      |      FROM grid LEFT JOIN ctrn USING (event_type, bucket)
      |                LEFT JOIN ctgt USING (event_type, bucket)
      |                JOIN ttrn USING (event_type)
      |                LEFT JOIN ttgt USING (event_type)),
      |k AS (SELECT event_type, bucket, n_train, n_target,
      |             (CAST(n_target + 1 AS DOUBLE) / CAST(nt_target + 10 AS DOUBLE))
      |               / (CAST(n_train + 1 AS DOUBLE) / CAST(nt_train + 10 AS DOUBLE))
      |               AS w
      |      FROM j),
      |c AS (SELECT event_type, bucket, n_train, n_target, w,
      |             sum(CAST(n_train AS DOUBLE) * w)
      |               OVER (PARTITION BY event_type ORDER BY bucket ASC
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |               AS wn_cum,
      |             sum((CAST(n_train AS DOUBLE) * w) * w)
      |               OVER (PARTITION BY event_type ORDER BY bucket ASC
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |               AS wd_cum
      |      FROM k)
      |SELECT event_type, bucket, n_train, n_target,
      |       floor(w * 1000000.0 + 0.5) / 1000000.0 AS w,
      |       CASE WHEN wd_cum > 0.0
      |            THEN floor((wn_cum * wn_cum) / wd_cum * 1000000.0 + 0.5)
      |                 / 1000000.0 END AS ess_cum
      |FROM c""".stripMargin

  /** Inter-arrival burstiness index (q161) — the bot/incident screen
    * on top of q135's raw gap features: per event type, the pooled
    * user-partitioned gaps yield `CV² = n·Σg²/(Σg)² − 1` and
    * Goh-Barabási `B = (σ−μ)/(σ+μ)` (−1 periodic, 0 Poisson, →1
    * bursty). Moments assemble in DECIMAL (the corrByKey discipline —
    * never running double sums), emitted exactly, and the two
    * headline doubles are fixed IEEE sequences of once-converted
    * operands (sqrt is exactly rounded); single-gap types guard to
    * NULL under ANSI.
    */
  def burstiness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("us").asc)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val gaps = t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
    val agg = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sum_gap"),
        sum((dec(col("gap")) * dec(col("gap"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__sumsq"))
    val n = col("n_gaps").cast("double")
    val s1 = col("sum_gap").cast("double")
    val s2 = col("__sumsq").cast("double")
    val mu = s1 / n
    // clamp: cancellation can land variance −1 ulp below zero, and
    // DuckDB's sqrt ERRORS on negatives (Spark returns NaN) — the
    // greatest() keeps both engines on the same finite value
    val variance = greatest(s2 / n - mu * mu, lit(0.0))
    val sigma = sqrt(variance)
    agg.select(col("event_type"), col("n_gaps"), col("sum_gap"),
      col("__sumsq").cast("string").as("sum_gap_sq"),
      when(col("n_gaps") > 1L && col("sum_gap") > 0L,
        n * s2 / (s1 * s1) - lit(1.0)).as("cv2"),
      when(col("n_gaps") > 1L && col("sum_gap") > 0L,
        (sigma - mu) / (sigma + mu)).as("burstiness"))
  }

  val burstinessSql: String =
    """WITH e AS (
      |  SELECT event_type, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |         us - lag(us) OVER (PARTITION BY event_type, user_id
      |                            ORDER BY us ASC) AS gap
      |  FROM e),
      |f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
      |a AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |         CAST(sum(gap) AS BIGINT) AS sum_gap,
      |         sum(CAST(gap AS HUGEINT) * gap) AS sumsq
      |  FROM f GROUP BY event_type)
      |SELECT event_type, n_gaps, sum_gap,
      |       CAST(sumsq AS VARCHAR) AS sum_gap_sq,
      |       CASE WHEN n_gaps > 1 AND sum_gap > 0 THEN
      |         CAST(n_gaps AS DOUBLE) * CAST(sumsq AS DOUBLE)
      |           / (CAST(sum_gap AS DOUBLE) * CAST(sum_gap AS DOUBLE)) - 1.0
      |       END AS cv2,
      |       CASE WHEN n_gaps > 1 AND sum_gap > 0 THEN
      |         (sqrt(greatest(CAST(sumsq AS DOUBLE) / CAST(n_gaps AS DOUBLE)
      |               - (CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |                 * (CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
      |               0.0))
      |          - CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |         / (sqrt(greatest(CAST(sumsq AS DOUBLE) / CAST(n_gaps AS DOUBLE)
      |                 - (CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |                   * (CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
      |                 0.0))
      |            + CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |       END AS burstiness
      |FROM a""".stripMargin

  /** Nearest-as-of join (q166) — pandas `merge_asof(direction=
    * 'nearest')` semantics via [[graft.transform.AsOfJoin.nearestJoin]]:
    * each purchase attaches the user's CLOSEST click within ±30 min,
    * either direction, ties to the earlier click then the smaller id.
    * Complements the backward-only PIT join (q06) with the sensor/
    * event-alignment direction feature pipelines also need. All output
    * timestamps ride as exact unix micros.
    */
  def nearestAsof(s: SparkSession, dir: String): DataFrame = {
    // two independent loads: both sides of a nearest self-join must not
    // share lineage or DetectAmbiguousSelfJoin rejects the key-space join
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = t(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    graft.transform.AsOfJoin.nearestJoin(
        purchases, clicks, Seq("user_id"), "ts", "ts",
        java.time.Duration.ofMinutes(30))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("click_id"),
        unix_micros(col("ts_right")).as("click_ts_us"),
        (unix_micros(col("ts_right")) - unix_micros(col("ts")))
          .as("delta_us"))
  }

  val nearestAsofSql: String =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, event_id AS click_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS cus
      |  FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT p.user_id, p.us, c.click_id, c.cus,
      |         row_number() OVER (PARTITION BY p.user_id, p.us
      |                            ORDER BY abs(c.cus - p.us) ASC,
      |                                     c.cus ASC, c.click_id ASC) AS rn
      |  FROM (SELECT DISTINCT user_id, us FROM p) p
      |  JOIN c ON c.user_id = p.user_id
      |   AND c.cus BETWEEN p.us - 1800000000 AND p.us + 1800000000)
      |SELECT p.user_id, p.event_id, p.us AS ts_us,
      |       j.click_id, j.cus AS click_ts_us, j.cus - p.us AS delta_us
      |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
      |  ON j.user_id = p.user_id AND j.us = p.us""".stripMargin

  /** Time-to-convert (q167) — the forward direction completing the
    * as-of triple (backward q06 PIT, nearest q166): each click attaches
    * the user's EARLIEST purchase within the next 7 days via
    * [[graft.transform.AsOfJoin.forwardJoin]]; unconverted clicks
    * null-pad. Exact unix-micros outputs.
    */
  def timeToConvert(s: SparkSession, dir: String): DataFrame = {
    val clicks = t(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
    graft.transform.AsOfJoin.forwardJoin(
        clicks, purchases, Seq("user_id"), "ts", "ts",
        Some(java.time.Duration.ofDays(7)))
      .select(col("user_id"), col("click_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("purchase_id"),
        unix_micros(col("ts_right")).as("purchase_ts_us"),
        (unix_micros(col("ts_right")) - unix_micros(col("ts")))
          .as("tt_convert_us"))
  }

  val timeToConvertSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS pus
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT cc.user_id, cc.us, p.purchase_id, p.pus,
      |         row_number() OVER (PARTITION BY cc.user_id, cc.us
      |                            ORDER BY p.pus ASC, p.purchase_id ASC) AS rn
      |  FROM (SELECT DISTINCT user_id, us FROM c) cc
      |  JOIN p ON p.user_id = cc.user_id
      |   AND p.pus >= cc.us AND p.pus <= cc.us + 604800000000)
      |SELECT c.user_id, c.click_id, c.us AS ts_us,
      |       j.purchase_id, j.pus AS purchase_ts_us,
      |       j.pus - c.us AS tt_convert_us
      |FROM c LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
      |  ON j.user_id = c.user_id AND j.us = c.us""".stripMargin

  /** Lateness profile (q169) — see
    * [[graft.transform.Temporal.latenessProfile]]: per event-type
    * event-time lateness under arrival order (`event_id` as the arrival
    * sequence), the measurement that sizes a Structured Streaming
    * watermark delay. All outputs exact integer µs; the oracle is the
    * NAIVE unpartitioned running-max window, proving the chunked
    * two-level prefix scan lossless.
    */
  def latenessProfile(s: SparkSession, dir: String): DataFrame =
    Temporal.latenessProfile(t(s, dir, "events"), "event_id", "ts",
      "event_type")

  val latenessProfileSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |w AS (
      |  SELECT event_type,
      |         max(us) OVER (ORDER BY event_id ASC
      |                       ROWS BETWEEN UNBOUNDED PRECEDING
      |                       AND CURRENT ROW) - us AS late
      |  FROM e)
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |       CAST(sum(CASE WHEN late > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1m,
      |       CAST(sum(CASE WHEN late > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1h,
      |       CAST(max(late) AS BIGINT) AS max_late_us,
      |       CAST(sum(late) AS BIGINT) AS sum_late_us
      |FROM w GROUP BY event_type""".stripMargin

  /** Column statistics (q177) — the ANALYZE TABLE surface: per-column
    * row/non-null/distinct counts and canonicalized min/max over
    * `orders`. Min/max canonicalize to strings through type-stable
    * spellings (longs and epoch-µs via integer casts, price via cents)
    * so the readout hash-gates without float-formatting hazards. Exact
    * NDV here; at 100 TB swap `approx_count_distinct`/the q150 KMV
    * sketch into the same frame — the point of the query is the
    * one-pass stats harvest the cost-based optimizer and the q154 join
    * forecast consume.
    *
    * Plan shape (r21, guide §2.4/§1.2): one independent single-distinct
    * aggregation branch PER COLUMN, unioned — the same shape as the
    * oracle's UNION ALL. The previous single-agg multi-distinct form
    * planned as Expand(7×rows) + SortAggregate keyed on all six columns
    * at once (a 7-wide sort key with a DOUBLE in it, rows 7× the
    * corpus); the per-column branches instead each scan ONE pruned
    * column, partial-dedup map-side, and run concurrently inside the
    * one action (5.3× measured: 3.87 s → 0.74 s at sf0.1,
    * plans/r21/q177_column_stats_*.txt).
    */
  def columnStats(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    // (name, raw column for counts, canonical min/max spelling)
    val specs: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = Seq(
      ("o_orderkey", col("o_orderkey"), col("o_orderkey")),
      ("o_custkey", col("o_custkey"), col("o_custkey")),
      ("o_orderstatus", col("o_orderstatus"), col("o_orderstatus")),
      ("o_totalprice", col("o_totalprice"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long")),
      // o_orderdate lands as TIMESTAMP_NTZ; the UTC-pinned cast makes
      // unix_micros legal and value-preserving (same as the oracle's
      // CAST(... AS TIMESTAMP))
      ("o_orderdate", col("o_orderdate"),
        unix_micros(col("o_orderdate").cast("timestamp"))),
      ("o_orderpriority", col("o_orderpriority"), col("o_orderpriority")))
    specs.map { case (name, raw, canon) =>
      o.agg(
        count(lit(1)).as("n_total"),
        count(raw).as("n_nonnull"),
        countDistinct(raw).as("n_distinct"),
        min(canon).cast("string").as("min_val"),
        max(canon).cast("string").as("max_val"))
        .select(lit(name).as("col_name"), col("n_total"), col("n_nonnull"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_ unionByName _)
  }

  val columnStatsSql: String = {
    val specs = Seq(
      ("o_orderkey", "o_orderkey", "o_orderkey"),
      ("o_custkey", "o_custkey", "o_custkey"),
      ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
      ("o_totalprice", "o_totalprice",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"),
      ("o_orderdate", "o_orderdate",
        "epoch_us(CAST(o_orderdate AS TIMESTAMP))"),
      ("o_orderpriority", "o_orderpriority", "o_orderpriority"))
    val branches = specs.map { case (name, raw, canon) =>
      s"""SELECT '$name' AS col_name,
         |       CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(count($raw) AS BIGINT) AS n_nonnull,
         |       CAST(count(DISTINCT $raw) AS BIGINT) AS n_distinct,
         |       CAST(min($canon) AS VARCHAR) AS min_val,
         |       CAST(max($canon) AS VARCHAR) AS max_val
         |FROM orders""".stripMargin
    }
    branches.mkString("\nUNION ALL\n")
  }

  /** Canonical per-column string spellings shared by q177b's Spark
    * stack() and its oracle UNION ALL — type-stable (longs, cents,
    * epoch-µs) so md5 sees identical bytes in both engines.
    */
  private val sketchStatsCols: Seq[(String, String)] = Seq(
    ("o_orderkey", "CAST(o_orderkey AS STRING)"),
    ("o_custkey", "CAST(o_custkey AS STRING)"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_totalprice",
      "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)"),
    ("o_orderdate",
      "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS STRING)"),
    ("o_orderpriority", "o_orderpriority"))

  /** q177b: the column-stats harvest with the NDV leg swapped from
    * exact `count(DISTINCT)` to the q150 KMV sketch — the 100 TB
    * valve for q177 (VERDICT r9 #5): exact multi-NDV holds
    * value-domain-sized state (o_orderkey makes the Expand pass the
    * bottleneck), while the sketch's state is a fixed 64 minimum
    * 60-bit hashes per column. The cardinality threshold is INHERENT
    * to KMV, not a config switch: a column with < 64 distinct hashes
    * keeps them all and reports exactly (n_kept < k), so low-card
    * columns (status, priority) come out exact and only genuinely
    * high-card columns pay the estimator's ±1/√(k−2) noise.
    *
    * One stack() pass (6× rows, fixed agg state), per-column distinct
    * hash dedupe (map-side combining), min-64 via the mergeable
    * bounded-heap aggregate ([[graft.transform.Skew.aggTopKArray]],
    * r22 — the q150 spelling: one aggregation, no rank window).
    * Deterministic integer state (n_kept, kth_hash) gates bitwise;
    * est_ndv is one double division (the q150 budget).
    * QueriesSpec pins est vs exact rel-error on the high-card columns.
    */
  def columnStatsSketch(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val stackArgs = sketchStatsCols
      .map { case (n, e) => s"'$n', $e" }.mkString(", ")
    val long = o.select(expr(
      s"stack(${sketchStatsCols.size}, $stackArgs) AS (col_name, sval)"))
    val cnt = long.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_total"), count(col("sval")).as("n_nonnull"))
    val h = long.filter(col("sval").isNotNull)
      .select(col("col_name"),
        conv(substring(md5(col("sval")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .distinct()
    val kth = graft.transform.Skew.aggTopKArray(
      h, Seq(col("col_name")), col("h"), k = 64, outCol = "__mins")
      .select(col("col_name"),
        size(col("__mins")).cast("long").as("n_kept"),
        array_max(col("__mins")).as("kth_hash"))
    cnt.join(kth, Seq("col_name"))
      .select(col("col_name"), col("n_total"), col("n_nonnull"),
        col("n_kept"), col("kth_hash"),
        when(col("n_kept") < 64L, col("n_kept").cast("double"))
          .otherwise(lit(63.0) * lit(1152921504606846976.0) /
            col("kth_hash").cast("double")).as("est_ndv"))
  }

  val columnStatsSketchSql: String = {
    val branches = sketchStatsCols.map { case (n, e) =>
      val duck = e
        .replace(" AS STRING)", " AS VARCHAR)")
        .replace("unix_micros(", "epoch_us(")
      s"SELECT '$n' AS col_name, $duck AS sval FROM orders"
    }.mkString("\n      UNION ALL ")
    s"""WITH l AS (
       |  $branches),
       |cnt AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n_total,
       |               CAST(count(sval) AS BIGINT) AS n_nonnull
       |        FROM l GROUP BY 1),
       |h AS (SELECT DISTINCT col_name,
       |             ('0x' || substr(md5(sval), 1, 15))::BIGINT AS h
       |      FROM l WHERE sval IS NOT NULL),
       |r AS (SELECT col_name, h,
       |             CAST(row_number() OVER (PARTITION BY col_name
       |                                     ORDER BY h ASC) AS BIGINT) AS rn
       |      FROM h),
       |k AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n_kept,
       |             max(h) AS kth_hash
       |      FROM r WHERE rn <= 64 GROUP BY 1)
       |SELECT cnt.col_name, cnt.n_total, cnt.n_nonnull, k.n_kept, k.kth_hash,
       |       CASE WHEN k.n_kept < 64 THEN CAST(k.n_kept AS DOUBLE)
       |            ELSE 63.0 * 1152921504606846976.0 / CAST(k.kth_hash AS DOUBLE)
       |       END AS est_ndv
       |FROM cnt JOIN k USING (col_name)""".stripMargin
  }

  /** q228: incremental rollup via partial-state merge
    * ([[graft.transform.Transforms.mergeableRollup]] /
    * [[graft.transform.Transforms.mergeRollups]]) — the incremental-ETL
    * primitive: per-type (n, Σcents, min, max) computed as state(≤ Jan
    * 16) MERGED with delta(> Jan 16). The ORACLE computes from scratch
    * over all rows, so the hash gate IS the mergeability proof — a
    * merge that dropped a key, double-counted a boundary row, or
    * mis-folded an extremum cannot pass.
    */
  def incrementalRollupQ(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      col("ts"), floor(col("value") * 100 + 0.5).cast("long").as("__v"))
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val state = graft.transform.Transforms.mergeableRollup(
      e.filter(col("ts") <= cut), Seq("event_type"), col("__v"))
    val delta = graft.transform.Transforms.mergeableRollup(
      e.filter(col("ts") > cut), Seq("event_type"), col("__v"))
    graft.transform.Transforms.mergeRollups(state, delta, Seq("event_type"))
      .withColumn("mean_cents", graft.util.Rounding.pround(
        col("sum_cents").cast("double") / col("n").cast("double"), 6))
  }

  val incrementalRollupSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |         AS sum_cents,
      |       min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS min_cents,
      |       max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents,
      |       floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
      |                  AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
      |         AS mean_cents
      |FROM events GROUP BY 1""".stripMargin

  /** q230: WOE / information-value feature screen
    * ([[graft.transform.Stats.woeIv]]) — value-cents and hour-of-day
    * screened against the purchase label in one unpivoted pass, the
    * credit-scoring companion to the χ² (q109) and AUC (q216) screens.
    * Laplace-smoothed shares, one ±1-ulp ln absorbed by pround(6) on
    * the 2×10-row output, headline IV as the running `iv_cum`.
    */
  def woeIvQ(s: SparkSession, dir: String): DataFrame = {
    val rows = t(s, dir, "events").selectExpr(
      "stack(2, 'value_cents', CAST(floor(value * 100 + 0.5) AS BIGINT), " +
        "'hour_of_day', CAST(hour(ts) AS BIGINT)) AS (feature, v)",
      "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS BIGINT) AS lab")
    graft.transform.Stats.woeIv(rows, Seq("feature"), "v", "lab")
  }

  val woeIvSql: String =
    """WITH base AS (
      |  SELECT feature, v,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab
      |  FROM (SELECT 'value_cents' AS feature,
      |               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v, event_type
      |        FROM events
      |        UNION ALL
      |        SELECT 'hour_of_day',
      |               CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT),
      |               event_type
      |        FROM events)),
      |bnd AS (SELECT feature, min(v) AS mn, max(v) AS mx FROM base GROUP BY 1),
      |binned AS (
      |  SELECT base.feature,
      |         least(9, greatest(0, ((v - mn) * 10) // (mx - mn + 1))) AS bucket,
      |         CAST(sum(lab) AS BIGINT) AS n_good,
      |         CAST(sum(1 - lab) AS BIGINT) AS n_bad
      |  FROM base JOIN bnd ON bnd.feature = base.feature
      |  GROUP BY 1, 2),
      |tot AS (SELECT feature, CAST(sum(lab) AS BIGINT) AS g,
      |               CAST(sum(1 - lab) AS BIGINT) AS bd
      |        FROM base GROUP BY 1),
      |grid AS (SELECT feature, unnest(range(0, 10)) AS bucket
      |         FROM (SELECT DISTINCT feature FROM base)),
      |j AS (
      |  SELECT grid.feature, grid.bucket,
      |         coalesce(binned.n_good, 0) AS n_good,
      |         coalesce(binned.n_bad, 0) AS n_bad, tot.g, tot.bd
      |  FROM grid
      |  LEFT JOIN binned ON binned.feature = grid.feature
      |                  AND binned.bucket = grid.bucket
      |  JOIN tot ON tot.feature = grid.feature),
      |x AS (
      |  SELECT feature, bucket, n_good, n_bad,
      |         CAST(n_good + 1 AS DOUBLE) / CAST(g + 10 AS DOUBLE) AS pg,
      |         CAST(n_bad + 1 AS DOUBLE) / CAST(bd + 10 AS DOUBLE) AS pb
      |  FROM j)
      |SELECT feature, CAST(bucket AS BIGINT) AS bucket,
      |       CAST(n_good AS BIGINT) AS n_good, CAST(n_bad AS BIGINT) AS n_bad,
      |       floor(ln(pg / pb) * 1000000.0 + 0.5) / 1000000.0 AS woe,
      |       floor(sum((pg - pb) * ln(pg / pb))
      |               OVER (PARTITION BY feature ORDER BY bucket ASC
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |             * 1000000.0 + 0.5) / 1000000.0 AS iv_cum
      |FROM x""".stripMargin

  /** q233: next-event prediction serving — the Markov model (q88's
    * transition matrix) applied per user: each user's LAST event
    * (exact argmax on (µs, event_id)) looks up its most likely next
    * type (integer-count argmax over the attr-domain matrix, ties to
    * the smaller type). Train + serve in one query; the probability is
    * q88's single exact division, pround(6).
    */
  def nextEventQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "events")
    val tm = graft.transform.Temporal.transitionMatrix(
      e, "user_id", "event_type", "ts", "event_id")
    val wBest = Window.partitionBy(col("from_type"))
      .orderBy(col("n").desc, col("to_type").asc)
    val best = tm.withColumn("__r", row_number().over(wBest))
      .filter(col("__r") === 1)
      .select(col("from_type").as("last_type"),
        col("to_type").as("predicted_next"),
        graft.util.Rounding.pround(col("p_next"), 6).as("p_next"))
    val last = e.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("us"), col("event_id"), col("event_type"))).as("__l"))
      .select(col("user_id"), col("__l.event_type").as("last_type"))
    last.join(broadcast(best), Seq("last_type"), "left")
      .select(col("user_id"), col("last_type"), col("predicted_next"),
        col("p_next"))
  }

  val nextEventSql: String =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |           AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |best AS (
      |  SELECT from_type, to_type, n,
      |         CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
      |         row_number() OVER (PARTITION BY from_type
      |                            ORDER BY n DESC, to_type ASC) AS r
      |  FROM c),
      |b1 AS (SELECT from_type AS last_type, to_type AS predicted_next,
      |              floor(CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE)
      |                    * 1000000.0 + 0.5) / 1000000.0 AS p_next
      |       FROM best WHERE r = 1),
      |lst AS (
      |  SELECT user_id, event_type AS last_type FROM (
      |    SELECT user_id, event_type,
      |           row_number() OVER (PARTITION BY user_id
      |             ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |    FROM events)
      |  WHERE rn = 1)
      |SELECT l.user_id, l.last_type, b.predicted_next, b.p_next
      |FROM lst l LEFT JOIN b1 b ON b.last_type = l.last_type""".stripMargin

  /** q234: data-freshness SLA audit — per event type: last-seen µs,
    * lag in whole hours behind the corpus watermark, 24h/7d recency
    * counts and the 7-day share. The "is the pipeline alive" dashboard
    * row; all integer epoch arithmetic, one division.
    *
    * Scale: ONE corpus scan. Everything reduces through a per
    * (event_type, hour) partial aggregate — metadata-scale (types ×
    * hours), map-side combined — and the watermark is derived from
    * that summary frame and broadcast back onto it, never onto the
    * corpus. The recency windows are HOUR-ALIGNED to the watermark
    * (us ≥ (watermark_hour − 23h)·3600e6 etc.): an exact sliding
    * window off the µs watermark is provably not one-pass computable
    * (a threshold-count with a threshold unknown at scan time needs an
    * exact rank structure, i.e. a second pass over row data), and
    * hour-aligned windows are the standard dashboard semantics anyway.
    * `n_events` / `last_us` / `lag_hours` are exact and unchanged by
    * the alignment.
    */
  def freshnessQ(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val hourly = e
      .groupBy(col("event_type"), expr("us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"), max(col("us")).as("mx"))
    // watermark via ONE unpartitioned window over the metadata-scale
    // summary (the q184 posture) — a separate .agg subtree would cost a
    // second corpus scan (column pruning defeats ReuseExchange)
    hourly
      .withColumn("__now", max(col("mx")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("__nowhr", expr("__now div 3600000000"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_events"), max(col("mx")).as("last_us"),
        max(col("__now")).as("__now"),
        sum(when(col("hr") >= col("__nowhr") - 23L, col("cnt"))
          .otherwise(0L)).as("n_last_24h"),
        sum(when(col("hr") >= col("__nowhr") - 167L, col("cnt"))
          .otherwise(0L)).as("n_last_7d"))
      .select(col("event_type"), col("n_events"), col("last_us"),
        expr("(__now - last_us) div 3600000000").as("lag_hours"),
        col("n_last_24h"), col("n_last_7d"),
        graft.util.Rounding.pround(col("n_last_7d").cast("double") /
          col("n_events").cast("double"), 6).as("share_7d"))
  }

  val freshnessSql: String =
    """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |           FROM events),
      |b AS (SELECT event_type, us // 3600000000 AS hr,
      |             count(*) AS cnt, max(us) AS mx
      |      FROM e GROUP BY 1, 2),
      |nw AS (SELECT max(mx) AS nowus, max(mx) // 3600000000 AS nowhr FROM b)
      |SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_events,
      |       max(mx) AS last_us,
      |       CAST((nw.nowus - max(mx)) // 3600000000 AS BIGINT) AS lag_hours,
      |       CAST(sum(CASE WHEN hr >= nw.nowhr - 23 THEN cnt ELSE 0 END)
      |            AS BIGINT) AS n_last_24h,
      |       CAST(sum(CASE WHEN hr >= nw.nowhr - 167 THEN cnt ELSE 0 END)
      |            AS BIGINT) AS n_last_7d,
      |       floor(CAST(sum(CASE WHEN hr >= nw.nowhr - 167 THEN cnt ELSE 0 END)
      |                  AS DOUBLE)
      |             / CAST(sum(cnt) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
      |         AS share_7d
      |FROM b, nw GROUP BY event_type, nw.nowus, nw.nowhr""".stripMargin

  /** Sample-ratio-mismatch check (q138) — the experiment-health gate
    * that must pass BEFORE q133's z-test is readable: under a 50/50
    * md5 split, `chi2 = (n1−n2)²/N` (one df). The squared difference
    * rides DECIMAL → one conversion; the flag compares against the
    * 95% critical value 3.841459 as data, so the gate pins the
    * DECISION, not just the statistic.
    */
  def srmCheck(s: SparkSession, dir: String): DataFrame = {
    val armed = t(s, dir, "events")
      .select(col("user_id")).distinct()
      .withColumn("armA",
        (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).cast("long"))
      .agg(sum(col("armA")).as("n1"),
        sum(lit(1L) - col("armA")).as("n2"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val chi2 = (dec(col("n1") - col("n2")) * dec(col("n1") - col("n2")))
      .cast("decimal(38,0)").cast("double") /
      (col("n1") + col("n2")).cast("double")
    armed.select(col("n1"), col("n2"), chi2.as("chi2"),
      (chi2 > 3.841459).cast("long").as("srm_flag"))
  }

  val srmCheckSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |a AS (
      |  SELECT
      |    CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
      |                       ::BIGINT < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
      |                       ::BIGINT < 8 THEN 0 ELSE 1 END) AS BIGINT) AS n2
      |  FROM u)
      |SELECT n1, n2,
      |       CAST(CAST(n1 - n2 AS HUGEINT) * (n1 - n2) AS DOUBLE)
      |         / CAST(n1 + n2 AS DOUBLE) AS chi2,
      |       CAST(CASE WHEN CAST(CAST(n1 - n2 AS HUGEINT) * (n1 - n2) AS DOUBLE)
      |                      / CAST(n1 + n2 AS DOUBLE) > 3.841459
      |            THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
      |FROM a""".stripMargin

  /** Per-user inter-event gap features (q135) — the burstiness /
    * bot-screen featurization: gaps between consecutive events on a
    * user-PARTITIONED lag window, aggregated to count/sum/max and a
    * mean (one IEEE division of exact integer µs — bitwise). Ties on
    * the timestamp are harmless by construction: the gap MULTISET of a
    * sorted sequence is invariant under tie permutation, so the
    * emitted aggregates are deterministic without an id tie-break in
    * the window order.
    */
  def gapFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us").asc)
    t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sum_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .withColumn("mean_gap_us",
        col("sum_gap_us").cast("double") / col("n_gaps").cast("double"))
  }

  val gapFeaturesSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |g AS (
      |  SELECT user_id,
      |         us - lag(us) OVER (PARTITION BY user_id ORDER BY us ASC) AS gap
      |  FROM e),
      |f AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
      |       CAST(sum(gap) AS BIGINT) AS sum_gap_us,
      |       CAST(max(gap) AS BIGINT) AS max_gap_us,
      |       CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |         AS mean_gap_us
      |FROM f GROUP BY user_id""".stripMargin

  /** Top event-path trigrams (q136) — the product-analytics "common
    * journeys" readout: consecutive event-type triples per user (two
    * lag-free lead() hops on ONE user-partitioned window ordering),
    * counted globally and cut to the top 20 by (count desc, path asc)
    * via TakeOrdered — no global sort. The window order is tie-pinned
    * by event_id so the path sequence itself is deterministic.
    */
  def pathTrigrams(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc).limit(20)
  }

  val pathTrigramsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         event_type
      |  FROM events),
      |t AS (
      |  SELECT event_type AS t1,
      |         lead(event_type, 1) OVER
      |           (PARTITION BY user_id ORDER BY us ASC, event_id ASC) AS t2,
      |         lead(event_type, 2) OVER
      |           (PARTITION BY user_id ORDER BY us ASC, event_id ASC) AS t3
      |  FROM e)
      |SELECT t1 || '>' || t2 || '>' || t3 AS path,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM t WHERE t3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20""".stripMargin

  /** Unpivot/melt via `stack()` — the inverse of q50's pivot: a wide
    * per-user frame (one cents column per event type) melts back to
    * long form in one Generate, no join, no union-of-scans (the
    * UNION ALL oracle re-reads the wide frame per type; stack emits
    * all rows in one pass — the 100 TB difference).
    */
  def unpivotWide(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "view",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L))
          .as("view_cents"),
        sum(when(col("event_type") === "click",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L))
          .as("click_cents"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L))
          .as("purchase_cents"))
    wide.select(col("user_id"),
      expr("stack(3, 'view', view_cents, 'click', click_cents, " +
        "'purchase', purchase_cents) AS (event_type, cents)"))
  }

  val unpivotWideSql: String =
    """WITH w AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN event_type = 'view'
      |                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
      |                  ELSE 0 END) AS BIGINT) AS view_cents,
      |         CAST(sum(CASE WHEN event_type = 'click'
      |                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
      |                  ELSE 0 END) AS BIGINT) AS click_cents,
      |         CAST(sum(CASE WHEN event_type = 'purchase'
      |                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
      |                  ELSE 0 END) AS BIGINT) AS purchase_cents
      |  FROM events GROUP BY 1)
      |SELECT user_id, 'view' AS event_type, view_cents AS cents FROM w
      |UNION ALL
      |SELECT user_id, 'click', click_cents FROM w
      |UNION ALL
      |SELECT user_id, 'purchase', purchase_cents FROM w""".stripMargin

  /** Randomized response (Warner 1965) — the local-DP collection
    * primitive: each user reports their true per-type activity flag
    * with probability 3/4, otherwise a fair coin, and the aggregate
    * debiases with `(mean − 1/8) / (3/4)`. The coins are md5 hex
    * digits of (user, type) — deterministic and replayable where
    * rand() is not, with the same marginal frequencies (hex digit <
    * 'c' ⇔ p = 3/4; < '8' ⇔ p = 1/2). Counts are exact integers; the
    * mean is one division and the debias two dyadic-constant ops,
    * pround(6) last. Everything is one keyed agg per stage — the
    * privacy mechanism adds zero shuffle over the plain count.
    */
  def randomizedResponse(s: SparkSession, dir: String): DataFrame = {
    val flags = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        max((col("event_type") === "purchase").cast("long")).as("purchase"),
        max((col("event_type") === "click").cast("long")).as("click"))
    val long = flags.select(col("user_id"),
      expr("stack(2, 'purchase', purchase, 'click', click) AS (etype, flag)"))
    val coined = long
      .withColumn("h", md5(concat(col("user_id").cast("string"), lit(":"), col("etype"))))
      .withColumn("truth_coin",
        conv(substring(col("h"), 1, 1), 16, 10).cast("int") < 12)
      .withColumn("flip_coin",
        (conv(substring(col("h"), 2, 1), 16, 10).cast("int") < 8).cast("long"))
      .withColumn("reported",
        when(col("truth_coin"), col("flag")).otherwise(col("flip_coin")))
    coined.groupBy(col("etype"))
      .agg(count(lit(1)).as("n"),
        sum(col("flag")).as("n_true"),
        sum(col("reported")).as("n_reported"))
      .withColumn("rr_estimate", graft.util.Rounding.pround(
        (col("n_reported").cast("double") / col("n").cast("double") - lit(0.125))
          / lit(0.75), 6))
  }

  val randomizedResponseSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS purchase,
      |         CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS click
      |  FROM events GROUP BY 1),
      |l AS (
      |  SELECT user_id, 'purchase' AS etype, purchase AS flag FROM f
      |  UNION ALL SELECT user_id, 'click', click FROM f),
      |c AS (
      |  SELECT etype, flag,
      |         md5(CAST(user_id AS VARCHAR) || ':' || etype) AS h
      |  FROM l),
      |r AS (
      |  SELECT etype, flag,
      |         CASE WHEN ('0x' || substr(h, 1, 1))::INT < 12 THEN flag
      |              ELSE CASE WHEN ('0x' || substr(h, 2, 1))::INT < 8
      |                        THEN 1 ELSE 0 END
      |         END AS reported
      |  FROM c)
      |SELECT etype, count(*) AS n,
      |       CAST(sum(flag) AS BIGINT) AS n_true,
      |       CAST(sum(reported) AS BIGINT) AS n_reported,
      |       floor(((CAST(sum(reported) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |               - 0.125) / 0.75) * 1000000.0 + 0.5) / 1000000.0
      |         AS rr_estimate
      |FROM r GROUP BY 1""".stripMargin

  /** CDC snapshot diff ([[graft.transform.Cdc.snapshotDiff]]): the old
    * snapshot drops orderkeys ≡2 (mod 5), the new snapshot drops ≡3
    * (mod 7) and rewrites status (≡0 mod 11) and priority (≡0 mod 13)
    * — so the diff must emit I/D/U rows with exact changed-column
    * lists and swallow everything untouched. One PK-keyed full-outer
    * join; comparison is null-safe and row-local. The partition-digest
    * pruned variant (the <1%-changed fast path) is spec-pinned equal
    * to this full diff in CdcSpec.
    */
  def snapshotDiffOrders(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val oldSnap = orders.filter(col("o_orderkey") % 5 =!= 2)
    val newSnap = orders.filter(col("o_orderkey") % 7 =!= 3)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 11 === 0, lit("R")).otherwise(col("o_orderstatus")))
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 13 === 0, lit("9-RECHECK"))
          .otherwise(col("o_orderpriority")))
    graft.transform.Cdc.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
  }

  val snapshotDiffOrdersSql: String =
    """WITH oldv AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |         o_orderpriority
      |  FROM orders WHERE o_orderkey % 5 <> 2),
      |newv AS (
      |  SELECT o_orderkey, o_custkey,
      |         CASE WHEN o_orderkey % 11 = 0 THEN 'R'
      |              ELSE o_orderstatus END AS o_orderstatus,
      |         o_totalprice,
      |         CASE WHEN o_orderkey % 13 = 0 THEN '9-RECHECK'
      |              ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 7 <> 3),
      |j AS (
      |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      |         CASE WHEN o.o_orderkey IS NULL THEN 'I'
      |              WHEN n.o_orderkey IS NULL THEN 'D'
      |              WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey)
      |                OR NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
      |                OR NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
      |                OR NOT (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
      |              THEN 'U' END AS change_type,
      |         CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
      |              THEN concat_ws(',',
      |                CASE WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey)
      |                     THEN 'o_custkey' END,
      |                CASE WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
      |                     THEN 'o_orderstatus' END,
      |                CASE WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
      |                     THEN 'o_totalprice' END,
      |                CASE WHEN NOT (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
      |                     THEN 'o_orderpriority' END) END AS changed_cols
      |  FROM oldv o FULL OUTER JOIN newv n ON o.o_orderkey = n.o_orderkey)
      |SELECT o_orderkey, change_type,
      |       CASE WHEN change_type = 'U' THEN changed_cols END AS changed_cols
      |FROM j WHERE change_type IS NOT NULL""".stripMargin

  /** Exact ROC AUC per cohort ([[graft.transform.Stats.aucByKey]]):
    * score = per-user click-value cents (integer), label = heavy
    * purchaser (≥14 purchase events), cohort = user_id mod 3. The
    * Mann-Whitney u2 numerator and both class counts are exact longs;
    * `auc` is their single IEEE division — no rounding column at all.
    */
  def aucCohorts(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events").groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click",
          graft.transform.Stats.cents(col("value"))).otherwise(lit(0L)))
          .as("score"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14)
          .cast("long").as("label"))
      .withColumn("cohort", col("user_id") % 3)
    graft.transform.Stats.aucByKey(users, Seq("cohort"), "score", "label")
  }

  val aucCohortsSql: String =
    """WITH u AS (
      |  SELECT user_id, CAST(user_id % 3 AS BIGINT) AS cohort,
      |         CAST(sum(CASE WHEN event_type = 'click'
      |                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
      |                  ELSE 0 END) AS BIGINT) AS score,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
      |                       ELSE 0 END) >= 14
      |              THEN 1 ELSE 0 END AS label
      |  FROM events GROUP BY 1),
      |s AS (
      |  SELECT cohort, score, count(*) AS n_at,
      |         CAST(sum(label) AS BIGINT) AS pos_at
      |  FROM u GROUP BY 1, 2),
      |s2 AS (
      |  SELECT cohort, score, pos_at, n_at - pos_at AS neg_at,
      |         coalesce(CAST(sum(n_at - pos_at) OVER (
      |           PARTITION BY cohort ORDER BY score
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS BIGINT), 0) AS neg_below
      |  FROM s)
      |SELECT cohort,
      |       CAST(sum(pos_at) AS BIGINT) AS n_pos,
      |       CAST(sum(neg_at) AS BIGINT) AS n_neg,
      |       CAST(sum(2 * pos_at * neg_below + pos_at * neg_at) AS BIGINT)
      |         AS u2,
      |       CASE WHEN sum(pos_at) > 0 AND sum(neg_at) > 0 THEN
      |         CAST(CAST(sum(2 * pos_at * neg_below + pos_at * neg_at)
      |              AS BIGINT) AS DOUBLE)
      |         / CAST(2 * CAST(sum(pos_at) AS BIGINT)
      |                * CAST(sum(neg_at) AS BIGINT) AS DOUBLE) END AS auc
      |FROM s2 GROUP BY 1""".stripMargin

  /** Chi-squared feature screen ([[graft.transform.Stats
    * .chi2Features]]): binary behavior flags (heavy clicker / error
    * prone / heavy viewer, thresholded at the ~median 14) against the
    * heavy-purchaser label. Counts are exact; χ² is assembled in
    * DECIMAL(38,0) ↔ HUGEINT and emitted as one division — the
    * filter-method feature-selection readout, bit-stable cross-engine.
    */
  def chi2Screen(s: SparkSession, dir: String): DataFrame = {
    def cnt(et: String) =
      sum(when(col("event_type") === et, 1L).otherwise(0L))
    val users = t(s, dir, "events").groupBy(col("user_id"))
      .agg((cnt("click") >= 14).cast("long").as("f_click_heavy"),
        (cnt("error") >= 14).cast("long").as("f_error_prone"),
        (cnt("view") >= 14).cast("long").as("f_view_heavy"),
        (cnt("purchase") >= 14).cast("long").as("label"))
    graft.transform.Stats.chi2Features(users,
      Seq("f_click_heavy", "f_error_prone", "f_view_heavy"), "label")
  }

  val chi2ScreenSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS f_click_heavy,
      |         CASE WHEN sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS f_error_prone,
      |         CASE WHEN sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS f_view_heavy,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS label
      |  FROM events GROUP BY 1),
      |l AS (
      |  SELECT label, 'f_click_heavy' AS feature, f_click_heavy AS f FROM u
      |  UNION ALL SELECT label, 'f_error_prone', f_error_prone FROM u
      |  UNION ALL SELECT label, 'f_view_heavy', f_view_heavy FROM u),
      |c AS (
      |  SELECT feature,
      |         CAST(sum(f * label) AS BIGINT) AS a,
      |         CAST(sum(f * (1 - label)) AS BIGINT) AS b,
      |         CAST(sum((1 - f) * label) AS BIGINT) AS c,
      |         CAST(sum((1 - f) * (1 - label)) AS BIGINT) AS d
      |  FROM l GROUP BY 1)
      |SELECT feature, a, b, c, d,
      |       CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) <> 0 THEN
      |         CAST(CAST(a + b + c + d AS HUGEINT)
      |              * (CAST(a AS HUGEINT) * CAST(d AS HUGEINT)
      |                 - CAST(b AS HUGEINT) * CAST(c AS HUGEINT))
      |              * (CAST(a AS HUGEINT) * CAST(d AS HUGEINT)
      |                 - CAST(b AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE)
      |         / CAST(CAST(a + b AS HUGEINT) * CAST(c + d AS HUGEINT)
      |                * CAST(a + c AS HUGEINT) * CAST(b + d AS HUGEINT)
      |           AS DOUBLE) END AS chi2
      |FROM c""".stripMargin

  /** Linear interpolation of each user's hourly cents series
    * ([[Temporal.interpolateLinear]]) — the continuous-signal sibling
    * of q86's forward fill. The operator runs the segment-emit plan
    * (one key window, no grid, no join); the ORACLE deliberately runs
    * the textbook dense-grid LEFT JOIN + bracketing-window
    * formulation, so the hash gate doubles as a machine-checked proof
    * that the rewrite is lossless (CLAUDE.md's naive-oracle rule).
    * Interpolated cells are floor-toward-lower-endpoint fixed-point:
    * pure integer cents/µs arithmetic in both engines.
    */
  def interpolateHourly(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("user_id"), Transforms.hourBucket(col("ts")).as("hour"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    Temporal.interpolateLinear(hourly, "user_id", "hour", "cents", "1 hour")
  }

  val interpolateHourlySql: String =
    """WITH hourly AS (
      |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |           AS cents
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
      |      FROM hourly GROUP BY 1),
      |grid AS (
      |  SELECT user_id,
      |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM s),
      |j AS (SELECT g.user_id, g.hour, h.cents
      |      FROM grid g LEFT JOIN hourly h USING (user_id, hour)),
      |f AS (
      |  SELECT user_id, hour, cents,
      |         last_value(CASE WHEN cents IS NOT NULL THEN hour END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY hour
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0h,
      |         last_value(cents IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY hour
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
      |         first_value(CASE WHEN cents IS NOT NULL THEN hour END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY hour
      |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS t1h,
      |         first_value(cents IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY hour
      |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v1
      |  FROM j)
      |SELECT user_id, hour,
      |       CASE WHEN cents IS NOT NULL THEN cents
      |            WHEN v1 >= v0 THEN
      |              v0 + ((v1 - v0) * (epoch_us(hour) - epoch_us(t0h)))
      |                   // (epoch_us(t1h) - epoch_us(t0h))
      |            ELSE
      |              v1 + ((v0 - v1) * (epoch_us(t1h) - epoch_us(hour)))
      |                   // (epoch_us(t1h) - epoch_us(t0h))
      |       END AS interp_cents,
      |       CAST(cents IS NULL AS INT) AS is_interp
      |FROM f""".stripMargin

  /** Purged + embargoed K-fold time split over the event log
    * ([[Temporal.purgedTimeFolds]]): K=5 contiguous validation blocks,
    * 6-hour embargo after each block excluded from training — the
    * leakage-safe cross-validation layout for time-series feature
    * models. Every boundary and count is non-negative integer µs
    * arithmetic (`div` ↔ `//`), so the five rows gate exactly.
    */
  def purgedFolds(s: SparkSession, dir: String): DataFrame =
    Temporal.purgedTimeFolds(t(s, dir, "events"), "ts", 5, 21600000000L)

  val purgedFoldsSql: String =
    """WITH b AS (
      |  SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS mn,
      |         max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx,
      |         count(*) AS n_total
      |  FROM events),
      |b2 AS (SELECT mn, mx, n_total, mx - mn + 1 AS span FROM b),
      |e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
      |folds AS (
      |  SELECT unnest(range(0, 5)) AS fold, mn, mx, span, n_total FROM b2),
      |fb AS (
      |  SELECT fold, n_total,
      |         mn + (fold * span + 4) // 5 AS val_start_us,
      |         mn + ((fold + 1) * span + 4) // 5 AS val_end_us
      |  FROM folds),
      |va AS (
      |  SELECT ((t - mn) * 5) // span AS fold, count(*) AS n_val
      |  FROM e, b2 GROUP BY 1),
      |em AS (
      |  SELECT fb.fold, count(*) AS n_embargo
      |  FROM e JOIN fb ON e.t >= fb.val_end_us
      |                AND e.t < fb.val_end_us + 21600000000
      |  GROUP BY 1)
      |SELECT fb.fold, fb.val_start_us, fb.val_end_us,
      |       CAST(coalesce(va.n_val, 0) AS BIGINT) AS n_val,
      |       CAST(coalesce(em.n_embargo, 0) AS BIGINT) AS n_embargo,
      |       CAST(fb.n_total - coalesce(va.n_val, 0)
      |            - coalesce(em.n_embargo, 0) AS BIGINT) AS n_train
      |FROM fb
      |LEFT JOIN va ON fb.fold = va.fold
      |LEFT JOIN em ON fb.fold = em.fold""".stripMargin

  /** Calibration readout ([[graft.transform.Stats.calibrationBins]]):
    * the q108 score/label pair binned into 10 equal-width score bins
    * with per-bin mean score and observed heavy-purchaser rate — the
    * reliability diagram next to AUC's ranking test. Integer bin
    * assignment, exact counts, two single divisions per bin.
    */
  def calibrationReadout(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events").groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click",
          graft.transform.Stats.cents(col("value"))).otherwise(lit(0L)))
          .as("score"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14)
          .cast("long").as("label"))
    graft.transform.Stats.calibrationBins(users, "score", "label")
  }

  val calibrationReadoutSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN event_type = 'click'
      |                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
      |                  ELSE 0 END) AS BIGINT) AS score,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
      |                       ELSE 0 END) >= 14
      |              THEN 1 ELSE 0 END AS label
      |  FROM events GROUP BY 1),
      |b AS (SELECT min(score) AS mn, max(score) AS mx FROM u),
      |a AS (SELECT ((score - mn) * 10) // (mx - mn + 1) AS bin, score, label
      |      FROM u, b)
      |SELECT bin, count(*) AS n,
      |       CAST(sum(label) AS BIGINT) AS n_pos,
      |       CAST(sum(score) AS BIGINT) AS score_sum,
      |       CAST(CAST(sum(score) AS BIGINT) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS mean_score,
      |       CAST(CAST(sum(label) AS BIGINT) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS pos_rate
      |FROM a GROUP BY 1""".stripMargin

  /** Strict time-windowed funnel: first view → first click within ONE
    * HOUR of that view → first purchase within one hour of that click
    * (q82 counts unconstrained stage order; real product funnels
    * expire). Three chained window expressions on ONE user
    * partitioning — each stage's anchor is the previous stage's
    * window result, so the whole funnel is a single exchange, no
    * joins, all integer µs comparisons; the 1-row readout counts
    * non-null stage timestamps. The ORACLE computes each stage with
    * the textbook aggregate + join-back formulation, so the gate
    * proves the window-chain rewrite.
    */
  def windowedFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    val hourUs = 3600000000L
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("us") >= col("t_view") &&
          col("us") < col("t_view") + hourUs, col("us"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("us") >= col("t_click") &&
          col("us") < col("t_click") + hourUs, col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t_view")).as("tv"), max(col("t_click")).as("tc"),
        max(col("t_purchase")).as("tp"))
      .agg(count(lit(1)).as("n_users"),
        count(col("tv")).as("n_view"),
        count(col("tc")).as("n_click_1h"),
        count(col("tp")).as("n_purchase_1h"))
  }

  val windowedFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view' THEN us END) AS t_view
      |  FROM e GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.us) AS t_click
      |  FROM e JOIN u USING (user_id)
      |  WHERE e.event_type = 'click' AND e.us >= u.t_view
      |    AND e.us < u.t_view + 3600000000
      |  GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.us) AS t_purchase
      |  FROM e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.us >= c.t_click
      |    AND e.us < c.t_click + 3600000000
      |  GROUP BY 1)
      |SELECT (SELECT count(*) FROM u) AS n_users,
      |       (SELECT count(t_view) FROM u) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click_1h,
      |       (SELECT count(*) FROM p) AS n_purchase_1h""".stripMargin

  /** Two-sample KS drift test ([[graft.transform.Stats.ksTestByKey]]):
    * view-value vs click-value cents distributions per user cohort.
    * The statistic is cleared of division — `d_num` is a max of exact
    * long cross-products — and `ks_d` is one IEEE division.
    */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("event_type").isin("view", "click"))
      .select((col("user_id") % 4).as("cohort"),
        graft.transform.Stats.cents(col("value")).as("v"),
        when(col("event_type") === "view", 1L).otherwise(2L).as("grp"))
    graft.transform.Stats.ksTestByKey(e, Seq("cohort"), "v", "grp")
  }

  val ksDriftSql: String =
    """WITH e AS (
      |  SELECT CAST(user_id % 4 AS BIGINT) AS cohort,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |         CASE WHEN event_type = 'view' THEN 1 ELSE 2 END AS grp
      |  FROM events WHERE event_type IN ('view', 'click')),
      |b AS (
      |  SELECT cohort, v,
      |         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM e GROUP BY 1, 2),
      |w AS (
      |  SELECT cohort,
      |         CAST(sum(c1) OVER (PARTITION BY cohort ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cum1,
      |         CAST(sum(c2) OVER (PARTITION BY cohort ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cum2,
      |         CAST(sum(c1) OVER (PARTITION BY cohort) AS BIGINT) AS n1,
      |         CAST(sum(c2) OVER (PARTITION BY cohort) AS BIGINT) AS n2
      |  FROM b),
      |agg AS (
      |  SELECT cohort, CAST(max(n1) AS BIGINT) AS n1,
      |         CAST(max(n2) AS BIGINT) AS n2,
      |         CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num
      |  FROM w GROUP BY 1)
      |SELECT cohort, n1, n2, d_num,
      |       CASE WHEN n1 > 0 AND n2 > 0 THEN
      |         CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) END AS ks_d
      |FROM agg""".stripMargin

  /** Spearman rank correlation ([[graft.transform.Stats
    * .spearmanByKey]]) of quantity vs extended price per return flag —
    * the monotone-association reading next to q69's Pearson on the
    * same frame. Mid-rank ties via the doubled-rank integers; moments
    * in DECIMAL/HUGEINT; the only FP is the final closed form.
    */
  def spearmanStats(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
      graft.transform.Stats.cents(col("l_quantity")).as("x"),
      graft.transform.Stats.cents(col("l_extendedprice")).as("y"))
    graft.transform.Stats.spearmanByKey(li, Seq("l_returnflag"), "x", "y")
  }

  val spearmanStatsSql: String =
    """WITH c AS (
      |  SELECT l_returnflag,
      |         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
      |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem),
      |r AS (
      |  SELECT l_returnflag,
      |         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY x)
      |           + count(*) OVER (PARTITION BY l_returnflag, x) - 1 AS rx2,
      |         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY y)
      |           + count(*) OVER (PARTITION BY l_returnflag, y) - 1 AS ry2
      |  FROM c),
      |s AS (
      |  SELECT l_returnflag, count(*) AS n,
      |         sum(CAST(rx2 AS HUGEINT)) AS sx, sum(CAST(ry2 AS HUGEINT)) AS sy,
      |         sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
      |         sum(CAST(ry2 AS HUGEINT) * ry2) AS syy,
      |         sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy
      |  FROM r GROUP BY 1),
      |d AS (
      |  SELECT l_returnflag, n,
      |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
      |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
      |  FROM s)
      |SELECT l_returnflag, n,
      |       CASE WHEN vx > 0 AND vy > 0
      |            THEN floor((cov / sqrt(vx * vy)) * 1000000.0 + 0.5) / 1000000.0
      |       END AS spearman
      |FROM d""".stripMargin

  // ------------------------------------------------------- interval overlap
  /** q185: interval × interval overlap join
    * ([[graft.transform.RangeJoin.intervalOverlapJoin]]) — which users
    * were active during incident windows? Left side: per-(user, day)
    * activity intervals `[first ts, last ts]`. Right side: the 3
    * busiest days per event type (count desc, day asc tie-pin), as
    * `[first ts, last ts]` incident windows. The operator buckets both
    * interval sets (6 h buckets here, so day-long intervals genuinely
    * span several) and equi-joins on the bucket with the overlap check
    * as residual, keeping each pair only in the bucket of
    * `max(lo, lo)` — the naive-theta oracle is the machine-checked
    * losslessness proof of that decomposition. Overlap length is exact
    * integer µs.
    */
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val userDays = ev
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("__d"))
      .agg(unix_micros(min(col("ts"))).as("l_lo"),
        unix_micros(max(col("ts"))).as("l_hi"))
      .drop("__d")
    val typeDays = ev
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("incident_day"))
      .agg(count(lit(1)).as("__c"),
        unix_micros(min(col("ts"))).as("r_lo"),
        unix_micros(max(col("ts"))).as("r_hi"))
    val wTop = Window.partitionBy(col("event_type"))
      .orderBy(col("__c").desc, col("incident_day").asc)
    val incidents = typeDays
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= 3)
      .select(col("event_type").as("incident_type"), col("incident_day"),
        col("r_lo"), col("r_hi"))
    graft.transform.RangeJoin.intervalOverlapJoin(
        userDays, "l_lo", "l_hi", incidents, "r_lo", "r_hi",
        bucketWidth = 21600000000L, broadcastRight = true)
      .select(col("user_id"), col("incident_type"), col("incident_day"),
        (least(col("l_hi"), col("r_hi")) -
          greatest(col("l_lo"), col("r_lo"))).as("overlap_us"))
  }

  val intervalOverlapSql: String =
    """WITH ud AS (
      |  SELECT user_id,
      |         epoch_us(min(CAST(ts AS TIMESTAMP))) AS l_lo,
      |         epoch_us(max(CAST(ts AS TIMESTAMP))) AS l_hi
      |  FROM events GROUP BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))),
      |td AS (
      |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS incident_day,
      |         CAST(count(*) AS BIGINT) AS c,
      |         epoch_us(min(CAST(ts AS TIMESTAMP))) AS r_lo,
      |         epoch_us(max(CAST(ts AS TIMESTAMP))) AS r_hi
      |  FROM events GROUP BY 1, 2),
      |top3 AS (
      |  SELECT event_type, incident_day, r_lo, r_hi FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_type
      |                                 ORDER BY c DESC, incident_day ASC) AS rn
      |    FROM td) WHERE rn <= 3)
      |SELECT ud.user_id, t.event_type AS incident_type, t.incident_day,
      |       least(ud.l_hi, t.r_hi) - greatest(ud.l_lo, t.r_lo) AS overlap_us
      |FROM ud JOIN top3 t ON ud.l_lo <= t.r_hi AND t.r_lo <= ud.l_hi""".stripMargin

  // ---------------------------------------------------------- mann-whitney u
  /** q186: per-event-type Mann-Whitney U
    * ([[graft.transform.Stats.mannWhitneyU]]) — the nonparametric A/B
    * readout beside q133's parametric z-test: users md5-split into
    * arms, value cents compared by rank. Spark computes rank sums from
    * the value-domain aggregation (no corpus-sized window); the oracle
    * is the naive row-ranked form, so the gate doubles as the
    * losslessness proof of the rewrite.
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("long") % 2).as("arm"),
      graft.transform.Stats.cents(col("value")).as("v"))
    graft.transform.Stats.mannWhitneyU(e, Seq("event_type"), "arm", "v")
  }

  val mannWhitneySql: String =
    """WITH e AS (
      |  SELECT event_type,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))::BIGINT % 2
      |           AS arm,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT event_type, arm,
      |         CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY v)
      |              + count(*) OVER (PARTITION BY event_type, v) - 1
      |              AS HUGEINT) AS ar2
      |  FROM e),
      |tv AS (SELECT event_type, v, CAST(count(*) AS HUGEINT) AS tt
      |       FROM e GROUP BY 1, 2),
      |tie AS (SELECT event_type, sum(tt * tt * tt - tt) AS tied
      |        FROM tv GROUP BY 1),
      |s AS (
      |  SELECT event_type,
      |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |         sum(CASE WHEN arm = 0 THEN ar2 ELSE CAST(0 AS HUGEINT) END) AS r2
      |  FROM r GROUP BY 1),
      |d AS (
      |  SELECT event_type, n_a, n_b,
      |         CAST(r2 - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2,
      |         CAST(tied AS DOUBLE) AS tied
      |  FROM s JOIN tie USING (event_type)),
      |z AS (
      |  SELECT event_type, n_a, n_b, u2,
      |         CAST(u2 AS DOUBLE) / 2.0 AS u,
      |         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
      |         CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nd,
      |         tied
      |  FROM d)
      |SELECT event_type, n_a, n_b, u2,
      |       CASE WHEN n_a > 0 AND n_b > 0
      |            THEN floor(u / (nad * nbd) * 1000000.0 + 0.5) / 1000000.0
      |       END AS auc,
      |       CASE WHEN n_a > 0 AND n_b > 0 AND
      |                 nad * nbd / 12.0 * ((nd + 1.0) - tied / (nd * (nd - 1.0))) > 0.0
      |            THEN floor((u - nad * nbd / 2.0)
      |                 / sqrt(nad * nbd / 12.0
      |                        * ((nd + 1.0) - tied / (nd * (nd - 1.0))))
      |                 * 1000000.0 + 0.5) / 1000000.0
      |       END AS z
      |FROM z""".stripMargin

  // ----------------------------------------------------------- kaplan-meier
  /** q187: Kaplan-Meier retention curve
    * ([[graft.transform.Temporal.kaplanMeier]]) — per-user lifetime
    * (hours between first and last event), right-censored for users
    * still active within 7 days of the observation edge. The survival
    * product rides one metadata-scale window over the distinct-duration
    * frame; risk sets derive by subtraction, never a per-subject
    * window.
    */
  def kaplanMeierQ(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "events").groupBy(col("user_id"))
      .agg(unix_micros(min(col("ts"))).as("t0"),
        unix_micros(max(col("ts"))).as("t1"))
    val mx = per.agg(max(col("t1")).as("__mx"))
    val subj = per.crossJoin(broadcast(mx))
      .select(expr("(t1 - t0) div 3600000000").as("dur_h"),
        when(col("t1") <= col("__mx") - lit(604800000000L), 1L)
          .otherwise(0L).as("observed"))
    Temporal.kaplanMeier(subj, "dur_h", "observed")
  }

  val kaplanMeierSql: String =
    """WITH per AS (
      |  SELECT user_id, epoch_us(min(CAST(ts AS TIMESTAMP))) AS t0,
      |         epoch_us(max(CAST(ts AS TIMESTAMP))) AS t1
      |  FROM events GROUP BY 1),
      |mx AS (SELECT max(t1) AS mxx FROM per),
      |subj AS (SELECT (t1 - t0) // 3600000000 AS t,
      |                CASE WHEN t1 <= mxx - 604800000000 THEN 1 ELSE 0 END AS ob
      |         FROM per, mx),
      |g AS (SELECT t, CAST(sum(ob) AS BIGINT) AS d_events,
      |             CAST(sum(1 - ob) AS BIGINT) AS c_censored
      |      FROM subj GROUP BY 1),
      |tot AS (SELECT CAST(sum(d_events + c_censored) AS BIGINT) AS nt FROM g),
      |rk AS (SELECT t, d_events, c_censored,
      |              nt - COALESCE(CAST(sum(d_events + c_censored) OVER
      |                   (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING
      |                    AND 1 PRECEDING) AS BIGINT), 0) AS n_risk
      |       FROM g, tot),
      |w AS (SELECT t, n_risk, d_events, c_censored,
      |             sum(CASE WHEN d_events = 0 THEN 0.0
      |                      WHEN d_events < n_risk
      |                      THEN ln(1.0 - CAST(d_events AS DOUBLE)
      |                                    / CAST(n_risk AS DOUBLE)) END)
      |               OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING
      |                     AND CURRENT ROW) AS lns,
      |             max(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END)
      |               OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING
      |                     AND CURRENT ROW) AS zf
      |      FROM rk)
      |SELECT t, n_risk, d_events, c_censored,
      |       CASE WHEN zf = 1 THEN 0.0
      |            ELSE floor(exp(lns) * 1000000.0 + 0.5) / 1000000.0
      |       END AS s_hat
      |FROM w""".stripMargin

  // -------------------------------------------------------- target encoding
  /** q188: leakage-safe target encoding
    * ([[graft.transform.Stats.targetEncodeOOF]]) — event_type encoded
    * by the out-of-fold mean of value cents under a 5-fold md5 split,
    * smoothed toward the global prior (m = 100). Two keyed aggs + one
    * 1-row global; OOF sums by subtraction, never an n-fold self-join.
    */
  def targetEncoding(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"), col("event_id"),
      graft.transform.Stats.cents(col("value")).as("v"))
    graft.transform.Stats.targetEncodeOOF(e, "event_type", "event_id", "v",
      nFolds = 5, smoothing = 100)
  }

  val targetEncodingSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 5
      |           AS fold,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |cells AS (SELECT event_type, fold, CAST(count(*) AS BIGINT) AS n_f,
      |                 CAST(sum(v) AS BIGINT) AS s_f
      |          FROM e GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(sum(n_f) AS BIGINT) AS n_c,
      |               CAST(sum(s_f) AS BIGINT) AS s_c
      |        FROM cells GROUP BY 1),
      |g AS (SELECT CAST(sum(n_c) AS BIGINT) AS nn,
      |             CAST(sum(s_c) AS BIGINT) AS ss FROM tot)
      |SELECT event_type, fold, n_c - n_f AS n_oof, s_c - s_f AS s_oof,
      |       floor((CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) * 1000000.0 + 0.5)
      |         / 1000000.0 AS prior,
      |       floor((CAST(s_c - s_f AS DOUBLE)
      |              + 100.0 * (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)))
      |             / (CAST(n_c - n_f AS DOUBLE) + 100.0) * 1000000.0 + 0.5)
      |         / 1000000.0 AS enc
      |FROM cells JOIN tot USING (event_type), g""".stripMargin

  // --------------------------------------------------------- fairness audit
  /** q191: demographic-parity / disparate-impact audit — per protected
    * group (market segment): positive-outcome rate (urgent/high order
    * priority), the DI ratio against the best-treated group, and the
    * four-fifths-rule flag. One fact→dim equi join + one keyed agg +
    * one 5-row global max; the 0.8 decision compares the UNROUNDED
    * ratio (identical IEEE dag both engines), so the flag gates as
    * data.
    */
  def fairnessAudit(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    // no broadcast HINT: a forced broadcast would OOM when the customer
    // dimension is itself fact-sized; the optimizer broadcasts the
    // pruned 2-column projection whenever it fits (PlanSpec pins that
    // it does at test scale)
    val g = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("n_pos"))
      .withColumn("__rr", col("n_pos").cast("double") / col("n").cast("double"))
    val best = g.agg(max(col("__rr")).as("__best"))
    g.crossJoin(broadcast(best))
      .select(col("c_mktsegment"), col("n"), col("n_pos"),
        pround(col("__rr"), 6).as("rate"),
        pround(col("__rr") / col("__best"), 6).as("di_ratio"),
        when(col("__rr") / col("__best") >= lit(0.8), 1L).otherwise(0L)
          .as("four_fifths_ok"))
  }

  val fairnessAuditSql: String =
    """WITH j AS (
      |  SELECT c.c_mktsegment AS seg,
      |         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |              THEN 1 ELSE 0 END AS pos
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |g AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(pos) AS BIGINT) AS n_pos
      |      FROM j GROUP BY 1),
      |r AS (SELECT seg, n, n_pos,
      |             CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS rr FROM g),
      |b AS (SELECT max(rr) AS best FROM r)
      |SELECT seg AS c_mktsegment, n, n_pos,
      |       floor(rr * 1000000.0 + 0.5) / 1000000.0 AS rate,
      |       floor(rr / best * 1000000.0 + 0.5) / 1000000.0 AS di_ratio,
      |       CAST(CASE WHEN rr / best >= 0.8 THEN 1 ELSE 0 END AS BIGINT)
      |         AS four_fifths_ok
      |FROM r, b""".stripMargin

  // ------------------------------------------------------- dp noisy counts
  /** Truncated discrete-Laplace (two-sided geometric, α = ½) inverse
    * CDF over a 60-bit uniform: support [−8, 8], weights 2⁻|k|
    * renormalized; thresholds are EXACT `floor(2⁶⁰·cum/766)` longs, so
    * sampling is pure integer compares — replayable in SQL as literals
    * (the q151 inlined-constant device). Declared above the SQL val
    * that renders it (object-init order rule). */
  private[graft] val DpThresholds: Seq[(Int, Long)] = {
    val weights = (-8 to 8).map(k => k -> (256L >> math.abs(k)))
    val tot = weights.map(_._2).sum // 766
    var c = 0L
    weights.map { case (k, w) =>
      c += w
      k -> (BigInt(2).pow(60) * c / tot).toLong
    }
  }

  /** q192: differentially-private noisy count release — per
    * (event_type, day) counts plus truncated discrete-Laplace noise
    * (geometric α = ½ ⇒ ε = ln 2 per cell for the untruncated
    * mechanism; truncation at ±8 contributes δ ≈ 2·2⁻⁸/3). The noise
    * here derives from an md5 of the CELL KEY so the release is
    * replayable by the oracle — a pipeline-verification harness for
    * the DP release path; a production release swaps the hash for a
    * sealed RNG (same inverse-CDF thresholds) and drops the true
    * column. Row-local after one keyed agg; no joins, no windows.
    */
  /** The cell-keyed inverse-CDF noise of [[dpNoisyCounts]] as a reusable
    * expression — the STREAMING release (StreamingSpec) applies the
    * identical function to completed windows, so batch ≡ streaming
    * exactly (the noise depends on the cell key, not on when the cell
    * was aggregated). */
  private[graft] def dpNoise(eventType: Column, day: Column): Column = {
    val u = conv(substring(md5(concat_ws("|", eventType,
      date_format(day, "yyyy-MM-dd"))), 1, 15), 16, 10).cast("long")
    val first = when(u < lit(DpThresholds.head._2),
      lit(DpThresholds.head._1.toLong))
    DpThresholds.tail.dropRight(1).foldLeft(first) {
      case (acc, (k, thr)) => acc.when(u < lit(thr), lit(k.toLong))
    }.otherwise(lit(8L))
  }

  def dpNoisyCounts(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val noise = dpNoise(col("event_type"), col("day"))
    cells.select(col("event_type"), col("day"), col("n"),
      noise.as("noise"),
      greatest(col("n") + noise, lit(0L)).as("n_noisy"))
  }

  val dpNoisyCountsSql: String = {
    val cases = DpThresholds.dropRight(1)
      .map { case (k, thr) => s"WHEN u < $thr THEN $k" }.mkString(" ")
    s"""WITH cells AS (
       |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |withu AS (
       |  SELECT event_type, day, n,
       |         ('0x' || substr(md5(concat_ws('|', event_type,
       |                  strftime(day, '%Y-%m-%d'))), 1, 15))::BIGINT AS u
       |  FROM cells)
       |SELECT event_type, day, n,
       |       CAST(CASE $cases ELSE 8 END AS BIGINT) AS noise,
       |       greatest(n + CAST(CASE $cases ELSE 8 END AS BIGINT), 0)
       |         AS n_noisy
       |FROM withu""".stripMargin
  }

  // ---------------------------------------------------------- kendall tau-b
  /** q194: per-event-type Kendall tau-b
    * ([[graft.transform.Stats.kendallTauB]]) between the value-cents
    * decile and the hour of day — the concordance companion to
    * Spearman (q122), computed entirely on the (key, x, y) cell frame:
    * concordant/discordant pairs from the bounded cells×cells join,
    * never a row-pair join; DECIMAL-exact pair products.
    */
  def kendallQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"),
      graft.transform.Stats.cents(col("value")).as("c"),
      hour(col("ts")).cast("long").as("y"))
    val bounds = ev.agg(min(col("c")).as("__mn"), max(col("c")).as("__mx"))
    val b = ev.crossJoin(broadcast(bounds)).select(col("event_type"),
      least(lit(9L), greatest(lit(0L),
        expr("((c - __mn) * 10) div (__mx - __mn + 1)"))).as("x"),
      col("y"))
    graft.transform.Stats.kendallTauB(b, Seq("event_type"), "x", "y")
  }

  val kendallSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |         CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS BIGINT) AS y
      |  FROM events),
      |bd AS (SELECT min(c) AS mn, max(c) AS mx FROM e),
      |b AS (SELECT event_type,
      |             least(9, greatest(0, ((c - mn) * 10) // (mx - mn + 1))) AS x,
      |             y
      |      FROM e, bd),
      |cells AS (SELECT event_type, x, y, CAST(count(*) AS BIGINT) AS n
      |          FROM b GROUP BY 1, 2, 3),
      |cd AS (SELECT a.event_type,
      |              CAST(sum(CASE WHEN bb.y > a.y
      |                   THEN CAST(a.n AS HUGEINT) * bb.n ELSE
      |                   CAST(0 AS HUGEINT) END) AS HUGEINT) AS c,
      |              CAST(sum(CASE WHEN bb.y < a.y
      |                   THEN CAST(a.n AS HUGEINT) * bb.n ELSE
      |                   CAST(0 AS HUGEINT) END) AS HUGEINT) AS d
      |       FROM cells a JOIN cells bb
      |         ON a.event_type = bb.event_type AND a.x < bb.x
      |       GROUP BY 1),
      |xt AS (SELECT event_type, CAST(sum(tx * (tx - 1)) AS HUGEINT) AS t1x,
      |              CAST(sum(tx) AS BIGINT) AS nx
      |       FROM (SELECT event_type, x, CAST(sum(n) AS HUGEINT) AS tx
      |             FROM cells GROUP BY 1, 2) GROUP BY 1),
      |yt AS (SELECT event_type, CAST(sum(ty * (ty - 1)) AS HUGEINT) AS t1y
      |       FROM (SELECT event_type, y, CAST(sum(n) AS HUGEINT) AS ty
      |             FROM cells GROUP BY 1, 2) GROUP BY 1),
      |j AS (SELECT xt.event_type, nx,
      |             coalesce(c, CAST(0 AS HUGEINT)) AS c,
      |             coalesce(d, CAST(0 AS HUGEINT)) AS d, t1x, t1y,
      |             CAST(nx AS DOUBLE) AS nd
      |      FROM xt JOIN yt USING (event_type) LEFT JOIN cd USING (event_type))
      |SELECT event_type, nx AS n,
      |       CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
      |       CASE WHEN (nd * (nd - 1.0) / 2.0 - CAST(t1x AS DOUBLE) / 2.0)
      |                 * (nd * (nd - 1.0) / 2.0 - CAST(t1y AS DOUBLE) / 2.0)
      |                 > 0.0
      |            THEN floor((CAST(c AS DOUBLE) - CAST(d AS DOUBLE))
      |                 / sqrt((nd * (nd - 1.0) / 2.0
      |                         - CAST(t1x AS DOUBLE) / 2.0)
      |                        * (nd * (nd - 1.0) / 2.0
      |                           - CAST(t1y AS DOUBLE) / 2.0))
      |                 * 1000000.0 + 0.5) / 1000000.0
      |       END AS tau_b
      |FROM j""".stripMargin

  // ----------------------------------------------------- markov absorption
  /** q197: 8-step Markov absorption into 'purchase'
    * ([[graft.transform.Temporal.markovAbsorption]]) — per-state
    * conversion probability within 8 transitions on the empirical
    * user-journey chain, in exact 2²⁰ fixed-point (the q91 PageRank
    * device), so the WHOLE recursion replays as a DuckDB recursive CTE
    * and the emitted dyadic probability gates bitwise with no rounding
    * column. (The oracle's recursion drives from `tr.prev`, which is
    * lossless here because every state has outgoing transitions; the
    * operator itself re-left-joins the state list each round.)
    */
  def markovAbsorptionQ(s: SparkSession, dir: String): DataFrame =
    Temporal.markovAbsorption(t(s, dir, "events"), "user_id", "event_type",
      "ts", "event_id", target = "purchase", steps = 8)

  val markovAbsorptionSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT event_type AS prev,
      |         lead(event_type) OVER (PARTITION BY user_id
      |              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
      |  FROM events),
      |tr AS (SELECT prev, nxt, CAST(count(*) AS BIGINT) AS c
      |       FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev, CAST(sum(c) AS BIGINT) AS ct FROM tr GROUP BY 1),
      |states AS (SELECT DISTINCT event_type AS s FROM events),
      |it(k, s, p) AS (
      |  SELECT 0, s,
      |         CAST(CASE WHEN s = 'purchase' THEN 1048576 ELSE 0 END AS BIGINT)
      |  FROM states
      |  UNION ALL
      |  SELECT it.k + 1, tr.prev,
      |         CAST(CASE WHEN tr.prev = 'purchase' THEN 1048576
      |              ELSE sum(tr.c * it.p) // max(tot.ct) END AS BIGINT)
      |  FROM it JOIN tr ON tr.nxt = it.s JOIN tot ON tot.prev = tr.prev
      |  WHERE it.k < 8
      |  GROUP BY it.k + 1, tr.prev)
      |SELECT s, p AS p_scaled, CAST(p AS DOUBLE) / 1048576.0 AS prob
      |FROM it WHERE k = 8""".stripMargin

  // ------------------------------------------------------- block bootstrap
  /** q198: moving-block bootstrap CI for the mean hourly event rate
    * ([[graft.transform.Stats.movingBlockBootstrap]]) — 200 replicates
    * of day-length (L=24) blocks over the dense hourly series; CI =
    * 2.5%/97.5% order statistics of the replicate means, SE from exact
    * DECIMAL moments. Block starts are deterministic Knuth hashes, so
    * the whole resampling replays in SQL.
    */
  def bootstrapCIQ(s: SparkSession, dir: String): DataFrame = {
    val hrs = t(s, dir, "events")
      .select(unix_micros(date_trunc("hour", col("ts"))).as("hus"))
    val bounds = hrs.agg(min(col("hus")).as("__mn"), max(col("hus")).as("__mx"))
    val counts = hrs.crossJoin(broadcast(bounds))
      .select(expr("(hus - __mn) div 3600000000").as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("v"))
    val grid = bounds.select(explode(sequence(lit(0L),
      expr("(__mx - __mn) div 3600000000"))).as("__i"))
    val series = grid.join(counts, Seq("__i"), "left")
      .select(col("__i"), coalesce(col("v"), lit(0L)).as("v"))
    graft.transform.Stats.movingBlockBootstrap(series, "__i", "v",
      blockLen = 24, reps = 200)
  }

  val bootstrapCISql: String =
    """WITH h AS (
      |  SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hus
      |  FROM events),
      |bd AS (SELECT min(hus) AS mn, max(hus) AS mx FROM h),
      |cnt AS (SELECT (hus - mn) // 3600000000 AS i,
      |               CAST(count(*) AS BIGINT) AS v
      |        FROM h, bd GROUP BY 1),
      |grid AS (SELECT unnest(range(0, (mx - mn) // 3600000000 + 1)) AS i
      |         FROM bd),
      |s AS (SELECT grid.i, coalesce(cnt.v, 0) AS v
      |      FROM grid LEFT JOIN cnt ON grid.i = cnt.i),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS tot
      |      FROM s),
      |g0 AS (SELECT unnest(range(0, 200)) AS b),
      |g1 AS (SELECT b, unnest(range(0, (n + 23) // 24)) AS j FROM g0, n),
      |g2 AS (SELECT b, j, (b * 2654435761 + j * 40503) % (n - 24 + 1) AS start
      |       FROM g1, n),
      |g3 AS (SELECT b, j, start, unnest(range(0, 24)) AS off FROM g2),
      |g4 AS (SELECT g3.b, start + off AS i FROM g3, n WHERE j * 24 + off < n),
      |rs AS (SELECT b, CAST(sum(s.v) AS BIGINT) AS sb
      |       FROM g4 JOIN s ON g4.i = s.i GROUP BY 1),
      |rm AS (SELECT b, sb, CAST(sb AS DOUBLE) / CAST(n AS DOUBLE) AS m,
      |              row_number() OVER (ORDER BY CAST(sb AS DOUBLE)
      |                   / CAST(n AS DOUBLE) ASC, b ASC) AS rn
      |       FROM rs, n),
      |mom AS (SELECT CAST(count(*) AS BIGINT) AS b_reps,
      |               sum(CAST(sb AS HUGEINT)) AS s1,
      |               sum(CAST(sb AS HUGEINT) * sb) AS s2,
      |               min(CASE WHEN rn = 5 THEN m END) AS lo,
      |               min(CASE WHEN rn = 196 THEN m END) AS hi
      |        FROM rm)
      |SELECT n.n, b_reps,
      |       floor(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5)
      |         / 1000000.0 AS mean_hat,
      |       floor(lo * 1000000.0 + 0.5) / 1000000.0 AS boot_lo,
      |       floor(hi * 1000000.0 + 0.5) / 1000000.0 AS boot_hi,
      |       floor(sqrt(greatest(200.0 * CAST(s2 AS DOUBLE)
      |                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0)
      |                  / (200.0 * 199.0)) / CAST(n AS DOUBLE)
      |             * 1000000.0 + 0.5) / 1000000.0 AS boot_se
      |FROM mom, n""".stripMargin

  // ------------------------------------------------------ forecast backtest
  /** q202: seasonal-naive forecast backtest with MASE — the honest
    * forecast-quality readout for capacity planning: predict each of
    * the last 7 days' hourly counts per event type by the same hour
    * one week earlier, and scale the test error by the IN-SAMPLE
    * seasonal-naive error (MASE — scale-free, well-defined on zero
    * hours where MAPE explodes). Dense hourly grid so gaps forecast
    * as true zeros; the 168-hour lag is an EQUI self-join on the
    * shifted index (no window over the series); all errors exact
    * integers, MASE one division chain, pround 6.
    */
  def forecastBacktest(s: SparkSession, dir: String): DataFrame = {
    val hrs = t(s, dir, "events").select(col("event_type"),
      unix_micros(date_trunc("hour", col("ts"))).as("hus"))
    val bounds = hrs.agg(min(col("hus")).as("__mn"), max(col("hus")).as("__mx"))
    val cnt = hrs.crossJoin(broadcast(bounds))
      .select(col("event_type"), expr("(hus - __mn) div 3600000000").as("i"))
      .groupBy(col("event_type"), col("i")).agg(count(lit(1)).as("v"))
    val types = hrs.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(bounds.select(
      explode(sequence(lit(0L), expr("(__mx - __mn) div 3600000000"))).as("i"))))
    val series = grid.join(cnt, Seq("event_type", "i"), "left")
      .select(col("event_type"), col("i"), coalesce(col("v"), lit(0L)).as("v"))
    val lagged = series.join(
      series.select(col("event_type"), (col("i") + 168L).as("i"),
        col("v").as("vlag")),
      Seq("event_type", "i"))
    val scored = lagged.crossJoin(broadcast(bounds))
      .select(col("event_type"), col("i"),
        abs(col("v") - col("vlag")).as("err"),
        (col("i") >=
          expr("(__mx - __mn) div 3600000000") + 1L - 168L).as("__isTest"))
    val agg = scored.groupBy(col("event_type"))
      .agg(sum(when(col("__isTest"), 1L).otherwise(0L)).as("n_test"),
        sum(when(col("__isTest"), col("err")).otherwise(0L)).as("abs_err_test"),
        sum(when(!col("__isTest"), 1L).otherwise(0L)).as("n_train"),
        sum(when(!col("__isTest"), col("err")).otherwise(0L)).as("abs_err_train"))
    val mase = (col("abs_err_test").cast("double") / col("n_test").cast("double")) /
      (col("abs_err_train").cast("double") / col("n_train").cast("double"))
    agg.select(col("event_type"), col("n_test"), col("abs_err_test"),
      col("n_train"), col("abs_err_train"),
      when(col("n_test") > 0L && col("n_train") > 0L &&
        col("abs_err_train") > 0L, pround(mase, 6)).as("mase"))
  }

  val forecastBacktestSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hus
      |  FROM events),
      |bd AS (SELECT min(hus) AS mn, max(hus) AS mx FROM h),
      |cnt AS (SELECT event_type, (hus - mn) // 3600000000 AS i,
      |               CAST(count(*) AS BIGINT) AS v
      |        FROM h, bd GROUP BY 1, 2),
      |ty AS (SELECT DISTINCT event_type FROM h),
      |grid AS (SELECT event_type, unnest(range(0, (mx - mn) // 3600000000 + 1))
      |                AS i
      |         FROM ty, bd),
      |s AS (SELECT grid.event_type, grid.i, coalesce(cnt.v, 0) AS v
      |      FROM grid LEFT JOIN cnt
      |        ON grid.event_type = cnt.event_type AND grid.i = cnt.i),
      |lg AS (SELECT s1.event_type, s1.i, abs(s1.v - s2.v) AS err
      |       FROM s s1 JOIN s s2
      |         ON s1.event_type = s2.event_type AND s1.i = s2.i + 168),
      |sc AS (SELECT event_type, err,
      |              i >= (mx - mn) // 3600000000 + 1 - 168 AS is_test
      |       FROM lg, bd),
      |agg AS (SELECT event_type,
      |               CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT)
      |                 AS n_test,
      |               CAST(sum(CASE WHEN is_test THEN err ELSE 0 END) AS BIGINT)
      |                 AS abs_err_test,
      |               CAST(sum(CASE WHEN NOT is_test THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS n_train,
      |               CAST(sum(CASE WHEN NOT is_test THEN err ELSE 0 END)
      |                 AS BIGINT) AS abs_err_train
      |        FROM sc GROUP BY 1)
      |SELECT event_type, n_test, abs_err_test, n_train, abs_err_train,
      |       CASE WHEN n_test > 0 AND n_train > 0 AND abs_err_train > 0
      |            THEN floor((CAST(abs_err_test AS DOUBLE)
      |                        / CAST(n_test AS DOUBLE))
      |                       / (CAST(abs_err_train AS DOUBLE)
      |                          / CAST(n_train AS DOUBLE))
      |                       * 1000000.0 + 0.5) / 1000000.0
      |       END AS mase
      |FROM agg""".stripMargin

  // --------------------------------------------------------- bitemporal pit
  /** q203: bitemporal point-in-time retrieval — the training-set
    * REPRODUCIBILITY readout for the feature store (M4's PIT join made
    * honest about late-arriving data): each feature row carries a
    * synthesized arrival time `created = ts + md5-lateness(≤2h)`, and
    * the query answers "what did the store KNOW at knowledge time K?"
    * beside "what does it know now?" — rows where they differ are
    * exactly the entities whose training features are irreproducible
    * from today's store. Both answers come from ONE scan and ONE keyed
    * argmax (`max(struct(ts, value, type))`, conditional for the as-of
    * leg) — the q06 fused-dedup device, not two PIT joins.
    */
  def bitemporalPit(s: SparkSession, dir: String): DataFrame = {
    val entityTs = lit("2024-01-15 00:00:00").cast("timestamp")
    val kUs = 1705280400000000L // 2024-01-15 01:00:00 UTC, epoch µs
    val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
      col("value"), col("event_type"),
      (unix_micros(col("ts")) +
        (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 7200L) * 1000000L).as("__created_us"))
    val eligible = ev.filter(col("ts") <= entityTs &&
      col("ts") >= entityTs - expr("INTERVAL 7 DAY"))
    val ordered = struct(col("ts"), col("value"), col("event_type"))
    val per = eligible.groupBy(col("user_id"))
      .agg(max(ordered).as("__now"),
        max(when(col("__created_us") <= kUs, ordered)).as("__asof"))
    val entities = t(s, dir, "events").select(col("user_id")).distinct()
    entities.join(per, Seq("user_id"), "left")
      .select(col("user_id"), entityTs.as("event_timestamp"),
        col("__now.value").as("value_now"),
        col("__now.event_type").as("type_now"),
        col("__asof.value").as("value_asof"),
        col("__asof.event_type").as("type_asof"),
        when(!(col("__asof.value") <=> col("__now.value")) ||
          !(col("__asof.event_type") <=> col("__now.event_type")), 1L)
          .otherwise(0L).as("irreproducible"))
  }

  val bitemporalPitSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP))
      |           + (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
      |              ::BIGINT % 7200) * 1000000 AS created_us
      |  FROM events),
      |el AS (SELECT * FROM ev
      |       WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
      |         AND ts >= TIMESTAMP '2024-01-15 00:00:00' - INTERVAL 7 DAY),
      |per AS (
      |  SELECT user_id,
      |         max({'ts': ts, 'v': value, 'et': event_type}) AS now_s,
      |         max(CASE WHEN created_us <= 1705280400000000
      |                  THEN {'ts': ts, 'v': value, 'et': event_type} END)
      |           AS asof_s
      |  FROM el GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM events)
      |SELECT u.user_id,
      |       TIMESTAMP '2024-01-15 00:00:00' AS event_timestamp,
      |       (now_s).v AS value_now, (now_s).et AS type_now,
      |       (asof_s).v AS value_asof, (asof_s).et AS type_asof,
      |       CAST(CASE WHEN (asof_s).v IS DISTINCT FROM (now_s).v
      |                   OR (asof_s).et IS DISTINCT FROM (now_s).et
      |            THEN 1 ELSE 0 END AS BIGINT) AS irreproducible
      |FROM u LEFT JOIN per ON u.user_id = per.user_id""".stripMargin

  // ------------------------------------------------------------ rfm features
  /** q207: RFM + engagement feature assembly — the canonical per-user
    * feature-engineering pass (recency / frequency / monetary, active
    * days, 30-minute session count, value per active day) in ONE scan:
    * the user-keyed lag window that flags session starts shares its
    * partitioning with the per-user aggregation, and recency reads a
    * broadcast 1-row global max. Exact integers except the one
    * division, pround 6.
    */
  def rfmFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        graft.transform.Stats.cents(col("value")).as("__cents"),
        date_trunc("day", col("ts")).as("__day"))
      .withColumn("__gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("__new_session",
        when(col("__gap_us").isNull || col("__gap_us") > 1800000000L, 1L)
          .otherwise(0L))
    val mx = ev.agg(max(unix_micros(col("ts"))).as("__mx"))
    val per = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("frequency"),
        sum(col("__cents")).as("monetary_cents"),
        max(unix_micros(col("ts"))).as("__last_us"),
        countDistinct(col("__day")).as("active_days"),
        sum(col("__new_session")).as("n_sessions"))
    per.crossJoin(broadcast(mx))
      .select(col("user_id"), col("frequency"), col("monetary_cents"),
        expr("(__mx - __last_us) div 3600000000").as("recency_h"),
        col("active_days"), col("n_sessions"),
        pround(col("monetary_cents").cast("double") /
          col("active_days").cast("double"), 6).as("cents_per_active_day"))
  }

  val rfmFeaturesSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |         date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
      |  FROM events),
      |lg AS (SELECT user_id, ts, cents, day,
      |              epoch_us(ts) - lag(epoch_us(ts)) OVER
      |                (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |                AS gap_us
      |       FROM ev),
      |fl AS (SELECT user_id, ts, cents, day,
      |              CASE WHEN gap_us IS NULL OR gap_us > 1800000000
      |                   THEN 1 ELSE 0 END AS new_session
      |       FROM lg),
      |mx AS (SELECT max(epoch_us(ts)) AS mxx FROM ev),
      |per AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS frequency,
      |         CAST(sum(cents) AS BIGINT) AS monetary_cents,
      |         max(epoch_us(ts)) AS last_us,
      |         CAST(count(DISTINCT day) AS BIGINT) AS active_days,
      |         CAST(sum(new_session) AS BIGINT) AS n_sessions
      |  FROM fl GROUP BY 1)
      |SELECT user_id, frequency, monetary_cents,
      |       (mxx - last_us) // 3600000000 AS recency_h,
      |       active_days, n_sessions,
      |       floor(CAST(monetary_cents AS DOUBLE) / CAST(active_days AS DOUBLE)
      |             * 1000000.0 + 0.5) / 1000000.0 AS cents_per_active_day
      |FROM per, mx""".stripMargin

  // -------------------------------------------------------- neyman allocation
  /** q208: Neyman-optimal stratified allocation — how a 1000-row sample
    * budget SHOULD split across strata (∝ N_h·σ_h, minimizing the
    * estimator variance) vs naive proportional. The weight reduces to
    * `⌊√(n·Σx² − (Σx)²)⌋` — exact DECIMAL moments through one
    * correctly-rounded sqrt and one floor, so the weights are exact
    * integers and the largest-remainder distribution (the q131
    * Hamilton machinery, windowless strict-before ranking) replays
    * bitwise; Σ quota = 1000 by construction.
    */
  def neymanAllocation(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000L
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val e = t(s, dir, "events").select(col("event_type"),
      graft.transform.Stats.cents(col("value")).as("c"))
    val g = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("c"))).cast("decimal(38,0)").as("__s1"),
        sum(dec(col("c")) * dec(col("c"))).cast("decimal(38,0)").as("__s2"))
      .withColumn("w", floor(sqrt(greatest(
        col("n").cast("double") * col("__s2").cast("double") -
          col("__s1").cast("double") * col("__s1").cast("double"),
        lit(0.0)))).cast("long"))
      .select(col("event_type"), col("n"), col("w"))
    val tot = g.agg(sum(col("w")).as("__w"), sum(col("n")).as("__n"))
    val gq = g.crossJoin(broadcast(tot))
      .withColumn("__fq", expr(s"($budget * w) div __w"))
      .withColumn("__rem", expr(s"($budget * w) % __w"))
      .withColumn("prop_floor", expr(s"($budget * n) div __n"))
    val fsum = gq.agg(sum(col("__fq")).as("__fsum"))
    val ranked = gq.as("a").join(broadcast(gq.as("b")),
        col("b.__rem") > col("a.__rem") ||
          (col("b.__rem") === col("a.__rem") &&
            col("b.event_type") < col("a.event_type")), "left")
      .groupBy(col("a.event_type").as("event_type"), col("a.n").as("n"),
        col("a.w").as("w"), col("a.__fq").as("__fq"),
        col("a.__rem").as("__rem"), col("a.prop_floor").as("prop_floor"))
      .agg(count(col("b.event_type")).as("__pred"))
    ranked.crossJoin(broadcast(fsum))
      .select(col("event_type"), col("n"), col("w"), col("prop_floor"),
        (col("__fq") + when(col("__pred") < lit(budget) - col("__fsum"), 1L)
          .otherwise(0L)).as("neyman_quota"))
  }

  val neymanAllocationSql: String =
    """WITH e AS (SELECT event_type,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |           FROM events),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |             sum(CAST(c AS HUGEINT)) AS s1,
      |             sum(CAST(c AS HUGEINT) * c) AS s2
      |      FROM e GROUP BY 1),
      |w AS (SELECT event_type, n,
      |             CAST(floor(sqrt(greatest(
      |               CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0)))
      |               AS BIGINT) AS w
      |      FROM g),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
      |               CAST(sum(n) AS BIGINT) AS tn FROM w),
      |gq AS (SELECT event_type, n, w,
      |              (1000 * w) // tw AS fq, (1000 * w) % tw AS rem,
      |              (1000 * n) // tn AS prop_floor
      |       FROM w, tot),
      |fs AS (SELECT CAST(sum(fq) AS BIGINT) AS fsum FROM gq),
      |rk AS (SELECT a.event_type, a.n, a.w, a.fq, a.rem, a.prop_floor,
      |              CAST(count(b.event_type) AS BIGINT) AS pred
      |       FROM gq a LEFT JOIN gq b
      |         ON b.rem > a.rem
      |            OR (b.rem = a.rem AND b.event_type < a.event_type)
      |       GROUP BY 1, 2, 3, 4, 5, 6)
      |SELECT event_type, n, w, prop_floor,
      |       fq + (CASE WHEN pred < 1000 - fsum THEN 1 ELSE 0 END)
      |         AS neyman_quota
      |FROM rk, fs""".stripMargin

  // ----------------------------------------------------------- mde power
  /** q209: minimum detectable effect — the experiment-design closer of
    * the A/B toolkit (q133 z-test, q186 Mann-Whitney, q138 SRM, q102
    * CUPED): at α = 5% two-sided and 80% power, the smallest absolute
    * and relative lift the current md5 arm split could detect on value
    * cents. Pooled variance from exact DECIMAL moments; the z literals
    * are spelled identically in both engines; one closed IEEE dag,
    * pround 6.
    */
  def mdePower(s: SparkSession, dir: String): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val e = t(s, dir, "events").select(col("event_type"),
      (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("long") % 2).as("arm"),
      graft.transform.Stats.cents(col("value")).as("c"))
    val g = e.groupBy(col("event_type"))
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
        count(lit(1)).as("n"),
        sum(dec(col("c"))).cast("decimal(38,0)").as("__s1"),
        sum(dec(col("c")) * dec(col("c"))).cast("decimal(38,0)").as("__s2"))
    val nD = col("n").cast("double")
    val mean = col("__s1").cast("double") / nD
    val variance = greatest(
      (nD * col("__s2").cast("double") -
        col("__s1").cast("double") * col("__s1").cast("double")) /
        (nD * (nD - lit(1.0))), lit(0.0))
    // z_{0.975} + z_{0.8} spelled as ONE literal — summing the two
    // literals in Scala could differ from the SQL literal by 1 ulp
    val mde = lit(2.801585) *
      sqrt(variance * (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    g.select(col("event_type"), col("n_a"), col("n_b"),
      pround(mean, 6).as("mean_cents"),
      when(col("n_a") > 0L && col("n_b") > 0L && col("n") > 1L,
        pround(mde, 6)).as("mde_cents"),
      when(col("n_a") > 0L && col("n_b") > 0L && col("n") > 1L &&
        col("__s1").cast("double") > lit(0.0),
        pround(mde / mean, 6)).as("mde_rel"))
  }

  val mdePowerSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))::BIGINT % 2
      |           AS arm,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events),
      |g AS (SELECT event_type,
      |             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |               AS n_a,
      |             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |               AS n_b,
      |             CAST(count(*) AS BIGINT) AS n,
      |             sum(CAST(c AS HUGEINT)) AS s1,
      |             sum(CAST(c AS HUGEINT) * c) AS s2
      |      FROM e GROUP BY 1),
      |d AS (SELECT event_type, n_a, n_b, n,
      |             CAST(n AS DOUBLE) AS nd,
      |             CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d
      |      FROM g),
      |m AS (SELECT event_type, n_a, n_b, n, s1d / nd AS mean,
      |             2.801585 * sqrt(greatest((nd * s2d - s1d * s1d)
      |                             / (nd * (nd - 1.0)), 0.0)
      |                             * (1.0 / CAST(n_a AS DOUBLE)
      |                                + 1.0 / CAST(n_b AS DOUBLE))) AS mde
      |      FROM d)
      |SELECT event_type, n_a, n_b,
      |       floor(mean * 1000000.0 + 0.5) / 1000000.0 AS mean_cents,
      |       CASE WHEN n_a > 0 AND n_b > 0 AND n > 1
      |            THEN floor(mde * 1000000.0 + 0.5) / 1000000.0
      |       END AS mde_cents,
      |       CASE WHEN n_a > 0 AND n_b > 0 AND n > 1 AND mean > 0.0
      |            THEN floor(mde / mean * 1000000.0 + 0.5) / 1000000.0
      |       END AS mde_rel
      |FROM m""".stripMargin

  // --------------------------------------------------------- overdispersion
  /** q210: count overdispersion screen — is the hourly arrival process
    * Poisson-like, or bursty enough that a Poisson capacity model
    * undersizes? Dispersion index `D = var/mean` of the DENSE hourly
    * counts (zero hours included — omitting them biases D down), from
    * exact DECIMAL moments; `chi2 = (n−1)·D` rides along; the
    * over-dispersion flag compares the UNROUNDED D to 1.5 (identical
    * IEEE dag both engines, so it gates as data).
    */
  def overdispersion(s: SparkSession, dir: String): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val hrs = t(s, dir, "events").select(col("event_type"),
      unix_micros(date_trunc("hour", col("ts"))).as("hus"))
    val bounds = hrs.agg(min(col("hus")).as("__mn"), max(col("hus")).as("__mx"))
    val cnt = hrs.crossJoin(broadcast(bounds))
      .select(col("event_type"), expr("(hus - __mn) div 3600000000").as("i"))
      .groupBy(col("event_type"), col("i")).agg(count(lit(1)).as("v"))
    val types = hrs.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(bounds.select(
      explode(sequence(lit(0L), expr("(__mx - __mn) div 3600000000"))).as("i"))))
    val series = grid.join(cnt, Seq("event_type", "i"), "left")
      .select(col("event_type"), col("i"), coalesce(col("v"), lit(0L)).as("v"))
    val g = series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(dec(col("v"))).cast("decimal(38,0)").as("__s1"),
        sum(dec(col("v")) * dec(col("v"))).cast("decimal(38,0)").as("__s2"))
    val nD = col("n_hours").cast("double")
    val mean = col("__s1").cast("double") / nD
    val variance = (nD * col("__s2").cast("double") -
      col("__s1").cast("double") * col("__s1").cast("double")) /
      (nD * (nD - lit(1.0)))
    val d = variance / mean
    g.select(col("event_type"), col("n_hours"),
      pround(mean, 6).as("mean_per_hour"),
      when(col("__s1").cast("double") > lit(0.0) && col("n_hours") > 1L,
        pround(d, 6)).as("dispersion"),
      when(col("__s1").cast("double") > lit(0.0) && col("n_hours") > 1L,
        pround((nD - lit(1.0)) * d, 6)).as("chi2"),
      when(col("__s1").cast("double") > lit(0.0) && col("n_hours") > 1L &&
        d > lit(1.5), 1L).otherwise(0L).as("overdispersed"))
  }

  val overdispersionSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hus
      |  FROM events),
      |bd AS (SELECT min(hus) AS mn, max(hus) AS mx FROM h),
      |cnt AS (SELECT event_type, (hus - mn) // 3600000000 AS i,
      |               CAST(count(*) AS BIGINT) AS v
      |        FROM h, bd GROUP BY 1, 2),
      |ty AS (SELECT DISTINCT event_type FROM h),
      |grid AS (SELECT event_type,
      |                unnest(range(0, (mx - mn) // 3600000000 + 1)) AS i
      |         FROM ty, bd),
      |s AS (SELECT grid.event_type, coalesce(cnt.v, 0) AS v
      |      FROM grid LEFT JOIN cnt
      |        ON grid.event_type = cnt.event_type AND grid.i = cnt.i),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
      |             sum(CAST(v AS HUGEINT)) AS s1,
      |             sum(CAST(v AS HUGEINT) * v) AS s2
      |      FROM s GROUP BY 1),
      |d AS (SELECT event_type, n_hours, CAST(n_hours AS DOUBLE) AS nd,
      |             CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d
      |      FROM g),
      |m AS (SELECT event_type, n_hours, s1d / nd AS mean,
      |             ((nd * s2d - s1d * s1d) / (nd * (nd - 1.0)))
      |               / (s1d / nd) AS disp, s1d
      |      FROM d)
      |SELECT event_type, n_hours,
      |       floor(mean * 1000000.0 + 0.5) / 1000000.0 AS mean_per_hour,
      |       CASE WHEN s1d > 0.0 AND n_hours > 1
      |            THEN floor(disp * 1000000.0 + 0.5) / 1000000.0
      |       END AS dispersion,
      |       CASE WHEN s1d > 0.0 AND n_hours > 1
      |            THEN floor((CAST(n_hours AS DOUBLE) - 1.0) * disp
      |                 * 1000000.0 + 0.5) / 1000000.0
      |       END AS chi2,
      |       CAST(CASE WHEN s1d > 0.0 AND n_hours > 1 AND disp > 1.5
      |            THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
      |FROM m""".stripMargin

  // ------------------------------------------------------- training matrix
  /** q211: training-matrix assembly — the end product the whole
    * pipeline exists to produce, in one query: per-user behavioral
    * features from STRICTLY BEFORE the cutoff (2024-01-24), the
    * conversion label (a purchase at-or-after it) from the label
    * window only — leakage impossible by construction — and the md5
    * train/val/test split.
    * Every emitted column is an exact integer or a literal string —
    * the whole matrix gates bitwise.
    */
  def trainingMatrix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cutoff = lit("2024-01-24 00:00:00").cast("timestamp")
    val cutoffUs = 1706054400000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pre = t(s, dir, "events").filter(col("ts") < cutoff)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        graft.transform.Stats.cents(col("value")).as("__cents"),
        date_trunc("day", col("ts")).as("__day"))
      .withColumn("__gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("__new_session",
        when(col("__gap_us").isNull || col("__gap_us") > 1800000000L, 1L)
          .otherwise(0L))
    val feats = pre.groupBy(col("user_id"))
      .agg(count(lit(1)).as("frequency"),
        sum(col("__cents")).as("monetary_cents"),
        max(unix_micros(col("ts"))).as("__last_us"),
        countDistinct(col("__day")).as("active_days"),
        countDistinct(col("event_type")).as("n_types"),
        sum(col("__new_session")).as("n_sessions"))
    // label = did the user PURCHASE at-or-after the cutoff (every
    // synthetic user stays generically active, so plain churn is
    // degenerate — conversion is the label with signal)
    val post = t(s, dir, "events")
      .filter(col("ts") >= cutoff && col("event_type") === "purchase")
      .select(col("user_id")).distinct().withColumn("__conv", lit(1L))
    val bucket = conv(substring(md5(col("user_id").cast("string")), 1, 8),
      16, 10).cast("long") % 10L
    feats.join(post, Seq("user_id"), "left")
      .select(col("user_id"), col("frequency"), col("monetary_cents"),
        expr(s"($cutoffUs - __last_us) div 3600000000").as("recency_h"),
        col("active_days"), col("n_types"), col("n_sessions"),
        when(col("__conv").isNull, 0L).otherwise(1L).as("converted"),
        when(bucket < 8L, "train").when(bucket === 8L, "val")
          .otherwise("test").as("split"))
  }

  val trainingMatrixSql: String =
    """WITH pre AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |         date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
      |  FROM events
      |  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-24 00:00:00'),
      |lg AS (SELECT user_id, ts, cents, event_type, day,
      |              epoch_us(ts) - lag(epoch_us(ts)) OVER
      |                (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |                AS gap_us
      |       FROM pre),
      |fl AS (SELECT user_id, ts, cents, event_type, day,
      |              CASE WHEN gap_us IS NULL OR gap_us > 1800000000
      |                   THEN 1 ELSE 0 END AS new_session
      |       FROM lg),
      |feats AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS frequency,
      |         CAST(sum(cents) AS BIGINT) AS monetary_cents,
      |         max(epoch_us(ts)) AS last_us,
      |         CAST(count(DISTINCT day) AS BIGINT) AS active_days,
      |         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
      |         CAST(sum(new_session) AS BIGINT) AS n_sessions
      |  FROM fl GROUP BY 1),
      |post AS (SELECT DISTINCT user_id FROM events
      |         WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-24 00:00:00'
      |           AND event_type = 'purchase')
      |SELECT f.user_id, frequency, monetary_cents,
      |       (1706054400000000 - last_us) // 3600000000 AS recency_h,
      |       active_days, n_types, n_sessions,
      |       CAST(CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
      |         AS converted,
      |       CASE WHEN ('0x' || substr(md5(CAST(f.user_id AS VARCHAR)), 1, 8))
      |                 ::BIGINT % 10 < 8 THEN 'train'
      |            WHEN ('0x' || substr(md5(CAST(f.user_id AS VARCHAR)), 1, 8))
      |                 ::BIGINT % 10 = 8 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM feats f LEFT JOIN post p ON f.user_id = p.user_id""".stripMargin

  // ------------------------------------------------------ sequential looks
  /** q213: group-sequential A/B monitoring — the peeking-honest
    * experiment readout: Welch z of the arm value difference at four
    * weekly looks, each compared against its O'Brien-Fleming boundary
    * (4.049/2.863/2.338/2.024 for 4 equal looks at two-sided 5%,
    * spelled as literals in both engines). Cumulative per-look moments
    * come from ONE scan via a look-boundary explode; the stop flag
    * compares the UNROUNDED |z| (identical IEEE dag), so it gates as
    * data.
    */
  def sequentialLooks(s: SparkSession, dir: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val bounds = Seq((1, "2024-01-08"), (2, "2024-01-15"),
      (3, "2024-01-22"), (4, "2024-01-29"))
    val obf = Map(1 -> 4.049, 2 -> 2.863, 3 -> 2.338, 4 -> 2.024)
    val e = t(s, dir, "events").select(
      (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("long") % 2).as("arm"),
      graft.transform.Stats.cents(col("value")).as("c"), col("ts"))
    val looks = e.select(col("arm"), col("c"), col("ts"),
      explode(array(bounds.map { case (k, d) =>
        struct(lit(k.toLong).as("look"), lit(d).cast("timestamp").as("end"))
      }: _*)).as("lk"))
      .filter(col("ts") < col("lk.end"))
      .select(col("lk.look").as("look"), col("arm"), col("c"))
    val g = looks.groupBy(col("look"))
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0L, dec(col("c")))).cast("decimal(38,0)")
          .as("__sa"),
        sum(when(col("arm") === 1L, dec(col("c")))).cast("decimal(38,0)")
          .as("__sb"),
        sum(when(col("arm") === 0L, dec(col("c")) * dec(col("c"))))
          .cast("decimal(38,0)").as("__qa"),
        sum(when(col("arm") === 1L, dec(col("c")) * dec(col("c"))))
          .cast("decimal(38,0)").as("__qb"))
    def m(sc: Column, n: Column) = sc.cast("double") / n.cast("double")
    def v(q: Column, sc: Column, n: Column) = {
      val nD = n.cast("double")
      greatest((nD * q.cast("double") - sc.cast("double") * sc.cast("double")) /
        (nD * (nD - lit(1.0))), lit(0.0))
    }
    val z = (m(col("__sa"), col("n_a")) - m(col("__sb"), col("n_b"))) /
      sqrt(v(col("__qa"), col("__sa"), col("n_a")) / col("n_a").cast("double") +
        v(col("__qb"), col("__sb"), col("n_b")) / col("n_b").cast("double"))
    val boundary = bounds.tail.foldLeft(
      when(col("look") === bounds.head._1.toLong, lit(obf(bounds.head._1)))) {
      case (acc, (k, _)) => acc.when(col("look") === k.toLong, lit(obf(k)))
    }
    g.select(col("look"), col("n_a"), col("n_b"),
      pround(z, 6).as("z"),
      boundary.as("obf_boundary"),
      when(abs(z) > boundary, 1L).otherwise(0L).as("crossed"))
  }

  val sequentialLooksSql: String =
    """WITH e AS (
      |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))::BIGINT % 2
      |           AS arm,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
      |         CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |lk AS (SELECT * FROM (VALUES
      |         (1, TIMESTAMP '2024-01-08 00:00:00', 4.049),
      |         (2, TIMESTAMP '2024-01-15 00:00:00', 2.863),
      |         (3, TIMESTAMP '2024-01-22 00:00:00', 2.338),
      |         (4, TIMESTAMP '2024-01-29 00:00:00', 2.024))
      |         v(look, endt, obf)),
      |x AS (SELECT lk.look, lk.obf, e.arm, e.c
      |      FROM e JOIN lk ON e.ts < lk.endt),
      |g AS (SELECT look, CAST(max(obf) AS DOUBLE) AS obf,
      |             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |               AS n_a,
      |             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |               AS n_b,
      |             sum(CASE WHEN arm = 0 THEN CAST(c AS HUGEINT) END) AS sa,
      |             sum(CASE WHEN arm = 1 THEN CAST(c AS HUGEINT) END) AS sb,
      |             sum(CASE WHEN arm = 0 THEN CAST(c AS HUGEINT) * c END) AS qa,
      |             sum(CASE WHEN arm = 1 THEN CAST(c AS HUGEINT) * c END) AS qb
      |      FROM x GROUP BY 1),
      |d AS (SELECT look, obf, n_a, n_b,
      |             (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
      |              - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
      |             / sqrt(greatest((CAST(n_a AS DOUBLE) * CAST(qa AS DOUBLE)
      |                    - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
      |                    / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)),
      |                    0.0) / CAST(n_a AS DOUBLE)
      |                  + greatest((CAST(n_b AS DOUBLE) * CAST(qb AS DOUBLE)
      |                    - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
      |                    / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)),
      |                    0.0) / CAST(n_b AS DOUBLE)) AS z
      |      FROM g)
      |SELECT CAST(look AS BIGINT) AS look, n_a, n_b,
      |       floor(z * 1000000.0 + 0.5) / 1000000.0 AS z,
      |       obf AS obf_boundary,
      |       CAST(CASE WHEN abs(z) > obf THEN 1 ELSE 0 END AS BIGINT)
      |         AS crossed
      |FROM d""".stripMargin

  // ----------------------------------------------------- delta-method ratio
  /** q214: ratio-metric CI by the delta method — the experimentation
    * pitfall killer: value-per-event is a RATIO of per-user sums, so
    * its variance needs the delta method over user-level (x, y)
    * moments, not the naive row-level formula. Per arm:
    * `R = ΣX/ΣY`, `se² = (vx − 2R·cov + R²·vy) / (n·ȳ²)`, then the
    * difference z. All moments exact DECIMAL over per-user aggregates;
    * the dag is spelled identically both engines, pround 6.
    */
  def deltaMethodRatio(s: SparkSession, dir: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val perUser = t(s, dir, "events").select(
      (conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
        .cast("long") % 2).as("arm"), col("user_id"),
      graft.transform.Stats.cents(col("value")).as("c"))
      .groupBy(col("arm"), col("user_id"))
      .agg(sum(col("c")).as("x"), count(lit(1)).as("y"))
    val g = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).cast("decimal(38,0)").as("__sx"),
        sum(dec(col("y"))).cast("decimal(38,0)").as("__sy"),
        sum(dec(col("x")) * dec(col("x"))).cast("decimal(38,0)").as("__sxx"),
        sum(dec(col("y")) * dec(col("y"))).cast("decimal(38,0)").as("__syy"),
        sum(dec(col("x")) * dec(col("y"))).cast("decimal(38,0)").as("__sxy"))
    val nD = col("n").cast("double")
    def d(c: Column) = c.cast("double")
    val r = d(col("__sx")) / d(col("__sy"))
    val my = d(col("__sy")) / nD
    val vx = (nD * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))) /
      (nD * (nD - lit(1.0)))
    val vy = (nD * d(col("__syy")) - d(col("__sy")) * d(col("__sy"))) /
      (nD * (nD - lit(1.0)))
    val cov = (nD * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))) /
      (nD * (nD - lit(1.0)))
    val se2 = greatest(vx - lit(2.0) * r * cov + r * r * vy, lit(0.0)) /
      (nD * my * my)
    g.select(col("arm"), col("n"),
      pround(r, 6).as("ratio"),
      pround(sqrt(se2), 6).as("se"))
  }

  val deltaMethodRatioSql: String =
    """WITH pu AS (
      |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))::BIGINT % 2
      |           AS arm, user_id,
      |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |           AS x,
      |         CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
      |             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |             sum(CAST(x AS HUGEINT) * x) AS sxx,
      |             sum(CAST(y AS HUGEINT) * y) AS syy,
      |             sum(CAST(x AS HUGEINT) * y) AS sxy
      |      FROM pu GROUP BY 1),
      |d AS (SELECT arm, n, CAST(n AS DOUBLE) AS nd,
      |             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
      |             CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
      |             CAST(sxy AS DOUBLE) AS sxyd
      |      FROM g),
      |m AS (SELECT arm, n, sxd / syd AS r, syd / nd AS my, nd,
      |             (nd * sxxd - sxd * sxd) / (nd * (nd - 1.0)) AS vx,
      |             (nd * syyd - syd * syd) / (nd * (nd - 1.0)) AS vy,
      |             (nd * sxyd - sxd * syd) / (nd * (nd - 1.0)) AS cov
      |      FROM d)
      |SELECT arm, n,
      |       floor(r * 1000000.0 + 0.5) / 1000000.0 AS ratio,
      |       floor(sqrt(greatest(vx - 2.0 * r * cov + r * r * vy, 0.0)
      |             / (nd * my * my)) * 1000000.0 + 0.5) / 1000000.0 AS se
      |FROM m""".stripMargin

  // ------------------------------------------------------- feature screen
  /** q216: univariate feature screen — every q211 training-matrix
    * feature ranked by its single-feature AUC against the conversion
    * label (the honest first cut before any model: a feature that
    * can't beat 0.5 alone rarely earns its keep). One unpivot explode
    * feeds the value-domain AUC machinery (q108) keyed by feature —
    * six features, one pass, exact integer rank sums, the AUC a single
    * division.
    */
  def featureScreen(s: SparkSession, dir: String): DataFrame = {
    val feats = Seq("frequency", "monetary_cents", "recency_h",
      "active_days", "n_types", "n_sessions")
    val unpiv = trainingMatrix(s, dir).select(col("converted"),
        explode(array(feats.map(f =>
          struct(lit(f).as("feature"), col(f).cast("long").as("score"))): _*))
          .as("fs"))
      .select(col("fs.feature").as("feature"), col("fs.score").as("score"),
        col("converted"))
    graft.transform.Stats.aucByKey(unpiv, Seq("feature"), "score", "converted")
  }

  val featureScreenSql: String = {
    val feats = Seq("frequency", "monetary_cents", "recency_h",
      "active_days", "n_types", "n_sessions")
    val branches = feats.map(f =>
      s"SELECT '$f' AS feature, $f AS score, converted FROM m")
      .mkString("\n       |  UNION ALL ")
    s"""WITH m AS (SELECT * FROM (${trainingMatrixSql.replace("\n", "\n       ")}
       |) q),
       |up AS (
       |  $branches),
       |s AS (
       |  SELECT feature, score, count(*) AS n_at,
       |         CAST(sum(converted) AS BIGINT) AS pos_at
       |  FROM up GROUP BY 1, 2),
       |s2 AS (
       |  SELECT feature, score, pos_at, n_at - pos_at AS neg_at,
       |         coalesce(CAST(sum(n_at - pos_at) OVER (
       |           PARTITION BY feature ORDER BY score
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS BIGINT), 0) AS neg_below
       |  FROM s)
       |SELECT feature,
       |       CAST(sum(pos_at) AS BIGINT) AS n_pos,
       |       CAST(sum(neg_at) AS BIGINT) AS n_neg,
       |       CAST(sum(2 * pos_at * neg_below + pos_at * neg_at) AS BIGINT)
       |         AS u2,
       |       CASE WHEN sum(pos_at) > 0 AND sum(neg_at) > 0 THEN
       |         CAST(CAST(sum(2 * pos_at * neg_below + pos_at * neg_at)
       |              AS BIGINT) AS DOUBLE)
       |         / CAST(2 * CAST(sum(pos_at) AS BIGINT)
       |                * CAST(sum(neg_at) AS BIGINT) AS DOUBLE) END AS auc
       |FROM s2 GROUP BY 1""".stripMargin
  }

  // ----------------------------------------------------------- gains table
  /** q217: gains/lift table — the business-facing model-eval readout
    * beside AUC: users banded into 10 equal-width monetary-score bands
    * (the q184 min/max device — deterministic integer bucketing), per
    * band conversion rate and lift vs the overall rate, plus
    * top-down cumulative capture. The cumulative leg rides ONE window
    * over the 10-row band frame (metadata-scale); rates and lift are
    * single divisions, pround 6.
    */
  def gainsTable(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = trainingMatrix(s, dir)
      .select(col("monetary_cents").as("score"), col("converted"))
    val bounds = m.agg(min(col("score")).as("__mn"), max(col("score")).as("__mx"))
    val banded = m.crossJoin(broadcast(bounds))
      .select(least(lit(9L), greatest(lit(0L),
        expr("((score - __mn) * 10) div (__mx - __mn + 1)"))).as("band"),
        col("converted"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("n_pos"))
    val tot = banded.agg(sum(col("n")).as("__tn"), sum(col("n_pos")).as("__tp"))
    val wCum = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.crossJoin(broadcast(tot))
      .withColumn("__cum_pos", sum(col("n_pos")).over(wCum))
      .withColumn("__cum_n", sum(col("n")).over(wCum))
      .select(col("band"), col("n"), col("n_pos"),
        pround(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("rate"),
        pround((col("n_pos").cast("double") / col("n").cast("double")) /
          (col("__tp").cast("double") / col("__tn").cast("double")), 6)
          .as("lift"),
        pround(col("__cum_pos").cast("double") / col("__tp").cast("double"), 6)
          .as("cum_capture"),
        pround(col("__cum_n").cast("double") / col("__tn").cast("double"), 6)
          .as("cum_share"))
  }

  val gainsTableSql: String =
    s"""WITH m AS (SELECT monetary_cents AS score, converted
       |           FROM (${trainingMatrixSql.replace("\n", "\n       ")}
       |) q),
       |bd AS (SELECT min(score) AS mn, max(score) AS mx FROM m),
       |b AS (SELECT least(9, greatest(0, ((score - mn) * 10) // (mx - mn + 1)))
       |               AS band, converted
       |      FROM m, bd),
       |g AS (SELECT band, CAST(count(*) AS BIGINT) AS n,
       |             CAST(sum(converted) AS BIGINT) AS n_pos
       |      FROM b GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
       |             CAST(sum(n_pos) AS BIGINT) AS tp FROM g),
       |c AS (SELECT band, n, n_pos, tn, tp,
       |             CAST(sum(n_pos) OVER (ORDER BY band DESC
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |                  AS BIGINT) AS cum_pos,
       |             CAST(sum(n) OVER (ORDER BY band DESC
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |                  AS BIGINT) AS cum_n
       |      FROM g, t)
       |SELECT band, n, n_pos,
       |       floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
       |             * 1000000.0 + 0.5) / 1000000.0 AS rate,
       |       floor((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
       |             / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
       |             * 1000000.0 + 0.5) / 1000000.0 AS lift,
       |       floor(CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE)
       |             * 1000000.0 + 0.5) / 1000000.0 AS cum_capture,
       |       floor(CAST(cum_n AS DOUBLE) / CAST(tn AS DOUBLE)
       |             * 1000000.0 + 0.5) / 1000000.0 AS cum_share
       |FROM c""".stripMargin

  // -------------------------------------------------------- catalog health
  /** q218: whole-catalog health reconciliation — the operational
    * row-count / key-integrity dashboard across every table the engine
    * serves: rows, distinct primary keys, and pk nulls per table in
    * one result (count reconciliation is the first data-platform SLA).
    * Ten 1-row aggregates unioned — each table read once with its key
    * column pruned to the scan.
    */
  def catalogHealth(s: SparkSession, dir: String): DataFrame = {
    val pks = Seq(
      "region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "events" -> "event_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
    pks.map { case (tab, pk) =>
      t(s, dir, tab).agg(count(lit(1)).as("n_rows"),
        countDistinct(col(pk)).as("n_distinct_pk"),
        sum(when(col(pk).isNull, 1L).otherwise(0L)).as("pk_nulls"))
        .select(lit(tab).as("table_name"), lit(pk).as("pk_col"),
          col("n_rows"), col("n_distinct_pk"), col("pk_nulls"))
    }.reduce(_ unionByName _)
  }

  val catalogHealthSql: String = Seq(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")
    .map { case (tab, pk) =>
      s"""SELECT '$tab' AS table_name, '$pk' AS pk_col,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(DISTINCT $pk) AS BIGINT) AS n_distinct_pk,
         |       CAST(sum(CASE WHEN $pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS pk_nulls
         |FROM $tab""".stripMargin
    }.mkString("\nUNION ALL\n")

  // ---------------------------------------------------------------- catalogs
  val catalog: Seq[Query] = Seq(
    Query("q01_hourly_agg", hourlyAgg, hourlyAggSql),
    Query("q02_filter_project", filterProject, filterProjectSql),
    Query("q03_join_agg", joinAgg, joinAggSql),
    Query("q04_case_when", caseWhen, caseWhenSql),
    Query("q05_window_latest", windowLatest, windowLatestSql),
    Query("q06_pit_join", pitJoin, pitJoinSql),
    Query("q06b_pit_dense", pitDense, pitDenseSql),
    Query("q06c_pit_multiview", pitMultiView, pitMultiViewSql),
    Query("q06d_pit_multiview_coarse", pitMultiViewTtlLess,
      pitMultiViewTtlLessSql),
    Query("q07_materialize_latest", materializeLatest, materializeLatestSql),
    Query("q08_distinct", distinctPairs, distinctPairsSql),
    Query("q09_collect_set", collectSet, collectSetSql),
    Query("q10_json_extract", jsonExtract, jsonExtractSql),
    Query("q11_explode_tokens", explodeTokens, explodeTokensSql),
    Query("q12_topn", topN, topNSql),
    Query("q13_surrogate_key", surrogateKey, surrogateKeySql),
    Query("q28_weather_gold", weatherGoldChain, weatherGoldChainSql),
    Query("q29_map_flatten", mapFlatten, mapFlattenSql),
    Query("q30_csv_roundtrip", csvRoundTrip, csvRoundTripSql),
    Query("q31_avro_roundtrip", avroRoundTrip, avroRoundTripSql),
    Query("q36_time_formats", timeFormats, timeFormatsSql),
    Query("q46_json_roundtrip", jsonRoundTrip, jsonRoundTripSql),
    Query("q47_orc_roundtrip", orcRoundTrip, orcRoundTripSql),
    Query("q48_sessionize", sessionize, sessionizeSql),
    Query("q49_rollup", rollupAgg, rollupAggSql),
    Query("q50_pivot", pivotCounts, pivotCountsSql),
    Query("q54_cube", cubeAgg, cubeAggSql),
    Query("q55_event_deltas", eventDeltas, eventDeltasSql),
    Query("q56_ntile", ntileBuckets, ntileBucketsSql),
    Query("q57_zscore", zscoreScale, zscoreScaleSql),
    Query("q59_purge_optout", purgeOptOut, purgeOptOutSql),
    Query("q60_churn_setops", churnSetOps, churnSetOpsSql),
    Query("q61_full_outer", fullOuterRecon, fullOuterReconSql),
    Query("q62_sliding_window", slidingWindowAgg, slidingWindowAggSql),
    Query("q64_quantiles", quantileStats, quantileStatsSql),
    Query("q65_mad_outliers", madOutliers, madOutliersSql),
    Query("q68_histogram", histogramBuckets, histogramBucketsSql),
    Query("q69_corr_stats", corrStats, corrStatsSql),
    Query("q70_ewma", ewmaRecency, ewmaRecencySql),
    Query("q71_rank_family", rankFamily, rankFamilySql),
    Query("q72_schema_evolution", schemaEvolution, schemaEvolutionSql),
    Query("q75_psi_drift", psiDrift, psiDriftSql),
    Query("q78_grouping_sets", groupingSets, groupingSetsSql),
    Query("q79_exists_subquery", existsSubquery, existsSubquerySql),
    Query("q80_winsorize", winsorize, winsorizeSql),
    Query("q81_mode", modeValue, modeValueSql),
    Query("q82_funnel", funnel, funnelSql),
    Query("q83_retention", retentionCohorts, retentionCohortsSql),
    Query("q84_share_of_hour", shareOfHour, shareOfHourSql),
    Query("q86_gap_fill", gapFillHourly, gapFillHourlySql),
    Query("q87_scd2", scd2Versions, scd2VersionsSql),
    Query("q88_transitions", eventTransitions, eventTransitionsSql),
    Query("q92_linear_count", linearCount, linearCountSql),
    Query("q99_skyline", skylineCustomers, skylineCustomersSql),
    Query("q101_attribution", lastTouchAttribution, lastTouchAttributionSql),
    Query("q102_cuped", cupedReadout, cupedReadoutSql),
    Query("q103_trailing_window", trailingWindow, trailingWindowSql),
    Query("q104_quantile_normalize", quantileNormalize, quantileNormalizeSql),
    Query("q105_unpivot", unpivotWide, unpivotWideSql),
    Query("q106_randomized_response", randomizedResponse,
      randomizedResponseSql),
    Query("q107_snapshot_diff", snapshotDiffOrders, snapshotDiffOrdersSql),
    Query("q108_auc", aucCohorts, aucCohortsSql),
    Query("q109_chi2_screen", chi2Screen, chi2ScreenSql),
    Query("q110_interpolate", interpolateHourly, interpolateHourlySql),
    Query("q111_purged_folds", purgedFolds, purgedFoldsSql),
    Query("q117_calibration", calibrationReadout, calibrationReadoutSql),
    Query("q120_windowed_funnel", windowedFunnel, windowedFunnelSql),
    Query("q121_ks_test", ksDrift, ksDriftSql),
    Query("q122_spearman", spearmanStats, spearmanStatsSql),
    Query("q127_ols_trend", olsTrend, olsTrendSql),
    Query("q132_delta_contribution", deltaContribution, deltaContributionSql),
    Query("q133_two_proportion_z", twoProportionZ, twoProportionZSql),
    Query("q135_gap_features", gapFeatures, gapFeaturesSql),
    Query("q136_path_trigrams", pathTrigrams, pathTrigramsSql),
    Query("q137_emd_drift", emdDrift, emdDriftSql),
    Query("q138_srm_check", srmCheck, srmCheckSql),
    Query("q143_jsd_drift", jsdDrift, jsdDriftSql),
    Query("q144_zorder_layout", zorderLayout, zorderLayoutSql),
    Query("q148_benford", benfordScreen, benfordScreenSql),
    Query("q149_event_lift", eventLift, eventLiftSql),
    Query("q150_kmv_distinct", kmvDistinct, kmvDistinctSql),
    Query("q154_join_forecast", joinForecast, joinForecastSql),
    Query("q155_seasonal_profile", seasonalProfileQ, seasonalProfileSql),
    Query("q157_importance_weights", importanceWeights, importanceWeightsSql),
    Query("q161_burstiness", burstiness, burstinessSql),
    Query("q166_nearest_asof", nearestAsof, nearestAsofSql),
    Query("q167_time_to_convert", timeToConvert, timeToConvertSql),
    Query("q169_lateness_profile", latenessProfile, latenessProfileSql),
    Query("q173_zone_maps", zoneMapPruning, zoneMapPruningSql),
    Query("q177_column_stats", columnStats, columnStatsSql),
    Query("q177b_column_stats_sketch", columnStatsSketch, columnStatsSketchSql),
    Query("q228_incremental_rollup", incrementalRollupQ, incrementalRollupSql),
    Query("q230_woe_iv", woeIvQ, woeIvSql),
    Query("q233_next_event", nextEventQ, nextEventSql),
    Query("q234_freshness", freshnessQ, freshnessSql),
    Query("q185_interval_overlap", intervalOverlap, intervalOverlapSql),
    Query("q186_mann_whitney", mannWhitney, mannWhitneySql),
    Query("q187_kaplan_meier", kaplanMeierQ, kaplanMeierSql),
    Query("q188_target_encoding", targetEncoding, targetEncodingSql),
    Query("q191_fairness_audit", fairnessAudit, fairnessAuditSql),
    Query("q192_dp_counts", dpNoisyCounts, dpNoisyCountsSql),
    Query("q194_kendall_tau", kendallQ, kendallSql),
    Query("q197_markov_absorption", markovAbsorptionQ, markovAbsorptionSql),
    Query("q198_bootstrap_ci", bootstrapCIQ, bootstrapCISql),
    Query("q202_forecast_backtest", forecastBacktest, forecastBacktestSql),
    Query("q203_bitemporal_pit", bitemporalPit, bitemporalPitSql),
    Query("q207_rfm_features", rfmFeatures, rfmFeaturesSql),
    Query("q208_neyman_allocation", neymanAllocation, neymanAllocationSql),
    Query("q209_mde_power", mdePower, mdePowerSql),
    Query("q210_overdispersion", overdispersion, overdispersionSql),
    Query("q211_training_matrix", trainingMatrix, trainingMatrixSql),
    Query("q213_sequential_looks", sequentialLooks, sequentialLooksSql),
    Query("q214_delta_ratio", deltaMethodRatio, deltaMethodRatioSql),
    Query("q216_feature_screen", featureScreen, featureScreenSql),
    Query("q217_gains_table", gainsTable, gainsTableSql),
    Query("q218_catalog_health", catalogHealth, catalogHealthSql))
}
