package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A/B of the two PIT formulations on the dense workload:
  *
  *   - `scan` (graft's): entity and feature rows unioned, one keyed
  *     exchange, one sorted running-`last` window;
  *   - `window` (the reference's generated-SQL shape): join +
  *     ROW_NUMBER window + rn=1 filter + join-back.
  *
  * Prints timings for both and asserts identical results. Run:
  * `sbt "runMain graft.examples.PitStrategies [sfDir]"`.
  */
object PitStrategies {

  def windowPit(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.load(spark, dir, "events")
    val entity = events
      .select(col("user_id"), col("ts").as("event_timestamp")).distinct()
    val feat = events.select(col("user_id").as("f_user"), col("ts").as("f_ts"),
      col("value"))
    val joined = feat.join(entity,
      col("f_user") === col("user_id")
        && col("f_ts") <= col("event_timestamp")
        && col("f_ts") >= col("event_timestamp") - expr("INTERVAL 3 DAY"))
    val w = Window.partitionBy(col("user_id"), col("event_timestamp"))
      .orderBy(col("f_ts").desc, col("value").desc)
    val cleaned = joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_timestamp"),
        col("value").as("events_fv__value"))
    entity.join(cleaned, Seq("user_id", "event_timestamp"), "left")
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, dir) finally spark.stop()
  }

  /** The A/B body, session-agnostic so the spec suite can smoke it at
    * sf0.001 (ExamplesSmokeSpec) — the equivalence require inside is
    * the pin; returns the strategy diff rows, 0 on success.
    */
  def run(spark: SparkSession, dir: String): Long = {
    def time(name: String)(f: => DataFrame): DataFrame = {
      val df = f
      df.count() // warm plan
      val t0 = System.nanoTime()
      df.count()
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      df
    }

    val scan = time("scan    (graft)")(graft.Queries.pitDense(spark, dir))
    val window = time("window  (reference shape)")(windowPit(spark, dir))

    val diff = scan.exceptAll(window).count() + window.exceptAll(scan).count()
    println(s"result diff rows: $diff")
    require(diff == 0, "strategies disagree!")
    diff
  }
}
