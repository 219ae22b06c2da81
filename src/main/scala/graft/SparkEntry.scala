package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One catalogue operator: its builder over an sf directory, paired with
  * the ANSI SQL oracle that DuckDB replays over the same parquet tables.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full feature-store loop's defining operator: registry
    * resolve → point-in-time join (SURVEY §2.8 M4).
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.pitJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 plus the
    * training-data-pipeline extensions (dedup/similarity/text/multimodal).
    */
  def catalog: Seq[Query] = Queries.catalog ++ OpsQueries.catalog

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    catalog.map(q => q.name -> q.oracle).toMap
}
