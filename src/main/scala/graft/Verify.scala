package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: restrict the dump to named queries (local
    // iteration helper; the driver always runs the full catalog)
    val only = args.drop(2).toSet
    val spark = Bench.session()
    // Testdata schema canary: if the driver regenerated the parquet with a
    // new physical form, say so HERE in one place (then still dump the
    // queries that can run, so unaffected rows stay green).
    Tables.schemaCanary(spark, sfDir).foreach { p =>
      System.err.println(s"[verify][SCHEMA CANARY] $p")
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // drop any PRIOR run's dump of this query: when outDir is
        // reused locally, a stale artifact would let the oracle compare
        // PASS a query that just failed
        try {
          val p = new org.apache.hadoop.fs.Path(s"$outDir/$name")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
