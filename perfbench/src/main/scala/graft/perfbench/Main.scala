package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Runs one workload and prints its metrics; the last line of standard
  * output is the JSON result.
  *
  * {{{
  * Main --workload <training_set|online_serving|feature_refresh>
  *      --seed <n> --seconds <n> --trace <0|1> --work <dir> --start <epoch s>
  * }}}
  *
  * `--start` is when the benchmark process started, so `setup_s` counts
  * the JVM and Spark start-up too (and not the benchmark's own set-up
  * work, see `Ctx.aside`).
  */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "training_set" -> TrainingSet,
    "online_serving" -> OnlineServing,
    "feature_refresh" -> FeatureRefresh)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(opts("workload"))
    val trace = opts("trace") == "1"
    val work = java.nio.file.Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"phase spark started at ${System.currentTimeMillis() / 1000.0 - opts("start").toDouble}%.2f s")
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt, tracer,
      work.resolve("data"), opts("start").toDouble)

    val e2e =
      try {
        val m = workload.run(ctx)
        if (trace) Probe.run(ctx)
        m
      } catch {
        case NonFatal(e) =>
          ctx.attempted += 1
          ctx.failed += 1
          ctx.failures += s"run aborted: $e"
          Map.empty[String, Metric]
      } finally spark.stop()

    ctx.failures.foreach(f => println(s"failed: $f"))
    ctx.mismatches.foreach(m => println(s"mismatch: $m"))
    println(s"checks: ${ctx.checksRun} run, ${ctx.mismatches.size} mismatches")
    e2e.toSeq.sortBy(_._1).foreach { case (k, m) => println(s"e2e $k ${m.value} ${m.unit}") }
    val metrics =
      if (trace) {
        tracer.write(work.resolve("trace").resolve(s"${opts("workload")}-seed${ctx.seed}.jsonl"))
        perLayer(tracer)
      } else e2e
    val correct = ctx.mismatches.isEmpty && ctx.checksRun > 0 && e2e.nonEmpty
    val body = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted)}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  /** Per-layer metrics from the spans: medians over the calls, p99 where
    * the calls are many.
    */
  def perLayer(t: Tracer): Map[String, Metric] = {
    def secs(name: String) = t.named(name).map(_.seconds)
    def p50(name: String, scale: Double, unit: String) =
      Metric(Quantile.median(secs(name)) * scale, unit)
    def count(name: String, f: Span => Long, unit: String) =
      Metric(Quantile.median(t.named(name).map(f(_).toDouble)), unit)
    Map(
      "core.resolve_us" -> p50("core.resolve", 1e6, "us"),
      "core.get_entity_us" -> p50("core.get_entity", 1e6, "us"),
      "core.apply_ms" -> p50("core.apply", 1e3, "ms"),
      "api.get_p50_us" -> p50("api.get", 1e6, "us"),
      "api.get_p99_us" -> Metric(Quantile(secs("api.get"), 0.99) * 1e6, "us"),
      "api.batch_p50_ms" -> p50("api.batch", 1e3, "ms"),
      "online.store_get_us" -> p50("online.store_get", 1e6, "us"),
      "online.store_get_rows_us" -> p50("online.store_get_rows", 1e6, "us"),
      "online.store_get_batch_us" -> p50("online.store_get_batch", 1e6, "us"),
      "online.materialize_s" -> p50("online.materialize", 1, "s"),
      "online.materialize_jobs" -> count("online.materialize", _.jobs, "count"),
      "online.audit_s" -> p50("online.audit", 1, "s"),
      "sources.scan_s" -> p50("sources.scan", 1, "s"),
      "offline.plan_s" -> p50("offline.plan", 1, "s"),
      "offline.exec_s" -> p50("offline.exec", 1, "s"),
      "offline.jobs" -> count("offline.retrieval", _.jobs, "count"),
      "offline.stages" -> count("offline.retrieval", _.stages, "count"),
      "offline.shuffle_write_bytes" -> count("offline.retrieval", _.shuffleWriteBytes, "bytes"),
      "offline.planning_ms" -> count("offline.retrieval", _.planningMs, "ms"))
  }
}
