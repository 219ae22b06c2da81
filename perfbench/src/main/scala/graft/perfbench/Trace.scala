package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Spark's own counters, summed over the whole session: jobs started,
  * stages completed, shuffle bytes written, and the analysis, optimization
  * and planning phases of every query execution.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val planningMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    shuffleWriteBytes.addAndGet(
      e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Array[Long] =
    Array(jobs.get, stages.get, shuffleWriteBytes.get, planningMs.get)
}

/** One traced call: its name, wall interval, the span that caused it
  * (-1 for none), whether it ran in the per-layer probe rather than in the
  * workload, and the Spark counters that moved while it ran.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, probe: Boolean, jobs: Long, stages: Long,
    shuffleWriteBytes: Long, planningMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def toJson: String =
    s"""{"id":$id,"parent":$parent,"name":"$name","start_ns":$startNs,""" +
      s""""end_ns":$endNs,"probe":$probe,"jobs":$jobs,"stages":$stages,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"planning_ms":$planningMs}"""
}

/** Spans around the benchmark's calls into graft, kept in memory and
  * written out when the run ends. Disabled, a span is a plain call.
  *
  * A span marked `drains` waits for the listener bus to drain after its
  * call, so Spark's counters are attributed to the call that caused them;
  * driver-only calls (registry reads, online-store gets) skip the wait.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val counters = new SparkCounters
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var probe = false

  if (enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }

  def span[T](name: String, drains: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      if (drains) drain()
      val before = counters.snapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        if (drains) drain()
        val after = counters.snapshot()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1, probe, after(0) - before(0),
          after(1) - before(1), after(2) - before(2), after(3) - before(3))
      }
    }

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBusDrain.drain(spark.sparkContext)

  /** Spans of `name`, from the workload if it made that call, else from
    * the probe.
    */
  def named(name: String): Seq[Span] = {
    val all = spans.filter(_.name == name).toSeq
    val own = all.filterNot(_.probe)
    if (own.nonEmpty) own else all
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, spans.map(_.toJson).mkString("", "\n", "\n"))
  }
}
