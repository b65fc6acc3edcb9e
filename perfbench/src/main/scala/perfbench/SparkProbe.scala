package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Totals the Spark layer reports for a window of the run: jobs,
  * stages, tasks and their metrics from a listener, whole-stage codegen
  * compiles from `CodegenMetrics`, and GC time from the JVM's MXBeans
  * (local mode: driver and executors share the JVM). */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  import SparkProbe.Totals

  private var jobs, stages, tasks, runMs, cpuNs, deserMs = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  /** (start, end) of each finished job, wall-clock nanos. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  // listener events carry epoch millis; map them onto nanoTime
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time * 1000000L + epochOffsetNs
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      jobIntervals += ((s, e.time * 1000000L + epochOffsetNs))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      deserMs += m.executorDeserializeTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def totals(): Totals = {
    PerfbenchAccess.drainListeners(spark.sparkContext)
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    synchronized {
      Totals(jobs, stages, tasks, runMs, cpuNs, deserMs, shuffleWrite, shuffleRead, spill,
        h.getCount, snap.getMean * h.getCount, gc)
    }
  }

  def jobsBetween(t0: Long, t1: Long): Seq[(Long, Long)] = synchronized {
    jobIntervals.filter { case (s, e) => s >= t0 && e <= t1 }.toList
  }
}

object SparkProbe {
  final case class Totals(
      jobs: Long, stages: Long, tasks: Long, runMs: Long, cpuNs: Long,
      deserMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      compiles: Long, compileMs: Double, gcMs: Long)

  /** Per-layer metrics for the window between two totals. `wallS` is the
    * window's wall time; `cores` the session's task slots. */
  def layerMetrics(a: Totals, b: Totals, wallS: Double,
      cores: Int): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> (b.jobs - a.jobs).toDouble,
      "spark.stages" -> (b.stages - a.stages).toDouble,
      "spark.tasks" -> (b.tasks - a.tasks).toDouble,
      "spark.task_run_s" -> (b.runMs - a.runMs) / 1e3,
      "spark.task_cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
      "spark.task_deser_s" -> (b.deserMs - a.deserMs) / 1e3,
      "spark.core_busy_ratio" -> (b.runMs - a.runMs) / 1e3 / (wallS * cores),
      "spark.shuffle_write_mb" -> (b.shuffleWrite - a.shuffleWrite) / mb,
      "spark.shuffle_read_mb" -> (b.shuffleRead - a.shuffleRead) / mb,
      "spark.spill_mb" -> (b.spill - a.spill) / mb,
      "spark.codegen_compiles" -> (b.compiles - a.compiles).toDouble,
      "spark.codegen_compile_s" -> math.max(0.0, b.compileMs - a.compileMs) / 1e3,
      "spark.gc_s" -> (b.gcMs - a.gcMs) / 1e3)
  }

  /** Length of the part of [t0, t1] that no interval covers. */
  def uncovered(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = t0
    intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (t1 - t0) - covered
  }
}
