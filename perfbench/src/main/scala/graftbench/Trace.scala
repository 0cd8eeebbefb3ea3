package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler-side counts for one job group (one query phase). */
final class TaskCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var shuffleRecordsWritten = 0L; var shuffleReadBytes = 0L
  var spillBytes = 0L; var peakExecBytes = 0L
  var inputBytes = 0L; var inputRecords = 0L
}

/** Counts jobs, stages and task metrics per job group. Every traced query
  * phase runs under its own group, so the counts of one phase are exactly
  * the work it scheduled. Jobs outside any group are counted apart. */
final class SchedulerTrace extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, TaskCounts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val Ungrouped = "<none>"

  private def counts(group: String): TaskCounts = byGroup.getOrElseUpdate(group, new TaskCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Ungrouped)
    val c = counts(group)
    c.jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageInfo.stageId, Ungrouped))
    c.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, Ungrouped))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecordsWritten += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** Removes and returns the counts of `group` (empty if it ran nothing). */
  def take(group: String): TaskCounts = synchronized {
    byGroup.remove(group).getOrElse(new TaskCounts)
  }

  def ungroupedJobs: Long = synchronized { byGroup.get(Ungrouped).map(_.jobs).getOrElse(0L) }
}

/** Catalyst phase durations (ms) of every finished SQL execution, in order. */
final class PhaseTrace extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer.empty[Map[String, Long]]

  private def record(qe: QueryExecution): Unit = synchronized {
    done += qe.tracker.phases.map { case (phase, s) => phase -> s.durationMs }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  def take(): Seq[Map[String, Long]] = synchronized {
    val r = done.toList; done.clear(); r
  }
}

/** Process-wide codegen counters, read before and after a query. */
final case class CodegenCounters(compileNs: Long, compiles: Long)

object CodegenCounters {
  def read(): CodegenCounters = CodegenCounters(
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** The old-generation occupancy right after a full GC: the heap the run
  * keeps live. */
object HeapWatch {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toList
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))

  /** Full GCs, each once the listener bus is empty (queued events hold
    * plans and metrics), 0.25 s apart until three in a row read the same
    * old-generation usage (`MemoryPoolMXBean.getCollectionUsage`) within
    * 1 MB, at most 20. Some of what one GC leaves is freed only by a later
    * one, after Spark's cleaner thread has released what the GC showed
    * unused: on fixed_overhead a first GC read 95 to 170 MB, mostly long
    * arrays, where later ones settled at 79 MB, and two GCs a second apart
    * still read 150 MB in one run of ten. */
  def liveBytes(sc: SparkContext): Long = {
    def gcRead(): Long = {
      ListenerBusAccess.drain(sc)
      System.gc()
      oldPools.map(p => Option(p.getCollectionUsage).fold(0L)(_.getUsed)).sum
    }
    def settled(rs: List[Long]): Boolean =
      rs.size >= 20 || (rs.size >= 3 && rs.take(3).max - rs.take(3).min <= (1L << 20))
    var readings = List(gcRead())
    while (!settled(readings)) {
      Thread.sleep(250)
      readings = gcRead() :: readings
    }
    readings.head
  }
}
