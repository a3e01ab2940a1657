package graft.perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import Ledger.Job

/** Per-label Spark job ledger, registered from outside the program.
  *
  * Each job is labelled once, at submission, by `labelOf` over the job's
  * local properties (the program sets `spark.job.description`; the
  * benchmark sets `spark.jobGroup.id` around its own calls). Jobs for which
  * `labelOf` returns None are not recorded. Tasks are attributed to the
  * label of the job whose stage they ran in.
  *
  * Listener events arrive asynchronously: call [[Ledger.drain]] before
  * reading.
  */
final class Ledger(labelOf: java.util.Properties => Option[String])
    extends SparkListener {

  final class Acc {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private val accs = mutable.Map.empty[String, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    labelOf(Option(e.properties).getOrElse(new java.util.Properties)).foreach { l =>
      jobs.put(e.jobId, Job(l, e.time, -1L))
      e.stageIds.foreach(s => stageLabel.put(s, l))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) jobs.put(e.jobId, j.copy(end = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val l = stageLabel.get(e.stageId)
    val m = e.taskMetrics
    if (l != null && m != null) synchronized {
      val a = accs.getOrElseUpdate(l, new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.taskMs += e.taskInfo.duration
    }
  }

  def jobList: Seq[Job] = jobs.values.asScala.toSeq.filter(_.end >= 0)

  /** The ledger's figures for one label, by metric name. */
  def metrics(label: String): Map[String, Double] = synchronized {
    val js = jobList.filter(_.label == label)
    val a = accs.getOrElse(label, new Acc)
    val sorted = a.taskMs.sorted
    val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
    Map(
      "jobs" -> js.size.toDouble,
      "tasks" -> a.tasks.toDouble,
      "job_wall_s" -> Ledger.unionMs(js.map(j => (j.start, j.end))) / 1e3,
      "executor_run_s" -> a.runMs / 1e3,
      "executor_cpu_s" -> a.cpuNs / 1e9,
      "shuffle_bytes" -> a.shuffleBytes.toDouble,
      "spill_bytes" -> a.spillBytes.toDouble,
      "input_bytes" -> a.inputBytes.toDouble,
      "input_records" -> a.inputRecords.toDouble,
      "output_bytes" -> a.outputBytes.toDouble,
      "task_skew" -> (if (median > 0) sorted.last.toDouble / median else 0.0))
  }

  /** Millis of [from, to] covered by no recorded job. */
  def uncoveredMs(from: Long, to: Long): Long = {
    val clipped = jobList.map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (s, e) => e > s }
    (to - from) - Ledger.unionMs(clipped)
  }
}

object Ledger {
  /** One job: label and [start, end] in epoch millis (end = -1 while running). */
  final case class Job(label: String, start: Long, end: Long)

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
