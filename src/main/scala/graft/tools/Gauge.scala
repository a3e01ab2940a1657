package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Input-rows gauge of the measurement tools: one task-end listener per
  * session summing `inputMetrics.recordsRead` over every task. Rows, not
  * bytes: `recordsRead` is incremented by the scan itself and is exact,
  * while `bytesRead` relies on FileSystem.Statistics, which the parquet
  * vectored-IO read path bypasses on local FS — it captures footers and
  * cache reads only (measured: a 128 MB column scan reported 0.04 MB).
  *
  * `GRAFT_JOB_ROWS=N` also prints, on stderr, one
  * `[job J] rows=R site=S` line per finished job that read at least N
  * rows (`S` = the job description, else the call site): per-job
  * attribution forensics. `GRAFT_JOB_ROWS=0` prints every job.
  */
final class Gauge(spark: SparkSession) {
  private val counter = new AtomicLong()
  private val jobRowsFloor =
    sys.env.get("GRAFT_JOB_ROWS").map(_.trim.toLongOption.getOrElse(0L))
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val jobRows = new ConcurrentHashMap[Int, AtomicLong]()
  private val jobSite = new ConcurrentHashMap[Int, String]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(te.taskMetrics).foreach { m =>
        val r = m.inputMetrics.recordsRead
        counter.addAndGet(r)
        if (jobRowsFloor.isDefined) {
          val j = stageToJob.getOrDefault(te.stageId, -1)
          if (j >= 0)
            jobRows.computeIfAbsent(j, _ => new AtomicLong()).addAndGet(r)
        }
        ()
      }
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (jobRowsFloor.isDefined) {
        js.stageIds.foreach(s => stageToJob.put(s, js.jobId))
        // a result stage is named after the job's call site
        jobSite.put(js.jobId, Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("?"))
        ()
      }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobRowsFloor.foreach { floor =>
        val r = Option(jobRows.remove(je.jobId)).map(_.get()).getOrElse(0L)
        val site = Option(jobSite.remove(je.jobId)).getOrElse("?")
        if (r >= floor)
          System.err.println(s"[job ${je.jobId}] rows=$r site=$site")
      }
  })

  /** Input rows read by every task that has ended so far in this session. */
  def rows(): Long = counter.get()

  /** Runs `f` and returns its result, wall seconds and input krows. The
    * listener bus delivers task ends asynchronously, so the counter is
    * read only once it has stopped moving (polled every 150 ms, capped at
    * 5 s), both before `f` starts and after it returns: rows of earlier
    * work cannot land in this block, nor this block's in the next one.
    * The tools run one action at a time, so the delta is `f`'s reads.
    */
  def measured[T](f: => T): (T, Double, Double) = {
    val r0 = settled()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    (r, wall, (settled() - r0) / 1e3)
  }

  private def settled(): Long = {
    var prev = -1L; var v = rows(); var waited = 0
    while (v != prev && waited < 5000) {
      Thread.sleep(150); waited += 150; prev = v; v = rows()
    }
    v
  }
}
