package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** What the Spark jobs of one block did: the description of every job it
  * submitted, and every physical plan (initial and adaptive re-plans) of
  * its SQL executions, keyed by execution description.
  */
final class PlanCapture private (
    val jobs: Seq[String], val plans: Seq[(String, SparkPlanInfo)]) {

  /** The node names of every plan of executions whose description starts
    * with `prefix`, one sequence per plan, root first.
    */
  def nodesOf(prefix: String): Seq[Seq[String]] =
    plans.collect { case (d, p) if d.startsWith(prefix) => PlanCapture.nodes(p) }

  /** Job counts by description, for failure messages. */
  def jobSummary: String =
    jobs.groupBy(identity).map { case (d, n) => s"${n.size} x $d" }.toSeq.sorted
      .mkString("; ")
}

object PlanCapture {
  def flatten(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.toSeq.flatMap(flatten)

  def nodes(p: SparkPlanInfo): Seq[String] = flatten(p).map(_.nodeName)

  /** Run `f` and capture what its Spark jobs did. `f` must submit its jobs
    * from this thread or threads that inherit its job group.
    */
  def apply[T](spark: SparkSession)(f: => T): (T, PlanCapture) = {
    val sc = spark.sparkContext
    val group = s"capture-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[String]
    val plans = new ConcurrentLinkedQueue[(String, SparkPlanInfo)]
    val execs = new ConcurrentHashMap[Long, String]()
    val barrier = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
          case Some(g) if g == s"$group-barrier" => barrier.countDown()
          case _ =>
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.description.startsWith("pipeline:") =>
          execs.put(s.executionId, s.description)
          plans.add(s.description -> s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate if execs.containsKey(u.executionId) =>
          plans.add(execs.get(u.executionId) -> u.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "captured")
      val r = try f finally sc.clearJobGroup()
      // listener events arrive in order: once the barrier job is seen, so
      // is every job of `f`
      sc.setJobGroup(s"$group-barrier", "barrier")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(barrier.await(60, TimeUnit.SECONDS), "listener bus stalled")
      (r, new PlanCapture(jobs.asScala.toSeq, plans.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
