package graft.operators

import graft.core._
import graft.store.BucketLayout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Audit operators (reference src/pipeline/audit/base.py:84-121).
  *
  * Run against the staged (valid) rows before publish. Where the reference
  * generated dialect-specific SQL (5 backends x 2 audits), here both audits
  * are plain Spark plans: one hash-aggregate shuffle for grain uniqueness and
  * a `spark.sql` pass-through for user audit queries.
  */
object Audit {

  /** Shared pool for concurrent audit submission: the grain and custom
    * audits are independent Spark jobs over the same cached stage, so
    * running them from separate threads lets the scheduler overlap them
    * (daemon threads — never blocks JVM exit).
    */
  val auditEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-audit")
        t.setDaemon(true)
        t
      }))

  /** Run the grain audit and (if configured) the custom audit CONCURRENTLY;
    * rethrows the grain failure first, then the custom one.
    */
  def runAll(spark: SparkSession, stage: DataFrame,
             source: SourceConfig, fileName: String): Unit =
    if (source.auditQuery.isEmpty) grainAudit(stage, source, fileName)
    else {
      inParallel(spark)(
        grainAudit(stage, source, fileName),
        customAudit(spark, stage, source, fileName))
    }

  /** Run two independent Spark actions concurrently on [[auditEc]] (the
    * guide-§2.6 back-fill pattern: one action's straggler tail no longer
    * serializes the other's scheduling). BOTH are awaited even when the
    * first fails — a caller must not proceed (and e.g. start deleting
    * scratch dirs) while its sibling job is still running; the first
    * failure rethrows, in argument order. Each closure re-stamps the
    * CALLER's job description/group onto its pool thread: Spark job
    * properties are inheritable thread-locals captured when a pool
    * thread is FIRST CREATED, so a reused cached-pool thread would
    * otherwise label these jobs with whatever it inherited at birth —
    * mislabeling per-job listener output (the bench ledger) and
    * detaching the jobs from a caller-side cancelJobGroup.
    *
    * This is the pipeline's crash-isolation-preserving concurrency
    * primitive: it overlaps INDEPENDENT jobs without merging their
    * failure domains — each action keeps its own try/catch, lock scope,
    * and commit marker semantics.
    */
  def inParallel(spark: SparkSession)(a: => Unit, b: => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec = auditEc
    val sc = spark.sparkContext
    val desc = sc.getLocalProperty("spark.job.description")
    val group = sc.getLocalProperty("spark.jobGroup.id")
    def stamped(f: => Unit): Unit = {
      sc.setLocalProperty("spark.job.description", desc)
      sc.setLocalProperty("spark.jobGroup.id", group)
      try f finally {
        sc.setLocalProperty("spark.job.description", null)
        sc.setLocalProperty("spark.jobGroup.id", null)
      }
    }
    val fa = Future(stamped(a))
    val fb = Future(stamped(b))
    val ra = scala.util.Try(Await.result(fa, Duration.Inf))
    val rb = scala.util.Try(Await.result(fb, Duration.Inf))
    ra.get
    rb.get
    ()
  }

  /** A1 grain-uniqueness + A2 top-5 duplicate examples in ONE aggregation:
    * `groupBy(grain).count HAVING count>1 LIMIT 5` answers both "is the grain
    * unique" and "show me examples" — a single shuffle instead of the
    * reference's two queries (COUNT DISTINCT probe at audit/base.py:84-93
    * plus the example query at db_utils.py:331-351). With AQE the partial
    * (map-side) aggregation collapses most groups before the exchange, so at
    * 100 TB this is one well-formed hash-agg, not a sort.
    *
    * A stage that carries `_bucket` groups on its layout's hash keys
    * ([[BucketLayout.keys]]) as well as the grain. Those are functions of
    * the grain, so the groups are the grain's own, and a stage
    * hash-partitioned on the keys aggregates with no Exchange.
    */
  def grainAudit(stage: DataFrame, source: SourceConfig, fileName: String): Unit = {
    val grain = source.grain.map(col)
    val layoutKeys = BucketLayout.carried(stage).map(_.keys(grain)).getOrElse(Nil)
    val dups = stage
      .groupBy(layoutKeys ++ grain: _*)
      .agg(count(lit(1)).as("duplicate_count"))
      .filter(col("duplicate_count") > 1)
      .select(grain :+ col("duplicate_count"): _*)
      .orderBy(grain: _*)
      .limit(5)
      .collect()
    if (dups.nonEmpty) {
      val examples = dups.map { r =>
        source.grain.zipWithIndex
          .map { case (g, i) => s"$g=${r.get(i)}" }
          .mkString(", ") + s" (x${r.getLong(source.grain.length)})"
      }
      throw GrainValidationError(fileName, source.grain, examples.toSeq)
    }
  }

  /** A3 custom audit: arbitrary SQL with a `{table}` placeholder; every
    * column of its single result row must be non-zero, zero/null columns are
    * collected as failed audit names (reference audit/base.py:95-121).
    */
  def customAudit(spark: SparkSession, stage: DataFrame,
                  source: SourceConfig, fileName: String): Unit = {
    source.auditQuery.foreach { q =>
      val view = FileUtils.sanitizeTableName(
        s"stage__${source.tableName}_${System.nanoTime()}")
      BucketLayout.dropCarried(stage).createOrReplaceTempView(view)
      try {
        // a query yielding no rows cannot certify anything — fail the audit
        // cleanly instead of NoSuchElementException
        val row = spark.sql(q.replace("{table}", view)).collect().headOption
          .getOrElse(throw AuditFailedError(fileName, Seq("audit_returned_no_rows")))
        val failed = (0 until row.length).flatMap { i =>
          val name = row.schema(i).name
          val zero = row.isNullAt(i) || (row.get(i) match {
            case n: Number => n.doubleValue() == 0.0
            case b: Boolean => !b
            case _ => false
          })
          if (zero) Some(name) else None
        }
        if (failed.nonEmpty) throw AuditFailedError(fileName, failed)
      } finally spark.catalog.dropTempView(view)
    }
  }
}
