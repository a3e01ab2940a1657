package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The program's one bridge into Spark's `sql`-private API: a row-level
  * materialization that can re-declare the partitioning its rows already
  * have. It lives in this package to reach the `classic.Dataset.ofRows`
  * factory.
  */
object MaterializedRows {

  /** `df`'s rows computed once and the function that frees them. Metrics
    * `df` observes are collected by that one action.
    *
    * The rows are persisted uncompressed in the block manager, memory then
    * disk, and keep their lineage: a partition whose blocks are lost (an
    * executor lost or removed) is recomputed from `df`'s plan, as a cached
    * relation's would be. This is `Dataset.localCheckpoint` without the
    * truncation, which would fail such a read instead.
    *
    * With `hashedBy = Some((keys, n))` the returned frame declares its
    * rows hash-partitioned on `keys`, expressions over `df`'s output
    * columns, into `n` partitions, so later aggregations and repartitions
    * on those keys plan no Exchange (a frame over an RDD otherwise reports
    * unknown partitioning). The caller vouches that every row sits in
    * partition `pmod(murmur3(keys), n)`: true when `df` ends in a hash
    * repartition into `n` partitions on expressions whose values `keys`
    * compute over the output. The declaration is skipped unless the
    * stored rows have exactly `n` partitions.
    */
  def apply(df: DataFrame,
            hashedBy: Option[(Seq[Column], Int)]): (DataFrame, () => Unit) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val r = qe.executedPlan.execute().map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    val release = () => { rows.unpersist(blocking = false); () }
    val stored = LogicalRDD.fromDataset(rows, ds, isStreaming = false)
    val declared = hashedBy.collect {
      case (keys, n) if rows.getNumPartitions == n =>
        val exprs = classic.Dataset.ofRows(session, stored).select(keys: _*)
          .queryExecution.analyzed match {
          case Project(list, _) => list.map {
            case Alias(e, _) => e
            case e => e
          }
          case other => throw new IllegalStateException(s"keys planned as $other")
        }
        stored.copy(outputPartitioning = HashPartitioning(exprs, n))(
          session, Some(stored.computeStats()), Some(stored.constraints))
    }
    (classic.Dataset.ofRows(session, declared.getOrElse(stored)), release)
  }
}
