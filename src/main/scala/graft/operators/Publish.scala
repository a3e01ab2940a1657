package graft.operators

import graft.core.SourceConfig
import graft.store.{BucketLayout, Schemas}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Merge-publish: the engine's MERGE upsert (reference
  * src/pipeline/publish/base.py:28-97 and the five dialect implementations,
  * e.g. publish/postgresql.py:24-43).
  *
  * Semantics preserved exactly:
  *   WHEN MATCHED AND stage.etl_row_hash != target.etl_row_hash
  *     THEN UPDATE all model columns + etl_updated_at = now
  *   WHEN MATCHED AND hashes equal  THEN keep the target row untouched
  *   WHEN NOT MATCHED               THEN INSERT with etl_created_at = now
  * Target rows with no stage match are retained.
  *
  * Execution: ONE full-outer shuffle join on the grain produces the merged
  * relation *and* the insert/update counts (an `_action` tag aggregated
  * before the write), where the reference ran two extra counting queries
  * before its MERGE (publish/base.py:40-74). The new table version is then
  * written and the version pointer swaps atomically ([[graft.store.TableStore]]).
  *
  * Scale notes: the join shuffles both sides by grain — the same movement a
  * warehouse MERGE does. AQE handles skewed grains and broadcasts a small
  * stage side automatically. The `now` timestamp is pinned once on the driver
  * (reference publish/base.py:84) so every task stamps identical values.
  */
object Publish {

  /** Pre-merge insert/update counts, the reference's standalone A4 semantics
    * (publish/base.py:40-74): inserts = staged - matched; updates = matched
    * with differing hash. One left join of the stage's keys onto the
    * target's, matched null-safe (`<=>`, the merge's own rule) and
    * aggregated in one pass, so the staged total needs no separate count
    * job. `target` must be unique on `grain`. [[mergePlan]] derives the same
    * numbers from its single join; the merge-on-read publish, which writes
    * no join, counts here.
    */
  def counts(stage: DataFrame, target: DataFrame, grain: Seq[String]): (Long, Long) = {
    val s = stage.select(grain.map(col) :+ col("etl_row_hash").as("_s_hash"): _*)
      .alias("s")
    val t = target.select(grain.map(col) :+ col("etl_row_hash").as("_t_hash"): _*)
      .alias("t")
    val cond = grain.map(g => col(s"s.$g") <=> col(s"t.$g")).reduce(_ && _)
    val a = s.join(t, cond, "left").agg(
      count(lit(1)).as("staged"),
      count(col("_t_hash")).as("matched"),
      count(when(col("_s_hash") =!= col("_t_hash"), 1)).as("updates")).head()
    (a.getLong(0) - a.getLong(1), a.getLong(2))
  }

  /** The merged relation with an `_action` tag column, uncached. Exposed
    * within the engine so callers that only AGGREGATE the merge result
    * (bench/verify queries) can fold the insert/update counts into their
    * own single pass.
    */
  private[graft] def taggedMerge(stage: DataFrame, target: DataFrame,
                          source: SourceConfig,
                          now: java.sql.Timestamp): DataFrame = {
    val grain = source.grain
    val modelCols = source.columns.map(_.name)
    val dataCols = modelCols ++ Seq("etl_row_hash", "source_filename", "file_load_log_id")

    val s0 = stage.select(dataCols.map(col): _*)
    val s = s0.withColumn("_s_present", lit(true)).alias("s")
    // schema evolution: a SourceConfig that GAINED a column since the
    // target's rows were written must not fail the publish (or force a
    // 100 TB rewrite) — align the target to the stage's model, kept rows
    // carry typed nulls until a real value arrives for their grain
    val t = alignTo(target, s0.schema.fields.toSeq)
      .withColumn("_t_present", lit(true)).alias("t")

    val cond: Column = grain.map(g => col(s"s.$g") <=> col(s"t.$g")).reduce(_ && _)
    val joined = s.join(t, cond, "full_outer")

    val sHere = col("s._s_present").isNotNull
    val tHere = col("t._t_present").isNotNull
    val changed = col("s.etl_row_hash") =!= col("t.etl_row_hash")

    val action = when(sHere && tHere && changed, lit("update"))
      .when(sHere && tHere, lit("noop"))
      .when(sHere, lit("insert"))
      .otherwise(lit("keep"))

    val takeStage = col("_action").isin("update", "insert")
    val outCols = dataCols.map { c =>
      when(takeStage, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
    } ++ Seq(
      when(col("_action") === "insert", lit(now))
        .otherwise(col("t.etl_created_at")).as("etl_created_at"),
      when(col("_action") === "update", lit(now))
        .otherwise(col("t.etl_updated_at")).as("etl_updated_at"))

    joined.withColumn("_action", action)
      .select(outCols :+ col("_action"): _*)
  }

  /** Merge plan whose insert/update counts materialize as a SIDE EFFECT of
    * the caller's write action (`Dataset.observe` / CollectMetrics) instead
    * of a separate cached count job: the write is the only pass over the
    * join. `counts()` blocks until an action has run the plan.
    *
    * `targetKnownEmpty = true` (first publish of a table) skips the
    * full-outer join entirely — every staged row is an insert and the plan
    * is a narrow projection. It keeps the `_bucket` the stage carries from
    * its fan-out ([[graft.store.BucketLayout]]), so a stage already
    * hash-partitioned on its layout is written with no shuffle at all.
    */
  final case class MergePlan(merged: DataFrame, counts: () => (Long, Long))

  def mergePlan(stage: DataFrame, target: DataFrame, source: SourceConfig,
                now: java.sql.Timestamp,
                targetKnownEmpty: Boolean = false): MergePlan = {
    val obs = org.apache.spark.sql.Observation()
    if (targetKnownEmpty) {
      val modelCols = source.columns.map(_.name)
      val dataCols = modelCols ++ Seq("etl_row_hash", "source_filename", "file_load_log_id")
      val carried = Seq(BucketLayout.BucketCol).filter(stage.columns.contains)
      val merged = stage.select((dataCols ++ carried).map(col): _*)
        .withColumn("etl_created_at", lit(now))
        .withColumn("etl_updated_at", lit(null).cast(TimestampType))
        .observe(obs, count(lit(1)).as("inserts"))
      MergePlan(merged, () => (obs.get("inserts").asInstanceOf[Long], 0L))
    } else {
      val observed = taggedMerge(stage, target, source, now).observe(obs,
        count(when(col("_action") === "insert", 1)).as("inserts"),
        count(when(col("_action") === "update", 1)).as("updates"))
      MergePlan(observed.drop("_action"),
        () => (obs.get("inserts").asInstanceOf[Long],
               obs.get("updates").asInstanceOf[Long]))
    }
  }

  /** Empty target with the right schema for first-time publishes. */
  def emptyTarget(spark: org.apache.spark.sql.SparkSession,
                  source: SourceConfig): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.targetSchema(source))

  /** Target data columns in table order (model columns + lineage). */
  def dataCols(source: SourceConfig): Seq[String] =
    source.columns.map(_.name) ++
      Seq("etl_row_hash", "source_filename", "file_load_log_id")

  /** Merge-on-read resolution: replay the bucketed base plus ordered upsert
    * segments into the SAME relation a chain of copy-on-write merges would
    * have produced (the equivalence MorPublishSpec pins).
    *
    * The key fact making the replay exact: `etl_row_hash` covers every
    * model column, so along one grain's chain the effective row only
    * changes at a hash CHANGE — a no-op re-load must keep the OLDER row's
    * lineage (source_filename / file_load_log_id) and timestamps, exactly
    * like the COW merge's `WHEN MATCHED AND hashes equal` arm. So:
    *
    *   - "events" = the base row plus every segment row whose hash differs
    *     from its predecessor in generation order (lag over the grain);
    *     non-event segment rows are invisible no-ops.
    *   - effective row   = the event with the highest generation,
    *   - etl_created_at  = the base row's, else the first INSERT event's
    *     load timestamp,
    *   - etl_updated_at  = the last UPDATE event's load timestamp, else
    *     the base row's value.
    *
    * Scale: ONE shuffle by grain (the lag window), whose partitioning the
    * follow-up aggregation reuses; segment data is O(delta × segments)
    * and the fold threshold bounds segment count, so the resolve reads
    * ~1× the table — the MOR read tax the write path's O(delta) buys.
    */
  def morResolve(base: Option[DataFrame], segs: Seq[(Long, DataFrame)],
                 grain: Seq[String]): DataFrame = {
    require(segs.nonEmpty, "morResolve: no upsert segments to resolve")
    import org.apache.spark.sql.expressions.Window
    // the resolve's column set is the UNION across base and every segment
    // (first-seen order): under schema evolution older generations lack
    // the newer columns — align each frame with typed nulls instead of
    // failing the select (or silently dropping a newer segment's column
    // because the OLDEST segment's schema was sampled)
    val lineage = Seq("etl_load_ts", "etl_created_at", "etl_updated_at")
    val frames = base.toSeq ++ segs.map(_._2)
    val fieldOf = frames.flatMap(_.schema.fields).groupBy(_.name)
      .map { case (n, fs) => n -> fs.head }
    val cols = frames.flatMap(_.columns).distinct
      .filterNot(lineage.contains).toSeq
    def aligned(df: DataFrame) = alignTo(df, cols.map(fieldOf))
    val nullTs = lit(null).cast(TimestampType)
    val baseU = base.map(b => aligned(b).select(cols.map(col) ++ Seq(
      col("etl_created_at"), col("etl_updated_at"),
      nullTs.as("_load_ts"), lit(0L).as("_gen")): _*))
    val segU = segs.map { case (id, df) =>
      aligned(df).select(cols.map(col) ++ Seq(
        nullTs.as("etl_created_at"), nullTs.as("etl_updated_at"),
        col("etl_load_ts").as("_load_ts"), lit(id).as("_gen")): _*)
    }
    val all = (baseU.toSeq ++ segU).reduce(_ unionByName _)
    val w = Window.partitionBy(grain.map(col): _*).orderBy(col("_gen"))
    val withPrev = all.withColumn("_prev_hash",
      lag(col("etl_row_hash"), 1).over(w))
    val events = withPrev.filter(col("_gen") === 0 ||
      col("_prev_hash").isNull ||
      col("_prev_hash") =!= col("etl_row_hash"))
    val payload = struct(
      cols.filterNot(grain.contains).map(col) :+ col("_gen"): _*)
    val agg = events.groupBy(grain.map(col): _*).agg(
      max_by(payload, col("_gen")).as("_r"),
      max(when(col("_gen") === 0, col("etl_created_at"))).as("_base_created"),
      max(when(col("_gen") === 0, col("etl_updated_at"))).as("_base_updated"),
      min(when(col("_gen") > 0 && col("_prev_hash").isNull,
        col("_load_ts"))).as("_first_ins"),
      max(when(col("_gen") > 0 && col("_prev_hash").isNotNull,
        col("_load_ts"))).as("_last_upd"))
    val out = cols.map { c =>
      if (grain.contains(c)) col(c) else col("_r").getField(c).as(c)
    } ++ Seq(
      coalesce(col("_base_created"), col("_first_ins")).as("etl_created_at"),
      coalesce(col("_last_upd"), col("_base_updated")).as("etl_updated_at"))
    agg.select(out: _*)
  }

  /** `df` with every `wanted` field present: existing columns pass
    * through untouched, absent ones appear as typed nulls — the
    * schema-evolution seam. A SourceConfig gaining a column must not
    * fail later publishes or force a rewrite of every already-published
    * bucket; kept rows carry null for the new column until a real value
    * arrives for their grain (type changes are NOT masked — a same-name
    * column with a different type still fails the downstream cast/merge
    * loudly, which is correct).
    */
  private[graft] def alignTo(df: DataFrame,
      wanted: Seq[org.apache.spark.sql.types.StructField]): DataFrame =
    wanted.foldLeft(df)((d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType)))
}
