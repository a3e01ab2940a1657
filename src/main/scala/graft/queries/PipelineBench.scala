package graft.queries

import graft.core._
import graft.run.{CollectingNotifier, FileOps, Processor}
import graft.store.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** Full-pipeline throughput entry: the ENTIRE product path — drop-dir scan,
  * source match, read, typed validation + row hash, DLQ, grain audit,
  * custom audit, merge publish into a fresh target, run-log writes — over
  * the orders table, surfaced as a query so the driver's bench measures the
  * engine the way BASELINE.md measures the reference (2M-row customer file
  * end-to-end at ~16k rows/s on its best backend).
  *
  * The result row reports the counters the pipeline itself produced; the
  * DuckDB oracle recomputes them relationally, so this is simultaneously a
  * correctness check of the orchestration counters.
  */
object PipelineBench {

  val OrdersSource: SourceConfig = SourceConfig(
    name = "orders_pipeline",
    filePattern = "orders*.parquet",
    sourceType = "parquet",
    columns = Seq(
      ColumnSpec.long("o_orderkey", nullable = false),
      ColumnSpec.long("o_custkey", nullable = false),
      ColumnSpec(name = "o_orderstatus",
        dataType = org.apache.spark.sql.types.StringType, nullable = false,
        maxLength = Some(1),
        check = Some(("unknown order status", c => c.isin("O", "F", "P")))),
      ColumnSpec(name = "o_totalprice",
        dataType = org.apache.spark.sql.types.DoubleType, nullable = false,
        check = Some(("total price must be positive", c => c > 0))),
      ColumnSpec.timestamp("o_orderdate", nullable = false),
      ColumnSpec.string("o_orderpriority", maxLength = 15)),
    tableName = "orders_target",
    // the incremental scenario's delta carries ~1-5% injected validation
    // failures (the steady-state error rate a live feed actually has), so
    // the gate must tolerate them: rate < 0.10 passes and the failed rows
    // land in the DLQ — their cost is IN the benched delta publish
    validationErrorThreshold = 0.10,
    grain = Seq("o_orderkey"),
    auditQuery = Some(
      """SELECT CASE WHEN SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) = COUNT(*)
        |THEN 1 ELSE 0 END AS totalprice_positive FROM {table}""".stripMargin))

  /** Incremental publish through the REAL pipeline: a base file establishes
    * the bucketed target, then a small delta file (every 100th order
    * re-priced, plus the same orders under fresh keys) merge-publishes into
    * it. This is the steady-state shape of the engine at 100 TB — per-file
    * cost O(delta + touched buckets), not O(target) — surfaced as an
    * oracle-checked query: the counters prove the delta was MERGED (update
    * + insert + untouched-survivor counts all recomputed relationally by
    * DuckDB), and the bench timing tracks the O(delta) path round-over-round.
    */
  def pipelineIncremental(spark: SparkSession, dir: String): DataFrame =
    pipelineIncrementalTimed(spark, dir)._1

  /** [[pipelineIncremental]] plus (base-publish, delta-publish) wall
    * seconds: the bench reports them as separate entries (like the IVF
    * build/probe split) because the DELTA publish is the steady state the
    * O(delta) layout exists for — conflated, a layout regression on either
    * side would hide inside the sum.
    */
  def pipelineIncrementalTimed(spark: SparkSession,
                               dir: String): (DataFrame, Double, Double) = {
    val (df, b, d, _) = pipelineIncrementalTimedFull(spark, dir)
    (df, b, d)
  }

  /** [[pipelineIncrementalTimed]] plus scratch-teardown wall seconds (the
    * tmpfs delete of the scenario's whole working dir). Teardown must stay
    * (best-of-3 reps otherwise leak a parquet target each) but it is not
    * pipeline work, so the bench reports it as its own entry instead of
    * folding filesystem cleanup into the publish timing.
    */
  def pipelineIncrementalTimedFull(spark: SparkSession,
      dir: String): (DataFrame, Double, Double, Double) = {
    val (base, inc, _, targetRows, baseSecs, deltaSecs, cleanupSecs) =
      incrementalScenario(spark, dir, OrdersSource, noopThird = false)
    val sp = spark
    import sp.implicits._
    val df = Seq((base.publishInserts, inc.recordsRead,
      inc.recordsFailedValidation, inc.publishInserts,
      inc.publishUpdates, targetRows))
      .toDF("base_inserts", "delta_read", "delta_dlq_rows", "delta_inserts",
        "delta_updates", "target_rows")
    (df, baseSecs, deltaSecs, cleanupSecs)
  }

  /** [[OrdersSource]] with the merge-on-read publish strategy: the delta
    * publish writes one O(delta) upsert segment instead of rewriting every
    * grain-hash bucket its (uniformly spread) keys touch.
    */
  val OrdersMorSource: SourceConfig = OrdersSource.copy(
    name = "orders_mor", tableName = "orders_mor_target", mergeOnRead = true)

  /** The incremental scenario against a merge-on-read target, plus a THIRD
    * pure re-load of the delta content under a new filename: its rows all
    * hash-match the resolved target, so the counters prove the MOR resolve
    * applies the hash-guard noop semantics across segment chains (and the
    * oracle recomputes every counter relationally). The bench's split
    * entries make the O(delta) segment write directly comparable against
    * pipeline_incremental's copy-on-write delta publish.
    */
  def pipelineMorTimed(spark: SparkSession,
                       dir: String): (DataFrame, Double, Double) = {
    val (df, b, d, _) = pipelineMorTimedFull(spark, dir)
    (df, b, d)
  }

  /** [[pipelineMorTimed]] plus scratch-teardown seconds (see
    * [[pipelineIncrementalTimedFull]]).
    */
  def pipelineMorTimedFull(spark: SparkSession,
      dir: String): (DataFrame, Double, Double, Double) = {
    val (base, inc, noop, targetRows, baseSecs, deltaSecs, cleanupSecs) =
      incrementalScenario(spark, dir, OrdersMorSource, noopThird = true)
    val n = noop.getOrElse(sys.error("noop publish missing"))
    val sp = spark
    import sp.implicits._
    val df = Seq((base.publishInserts, inc.recordsRead,
      inc.recordsFailedValidation, inc.publishInserts, inc.publishUpdates,
      n.recordsRead, n.recordsFailedValidation, n.publishInserts,
      n.publishUpdates, targetRows))
      .toDF("base_inserts", "delta_read", "delta_dlq_rows", "delta_inserts",
        "delta_updates", "noop_read", "noop_dlq_rows", "noop_inserts",
        "noop_updates", "target_rows")
    (df, baseSecs, deltaSecs, cleanupSecs)
  }

  def pipelineMor(spark: SparkSession, dir: String): DataFrame =
    pipelineMorTimed(spark, dir)._1

  /** `source` with its o_orderdate spec matched to the ON-DISK encoding
    * (the shared [[graft.sources.SchemaProbe]] seam): if the driver
    * re-encodes orders.o_orderdate the typed validation adapts instead of
    * crashing the whole pipeline family — the same guard events.ts already
    * has in q4.
    */
  private def adaptedToData(spark: SparkSession, dir: String,
                            source: SourceConfig): SourceConfig = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    source.copy(columns = source.columns.map(c =>
      if (c.name == "o_orderdate")
        graft.sources.SchemaProbe.timestampSpec(orders, c.name,
          nullable = c.nullable)
      else c))
  }

  private def incrementalScenario(spark: SparkSession, dir: String,
      source0: SourceConfig, noopThird: Boolean):
      (graft.run.FileResult, graft.run.FileResult,
       Option[graft.run.FileResult], Long, Double, Double, Double) = {
    import org.apache.spark.sql.functions._
    val source = adaptedToData(spark, dir, source0)
    val work = Files.createTempDirectory("graft_bench_inc")
    val (result, cleanupSecs) = withTimedCleanup(work) {
    val drop = Files.createDirectories(work.resolve("drop"))
    Files.copy(Paths.get(s"$dir/orders.parquet"),
      drop.resolve("orders_base.parquet"))
    val store = new TableStore(spark, work.resolve("tables").toString)
    val files = new FileOps(spark.sparkContext.hadoopConfiguration,
      work.resolve("archive").toString, work.resolve("duplicates").toString)
    val proc = new Processor(spark, new SourceRegistry(Seq(source)),
      store, files, new CollectingNotifier, drop.toString)
    val tBase0 = System.nanoTime()
    val base = proc.processFile(drop.resolve("orders_base.parquet").toString)
      .getOrElse(sys.error("orders_base.parquet did not match the source"))
    val baseSecs = (System.nanoTime() - tBase0) / 1e9
    // a failed publish must FAIL the scenario, not time a no-op: a 20x
    // rehearsal once recorded a 0-row "delta publish" as a plausible fast
    // entry because the grain audit had rejected the whole file
    require(base.success, s"base publish failed: ${base.errorName}")

    // delta: valid orders with key % 100 == 0, re-priced (updates) plus the
    // same rows under offset keys (inserts); keys beyond any SF's range.
    // Every 10th re-priced row (key % 1000 == 0) is CORRUPTED to a negative
    // price: a real steady-state delta carries errors, and without them the
    // benched delta publish never pays the DLQ write path. The corrupted
    // rows fail the positive-price rule (below the 10% gate), divert to the
    // DLQ, and leave their keys' base version untouched in the target —
    // all of which the oracle recomputes relationally.
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val valid = orders.filter(col("o_orderstatus").isin("O", "F", "P") &&
      col("o_totalprice") > 0)
    val sel = valid.filter(col("o_orderkey") % 100 === 0)
    val delta = sel.withColumn("o_totalprice",
        when(col("o_orderkey") % 1000 === 0, lit(-1.0))
          .otherwise(col("o_totalprice") + 1.0))
      .unionByName(sel.withColumn("o_orderkey",
        col("o_orderkey") + 10000000000L))
    val deltaTmp = work.resolve("delta_tmp")
    delta.coalesce(1).write.parquet(deltaTmp.toString)
    val part = Files.list(deltaTmp).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("delta part file missing"))
    Files.move(part, drop.resolve("orders_delta.parquet"))
    if (noopThird)
      Files.copy(drop.resolve("orders_delta.parquet"),
        work.resolve("orders_noop.parquet"))
    val tDelta0 = System.nanoTime()
    val inc = proc.processFile(drop.resolve("orders_delta.parquet").toString)
      .getOrElse(sys.error("orders_delta.parquet did not match the source"))
    val deltaSecs = (System.nanoTime() - tDelta0) / 1e9
    require(inc.success, s"delta publish failed: ${inc.errorName}")

    val noop = if (!noopThird) None else {
      Files.move(work.resolve("orders_noop.parquet"),
        drop.resolve("orders_noop.parquet"))
      Some(proc.processFile(drop.resolve("orders_noop.parquet").toString)
        .getOrElse(sys.error("orders_noop.parquet did not match the source")))
    }

    val targetRows = store.readIfExists(source.tableName)
      .map(_.count()).getOrElse(0L)
    (base, inc, noop, targetRows, baseSecs, deltaSecs)
    }
    val (base, inc, noop, targetRows, baseSecs, deltaSecs) = result
    (base, inc, noop, targetRows, baseSecs, deltaSecs, cleanupSecs)
  }

  /** Provenance-snapshot round trip through the REAL pipeline: base
    * publish establishes the bucketed target, [[TableStore.snapshot]] pins
    * it under a tag (O(1) metadata — the training run's "corpus I trained
    * on" record), a SMALL fixed-key delta (6 re-prices + 6 inserts —
    * sized so the feed demonstrates BUCKET-PRUNED CDC, with an
    * inputFiles pin that unchanged buckets stay unopened) merge-publishes
    * PAST the pin, and both reads are rolled up with integer-exact
    * counters the DuckDB oracle recomputes relationally: the snapshot
    * must still serve the pre-delta state (no inserted high keys, no
    * re-priced rows) while the current read serves the merged one — all
    * after the merge's own internal vacuum, so the oracle row also proves
    * snapshot-pinned bucket generations survive storage reclamation. The
    * tag is then dropped and the table vacuumed back to the ~1× bound
    * (the full lifecycle, not just the happy half).
    */
  def pipelineSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val source = adaptedToData(spark, dir, OrdersSource)
    val work = Files.createTempDirectory("graft_bench_snap")
    val (frame, _) = withTimedCleanup(work) {
      val drop = Files.createDirectories(work.resolve("drop"))
      Files.copy(Paths.get(s"$dir/orders.parquet"),
        drop.resolve("orders_base.parquet"))
      val store = new TableStore(spark, work.resolve("tables").toString)
      val files = new FileOps(spark.sparkContext.hadoopConfiguration,
        work.resolve("archive").toString, work.resolve("duplicates").toString)
      val proc = new Processor(spark, new SourceRegistry(Seq(source)),
        store, files, new CollectingNotifier, drop.toString)
      val base = proc.processFile(drop.resolve("orders_base.parquet").toString)
        .getOrElse(sys.error("orders_base.parquet did not match the source"))
      require(base.success, s"base publish failed: ${base.errorName}")
      store.snapshot(source.tableName, "train-run-1")

      // the incremental delta: a SMALL fixed key set (the 6 lowest valid
      // orderkeys — SF-independent, so the post-pin delta touches FEW of
      // the table's buckets at every scale) re-priced as updates plus the
      // same rows as inserts under offset keys. Small by design: this
      // scenario demonstrates the PRUNED CDC economics (the feed reads
      // only changed buckets — pinned below via inputFiles); the
      // degraded near-full-diff geometry stays covered by
      // pipeline_forget's mod-97 sweep and the TableStoreSpec fallback
      // case. No DLQ corruption here — pipeline_incremental/_mor own
      // that path.
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val valid = orders.filter(col("o_orderstatus").isin("O", "F", "P") &&
        col("o_totalprice") > 0)
      val sel = valid.orderBy("o_orderkey").limit(6)
      val delta = sel.withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .unionByName(sel.withColumn("o_orderkey",
          col("o_orderkey") + 10000000000L))
      val deltaTmp = work.resolve("delta_tmp")
      delta.coalesce(1).write.parquet(deltaTmp.toString)
      val part = Files.list(deltaTmp).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error("delta part file missing"))
      Files.move(part, drop.resolve("orders_delta.parquet"))
      val inc = proc.processFile(drop.resolve("orders_delta.parquet").toString)
        .getOrElse(sys.error("orders_delta.parquet did not match the source"))
      require(inc.success, s"delta publish failed: ${inc.errorName}")

      // integer-exact state rollups: row count, inserted-high-key count,
      // and rows whose price differs from the base file's for the same key
      // (+1.0 is IEEE-exact, so cross-engine equality is safe)
      val basePrices = valid.select(col("o_orderkey"),
        col("o_totalprice").as("p0"))
      // ONE labeled pass over (snapshot ∪ current): a per-state rollup
      // would join the base prices twice. No broadcast hint — basePrices
      // scales with the dataset (every valid order), so the planner must
      // stay free to pick sort-merge past its size threshold; at bench
      // SFs AQE broadcasts it on its own
      val states = store.readSnapshot(source.tableName, "train-run-1")
        .getOrElse(sys.error("snapshot tag missing after pin"))
        .select("o_orderkey", "o_totalprice").withColumn("st", lit("snap"))
        .unionByName(store.readIfExists(source.tableName)
          .getOrElse(sys.error("target missing after publish"))
          .select("o_orderkey", "o_totalprice").withColumn("st", lit("cur")))
      val byState = states.join(basePrices, Seq("o_orderkey"), "left")
        .groupBy("st")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderkey") >= 10000000000L, 1L).otherwise(0L)).as("hi"),
          sum(when(col("p0").isNotNull &&
            col("o_totalprice") =!= col("p0"), 1L).otherwise(0L)).as("rp"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val (snapRows, snapHi, snapRepriced) = byState("snap")
      val (curRows, curHi, curRepriced) = byState("cur")
      // the CDC feed a downstream incremental consumer reads instead of
      // re-diffing the corpus: row-level changes since the pin, served
      // from the changed buckets only on both sides (snapshotDelta).
      // The PRUNING is pinned, not assumed: every parquet file the feed
      // plan opens must live under a changed bucket's dir — unchanged
      // buckets stay unopened (the economics at 3M rows are the ledger
      // `BENCH_cdc-scale.json`, demonstrated here inside the per-query
      // bench)
      val changed = store
        .snapshotChangedBuckets(source.tableName, "train-run-1")
        .getOrElse(sys.error("changed-bucket metadata missing"))
      val feed = store.snapshotDelta(source.tableName, "train-run-1")
        .getOrElse(sys.error("snapshot tag missing for the CDC read"))
      val okDirs = changed.map(b => s"_bucket=$b/")
      require(feed.inputFiles.nonEmpty &&
        feed.inputFiles.forall(f => okDirs.exists(f.contains)),
        "CDC feed must open ONLY changed-bucket files (pruned path)")
      val cdc = feed.groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(store.dropSnapshot(source.tableName, "train-run-1"))
      store.vacuum(source.tableName)

      val sp = spark
      import sp.implicits._
      Seq((snapRows, snapHi, snapRepriced, curRows, curHi, curRepriced,
          cdc.getOrElse("insert", 0L), cdc.getOrElse("update", 0L),
          cdc.getOrElse("delete", 0L)))
        .toDF("snap_rows", "snap_hi_keys", "snap_repriced",
          "cur_rows", "cur_hi_keys", "cur_repriced",
          "cdc_inserts", "cdc_updates", "cdc_deletes")
    }
    frame
  }

  /** Takedown round trip through the REAL pipeline: base publish
    * establishes the bucketed target, [[TableStore.snapshot]] pins it,
    * [[TableStore.deleteRows]] removes every key ≡ 0 (mod 97) through the
    * bucket-pruned copy-on-write delete, and the rollups are
    * integer-exact counters the DuckDB oracle recomputes relationally:
    * the current read loses exactly the victim keys (and none remain),
    * the pinned read still serves the pre-delete state across the
    * delete's internal vacuum, and the CDC feed since the pin is pure
    * deletes. The tag is then dropped and the table vacuumed (the full
    * lifecycle, like `pipeline_snapshot`).
    */
  def pipelineForget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val source = adaptedToData(spark, dir, OrdersSource)
    val work = Files.createTempDirectory("graft_bench_forget")
    val (frame, _) = withTimedCleanup(work) {
      val drop = Files.createDirectories(work.resolve("drop"))
      Files.copy(Paths.get(s"$dir/orders.parquet"),
        drop.resolve("orders_base.parquet"))
      val store = new TableStore(spark, work.resolve("tables").toString)
      val files = new FileOps(spark.sparkContext.hadoopConfiguration,
        work.resolve("archive").toString, work.resolve("duplicates").toString)
      val proc = new Processor(spark, new SourceRegistry(Seq(source)),
        store, files, new CollectingNotifier, drop.toString)
      val base = proc.processFile(drop.resolve("orders_base.parquet").toString)
        .getOrElse(sys.error("orders_base.parquet did not match the source"))
      require(base.success, s"base publish failed: ${base.errorName}")
      store.snapshot(source.tableName, "pre-forget")

      // the takedown list, derived the way a real one is: from the
      // published table itself (deleteRows localCheckpoints the keys, so
      // the self-referencing plan is safe)
      val victims = store.readIfExists(source.tableName)
        .getOrElse(sys.error("target missing after publish"))
        .filter(col("o_orderkey") % 97 === 0).select("o_orderkey")
      val deleted = store.deleteRows(source.tableName, victims, source.grain)

      val curAgg = store.readIfExists(source.tableName)
        .getOrElse(sys.error("target missing after delete"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderkey") % 97 === 0, 1L).otherwise(0L)).as("dk"))
        .head()
      val (curRows, curDelKeys) = (curAgg.getLong(0), curAgg.getLong(1))
      val snapRows = store.readSnapshot(source.tableName, "pre-forget")
        .getOrElse(sys.error("snapshot tag missing after delete"))
        .count()
      val cdc = store.snapshotDelta(source.tableName, "pre-forget")
        .getOrElse(sys.error("snapshot tag missing for the CDC read"))
        .groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(store.dropSnapshot(source.tableName, "pre-forget"))
      store.vacuum(source.tableName)

      val sp = spark
      import sp.implicits._
      Seq((snapRows, deleted, curRows, curDelKeys,
          cdc.getOrElse("insert", 0L), cdc.getOrElse("update", 0L),
          cdc.getOrElse("delete", 0L)))
        .toDF("snap_rows", "deleted", "cur_rows", "cur_del_keys",
          "cdc_inserts", "cdc_updates", "cdc_deletes")
    }
    frame
  }

  def pipelineEtl(spark: SparkSession, dir: String): DataFrame =
    pipelineEtlTimed(spark, dir)._1

  /** [[pipelineEtl]] plus (pipeline, scratch-teardown) wall seconds; the
    * bench reports them as `pipeline_etl` / `pipeline_etl_cleanup` so
    * the product path's number no longer includes tmpfs deletion.
    */
  def pipelineEtlTimed(spark: SparkSession,
                       dir: String): (DataFrame, Double, Double) = {
    val work = Files.createTempDirectory("graft_bench")
    val ((df, etlSecs), cleanupSecs) = withTimedCleanup(work) {
      val t0 = System.nanoTime()
      val drop = Files.createDirectories(work.resolve("drop"))
      Files.copy(Paths.get(s"$dir/orders.parquet"),
        drop.resolve("orders_bench.parquet"))
      val store = new TableStore(spark, work.resolve("tables").toString)
      val files = new FileOps(spark.sparkContext.hadoopConfiguration,
        work.resolve("archive").toString, work.resolve("duplicates").toString)
      val proc = new Processor(spark,
        new SourceRegistry(Seq(adaptedToData(spark, dir, OrdersSource))),
        store, files, new CollectingNotifier, drop.toString)
      val result = proc.processFile(drop.resolve("orders_bench.parquet").toString)
        .getOrElse(sys.error("orders_bench.parquet did not match the source"))
      require(result.success, s"etl publish failed: ${result.errorName}")
      val targetRows = store.readIfExists(OrdersSource.tableName)
        .map(_.count()).getOrElse(0L)
      val sp = spark
      import sp.implicits._
      val frame = Seq((result.recordsRead, result.recordsFailedValidation,
        result.publishInserts, result.publishUpdates, targetRows))
        .toDF("records_read", "records_failed_validation", "publish_inserts",
          "publish_updates", "target_rows")
      (frame, (System.nanoTime() - t0) / 1e9)
    }
    (df, etlSecs, cleanupSecs)
  }

  /** Run `body`, then delete the scratch dir OUTSIDE any caller timing and
    * return the teardown's own wall seconds. Teardown must stay eager
    * (best-of-3 reps otherwise leak a parquet target each into tmpfs), but
    * it is not pipeline work — the round-8 bench had the delete inside the
    * timed region, inflating pipeline_etl. On failure the dir is still
    * deleted (untimed) before the exception propagates.
    */
  private def withTimedCleanup[T](work: java.nio.file.Path)(body: => T): (T, Double) = {
    val result = try body catch {
      case e: Throwable => deleteRecursively(work); throw e
    }
    val t0 = System.nanoTime()
    deleteRecursively(work)
    (result, (System.nanoTime() - t0) / 1e9)
  }

  /** Every counter the scenarios return is materialized (counts / local
    * Seq-backed frames) before control leaves them, so the scratch target
    * can be deleted eagerly — best-of-3 bench reps were otherwise leaking
    * a full parquet target per rep into the temp filesystem.
    */
  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.FileVisitResult
    Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
      override def visitFile(f: java.nio.file.Path,
          a: java.nio.file.attribute.BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: java.nio.file.Path,
          e: java.io.IOException): FileVisitResult = {
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    })
    ()
  }
}
