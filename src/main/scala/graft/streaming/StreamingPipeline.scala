package graft.streaming

import graft.core.SourceConfig
import graft.operators.Validator
import graft.sources.Reader
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming extension of the engine (SURVEY §7.1 step 8): the
  * drop-folder pipeline as a continuous `readStream` instead of a batch
  * sweep, plus the event-time primitives (watermarked windows, stateful
  * per-key aggregation) a streaming ingest needs.
  *
  * Batch parity note: the reference is batch-only (SURVEY §2.10) — its
  * "streaming" is generator pipelining. This module is the Spark-native
  * north star: the same [[Validator]] rule compiler runs unchanged over a
  * streaming DataFrame because validation is pure Column expressions; only
  * the source (`readStream`) and sink (`writeStream` + checkpoint) differ.
  */
object StreamingPipeline {

  /** Continuous drop-folder ingest: watch `dropDir` for new files of one
    * source config, validate every row with the SAME compiled rules as the
    * batch pipeline, and write valid rows / DLQ rows to parquet sinks.
    *
    * `Trigger.AvailableNow` processes the backlog then stops (the streaming
    * equivalent of one batch sweep, with exactly-once file tracking in the
    * checkpoint — the duplicate-file guard the batch path does via the
    * target-table probe comes free from source file tracking). End-to-end
    * the sinks are effectively-once: outputs are partitioned by batchId and
    * written with dynamic partition overwrite, so batch replay rewrites the
    * same partition rather than duplicating rows.
    *
    * Row numbers are not defined for unbounded input; DLQ rows carry -1
    * (the batch path's per-file numbering needs a bounded file).
    *
    * CONTRACT: streaming CSV binds columns to the declared schema BY
    * POSITION (readStream with a user schema only skips the header line) —
    * files must carry the source's columns in declaration order. The batch
    * path matches header names and has no such restriction.
    */
  def dropFolderStream(
      spark: SparkSession,
      source: SourceConfig,
      dropDir: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    // The replay key is (runId, batchId), not batchId alone: batchId restarts
    // at 0 whenever the checkpoint is recreated, so a batchId-keyed overwrite
    // over a pre-existing outDir would silently clobber an earlier run's
    // batches. The runId lives IN the checkpoint dir — same checkpoint ⇒
    // same runId ⇒ a retried batch rewrites exactly its own partition; fresh
    // checkpoint ⇒ new runId ⇒ prior runs' output is never touched (the
    // cross-run duplicate is then visible and auditable, not silent loss).
    val runId = runIdFor(spark, checkpointDir)
    validatedDropStream(spark, source, dropDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Idempotent re-delivery: delete this batch's own partition, then
        // append. Replay after a partial write rewrites the partition from
        // scratch; a replay whose subset became empty leaves the partition
        // deleted (dynamic partition overwrite would have left the stale
        // partial in place, since it only rewrites partitions present in
        // the new data). Blind appends here would be at-least-once.
        val cached = batch.cache()
        try {
          Seq("valid", "dlq").foreach { sub =>
            deletePath(batch.sparkSession,
              s"$outDir/$sub/_run_id=$runId/_batch_id=$batchId")
          }
          cached.filter(col(Validator.IsValidCol))
            .drop(Validator.ErrorsCol, Validator.IsValidCol, Validator.RawRecordCol)
            .withColumn("_run_id", lit(runId))
            .withColumn("_batch_id", lit(batchId))
            .write.mode("append")
            .partitionBy("_run_id", "_batch_id")
            .parquet(s"$outDir/valid")
          Validator.dlqRecords(cached.filter(!col(Validator.IsValidCol)))
            .withColumn("_run_id", lit(runId))
            .withColumn("_batch_id", lit(batchId))
            .write.mode("append")
            .partitionBy("_run_id", "_batch_id")
            .parquet(s"$outDir/dlq")
        } finally cached.unpersist()
        ()
      }
      .start()
  }

  /** `dropDir`'s CSV files as a stream, every row validated by the batch
    * rule compiler (all-strings read, so a bad value is a DLQ row rather
    * than a parse failure) and tagged with its file name.
    */
  private def validatedDropStream(spark: SparkSession, source: SourceConfig,
                                  dropDir: String): DataFrame = {
    val allStrings = StructType(source.columns.map(c =>
      StructField(c.fileAlias, StringType, nullable = true)))
    val raw = spark.readStream
      .option("header", "true")
      .schema(allStrings)
      .csv(dropDir)
      .withColumn(Reader.RowNumCol, lit(-1L))
    Validator.compile(raw, source, fileName = "<stream>", logId = -1L)
      .withColumn("source_filename", input_file_name())
  }

  /** Stable per-checkpoint run id: read `<checkpointDir>/_graft_run_id`, or
    * mint + persist one if absent. Ties the sink's partition-key salt to the
    * checkpoint lifecycle so "same checkpoint" and "same replay key" are the
    * same statement.
    */
  private[streaming] def runIdFor(
      spark: SparkSession, checkpointDir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "_graft_run_id")
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } else {
      val id = java.util.UUID.randomUUID().toString.take(8)
      val out = fs.create(p, false)
      try out.write(id.getBytes("UTF-8")) finally out.close()
      id
    }
  }

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** Continuous CORPUS release: document parquet files landing in
    * `feedDir` stream through the full release chain
    * ([[graft.run.CorpusOps.release]] — quality gate → within-batch dedup
    * → cross-release dedup via the persisted MinHash index → optional
    * eval-gram decontamination → hash-guarded bucketed MERGE → index
    * append/compaction → datasheet) one checkpointed micro-batch at a
    * time. Trigger.AvailableNow drains the backlog the checkpoint has
    * not seen and stops, so each CLI invocation is one bounded catch-up
    * run. Crash between sink commit and checkpoint commit replays the
    * batch — safe, because a release is idempotent END-TO-END: replayed
    * content is all merge no-ops and an empty index append (the probe
    * drops everything the index has seen).
    */
  def corpusReleaseStream(
      spark: SparkSession,
      store: graft.store.TableStore,
      feedDir: String,
      warehouse: String,
      evalDir: Option[String],
      checkpointDir: String,
      onEpoch: (Long, Double) => Unit = (_, _) => (),
      dfCap: Int = 10000): StreamingQuery = {
    // file-source schema must be declared up front; probe it from the
    // feed's current files (the documents schema is stable per
    // deployment). An EMPTY feed (first run before any producer) must be
    // a clean zero-batch drain, not an unable-to-infer-schema crash —
    // the fallback below IS the documents feed contract (the corpus
    // release model's file schema); a deployment whose feed deviates
    // from it must not start its producer before the first file is
    // visible to the schema probe (a mismatched file read under the
    // declared schema nulls out by name and would be quality-gated away
    // while the checkpoint marks it seen)
    val fd = new org.apache.hadoop.fs.Path(feedDir)
    val fs = fd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasFiles = fs.exists(fd) && fs.listStatus(fd)
      .exists(_.getPath.getName.endsWith(".parquet"))
    val schema =
      if (hasFiles) spark.read.parquet(feedDir).schema
      else StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
    spark.readStream.schema(schema)
      // one feed FILE = one release epoch: per-drop provenance in the
      // merge lineage (sourceLabel carries the batch id) and bounded
      // per-epoch work — a backlog drains as a sequence of file-sized
      // releases instead of one giant batch
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val t0 = System.nanoTime()
          val (ins, upd, rows) = graft.run.CorpusOps.release(
            spark, store, warehouse, batch,
            sourceLabel = s"$feedDir@batch$batchId", evalDir = evalDir,
            dfCap = dfCap)
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"corpus-stream epoch=$batchId inserts=$ins " +
            f"updates=$upd corpus_rows=$rows wall=$wall%.1fs")
          onEpoch(batchId, wall)
        }
        ()
      }
      .start()
  }

  /** Continuous drop-folder ingest with MERGE-publish: like
    * [[dropFolderStream]], but each micro-batch's valid rows merge-publish
    * into `sink`'s target with the SAME hash-guarded semantics as the batch
    * publish — matched-and-changed rows update, identical rows no-op, new
    * grains insert.
    *
    * The micro-batch id is the publish epoch. foreachBatch alone is
    * at-least-once: a crash between the sink commit and the checkpoint
    * commit replays the batch. A [[graft.store.JdbcSink]] commits the MERGE
    * and an epoch record in ONE database transaction and skips a replayed
    * epoch, which makes the stream exactly-once without any idempotence
    * assumption on timestamps; on the [[graft.store.TableStore]] a replayed
    * batch is a hash no-op.
    *
    * Scale: per-batch work is O(batch) — the bucketed store's O(delta)
    * merge, or an executor-parallel delta insert plus one set-based MERGE
    * in the database — never a full-table rewrite per batch, except on a
    * user-partitioned target.
    */
  def dropFolderMergeStream(
      spark: SparkSession,
      source: SourceConfig,
      sink: graft.store.Sink,
      dropDir: String,
      checkpointDir: String): StreamingQuery =
    validatedDropStream(spark, source, dropDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stage = Validator.staged(batch.filter(col(Validator.IsValidCol)))
        if (!stage.isEmpty)
          sink.publish(source.tableName, stage, source,
            new java.sql.Timestamp(System.currentTimeMillis()),
            epoch = Some(batchId))
        ()
      }
      .start()

  /** Streaming ANN-index maintenance: every micro-batch of
    * `(vec_id: long, nv: array<double>)` unit vectors appends into a
    * persisted IVF index ([[graft.operators.VectorIndex.appendIvf]] —
    * assignment against the FIXED base centroids, postings appended into
    * their bucket partitions). Per-batch work is O(batch); queries against
    * the index see new vectors as soon as their batch commits. This is the
    * always-fresh-similarity-search loop (embed -> index -> serve) —
    * rebuild the index offline when corpus drift makes the base centroids
    * stale, exactly like a FAISS add-with-ids deployment.
    */
  def streamingIndexAppend(
      vectors: DataFrame,
      indexDir: String,
      checkpointDir: String): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.VectorIndex.appendIvf(batch, indexDir)
        ()
      }
      .start()

  /** Watermarked event-time window aggregation: counts + value sums per
    * (window, event_type), tolerating `lateness` of out-of-order data.
    * State is bounded by the watermark — at 100 TB/day the state store only
    * ever holds open windows.
    */
  def windowedEventCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Watermarked event-time SESSION windows (gap-based, per user): the
    * streaming twin of the batch sessionization query — Spark's native
    * `session_window` merges events closer than `gap` into one growing
    * window and the watermark closes sessions, so state is bounded by open
    * sessions only. Output one row per closed/updated session.
    */
  def sessionWindowStats(
      events: DataFrame,
      gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Streaming corpus-quality monitor — the streaming twin of the batch
    * text-quality scoring: per (event-time window, source), doc counts,
    * token totals, and the fraction passing a length/stopword quality gate.
    * Per-doc work is a narrow codegen'd map (token count + flags); the
    * watermarked windowed groupBy holds ONE state row per open (window,
    * source) so state is bounded by window horizon × source count no matter
    * the feed rate. Drift in `quality_rate` across windows is the alerting
    * signal for an always-on ingest (a crawler shard going bad, a source
    * flipping formats).
    */
  def streamingQualityMonitor(
      docs: DataFrame,
      windowLength: String = "1 hour",
      lateness: String = "10 minutes",
      minTokens: Int = 5,
      maxTokens: Int = 1000): DataFrame = {
    import graft.functions.{TextFunctions => F}
    docs
      .withColumn("n_tokens", size(F.tokens(col("text"))))
      .withColumn("passes",
        col("n_tokens").between(minTokens, maxTokens) &&
          F.stopwordCount(F.tokens(col("text"))) > 0)
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("total_tokens"),
        round(avg(col("n_tokens").cast("double")), 2).as("avg_tokens"),
        round(avg(when(col("passes"), 1.0).otherwise(0.0)), 4).as("quality_rate"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_docs"), col("total_tokens"), col("avg_tokens"),
        col("quality_rate"))
  }

  /** Streaming PSI drift monitor — the streaming twin of the batch
    * `drift_psi` operator: equal-width bin counts of the live `value`
    * stream per event-time window, scored against REFERENCE bin
    * proportions calibrated offline (they compile into the plan as 10
    * literals — no stream-static join, no extra state). The bins are a
    * FIXED 10-slot spine, so the per-window counters are 10 conditional
    * counts inside ONE watermarked windowed aggregation and the PSI is a
    * pure projection over those columns — Structured Streaming would
    * reject a second stateful aggregation, and none is needed. State per
    * open window: 10 longs; total state is bounded by window horizon ×
    * lateness no matter the feed rate. Emits the raw counters alongside
    * the smoothed PSI so downstream alerting can re-slice without
    * replaying.
    */
  def streamingDriftPsi(events: DataFrame,
                        refLo: Double,
                        refW: Double,
                        refProps: Seq[Double],
                        windowLength: String = "1 hour",
                        lateness: String = "10 minutes"): DataFrame = {
    require(refProps.length == 10, "reference must carry 10 bin proportions")
    val bin =
      if (refW == 0.0d) lit(0L)
      else least(greatest(floor((col("value") - lit(refLo)) / lit(refW)),
        lit(0.0d)), lit(9.0d)).cast("long")
    val aggs = (0 until 10).map(b =>
      count(when(col("bin") === b, 1)).as(s"n$b"))
    val counts = events
      .withColumn("bin", bin)
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength))
      .agg(aggs.head, aggs.tail: _*)
    val total = (0 until 10).map(b => col(s"n$b")).reduce(_ + _)
    val psi = (0 until 10).map { b =>
      val q = (col(s"n$b").cast("double") + lit(0.5d)) /
        (total.cast("double") + lit(5.0d))
      val p = lit(refProps(b))
      (p - q) * log(p / q)
    }.reduce(_ + _)
    counts.select((col("window.start").as("window_start") +:
      (0 until 10).map(b => col(s"n$b"))) ++
      Seq(total.cast("long").as("n_events"), round(psi, 6).as("psi")): _*)
  }

  /** Streaming decontamination gate — the stream-STATIC join shape: eval
    * documents flow as a stream, the train-side evidence (df-capped 5-gram
    * ids, calibrated offline) is a static frame the join probes per
    * micro-batch with NO streaming state of its own; the only state is the
    * per-(window, doc) counter pair of the single watermarked aggregation
    * downstream. This is how an always-on ingest checks arriving
    * documents against a fixed training corpus before admission — the
    * static side refreshes by swapping the frame at redeploy, not by
    * streaming it. Left-outer keeps zero-hit docs so the gate reports
    * scanned AND contaminated counts. State: one row per (window, eval
    * doc) — bounded by the watermark horizon times doc rate, never by
    * gram volume (grams collapse map-side into the two counters).
    */
  def streamingContamination(docs: DataFrame,
                             trainIds: DataFrame,
                             windowLength: String = "1 hour",
                             lateness: String = "10 minutes"): DataFrame = {
    import graft.functions.VectorFunctions.shingleIds
    docs
      .select(col("doc_id"), col("ts"),
        explode(shingleIds(col("text"), 5)).as("id"))
      .join(trainIds.withColumn("_hit", lit(1)), Seq("id"), "left_outer")
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_hits"))
      .select(col("window.start").as("window_start"), col("doc_id"),
        col("n_grams"), col("n_hits"))
  }

  /** Streaming exact dedup — the streaming twin of the batch `dedup_exact`
    * operator: a document is dropped when its content hash was already seen
    * within the watermark horizon. State holds ONLY the 16-byte md5 keys
    * (never the documents) and `dropDuplicatesWithinWatermark` evicts
    * expired keys as the watermark advances, so state is bounded by the
    * dedup horizon times ingest rate — the design that survives an
    * unbounded 100 TB/day feed, where an un-watermarked dropDuplicates
    * would accumulate state forever.
    */
  def streamingDedup(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming paragraph-level dedup — the streaming twin of the batch
    * `dedup_paragraphs` operator, with the dedup unit dropped from the
    * document to the 16-token chunk: a chunk survives iff its md5 was not
    * seen within the watermark horizon, so a mostly-duplicated document
    * simply contributes few surviving chunks (the Dolma paragraph-dedup
    * semantics applied to an unbounded feed). Output is the novel-chunk
    * stream (doc_id, ts, chunk_idx, chunk_hash) — downstream either
    * reassembles kept content or counts per-doc survivors against the
    * batch operator's attrition threshold. State holds ONLY 16-byte chunk
    * keys and the watermark evicts them, so state is bounded by horizon ×
    * chunk rate, never corpus size.
    */
  def streamingParagraphDedup(docs: DataFrame,
                              lateness: String = "1 hour"): DataFrame =
    docs
      // same null/empty guard as the batch twin (dedupParagraphs): an
      // empty doc would otherwise emit one md5('') chunk that dedups
      // against every other empty doc in the horizon, silently dropping
      // later empty docs from the novel-chunk stream
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("ts"),
        split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), col("ts"), posexplode(expr(
        "transform(sequence(0, int((size(w) + 15) div 16) - 1), " +
          "i -> md5(concat_ws(' ', slice(w, i * 16 + 1, 16))))"))
        .as(Seq("chunk_idx", "chunk_hash")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("chunk_hash")

  /** Stream-stream inner join with bounded state: attribute each purchase
    * to the same user's click at most `attribution` earlier. BOTH sides are
    * watermarked and the join condition carries the time bound, so Spark
    * can expire join state — clicks older than watermark+attribution and
    * purchases older than watermark drop from the state store. Without the
    * time bound the state grows forever; with it, state is (rate ×
    * horizon), the only formulation that survives an unbounded feed.
    *
    * SEMANTICS: ALL-touch fan-out — a purchase preceded by N in-window
    * clicks emits N rows (one per touch), so summing `purchase_value`
    * downstream multiply-counts multi-click purchases. That is the right
    * shape for touch-weighted attribution models; for the batch twin
    * q13AsofJoin's LAST-touch semantics (one row per purchase, most recent
    * click) use [[clickAttributionLastTouch]].
    */
  def clickAttribution(
      clicks: DataFrame,
      purchases: DataFrame,
      attribution: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p,
        col("click_user") === col("user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $attribution"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"),
        col("purchase_value"))
  }

  /** LAST-touch click attribution — the streaming twin of q13AsofJoin: one
    * row per purchase carrying only its MOST RECENT in-window click. The
    * fan-out join above feeds a watermarked per-purchase max(click_ts)
    * aggregation; append mode emits each purchase exactly once, after the
    * watermark passes its event time (Spark's multiple-stateful-operator
    * support propagates the join's watermark into the aggregation). Both
    * stateful stages hold only (rate × horizon) state. Purchases identical
    * in (user_id, purchase_ts, purchase_value) collapse to one row — give
    * purchases a real id column upstream if that grain matters.
    */
  def clickAttributionLastTouch(
      clicks: DataFrame,
      purchases: DataFrame,
      attribution: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    clickAttribution(clicks, purchases, attribution, lateness)
      .groupBy(col("user_id"), col("purchase_ts"), col("purchase_value"))
      .agg(max(col("click_ts")).as("click_ts"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"),
        col("purchase_value"))

  final case class BandDoc(band: String, doc_id: Long, sig: Seq[Long],
      ts: java.sql.Timestamp)
  final case class NearDupHit(doc_id: Long, dup_of: Long, band: String,
      matching_components: Long)
  final case class BandState(entries: List[(Long, Seq[Long])])

  /** Streaming MinHash near-dup — the streaming twin of the batch
    * `dedup_minhash_lsh` operator: each arriving document's 16-component
    * MinHash signature is banded (8 x 2) exactly like the batch LSH, and
    * every band bucket holds the signatures seen so far
    * (flatMapGroupsWithState keyed on the band); a document agreeing with
    * a stored signature on >= `matchThreshold` of 16 components is flagged
    * as a near-dup of it. The same pair may collide in several bands and
    * emit one hit per band — consumers dedup on (doc_id, dup_of), the same
    * re-check-over-distinct trade the batch band join makes.
    *
    * State design for an unbounded feed: a bucket stores 16 longs + an id
    * per document — never shingle sets, never text — and is capped at
    * `maxPerBand` entries as a ring buffer (the streaming analog of the
    * batch LSH skew cap: a degenerate boilerplate bucket retains its most
    * recent window instead of growing without bound). Production adds
    * event-time timeout eviction on top; tests run NoTimeout because timer
    * batches never settle under processAllAvailable.
    *
    * Verification is signature agreement rather than exact Jaccard —
    * the standard streaming trade (12/16 agreement ~ Jaccard 0.75 in
    * expectation) that keeps state O(k) per doc.
    */
  def streamingNearDup(docs: DataFrame, matchThreshold: Int = 12,
      maxPerBand: Int = 64): Dataset[NearDupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.VectorFunctions.{minhashSig, shingleIds}
    val banded = docs
      .withColumn("sig", minhashSig(shingleIds(col("text"), 2), 16))
      .select(
        explode(graft.functions.TextFunctions.bandKeys(col("sig"), 8, 2))
          .as("band"),
        col("doc_id"), col("sig"), col("ts"))
      .as[BandDoc]
    banded.groupByKey(_.band)
      .flatMapGroupsWithState[BandState, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (band, rows, state: GroupState[BandState]) =>
          var entries = state.getOption.map(_.entries).getOrElse(Nil)
          val hits = scala.collection.mutable.ListBuffer[NearDupHit]()
          // deterministic intra-batch order: event time, then id
          rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
            // re-delivery guard: an at-least-once source re-delivering an
            // ALREADY-STORED doc_id is skipped entirely — re-comparing it
            // would flag it against entries stored after its first arrival
            // and emit the reversed pair (1, dup_of=3) alongside the
            // original (3, dup_of=1), which the consumer dedup key
            // (doc_id, dup_of) cannot collapse; re-storing would evict a
            // genuine older signature from the ring buffer.
            if (!entries.exists(_._1 == r.doc_id)) {
              entries.foreach { case (prevId, prevSig) =>
                val m = prevSig.iterator.zip(r.sig.iterator)
                  .count { case (a, b) => a == b }
                if (m >= matchThreshold)
                  hits += NearDupHit(r.doc_id, prevId, band, m.toLong)
              }
              entries = ((r.doc_id, r.sig) :: entries).take(maxPerBand)
            }
          }
          state.update(BandState(entries))
          hits.iterator
      }
  }

  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserSession(
      user_id: Long, n_events: Long, total_value: Double)

  /** Stateful per-user running aggregate via mapGroupsWithState — the
    * custom-state primitive. With `idleTimeout` set, a processing-time
    * timeout evicts idle users so state stays bounded (the production
    * setting); `None` disables eviction (deterministic for tests — timer
    * batches otherwise keep re-triggering).
    */
  def runningUserTotals(
      events: Dataset[UserEvent],
      idleTimeout: Option[String] = Some("30 minutes")): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserSession, UserSession](timeoutConf) {
        case (userId, rows, state: GroupState[UserSession]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserSession(userId, 0L, 0.0))
            var n = prev.n_events
            var tot = prev.total_value
            rows.foreach { e => n += 1; tot += e.value }
            val next = UserSession(userId, n, math.round(tot * 100.0) / 100.0)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** Streaming Bloom-filter probe — the continuous-ingest face of the
    * batch relational Bloom prefilter
    * ([[graft.queries.TrainingData.dedupBloom]]): each arriving document
    * hashes to k md5-derived positions in an m-slot filter and
    * stream-static left-joins the STATIC corpus bit set `bits` (bounded by
    * m regardless of corpus size — the join side a 100 TB deployment
    * broadcasts once and probes forever); a document is flagged "maybe
    * seen" when ALL k positions hit. Watermarked per-window per-doc
    * aggregation; state is one counter pair per in-flight document, and
    * the Bloom no-false-negative contract carries over verbatim from the
    * batch side (same hash family, same bit set).
    */
  def streamingBloomProbe(docs: DataFrame,
                          bits: DataFrame,
                          m: Long = 1L << 20,
                          k: Int = 3,
                          windowLength: String = "1 hour",
                          lateness: String = "10 minutes"): DataFrame = {
    val h = md5(col("text"))
    val posArr = array((0 until k).map(i =>
      conv(substring(md5(concat(h, lit(s"#$i"))), 1, 15), 16, 10)
        .cast(LongType) % m): _*)
    docs
      .select(col("doc_id"), col("ts"), explode(posArr).as("pos"))
      .join(bits.withColumn("_set", lit(1)), Seq("pos"), "left_outer")
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("doc_id"))
      .agg(count(lit(1)).as("n_pos"), count(col("_set")).as("n_hits"))
      .select(col("window.start").as("window_start"), col("doc_id"),
        (col("n_hits") === col("n_pos")).as("flagged"))
  }
}
