package graft.run

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Mergeable per-source accumulators behind the release loop's
  * `corpus_card` datasheet — the O(batch) replacement for recomputing the
  * card over the whole corpus on every release.
  *
  * The exact card ([[graft.queries.TrainingData.corpusCardFrames]]) is a
  * full-corpus pass: at 100 TB that is a complete scan per release — per
  * MICRO-BATCH in the streaming loop. Instead, `corpus_card_acc` holds one
  * row per source:
  *
  *   - `n_docs`, `chars_total`, `tokens_total` — EXACT, delta-maintained:
  *     a release adds its admitted rows' contributions and subtracts the
  *     previous contributions of the doc_ids it touches (unchanged rows
  *     cancel, updates net their difference, inserts add).
  *   - `tok_hist` — a ~5%-relative log-bucket histogram of n_tokens,
  *     additive AND subtractable (so updates stay exact at bucket
  *     granularity); token quantiles read off the cumulative histogram
  *     with a declared ±~6% relative band.
  *   - `lang_counts` — per-language doc counts, delta-maintained exactly;
  *     top_lang/top_lang_share derive exactly.
  *   - `hll` — a Datasketches HLL sketch of content hashes. Sketches
  *     cannot subtract, so `n_distinct` = min(n_docs, estimate) counts
  *     content EVER released per source (±~2% HLL error, drifting upward
  *     under heavy updates) — the one declared-approximate column. The
  *     exact full recompute (the bootstrap/self-heal path in
  *     [[CorpusOps.release]]) resets the drift.
  *
  * Crash safety rides the index's [[graft.operators.MinhashIndex]]
  * CommitMarker protocol: the marker is invalidated before the merge and
  * the accumulator update happens after it, so a crash in between leaves
  * the NEXT release on the self-heal path, which rebuilds the
  * accumulators exactly from the released corpus.
  */
object CorpusCardAcc {

  val AccTable = "corpus_card_acc"

  /** ~5%-relative log bucket of a token count: floor(log_1.05(nt+1)). */
  private val LogBase = math.log(1.05)

  private def bucketOf(nt: org.apache.spark.sql.Column) =
    floor(log(nt.cast(DoubleType) + 1.0) / lit(LogBase)).cast("int")

  /** Geometric representative of bucket b — the quantile estimate's value,
    * within one bucket width (±~5%) of any member.
    */
  private def bucketValue(b: org.apache.spark.sql.Column) =
    round(pow(lit(1.05), b.cast(DoubleType) + 0.5) - 1.0, 1)

  /** Signed per-doc contributions: `w` = +1 for arriving rows, -1 for the
    * previous versions being replaced.
    */
  private def contrib(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("source"), col("lang"),
      col("n_tokens").cast(LongType).as("nt"),
      length(col("text")).cast(LongType).as("chars"),
      md5(col("text")).as("h"), lit(w.toLong).as("w"))

  /** Per-source accumulator rows from a signed contribution stream. Only
    * POSITIVE rows feed the HLL sketch (content ever released — sketches
    * cannot subtract; see class doc). `churn` counts the REPLACED rows
    * (negative contributions) since the last exact rebuild: the HLL's
    * upward drift is bounded by how much content was ever superseded, so
    * cumulative churn is the trigger gauge for routing a release through
    * the exact rebuild ([[churnExceeded]]) — a full rebuild starts it at 0
    * (an all-positive stream has no negative rows).
    */
  private def accFrom(c0: DataFrame): DataFrame = {
    // Three aggregations (counters, token histogram, language counts)
    // consume the contribution stream; left lazy each would recompute it
    // — for [[delta]] that is THREE reads of the old-slice's touched
    // buckets per release (the one-read-per-term release read set is
    // ledger key `streaming_20x_r14_rows_fixed.release_cost_attribution`). The stream is NARROW (no text:
    // source/lang/counts/md5), so the cache is cheap at any corpus size;
    // the result is localCheckpoint-materialized before the cache drops.
    val c = c0.persist()
    try accFromCached(c).localCheckpoint() finally { c.unpersist(); () }
  }

  private def accFromCached(c: DataFrame): DataFrame = {
    val main = c.groupBy("source").agg(
      sum(col("w")).as("n_docs"),
      sum(col("w") * col("chars")).as("chars_total"),
      sum(col("w") * col("nt")).as("tokens_total"),
      sum(when(col("w") < 0, 1L).otherwise(0L)).as("churn"),
      hll_sketch_agg(when(col("w") > 0, col("h"))).as("hll"))
    val hist = c.groupBy(col("source"), bucketOf(col("nt")).as("b"))
      .agg(sum("w").as("n")).filter(col("n") =!= 0)
      .groupBy("source")
      .agg(map_from_entries(collect_list(struct(col("b"), col("n"))))
        .as("tok_hist"))
    val langs = c.groupBy("source", "lang").agg(sum("w").as("n"))
      .filter(col("n") =!= 0)
      .groupBy("source")
      .agg(map_from_entries(collect_list(struct(col("lang"), col("n"))))
        .as("lang_counts"))
    main.join(hist, Seq("source"), "left").join(langs, Seq("source"), "left")
  }

  /** Exact accumulators over a full corpus — the bootstrap/self-heal
    * path's one O(corpus) pass. EAGER: the result is
    * localCheckpoint-materialized (see [[accFrom]]'s cache note);
    * callers unpersist it when done.
    */
  def buildFrom(corpus: DataFrame): DataFrame = accFrom(contrib(corpus, 1))

  /** The O(batch) release delta: the arriving rows' contributions MINUS
    * the current table rows they touch (`oldSlice` — the semi-join of the
    * existing table against the batch's doc_ids, an O(batch + touched
    * buckets) read like the merge itself). Unchanged rows cancel exactly.
    */
  def delta(stage: DataFrame, oldSlice: Option[DataFrame]): DataFrame =
    // EAGER like buildFrom: materialized before return, so the old-slice
    // read happens exactly once and strictly BEFORE the caller's merge
    // mutates the table
    accFrom(oldSlice.map(o => contrib(stage, 1).unionByName(contrib(o, -1)))
      .getOrElse(contrib(stage, 1)))

  /** Fold a release delta into the persisted accumulators: counters add,
    * histograms and language counts merge entry-wise (zeroed entries
    * drop), sketches union. Sources touched by neither side pass through.
    */
  def merge(acc: DataFrame, d: DataFrame): DataFrame = {
    // not cached: callers materialize the merge result (localCheckpoint)
    // before overwriting the accumulator table it reads from, and the
    // frame is per-source-sized either way
    val u = withChurn(acc).unionByName(withChurn(d))
    val main = u.groupBy("source").agg(
      sum("n_docs").as("n_docs"),
      sum("chars_total").as("chars_total"),
      sum("tokens_total").as("tokens_total"),
      sum("churn").as("churn"),
      hll_union_agg(col("hll"), lit(true)).as("hll"))
    val hist = u.select(col("source"), explode(col("tok_hist")))
      .groupBy("source", "key").agg(sum("value").as("n"))
      .filter(col("n") =!= 0)
      .groupBy("source")
      .agg(map_from_entries(collect_list(struct(col("key"), col("n"))))
        .as("tok_hist"))
    val langs = u.select(col("source"), explode(col("lang_counts")))
      .groupBy("source", "key").agg(sum("value").as("n"))
      .filter(col("n") =!= 0)
      .groupBy("source")
      .agg(map_from_entries(collect_list(struct(col("key"), col("n"))))
        .as("lang_counts"))
    main.join(hist, Seq("source"), "left").join(langs, Seq("source"), "left")
  }

  /** Accumulator rows persisted before the churn gauge existed read as 0
    * (no recorded churn — the next exact rebuild starts the gauge).
    */
  private def withChurn(df: DataFrame): DataFrame =
    if (df.columns.contains("churn"))
      df.withColumn("churn", coalesce(col("churn"), lit(0L)))
    else df.withColumn("churn", lit(0L))

  /** Churn fraction at which [[CorpusOps.release]] routes the NEXT release
    * through the exact self-heal rebuild instead of the O(batch) delta:
    * the HLL `n_distinct` counts content ever released, so its upward
    * drift (and the dup_rate erosion it causes) is bounded by the
    * replaced-doc count since the last exact pass — capping cumulative
    * churn at this fraction of n_docs bounds the drift DETERMINISTICALLY
    * at ~ratio, instead of leaving it to grow until an unrelated crash
    * happens to trigger self-heal.
    */
  val ChurnRatio = 0.2

  /** Absolute per-source churn floor under the ratio trigger: a toy
    * source (a handful of docs) updated once would otherwise satisfy the
    * ratio every release and thrash the full exact rebuild, while its
    * drift is below HLL resolution anyway.
    */
  val MinChurn = 8L

  /** True when ANY source's cumulative churn since the last exact
    * rebuild passed [[ChurnRatio]] of ITS n_docs (and [[MinChurn]]) —
    * one O(sources) pass over the accumulator table. Per-source, not
    * corpus-global: the drift lives in each source's own sketch, so a
    * small source fully replaced every epoch must trigger long before
    * its churn is visible against the whole corpus's row count.
    */
  def churnExceeded(acc: DataFrame): Boolean =
    withChurn(acc)
      .filter(col("n_docs") > 0L && col("churn") >= lit(MinChurn) &&
        col("churn").cast(DoubleType) >= lit(ChurnRatio) * col("n_docs"))
      .limit(1).count() > 0L

  /** Derive the `corpus_card` datasheet from the accumulators — schema and
    * ordering of [[graft.queries.TrainingData.corpusCardFrames]], with
    * `n_distinct` and the token quantiles carrying the declared bands
    * (class doc). All work is over the per-source table: O(sources).
    */
  def cardFrom(acc: DataFrame): DataFrame = {
    val hist = acc.select(col("source"), col("n_docs"),
      explode(col("tok_hist")))
    val w = Window.partitionBy("source").orderBy("key")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the exact percentile interpolates between the order statistics at
    // ranks k = floor((n-1)*p)+1 and k+1 (fraction f = frac((n-1)*p)).
    // Pick BOTH endpoints' buckets and interpolate between their
    // representatives: estimating from the upper bucket alone is within
    // one bucket of that ENDPOINT, but when adjacent order statistics
    // straddle a wide gap the interpolated exact value sits far from
    // either endpoint — the two-endpoint estimate stays within one
    // bucket width of the exact interpolation for any gap
    val withCum = hist.withColumn("cum", sum("value").over(w))
    def lowRank(p: Double) =
      floor((col("n_docs") - 1).cast(DoubleType) * p) + 1.0
    val picks = withCum.groupBy("source").agg(
      min(when(col("cum") >= lowRank(0.5), col("key"))).as("b50lo"),
      min(when(col("cum") >= lowRank(0.5) + 1.0, col("key"))).as("b50hi"),
      min(when(col("cum") >= lowRank(0.9), col("key"))).as("b90lo"),
      min(when(col("cum") >= lowRank(0.9) + 1.0, col("key"))).as("b90hi"))
    val top = acc.select(col("source"), explode(col("lang_counts")))
      .groupBy("source")
      .agg(min(struct((-col("value")).as("neg"), col("key").as("lang"),
        col("value").as("lc"))).as("t"))
      .select(col("source"), col("t.lang").as("top_lang"),
        col("t.lc").as("lc"))
    // the exact interpolation fraction f = frac((n-1)*p); a rank landing
    // exactly on an order statistic (f = 0) never reads the upper bucket
    // (which may not exist: k+1 > n), hence the coalesce
    def qEst(lo: Column, hi: Column, p: Double): Column = {
      val e = (col("n_docs") - 1).cast(DoubleType) * p
      val f = e - floor(e)
      round(bucketValue(lo) * (lit(1.0) - f) +
        coalesce(bucketValue(hi), bucketValue(lo)) * f, 1)
    }
    acc.select(col("source"), col("n_docs"), col("chars_total"),
        col("tokens_total"),
        least(col("n_docs"), hll_sketch_estimate(col("hll")))
          .as("n_distinct"))
      .join(picks, Seq("source")).join(top, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        round((col("n_docs") - col("n_distinct")).cast(DoubleType) /
          col("n_docs"), 4).as("dup_rate"),
        col("chars_total"), col("tokens_total"),
        qEst(col("b50lo"), col("b50hi"), 0.5).as("tokens_p50"),
        qEst(col("b90lo"), col("b90hi"), 0.9).as("tokens_p90"),
        col("top_lang"),
        round(col("lc").cast(DoubleType) / col("n_docs"), 4)
          .as("top_lang_share"))
      .orderBy("source")
  }
}
