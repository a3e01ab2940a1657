package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted eval-set contamination index — the decontamination analogue
  * of [[MinhashIndex]]: benchmark/eval suites are FIXED small corpora
  * while training batches arrive continuously, so the eval side's n-gram
  * evidence is extracted ONCE at build time and every release probes it,
  * instead of re-shingling the eval sets per check (the inline
  * `contamination_check`/`decontam_filter` shape recomputes both sides
  * each run — right for an audit query, wrong for a release loop).
  *
  * Layout under `indexDir`:
  *   - `grams/` — (id) distinct 31-bit gram ids of the eval docs (the
  *     contamination evidence), PARTITIONED BY gp = pmod(xxhash64(id),
  *     64), sorted by id within partitions, and written with
  *     per-row-group id BLOOM filters ([[KeyProbe.withKeyBloom]]): a
  *     probe collects its batch's ≤64 gp values for partition pruning
  *     and, WHEN THE EVIDENCE STORE IS LARGE ENOUGH TO PAY FOR IT
  *     ([[KeyProbe.literalsWorthIt]] — gram cardinality runs O(batch
  *     tokens), so the literal collect itself costs multiples of a
  *     small table's scan), pushes its gram ids as native In literals
  *     (sorted chunked slices past the single-In cap), which the blooms
  *     turn into exact row-group skipping. The evidence is O(eval
  *     suites) — fixed size, not corpus-growing — so the ungated read
  *     is bounded either way; gram ids are hash-random ints, so range
  *     stats alone cannot prune a wide-spread probe set, and the blooms
  *     are what bound a large store.
  *
  * Gram basis is the md5-derived [[graft.functions.VectorFunctions
  * .shingleIds]] the contamination family already uses, so every count a
  * probe produces is DuckDB-oracle-reproducible. Heavy-gram handling
  * follows `decontam_filter` (reference-free boilerplate guard): grams
  * whose TRAIN-side frequency exceeds the cap are not treated as
  * evidence. The inline filter sees the whole train corpus at once; the
  * release loop's probes see only a micro-batch, whose df can never
  * reach the cap — so the index ACCRETES the train-side df
  * ([[recordTrainDf]], called with each release's offered docs, counted
  * once per DISTINCT content via the `offered/` hash registry) under
  * `train_df[_vN]/` (gp-partitioned (id, df) segments behind a
  * `_TRAINDF` pointer, folded by [[maybeCompactTrainDf]]), and a probe
  * caps on `batch df + persisted corpus df`. With no persisted state (the inline/audit shape) that
  * reduces to the batch-df cap, so `decontam_filter` and the shared
  * oracle are unchanged. The df stats are an ADVISORY boilerplate guard:
  * a crash between a release and its recordTrainDf under- or
  * over-counts a batch's grams, which only shifts when the exemption
  * engages — never which grams are eval evidence.
  */
object ContamIndex {
  import graft.functions.VectorFunctions.shingleIds

  val NumGramPartitions = 64

  private def gp(id: Column): Column =
    pmod(xxhash64(id), lit(NumGramPartitions.toLong)).cast("int")

  /** Content-hash partition of the `offered/` registry (the gp idiom over
    * md5 hashes): probes prune to the batch's ≤64 hp values.
    */
  private def hp(h: Column): Column =
    pmod(xxhash64(h), lit(NumGramPartitions.toLong)).cast("int")

  /** True when `dir` holds at least one `part=` partition directory: an
    * absent dir, or a data-less one from a crash-orphaned write (only
    * _SUCCESS), must read as "no data" — never as a schema-inference
    * crash.
    */
  private def partitionedHasData(spark: SparkSession, dir: String,
                                 part: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith(s"$part="))
  }

  /** Build the evidence from `(doc_id, text, ...)` eval documents.
    * Rebuild = overwrite (the eval suite changed); single writer at a
    * time, like the [[MinhashIndex]] contract.
    */
  def build(evalDocs: DataFrame, indexDir: String, gramN: Int = 5): Unit =
    writeGrams(evalDocs, indexDir, gramN, overwrite = true)

  private def writeGrams(evalDocs: DataFrame, indexDir: String, gramN: Int,
                         overwrite: Boolean): Unit = {
    // repartition by the layout key (the MinhashIndex build/append rule):
    // without it every shuffle task writes a sliver into every gp dir —
    // numShufflePartitions x 64 files per build (measured 2,049 files /
    // 538 MB for a 2 MB evidence set at bench scale, each file padded by
    // its own per-file bloom + footer), which both slows the write and
    // feeds [[KeyProbe.literalsWorthIt]] a dir size that is all padding.
    // The explicit-N repartition hash-partitions gp (murmur3 % 64, not
    // identity), so collisions can co-locate a few gp values per task —
    // files stay BOUNDED (≤64 total, ~one per dir) rather than exactly
    // one per dir; the bound is what the layout fix needed.
    val rows = evalDocs
      .select(explode(shingleIds(col("text"), gramN)).as("id"))
      .distinct()
      .withColumn("gp", gp(col("id")))
      .repartition(NumGramPartitions, col("gp"))
      .sortWithinPartitions("id")
      .cache()
    // a suite whose docs are all shorter than the gram width yields ZERO
    // evidence rows: a partitioned write of the empty frame would leave a
    // data-less dir (only _SUCCESS) that breaks parquet schema inference
    // on every later probe — never write it; absent/data-less evidence
    // reads as "no evidence" ([[gramsWithData]]). An APPEND of zero rows
    // is a skip (the existing evidence stands), but an OVERWRITE of zero
    // rows must honor the rebuild contract: a changed eval suite that now
    // yields no grams has to RETIRE the previous suite's evidence (and
    // the `_SUITES` manifest derived from it), or probes keep dropping
    // training docs against stale grams forever.
    try {
      // an OVERWRITE is a suite change: every piece of state DERIVED
      // from the old evidence must retire with it, in fail-CLOSED order
      // (worst crash outcome = over-dropping until a retry, never
      // silently passing contamination):
      //   1. `_SUITES` first — a crash after it leaves the old grams
      //      live but unlisted, so probes still drop (closed) and the
      //      next ingest retries the rebuild;
      //   2. the train-df stats and the offered-content registry — both
      //      are keyed to the OLD suite's evidence grams (train_df holds
      //      only those grams' counts; offered/ marks content as already
      //      counted though only old-evidence grams were recorded), so
      //      surviving a rebuild they would permanently undercount the
      //      NEW suite's gram df and over-drop forever;
      //   3. the grams themselves (rewritten below, or deleted when the
      //      new suite yields zero evidence — absent/data-less evidence
      //      reads as "no evidence", [[gramsWithData]]).
      if (overwrite) {
        val dir = new org.apache.hadoop.fs.Path(indexDir)
        val fs = dir.getFileSystem(
          evalDocs.sparkSession.sparkContext.hadoopConfiguration)
        if (fs.exists(dir)) {
          fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUITES"), false)
          fs.listStatus(dir).foreach { st =>
            val n = st.getPath.getName
            if (n.startsWith("train_df") || n.startsWith("offered") ||
                n == "_TRAINDF" || n == "_OFFERED")
              fs.delete(st.getPath, true)
          }
          if (rows.isEmpty) {
            fs.delete(new org.apache.hadoop.fs.Path(dir, "grams"), true)
            ()
          }
        }
      }
      // written in the probe layout ([[KeyProbe.withKeyBloom]]): id-sorted
      // row groups with per-row-group id blooms, so a probe's pushed
      // gram-id literals skip every row group holding none of them
      if (!rows.isEmpty)
        KeyProbe.withKeyBloom(
          rows.write.mode(if (overwrite) "overwrite" else "append"), "id")
          .partitionBy("gp")
          .parquet(s"$indexDir/grams")
    } finally { rows.unpersist(); () }
  }

  /** The evidence dir, only when it actually holds data: at least one
    * `gp=` partition dir. Absent, or data-less from a crash-orphaned or
    * zero-gram write, reads as NO evidence — never as a schema-inference
    * crash.
    */
  private[operators] def gramsWithData(spark: SparkSession,
                                       indexDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/grams")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("gp=")))
      Some(p.toString)
    else None
  }

  /** Eval suites ACCRETE (new benchmarks appear); each named suite folds
    * in exactly once. `ingest` appends `suite`'s distinct grams when the
    * suites manifest does not list it yet (builds fresh when the index
    * does not exist) and records the suite afterwards. Duplicate gram
    * rows across suites — or from a crash between the gram append and
    * the manifest write (the suite re-ingests next call) — are harmless:
    * the probe's evidence join is a left-semi, where multiplicity does
    * not change the answer. Returns true when the suite was ingested.
    */
  def ingest(evalDocs: DataFrame, indexDir: String, suite: String,
             gramN: Int = 5): Boolean = {
    val spark = evalDocs.sparkSession
    if (ingestedSuites(spark, indexDir).contains(suite)) false
    else {
      val grams = new org.apache.hadoop.fs.Path(s"$indexDir/grams")
      val exists = grams
        .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(grams)
      writeGrams(evalDocs, indexDir, gramN, overwrite = !exists)
      recordSuite(spark, indexDir, suite)
      true
    }
  }

  /** The suites manifest: one ingested suite label per line. */
  def ingestedSuites(spark: SparkSession, indexDir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(indexDir, "_SUITES")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        .split('\n').map(_.trim).filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  private def recordSuite(spark: SparkSession, indexDir: String,
                          suite: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexDir, "_SUITES")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior = ingestedSuites(spark, indexDir)
    val out = fs.create(p, true)
    try out.write((prior + suite).toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ------------------------------------------------ train-side df accretion

  /** The live train-df directory: named by the `_TRAINDF` pointer when a
    * fold has run, the original `train_df/` otherwise
    * ([[GenDirs.resolve]]).
    */
  def liveTrainDfDir(spark: SparkSession, indexDir: String): String =
    GenDirs.resolve(spark, indexDir, "_TRAINDF", "train_df")

  /** The live offered-content registry ([[recordTrainDf]]'s
    * distinct-content bound): `_OFFERED` pointer when a fold has run,
    * `offered/` otherwise.
    */
  def liveOfferedDir(spark: SparkSession, indexDir: String): String =
    GenDirs.resolve(spark, indexDir, "_OFFERED", "offered")

  /** Accrete a released batch's gram frequencies into the persisted
    * train-side df — O(batch + collisions) work, one append segment per
    * touched gp partition. Call with each release's OFFERED docs
    * (post-dedup, PRE-decontamination — what [[graft.run.CorpusOps
    * .release]] passes), NOT the admitted ones: the docs carrying an
    * evidence gram are exactly the ones decontamination drops, so
    * admitted-only accretion could never raise an evidence gram's df off
    * zero and the boilerplate exemption could never bootstrap (the inline
    * `decontam_filter` likewise defines df over the batch it is ABOUT to
    * filter). The probe-side cap then reflects corpus-level boilerplate,
    * not just the micro-batch's. Single writer at a time (the
    * [[MinhashIndex.append]] contract). Counts mirror the inline filter's
    * definition exactly: exploded gram rows per id.
    *
    * Only EVIDENCE grams are recorded: the cap is consumed solely where
    * a gram is eval evidence (non-evidence grams never drop a doc), so
    * restricting the stats to `grams/ ∩ batch` keeps the persisted state
    * O(eval evidence) at ANY corpus size — an unrestricted table would
    * grow with the corpus vocabulary and turn every probe's df lookup
    * into a corpus-sized aggregate. Consequence: a suite ingested later
    * starts its grams' df accretion at ingest time (advisory guard; the
    * inline `decontam_filter` stays the exact audit path).
    */
  def recordTrainDf(docs: DataFrame, indexDir: String,
                    gramN: Int = 5): Unit = {
    val spark = docs.sparkSession
    val grams = gramsWithData(spark, indexDir) match {
      case Some(g) => new org.apache.hadoop.fs.Path(g)
      case None => return // no evidence -> the cap can never be consumed
    }
    // distinct-content bound (r13 advice): df accretes per DISTINCT
    // OFFERED CONTENT, not per offer — without it, an at-least-once
    // producer re-sending one contaminated doc each epoch re-accretes
    // its grams every time and can monotonically ratchet them past
    // dfCap (~10k offers), after which they stop counting as eval
    // evidence. The `offered/` registry (hp-partitioned md5 content
    // hashes behind an `_OFFERED` pointer) filters each batch to
    // content never accreted before; it grows O(distinct content ever
    // offered) — the same storage class as the dedup index's own hash
    // registry, and hp-pruned probes read only the batch's partitions.
    val hashed = docs.select(col("text"), md5(col("text")).as("h"))
    val offeredDir = liveOfferedDir(spark, indexDir)
    // the registry anti-join's pruning apparatus (the (h, hp) collect +
    // partition filter + literal push) is size-gated like every probe
    // (r17): under the gate a small registry is scanned whole for the
    // anti-join — cheaper than the collect's fixed driver-job cost —
    // while a corpus-grown registry (the O(corpus) state this step must
    // never re-read) gets the full hp + h-literal pruning. Answers
    // identical either way.
    val regHasData = partitionedHasData(spark, offeredDir, "hp")
    val fresh0 =
      if (regHasData && !KeyProbe.literalsWorthIt(spark, offeredDir))
        hashed.join(spark.read.parquet(offeredDir).select("h"),
          Seq("h"), "left_anti")
      else if (regHasData) {
        // ONE bounded collect serves both prunes: (h, hp) pairs — h
        // literals for row-group skipping (sorted slices past the
        // single-In cap), hp values (≤ NumGramPartitions ints) for
        // partition pruning; past the chunk bound the tiny hp set alone
        // is recomputed (the [[MinhashIndex.novelDocs]] exact-tier
        // pattern). WITHOUT the literal pushdown this anti-join read the
        // registry's batch-hp partitions in full — and the registry
        // grows O(distinct content ever offered) = O(corpus), so the
        // release loop's accretion step carried a per-micro-batch read
        // term that grew with the corpus (measured in the bench notes).
        val hKeys = hashed.select(col("h"), hp(col("h")).as("p"))
          .distinct().limit(KeyProbe.ChunkedKeyLiterals + 1).collect()
        if (hKeys.isEmpty) return // empty batch
        val hps =
          if (hKeys.length > KeyProbe.ChunkedKeyLiterals)
            hashed.select(hp(col("h")).as("p")).distinct()
              .collect().map(_.getInt(0)).toSeq
          else hKeys.map(_.getInt(1)).distinct.toSeq
        val reg0 = spark.read.parquet(offeredDir)
          .filter(col("hp").isin(hps: _*))
        val reg =
          if (hKeys.length > KeyProbe.ChunkedKeyLiterals) reg0
          else KeyProbe.keyFiltered(reg0, "h",
            hKeys.map(_.getString(0)).sorted.toSeq, offeredDir)
        hashed.join(reg.select("h"), Seq("h"), "left_anti")
      } else hashed
    // one row per distinct fresh content, consumed by the gram
    // aggregation, the emptiness probes, and the registry append.
    // localCheckpoint, NOT cache: the lineage reads offeredDir and the
    // LAST write below appends to that same dir — a cached plan would be
    // recache-poisoned by Spark's recacheByPath the moment that write
    // lands (re-executed against the registry it just extended, i.e. to
    // empty). Today's ordering consumes `fresh` before the write, but
    // that is one refactor away from the silent-empty-append failure the
    // MinhashIndex probe handoff actually hit — sever the lineage.
    val fresh = fresh0.dropDuplicates("h").localCheckpoint()
    try {
      if (fresh.isEmpty) return // nothing new offered: a pure replay
      val dfRows = fresh
        .select(explode(shingleIds(col("text"), gramN)).as("id"))
        .groupBy("id").agg(count(lit(1)).as("df"))
      // Gram-id literal pushdown for the evidence semi-join is
      // size-gated BEFORE the collect, exactly like [[decontaminate]]'s
      // probe (gram cardinality runs O(batch tokens) and the evidence is
      // O(eval suites), fixed) — and since r17 the gp partition collect
      // rides under the same gate (distinct-ing the batch's grams for
      // ≤64 ints is a shuffle job that costs more than a small evidence
      // table's whole scan; the `!out.isEmpty` guard below still covers
      // the zero-gram data-less-write case)
      val pushGramLits = KeyProbe.literalsWorthIt(spark, grams.toString)
      val gKeys =
        if (pushGramLits)
          dfRows.select(col("id"), gp(col("id")).as("p"))
            .limit(KeyProbe.ChunkedKeyLiterals + 1).collect()
        else Array.empty[org.apache.spark.sql.Row]
      val overCap = gKeys.length > KeyProbe.ChunkedKeyLiterals
      val gps =
        if (!pushGramLits) Seq.empty[Int]
        else if (overCap)
          dfRows.select(gp(col("id")).as("p")).distinct()
            .collect().map(_.getInt(0)).toSeq
        else gKeys.map(_.getInt(1)).distinct.toSeq
      // zero grams (all docs under the gram width): nothing to accrete,
      // and an empty partitioned write would leave a data-less dir that
      // breaks schema inference on the next probe
      if (!pushGramLits || gps.nonEmpty) {
        val evid1 = spark.read.parquet(grams.toString)
        val evid0 =
          if (pushGramLits) evid1.filter(col("gp").isin(gps: _*))
          else evid1
        val evid =
          if (!pushGramLits || overCap) evid0
          else KeyProbe.keyFiltered(evid0, "id",
            gKeys.map(_.getLong(0)).sorted.map(_.asInstanceOf[Any]).toSeq,
            grams.toString)
        // cached across the emptiness probe and the write — uncached,
        // each would recompute the explode + evidence semi-join
        val out = dfRows.join(evid.select("id"), Seq("id"), "left_semi")
          .withColumn("gp", gp(col("id")))
          .cache()
        try {
          if (!out.isEmpty) // same data-less-dir guard
            KeyProbe.withKeyBloom(out.repartition(NumGramPartitions, col("gp"))
              .sortWithinPartitions("id")
              .write.mode("append"), "id").partitionBy("gp")
              .parquet(liveTrainDfDir(spark, indexDir))
        } finally { out.unpersist(); () }
      }
      // registry append LAST: a crash between the gram accretion above
      // and this write re-accretes the batch ONCE on replay (a bounded
      // advisory overcount); the reverse order would undercount forever.
      // Written in the probe layout (h blooms + h-sorted row groups, one
      // file per touched partition) so the anti-join above stays
      // row-group-pruned as the registry grows
      KeyProbe.withKeyBloom(fresh.select(col("h"))
        .withColumn("hp", hp(col("h")))
        .repartition(NumGramPartitions, col("hp"))
        .sortWithinPartitions("h")
        .write.mode("append"), "h").partitionBy("hp").parquet(offeredDir)
    } finally { fresh.unpersist(); () }
  }

  /** Fold a pointer-published partitioned dir's append segments once any
    * partition's file count passes the bound (the
    * [[MinhashIndex.maybeCompact]] policy): rewrite `fold`'s result into
    * a new `<base>_vN` generation, publish with an atomic pointer swing,
    * retain the just-superseded generation for in-flight probes, reclaim
    * older ones.
    */
  private def foldGeneration(spark: SparkSession, indexDir: String,
      pointer: String, base: String, part: String, key: String,
      maxFiles: Int)(fold: DataFrame => DataFrame): Boolean = {
    val live = GenDirs.resolve(spark, indexDir, pointer, base)
    val livePath = new org.apache.hadoop.fs.Path(live)
    val fs = livePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(livePath)) return false
    val over = fs.listStatus(livePath).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$part="))
      .map(st => fs.listStatus(st.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet")))
      .exists(_ > maxFiles)
    if (!over) return false
    val liveName = live.substring(live.lastIndexOf('/') + 1)
    val nextGen =
      if (liveName == base) 1
      else liveName.stripPrefix(s"${base}_v").toInt + 1
    val next = s"${base}_v$nextGen"
    // the fold rewrites the probe layout too ([[KeyProbe.withKeyBloom]]):
    // a fold that dropped the key blooms would silently lose the probes'
    // row-group skip right when the steady-state loop folds
    KeyProbe.withKeyBloom(fold(spark.read.parquet(live))
      .write.mode("overwrite"), key).partitionBy(part)
      .parquet(s"$indexDir/$next")
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    GenDirs.swap(spark, indexDir, pointer, next)
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(base) &&
        st.getPath.getName != next && st.getPath.getName != liveName)
      .foreach(st => fs.delete(st.getPath, true))
    true
  }

  /** Fold the train-df append segments (one summed row per gram) and the
    * offered-content registry's (distinct hashes) once any partition's
    * file count passes the bound — [[foldGeneration]] each, independent
    * triggers. Returns true when either folded.
    */
  def maybeCompactTrainDf(spark: SparkSession, indexDir: String,
                          maxFilesPerPartition: Int = 8): Boolean = {
    val dfFolded = foldGeneration(spark, indexDir, "_TRAINDF", "train_df",
      "gp", "id", maxFilesPerPartition) { df =>
      df.groupBy("gp", "id").agg(sum("df").as("df"))
        .repartition(NumGramPartitions, col("gp"))
        .sortWithinPartitions("id")
    }
    val offFolded = foldGeneration(spark, indexDir, "_OFFERED", "offered",
      "hp", "h", maxFilesPerPartition) { df =>
      // crash-replay duplicates collapse; re-sorted for row-group
      // min/max pushdown on the h anti-join
      df.select("hp", "h").distinct()
        .repartition(NumGramPartitions, col("hp"))
        .sortWithinPartitions("h")
    }
    dfFolded || offFolded
  }

  /** The training-batch rows that survive decontamination: a batch doc is
    * DROPPED when any of its grams appears in the eval evidence — except
    * grams whose train-side frequency (this batch's df PLUS the accreted
    * corpus df, [[recordTrainDf]]) exceeds `dfCap`: corpus-level
    * boilerplate is not contamination evidence, exactly as the inline
    * `decontam_filter` defines it over the full train corpus. The probe
    * reads only the batch's gp partitions (pruned via a ≤64-value
    * collect) from BOTH the evidence and the df stats, the gram
    * equi-join collides candidates, and the whole pass is O(batch +
    * collisions) — the eval sets are never re-shingled.
    */
  def decontaminate(spark: SparkSession, batch: DataFrame, indexDir: String,
                    dfCap: Int = 10000, gramN: Int = 5): DataFrame = {
    // evidence absent (or data-less — a zero-gram suite): nothing can be
    // contamination, the batch passes through whole
    val gramsDir = gramsWithData(spark, indexDir) match {
      case Some(g) => g
      case None => return batch
    }
    // deliberately uncached: lazy return must not pin a cache the caller
    // cannot release (the MinhashIndex.novelDocs convention)
    val bGrams = batch
      .select(col("doc_id"), explode(shingleIds(col("text"), gramN)).as("id"))
    // Gram-id literal pushdown is SIZE-GATED BEFORE THE COLLECT
    // ([[KeyProbe.literalsWorthIt]]): gram cardinality runs O(batch
    // tokens) — hundreds of thousands of ids for a small batch — so the
    // driver-side distinct+collect itself costs multiples of a small
    // evidence table's whole scan (measured +5.6 s against a 1.4 s
    // unpruned probe at bench scale). The evidence and train_df are
    // O(eval suites) — FIXED size, not corpus-growing — so the unpruned
    // read is bounded anyway; only a genuinely large evidence store
    // (many/huge suites) earns the literal machinery. The gp partition
    // collect is gated with it (r17): distinct-ing the batch's exploded
    // grams for ≤64 partition ints is a real shuffle job whose fixed
    // cost exceeds a small evidence table's whole scan.
    val pushGramLits = KeyProbe.literalsWorthIt(spark, gramsDir)
    val gKeys =
      if (pushGramLits)
        bGrams.select(col("id"), gp(col("id")).as("p")).distinct()
          .limit(KeyProbe.ChunkedKeyLiterals + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    val overCap = gKeys.length > KeyProbe.ChunkedKeyLiterals
    val gps =
      if (!pushGramLits) Seq.empty[Int]
      else if (overCap)
        bGrams.select(gp(col("id")).as("p")).distinct()
          .collect().map(_.getInt(0)).toSeq
      else gKeys.map(_.getInt(1)).distinct.toSeq
    val gLits: Option[Seq[Any]] =
      if (!pushGramLits || overCap) None
      else Some(gKeys.map(_.getLong(0)).sorted.map(_.asInstanceOf[Any]).toSeq)
    def pruned(dir: String): DataFrame = {
      val base0 = spark.read.parquet(dir)
      val base = if (pushGramLits) base0.filter(col("gp").isin(gps: _*))
                 else base0
      // the joins below can only match the batch's own grams, so the
      // literal restriction is semantics-preserving
      gLits.fold(base)(l => KeyProbe.keyFiltered(base, "id", l, dir))
    }
    val batchDf = bGrams.groupBy("id").agg(count(lit(1)).as("bdf"))
    val liveDf = liveTrainDfDir(spark, indexDir)
    val dfExists = partitionedHasData(spark, liveDf, "gp")
    // corpus df for the batch's grams only: partition- and
    // row-group-pruned read, summed across append segments; absent
    // state = 0 (the inline shape)
    val heavy = (if (dfExists)
        batchDf.join(
          pruned(liveDf).groupBy("id").agg(sum("df").as("cdf")),
          Seq("id"), "left")
          .select(col("id"),
            (col("bdf") + coalesce(col("cdf"), lit(0L))).as("df"))
      else batchDf.select(col("id"), col("bdf").as("df")))
      .filter(col("df") > dfCap).select("id")
    val evidence = pruned(gramsDir)
      .select("id")
      .join(heavy, Seq("id"), "left_anti")
    val dropped = bGrams.join(evidence, Seq("id"), "left_semi")
      .select("doc_id").distinct()
    batch.join(dropped, Seq("doc_id"), "left_anti")
  }
}
