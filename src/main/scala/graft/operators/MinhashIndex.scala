package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band index — build once over the released corpus,
  * probe every incoming batch: the O(delta) incremental near-dup path.
  *
  * The frame-based incremental dedup
  * ([[graft.queries.TrainingData.curatedDocsIncremental]]) re-shingles and
  * re-signs the WHOLE corpus on every release — O(corpus) compute per
  * delta, the cost this index removes. Bands and shingle-id arrays are
  * computed once at build/append time and persisted; a probe reads
  * postings only.
  *
  * Layout under `indexDir` — GENERATION-COMPLETE (the [[VectorIndex]]
  * protocol: each postings generation carries ALL of its state behind one
  * `_POSTINGS` pointer, so a pointer swing switches everything
  * atomically):
  *
  *   - `postings[_vN]/` — NARROW (band, doc_id, aseq) rows PARTITIONED BY
  *     bp = pmod(xxhash64(band), 64), sorted by band within partitions,
  *     written with per-row-group parquet BLOOM filters on `band`
  *     ([[withKeyBloom]]): a probe prunes partitions by its <= 64 bp
  *     values AND pushes its band set as native In literals, which the
  *     row-group blooms turn into exact skipping — an all-novel batch
  *     reads ~zero posting rows, a colliding one only its collisions'
  *     row groups, and NO probe drags shingle arrays through the band
  *     scan.
  *   - `postings[_vN]/_ids/` — ONE (doc_id, ids, aseq) row per indexed
  *     content version, partitioned by ip = pmod(xxhash64(doc_id), 64):
  *     the Jaccard verify reads only the CANDIDATES' partitions, so
  *     collisions — not the corpus — pay the array I/O. (The pre-split
  *     layout rode the array on every band row, 8x array storage and a
  *     full-array scan per probe; those generations stay readable and
  *     appendable in their own schema until a rebuild/compaction
  *     migrates them.)
  *   - `postings[_vN]/_hashes/` — (doc_id, h, aseq): md5 content hashes,
  *     the exact-dup tier, invisible to the bp scans (underscore dir).
  *     PARTITIONED BY hp = pmod(xxhash64(h), 64), h-sorted within
  *     files, and carrying per-row-group `h` blooms: a probe pushes its
  *     batch's content hashes as In literals and prunes at the
  *     partition, file, and row-group level — a mostly-novel batch
  *     reads ~zero hash rows. Indexes persisted before
  *     the generation-complete layout keep hashes at `<indexDir>/hashes`
  *     — read via fallback until the next rebuild/compaction migrates
  *     them (the legacy dir is retired only once no retained generation
  *     still reads it).
  *   - `_ASEQ` — the append sequence counter: every [[append]] stamps its
  *     rows with the next value, which is what lets [[compact]]
  *     garbage-collect superseded content (keep the NEWEST content per
  *     doc_id) without any per-append timestamp.
  *
  * Band scheme is the MinHash dedup family's (2-shingles, k=16 signature,
  * 8 bands x 2 rows, md5-derived everywhere), so index results are
  * DuckDB-oracle-reproducible like the inline operators.
  */
object MinhashIndex {
  import graft.functions.VectorFunctions.{jaccardIds, minhashSig, shingleIds}

  val NumBandPartitions = 64

  /** Partition count of the hp-partitioned `_hashes` layout (new-layout
    * generations only): probes prune their file listing to the batch's
    * hp values, and the per-row-group `h` blooms bound what survives —
    * collisions, not the corpus, pay the hash I/O.
    */
  val NumHashPartitions = 64

  // The probe-pruning primitives — single-`In` cap, sorted-slice chunked
  // probing past it, and the per-row-group key-bloom write options — live
  // in [[KeyProbe]], shared with [[ContamIndex]]. Every cap/fallback note
  // below refers to those bounds.
  import KeyProbe.{ChunkedKeyLiterals, keyFiltered, withKeyBloom}

  /** Commit marker written as the LAST step of [[build]]/[[append]]. Its
    * absence means a mutation crashed mid-flight (or the index predates
    * the marker protocol) — the index may be half-synced (hashes without
    * postings, or postings missing a batch) and must NOT be trusted;
    * rebuild it from the released table. Orchestrators ([[invalidate]])
    * remove the marker BEFORE the table merge they pair the index with,
    * so a crash between merge-commit and index maintenance also reads as
    * uncommitted on the next release.
    */
  val CommitMarker = "_COMMITTED"

  private def fsFor(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def isCommitted(spark: SparkSession, indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(indexDir, CommitMarker)
    fsFor(spark, p).exists(p)
  }

  /** Remove the commit marker (no-op when absent): call before any
    * warehouse mutation the index must stay in sync with.
    */
  def invalidate(spark: SparkSession, indexDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexDir, CommitMarker)
    fsFor(spark, p).delete(p, false)
    ()
  }

  /** Re-commit an index whose CONTENT is unchanged across a warehouse
    * mutation that is a semantic no-op for it — [[graft.run.CorpusOps
    * .forget]]'s keep-registrations path: forgotten docs' registrations
    * stay by contract (band hashes + content md5s, so re-offered banned
    * content remains excluded), making the index exactly as valid after
    * the card fold as before the pre-mutation invalidate. NOT for content
    * changes — those go through build/append, which re-mark as their own
    * last step.
    */
  def recommit(spark: SparkSession, indexDir: String): Unit =
    markCommitted(spark, indexDir)

  private def markCommitted(spark: SparkSession, indexDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexDir, CommitMarker)
    val out = fsFor(spark, p).create(p, true)
    try out.write("committed".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def bp(band: Column): Column =
    pmod(xxhash64(band), lit(NumBandPartitions.toLong)).cast("int")

  /** (doc_id, h, ids, sig) projection of a documents frame — the per-doc
    * work paid exactly once per document's life in the index.
    */
  private def signed(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), md5(col("text")).as("h"),
        shingleIds(col("text"), 2).as("ids"))
      .withColumn("sig", minhashSig(col("ids"), 16))
  }

  /** [[signed]] reduced to one content per doc_id (max-h, the compaction
    * GC's own tiebreak) — the WRITE paths' shape: a batch carrying a
    * doc_id twice with different texts would index both under ONE aseq,
    * and [[compact]]'s (doc_id, aseq) keep-join could never separate
    * them, leaving postings whose hash row was GC'd. The release loop's
    * grain audit already rejects such batches; this closes the
    * direct-API path. Probes ([[novelDocs]]) are read-only and skip the
    * extra batch shuffle.
    */
  private def signedUnique(docs: DataFrame): DataFrame =
    signed(docs)
      .groupBy("doc_id")
      .agg(max(struct(col("h"), col("ids"), col("sig"))).as("k"))
      .select(col("doc_id"), col("k.h").as("h"), col("k.ids").as("ids"),
        col("k.sig").as("sig"))

  private def bandRows(signedDocs: DataFrame): DataFrame =
    signedDocs.select(col("doc_id"), col("ids"),
        explode(graft.functions.TextFunctions.bandKeys(col("sig"), 8, 2))
          .as("band"))
      .withColumn("bp", bp(col("band")))

  // ---- split postings layout: narrow band rows + `_ids` sidecar ---------
  //
  // The inline layout rode each doc's shingle-id array on EVERY band row —
  // 8x array storage, and every probe dragged the arrays through the scan
  // whether or not a band collided. The split layout stores (band, doc_id,
  // aseq) postings (narrow — the probe's band join reads no arrays at all)
  // plus ONE `_ids` row per (doc_id, aseq) in a doc-hash-partitioned
  // sidecar: the Jaccard verify reads only the CANDIDATES' partitions.
  // Pre-split generations remain readable and appendable (schema stays
  // consistent within a generation); the next rebuild/compaction migrates.

  /** `_ids` sidecar partition of a doc id — candidate-pruned probes
    * collect their candidates' partitions (bounded small ints) and read
    * only those.
    */
  private def idp(id: Column): Column =
    pmod(xxhash64(id), lit(NumBandPartitions.toLong)).cast("int")

  private def bandRowsNarrow(signedDocs: DataFrame): DataFrame =
    signedDocs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.bandKeys(col("sig"), 8, 2))
          .as("band"))
      .withColumn("bp", bp(col("band")))

  private def idsRows(signedDocs: DataFrame): DataFrame =
    signedDocs.select(col("doc_id"), col("ids"))
      .withColumn("ip", idp(col("doc_id")))

  /** Two independent write jobs, concurrent, both awaited even on
    * failure — now the shared [[Audit.inParallel]] primitive (round 19:
    * the pipeline's metadata jobs adopt the same pattern).
    */
  private def inParallel(spark: SparkSession)(a: => Unit, b: => Unit): Unit =
    Audit.inParallel(spark)(a, b)

  private def genIdsDir(live: String) = s"$live/_ids"

  /** True when `live` stores the split layout (`_ids` sidecar present). */
  private def isSplit(spark: SparkSession, live: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(genIdsDir(live))
    fsFor(spark, p).exists(p)
  }

  // ---- exact tier's scale bound: literal pushdown + row-group blooms --
  //
  // The exact-dup tier once anti-joined EVERY probe batch against the
  // full `_hashes` table — O(corpus rows) read per streaming micro-batch,
  // the last linear term in the steady-state release loop (678k of 823k
  // rows/release at the 20x drain). The bound is now STORAGE-NATIVE:
  // `_hashes` files carry per-row-group parquet bloom filters on `h`
  // ([[withKeyBloom]]), and the probe pushes its batch's content hashes
  // as native In literals — a row group holding NONE of them is skipped
  // without reading a row, so a mostly-novel batch's exact tier costs
  // footer IO only, and a dup-heavy one reads just the row groups its
  // duplicates live in. A custom bitmap-packed Bloom SIDECAR was built
  // and measured first (round 15) and REJECTED by its own instrument:
  // its read floor is min(m/64, k·n) rows per probe and per-append word
  // fragments accrete until compaction (measured 181k rows/probe at the
  // 20x drain vs ~0 for the storage-native path — the sidecar cost MORE
  // than the hash table it was guarding).

  /** `_hashes` partition of a content hash — probes collect their
    * batch's hp values (bounded small ints) and list only those
    * partitions' files.
    */
  private[graft] def hp(h: Column): Column =
    pmod(xxhash64(h), lit(NumHashPartitions.toLong)).cast("int")

  /** True when a hashes dir is hp-partitioned (new layout): appends must
    * write in the generation's own layout, and probes may partition-prune.
    */
  private def hashesPartitioned(spark: SparkSession,
                                hashesDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(hashesDir)
    val fs = fsFor(spark, p)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("hp="))
  }

  /** Write a generation's `_hashes` in the pruned layout: hp-partitioned
    * (probe-side partition pruning on the flagged docs' hp set) and
    * h-sorted within files (row-group min/max pushdown when the flagged
    * set is small enough for literal In pushdown). One file per
    * partition, the append/build repartition rule.
    */
  private def writeHashesPruned(df: DataFrame, dest: String,
                                mode: String): Unit =
    withKeyBloom(df.withColumn("hp", hp(col("h")))
      .repartition(NumHashPartitions, col("hp"))
      .sortWithinPartitions("h")
      .write.mode(mode), "h").partitionBy("hp")
      .parquet(dest)

  // ------------------------------------------------ append sequence counter

  private def readAseq(spark: SparkSession, indexDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(indexDir, "_ASEQ")
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  private def writeAseq(spark: SparkSession, indexDir: String,
                        v: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexDir, "_ASEQ")
    val out = fsFor(spark, p).create(p, true)
    try out.write(v.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Rows persisted before the aseq column existed read as generation 0 —
    * BOTH shapes: a directory whose sampled schema predates the column
    * (absent column), and a schema-merged read of a migrated legacy dir
    * where pre-migration rows carry NULL (a null-unsafe (doc_id, aseq)
    * join would otherwise garbage-collect every legacy doc's postings).
    */
  private def withAseq(df: DataFrame): DataFrame =
    if (df.columns.contains("aseq"))
      df.withColumn("aseq", coalesce(col("aseq"), lit(0L)))
    else df.withColumn("aseq", lit(0L))

  /** Superseded-registration registry of a RESOLVED generation dir, only
    * when it holds data: `(doc_id, h)` pairs whose postings a [[compact]]
    * garbage-collected — the optional strict-replay tier of
    * [[novelDocs]]. Absent for indexes that never compacted (nothing
    * superseded yet) and after a [[build]] rebuild (the released table
    * holds live content only, so a rebuild RESETS the registry — strict
    * replay protection spans compactions, not rebuilds).
    */
  private def supersededWithData(spark: SparkSession,
                                 genDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$genDir/_hashes_superseded")
    val fs = fsFor(spark, p)
    if (fs.exists(p) && fs.listStatus(p).exists(
        _.getPath.getName.endsWith(".parquet")))
      Some(p.toString)
    else None
  }

  /** Hashes path of a RESOLVED generation dir, with legacy fallback
    * ([[VectorIndex]] `genCentroidsDir` idiom): pre-generation-complete
    * indexes keep hashes at `<indexDir>/hashes` until a rebuild or
    * compaction migrates them.
    */
  private[graft] def genHashesDir(spark: SparkSession, indexDir: String,
                           genDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$genDir/_hashes")
    if (fsFor(spark, p).exists(p)) p.toString else s"$indexDir/hashes"
  }

  /** Retire the legacy top-level `hashes/` dir — but only once no retained
    * generation still resolves to it: the just-superseded generation is
    * kept for in-flight probes ([[compact]] rule), and if that generation
    * is itself legacy (no `_hashes` of its own), deleting the shared dir
    * would break those probes mid-scan. Deferred exactly like superseded
    * generations: the NEXT rebuild/compaction (whose retained generation
    * is generation-complete) drops it.
    */
  private def dropLegacyIfUnreferenced(spark: SparkSession, indexDir: String,
                                       retained: Option[String]): Unit = {
    val stillRead = retained.exists { g =>
      !fsFor(spark, new org.apache.hadoop.fs.Path(indexDir))
        .exists(new org.apache.hadoop.fs.Path(s"$indexDir/$g/_hashes"))
    }
    if (!stillRead) {
      val legacy = new org.apache.hadoop.fs.Path(indexDir, "hashes")
      fsFor(spark, legacy).delete(legacy, true)
      ()
    }
  }

  /** Build the index from `(doc_id: long, text: string, ...)` documents.
    * A REBUILD is generation-first, never destructive-first: the new
    * postings generation — including its `_hashes` — is fully written
    * BEFORE the `_POSTINGS` pointer swings to it (the [[compact]]
    * protocol), and superseded generations are deleted only once the new
    * one is live, RETAINING the just-superseded generation so in-flight
    * probes finish on intact files (the [[VectorIndex.buildIvf]]
    * liveBefore rule; it is reclaimed at the next rebuild/compaction). A
    * crash mid-rebuild leaves the previous generation probe-able and,
    * because the [[CommitMarker]] is removed first and re-written last,
    * visibly uncommitted to orchestrators.
    */
  def build(docs: DataFrame, indexDir: String): Unit = {
    val spark = docs.sparkSession
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    val fs = fsFor(spark, dir)
    invalidate(spark, indexDir)
    val oldGens =
      if (fs.exists(dir))
        fs.listStatus(dir).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("postings"))
          .map(_.getPath.getName)
      else Seq.empty
    val liveBefore =
      if (oldGens.isEmpty) None
      else Some(livePostingsDir(spark, indexDir)
        .substring(indexDir.length + 1))
    // fresh dir keeps the plain `postings` name; rebuilds version past the
    // highest existing generation
    val next =
      if (oldGens.isEmpty) "postings"
      else {
        val maxGen = oldGens.map {
          case "postings" => 0
          case g => g.stripPrefix("postings_v").toInt
        }.max
        s"postings_v${maxGen + 1}"
      }
    val s = signedUnique(docs).cache()
    // an empty corpus would overwrite $next as a DATA-LESS partitioned
    // dir (no bp= dirs, no schema) that breaks every later read of the
    // index — fail loud instead of building poison (the
    // [[VectorIndex.buildIvf]] empty-sample rule); an index over nothing
    // is a caller error, not a state
    if (s.isEmpty) {
      s.unpersist()
      throw new IllegalArgumentException(
        "MinhashIndex.build: empty document frame — an index over " +
          "nothing is unreadable; build once the corpus has content")
    }
    // postings first (the overwrite clears $next), THEN the generation's
    // sidecars under it — nothing references $next until the swing
    // repartition by the layout key: one file per partition dir instead
    // of one per (task x dir) — without it a build scatters up to
    // shuffle-partitions x 64 tiny files per dataset (the append path's
    // same rule)
    withKeyBloom(bandRowsNarrow(s)
      .withColumn("aseq", lit(0L))
      .repartition(NumBandPartitions, col("bp"))
      .sortWithinPartitions("band")
      .write.mode("overwrite"), "band").partitionBy("bp")
      .parquet(s"$indexDir/$next")
    // the two sidecars are INDEPENDENT jobs over the same cached frame —
    // submitted concurrently (guide §2.6 back-fill: each write's shuffle
    // tail leaves most executors idle; the other write's tasks fill
    // them). Crash-safe: nothing references $next until the pointer
    // swing below, and the commit marker stays absent until after both.
    inParallel(spark)(
      withKeyBloom(idsRows(s)
        .withColumn("aseq", lit(0L))
        .repartition(NumBandPartitions, col("ip"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite"), "doc_id").partitionBy("ip")
        .parquet(genIdsDir(s"$indexDir/$next")),
      writeHashesPruned(
        s.select(col("doc_id"), col("h")).withColumn("aseq", lit(0L)),
        s"$indexDir/$next/_hashes", "overwrite"))
    writeAseq(spark, indexDir, 0L)
    if (next != "postings") swapPointer(spark, indexDir, next)
    oldGens.filterNot(g => g == next || liveBefore.contains(g)).foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, g), true))
    dropLegacyIfUnreferenced(spark, indexDir, liveBefore)
    markCommitted(spark, indexDir)
    s.unpersist()
    ()
  }

  /** Incremental maintenance: append a batch's hashes and postings —
    * O(batch) work, no rebuild. Single writer at a time (the
    * [[VectorIndex.appendIvf]] contract). Re-appending a doc_id whose
    * content changed ADDS rows beside the old ones, stamped with the next
    * `_ASEQ` value — the index is a seen-content registry whose contract
    * is "the NEWEST content per doc_id": superseded content stays a known
    * duplicate only until the next [[compact]], which garbage-collects
    * everything but each doc's latest append. [[indexStats]] counts
    * DISTINCT doc_ids either way.
    */
  def append(docs: DataFrame, indexDir: String): Unit = {
    val spark = docs.sparkSession
    invalidate(spark, indexDir)
    val live = livePostingsDir(spark, indexDir)
    val aseq = readAseq(spark, indexDir) + 1L
    // counter first: a crash after it merely skips a sequence value
    // (monotonicity is all compaction's newest-wins needs), and the
    // absent commit marker routes the next release to a rebuild anyway
    writeAseq(spark, indexDir, aseq)
    val s = signedUnique(docs).cache()
    // hashes in the generation's OWN layout: hp-partitioned for new
    // generations, flat for legacy ones (a generation stays
    // layout-consistent; the next rebuild/compaction migrates)
    val hashesDir = genHashesDir(spark, indexDir, live)
    if (hashesPartitioned(spark, hashesDir))
      writeHashesPruned(
        s.select(col("doc_id"), col("h")).withColumn("aseq", lit(aseq)),
        hashesDir, "append")
    else
      s.select(col("doc_id"), col("h"))
        .withColumn("aseq", lit(aseq))
        .write.mode("append")
        .parquet(hashesDir)
    // crash seam: hashes landed, postings not — the index is half-synced
    // and MUST read as uncommitted (CorpusOpsSpec kill-point matrix)
    graft.core.Chaos.point("minhash.mid-append")
    // repartition by the layout key first: without it every append lands
    // up-to-shuffle-partitions files in EVERY bp dir (32 x 64 tiny files
    // per micro-batch), tripping the small-file compaction nearly every
    // epoch — one shuffle of an O(batch) frame buys one file per
    // partition per append and ~8x fewer folds
    if (isSplit(spark, live)) {
      // independent append jobs over the same cached frame, submitted
      // concurrently (the build's sidecar rule): a crash between or
      // during them leaves the index half-synced either way, and the
      // absent commit marker routes the next release to a rebuild
      inParallel(spark)(
        withKeyBloom(bandRowsNarrow(s)
          .withColumn("aseq", lit(aseq))
          .repartition(NumBandPartitions, col("bp"))
          .sortWithinPartitions("band")
          .write.mode("append"), "band").partitionBy("bp")
          .parquet(live),
        withKeyBloom(idsRows(s)
          .withColumn("aseq", lit(aseq))
          .repartition(NumBandPartitions, col("ip"))
          .sortWithinPartitions("doc_id")
          .write.mode("append"), "doc_id").partitionBy("ip")
          .parquet(genIdsDir(live)))
    } else
      // pre-split generation: append in ITS schema (ids inline) — a
      // generation stays layout-consistent; the next compaction migrates
      withKeyBloom(bandRows(s)
        .withColumn("aseq", lit(aseq))
        .repartition(NumBandPartitions, col("bp"))
        .sortWithinPartitions("band")
        .write.mode("append"), "band").partitionBy("bp")
        .parquet(live)
    graft.core.Chaos.point("minhash.before-commit")
    markCommitted(spark, indexDir)
    s.unpersist()
    ()
  }

  /** The live postings generation (pointer file when compacted, the
    * original `postings/` otherwise) — the [[VectorIndex.livePostingsDir]]
    * idiom. Readers touching BOTH postings and hashes must resolve the
    * pointer ONCE and derive the hashes path from that resolution
    * ([[genHashesDir]]) — per-component resolution races a concurrent
    * pointer swing into pairing two generations.
    */
  def livePostingsDir(spark: SparkSession, indexDir: String): String =
    GenDirs.resolve(spark, indexDir, "_POSTINGS", "postings")

  /** Fold the append segments of a run of [[append]] micro-batches into
    * one file per band partition, re-sorted for row-group pushdown, and
    * GARBAGE-COLLECT superseded content: only each doc_id's newest append
    * (max `(aseq, h)` — the hash breaks the pathological same-sequence
    * tie deterministically) keeps its hash row and postings, so a
    * high-churn corpus's index stays O(live content), not O(content ever
    * released). Publishes with an atomic `_POSTINGS` pointer swap; the
    * superseded generation is retained until the NEXT compaction so
    * in-flight probes finish on intact files (the
    * [[VectorIndex.compactIvf]] protocol), and a legacy top-level
    * `hashes/` dir is migrated into the new generation and retired one
    * cycle later ([[dropLegacyIfUnreferenced]]).
    *
    * LEGACY aseq-0 CARVE-OUT: rows persisted before the `_ASEQ` protocol
    * all read as generation 0 ([[withAseq]]), so the (doc_id, aseq)
    * keep-join cannot order pre-migration appends against each other — a
    * doc_id appended twice with DIFFERENT content before migration keeps
    * both versions' postings while only the max-h hash row survives
    * (postings whose exact-dup hash was collected). Newest-wins therefore
    * holds among aseq-stamped appends only; a pre-aseq index known to
    * carry multi-version doc_ids must migrate through a full [[build]]
    * rebuild from the released table (one content per doc_id by
    * construction), not through compact.
    */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = livePostingsDir(spark, indexDir)
    val liveName = live.substring(live.lastIndexOf('/') + 1)
    val nextGen =
      if (liveName == "postings") 1
      else liveName.stripPrefix("postings_v").toInt + 1
    val next = s"postings_v$nextGen"
    // mergeSchema: a migrated legacy index holds pre-aseq files beside
    // appended aseq-stamped ones in the SAME dirs; the default
    // sampled-schema read could drop (or null out) the column either way
    // cached like keep: hashes has two consumers of its own (the keep
    // aggregation and the superseded-registry anti-join) — uncached,
    // compaction paid TWO full hash-table scans per fold (the read set
    // with one read per term is ledger key
    // `streaming_20x_r14_rows_fixed.release_cost_attribution`)
    val hashes = withAseq(spark.read.option("mergeSchema", "true")
      .parquet(genHashesDir(spark, indexDir, live))).cache()
    // newest content per doc_id; the GC point. O(index) once per
    // compaction — the same cost class as the rewrite itself. Cached:
    // two consumers (the postings keep-join and the _hashes write) would
    // otherwise each pay the full hash-table scan + aggregation
    val keep = hashes.groupBy("doc_id")
      .agg(max(struct(col("aseq"), col("h"))).as("k"))
      .select(col("doc_id"), col("k.aseq").as("aseq"),
        col("k.h").as("h"))
      .cache()
    val liveSplit = isSplit(spark, live)
    val livePosts = withAseq(
      spark.read.option("mergeSchema", "true").parquet(live))
    val keepIds = keep.select("doc_id", "aseq")
    // narrow postings out — an inline-layout source drops its ride-along
    // arrays here: the fold IS the migration to the split layout
    withKeyBloom(livePosts
      .select(col("doc_id"), col("band"), col("bp"), col("aseq"))
      .join(keepIds, Seq("doc_id", "aseq"), "left_semi")
      .repartition(NumBandPartitions, col("bp"))
      .sortWithinPartitions("band")
      .write.mode("overwrite"), "band").partitionBy("bp")
      .parquet(s"$indexDir/$next")
    // the `_ids` sidecar: from the live sidecar, or salvaged from the
    // inline band rows on a migrating fold (the array is identical
    // across a doc's band rows — one survives)
    // written in the probe layout like build/append ([[withKeyBloom]] on
    // doc_id + doc_id-sorted row groups): without it, post-compaction
    // generations would lose the candidate-id row-group skip that
    // novelDocs' idsScan In-filter relies on — and the steady-state loop
    // compacts, so production probes would mostly hit the un-bloomed
    // layout
    withKeyBloom(
      (if (liveSplit)
         withAseq(spark.read.option("mergeSchema", "true")
           .parquet(genIdsDir(live)))
           .select("doc_id", "ids", "aseq")
       else livePosts.select("doc_id", "ids", "aseq")
         .dropDuplicates("doc_id", "aseq"))
        .join(keepIds, Seq("doc_id", "aseq"), "left_semi")
        .withColumn("ip", idp(col("doc_id")))
        .repartition(NumBandPartitions, col("ip"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite"), "doc_id").partitionBy("ip")
      .parquet(genIdsDir(s"$indexDir/$next"))
    writeHashesPruned(keep.select("doc_id", "h", "aseq"),
      s"$indexDir/$next/_hashes", "overwrite")
    // strict-replay registry: accrete the registrations this GC dropped
    // onto the prior generation's registry (hash-only rows — O(content
    // ever superseded), the declared storage trade of the strict tier;
    // the default contract hands cross-generation replays to the
    // streaming checkpoint and reads none of this). Written h-sorted so
    // the strict tier's literal-pruned residual lookups skip row groups.
    val sup = (supersededWithData(spark, live) match {
      case Some(p) => spark.read.parquet(p).select("doc_id", "h")
        .unionByName(hashes.join(keep, Seq("doc_id", "aseq", "h"),
          "left_anti").select("doc_id", "h"))
      case None => hashes.join(keep, Seq("doc_id", "aseq", "h"),
        "left_anti").select("doc_id", "h")
    }).distinct().cache()
    try {
      // zero superseded rows (pure-insert corpora): never write the
      // data-less dir (the schema-inference poison class)
      if (!sup.isEmpty)
        withKeyBloom(sup.sortWithinPartitions("h")
          .write.mode("overwrite"), "h")
          .parquet(s"$indexDir/$next/_hashes_superseded")
    } finally { sup.unpersist(); () }
    keep.unpersist()
    hashes.unpersist()
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dir.getFileSystem(conf)
    // crash seams around the pointer swing: before it the old generation
    // stays live (the half-written next gen is inert and overwritten by
    // the next fold); after it the new one is complete and the stale old
    // generations are reclaimed by the next fold
    graft.core.Chaos.point("minhash.before-compact-swing")
    swapPointer(spark, indexDir, next)
    graft.core.Chaos.point("minhash.after-compact-swing")
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("postings") &&
        st.getPath.getName != next && st.getPath.getName != liveName)
      .foreach(st => fs.delete(st.getPath, true))
    dropLegacyIfUnreferenced(spark, indexDir, Some(liveName))
  }

  /** Atomic `_POSTINGS` pointer swing ([[GenDirs.swap]]), shared by
    * [[build]] rebuilds and [[compact]].
    */
  private def swapPointer(spark: SparkSession, indexDir: String,
                          next: String): Unit =
    GenDirs.swap(spark, indexDir, "_POSTINGS", next)

  /** Part-file count of the live postings generation: every [[append]]
    * lands new files into the same generation, so this is the small-file
    * pressure gauge [[maybeCompact]] reads. One listStatus over ≤
    * [[NumBandPartitions]] directories — O(64) RPCs at any corpus size.
    */
  private def perPartitionFiles(spark: SparkSession,
                                indexDir: String): Seq[Long] = {
    val live = new org.apache.hadoop.fs.Path(
      livePostingsDir(spark, indexDir))
    val fs = fsFor(spark, live)
    if (!fs.exists(live)) Seq.empty
    else fs.listStatus(live).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("bp="))
      .map(st => fs.listStatus(st.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet")).toLong)
  }

  def postingsFileCount(spark: SparkSession, indexDir: String): Long =
    perPartitionFiles(spark, indexDir).sum

  /** Compaction policy for the steady-state release loop: fold the
    * generation once ANY bp directory's file count passes
    * `maxFilesPerPartition` (probe read fan-in and parquet footer
    * overhead grow with file count, not data size — the classic
    * small-file decay). The gauge is the per-partition MAX, not the
    * cross-partition total: small skewed appends concentrate files in the
    * hot partitions long before the average moves. Returns true when a
    * compaction ran. The threshold is a count, not bytes, because each
    * append adds up-to-one file per partition regardless of batch size.
    */
  def maybeCompact(spark: SparkSession, indexDir: String,
                   maxFilesPerPartition: Int = 8): Boolean = {
    val per = perPartitionFiles(spark, indexDir)
    val over = per.nonEmpty && per.max > maxFilesPerPartition.toLong
    if (over) compact(spark, indexDir)
    over
  }

  /** Index health: distinct bands, biggest band (bounds probe tail latency
    * AND candidate fan-out — the rebuild/re-shingle signal when boilerplate
    * degenerates a band), and per-band skew. `n_docs` counts DISTINCT
    * doc_ids: between compactions a doc_id re-appended with changed
    * content holds one hash row per content version; [[compact]]
    * garbage-collects all but the newest, so post-compaction the hash
    * row count equals `n_docs`.
    */
  def indexStats(spark: SparkSession, indexDir: String): DataFrame = {
    // ONE pointer resolution for both components (livePostingsDir note)
    val live = livePostingsDir(spark, indexDir)
    val sizes = spark.read.parquet(live)
      .groupBy("band").agg(count(lit(1)).as("sz"))
    spark.read.parquet(genHashesDir(spark, indexDir, live))
      .agg(countDistinct("doc_id").as("n_docs"))
      .crossJoin(sizes.agg(
        count(lit(1)).as("n_bands"),
        max("sz").as("max_band"),
        round(avg("sz"), 2).as("avg_band"),
        round(max("sz") / avg("sz"), 2).as("skew_ratio")))
  }

  /** The batch documents NOT already in the indexed corpus: exact tier
    * anti-joins the persisted content hashes with the batch's own h set
    * pushed as In literals — the per-row-group `h` blooms skip every
    * row group holding none of them, so a mostly-novel batch reads
    * ~zero hash rows; near-dup tier probes the postings — the batch's bp
    * set prunes partitions, the band equi-join collides candidates, the
    * standard 1000-doc band cap bounds degenerate-band fan-out, and a
    * merge-scan Jaccard verifies. Returns the batch rows (original
    * columns) that survive both tiers — O(batch + collisions) compute
    * and reads bounded by pruning on BOTH tiers, with the corpus never
    * re-shingled or re-scanned.
    *
    * `strictReplay` widens the exact tier to content hashes whose
    * registration a [[compact]] SUPERSEDED (the `_hashes_superseded`
    * registry): the default contract covers the current content
    * generation only — an at-least-once producer replaying a batch that
    * a later update superseded, after a compaction GC'd the old
    * version's registration, would regress the doc. Default keeps that
    * window the streaming checkpoint's job (zero extra reads); strict
    * closes it for producers that cannot guarantee ordering, at
    * O(content ever superseded) registry storage. THE STRICT TRADE IS
    * LOSSY BY CONSTRUCTION: a legitimate revert (a doc restored to its
    * prior content) or a new doc whose text coincides with
    * once-superseded content is indistinguishable FROM CONTENT ALONE
    * from a stale replay, and strict mode drops it — enable only for
    * feeds where reverts are impossible or unwanted. Either way the
    * registry resets on a [[build]] rebuild ([[supersededWithData]]),
    * which is also the recovery path when a strict feed must re-admit
    * reverted content.
    */
  def novelDocs(spark: SparkSession, batch: DataFrame, indexDir: String,
                jaccardThreshold: Double = 0.2,
                maxBand: Int = 1000,
                strictReplay: Boolean = false): DataFrame = {
    // the signature projection recomputes per consumer — O(batch) per
    // pass, cheap. The EXACT tier's result does not: it has two consumers
    // (the band rows below and the survivor semi-join at the end), so
    // left lazy it would run twice per probe — measured at the 20x
    // rehearsal as a full extra corpus-sized read per release back when
    // the tier scanned the whole hash table. localCheckpoint
    // materializes the O(batch) survivor set once; the probe is already
    // eager anyway (the literal collects below), so this adds no
    // laziness surprise, and checkpoint blocks are freed with the frame
    // when callers unpersist their derived caches.
    val s = signed(batch.select("doc_id", "text"))
    // ONE pointer resolution for hashes + postings (livePostingsDir note)
    val live = livePostingsDir(spark, indexDir)
    // exact tier: anti-join against the persisted content hashes, with
    // the batch's own h set pushed as native In literals — the per-row-
    // group `h` blooms ([[withKeyBloom]]) skip every row group holding
    // none of them, so a mostly-novel batch reads ~ZERO hash rows and a
    // dup-heavy one only its duplicates' row groups. The batch's hp set
    // (bounded, ≤ NumHashPartitions ints) additionally prunes the file
    // listing when the generation is hp-partitioned. Restricting the
    // anti-join's right side to the batch's own hashes is semantics-
    // preserving (the join can only ever match those); cap overflow
    // degrades to the unrestricted scan — correct, just unpruned. Files
    // written before the bloom layout are never skipped (read in full),
    // so mixed generations stay correct.
    val hashesDir = genHashesDir(spark, indexDir, live)
    // ONE size gate for the probe's whole pruning apparatus (r17): the
    // literal and partition-list collects are O(batch) DATA but a fixed
    // count of driver JOBS — and at small index sizes the job overhead
    // is the probe's entire wall (attributed: ~23 jobs, none hot, ~6×
    // the pre-pruning wall at bench scale, identical with and without
    // the pushes themselves), while the full scans they'd avoid cost
    // less than the collects. Past [[KeyProbe.ChunkedScanMinBytes]] the
    // skipped reads dominate and every collect pays for itself many
    // times over; the `graft.chunked.probe=force` test seam keeps the
    // pruned path testable at toy scale. Pruning-only — both arms answer
    // identically (spec-pinned).
    val prune = graft.operators.KeyProbe.literalsWorthIt(spark, live)
    // ONE bounded collect serves both prunes: (h, hp) pairs — h literals
    // for row-group skipping (in sorted ≤64k slices past the single-In
    // cap, [[inSlices]]), hp values (≤ NumHashPartitions ints) for
    // partition pruning. Cap overflow recomputes the tiny hp set alone.
    val hKeys =
      if (prune) s.select(col("h"), hp(col("h")).as("p")).distinct()
        .limit(ChunkedKeyLiterals + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    val batchHs = hKeys.map(_.getString(0)).sorted.toSeq
    val hps =
      if (!prune) Seq.empty[Int]
      else if (hKeys.length > ChunkedKeyLiterals)
        s.select(hp(col("h")).as("p")).distinct()
          .collect().map(_.getInt(0)).toSeq
      else hKeys.map(_.getInt(1)).distinct.toSeq
    val lim: DataFrame => DataFrame = df =>
      if (prune && hKeys.length <= ChunkedKeyLiterals)
        keyFiltered(df, "h", batchHs, hashesDir)
      else df
    val hashes0 = spark.read.parquet(hashesDir)
    val hashesP = lim(
      if (prune && hashesPartitioned(spark, hashesDir))
        hashes0.filter(col("hp").isin(hps: _*))
      else hashes0)
    val seen =
      if (strictReplay) supersededWithData(spark, live) match {
        case Some(p) => hashesP.select("h")
          .unionByName(lim(spark.read.parquet(p)).select("h"))
        case None => hashesP.select("h")
      }
      else hashesP.select("h")
    val afterExact = s.join(seen, Seq("h"), "left_anti").localCheckpoint()
    // band rows carrying the content hash: the Jaccard verify re-joins
    // the batch side's shingle arrays from afterExact by (doc_id, h) —
    // doc_id alone would let a probe batch carrying one doc_id under two
    // texts verify version A's band collision against version B's array
    val bBand = afterExact.select(col("doc_id"), col("h"), col("ids"),
        explode(graft.functions.TextFunctions.bandKeys(col("sig"), 8, 2))
          .as("band"))
      .withColumn("bp", bp(col("band")))
    // ONE bounded collect: (band, bp) pairs — band literals for
    // row-group skipping (sorted slices past the single-In cap), bp
    // values (≤ NumBandPartitions ints) for partition pruning. Cap
    // overflow recomputes the tiny bp set alone. Under the size gate
    // the collect is skipped entirely: a small postings table is read
    // whole (the empty-batch shortcut goes with it — empty joins on an
    // empty bBand cost nothing at that size).
    val bandKeyRows =
      if (prune) bBand.select(col("band"), col("bp")).distinct()
        .limit(ChunkedKeyLiterals + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    val batchBands = bandKeyRows.map(_.getString(0)).sorted.toSeq
    val bps =
      if (!prune) Seq.empty[Int]
      else if (bandKeyRows.length > ChunkedKeyLiterals)
        bBand.select("bp").distinct().collect().map(_.getInt(0)).toSeq
      else bandKeyRows.map(_.getInt(1)).distinct.toSeq
    // the all-dup/zero-band shortcut: under the gate the bp list answers
    // it for free; ungated, ONE take(1) on the checkpointed exact-tier
    // survivors does (cheap — checkpoint blocks, no recompute). Besides
    // skipping dead scans, the shortcut keeps a surgically-stripped
    // legacy layout (narrow postings, no `_ids` sidecar) probe-able for
    // replay batches — its band plan is unresolvable but also unreachable
    val losers =
      if (prune && bps.isEmpty) afterExact.select("doc_id").limit(0)
      else if (!prune && afterExact.isEmpty)
        afterExact.select("doc_id").limit(0)
      else if (isSplit(spark, live)) {
        // split layout: the band join scans NARROW postings (no arrays),
        // and the Jaccard verify reads only the CANDIDATES' `_ids`
        // partitions — collisions, not the corpus, pay the array I/O.
        // The batch's own band set rides into the scan as pushed In
        // literals (bounded collect, O(8·batch) strings under the cap):
        // the per-row-group band blooms ([[withKeyBloom]]) skip every
        // row group holding NONE of them, so an all-novel batch reads
        // ~ZERO posting rows — the term that otherwise saturates to a
        // full postings read once a batch's bands touch all 64 bp
        // partitions (O(corpus·8) rows per streaming micro-batch at the
        // 20x drain). Cap overflow degrades to bp pruning alone.
        val scan0 =
          if (prune) spark.read.parquet(live)
            .filter(col("bp").isin(bps: _*))
          else spark.read.parquet(live)
        val scan = if (prune && bandKeyRows.length <= ChunkedKeyLiterals)
          keyFiltered(scan0, "band", batchBands, live) else scan0
        val cand = scan
          .withColumn("_bc", count(lit(1)).over(Window.partitionBy("band")))
          .filter(col("_bc") <= maxBand)
          .select(col("band"), col("doc_id").as("cand_id"),
            col("aseq").as("cand_aseq"))
        // the collision PAIR SET (narrow — no arrays on either side, the
        // batch's ids column is projected away), consumed by the bounded
        // candidate-key collect and the Jaccard verify. DELIBERATELY
        // LAZY: under the band-literal cap both consumers recompute a
        // ~zero-row pruned scan; past it (bulk batches) recomputing the
        // full scan twice was measured CHEAPER on the rows axis than
        // checkpointing — dup-dense bulk geometries produce pair sets
        // comparable to the postings themselves, and the checkpoint's
        // block re-reads (2x|pairs|) exceed the scan it saves.
        val pairs = bBand.select("doc_id", "h", "band")
          .join(cand, Seq("band"))
          .select(col("doc_id"), col("h"), col("cand_id"), col("cand_aseq"))
          .dropDuplicates("doc_id", "h", "cand_id", "cand_aseq")
        // candidate ids and their `_ids` partitions. Under the chunk
        // bound the ids double as literals for the `_ids` read
        // (row-group skip via its doc_id blooms, sorted slices past the
        // single-In cap); past it, partitions alone prune — recomputed
        // WITHOUT the limit, since a truncated list would silently drop
        // candidate partitions (false novelty)
        val candKeys =
          if (prune) pairs
            .select(idp(col("cand_id")).as("ip"), col("cand_id")).distinct()
            .limit(ChunkedKeyLiterals + 1).collect()
          else Array.empty[org.apache.spark.sql.Row]
        val (ips, candIds) =
          if (!prune) (Seq.empty[Int], Seq.empty[Long])
          else if (candKeys.length > ChunkedKeyLiterals)
            (pairs.select(idp(col("cand_id")).as("ip")).distinct()
              .collect().map(_.getInt(0)).toSeq, Seq.empty[Long])
          else (candKeys.map(_.getInt(0)).distinct.toSeq,
            candKeys.map(_.getLong(1)).sorted.toSeq)
        if (prune && ips.isEmpty) afterExact.select("doc_id").limit(0)
        else {
          val idsScan0 =
            if (prune) spark.read.parquet(genIdsDir(live))
              .filter(col("ip").isin(ips: _*))
            else spark.read.parquet(genIdsDir(live))
          val idsScan = if (candIds.nonEmpty)
            keyFiltered(idsScan0, "doc_id", candIds, genIdsDir(live))
          else idsScan0
          pairs
            // the batch side's shingle arrays re-join from the
            // checkpointed exact-tier survivors (cheap narrow re-read)
            // keyed by (doc_id, h) — the content version that generated
            // the collision, not whichever version shares the doc_id;
            // materializing them per PAIR would cost more than this join
            .join(afterExact.select(col("doc_id"), col("h"), col("ids")),
              Seq("doc_id", "h"))
            .join(
              idsScan.select(col("doc_id").as("cand_id"),
                col("aseq").as("cand_aseq"), col("ids").as("ids_c")),
              Seq("cand_id", "cand_aseq"))
            .filter(jaccardIds(col("ids"), col("ids_c")) >= jaccardThreshold)
            .select("doc_id").distinct()
        }
      } else {
        // pre-split generation: arrays ride in the posting rows
        val postings0 = spark.read.parquet(live)
        val postings = (if (prune) postings0.filter(col("bp").isin(bps: _*))
                        else postings0)
          .withColumn("_bc", count(lit(1)).over(Window.partitionBy("band")))
          .filter(col("_bc") <= maxBand)
          .select(col("band"), col("ids").as("ids_c"))
        bBand.join(postings, Seq("band"))
          .filter(jaccardIds(col("ids"), col("ids_c")) >= jaccardThreshold)
          .select("doc_id").distinct()
      }
    // The RESULT is checkpointed too — this one is LOAD-BEARING for
    // correctness, not just cost. A lazy result's plan keeps the hashes
    // and postings SCANS in its lineage; callers cache it and hand it to
    // [[append]], whose first write (the hashes file) triggers Spark's
    // recacheByPath on every cached plan reading that path — the probe
    // RE-EXECUTES against the index it is mid-way through updating, the
    // batch's own freshly-appended hashes now match the anti-join, the
    // cached frame recomputes to EMPTY, and the postings write that
    // follows writes NOTHING. That exact sequence silently dropped every
    // appended release's near-dup registrations (the exact-hash tier
    // stayed intact, masking it: replays still no-op'd) — caught by the
    // per-epoch input-rows instrument, confirmed by postings-vs-hashes
    // doc counts. Severing the lineage here makes the returned frame
    // immune to the index's own subsequent writes, for every caller.
    batch
      .join(afterExact.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint()
  }
}
