package graft.queries

import graft.functions.{Multimodal, TextFunctions => F}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data-pipeline operators over the `documents` / `embeddings`
  * tables: deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine), similarity search (brute-force and LSH-bucketed ANN),
  * and text analysis (quality, language-ID, token stats, fingerprinting),
  * plus the multimodal binary-column plumbing.
  *
  * Scale design: every per-doc computation (shingling, signatures,
  * fingerprints) is a narrow codegen'd map; candidate generation is an
  * equi-join on bucket keys (shuffle on the bucket key, never all-pairs);
  * only the small-sf verification queries do brute-force O(n^2) — the LSH
  * variants are the 100 TB path.
  */
object TrainingData {

  private def docs(spark: SparkSession, dir: String): DataFrame = {
    val p = s"$dir/documents.parquet"
    graft.core.ScanEstimate.fanOut(spark.read.parquet(p), p)
  }
  private def embs(spark: SparkSession, dir: String): DataFrame = {
    val p = s"$dir/embeddings.parquet"
    graft.core.ScanEstimate.fanOut(spark.read.parquet(p), p)
  }

  // ---------------------------------------------------------------- dedup

  /** Exact dedup: hash-groupBy on content. At 100 TB this is one shuffle of
    * 16-byte digests, never of the documents themselves.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(md5(col("text")).as("h"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"))
      .withColumn("dup_rows", col("n_docs") - col("n_distinct"))

  /** n-gram Jaccard near-dup on consecutive-id pairs: a linear, deterministic
    * probe of the shingle/Jaccard machinery (the all-pairs version is what
    * LSH below avoids).
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"),
      F.shingles(F.tokens(col("text")), 2).as("sh"))
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_a") + 1 === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        F.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .orderBy("doc_a")
  }

  /** MinHash + LSH near-dup: shingle -> 16-component min-md5 signature ->
    * 8 bands x 2 rows -> band-key explode -> bucket equi-join -> distinct
    * candidate pairs -> exact-Jaccard verification. The join is on band
    * keys, so work scales with collisions, not n^2. md5-based signatures
    * make the DuckDB oracle bit-identical.
    */
  /** Band-bucket candidate pairs for a signed frame (doc_id, sig).
    *
    * Buckets larger than `maxBucket` are dropped before pairing: a
    * degenerate bucket (near-identical boilerplate across millions of
    * docs) would go quadratic inside one task at scale — the standard
    * LSH skew guard. The 1000 default never triggers on the test data
    * (max observed bucket: 288 at sf0.1), so the SQL oracles mirror the
    * same HAVING cap and stay bit-identical.
    */
  /** Skew-capped band self-join shared by every banded operator (MinHash
    * LSH, banded SimHash, clustering, curation): prune oversized buckets,
    * then pair docs sharing a band as (doc_a, doc_b) with each `payload`
    * column riding along as `<col>_a` / `<col>_b`. The bucket-size cap is a
    * window count, so ONE exchange on the band key both prunes and
    * pre-partitions the self-join (a groupBy + join-back would shuffle the
    * banded frame twice more). NOT deduplicated: callers that verify with a
    * cheap per-pair predicate keep the multi-band duplicates (re-checking
    * beats a distinct shuffle of the payloads); callers that only need ids
    * distinct the two-long pairs afterwards.
    */
  private def prunedBandPairs(banded: DataFrame, payload: Seq[String],
                              maxBucket: Int = 1000): DataFrame = {
    val pruned = banded
      .withColumn("_bc", count(lit(1)).over(Window.partitionBy("band")))
      .filter(col("_bc") <= maxBucket).drop("_bc")
    def side(sfx: String) = pruned.select(
      (col("doc_id").as(s"doc$sfx") +:
        payload.map(c => col(c).as(s"$c$sfx"))) :+ col("band"): _*)
    side("_a").join(side("_b"), Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .drop("band")
  }

  private def lshCandidatePairs(banded: DataFrame, maxBucket: Int = 1000): DataFrame =
    prunedBandPairs(banded, Seq.empty, maxBucket)
      .select("doc_a", "doc_b").distinct()

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val k = 16; val bands = 8; val rows = 2
    // Shingles reduce to distinct numeric ids ONCE (one md5 each); the
    // signature, the band keys, and the verification Jaccard all run over
    // compact long arrays — the string shingles never leave the first
    // projection. (Jaccard over ids == Jaccard over shingles modulo 31-bit
    // collisions; the oracle computes the identical id-based formula.)
    val withIds = docs(spark, dir).select(col("doc_id"),
        graft.functions.VectorFunctions.shingleIds(col("text"), 2).as("ids"))
      .withColumn("sig",
        graft.functions.VectorFunctions.minhashSig(col("ids"), k))
      .cache()
    val banded = withIds
      .select(col("doc_id"), col("ids"),
        explode(F.bandKeys(col("sig"), bands, rows)).as("band"))
    // ids ride along as pair payload through the ONE band-key exchange (the
    // same shape dedupMinhashRecall's truth tier uses): the Jaccard is
    // recomputed per banded copy of a pair — cheap — and the distinct then
    // shuffles only (doc_a, doc_b, j) scalar triples. No corpus-sized frame
    // is ever broadcast or re-joined.
    val result = prunedBandPairs(banded, Seq("ids"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.VectorFunctions
          .jaccardIds(col("ids_a"), col("ids_b")).as("j"))
      .distinct()
      .agg(count(lit(1)).as("candidate_pairs"),
        count(when(col("j") >= 0.2, 1)).as("verified_pairs"))
    materializeAndRelease(result, withIds)
  }

  /** Test seam: while set, [[materializeAndRelease]] passes the lazy frame
    * through (no collect, no unpersist), so plan-inspection tests assert
    * on the REAL composed plan instead of the post-materialization local
    * relation — the PlanSpec scale-safety pin would otherwise be vacuous
    * for every materializing operator. Tests clear the Spark cache after,
    * since the skipped unpersist leaves cached inputs pinned.
    */
  private[graft] val planOnly =
    new scala.util.DynamicVariable[Boolean](false)

  /** Collect a SMALL aggregate result eagerly and unpersist its cached
    * inputs: returning a lazy plan over a cached frame would leak the cache
    * (the caller has no handle to release it) or recompute on unpersist.
    */
  private def materializeAndRelease(small: DataFrame,
                                    cached: DataFrame*): DataFrame = {
    if (planOnly.value) return small
    val spark = small.sparkSession
    val rows = small.collect().toSeq
    cached.foreach(_.unpersist())
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), small.schema)
  }

  /** SimHash near-dup VERIFIER (registered as `dedup_simhash_verify`):
    * per-doc 60-bit md5 fingerprint ([[simhashMd5Fps]] — the SAME basis
    * the banded default fingerprints, so this brute scan is its true
    * ground truth), then brute pair counts within Hamming radii. The md5
    * basis makes every count DuckDB-reproducible — the oracle recomputes
    * the fingerprints and the full pair matrix exactly. Quadratic BY
    * DESIGN — small-sf ground truth only; the registered default
    * `dedup_simhash` is [[dedupSimhashBanded]], whose bucket-join scales.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val fps = simhashMd5Fps(docs(spark, dir))
    val a = fps.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val b = fps.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(bit_count(col("fp_a").bitwiseXOR(col("fp_b")))
        .cast(LongType).as("d"))
      .agg(count(lit(1)).as("pairs"),
        count(when(col("d") <= 8, 1)).as("within_8"),
        count(when(col("d") <= 16, 1)).as("within_16"),
        min(col("d")).as("min_hamming"))
  }

  /** Embeddings with a pre-normalized double vector: norms are computed ONCE
    * per vector (a narrow map), so every pairwise cosine downstream is a
    * single codegen'd [[graft.functions.VecDot]] — not dot + two norms.
    */
  private def normalized(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecNormalize
    val v = col("embedding").cast(ArrayType(DoubleType))
    embs(spark, dir).select(col("vec_id"), vecNormalize(v).as("nv"))
  }

  /** Embedding-cosine near-dup VERIFIER (registered as
    * `dedup_embedding_cosine_verify`): all pairs with similarity >= 0.4
    * (the data's top ~0.05%). Pre-normalized vectors + codegen'd dot,
    * rounded for cross-engine parity. Quadratic BY DESIGN — the small-sf
    * ground truth [[dedupBandedRecall]] grades against (memoized in
    * DirMemo); the registered default is [[dedupEmbeddingBanded]].
    */
  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.allPairsAboveThreshold(
      normalized(spark, dir), threshold = 0.4)

  /** Bucketed (banded) embedding near-dup — the 100 TB DEFAULT for which
    * [[dedupEmbeddingCosine]] is the small-sf verifier. Candidate
    * generation routes through IVF centroid buckets
    * ([[graft.operators.VectorIndex.assignTop2]]): every vector lands in
    * its top-2 nearest centroid buckets (multi-probe catches pairs that
    * straddle a boundary), candidates are pairs sharing a bucket (skew cap
    * 1000 like the MinHash bands), and only candidates pay the exact
    * cosine. With centroids sampled at 1-in-50, expected bucket size stays
    * ~100 regardless of corpus scale, so total pair work is O(n·bucket),
    * not O(n²) — the shuffle key is the bucket, fine-grained and
    * cap-guarded. Centroids are DATA (`vec_id % 50 == 3`), so the whole
    * candidate set — and therefore every count here — is
    * oracle-reproducible; at a real 100 TB deployment the sample swaps for
    * [[embKmeans]] centroids with no shape change. dup_pairs vs the exact
    * query's pair count is the measured recall of the routing.
    */
  def dedupEmbeddingBanded(spark: SparkSession, dir: String): DataFrame = {
    val e = normalized(spark, dir).cache()
    val cents = centroidPick(e, 50)
      .select(col("vec_id").as("cent_id"), col("nv").as("cv"))
    // ONE pass over the banded candidate pipeline: all three distinct
    // counts fold into a single aggregation over narrow (id, id, cos)
    // rows — a separate `dropped` frame would re-run the whole band join
    // per crossJoined aggregate
    val result = e.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(cents.agg(count(lit(1)).as("n_centroids")))
      .crossJoin(bandedScoredPairs(e, cents).agg(
        countDistinct(col("doc_a"), col("doc_b")).as("candidate_pairs"),
        countDistinct(when(col("cos") >= 0.4,
          struct(col("doc_a"), col("doc_b")))).as("dup_pairs"),
        countDistinct(when(col("cos") >= 0.4, col("doc_b"))).as("n_dropped")))
      .select(col("n_vecs"), col("n_centroids"), col("candidate_pairs"),
        col("dup_pairs"), col("n_dropped"),
        (col("n_vecs") - col("n_dropped")).as("n_kept"))
    materializeAndRelease(result, e)
  }

  /** The banded candidate pipeline, exactly scored: top-2 centroid buckets
    * per vector, bucket-keyed pair join (1000-cap skew guard), rounded
    * cosine per surviving candidate. NOT deduplicated — a pair sharing
    * BOTH probe buckets appears twice, and callers count with
    * `countDistinct` (re-scoring the dot per band beats a distinct shuffle
    * of the vectors — the prunedBandPairs contract). Shared by
    * [[dedupEmbeddingBanded]] (the rollup) and [[dedupBandedRecall]] (the
    * quality measurement).
    */
  private def bandedScoredPairs(e: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val banded = graft.operators.VectorIndex.assignTop2(e, cents)
      .select(col("vec_id").as("doc_id"), col("bucket").as("band"), col("nv"))
    prunedBandPairs(banded, Seq("nv"))
      .select(col("doc_a"), col("doc_b"),
        round(vecDot(col("nv_a"), col("nv_b")), 4).as("cos"))
  }

  /** Measured recall of the banded routing against the exact all-pairs
    * verifier ([[dedupEmbeddingCosine]]) — the "approximate operators ship
    * with their measured quality" rule applied to the dedup default, same
    * shape as [[simIvfRecall]]. On THIS corpus the number is low (~0.4-0.6):
    * the synthetic embeddings are near-uniform, so almost every pair above
    * the 0.4 threshold sits at 0.4-0.5 cosine — barely-similar noise pairs
    * in the regime where bucket routing is provably weak. Real near-dup
    * corpora concentrate dup pairs at 0.9+ cosine, where top-2 routing
    * recall approaches 1; this query is exactly the instrument a deployment
    * uses to pick nprobe/centroid density before trusting the banded
    * default, and it is fully oracle-checked (both operands data-derived).
    */
  def dedupBandedRecall(spark: SparkSession, dir: String): DataFrame = {
    // the exact verifier pair set is shared ground truth (the recall
    // family pattern): memoized per (session, dir), eagerly materialized
    // (localCheckpoint — the lazy plan would re-run the blocked all-pairs
    // per consumer); its fresh cost stays visible in
    // dedup_embedding_cosine's own bench entry
    val exact = DirMemo.getOrCompute("emb_exact_pairs", spark, dir)(
        dedupEmbeddingCosine(spark, dir).localCheckpoint())
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val e = normalized(spark, dir).cache()
    val cents = centroidPick(e, 50)
      .select(col("vec_id").as("cent_id"), col("nv").as("cv"))
    val banded = bandedScoredPairs(e, cents)
      .filter(col("cos") >= 0.4)
      .select("doc_a", "doc_b").distinct().withColumn("_hit", lit(1))
    val result = exact.join(banded, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("exact_pairs"),
        count(col("_hit")).as("banded_hits"))
      .select(col("exact_pairs"), col("banded_hits"),
        round(col("banded_hits").cast(DoubleType) / col("exact_pairs"), 4)
          .as("recall"))
    materializeAndRelease(result, e)
  }

  // ----------------------------------------------------- similarity search

  /** Deterministic FIXED-SIZE probe set shared by every similarity/recall
    * query: the `n` vec_ids with the smallest `md5(vec_id)`. Compiles to a
    * TakeOrdered (per-partition top-n + driver merge) — an O(corpus) scan
    * with an O(n) result at any scale. The previous fixed FRACTION
    * (`vec_id % 25`) kept the probe side proportional to the corpus, which
    * made the brute-force recall verifiers O(corpus²/25) at 100×; a fixed N
    * caps them at O(N·corpus). md5-of-decimal-string is bit-reproducible in
    * DuckDB (`md5(CAST(vec_id AS VARCHAR))`), so the oracles select the
    * identical set.
    */
  private[graft] val ProbeN = 32
  private def probeIds(e: DataFrame, n: Int = ProbeN): DataFrame =
    e.select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(n)

  /** Data-derived IVF centroid pick with a HARD count bound. The `% mod`
    * filter keeps the pick oracle-reproducible, but alone it is
    * corpus-PROPORTIONAL (1–2% of vectors) — and this frame is broadcast
    * into every probe crossJoin, so at 100 TB it is an O(corpus)
    * broadcast. The md5-ordered limit (the [[probeIds]] idiom,
    * bit-reproducible in DuckDB) caps it at a fixed count: a no-op below
    * the cap (every tested SF selects < 256 centroids), a deterministic
    * subset beyond it, making the centroid broadcast O(1) in corpus size
    * by construction. PlanSpec's hardened broadcast exemption requires
    * exactly this: a hinted side must carry a Limit/Aggregate/Sample.
    * Delegates to [[graft.operators.VectorIndex.centroidSample]] (cap =
    * `VectorIndex.MaxCentroids`) so the inline queries, the persisted
    * index builder, and every shared DuckDB oracle select the identical
    * centroid set at every scale.
    */
  private def centroidPick(e: DataFrame, mod: Int): DataFrame =
    graft.operators.VectorIndex.centroidSample(e, mod, 3)

  /** Brute-force cosine top-k: a fixed-N query batch against every vector,
    * ranked per query with a per-partition top-k (window over the query
    * partition). The exact baseline the ANN variants are measured against;
    * O(N·corpus) by construction (see [[probeIds]]). The normalized corpus
    * is cached for the query/neighbor sides and released once the (tiny)
    * top-k result is materialized.
    */
  def simTopkBruteforce(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val e = normalized(spark, dir).cache()
    val q = e.join(broadcast(probeIds(e)), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("nv").as("q"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("nv").as("v"))
    val scored = q.join(n, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("q"), col("v")), 4).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val result = scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
    materializeAndRelease(result, e)
  }

  /** Memoized brute-force ground truth for the recall family: the four
    * recall queries ([[simLshRecall]], [[simIvfRecall]],
    * [[simTruncatedRecall]], [[simQuantizedRecall]]) each measure a
    * different approximation against the SAME exact top-5, and recomputing
    * the O(N·corpus) all-pairs scan per query spent ~18 s of the round-9
    * bench on redundant ground truth. The result is a driver-local frame of
    * ~5·ProbeN rows ([[materializeAndRelease]] collects it), so memoizing
    * holds kilobytes, not cluster blocks. The bench keeps the fresh cost
    * visible through its own `sim_topk_bruteforce` entry, which always
    * recomputes.
    */
  private def bruteforceTopk(spark: SparkSession, dir: String): DataFrame =
    DirMemo.getOrCompute("sim_bruteforce", spark, dir)(
      simTopkBruteforce(spark, dir))

  /** md5-seeded hyperplane component: plane `p`, dimension `i` maps to a
    * uniform value in [-1, 1) derived from the first 8 hex chars of
    * `md5("lshp_<p>_<i>")`. Engine-neutral pseudo-randomness (the
    * [[simhashMd5Fps]] trick applied to plane generation): DuckDB computes
    * the identical component as
    * `('0x' || substr(md5(...), 1, 8))::BIGINT / 2147483648.0 - 1.0`
    * — division by 2^31 is exact in IEEE double, so both engines hold the
    * same plane bit-for-bit and the whole LSH index becomes
    * oracle-reproducible.
    */
  private def md5PlaneComponent(p: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"lshp_${p}_${i}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) / 2147483648.0 - 1.0
  }

  /** LSH-bucketed ANN: 6 deterministic md5-seeded hyperplanes -> 6-bit sign
    * bucket per vector; queries MULTI-PROBE every bucket within Hamming
    * radius 2 of their own (22 of 64 buckets), which lifts recall on this
    * near-uniform data from 4% (single probe — top-neighbor angles here are
    * ~60 deg, the adversarial case for hyperplane LSH) while still skipping
    * two thirds of the candidates; real embedding corpora with tight
    * neighbor angles get high recall at radius 0-1. At 100 TB the bucket
    * key is the shuffle key and each bucket is an independent task.
    * The planes derive from md5 ([[md5PlaneComponent]]) and the sign test
    * runs on the ROUNDED projection, so the index, the candidates, and the
    * ranking are all DuckDB-reproducible — the approximate operator is
    * fully oracle-checked, with its quality measured by [[simLshRecall]].
    */
  def simTopkLsh(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val planes: Seq[Seq[Double]] =
      Seq.tabulate(6)(p => Seq.tabulate(64)(i => md5PlaneComponent(p, i)))
    def bucket(v: Column): Column =
      planes.zipWithIndex.map { case (p, i) =>
        val plane = array(p.map(lit): _*)
        // rounded projection: both engines compare the identical 4-decimal
        // value, so a sign flip needs a true value change, not an fp ulp
        when(round(vecDot(v, plane), 4) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))

    val e = normalized(spark, dir)
      .select(col("vec_id"), col("nv"), bucket(col("nv")).as("bkt"))
      .cache()
    // multi-probe: every bucket within Hamming radius 2 of the query's own
    // (the query side explodes to 22 probe keys; neighbors stay put)
    val probeMasks: Seq[Long] =
      Seq(0L) ++
      (0 until 6).map(i => 1L << i) ++
      (for { i <- 0 until 6; j <- i + 1 until 6 } yield (1L << i) | (1L << j))
    val q = e.join(broadcast(probeIds(e)), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("nv").as("qv"),
        explode(array(probeMasks.map(m => col("bkt").bitwiseXOR(lit(m))): _*))
          .as("bkt"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("nv").as("nvv"), col("bkt"))
    val scored = q.join(n, Seq("bkt")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("qv"), col("nvv")), 4).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val result = scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
    materializeAndRelease(result, e)
  }

  /** IVF-bucketed ANN: an inverted-file index with deterministic centroids
    * (every 100th vector), each vector assigned to its nearest centroid,
    * queries probing their top-2 centroid buckets. The assignment cross
    * join is n x c with c = n/100 (centroids broadcast); at 100 TB the
    * bucket is the shuffle key exactly like the LSH variant, but the
    * centroids are DATA, so a DuckDB oracle reproduces the whole index
    * bit-for-bit — an oracle-checked approximate index.
    */
  def simTopkIvf(spark: SparkSession, dir: String): DataFrame = {
    // ONE normalization pass: the corpus frame feeds the assignment, the
    // probe scoring, and the query-vector lookup — cached, then released
    // once the (tiny) top-k result is materialized. The round-6 form
    // re-ran the normalize scan ≥3× (the one measured regression of that
    // round); the cache plus the carry-nv argmin below restores the r5
    // wall time while keeping the map-side-combine shuffle shape.
    val e = normalized(spark, dir).cache()
    val scored = ivfProbeScored(e)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val result = scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
    materializeAndRelease(result, e)
  }

  /** The IVF probe-scoring stage shared by [[simTopkIvf]] and
    * [[simTopkDiversified]]: centroid sample -> full-corpus top-1
    * assignment (the SHARED argmin [[graft.operators.VectorIndex.assign]],
    * also the persisted-index build path: min_by over (-csim, cent_id, nv)
    * — identical tie semantics to the ranked-window form the oracle
    * mirrors, but map-side-combined, one row per VECTOR crossing the
    * shuffle WITH its vector, so no corpus join-back) -> top-2 probe
    * buckets per query (window over the fixed-size query batch only) ->
    * bucket equi-join + exact rounded cosine. Returns one row per scored
    * candidate with the posting `bucket` retained (the diversified variant
    * keys on it; the plain top-k drops it).
    */
  private def ivfProbeScored(e: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val cents = centroidPick(e, 100)
      .select(col("vec_id").as("cent_id"), col("nv").as("cv"))
    val data = graft.operators.VectorIndex.assign(e, cents)
      .select(col("vec_id").as("neighbor_id"),
        col("bucket"), col("nv").as("nvv"))
    // the top-2 probe window only runs over the (fixed-size) query batch;
    // the query vector rides through the probe rows, so no qv join-back
    val qsims = e.join(broadcast(probeIds(e)), Seq("vec_id"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("nv"), col("cent_id"),
        round(vecDot(col("nv"), col("cv")), 4).as("csim"))
    val wProbe = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cent_id"))
    val qProbe = qsims.withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("nv").as("qv"),
        col("cent_id").as("bucket"))
    qProbe.join(data, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("bucket"),
        round(vecDot(col("qv"), col("nvv")), 4).as("sim"))
  }

  /** Cluster-diversified ANN top-k — the retrieval-side diversification a
    * RAG serving path applies so the context window isn't five copies of
    * the same boilerplate neighborhood: at most ONE result per IVF
    * cluster, then the usual top-5. Runs on the identical probe-scored
    * candidate stream as [[simTopkIvf]] ([[ivfProbeScored]]); the
    * diversification itself is one extra row_number over (query, cluster)
    * — per-query work, no new corpus pass, same 100 TB shape as the plain
    * top-k. (MMR with a tunable relevance/novelty trade is the continuous
    * generalization; the cluster cap is its deterministic, fully
    * oracle-checkable fixed point.)
    */
  def simTopkDiversified(spark: SparkSession, dir: String): DataFrame = {
    val e = normalized(spark, dir).cache()
    val scored = ivfProbeScored(e)
    // best neighbor per (query, cluster): each neighbor carries exactly one
    // top-1 assignment bucket, so this drops same-cluster runners-up
    val perCluster = Window.partitionBy("query_id", "bucket")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val diversified = scored
      .withColumn("cr", row_number().over(perCluster))
      .filter(col("cr") === 1)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val result = diversified
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("bucket").as("cluster_id"), col("sim"))
      .orderBy("query_id", "rank")
    materializeAndRelease(result, e)
  }

  /** Truncated-dimension retrieval quality — the matryoshka-embedding
    * trade, measured: top-5 recall when similarity uses only the FIRST 16
    * of 64 dimensions (re-normalized prefix) against the full-precision
    * exact top-5. Prefix truncation cuts vector bytes (and so ANN memory
    * and shuffle width) 4x; this query reports what that costs in recall,
    * entirely deterministically — both the exact and truncated rankings
    * are rounded-cosine + id tiebreaks, so the DuckDB oracle reproduces
    * the whole measurement.
    */
  def simTruncatedRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{vecDot, vecNormalize}
    // exact side is already a materialized ~5N-row local frame (the
    // brute-force query collects its own result), so only the truncated
    // ranking below does cluster work here; O(N·corpus), N fixed
    val exact = bruteforceTopk(spark, dir).select("query_id", "neighbor_id")
    val t = normalized(spark, dir)
      .select(col("vec_id"), vecNormalize(slice(col("nv"), 1, 16)).as("tv"))
      .cache()
    val q = t.join(broadcast(probeIds(t)), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("tv").as("q"))
    val n = t.select(col("vec_id").as("neighbor_id"), col("tv").as("v"))
    val scored = q.join(n, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("q"), col("v")), 4).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val approx = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id").withColumn("_hit", lit(1))
    val result = exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("exact_pairs"),
        count(col("_hit")).as("trunc_hits"))
      .select(col("exact_pairs"), col("trunc_hits"),
        round(col("trunc_hits").cast(DoubleType) / col("exact_pairs"), 4)
          .as("recall"))
    materializeAndRelease(result, t)
  }

  /** Int8-quantized retrieval quality — the second compression trade,
    * measured: top-5 recall when similarity runs over the int8-dequantized
    * vectors (same per-dimension global min/max scalar quantization as
    * [[embQuantize]], whose oracle already pins the formula) against the
    * full-precision exact top-5. 8-bit storage cuts index bytes 8x; unlike
    * prefix truncation it preserves every dimension, so recall stays near
    * 1.0 on anything but adversarial data — this query REPORTS it rather
    * than assuming it.
    */
  def simQuantizedRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{vecDot, vecNormalize}
    val exact = bruteforceTopk(spark, dir).select("query_id", "neighbor_id")
    val e = embs(spark, dir).select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("v"))
    // Per-dimension [lo, hi] as ONE aggregate pass over the intact arrays
    // (2·dims partial-combined aggregates) and dequantization as a narrow
    // per-row transform against the broadcast lo/hi arrays. The previous
    // posexplode → groupBy(pos) → join → groupBy(vec_id)+collect_list
    // rebuild shuffled n×dims component rows TWICE to reassemble vectors
    // it already had. dims=64 matches the corpus and the oracle's
    // range(1,65) hardcode; identical lo/hi and rounding → same oracle.
    val dims = 64
    val lohi = e.agg(
      array((0 until dims).map(i => min(col("v").getItem(i))): _*).as("lo"),
      array((0 until dims).map(i => max(col("v").getItem(i))): _*).as("hi"))
    val dq = e.crossJoin(broadcast(lohi))
      .select(col("vec_id"),
        transform(col("v"), (x, i) => {
          val lo = element_at(col("lo"), i + lit(1))
          val hi = element_at(col("hi"), i + lit(1))
          when(hi > lo,
            lo + round((x - lo) / (hi - lo) * 255, 0) * (hi - lo) / 255)
            .otherwise(lo)
        }).as("dv"))
    // cache the dequantized frame: the posexplode→groupBy rebuild is the
    // expensive part, and without the cache it runs once for the query
    // side and again for the neighbor side
    val t = dq.select(col("vec_id"), vecNormalize(col("dv")).as("tv")).cache()
    val q = t.join(broadcast(probeIds(t)), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("tv").as("q"))
    val n = t.select(col("vec_id").as("neighbor_id"), col("tv").as("nvv"))
    val scored = q.join(n, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("q"), col("nvv")), 4).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val approx = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id").withColumn("_hit", lit(1))
    val result = exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("exact_pairs"),
        count(col("_hit")).as("int8_hits"))
      .select(col("exact_pairs"), col("int8_hits"),
        round(col("int8_hits").cast(DoubleType) / col("exact_pairs"), 4)
          .as("recall"))
    materializeAndRelease(result, t)
  }

  /** Persisted-index twin of [[simTopkIvf]]: build the IVF index to a
    * scratch directory ([[graft.operators.VectorIndex.buildIvf]] — postings
    * partitioned by bucket), then answer the same probe batch from the
    * index files alone. Must reproduce simTopkIvf bit-for-bit (the two
    * share one oracle), proving the build-once/probe-many path returns the
    * inline path's answers while reading only the probed buckets.
    */
  def simTopkIvfIndex(spark: SparkSession, dir: String): DataFrame = {
    val (df, _, _) = simTopkIvfIndexTimed(spark, dir)
    df
  }

  /** [[simTopkIvfIndex]] with the one-time BUILD and steady-state PROBE
    * timed separately (seconds) — at 100 TB the build is amortized over
    * many probe batches, so benching their sum round-over-round hides
    * probe regressions behind build noise.
    *
    * The scratch index lives under the session's `spark.sql.warehouse.dir`
    * (a cluster-shared filesystem in real deployments — a driver-local
    * `java.io.tmpdir` path would be invisible to executors on other
    * machines) and is deleted once the probe result is materialized, so
    * repeated runs don't leak a corpus-sized directory per invocation.
    */
  def simTopkIvfIndexTimed(spark: SparkSession,
                           dir: String): (DataFrame, Double, Double) = {
    val e = normalized(spark, dir).cache()
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val idx = s"$warehouse/graft_scratch/ivf_${java.util.UUID.randomUUID()}"
    // delete in finally: a build/probe failure must not leak a corpus-sized
    // scratch directory per invocation (and the cache must be released even
    // when materializeAndRelease never runs)
    try {
      val t0 = System.nanoTime()
      graft.operators.VectorIndex.buildIvf(e, idx)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val queries = e.join(broadcast(probeIds(e)), Seq("vec_id"))
        .select(col("vec_id").as("query_id"), col("nv").as("qv"))
      val t1 = System.nanoTime()
      val result = materializeAndRelease(
        graft.operators.VectorIndex.queryIvf(spark, idx, queries), e)
      val tProbe = (System.nanoTime() - t1) / 1e9
      (result, tBuild, tProbe)
    } catch {
      case err: Throwable => e.unpersist(blocking = false); throw err
    } finally {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Recall of the LSH ANN against the exact brute-force top-5: the
    * "measure, don't guess" companion to [[simTopkLsh]] — approximate
    * operators ship with their measured quality. Both operands are
    * deterministic and md5-derivable, so the recall itself is
    * oracle-checked.
    */
  def simLshRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = bruteforceTopk(spark, dir).select("query_id", "neighbor_id")
    val approx = simTopkLsh(spark, dir).select("query_id", "neighbor_id")
      .withColumn("_hit", lit(1))
    // one pass: a left join marks hits, a single aggregate produces total,
    // hits, and recall — counting hits and total separately would execute
    // the whole brute-force subplan twice
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("exact_pairs"),
        count(col("_hit")).as("lsh_hits"))
      .select(col("exact_pairs"), col("lsh_hits"),
        round(col("lsh_hits").cast(DoubleType) / col("exact_pairs"), 4)
          .as("recall"))
  }

  /** Measured top-5 recall of the IVF index ([[simTopkIvf]], nprobe=2)
    * against exact brute force — completes the retrieval-quality matrix
    * beside the truncated / int8 / LSH recalls. Unlike the LSH variant
    * (engine-seeded hyperplanes, rows-only), BOTH operands here are
    * data-derived and oracle-reproducible, so the recall itself is
    * oracle-checked: the quality number a 100 TB deployment would use to
    * pick nprobe is itself verified.
    */
  def simIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = bruteforceTopk(spark, dir).select("query_id", "neighbor_id")
    val approx = simTopkIvf(spark, dir).select("query_id", "neighbor_id")
      .withColumn("_hit", lit(1))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("exact_pairs"),
        count(col("_hit")).as("ivf_hits"))
      .select(col("exact_pairs"), col("ivf_hits"),
        round(col("ivf_hits").cast(DoubleType) / col("exact_pairs"), 4)
          .as("recall"))
  }

  // ------------------------------------------------------------ text analysis

  /** PII scan per source: email / phone / IPv4 occurrence counts and the
    * number of documents a redaction pass would change. Patterns are
    * RE2-safe so the DuckDB oracle runs the IDENTICAL regexes — on this
    * synthetic corpus every count is exactly zero and the oracle asserts
    * exactly that; the match/redact behavior itself is unit-tested on
    * crafted text (FunctionsSpec). Scale: four codegen'd regexp passes per
    * document, one aggregate shuffle on the source key.
    */
  def textPii(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"),
        F.patternCount(col("text"), F.EmailRe).as("e"),
        F.patternCount(col("text"), F.PhoneRe).as("p"),
        F.patternCount(col("text"), F.Ipv4Re).as("i"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("e").cast(LongType).as("emails"),
        sum("p").cast(LongType).as("phones"),
        sum("i").cast(LongType).as("ipv4s"),
        count(when(col("e") + col("p") + col("i") > 0, 1)).as("docs_with_pii"))
      .orderBy("source")

  /** Token-budget corpus selection: per source, admit the highest-quality
    * documents (stopword-ratio proxy score, doc_id tiebreak) until a fixed
    * token budget fills — the mixture-construction step that turns a
    * per-source quality ranking into an actual training corpus. One
    * running-sum window per source partition. Scale note: the cumsum
    * serializes within each source partition, the known skew point when
    * one source holds billions of documents — there, replace with a
    * two-pass threshold find (score histogram to locate the admission
    * bucket, then an exact scan); the semantics below stay the contract.
    */
  def selectTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2000
    val toks = F.tokens(col("text"))
    val scored = docs(spark, dir).select(col("source"), col("doc_id"),
      size(toks).as("ntok"),
      round(F.stopwordCount(toks).cast(DoubleType) / size(toks), 6).as("score"))
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.withColumn("cum", sum("ntok").over(w))
      .filter(col("cum") <= budget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"),
        sum("ntok").cast(LongType).as("tokens_selected"),
        min("score").as("score_cutoff"))
      .orderBy("source")
  }

  /** The 100 TB SCALE PATH for [[selectTokenBudget]], exactly equivalent
    * by construction (and sharing its DuckDB oracle verbatim): the
    * admission cumsum serializes one window per source — the documented
    * skew point when one source holds billions of documents — so this
    * variant locates the admission threshold with a SCORE HISTOGRAM
    * first. Scores bucket at k/256 boundaries (multiplying a double by
    * 256 is exact — an exponent shift — so floor(score*256) is
    * bit-deterministic in both engines); per-(source, bucket) token
    * totals (map-side partials, ~256 rows per source) and a tiny window
    * over the bucket frame classify every bucket as fully-admitted,
    * fully-rejected, or THE threshold bucket; only the threshold bucket's
    * documents pay the per-doc cumsum. Bucket order respects score order,
    * so the admitted set is IDENTICAL to the global cumsum's — the
    * equivalence the shared oracle checks. The serial window thus runs
    * over corpus/256 documents in expectation; a pathological
    * single-bucket score distribution degrades gracefully to the exact
    * path (re-split with a finer histogram if that ever matters).
    */
  def selectTokenBudgetHist(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2000
    val toks = F.tokens(col("text"))
    val scored = docs(spark, dir).select(col("source"), col("doc_id"),
        size(toks).as("ntok"),
        round(F.stopwordCount(toks).cast(DoubleType) / size(toks), 6)
          .as("score"))
      .filter(col("ntok") > 0)
      .withColumn("b",
        least(floor(col("score") * 256), lit(255.0)).cast(LongType))
      .cache()
    val wB = Window.partitionBy("source").orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = scored.groupBy("source", "b")
      .agg(sum("ntok").as("btok"))
      .withColumn("cum_higher", coalesce(sum("btok").over(wB), lit(0L)))
    val fullB = buckets.filter(col("cum_higher") + col("btok") <= budget)
      .select("source", "b")
    val threshB = buckets.filter(col("cum_higher") < budget &&
        col("cum_higher") + col("btok") > budget)
      .select(col("source"), col("b"), col("cum_higher"))
    val wIn = Window.partitionBy("source")
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val admitted = scored.join(fullB, Seq("source", "b"), "left_semi")
      .select("source", "ntok", "score")
      .unionByName(scored.join(threshB, Seq("source", "b"))
        .withColumn("cum_in", sum("ntok").over(wIn))
        .filter(col("cum_higher") + col("cum_in") <= budget)
        .select("source", "ntok", "score"))
    val result = admitted.groupBy("source")
      .agg(count(lit(1)).as("n_selected"),
        sum("ntok").cast(LongType).as("tokens_selected"),
        min("score").as("score_cutoff"))
      .orderBy("source")
    materializeAndRelease(result, scored)
  }

  /** Quality scoring per source: length, stopword ratio, punctuation ratio. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), length(col("text")).as("len"),
        (F.stopwordCount(F.tokens(col("text"))).cast(DoubleType) /
          size(F.tokens(col("text")))).as("stop_ratio"),
        (F.punctCount(col("text")).cast(DoubleType) / length(col("text")))
          .as("punct_ratio"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("len"), 2).as("avg_len"),
        round(avg("stop_ratio"), 4).as("avg_stop_ratio"),
        round(avg("punct_ratio"), 4).as("avg_punct_ratio"))
      .orderBy("source")

  /** Unigram-logprob quality score — the SQL-expressible analogue of the
    * KenLM-perplexity filter (CCNet-style): score every document by the
    * mean log10 probability of its tokens under the corpus's own unigram
    * distribution; unusually-worded documents rank lowest and are the
    * filter's drop candidates.
    *
    * Plan: ONE explode, immediately collapsed to (doc_id, token, k) with
    * map-side partial counts — that aggregate is the only corpus-sized
    * shuffle, and both downstream consumers (the vocabulary count and the
    * per-doc join) read it through a ReusedExchange, so the corpus is
    * tokenized exactly once. The token-count join is an equi-join whose
    * build side is the DISTINCT vocabulary (tiny vs the corpus; broadcast
    * when under threshold, AQE skew-join above it — Zipf heads are exactly
    * what skew splitting is for). The grand-total row broadcasts. The
    * occurrence-weighted mean Σk·log10(c/n) / Σk equals avg over raw
    * occurrences, without materializing them twice. Never pairwise, never
    * a driver collect.
    */
  def qualityUnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docTok = docs(spark, dir)
      .select(col("doc_id"), explode(F.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("k"))
    val counts = docTok.groupBy("token").agg(sum("k").as("c"))
    val total = counts.agg(sum("c").cast(DoubleType).as("n"))
    docTok.join(counts, "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum("k").as("n_tokens"),
        round(sum(col("k") * log10(col("c") / col("n"))) / sum("k"), 4)
          .as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Per-source KL divergence to the corpus token distribution — the
    * mixture-design diagnostic: how atypically is each source worded? High
    * KL sources dominate a trained model's distribution shift, low KL
    * sources are redundant with the pool. KL(s ‖ corpus) =
    * Σ_t p_s(t)·log10(p_s(t)/p(t)).
    *
    * Scale: ONE corpus-size shuffle (the (source, token) count — map-side
    * combined); everything after runs over that vocabulary-sized table
    * (cached, three consumers), so sources × vocab bounds the rest.
    */
  def sourceKlDivergence(spark: SparkSession, dir: String): DataFrame = {
    val st = docs(spark, dir)
      .select(col("source"), explode(F.tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c")).cache()
    val s = st.groupBy("source").agg(sum("c").as("ns"))
    val ct = st.groupBy("token").agg(sum("c").as("c_all"))
    val tot = st.agg(sum("c").cast(DoubleType).as("n"))
    val res = st.join(s, "source").join(ct, "token")
      .crossJoin(broadcast(tot))
      .groupBy(col("source"), col("ns"))
      .agg(round(sum((col("c") / col("ns")) *
        log10((col("c") / col("ns")) / (col("c_all") / col("n")))), 4)
        .as("kl_to_corpus"))
      .select(col("source"), col("ns").cast(LongType).as("n_tokens"),
        col("kl_to_corpus"))
      .orderBy("source")
    materializeAndRelease(res, st)
  }

  /** Zipf-fit of the corpus vocabulary: least-squares slope (and R²) of
    * log10(frequency) against log10(rank). Natural corpora sit near slope
    * ≈ −1; a flat slope flags synthetic/templated text, a cliff flags
    * boilerplate domination — a cheap whole-corpus health probe.
    *
    * Scale: token counting is the only corpus-size pass; the ranking
    * window sorts the VOCABULARY (≪ corpus — the small derived table).
    * The no-partition window is single-task over that table; for an
    * extreme vocabulary switch to a range-partitioned two-pass rank.
    */
  def textZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(explode(F.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    // vocabulary-sized global window → distributed two-pass rank (no
    // single-partition vocabulary sort). The tiebreak is a STRING, so the
    // h60 proxy leads the tie order and doubles as the bucketing minor
    // (RankOps scaladoc recipe): the Zipf tail's count=1 class — half the
    // vocabulary — splits across buckets instead of one local sort.
    // Ranks within an equal-count class permute vs the (c, token) order,
    // which the regression cannot see: its (log10 c, log10 rank) pair
    // multiset is permutation-invariant inside a tie class
    val ranked = graft.operators.RankOps.withGlobalRank(
      counts.withColumn("_tp", h60(col("token"))),
      negate(col("c")), Seq(col("_tp"), col("token")), "rank",
      minor = Some(col("_tp")))
    ranked.agg(
      count(lit(1)).as("n_vocab"),
      round(regr_slope(log10(col("c")), log10(col("rank"))), 4).as("zipf_slope"),
      round(regr_r2(log10(col("c")), log10(col("rank"))), 4).as("zipf_r2"))
  }

  /** Language-ID heuristic vs the labeled lang column. */
  def textLangid(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"),
        F.langId(col("text"), F.tokens(col("text"))).as("predicted"))
      .groupBy("predicted")
      .agg(count(lit(1)).as("n"),
        count(when(col("predicted") === col("lang"), 1)).as("n_correct"))
      .orderBy("predicted")

  /** Token-count statistics per language: whitespace words plus a BPE-ish
    * subword proxy (letter runs / digit runs / single punctuation marks —
    * the pre-tokenization split BPE vocabularies start from).
    */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"),
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"),
        regexp_count(col("text"), lit(F.SubwordPattern)).cast(LongType)
          .as("n_subwords"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 2).as("avg_tokens"),
        sum("n_subwords").as("total_subwords"))
      .orderBy("lang")

  /** Per-document content fingerprint (min-md5 over 3-gram shingles). */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), F.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Corpus curation capstone: the composed training-data pipeline —
    * token-count quality gate -> exact dedup (keep lowest doc_id per
    * content hash) -> MinHash-LSH near-dedup (drop the higher doc_id of
    * every verified near-dup pair) -> corpus statistics. Each stage is the
    * operator verified individually above; this query pins that they
    * compose. One narrow map + two id-shuffles + a band join: the plan a
    * 100 TB curation run would use.
    */
  def curateCorpus(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{jaccardIds, minhashSig, shingleIds}
    import org.apache.spark.sql.expressions.Window

    // stage 1: quality gate (token-count band)
    val quality = docs(spark, dir)
      .select(col("doc_id"), col("text"),
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") >= 30 && col("n_tokens") <= 200)

    // stage 2: exact dedup — keep the lowest doc_id per content hash. A
    // hash AGGREGATION, not a sort window: partial aggregation combines
    // duplicates map-side before the shuffle (a boilerplate-heavy corpus
    // shuffles one row per distinct text per partition, not every row), and
    // no per-partition sort of full documents. text/n_tokens are constant
    // within a hash group, so first() is deterministic by value.
    val exactKept = quality
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"),
        first("text").as("text"), first("n_tokens").as("n_tokens"))
      .drop("h")

    // stage 3: MinHash-LSH near-dedup over the survivors — drop the higher
    // doc_id of every verified (jaccard >= 0.2) candidate pair. Shingle id
    // arrays ride along INTO the band self-join, so verification is a
    // filter on the join output: no distinct-pairs shuffle and no join-back
    // to fetch the arrays. A pair colliding in several bands re-checks a
    // cheap merge-scan Jaccard instead of paying a dedup shuffle; the loser
    // set is identical. The skew cap (drop bands > 1000 docs — degenerate
    // boilerplate buckets would go quadratic) is a window count over the
    // band partitioning, which the self-join then REUSES: one exchange
    // feeds both.
    val withIds = exactKept
      .select(col("doc_id"), col("n_tokens"),
        shingleIds(col("text"), 2).as("ids"))
      .withColumn("sig", minhashSig(col("ids"), 16))
      .cache()
    val banded = withIds.select(col("doc_id"), col("ids"),
      explode(F.bandKeys(col("sig"), 8, 2)).as("band"))
    val nearDupLosers = prunedBandPairs(banded, Seq("ids"))
      .filter(jaccardIds(col("ids_a"), col("ids_b")) >= 0.2)
      .select(col("doc_b").as("doc_id")).distinct()
    val kept = withIds.join(nearDupLosers, Seq("doc_id"), "left_anti")

    materializeAndRelease(
      kept.agg(
        count(lit(1)).as("kept_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 2).as("avg_tokens")),
      withIds)
  }

  /** Product path of the curation chain: the KEPT documents themselves,
    * not just the stats — what `graft.run.Main --corpus` publishes to the
    * warehouse. Same three stages and thresholds as [[curateCorpus]]
    * (token-band quality gate -> exact dedup keeping the lowest doc_id ->
    * MinHash-LSH near-dedup dropping the higher doc_id of every verified
    * pair); kept as a separate plan because the stats twin prunes `text`
    * out of its cache while this one must carry the full document to the
    * writer. The cache feeds the band self-join and the final anti-join
    * (two consumers); the caller owns the write action, so release is via
    * session teardown (CLI) — at 100 TB this frame is the job's output
    * scan, written once, not a long-lived cache.
    */
  def curatedDocs(spark: SparkSession, dir: String): DataFrame =
    curatedDocsWithIds(spark, dir)
      .select("doc_id", "text", "lang", "source", "n_tokens")

  /** [[curatedDocs]] with the batch's shingle ids and minhash signature
    * still attached (`ids`, `sig`): the incremental fallback reuses them
    * for its cross-corpus near-dup tier, so the batch is shingled exactly
    * once per release whichever path runs.
    */
  private def curatedDocsWithIds(spark: SparkSession,
                                 dir: String): DataFrame =
    curatedFrameWithIds(docs(spark, dir))

  /** Frame-based curation surface for callers whose documents do not come
    * from an sf dir (the streaming corpus release feeds micro-batches).
    * `onCache` receives every frame the curation pipeline caches
    * internally, so a LONG-LIVED caller (the streaming release loop —
    * one curation per micro-batch, session never torn down) can
    * unpersist them once its release materializes; dir-based query
    * callers keep the default no-op (released at session teardown).
    */
  private[graft] def curatedFrame(docsDf: DataFrame,
      onCache: DataFrame => Unit = _ => ()): DataFrame =
    curatedFrameWithIds(docsDf, onCache)
      .select("doc_id", "text", "lang", "source", "n_tokens")

  private[graft] def curatedFrameWithIds(docsDf: DataFrame,
      onCache: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = docsDf.sparkSession
    import graft.functions.VectorFunctions.{jaccardIds, minhashSig, shingleIds}
    val quality = docsDf
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") >= 30 && col("n_tokens") <= 200)
    // text/n_tokens are constant within a hash group (first() safe); lang
    // and source are NOT — exact dups across sources exist (that is what
    // sourceOverlap measures), so the kept row's metadata must come from
    // the kept doc_id: min_by pins it deterministically (first() could
    // publish a chimera row and flip etl_row_hash between releases,
    // breaking the re-release-is-noop merge contract)
    val exactKept = quality
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"), first("text").as("text"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("source"), col("doc_id")).as("source"),
        first("n_tokens").as("n_tokens"))
      .drop("h")
    val withIds = exactKept
      .withColumn("ids", shingleIds(col("text"), 2))
      .withColumn("sig", minhashSig(col("ids"), 16))
      .cache()
    onCache(withIds)
    val banded = withIds.select(col("doc_id"), col("ids"),
      explode(F.bandKeys(col("sig"), 8, 2)).as("band"))
    val losers = prunedBandPairs(banded, Seq("ids"))
      .filter(jaccardIds(col("ids_a"), col("ids_b")) >= 0.2)
      .select(col("doc_b").as("doc_id")).distinct()
    withIds.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Incremental curation against an existing released corpus: curate the
    * incoming directory ([[curatedDocs]] — the within-batch stages), then
    * drop every batch document that exact- or near-duplicates something
    * ALREADY in the corpus. Exact tier is a content-hash anti-join; the
    * near-dup tier pre-filters the corpus side with a broadcast semi-join
    * on the batch's band keys, so only corpus rows colliding with the
    * (small) batch ever shuffle, then applies the standard 1000-doc band
    * cap before the verify Jaccard — O(batch + collisions), the
    * [[dedupIncremental]] shape as a product path. At persisted-index
    * maturity the corpus band projection would come from a stored band
    * table (the [[graft.operators.VectorIndex]] pattern) instead of a
    * recompute; that changes the constant, not the shape.
    */
  def curatedDocsIncremental(spark: SparkSession, dir: String,
                             corpus: DataFrame): DataFrame =
    curatedFrameIncremental(docs(spark, dir), corpus)

  private[graft] def curatedFrameIncremental(batchDocs: DataFrame,
      corpus: DataFrame, onCache: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = batchDocs.sparkSession
    import graft.functions.VectorFunctions.{jaccardIds, minhashSig, shingleIds}
    // ids/sig arrive precomputed from the batch-internal dedup pass — ONE
    // shingle projection per plan branch (previously the batch was
    // re-shingled from scratch on top of curatedDocs' own pass); the
    // exact tier only filters rows, so they ride through the anti-join.
    // Deliberately uncached (the novelDocs convention): a lazy return
    // must not pin a cache the caller cannot release, so the 2-3 consumer
    // branches each recompute the cheap narrow projection
    val batch = curatedFrameWithIds(batchDocs, onCache)
    val bIds = batch.withColumn("h", md5(col("text")))
      .join(corpus.select(md5(col("text")).as("h")), Seq("h"), "left_anti")
      .drop("h")
    val bBand = bIds.select(col("doc_id"), col("ids"),
      explode(F.bandKeys(col("sig"), 8, 2)).as("band"))
    val batchBands = bBand.select("band").distinct()
    val cBand = corpus
      .withColumn("ids", shingleIds(col("text"), 2))
      .withColumn("sig", minhashSig(col("ids"), 16))
      .select(col("ids").as("ids_c"),
        explode(F.bandKeys(col("sig"), 8, 2)).as("band"))
      .join(broadcast(batchBands), Seq("band"), "left_semi")
      .withColumn("_bc", count(lit(1)).over(Window.partitionBy("band")))
      .filter(col("_bc") <= 1000).drop("_bc")
    val losers = bBand.join(cBand, Seq("band"))
      .filter(jaccardIds(col("ids"), col("ids_c")) >= 0.2)
      .select("doc_id").distinct()
    bIds.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "text", "lang", "source", "n_tokens")
  }

  /** Persisted-index incremental dedup, end to end: split the corpus
    * 80/20 by id hash, BUILD the [[graft.operators.MinhashIndex]] over the
    * 80 (hashes + band postings persisted once), then probe the 20 as the
    * incoming batch — exact tier via the stored content hashes, near-dup
    * tier via the band-partition-pruned postings. This is the query twin
    * of the `--corpus` maintenance path and the structural fix for the
    * frame-based incremental's O(corpus) re-shingling: the corpus-side
    * per-doc work happens once at build, probes pay O(batch + collisions).
    * Same md5-derived band scheme as the MinHash family, so the whole
    * index path is DuckDB-reproducible. Scratch index lives under the
    * session warehouse dir and is deleted after materialization (the
    * [[simTopkIvfIndexTimed]] convention); build and probe are timed
    * separately for the bench.
    */
  def dedupIndexNovel(spark: SparkSession, dir: String): DataFrame = {
    val (df, _, _) = dedupIndexNovelTimed(spark, dir)
    df
  }

  def dedupIndexNovelTimed(spark: SparkSession,
                           dir: String): (DataFrame, Double, Double) = {
    val bucket = h60(col("doc_id").cast(StringType)) % 100
    val d = docs(spark, dir)
      .select(col("doc_id"), col("text"), (bucket < 80).as("is_corpus"))
      .cache()
    val corpus = d.filter(col("is_corpus")).select("doc_id", "text")
    val batch = d.filter(!col("is_corpus")).select("doc_id", "text")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val idx = s"$warehouse/graft_scratch/mh_${java.util.UUID.randomUUID()}"
    try {
      val t0 = System.nanoTime()
      graft.operators.MinhashIndex.build(corpus, idx)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val novel = graft.operators.MinhashIndex.novelDocs(spark, batch, idx)
      val result = materializeAndRelease(
        corpus.agg(count(lit(1)).as("n_corpus"))
          .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
          .crossJoin(novel.agg(count(lit(1)).as("n_novel")))
          .select(col("n_corpus"), col("n_batch"), col("n_novel"),
            (col("n_batch") - col("n_novel")).as("n_dup_dropped")),
        d)
      val tProbe = (System.nanoTime() - t1) / 1e9
      (result, tBuild, tProbe)
    } catch {
      case err: Throwable => d.unpersist(blocking = false); throw err
    } finally {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  // -------------------------------------------- corpus management operators

  /** Portable 60-bit hash of a string column: md5 is bit-identical across
    * Spark and DuckDB, and 15 hex digits fit a non-negative BIGINT on both
    * sides — the repo's standard oracle-checkable hashing idiom.
    */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Deterministic train/val/test split: a content-independent hash of the
    * document id buckets every row reproducibly (80/10/10) with no shuffle,
    * no RNG state, and no coordination — the split survives reruns,
    * repartitioning, and incremental arrivals, which sampled or positional
    * splits do not. One narrow map + a 3-group aggregate at any scale.
    */
  def splitTrainVal(spark: SparkSession, dir: String): DataFrame = {
    val bucket = h60(col("doc_id").cast(StringType)) % 100
    docs(spark, dir)
      .select(
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"),
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 2).as("avg_tokens"))
      .orderBy("split")
  }

  /** Stratified deterministic sampling: an exact-rate hash sample (1 in 10,
    * salted so it decorrelates from the split hash) reported per stratum.
    * Being a pure filter it composes with any downstream pipeline and needs
    * no per-stratum state; rates converge per-source by hash uniformity.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val sampled = h60(concat(lit("sample:"), col("doc_id").cast(StringType))) % 10 === 7
    docs(spark, dir)
      .select(col("source"), sampled.as("s"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("s"), 1)).as("n_sampled"),
        round(count(when(col("s"), 1)).cast(DoubleType) / count(lit(1)), 4)
          .as("sample_rate"))
      .orderBy("source")
  }

  /** Fixed-size deterministic sample: exactly 10 documents per language,
    * chosen by hash rank (salted md5 order, doc_id tie-break) — the
    * reproducible replacement for reservoir sampling when the sample must
    * be re-derivable from the data alone. The rank window partitions by
    * language over a uniformly-hashed order, so no stratum concentrates;
    * at corpus scale the window input can be pre-pruned by an approximate
    * per-stratum hash-threshold filter before the exact rank.
    */
  def sampleFixedN(spark: SparkSession, dir: String): DataFrame = {
    val hv = h60(concat(lit("fixed:"), col("doc_id").cast(StringType)))
    val w = Window.partitionBy("lang").orderBy(col("hv"), col("doc_id"))
    docs(spark, dir)
      .select(col("lang"), col("doc_id"), hv.as("hv"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"),
        sum("doc_id").as("sum_doc_ids"))
      .orderBy("lang")
  }

  /** Incremental ingest dedup: treat `src0` documents as the EXISTING corpus
    * and every other source as the newly crawled batch; a new document is
    * dropped when its exact content hash OR any 5-gram fingerprint matches
    * the existing corpus (the hash probe catches exact re-crawls, the
    * n-gram semi-join catches near-copies). Both probes are semi-joins on
    * fine-grained keys — the continuous-pipeline pattern where each
    * incoming batch checks against an ever-growing corpus without ever
    * joining documents pairwise.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.shingleIds
    // cached: the hash + 5-gram projection feeds FIVE subplans (both sides
    // of both semi-joins plus the size counts) — uncached, the shingle
    // extraction would re-run over the full corpus for each
    val d = docs(spark, dir).select(col("doc_id"), col("source"),
      md5(col("text")).as("h"), shingleIds(col("text"), 5).as("ids"))
      .cache()
    val existing = d.filter(col("source") === "src0")
    val batch = d.filter(col("source") =!= "src0")
    val exactDups = batch.join(
      existing.select("h").distinct(), Seq("h"), "left_semi")
      .select("doc_id")
    val nearDups = batch.select(col("doc_id"), explode(col("ids")).as("id"))
      .join(existing.select(explode(col("ids")).as("id")).distinct(),
        Seq("id"), "left_semi")
      .select("doc_id").distinct()
    val dropped = exactDups.union(nearDups).distinct()
    materializeAndRelease(
      batch.agg(count(lit(1)).as("n_batch"))
        .crossJoin(existing.agg(count(lit(1)).as("n_existing")))
        .crossJoin(dropped.agg(count(lit(1)).as("n_dropped")))
        .select(col("n_batch"), col("n_existing"), col("n_dropped"),
          round(col("n_dropped").cast(DoubleType) / col("n_batch"), 4)
            .as("drop_rate")),
      d)
  }

  /** Corpus-wide top-k n-grams by document frequency (distinct bigrams per
    * doc -> explode -> count): the n-gram statistics a contamination /
    * boilerplate scan runs. Partial aggregation collapses counts before the
    * shuffle; only k rows reach the driver.
    */
  def textNgrams(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(explode(graft.functions.VectorFunctions
        .shingleStrings(col("text"), 2)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ngram"))
      .limit(20)
  }

  /** Oracle-checkable SimHash: 60-bit fingerprints from md5 token hashes
    * (bit-identical in DuckDB, unlike the fused xxhash64 [[dedupSimhash]],
    * which stays as the fast engine-internal variant). Per-token bit votes
    * aggregate map-side into 60 counters per doc — one narrow pass + one
    * small shuffle; the consecutive-id pairing keeps the verification
    * linear.
    */
  /** Per-doc 60-bit md5 SimHash fingerprints (doc_id, fp) via the fused
    * [[graft.functions.SimhashMd5]] expression — one narrow map, no
    * explode, no 60-column vote aggregation (the relational formulation it
    * replaces shuffled one row per TOKEN; per-doc integer vote sums are
    * order-free, so the fused loop is bit-identical and the DuckDB oracles
    * keep the explode+votes form).
    */
  private def simhashMd5Fps(d: DataFrame): DataFrame = {
    // null-text docs must VANISH from the fingerprint frame (the explode
    // formulation this replaces produced zero rows for them) — without the
    // filter a null fp row would survive into the pairings
    d.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhashMd5(col("text")).as("fp"))
  }

  def dedupSimhashMd5(spark: SparkSession, dir: String): DataFrame = {
    val fps = simhashMd5Fps(docs(spark, dir))
    val a = fps.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val b = fps.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    a.join(b, col("doc_a") + 1 === col("doc_b"))
      .select(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast(LongType).as("d"))
      .agg(count(lit(1)).as("pairs"),
        count(when(col("d") <= 8, 1)).as("within_8"),
        count(when(col("d") <= 16, 1)).as("within_16"),
        min("d").as("min_hamming"))
  }

  /** Banded SimHash near-dup at scale: the 60-bit fingerprint split into
    * 4 x 15-bit band keys; docs sharing ANY band bucket-join into candidate
    * pairs, verified by exact Hamming distance <= 15. By pigeonhole every
    * pair within Hamming 15 of the FULL fingerprint collides in >= 1 of
    * twice as many bands — with 4 bands the guarantee covers distance <= 3,
    * and band collisions recall most of the rest; this is the scale path
    * (bucket key = shuffle key, work scales with collisions, not n^2) made
    * fully oracle-checkable by the md5 basis, and therefore the REGISTERED
    * DEFAULT `dedup_simhash` ([[dedupSimhash]] is its brute `_verify`
    * twin). Same skew cap as the MinHash LSH band join.
    */
  def dedupSimhashBanded(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = simhashMd5Fps(docs(spark, dir))
    val bandKeys = array((0 until 4).map(b =>
      lit(b.toLong * 32768L) + shiftright(col("fp"), b * 15).bitwiseAND(lit(0x7fffL))): _*)
    val banded = fps.select(col("doc_id"), col("fp"), explode(bandKeys).as("band"))
    val pairs = prunedBandPairs(banded, Seq("fp"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast(LongType).as("d"))
      .distinct()
    pairs.agg(
      count(lit(1)).as("candidate_pairs"),
      count(when(col("d") <= 15, 1)).as("near_pairs"),
      min("d").as("min_hamming"))
  }

  /** Duplicate-cluster extraction: connected components over the verified
    * near-dup pair graph (same md5 MinHash-LSH basis as
    * [[dedupMinhashLsh]]), via distributed min-label propagation — each
    * round every vertex takes the min label among itself and its neighbors,
    * converging to the component's min doc_id in O(diameter) rounds.
    * Near-dup components are small cliques (diameter 1-2), so this is 2-3
    * tiny joins; no driver-side union-find, no GraphFrames dependency. A
    * real dedup keeps one representative per CLUSTER (pairwise drops
    * over-delete chains) — this is the operator that makes that correct.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = sharedClusterLabels(spark, dir)
    labels.groupBy("label").agg(count(lit(1)).as("sz"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum("sz").as("docs_in_clusters"),
        max("sz").as("max_cluster_size"))
  }

  /** Cluster-size histogram over the same near-dup components: how many
    * clusters of each size exist — the shape a dedup policy keys off
    * (pairs vs boilerplate families need different keep-one strategies).
    * Size-keyed aggregation over the <= n_docs label frame; everything
    * upstream is shared with [[dupClusters]].
    */
  def dupClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val labels = sharedClusterLabels(spark, dir)
    labels.groupBy("label").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")
  }

  /** Compute-once memo of the propagated label frame per (session, dir):
    * [[dupClusters]] and [[dupClusterSizes]] are two small rollups over ONE
    * label frame, but each recomputed the edge join + propagation from
    * scratch — 5.3 s combined in the round-8 bench for a shared 5-line
    * difference. The label frame is localCheckpoint-materialized by the
    * propagation loop (and tiny: only docs with >= 1 near-dup edge), so
    * holding it per dir is cheap; see [[DirMemo]] for the session-keying
    * and eviction contract. The bench times the propagation itself through
    * [[dupClusterLabelsFresh]] as its own `dup_cluster_labels` entry, so
    * the graph work stays visible round-over-round.
    */
  private def sharedClusterLabels(spark: SparkSession, dir: String): DataFrame =
    DirMemo.getOrCompute("dup_labels", spark, dir)(freshLabels(spark, dir))

  /** Force a fresh propagation (replacing the memo): the bench's
    * `dup_cluster_labels` entry, so the graph work stays visible
    * round-over-round instead of hiding inside whichever rollup ran first.
    */
  private[graft] def dupClusterLabelsFresh(
      spark: SparkSession, dir: String): DataFrame =
    DirMemo.putFresh("dup_labels", spark, dir, freshLabels(spark, dir))

  private def freshLabels(spark: SparkSession, dir: String): DataFrame = {
    val (labels, edges) = dupClusterLabels(spark, dir)
    // labels is eagerly checkpointed by the propagation loop; the edge
    // cache only existed to keep the iterative joins cheap
    edges.unpersist()
    labels
  }

  /** Top-5 duplicate clusters as a REVIEW QUEUE (the dup-cluster analogue
    * of [[contaminationTopdocs]] and q3's dup-grain examples): largest
    * clusters first, with member count and the sorted distinct sources the
    * cluster spans — cross-source clusters are usually syndication or
    * mirror sites, single-source ones template boilerplate, and that
    * distinction drives which dedup policy applies. Label-keyed
    * aggregation over the shared memoized label frame; top-5 is a
    * TakeOrdered, never a global sort.
    */
  def dupClusterExamples(spark: SparkSession, dir: String): DataFrame = {
    val labels = sharedClusterLabels(spark, dir)
    val d = docs(spark, dir).select(col("doc_id"), col("source"))
    labels.join(d, labels("id") === d("doc_id"))
      .groupBy(col("label").as("cluster_label"))
      .agg(count(lit(1)).as("cluster_size"),
        countDistinct(col("source")).as("n_sources"),
        concat_ws(",", sort_array(collect_set(col("source")))).as("sources"))
      .orderBy(col("cluster_size").desc, col("cluster_label"))
      .limit(5)
  }

  /** Cluster-aware representative selection — the operator that makes dup
    * clustering ACTIONABLE: within every near-dup cluster
    * ([[sharedClusterLabels]], memoized), keep exactly one document by the
    * keep-longest policy (most tokens, doc_id tiebreak — the standard
    * keep-best heuristic when no quality model is trusted; swapping in a
    * model score changes one ORDER BY). Pairwise dedup drops over-delete
    * chains (A~B, B~C, drop B and C loses content C had and B lacked);
    * cluster-keyed selection is the correct form. Scale: labels frame is
    * edge-only docs (small), the token-count join is doc-keyed, and the
    * per-cluster ranking windows over clusters of bounded size.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = sharedClusterLabels(spark, dir)
    val toks = docs(spark, dir).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("nt"))
    val member = labels.join(toks, labels("id") === toks("doc_id"))
      .select(col("label"), col("doc_id"), col("nt"))
    val w = Window.partitionBy("label").orderBy(col("nt").desc, col("doc_id"))
    member.withColumn("rn", row_number().over(w))
      .agg(
        countDistinct(col("label")).as("n_clusters"),
        count(lit(1)).as("docs_in_clusters"),
        count(when(col("rn") > 1, 1)).as("docs_dropped"),
        round(avg(when(col("rn") === 1, col("nt").cast(DoubleType))), 2)
          .as("avg_kept_tokens"),
        round(avg(when(col("rn") > 1, col("nt").cast(DoubleType))), 2)
          .as("avg_dropped_tokens"))
  }

  /** MinHash-banded candidate edges -> Jaccard-verified -> min-label
    * propagation to convergence: the (labels, cached edges) pair behind
    * [[dupClusters]] / [[dupClusterSizes]]. Callers release the edge cache
    * once their rollup materializes.
    */
  private[graft] def dupClusterLabels(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.functions.VectorFunctions.{jaccardIds, minhashSig, shingleIds}

    val withIds = docs(spark, dir).select(col("doc_id"),
        shingleIds(col("text"), 2).as("ids"))
      .withColumn("sig", minhashSig(col("ids"), 16))
    val banded = withIds.select(col("doc_id"), col("ids"),
      explode(F.bandKeys(col("sig"), 8, 2)).as("band"))
    val edges = prunedBandPairs(banded, Seq("ids"))
      .filter(jaccardIds(col("ids_a"), col("ids_b")) >= 0.2)
      .select("doc_a", "doc_b").distinct()
      .cache()

    val bi = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = bi.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var converged = false
    var rounds = 0
    val maxRounds = 64 // propagation needs O(diameter) rounds; near-dup
    // components are tiny cliques, so 64 is far past any sane graph — but a
    // pathological chain MUST fail loudly, not return silently-wrong counts
    while (!converged && rounds < maxRounds) {
      val nbrMin = bi.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min("label").as("nbr"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
          (coalesce(col("nbr"), col("label")) < col("label")).as("chg"))
        // truncate lineage: iterative plans otherwise grow. EAGER on
        // purpose — measured: lazy checkpoint + a count probe ran the cold
        // query 2.5x slower than eager + the cheap take(1) convergence
        // probe below.
        .localCheckpoint()
      converged = next.filter(col("chg")).isEmpty
      labels = next.drop("chg")
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dup_clusters: label propagation did not converge in $maxRounds " +
          "rounds (component diameter exceeds the bound)")

    (labels, edges)
  }

  /** Per-language salient terms (tf-idf family): term frequency per language
    * weighted by inverse document frequency, top-3 per language. The idf is
    * the RAW ratio n_docs/df (no log): IEEE division is identically rounded
    * in every engine, while libm `ln` differs in final ulps — this keeps the
    * oracle bit-exact. Two aggregations (tf keyed on (lang, term), df keyed
    * on term) and a term-keyed join: every shuffle key is fine-grained, so
    * the plan is skew-safe at corpus scale; top-3 is a bounded per-lang
    * window.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
    val nDocs = d.count() // tiny action; at scale pass the known count in
    // ONE corpus-sized shuffle: the explode collapses straight to
    // (lang, doc_id, term, k) with map-side partial counts, and both tf
    // (Σk per lang+term) and df (row count per term — each doc_id has
    // exactly one lang, so these rows ARE the distinct (doc, term) pairs)
    // reduce that same aggregate through a ReusedExchange, replacing the
    // old separate corpus-wide distinct() pass.
    val docTerm = d.select(col("lang"), col("doc_id"),
        explode(F.tokens(col("text"))).as("term"))
      .groupBy("lang", "doc_id", "term").agg(count(lit(1)).as("k"))
    val tf = docTerm.groupBy("lang", "term").agg(sum("k").as("tf"))
    val df = docTerm.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .select(col("lang"), col("term"),
        round(col("tf").cast(DoubleType) * lit(nDocs.toDouble) / col("df"), 4)
          .as("score"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select("lang", "rank", "term", "score")
      .orderBy("lang", "rank")
  }

  /** Dynamic quality gate: keep documents whose token count lies between the
    * corpus's own p10 and p90 — the self-calibrating version of the fixed
    * band in [[curateCorpus]]. The two scalar quantiles broadcast (a cross
    * join against a 1-row frame); Spark's exact `percentile` matches
    * DuckDB's quantile_cont definition.
    */
  def qualityGateDynamic(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass: per-doc token counts collapse to a value→frequency
    // histogram (distinct lengths ≪ documents at any corpus size), and
    // BOTH the quantile bounds (percentile's frequency overload — the
    // same repeat-each-value definition as quantile_cont over raw rows)
    // and the kept-band rollup (Σcnt, Σn·cnt) reduce that histogram
    // through a shared exchange. The previous shape re-tokenized the
    // whole corpus on each side of the quantile broadcast.
    val hist = docs(spark, dir).select(
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    val bounds = hist.agg(
      expr("percentile(n_tokens, 0.1D, cnt)").as("p10"),
      expr("percentile(n_tokens, 0.9D, cnt)").as("p90"))
    hist.crossJoin(broadcast(bounds))
      .filter(col("n_tokens") >= col("p10") && col("n_tokens") <= col("p90"))
      .agg(sum("cnt").as("n_kept"),
        sum(col("n_tokens") * col("cnt")).as("total_tokens"),
        round(sum(col("n_tokens") * col("cnt")).cast(DoubleType) /
          sum("cnt"), 4).as("avg_tokens"))
  }

  /** Repetition-based quality signals (the Gopher-rule family, word-level
    * because this corpus has no line structure): per document the type/token
    * ratio, the most-frequent-token fraction, and the most-frequent-bigram
    * fraction, rolled up per language with a flag count for documents
    * outside the healthy band (ttr < 0.35 or top-token fraction > 0.14 —
    * boilerplate/keyword-stuffing symptoms).
    *
    * Plan shape: token and bigram counts are (doc_id, gram)-keyed
    * aggregations — fine-grained shuffle keys with map-side partial counts,
    * the scalable alternative to per-row interpreted HOF mode-finding. One
    * token explode yields every unigram stat (total, distinct, top) in a
    * single aggregation chain; only the bigram frame joins back, on
    * doc_id — two scans total, not three.
    */
  def qualityRepetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("lang"), F.tokens(col("text")).as("toks"))
    // one token explode yields ALL unigram stats: n_tokens = sum of counts,
    // n_distinct = number of count rows, top = max — no separate base scan
    val uni = toks.select(col("doc_id"), col("lang"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "lang")
      .agg(max("c").as("top_token"), count(lit(1)).as("n_distinct"),
        sum("c").as("n_tokens"))
    // non-distinct bigrams (F.shingles dedups — wrong for repetition counts)
    val topBi = toks
      .select(col("doc_id"), explode(F.shinglesAll(col("toks"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram"))
    val perDoc = uni
      .join(topBi, Seq("doc_id"), "left")
      .select(col("lang"),
        (col("n_distinct").cast(DoubleType) / col("n_tokens")).as("ttr"),
        (col("top_token").cast(DoubleType) / col("n_tokens")).as("topf"),
        (coalesce(col("top_bigram"), lit(0L)).cast(DoubleType) /
          greatest(col("n_tokens") - 1, lit(1L))).as("topbf"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("ttr"), 4).as("avg_ttr"),
        round(avg("topf"), 4).as("avg_top_token_frac"),
        round(avg("topbf"), 4).as("avg_top_bigram_frac"),
        count(when(col("ttr") < 0.35 || col("topf") > 0.14, 1))
          .as("n_flagged"))
      .orderBy("lang")
  }

  /** Sequence packing (concat-and-chunk): documents are concatenated in
    * doc_id order within a shard and cut into fixed 256-token training
    * sequences; reports per-shard sequence counts, boundary-crossing
    * documents, and fill ratio. Sharding IS the scale design: packing is
    * inherently sequential, so production packers shard the corpus and pack
    * shards independently — each shard's running sum is one window over its
    * own partition (a single exchange on shard, no global order).
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val L = 256
    val t = docs(spark, dir)
      .select(col("doc_id"),
        size(F.tokens(col("text"))).cast(LongType).as("n"))
      .withColumn("shard", pmod(col("doc_id"), lit(8)).cast(LongType))
    val w = Window.partitionBy("shard").orderBy("doc_id")
    val cum = t.withColumn("cum", sum("n").over(w))
      .withColumn("crosses",
        (floor((col("cum") - col("n")) / L) =!= floor((col("cum") - 1) / L))
          .cast(LongType))
    cum.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("total_tokens"),
        floor((max("cum") + L - 1) / L).cast(LongType).as("n_sequences"),
        sum("crosses").as("n_boundary_docs"))
      .withColumn("fill_ratio",
        round(col("total_tokens").cast(DoubleType) /
          (col("n_sequences") * L), 4))
      .orderBy("shard")
  }

  /** Vocabulary coverage: build the top-16 corpus vocabulary by term
    * frequency (deterministic count-desc/term tie-break) and report each
    * language's out-of-vocabulary token rate. The global rank runs AFTER
    * the term-frequency aggregation — a window over |distinct terms| rows,
    * not |tokens| (the groupBy's partial aggregation has already collapsed
    * the corpus), and the vocabulary then broadcasts back so the coverage
    * pass is shuffle-free on the token side.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val V = 16
    val toks = docs(spark, dir)
      .select(col("lang"), explode(F.tokens(col("text"))).as("w"))
    // top-V pick is orderBy+limit = TakeOrderedAndProject (per-partition
    // top-V, tiny merge) — not a global row_number window, which would
    // single-partition-sort the whole vocabulary (the text_pmi idiom)
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(V)
      .select(col("w"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_in_vocab"))
      .select(col("lang"), col("n_tokens"),
        round(lit(1.0) - col("n_in_vocab").cast(DoubleType) / col("n_tokens"), 4)
          .as("oov_rate"))
      .orderBy("lang")
  }

  /** Near-superset detection via shingle containment |A∩B| / min(|A|,|B|):
    * catches a short document embedded in a longer one, which symmetric
    * Jaccard under-scores. Candidates come from the SAME banded-MinHash join
    * as [[dedupMinhashLsh]] (one LSH pass serves every near-dup family);
    * the containment check is an exact set intersection on the candidate
    * pairs only. Documented bias: containment pairs with low Jaccard can
    * miss band collision — the recall/cost trade every LSH screen makes.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{intersectIds, minhashSig, shingleIds}
    val withIds = docs(spark, dir).select(col("doc_id"),
        shingleIds(col("text"), 2).as("ids"))
      .withColumn("sig", minhashSig(col("ids"), 16))
      .cache()
    val banded = withIds.select(col("doc_id"), col("ids"),
      explode(F.bandKeys(col("sig"), 8, 2)).as("band"))
    // intersect_size_ids: merge scan over the sorted id arrays —
    // array_intersect would build a hash set per candidate pair
    val pairs = prunedBandPairs(banded, Seq("ids"))
      .select(col("doc_a"), col("doc_b"),
        round(intersectIds(col("ids_a"), col("ids_b")).cast(DoubleType) /
          least(size(col("ids_a")), size(col("ids_b"))).cast(DoubleType), 4)
          .as("containment"))
      .distinct() // containment is pair-determined; multi-band dups collapse
      .filter(col("containment") >= 0.5)
    materializeAndRelease(
      pairs.agg(count(lit(1)).as("n_pairs"),
        round(avg("containment"), 4).as("avg_containment"),
        round(max("containment"), 4).as("max_containment")),
      withIds)
  }

  /** Quality-ranked selection: the top-3 documents per language by lexical
    * diversity (distinct-token ratio, doc_id tie-break) — the "keep the
    * best N per stratum" curation step. Per-doc scoring is one
    * fine-grained aggregation; the rank window partitions by language, so
    * no partition ever holds more than one language's docs.
    */
  def selectBestPerLang(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .select(col("doc_id"), col("lang"), F.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        round(size(array_distinct(col("toks"))).cast(DoubleType) /
          size(col("toks")), 4).as("score"))
    val w = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select("lang", "rank", "doc_id", "score")
      .orderBy("lang", "rank")
  }

  /** Int8 scalar quantization of the embedding table with reconstruction
    * error: per-dimension global min/max (a 64-key aggregation over the
    * position-exploded vectors — map-side partial min/max makes this one
    * tiny shuffle), quantize each component to 0..255, and report the mean
    * squared reconstruction error. The per-dim ranges broadcast back to the
    * quantization pass, so vector rows are touched exactly twice and never
    * shuffled whole.
    */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val byDim = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
    val comps = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .join(broadcast(byDim), Seq("pos"))
    val err = comps.select(col("x"), col("lo"),
        (col("hi") - col("lo")).as("range"))
      .select(col("x"),
        when(col("range") > 0,
          col("lo") + round((col("x") - col("lo")) / col("range") * 255, 0) *
            col("range") / 255)
          .otherwise(col("lo")).as("dq"))
      .select(((col("x") - col("dq")) * (col("x") - col("dq"))).as("se"),
        abs(col("x") - col("dq")).as("ae"))
    err.agg(count(lit(1)).as("n_components"),
      round(avg("se") * 1e6, 4).as("mse_x1e6"),
      round(max("ae") * 1e3, 4).as("max_abs_err_x1e3"))
  }

  /** One Lloyd iteration of k-means over the embedding table with
    * deterministic seeding (every 50th vector), then the post-update
    * assignment and per-cluster inertia. The two assignment passes are
    * broadcast cross joins against the (tiny) centroid set with distances
    * via the codegen'd [[graft.functions.VecDot]] in the expanded
    * |a|²+|c|²-2a·c form; the centroid update is the same position-exploded
    * fine-grained aggregation as [[embCentroids]]. Rounding pins the
    * cross-engine float story: distances at 4 before argmin, centroid
    * components at 6 before reuse, inertia at 2.
    */
  def embKmeans(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val e = embs(spark, dir).select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .withColumn("vv", vecDot(col("v"), col("v")))
      .cache()
    val c0 = e.filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("vv").as("cvv"))
    def assign(cents: DataFrame): DataFrame = kmeansAssign(e, cents)
    val a1 = assign(c0)
    // join the n-row assignment to the cached vectors FIRST, then
    // posexplode: the shuffle moves n rows, not the n*dim exploded
    // components (explode-then-join would shuffle every scalar)
    val upd = a1.select("vec_id", "cent_id")
      .join(e.select("vec_id", "v"), Seq("vec_id"))
      .select(col("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cent_id", "pos").agg(round(avg("x"), 6).as("c"))
    val c1 = upd.groupBy("cent_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))
      .withColumn("cvv", vecDot(col("cv"), col("cv")))
    val a2 = assign(c1)
    materializeAndRelease(
      a2.groupBy(col("cent_id").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"), round(sum("dist2"), 2).as("inertia"))
        .orderBy("cluster"),
      e)
  }

  /** k-means assignment pass: nearest centroid per vector. Argmin as
    * min(struct(dist2, cent_id)): lexicographic struct ordering IS the
    * (distance, id-tie-break) argmin, and the aggregation combines
    * map-side — n rows shuffle, not n·k, and no per-vector sort (a window
    * row_number would sort every vector's k candidates). Exposed for the
    * plan regression test; inputs carry (vec_id, v, vv) / (cent_id, cv, cvv).
    */
  private[graft] def kmeansAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        round(col("vv") + col("cvv") -
          lit(2.0) * vecDot(col("v"), col("cv")), 4).as("dist2"),
        col("cent_id"))
      // pack (dist2, cent_id) into ONE long so the argmin stays a primitive
      // codegen HashAggregate min — a struct-typed min falls back to
      // SortAggregate, sorting every partition by vec_id. dist2 is already
      // quantized at 1e-4 so 30-bit fixed-point packing is lossless for
      // dist2 < ~107374; distances past that clamp and compare equal-far,
      // so when the WINNING distance equals the clamp the argmin is no
      // longer the true nearest centroid (all candidates tied at the
      // ceiling, min falls to the lowest cent_id) — that case fails loudly
      // below instead of silently diverging from the oracle's row_number.
      // Float jitter below 0 clamps to 0. Centroid ids MUST fit 32 bits —
      // out-of-range ids fail loudly instead of bleeding into the distance
      // bits.
      .select(col("vec_id"),
        shiftleft(
          greatest(least(round(col("dist2") * 10000, 0).cast(LongType),
            lit((1L << 30) - 1)), lit(0L)), 32)
          .bitwiseOR(when(col("cent_id").between(0L, 0xFFFFFFFFL), col("cent_id"))
            .otherwise(raise_error(concat(
              lit("kmeansAssign: cent_id outside 32-bit pack range: "),
              col("cent_id").cast(StringType))))).as("packed"))
      .groupBy("vec_id").agg(min("packed").as("m"))
      .select(col("vec_id"),
        col("m").bitwiseAND(lit(0xFFFFFFFFL)).as("cent_id"),
        when(shiftright(col("m"), 32) === lit((1L << 30) - 1),
          raise_error(concat(
            lit("kmeansAssign: all centroid distances hit the fixed-point " +
              "clamp (dist2 >= ~107374) for vec_id "),
            col("vec_id").cast(StringType),
            lit("; argmin undefined — widen the packing scale"))))
          .otherwise(shiftright(col("m"), 32).cast(DoubleType) / 10000.0)
          .as("dist2"))
  }

  /** Train/eval contamination scan: an eval document is contaminated when it
    * shares ANY 5-gram with ANY train document (the n-gram-overlap decontam
    * check run before every eval). Composition of the deterministic hash
    * split with [[graft.functions.ShingleIds]]: one explode to (doc, 5-gram
    * id), a df-capped train-side id set, and a LEFT SEMI join on the id —
    * the shuffle key is the shingle id, so the check scales with corpus
    * size, never pairwise. md5-based ids keep the DuckDB oracle bit-exact.
    *
    * HEAVY-GRAM GUARD: grams appearing in more than `cap` train documents
    * (stopword-like boilerplate) are excluded from the evidence set — the
    * standard contamination-index move. They are non-discriminative (they
    * flag everything) AND at real-corpus skew they concentrate one shuffle
    * key with millions of rows; dropping them bounds per-key fan-out by
    * cap. The default (10000) never triggers on the testdata, the DuckDB
    * oracle mirrors the identical HAVING cap, and the excluded-gram count
    * ships as the `n_heavy_grams` column so the trade is visible in every
    * result row.
    */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame =
    contaminationCheckCapped(spark, dir, 10000)

  private[graft] def contaminationCheckCapped(spark: SparkSession,
                                              dir: String,
                                              cap: Int,
                                              gramN: Int = 5): DataFrame = {
    import graft.functions.VectorFunctions.shingleIds
    val split = when(h60(col("doc_id").cast(StringType)) % 100 < 80, "train")
      .otherwise("eval")
    // cached: the n-gram projection feeds the train-df set, the eval
    // explode, and the eval count — three subplans that would each re-run
    // the shingle extraction over the whole corpus
    val d = docs(spark, dir)
      .select(col("doc_id"), split.as("split"),
        shingleIds(col("text"), gramN).as("ids"))
      .cache()
    val exploded = d.select(col("doc_id"), col("split"),
      explode(col("ids")).as("id"))
    // per-gram train document frequency: shingleIds dedups within a doc,
    // so the row count per id IS the df. The groupBy both dedups the
    // semi-join build side and carries the cap.
    val trainDf = exploded.filter(col("split") === "train")
      .groupBy("id").agg(count(lit(1)).as("df"))
      .cache()
    val trainIds = trainDf.filter(col("df") <= cap).select("id")
    val evalDocs = d.filter(col("split") === "eval")
    val contaminated = exploded.filter(col("split") === "eval")
      .join(trainIds, Seq("id"), "left_semi")
      .select("doc_id").distinct()
    materializeAndRelease(
      evalDocs.agg(count(lit(1)).as("n_eval"))
        .crossJoin(trainDf.agg(
          count(when(col("df") > cap, 1)).as("n_heavy_grams")))
        .crossJoin(contaminated.agg(count(lit(1)).as("n_contaminated")))
        .select(col("n_eval"), col("n_heavy_grams"), col("n_contaminated"),
          round(col("n_contaminated").cast(DoubleType) / col("n_eval"), 4)
            .as("contamination_rate")),
      d, trainDf)
  }

  /** Per-label embedding centroids: position-explode -> (label, pos) mean ->
    * per-label centroid norm. The explode shuffles n·d scalar rows with
    * map-side partial means — the standard distributed dense-centroid plan
    * (k-means assignment step, class prototypes); no vector ever needs to
    * fit per-key in one task. Double math throughout; rounded for
    * cross-engine float stability.
    */
  def embCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("label"),
      col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val byDim = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(avg("x").as("c"))
    val norms = byDim.groupBy("label")
      .agg(count(lit(1)).cast(LongType).as("dim"),
        round(sqrt(sum(col("c") * col("c"))), 4).as("centroid_norm"))
    val counts = e.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    norms.join(counts, Seq("label"))
      .select(col("label").cast(LongType).as("label"), col("n_vecs"),
        col("dim"), col("centroid_norm"))
      .orderBy("label")
  }

  // ------------------------------------------------------------- multimodal

  /** Multimodal feature extraction through the real mapPartitions plumbing
    * ([[Multimodal.extractFeatures]] with the stubbed decoder), rolled up to
    * SQL-checkable metadata (byte lengths / frame counts are reproducible
    * from the text payloads).
    */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.extractFeatures(
      Multimodal.documentsAsMedia(docs(spark, dir)))
    feats.toDF()
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_records"),
        sum("byte_len").as("total_bytes"),
        sum("n_frames").as("total_frames"))
      .orderBy("media_type")
  }

  /** The full multimodal chain — decode (stub) -> frame-sample (every 3rd)
    * -> resize (max 4 frames by group-mean) -> per-type rollup — through the
    * REAL Spark plumbing ([[Multimodal]] mapPartitions Datasets). All three
    * stages fuse into one partition pass (typed maps over the same
    * iterator, no shuffle until the final aggregation), which is exactly
    * the 100 TB media-lake shape: payload bytes are touched once per
    * record, and only tiny per-record stats reach the exchange. The stub
    * decode is deterministic from the payload bytes, so the DuckDB oracle
    * replays the whole chain bit-for-bit.
    */
  def multimodalPipeline(spark: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.extractFeatures(
      Multimodal.documentsAsMedia(docs(spark, dir)))
    val resized = Multimodal.resizeFrames(Multimodal.frameSample(feats, 3), 4)
    resized.toDF()
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_records"),
        sum("byte_len").as("total_bytes"),
        sum("n_frames").as("total_resized_frames"),
        round(sum(aggregate(col("frame_means"), lit(0.0d), _ + _)), 2)
          .as("sum_resized_means"))
      .orderBy("media_type")
  }

  /** Quality-filter attrition funnel: survivor/dropped counts per stage of
    * a composed cleaning pipeline (length band -> lexical diversity ->
    * bigram repetition), cumulative in order — the observability table a
    * corpus-cleaning run publishes so each rule's bite is visible before
    * committing the filtered corpus. All per-doc signals come from ONE
    * token explode + one bigram explode ((doc, gram)-keyed aggregations,
    * map-side partials); the funnel itself is a single conditional
    * aggregate over the per-doc frame, so adding a stage costs one more
    * `count(when(...))`, not another corpus pass.
    */
  def qualityFunnel(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), F.tokens(col("text")).as("toks"))
    val uni = toks.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"))
    val bi = toks
      .select(col("doc_id"), explode(F.shinglesAll(col("toks"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram"))
    val perDoc = uni.join(bi, Seq("doc_id"), "left")
      .select(col("n_tokens"),
        (col("n_distinct").cast(DoubleType) / col("n_tokens")).as("ttr"),
        (coalesce(col("top_bigram"), lit(0L)).cast(DoubleType) /
          greatest(col("n_tokens") - 1, lit(1L))).as("topbf"))
    val f1 = col("n_tokens") >= 30 && col("n_tokens") <= 200
    val f2 = col("ttr") >= 0.35
    val f3 = col("topbf") <= 0.2
    perDoc.agg(
        count(lit(1)).as("n0"),
        count(when(f1, 1)).as("n1"),
        count(when(f1 && f2, 1)).as("n2"),
        count(when(f1 && f2 && f3, 1)).as("n3"))
      .select(expr(
        "stack(4, 0L, 'all', n0, n0 - n0, " +
          "1L, 'length_band', n1, n0 - n1, " +
          "2L, 'lexical_diversity', n2, n1 - n2, " +
          "3L, 'bigram_repetition', n3, n2 - n3) " +
          "AS (stage, filter_name, survivors, dropped)"))
      .orderBy("stage")
  }

  /** Cross-source overlap matrix: shared distinct 5-gram fingerprints per
    * source pair with containment vs the smaller side — the corpus
    * provenance diagnostic (which crawls duplicate each other, whether a
    * "new" source adds anything). The self-join key is the gram id, so
    * per-gram fan-out is bounded by the source count (tiny), never
    * pairwise over documents; pair counts aggregate map-side.
    *
    * HEAVY-GRAM GUARD: grams in more than `cap` documents corpus-wide are
    * dropped before the distinct/join — a stopword-like gram carries no
    * provenance signal (every source shares it) and at real-corpus skew
    * its id concentrates one shuffle key with millions of rows. The
    * default (10000) never triggers on the testdata; the oracle mirrors
    * the identical df filter, and the guard's behavior is pinned by a
    * property test at cap=1 (every cross-doc gram dropped -> empty
    * overlap matrix).
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapCapped(spark, dir, 10000)

  private[graft] def sourceOverlapCapped(spark: SparkSession, dir: String,
                                         cap: Int): DataFrame = {
    import graft.functions.VectorFunctions.shingleIds
    // (source, id) per DOCUMENT (shingleIds dedups within a doc), so the
    // per-id row count is corpus document frequency; cached because it
    // feeds the df cap and the distinct (source, gram) frame
    val ex = docs(spark, dir)
      .select(col("source"), explode(shingleIds(col("text"), 5)).as("id"))
      .cache()
    val kept = ex.groupBy("id").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("id")
    // cached: the distinct (source, gram) frame feeds the per-source sizes
    // and both sides of the pair join
    val grams = ex.join(kept, Seq("id"), "left_semi").distinct().cache()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("sz"))
    val common = grams.select(col("source").as("src_a"), col("id"))
      .join(grams.select(col("source").as("src_b"), col("id")), Seq("id"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("common_grams"))
    val result = common
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("sz").as("sz_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("sz").as("sz_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("common_grams"),
        round(col("common_grams").cast(DoubleType) /
          least(col("sz_a"), col("sz_b")), 4).as("containment"))
      .orderBy(col("containment").desc, col("src_a"), col("src_b"))
      .limit(10)
    materializeAndRelease(result, ex, grams)
  }

  /** Duplicated-span scan: distinct 10-token spans appearing in MORE than
    * one document — the screening pass of exact-substring deduplication
    * (the suffix-array method finds maximal repeated substrings; fixed
    * 10-gram fingerprints catch every repetition of length >= 10 tokens at
    * a fraction of the cost, which is how a 100 TB corpus gets screened
    * before any exact pass). One explode + a (span-id)-keyed count with
    * map-side partials; per-doc spans are already distinct (shingle_ids
    * dedups within the doc), so the count IS document frequency.
    */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.shingleIds
    val df = docs(spark, dir)
      .select(explode(shingleIds(col("text"), 10)).as("id"))
      .groupBy("id").agg(count(lit(1)).as("df"))
    df.agg(
      count(lit(1)).as("distinct_spans"),
      count(when(col("df") > 1, 1)).as("duplicated_spans"),
      max("df").as("max_span_df"),
      round(count(when(col("df") > 1, 1)).cast(DoubleType) / count(lit(1)), 4)
        .as("dup_rate"))
  }

  /** Duplicated-span COVERAGE: merge each document's duplicated 10-gram
    * spans into maximal covered regions and report what fraction of its
    * tokens sits inside cross-document repeated content — the
    * exact-substring-dedup measurement (the Lee et al. "Deduplicating
    * Training Data" shape: [[dedupSpans]] screens WHICH spans repeat; this
    * operator says HOW MUCH of each document those repeats cover, which is
    * the removal decision's actual input). A span is duplicated iff its
    * 10-gram id occurs in MORE than one document (within-doc repetition is
    * [[qualityRepetition]]'s job); covered positions are the interval
    * union of [pos, pos+9] over a doc's duplicated spans, computed as one
    * running-max window pass (per-row contribution = interval end minus
    * the larger of running max end / own start, clamped at 0 — exact union
    * size, no interval materialization).
    *
    * Scale: one positional explode (linear), a distinct-doc df count on
    * the span id (map-side partials, the dedupSpans key), a semi-join on
    * the id, and ONE window exchange on doc_id. Nothing pairwise; md5 ids
    * keep the DuckDB oracle bit-exact.
    */
  def dedupSpanCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("source"), col("doc_id"),
        split(trim(col("text")), "\\s+").as("w"))
      .withColumn("n_tokens", size(col("w")).cast(LongType))
    // (doc, pos, id) per 10-gram span; same id basis as dedupSpans
    val spans = d.select(col("source"), col("doc_id"), col("n_tokens"),
        posexplode(expr(
          "transform(sequence(1, greatest(size(w) - 9, 0)), " +
            "i -> concat_ws(' ', slice(w, i, 10)))")).as(Seq("p0", "s")))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        (col("p0") + 1).cast(LongType).as("pos"),
        (h60(col("s")) % 2147483647L).as("id"))
      .cache()
    val dupIds = spans.groupBy("id")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > 1).select("id")
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = spans.join(dupIds, Seq("id"), "left_semi")
      .withColumn("prev_end", coalesce(max(col("pos") + 9).over(w), lit(0L)))
      .withColumn("c", greatest(
        col("pos") + 9 - greatest(col("prev_end"), col("pos") - 1), lit(0L)))
      .groupBy("source", "doc_id", "n_tokens")
      .agg(sum("c").as("covered"))
    val totals = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
    val result = totals.join(
        perDoc.groupBy("source").agg(
          count(lit(1)).as("docs_with_dup_spans"),
          sum("covered").as("covered_tokens")),
        Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("docs_with_dup_spans"), lit(0L)).as("docs_with_dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        col("total_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast(DoubleType) /
          col("total_tokens"), 4).as("coverage_frac"))
      .orderBy("source")
    materializeAndRelease(result, spans)
  }

  /** Robust WINNOWING fingerprints (the MOSS algorithm, Schleimer et al.
    * 2003): slide a window of 4 consecutive 5-gram hashes over each
    * document and keep each window's MINIMUM — the fingerprint set every
    * plagiarism/near-dup detector with a guarantee uses, because any
    * shared run of at least w + k - 1 = 8 tokens is PROVABLY caught by at
    * least one shared fingerprint, while storing only ~2/(w+1) of the
    * k-gram hashes. Reported per source: fingerprint density (the ~0.4
    * theoretical rate is the sanity check) and how many documents share a
    * fingerprint with any other document — the recall-guaranteed candidate
    * set a full near-dup pass would verify.
    *
    * Scale: one positional explode, ONE window exchange on doc_id for the
    * sliding min (rows [-3, 0]), a distinct on (doc, fp), and a value-keyed
    * df count — all linear, nothing pairwise; md5-derived ids keep the
    * DuckDB oracle bit-exact with the identical window.
    */
  def textWinnow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("source"), col("doc_id"),
        split(trim(col("text")), "\\s+").as("w"))
    val grams = d.select(col("source"), col("doc_id"),
        posexplode(expr(
          "transform(sequence(1, greatest(size(w) - 4, 0)), " +
            "i -> concat_ws(' ', slice(w, i, 5)))")).as(Seq("p0", "s")))
      .select(col("source"), col("doc_id"),
        (col("p0") + 1).cast(LongType).as("pos"),
        (h60(col("s")) % 2147483647L).as("id"))
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    // full windows only (pos >= 4): each selects the min of 4 hashes
    val fps = grams
      .withColumn("fp", min("id").over(win))
      .filter(col("pos") >= 4)
      .select(col("source"), col("doc_id"), col("fp"))
      .distinct()
      .cache()
    val gramCounts = grams.groupBy("source").agg(
      count(lit(1)).as("n_kgrams"))
    val fpDf = fps.groupBy("fp").agg(countDistinct(col("doc_id")).as("df"))
    val shared = fps.join(fpDf.filter(col("df") > 1).select("fp"),
        Seq("fp"), "left_semi")
      .select("source", "doc_id").distinct()
      .groupBy("source").agg(count(lit(1)).as("docs_with_shared_fp"))
    val result = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(gramCounts, Seq("source"))
      .join(fps.groupBy("source").agg(count(lit(1)).as("n_fingerprints")),
        Seq("source"), "left")
      .join(shared, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"),
        round(coalesce(col("n_fingerprints"), lit(0L)).cast(DoubleType) /
          col("n_kgrams"), 4).as("fp_density"),
        coalesce(col("docs_with_shared_fp"), lit(0L))
          .as("docs_with_shared_fp"))
      .orderBy("source")
    materializeAndRelease(result, fps)
  }

  /** Per-document n-gram NOVELTY in ingestion order (doc_id as the
    * arrival proxy): a 5-gram belongs to the document that saw it first,
    * and a doc's novelty is the fraction of its distinct 5-grams it owns.
    * The instrument behind dedup-priority decisions — low-novelty
    * documents are boilerplate arriving after their content already
    * exists, exactly what ordering-aware dedup keeps last in line — and
    * the corpus-level memorization-pressure gauge (avg novelty falling
    * round-over-round means the stream is re-crawling itself). Docs with
    * fewer than 5 tokens have no 5-grams and drop out on both sides by
    * construction. Scale: one explode to distinct (doc, gram-id), a
    * gram-keyed min aggregate (map-side partials), a gram-keyed join-back,
    * a doc-keyed rollup — fine-grained keys throughout, nothing pairwise.
    */
  def textNovelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.shingleIds
    // cached: the exploded gram frame feeds both the first-owner aggregate
    // and the join-back probe side
    val d = docs(spark, dir)
      .select(col("doc_id"), explode(shingleIds(col("text"), 5)).as("id"))
      .cache()
    val firstOwner = d.groupBy("id").agg(min("doc_id").as("first_doc"))
    val perDoc = d.join(firstOwner, Seq("id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("novel"))
      .withColumn("novelty",
        col("novel").cast(DoubleType) / col("n_grams"))
    val result = perDoc.agg(
      count(lit(1)).as("n_docs"),
      round(avg("novelty"), 4).as("avg_novelty"),
      count(when(col("novelty") < 0.5, 1)).as("docs_low_novelty"),
      round(min("novelty"), 4).as("min_novelty"))
    materializeAndRelease(result, d)
  }

  /** Paragraph-level dedup with per-document attrition — the
    * CCNet/Dolma-style operator that dedups at sub-document granularity
    * and DROPS documents that are mostly duplicated content. The synthetic
    * corpus has no newline structure, so "paragraph" here is a
    * non-overlapping 16-token chunk; on a real corpus the splitter swaps
    * for `split(text, "\n\n")` with no change to the plan shape. A chunk
    * instance is duplicated iff its md5 occurs more than once in the
    * corpus; per-doc attrition is the duplicated fraction of its chunks,
    * and docs past 1/2 are what a paragraph-deduper removes. Scale: one
    * explode to (doc, chunk-hash), a chunk-hash-keyed count (map-side
    * partials, 16-byte keys), a hash-keyed join-back, and a doc-keyed
    * rollup — every shuffle key is fine-grained, nothing is pairwise.
    */
  def dedupParagraphs(spark: SparkSession, dir: String): DataFrame = {
    val chunks = docs(spark, dir)
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(expr(
        // (size+15) div 16 chunks; integer `div`, slice clamps the tail
        "transform(sequence(0, int((size(w) + 15) div 16) - 1), " +
          "i -> md5(concat_ws(' ', slice(w, i * 16 + 1, 16))))")).as("h"))
      .cache()
    val counts = chunks.groupBy("h").agg(count(lit(1)).as("n"))
    val perDoc = chunks.join(counts, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nch"),
        count(when(col("n") > 1, 1)).as("dup"))
    val result = perDoc.agg(
        count(lit(1)).as("n_docs"),
        sum("nch").as("total_chunks"),
        // integer comparison (dup*2 > nch), not a float threshold
        count(when(col("dup") * 2 > col("nch"), 1)).as("docs_over_half"),
        round(avg(col("dup").cast(DoubleType) / col("nch")), 4)
          .as("avg_dup_frac"))
      .crossJoin(chunks.agg(countDistinct(col("h")).as("distinct_chunks")))
      .select(col("n_docs"), col("total_chunks"), col("distinct_chunks"),
        col("docs_over_half"), col("avg_dup_frac"))
    materializeAndRelease(result, chunks)
  }

  /** Streaming↔batch EXACT-dedup equivalence, oracle-checked — the
    * document-level sibling of [[dedupParagraphsStream]] (same
    * `Trigger.AvailableNow` replay through the genuine watermarked
    * `dropDuplicatesWithinWatermark` state): the survivor stream must hold
    * exactly one document per distinct content hash, so its row count and
    * distinct-hash count both equal the batch [[dedupExact]] n_distinct —
    * which the DuckDB oracle recomputes relationally.
    */
  def dedupExactStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast(TimestampType))
    val kept = graft.streaming.StreamingPipeline.streamingDedup(src, "1 hour")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_dedupstream_").toFile
    val q = kept.writeStream.format("parquet")
      .option("path", s"$tmp/data")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rollup = spark.read.parquet(s"$tmp/data")
      .agg(count(lit(1)).as("n_kept"),
        countDistinct(col("content_hash")).as("n_distinct"))
    val rows = rollup.collect().toSeq
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(tmp)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), rollup.schema)
  }

  /** Streaming↔batch QUALITY-MONITOR equivalence, oracle-checked: replays
    * the corpus through the real watermarked windowed
    * [[graft.streaming.StreamingPipeline.streamingQualityMonitor]]
    * (constant event time -> one window per source; Complete output so the
    * bounded replay emits it) and strips the window key. Every per-source
    * stat the monitor computes — doc counts, token totals, the
    * length/stopword gate rate — must equal DuckDB's relational
    * recomputation over the same documents, proving the monitor's MATH,
    * not just its plumbing.
    */
  def qualityMonitorStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast(TimestampType))
    val mon = graft.streaming.StreamingPipeline
      .streamingQualityMonitor(src)
    val sink = "quality_monitor_stream_sink"
    val q = mon.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val result = spark.table(sink)
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("avg_tokens"), col("quality_rate"))
      .orderBy("source")
    val rows = result.collect().toSeq
    spark.catalog.dropTempView(sink)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), result.schema)
  }

  /** Streaming↔batch paragraph-dedup EQUIVALENCE, oracle-checked: runs the
    * real [[graft.streaming.StreamingPipeline.streamingParagraphDedup]]
    * operator over the corpus with `Trigger.AvailableNow` (the standard
    * streaming-correctness trick: a bounded replay through the genuine
    * stateful plan), lands the novel-chunk stream in a parquet sink, and
    * rolls it up to (rows, distinct chunk hashes). The streaming operator
    * keeps exactly the FIRST instance of every chunk hash, so both counts
    * must equal the batch [[dedupParagraphs]] distinct-chunk cardinality —
    * which is what the DuckDB oracle recomputes relationally. Equality of
    * the two counts also proves no duplicate emission, and since every
    * emitted hash is an md5 of corpus content, cardinality match = set
    * match. Chunk→doc attribution is intentionally NOT asserted (first
    *-seen within a micro-batch is partition-order dependent); the chunk
    * SURVIVOR SET is the semantic contract.
    */
  def dedupParagraphsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    // the file source wants a directory; glob-filter to the documents
    // table only (the testdata dir holds every table side by side)
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast(TimestampType))
    val novel = graft.streaming.StreamingPipeline
      .streamingParagraphDedup(src, "1 hour")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_parastream_").toFile
    val q = novel.writeStream.format("parquet")
      .option("path", s"$tmp/data")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rollup = spark.read.parquet(s"$tmp/data")
      .agg(count(lit(1)).as("n_novel_chunks"),
        countDistinct(col("chunk_hash")).as("n_distinct_chunks"))
    // materialize the 1-row aggregate, then drop the sink + checkpoint
    val rows = rollup.collect().toSeq
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(tmp)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), rollup.schema)
  }

  /** Feature-hashed bag-of-words embedding (the hashing trick): every token
    * hashes to one of 64 dimensions with a hash-derived ±1 sign (sign bit
    * taken ABOVE the dimension bits so they decorrelate), votes sum per
    * (doc, dim), and the result is graded by per-source vector norm and
    * density — the no-vocabulary featurizer that turns raw text into the
    * engine's embedding-operator space (ANN / k-means / PCA above) with
    * O(1) memory and no trained state. Every aggregation is fine-grained
    * ((doc, dim) then doc then source) with map-side partials, and the
    * stats formulation needs no per-doc array materialization at all.
    */
  def textHashEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir).select(col("source"), col("doc_id"),
      explode(F.tokens(col("text"))).as("w"))
    val h = h60(col("w"))
    val perDim = tok.select(col("source"), col("doc_id"),
        (h % 64).as("dim"),
        (shiftright(h, 6).bitwiseAND(lit(1L)) * 2 - 1).as("sgn"))
      .groupBy("source", "doc_id", "dim").agg(sum("sgn").as("s"))
    val perDoc = perDim.groupBy("source", "doc_id")
      .agg(sqrt(sum(col("s") * col("s"))).as("nrm"),
        count(when(col("s") =!= 0, 1)).as("nz"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("nrm"), 4).as("avg_norm"),
        round(avg(col("nz").cast(DoubleType) / 64), 4).as("avg_density"))
      .orderBy("source")
  }

  /** Composed RAG retrieval chain — the end-to-end shape a
    * retrieval-augmented pipeline runs over a corpus, built entirely from
    * the engine's own operators: 64-token/48-stride chunking
    * ([[windowChunking]] geometry) -> feature-hash chunk embeddings
    * ([[textHashEmbedding]] hashing trick, 64 dims, md5-derived ±1 signs)
    * -> sparse cosine top-3 chunk retrieval for a fixed md5-ordered
    * 8-query probe batch. Everything is md5-deterministic, so the WHOLE
    * chain — chunk boundaries, embeddings, scores, ranking — is
    * oracle-checked, not just the pieces.
    *
    * Scale: the sparse dot is a dim-keyed join against the BROADCAST query
    * dims (≤ 8 x 64 rows), so each corpus chunk-dim row does O(queries)
    * work with no corpus-side shuffle beyond the (doc, chunk, dim)
    * aggregation; norms and dots group on fine-grained chunk keys. Swap
    * the probe batch for a query stream and the corpus side for the
    * persisted IVF postings and this becomes the serving path
    * ([[graft.operators.VectorIndex]]).
    */
  def ragRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs(spark, dir)
      .select(col("doc_id"), F.tokens(col("text")).as("toks"))
    val chunkTok = base
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          floor((size(col("toks")).cast(LongType) - lit(1L)) / lit(48L))
            .cast(LongType))).as("ci"),
        col("toks"))
      .select(col("doc_id"), col("ci"),
        explode(expr("slice(toks, int(ci * 48 + 1), 64)")).as("w"))
    val h = h60(col("w"))
    // sparse chunk embedding: only non-zero dims are materialized (cached:
    // feeds norms, the query side, and the corpus side of the dot)
    val dims = chunkTok
      .select(col("doc_id"), col("ci"), (h % 64).as("dim"),
        (shiftright(h, 6).bitwiseAND(lit(1L)) * 2 - 1).as("sgn"))
      .groupBy("doc_id", "ci", "dim").agg(sum("sgn").as("s"))
      .filter(col("s") =!= 0)
      .cache()
    val norms = dims.groupBy("doc_id", "ci")
      .agg(sqrt(sum(col("s") * col("s"))).as("nrm"))
      .filter(col("nrm") > 0)
    val qdocs = docs(spark, dir).select(col("doc_id"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id")).limit(8)
    val qdims = dims.filter(col("ci") === 0)
      .join(broadcast(qdocs), Seq("doc_id"))
      .select(col("doc_id").as("q_doc"), col("dim"), col("s").as("qs"))
    val qnorms = norms.filter(col("ci") === 0)
      .join(broadcast(qdocs), Seq("doc_id"))
      .select(col("doc_id").as("q_doc"), col("nrm").as("qnrm"))
    val dots = dims.join(broadcast(qdims), Seq("dim"))
      .filter(col("doc_id") =!= col("q_doc"))
      .groupBy("q_doc", "doc_id", "ci")
      .agg(sum(col("s") * col("qs")).as("dot"))
    val scored = dots
      .join(norms, Seq("doc_id", "ci"))
      .join(broadcast(qnorms), Seq("q_doc"))
      .select(col("q_doc"), col("doc_id"), col("ci"),
        round(col("dot") / (col("nrm") * col("qnrm")), 4).as("sim"))
    val w = Window.partitionBy("q_doc")
      .orderBy(col("sim").desc, col("doc_id"), col("ci"))
    val result = scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("q_doc"), col("rank"), col("doc_id").as("chunk_doc"),
        col("ci").as("chunk_idx"), col("sim"))
      .orderBy("q_doc", "rank")
    materializeAndRelease(result, dims)
  }

  // ------------------------------------- mixture / sharding / chunking ops

  /** Temperature-scaled source mixture (the GPT-3/LLaMA-style data-mixture
    * computation): per-source weight n^alpha / sum(n^alpha) with alpha=0.5,
    * and the expected per-source document count when resampling the corpus
    * to its original size under those weights. Upweights small high-quality
    * sources, downweights bulk crawl. One tiny aggregation + a broadcast of
    * the 1-row totals — O(sources) state at any corpus size.
    */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val perSource = docs(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_raw", sqrt(col("n_docs").cast(DoubleType)))
    val totals = perSource.agg(sum("n_docs").as("n_total"),
      sum("w_raw").as("w_total"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        round(col("n_docs").cast(DoubleType) / col("n_total"), 4)
          .as("raw_share"),
        round(col("w_raw") / col("w_total"), 4).as("mix_weight"),
        round(col("w_raw") / col("w_total") * col("n_total"), 1)
          .as("expected_docs"))
      .orderBy("source")
  }

  /** Deterministic output sharding: every document lands in one of 8 shards
    * by a content-independent hash of its id — the final "write the corpus
    * as N balanced shards" step of a training-data pipeline. The report
    * checks the balance (doc and token counts per shard). At scale this is
    * `repartition(n, shard)` + one partitioned write; the hash assignment
    * shuffles nothing here.
    */
  def shardAssign(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        (h60(concat(lit("shard:"), col("doc_id").cast(StringType))) % 8)
          .as("shard"),
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 2).as("avg_tokens"))
      .orderBy("shard")

  /** Tokenizer fertility per language: bytes per whitespace token and per
    * BPE-ish subword — the metric that decides tokenizer budget allocation
    * across languages. Pure per-row arithmetic into a per-language
    * aggregation.
    */
  def bytesPerToken(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"),
        octet_length(col("text")).cast(LongType).as("n_bytes"),
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"),
        regexp_count(col("text"), lit(F.SubwordPattern)).cast(LongType)
          .as("n_subwords"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bytes").as("total_bytes"),
        round(sum("n_bytes").cast(DoubleType) / sum("n_tokens"), 4)
          .as("bytes_per_token"),
        round(sum("n_bytes").cast(DoubleType) / sum("n_subwords"), 4)
          .as("bytes_per_subword"))
      .orderBy("lang")

  /** Sliding context-window chunking (size 64 tokens, stride 48): the
    * training-example windowing step. Chunk starts step by the stride while
    * inside the document; each chunk holds min(64, n - start) tokens. The
    * explode is over chunk INDICES (arithmetic, not token arrays), so the
    * shuffle payload is two longs per chunk — the token slices themselves
    * would only materialize in the final write at scale.
    */
  def windowChunking(spark: SparkSession, dir: String): DataFrame = {
    val size64 = lit(64L); val stride = lit(48L)
    val chunks = docs(spark, dir)
      .select(org.apache.spark.sql.functions.size(F.tokens(col("text")))
        .cast(LongType).as("n"))
      .select(col("n"), explode(sequence(lit(0L),
        floor((col("n") - 1L) / stride).cast(LongType))).as("i"))
      .select(least(size64, col("n") - col("i") * stride).as("chunk_len"))
    chunks.agg(
      count(lit(1)).as("total_chunks"),
      count(when(col("chunk_len") === size64, 1)).as("full_chunks"),
      round(avg(col("chunk_len").cast(DoubleType) / size64.cast(DoubleType)), 4)
        .as("avg_fill"))
  }

  /** Bigram collocation mining via pointwise mutual information (log-free):
    * score = p(w1 w2) / (p(w1) p(w2)) — the association measure behind BPE
    * merge ranking and phrase detection. Unigram and bigram counts are
    * (gram)-keyed aggregations with map-side partials; corpus totals come
    * from one narrow per-doc arithmetic aggregate (bigrams per doc =
    * tokens - 1 — no second explode). The ratio stays un-logged and every
    * operand is cast to double in a FIXED operation order, so the oracle's
    * IEEE division sequence is bit-identical (libm log would differ in
    * final ulps). Min-count 5 suppresses noise pairs exactly like phrase
    * miners do.
    */
  def textPmi(spark: SparkSession, dir: String): DataFrame = {
    // cached: totals, unigram counts, and bigram counts are three subplans
    // over the same tokenized projection — uncached, the regex tokenization
    // would run three times over the corpus
    val toks = docs(spark, dir).select(F.tokens(col("text")).as("toks")).cache()
    val totals = toks.agg(
      sum(size(col("toks"))).cast(LongType).as("n_uni"),
      sum(greatest(size(col("toks")) - 1, lit(0))).cast(LongType).as("n_bi"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = toks.select(explode(F.shinglesAll(col("toks"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 5)
      .withColumn("w1", split(col("g"), " ").getItem(0))
      .withColumn("w2", split(col("g"), " ").getItem(1))
    val scored = bi
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      // fixed double op order, mirrored verbatim in the oracle:
      // ((cab * n_uni) / (c1 * c2)) * (n_uni / n_bi)
      .select(col("g").as("bigram"), col("cab"),
        round(
          col("cab").cast(DoubleType) * col("n_uni") /
            (col("c1").cast(DoubleType) * col("c2")) *
            (col("n_uni").cast(DoubleType) / col("n_bi")), 4).as("pmi_ratio"))
    // top-15 via orderBy+limit = TakeOrderedAndProject (per-partition
    // top-k, merged on the driver) — a global row_number window would pull
    // EVERY scored bigram through one partition's sort; the rank column is
    // then a window over just the 15 survivors
    val top = scored.orderBy(col("pmi_ratio").desc, col("bigram")).limit(15)
    val w = Window.orderBy(col("pmi_ratio").desc, col("bigram"))
    materializeAndRelease(
      top.withColumn("rank", row_number().over(w).cast(LongType))
        .select("rank", "bigram", "cab", "pmi_ratio")
        .orderBy("rank"),
      toks)
  }

  /** Weight-proportional sampling without replacement via PRIORITY sampling
    * (Duffield-Lund-Thorup): priority = weight / u with u a deterministic
    * hash-uniform in (0, 1]; the top-k priorities ARE the weighted sample.
    * Chosen over Efraimidis-Spirakis (u^(1/w)) deliberately: priorities use
    * only division — exactly-rounded IEEE, bit-identical across engines —
    * where pow/ln differ in final ulps and would poison the oracle. Weight
    * here is the lexical-diversity quality score, so the sample skews
    * toward high-quality docs reproducibly. One narrow map + a top-k; at
    * corpus scale the global top-k is TakeOrdered (no full sort), or
    * hash-threshold pre-pruned exactly like [[sampleFixedN]].
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val toks = F.tokens(col("text"))
    val u = (h60(concat(lit("wsample:"), col("doc_id").cast(StringType))) + 1L)
      .cast(DoubleType) / lit(1152921504606846976.0) // 2^60: u in (0, 1]
    val scored = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        round(size(array_distinct(toks)).cast(DoubleType) / size(toks), 4)
          .as("weight"),
        u.as("u"))
      .select(col("doc_id"), col("source"), col("weight"),
        (col("weight") / col("u")).as("pri"))
    // top-20 as TakeOrderedAndProject (the distributed weighted sample at
    // any scale), then rank the 20 survivors — never a global sort window
    val top = scored.orderBy(col("pri").desc, col("doc_id")).limit(20)
    val w = Window.orderBy(col("pri").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("rank"), col("doc_id"), col("source"), col("weight"),
        round(col("pri"), 4).as("priority"))
      .orderBy("rank")
  }

  /** Top principal direction of the (uncentered) embedding second-moment
    * matrix via distributed POWER ITERATION: two matvec rounds
    * y = Σᵢ xᵢ (xᵢ·v) — each a codegen'd [[graft.functions.VecDot]] per row
    * plus one (pos)-keyed scalar aggregation — then the Rayleigh quotient
    * λ = Σᵢ (xᵢ·v)² and the explained-variance share λ / tr(A). Iteration
    * state is ONE d-vector on the driver (collected 64 doubles, re-broadcast
    * as a literal — O(d), never O(n)), the classic scale shape for dominant
    * eigenvectors. Components round at 6 between iterations to pin parallel
    * float-sum ulps cross-engine; the sign is normalized (first nonzero
    * component positive) since eigenvectors are sign-ambiguous.
    */
  def embPca(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val e = embs(spark, dir).select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .cache()
    val dim = 64
    def matvec(v: Array[Double]): Array[Double] = {
      val litV = array(v.toIndexedSeq.map(lit): _*)
      val y = e.select(vecDot(col("v"), litV).as("s"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("pos").agg(round(sum(col("x") * col("s")), 6).as("y"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      (0 until dim).map(y(_)).toArray
    }
    def normalize(y: Array[Double]): Array[Double] = {
      val nm = math.sqrt(y.map(x => x * x).sum)
      val vn = y.map(x =>
        BigDecimal(x / nm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val sign = vn.find(_ != 0.0).map(math.signum).getOrElse(1.0)
      vn.map(_ * sign)
    }
    val v0 = Array.fill(dim)(0.125) // 1/sqrt(64), exactly representable
    val v2 = normalize(matvec(normalize(matvec(v0))))
    val litV2 = array(v2.toIndexedSeq.map(lit): _*)
    val result = e.select(vecDot(col("v"), litV2).as("s"),
        vecDot(col("v"), col("v")).as("vv"))
      .agg(count(lit(1)).cast(LongType).as("n_vecs"),
        round(sum(col("s") * col("s")), 2).as("eigenvalue"),
        round(sum(col("s") * col("s")) / sum(col("vv")), 4).as("explained_ratio"))
      .select(col("n_vecs"), lit(dim.toLong).as("dim"), col("eigenvalue"),
        col("explained_ratio"),
        lit(v2(0)).as("comp0"), lit(v2(1)).as("comp1"),
        lit(v2(2)).as("comp2"), lit(v2(3)).as("comp3"))
    materializeAndRelease(result, e)
  }

  /** SemDeDup-style semantic deduplication: cluster the embedding space
    * with deterministic IVF centroids (every 100th vector, the same
    * broadcast argmin assignment as [[embKmeans]]), then find cosine
    * near-duplicates WITHIN each cluster and drop the higher vec_id of
    * every duplicate pair. Clustering is what makes embedding dedup scale:
    * the quadratic pairing only ever sees one cluster's members (the
    * shuffle key is the cluster id), never the full corpus. Cluster sizes
    * are ~constant in expectation (centroid count scales with n), but a
    * degenerate/skewed cluster would still be quadratic in ITS size — so
    * clusters above `cap` members are re-split by deterministic rank into
    * sub-buckets of at most `cap` (row_number over vec_id, `div cap`),
    * putting a HARD bound on every join key's fan-out: no key ever pairs
    * more than cap members, cap²/2 work, regardless of skew. The re-split
    * trades cross-sub-bucket pairs inside an oversized cluster for that
    * bound (the SemDeDup cluster-size-cap move); `n_oversize` reports how
    * many clusters were split so the trade is visible, and the rank rule
    * is exactly mirrored in the DuckDB oracle. Data-derived centroids
    * keep the whole operator oracle-reproducible.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    dedupSemanticCapped(spark, dir, 256)

  private[graft] def dedupSemanticCapped(spark: SparkSession, dir: String,
                                         cap: Int): DataFrame = {
    import graft.functions.VectorFunctions.{vecDot, vecNormalize}
    import org.apache.spark.sql.expressions.Window
    val v = col("embedding").cast(ArrayType(DoubleType))
    val e = embs(spark, dir).select(col("vec_id"), v.as("v"),
        vecNormalize(v).as("nv"))
      .withColumn("vv", vecDot(col("v"), col("v")))
      .cache()
    val cents = centroidPick(e, 100)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("vv").as("cvv"))
    // cached: the assignment argmin feeds both sides of the within-cluster
    // self-join AND the cluster count — uncached it would re-run the
    // broadcast cross-join argmin for each
    val rn = row_number()
      .over(Window.partitionBy("cent_id").orderBy("vec_id"))
    val withNv = kmeansAssign(e.select("vec_id", "v", "vv"), cents)
      .select("vec_id", "cent_id")
      .join(e.select("vec_id", "nv"), Seq("vec_id"))
      // rank-based sub-bucket: a hard <= cap members per (cent_id, sub)
      // key (a hash split would only bound in expectation)
      .withColumn("sub", floor((rn - lit(1)) / lit(cap)))
      .cache()
    def side(s: String) = withNv.select(col("cent_id"), col("sub"),
      col("vec_id").as(s"vec$s"), col("nv").as(s"nv$s"))
    val pairs = side("_a").join(side("_b"), Seq("cent_id", "sub"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_b"),
        round(vecDot(col("nv_a"), col("nv_b")), 4).as("cos"))
    val dropped = pairs.filter(col("cos") >= 0.4).select("vec_b").distinct()
    val result = e.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(withNv.groupBy("cent_id").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          count(when(col("sz") > cap, 1)).as("n_oversize")))
      .crossJoin(pairs.agg(count(lit(1)).as("n_pairs"),
        count(when(col("cos") >= 0.4, 1)).as("n_dup_pairs")))
      .crossJoin(dropped.agg(count(lit(1)).as("n_dropped")))
      .select(col("n_vecs"), col("n_clusters"), col("n_oversize"),
        col("n_pairs"), col("n_dup_pairs"), col("n_dropped"),
        (col("n_vecs") - col("n_dropped")).as("n_kept"))
    materializeAndRelease(result, e, withNv)
  }

  /** Heavy hitters through Spark's built-in Count-Min sketch GRADED
    * against the exact answer in-query (the sim_lsh_recall pattern): the
    * CMS register layout is engine-internal, but its two theorems — the
    * estimate never undercounts, and the overestimate is bounded by
    * eps * N (eps = 0.001, N = total token instances) — are checkable from
    * the exact side, so each top token ships those checks as booleans the
    * oracle pins to 1 (the exact rank/token/count columns it recomputes
    * relationally). A sketch regression turns the row red instead of
    * invisible. Scale: the sketch (a few KB of counters) builds with
    * map-side merges — the 100 TB path where an exact groupBy must shuffle
    * every distinct token; CMS merge is counter addition — commutative —
    * so the estimates are deterministic under any partition order.
    */
  def textHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    // cached: the sketch build and the exact grading counts are two driver
    // actions over the same tokenized explode — uncached, the corpus scan
    // + regex tokenization would run twice
    val toks = docs(spark, dir).select(explode(F.tokens(col("text"))).as("w"))
      .cache()
    // eps 0.001 / conf 0.99 -> width 2000 x depth 7 longs ≈ 110 KB of
    // counters — fixed-size regardless of corpus scale. Total count rides
    // the same aggregate row, so grading adds no extra pass.
    val head = toks
      .agg(count_min_sketch(col("w"), lit(0.001d), lit(0.99d), lit(42))
        .as("s"), count(lit(1)).as("n"))
      .head()
    val sketchBytes = head.getAs[Array[Byte]](0)
    val totalTokens = head.getLong(1)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    val topExact = toks.groupBy("w").agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("w")).limit(10).collect()
    toks.unpersist()
    val sp = spark
    import sp.implicits._
    val epsN = 0.001 * totalTokens
    topExact.toSeq.zipWithIndex.map { case (r, i) =>
      val (w, exact) = (r.getString(0), r.getLong(1))
      // the SQL aggregate added UTF8String bytes; String probes hash the
      // identical UTF-8 byte sequence
      val est = cms.estimateCount(w)
      (i + 1L, w, exact,
        if (est >= exact) 1L else 0L,
        if (est - exact <= epsN) 1L else 0L)
    }.toDF("rank", "token", "exact_count", "overest_nonneg", "overest_in_band")
  }

  /** Exact top-10 tokens by corpus frequency — the oracle-checkable side of
    * [[textHeavyHitters]] (whose CMS estimate columns are engine-internal
    * and stay rows-only). Aggregation shuffles one row per DISTINCT token,
    * then top-k via TakeOrderedAndProject — never a global sort.
    */
  def textTopTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(F.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("token")).limit(10)

  /** 1-NN label agreement over the embedding space — the classic
    * mislabeled-data / embedding-quality probe: for every vector, does its
    * nearest neighbor (cosine) carry the same label? Exact all-pairs here
    * (the verifiable form); at 100 TB the candidate set comes from the IVF /
    * LSH ANN operators above and the agreement aggregation is unchanged.
    */
  def knnLabelAgreement(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{vecDot, vecNormalize}
    val v = col("embedding").cast(ArrayType(DoubleType))
    val e = embs(spark, dir).select(col("vec_id"), col("label"),
      vecNormalize(v).as("nv"))
    val q = e.select(col("vec_id"), col("label"), col("nv"))
    val n = e.select(col("vec_id").as("nb_id"), col("label").as("nb_label"),
      col("nv").as("nb_nv"))
    // Nearest neighbor as an ARGMIN aggregation (min_by over the orderable
    // struct (-sim, nb_id)), not a window row_number: the window form must
    // shuffle every candidate pair row to sort within each vec_id partition,
    // while the aggregate gets map-side partial combine — one surviving row
    // per vector crosses the wire no matter how many candidates were scored.
    val nn = q.join(n, col("vec_id") =!= col("nb_id"))
      .select(col("vec_id"), col("label"), col("nb_label"), col("nb_id"),
        round(vecDot(col("nv"), col("nb_nv")), 4).as("sim"))
      .groupBy("vec_id", "label")
      .agg(min_by(col("nb_label"),
        struct((-col("sim")).as("neg_sim"), col("nb_id"))).as("nb_label"))
    nn.groupBy(col("label").cast(LongType).as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        count(when(col("label") === col("nb_label"), 1)).as("n_agree"),
        round(count(when(col("label") === col("nb_label"), 1))
          .cast(DoubleType) / count(lit(1)), 4).as("agreement"))
      .orderBy("label")
  }

  /** DSIR-style importance weights per source: how much more likely is
    * each document under a TARGET domain's unigram LM than under the
    * corpus LM (Xie et al. 2023's data-selection signal, at word-unigram
    * granularity). Per doc: Σk·log10(p̂_target/p_corpus) / Σk with
    * add-one smoothing on the target side (unseen tokens must not yield
    * -∞), rolled up to the per-source mean — the mixture-design view:
    * which sources look most like the domain you want more of.
    *
    * Scale: the same single-pass shape as [[qualityUnigramLogprob]] — ONE
    * corpus-sized (doc, token) aggregate that the corpus counts, the
    * target counts, and the per-doc join all reduce through a reused
    * exchange; both LM count tables are vocabulary-sized, the scalar
    * totals broadcast.
    */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame = {
    val target = "src0"
    val docTok = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(F.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "source", "token").agg(count(lit(1)).as("k"))
    val corpus = docTok.groupBy("token").agg(sum("k").as("c_all"))
    val tgt = docTok.filter(col("source") === target)
      .groupBy("token").agg(sum("k").as("c_t"))
    val totals = corpus.agg(sum("c_all").cast(DoubleType).as("n_all"),
      count(lit(1)).cast(DoubleType).as("vocab"))
    val tgtTotal = tgt.agg(sum("c_t").cast(DoubleType).as("n_t"))
    docTok.join(corpus, "token")
      .join(tgt, Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(tgtTotal))
      .withColumn("w", log10(
        ((coalesce(col("c_t"), lit(0L)) + 1) / (col("n_t") + col("vocab"))) /
          (col("c_all") / col("n_all"))))
      .groupBy("source", "doc_id")
      .agg((sum(col("k") * col("w")) / sum("k")).as("doc_w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("doc_w"), 4).as("avg_importance"))
      .orderBy("source")
  }

  /** CCNet-style perplexity bucketing: per language, split documents into
    * head / middle / tail terciles of unigram log-probability (the CCNet
    * pipeline's quality partition — head feeds training, tail gets
    * dropped or down-weighted). Deterministic tie-break on doc_id makes
    * the bucket assignment engine-independent.
    *
    * Scale: per-doc logprob reuses the single-pass
    * [[qualityUnigramLogprob]] shape; the tercile is a per-lang ntile
    * window over the DOC-level table (one row per document — already ≪
    * corpus tokens). Languages partition the window, so skew is bounded
    * by the largest language; at the extreme, swap the exact ntile for
    * approx-quantile cutoffs and a broadcast range lookup.
    */
  def qualityCcnetBucket(spark: SparkSession, dir: String): DataFrame = {
    val docTok = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(F.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "lang", "token").agg(count(lit(1)).as("k"))
    val counts = docTok.groupBy("token").agg(sum("k").as("c"))
    val total = counts.agg(sum("c").cast(DoubleType).as("n"))
    val perDoc = docTok.join(counts, "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id", "lang")
      .agg((sum(col("k") * log10(col("c") / col("n"))) / sum("k")).as("lp"))
    val w = Window.partitionBy("lang").orderBy(col("lp").desc, col("doc_id"))
    perDoc.withColumn("tercile", ntile(3).over(w).cast(LongType))
      .groupBy("lang", "tercile")
      .agg(count(lit(1)).as("n_docs"), round(avg("lp"), 4).as("avg_logprob"))
      .select(col("lang"), col("tercile"),
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail").as("bucket"),
        col("n_docs"), col("avg_logprob"))
      .orderBy("lang", "tercile")
  }

  /** Per-dimension embedding statistics — the whitening / feature-collapse
    * diagnostic (a dimension whose variance dwarfs or vanishes against the
    * rest distorts every cosine in the ANN stack): top-8 dimensions by
    * variance with mean and count. Variance is the explicit
    * E[x²]−E[x]² form — identical arithmetic in any engine, unlike
    * library one-pass variance kernels.
    *
    * Scale: posexplode emits n·dim component rows but the aggregation is
    * map-side partial — each task reduces to ≤ dim rows before the
    * shuffle, so the wire carries tasks×dim tiny rows; top-8 is
    * TakeOrderedAndProject over the dim-sized result.
    */
  def embDimStats(spark: SparkSession, dir: String): DataFrame =
    embs(spark, dir)
      .select(posexplode(col("embedding").cast(ArrayType(DoubleType)))
        .as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), round(avg("x"), 6).as("mean"),
        round(avg(col("x") * col("x")) - avg("x") * avg("x"), 6)
          .as("variance"))
      .select(col("pos").cast(LongType).as("pos"), col("n"), col("mean"),
        col("variance"))
      .orderBy(col("variance").desc, col("pos"))
      .limit(8)

  // ------------------------------------------------- retrieval / diagnostics

  /** BM25 top-10 retrieval (k1=1.2, b=0.75) for a fixed conjunctive-OR
    * query — the ranking function a curation pipeline uses to pull
    * topic-relevant documents (or to score benchmark-adjacent text for
    * decontamination review) without an external search service.
    *
    * Plan shape: ONE cached text scan — the projection keeps only the doc
    * length and the query-term matches (the term filter runs INSIDE the
    * token array, so the explode emits ≤ matching tokens per doc, never
    * the full token stream), and the doc length rides through the
    * (doc_id, term) aggregation, so no corpus-sized lengths join exists
    * anywhere. Document frequencies and the global length stats are
    * |terms|-row / 1-row broadcast frames. The final top-10 is
    * TakeOrderedAndProject — no global sort at any corpus size. All
    * constants are written as identical literals in the DuckDB oracle so
    * the double arithmetic agrees bit-for-bit before rounding.
    */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val (result, proj) = bm25TopkFrames(spark, dir)
    materializeAndRelease(result, proj)
  }

  /** The (top-10, cached projection) pair behind [[bm25Topk]], pre-
    * materialization — exposed for the plan regression test.
    */
  private[graft] def bm25TopkFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val terms = Seq("spark", "merge", "vector")
    val toks = F.tokens(col("text"))
    // ONE text scan: the projection keeps only the doc length and the
    // query-term matches (filter INSIDE the array, so non-matching tokens
    // are dropped before any explode emits them), then drops the text.
    // Cached because both the global length stats and the tf explode
    // consume it — without the cache the corpus text would scan twice.
    val proj = docs(spark, dir)
      .select(col("doc_id"), size(toks).cast(DoubleType).as("len"),
        filter(toks, w => w.isInCollection(terms)).as("mt"))
      .cache()
    val stats = proj.agg(count(lit(1)).cast(DoubleType).as("n"),
      avg("len").as("avgdl"))
    // len rides through the (doc_id, term) aggregation (functionally
    // dependent on doc_id), so no corpus-sized lengths join is ever needed
    val tf = proj.select(col("doc_id"), col("len"), explode(col("mt")).as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).cast(DoubleType).as("tf"), max("len").as("len"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).cast(DoubleType).as("df"))
    val result = tf.join(broadcast(dfreq), "w")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avgdl"))))
          .as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"), round(sum("s"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
    (result, proj)
  }

  /** Per-language token-entropy rollup: each document's Shannon entropy
    * over its unigram distribution (H = log2 n − Σ c·log2 c / n — the
    * algebraic form needs only the two sums, keeping the per-doc reduce a
    * single aggregation), averaged per language with the count of
    * low-entropy documents (H < 5.0 — repetitive/boilerplate symptom, the
    * information-theoretic cousin of [[qualityRepetition]]'s ratio rules).
    *
    * Same scale shape as qualityRepetition: (doc, token)-keyed counts with
    * map-side partial combine, then a doc-keyed reduce — fine-grained
    * shuffle keys, no per-row interpreted HOFs, no skew on any single key.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val cnt = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(F.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "lang", "w")
      .agg(count(lit(1)).cast(DoubleType).as("c"))
    val perDoc = cnt.groupBy("doc_id", "lang")
      .agg(sum("c").as("n"), sum(col("c") * log2(col("c"))).as("clog"))
      .select(col("lang"), (log2(col("n")) - col("clog") / col("n")).as("h"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("h"), 4).as("avg_entropy"),
        round(min("h"), 4).as("min_entropy"),
        round(max("h"), 4).as("max_entropy"),
        count(when(col("h") < 5.0, 1)).as("n_low_entropy"))
      .orderBy("lang")
  }

  /** Per-label embedding outlier detection: cosine of every vector to its
    * own label's centroid direction, then a 2-sigma flag count — the
    * standard mislabeled-example / contamination screen over an embedded
    * corpus.
    *
    * The outlier rule needs each label's mean and stddev BEFORE rows can
    * be flagged — naively two corpus passes (or a per-label window sort).
    * Instead the rounded similarities collapse to a (label, sim) HISTOGRAM
    * in the one corpus-sized aggregation (≤ 20001 distinct rounded values
    * per label), and mean, moment-based stddev, and the threshold count
    * all reduce that tiny frame — one pass over the data, no window, no
    * join-back against anything corpus-sized. The histogram is cached so
    * its two consumers (the stats reduce and the flag-count join) don't
    * replay the corpus scan, and released once the rollup materializes.
    * Centroids broadcast (labels × dim doubles).
    */
  def embOutliers(spark: SparkSession, dir: String): DataFrame = {
    val (out, cached) = embOutliersFrames(spark, dir)
    materializeAndRelease(out, cached: _*)
  }

  /** The (rollup, cached histogram) pair behind [[embOutliers]], pre-
    * materialization — exposed for the plan regression test, which asserts
    * on the distributed plan (the public entry collects the ≤10-row result
    * and releases the cache).
    */
  private[graft] def embOutliersFrames(
      spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    import graft.functions.VectorFunctions.{vecDot, vecNormalize}
    // cached: the centroid pass and the similarity pass each consume every
    // normalized vector — uncached, the embedding parquet would scan (and
    // the normalize expression re-run) twice
    val e = embs(spark, dir).select(col("label"),
      vecNormalize(col("embedding").cast(ArrayType(DoubleType))).as("nv"))
      .cache()
    val cent = e.select(col("label"), posexplode(col("nv")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg("x").as("cx"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        s => s.getField("cx")).as("cv"))
      .select(col("label"), vecNormalize(col("cv")).as("cnv"))
    val hist = e.join(broadcast(cent), "label")
      .select(col("label"), round(vecDot(col("nv"), col("cnv")), 4).as("sim"))
      .groupBy("label", "sim").agg(count(lit(1)).as("cnt"))
      .cache()
    val stats = hist.groupBy("label")
      .agg(sum("cnt").as("n_vecs"),
        (sum(col("sim") * col("cnt")) / sum("cnt")).as("mu"),
        sqrt(sum(col("sim") * col("sim") * col("cnt")) / sum("cnt") -
          (sum(col("sim") * col("cnt")) / sum("cnt")) *
            (sum(col("sim") * col("cnt")) / sum("cnt"))).as("sd"))
    val out = hist.join(stats, "label")
      .groupBy(col("label"), col("n_vecs"), col("mu"), col("sd"))
      .agg(coalesce(sum(when(col("sim") < col("mu") - lit(2.0) * col("sd"),
        col("cnt"))), lit(0L)).as("n_outliers"))
      .select(col("label").cast(LongType).as("label"), col("n_vecs"),
        round(col("mu"), 4).as("avg_cos"), round(col("sd"), 4).as("std_cos"),
        col("n_outliers"))
      .orderBy("label")
    (out, Seq(hist, e))
  }

  /** Gopher-style quality rule screen (Rae et al. 2021, "Scaling Language
    * Models" appendix A1.1), adapted to this corpus's shape: per-source
    * counts of documents failing each structural rule and the overall pass
    * rate. Rules: token count in [20, 90]; mean word length in [3.0, 10.0];
    * >= 2 distinct common stopwords present; >= 80% of words alphabetic.
    *
    * Every metric is a narrow per-row HOF over the token array (aggregate /
    * filter / array_contains — all codegen'd, NO explode), so the corpus
    * scan stays one whole-stage-codegen map; the only shuffle is the
    * per-source rollup on a low-cardinality key with map-side partials.
    * At 100 TB this is scan-bound, exactly as a filter pass should be.
    */
  def qualityGopher(spark: SparkSession, dir: String): DataFrame = {
    val toks = F.tokens(col("text"))
    val n = size(toks).cast(DoubleType)
    val meanLen = aggregate(toks, lit(0L), (acc, w) => acc + length(w))
      .cast(DoubleType) / n
    val nStop = Seq("the", "a", "of", "and", "to")
      .map(w => array_contains(toks, w).cast(IntegerType))
      .reduce(_ + _)
    val alphaFrac =
      size(filter(toks, w => w.rlike("[a-z]"))).cast(DoubleType) / n
    val perDoc = docs(spark, dir).select(col("source"),
      (n >= 20 && n <= 90).as("r_len"),
      (meanLen >= 3.0 && meanLen <= 10.0).as("r_word_len"),
      (nStop >= 2).as("r_stopwords"),
      (alphaFrac >= 0.8).as("r_alpha"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(!col("r_len"), 1)).as("n_fail_len"),
        count(when(!col("r_word_len"), 1)).as("n_fail_word_len"),
        count(when(!col("r_stopwords"), 1)).as("n_fail_stopwords"),
        count(when(!col("r_alpha"), 1)).as("n_fail_alpha"),
        round(count(when(col("r_len") && col("r_word_len") &&
          col("r_stopwords") && col("r_alpha"), 1)).cast(DoubleType) /
          count(lit(1)), 4).as("pass_rate"))
      .orderBy("source")
  }

  /** Power-of-2 sequence-length histogram with padding waste — the batching
    * planner's view of a corpus: documents bucketed by floor(log2(tokens)),
    * each bucket padded to its capacity 2^(bucket+1), and the fraction of
    * padded positions that are real tokens. Bucketing by binary-string
    * length (`length(bin(n)) - 1`) instead of floating log2 keeps exact
    * powers of two in the right bucket in BOTH engines — ln(n)/ln(2) can
    * land an exact power at 5.999… and misbucket it.
    *
    * One scan, one narrow projection, one low-cardinality aggregation
    * (<= 64 buckets) with map-side partials — scan-bound at any scale.
    */
  def seqLenBuckets(spark: SparkSession, dir: String): DataFrame = {
    val n = size(F.tokens(col("text"))).cast(LongType)
    docs(spark, dir)
      .select((length(bin(n)) - 1).cast(LongType).as("bucket"), n.as("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("total_tokens"),
        (expr("shiftleft(1L, cast(bucket + 1 as int))") *
          count(lit(1))).as("padded_tokens"))
      .withColumn("fill_ratio",
        round(col("total_tokens").cast(DoubleType) / col("padded_tokens"), 4))
      .orderBy("bucket")
  }

  /** Robust length-outlier screen: per-language p5/p95 token-count bounds
    * and how many documents fall outside them — the percentile cousin of
    * [[qualityGopher]]'s fixed bounds (fixed thresholds drift as the corpus
    * mix shifts; percentile bounds self-calibrate per language).
    *
    * The outlier counts need each language's percentiles BEFORE rows can be
    * flagged, so the narrow (lang, n) projection is computed once and
    * cached: pass 1 reduces it to a per-language stats frame (exact
    * percentile — at 100 TB swap in approx_percentile, declared divergence),
    * pass 2 broadcast-joins that tiny frame back and counts. Nothing
    * corpus-sized shuffles twice; the cache is released once the <= #langs
    * row result materializes.
    */
  def lengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    val (out, lens) = lengthOutliersFrames(spark, dir)
    materializeAndRelease(out, lens)
  }

  /** The (rollup, cached lengths) pair behind [[lengthOutliers]], pre-
    * materialization — exposed for the plan regression test.
    */
  private[graft] def lengthOutliersFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val lens = docs(spark, dir)
      .select(col("lang"),
        size(F.tokens(col("text"))).cast(DoubleType).as("n"))
      .cache()
    val stats = lens.groupBy("lang")
      .agg(round(expr("percentile(n, 0.05)"), 2).as("p5"),
        round(expr("percentile(n, 0.95)"), 2).as("p95"))
    val out = lens.join(broadcast(stats), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        first("p5").as("p5_tokens"), first("p95").as("p95_tokens"),
        count(when(col("n") < col("p5"), 1)).as("n_below"),
        count(when(col("n") > col("p95"), 1)).as("n_above"))
      .orderBy("lang")
    (out, lens)
  }

  /** Truncation-duplicate screen: documents sharing the same first-16-token
    * fingerprint (md5 of the space-joined prefix) — catches re-crawls cut
    * at different lengths and boilerplate-prefixed families that EXACT
    * dedup misses, without any pairwise comparison.
    *
    * The fingerprint is a narrow codegen'd map; the only corpus-sized
    * shuffle is the fingerprint-keyed count with map-side partials (keys
    * are 32-char hashes — fine-grained, skew-free), and everything after
    * reduces group-count rows to one. This is the O(n) front door to the
    * pairwise [[dedupNgramJaccard]] family.
    */
  def dedupPrefix(spark: SparkSession, dir: String): DataFrame = {
    val fp = md5(concat_ws(" ", slice(F.tokens(col("text")), 1, 16)))
    docs(spark, dir).select(fp.as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt").as("n_docs"),
        count(when(col("cnt") > 1, 1)).as("n_dup_prefix_groups"),
        coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L))
          .as("n_docs_in_groups"),
        coalesce(sum(when(col("cnt") > 1, col("cnt") - 1)), lit(0L))
          .as("n_redundant"),
        max("cnt").as("max_group_size"))
  }

  /** Per-source duplicate attribution: how many of each source's documents
    * participate in corpus-WIDE exact-duplicate groups and prefix-duplicate
    * ([[dedupPrefix]]) groups — the report a curation pipeline uses to
    * decide which feeds to throttle or re-crawl (rollups like
    * [[dedupExact]] say HOW MUCH duplication; this says WHO).
    *
    * A doc's dup status depends on the GLOBAL count of its hash, so the
    * narrow (source, hash, hash) projection is cached and consumed three
    * times (two hash-count frames + the flag join) without re-scanning the
    * text. All shuffles are keyed on 32-char hashes or source — fine-
    * grained and skew-free; nothing is ever pairwise.
    */
  def dedupBySource(spark: SparkSession, dir: String): DataFrame = {
    val (out, d) = dedupBySourceFrames(spark, dir)
    materializeAndRelease(out, d)
  }

  /** The (rollup, cached hash projection) pair behind [[dedupBySource]],
    * pre-materialization — exposed for the plan regression test.
    */
  private[graft] def dedupBySourceFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val toks = F.tokens(col("text"))
    val d = docs(spark, dir).select(col("source"),
        md5(col("text")).as("he"),
        md5(concat_ws(" ", slice(toks, 1, 16))).as("hp"))
      .cache()
    val ec = d.groupBy("he").agg(count(lit(1)).as("ce"))
    val pc = d.groupBy("hp").agg(count(lit(1)).as("cp"))
    val out = d.join(ec, "he").join(pc, "hp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("ce") > 1, 1)).as("n_exact_dup"),
        count(when(col("cp") > 1, 1)).as("n_prefix_dup"),
        round(count(when(col("cp") > 1, 1)).cast(DoubleType) /
          count(lit(1)), 4).as("prefix_dup_rate"))
      .orderBy("source")
    (out, d)
  }

  /** The documents behind [[contaminationCheck]]'s rate: top-10 eval-split
    * documents by 5-gram overlap fraction with the train split — the
    * review queue a decontamination pass hands a human (or a filter
    * threshold), not just the headline rate.
    *
    * Same scale shape as the rollup: one cached shingle projection, the
    * train-id set deduplicated ONCE (the left join multiplies rows if its
    * build side has duplicates — distinct here is correctness, not
    * cosmetics), per-gram hit flags reduced doc-wise, and the top-10 is
    * TakeOrderedAndProject. Nothing pairwise, nothing windowed.
    */
  def contaminationTopdocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.shingleIds
    val cap = 10000 // same heavy-gram guard as contaminationCheck
    val split = when(h60(col("doc_id").cast(StringType)) % 100 < 80, "train")
      .otherwise("eval")
    val d = docs(spark, dir)
      .select(col("doc_id"), split.as("split"),
        shingleIds(col("text"), 5).as("ids"))
      .cache()
    val ex = d.select(col("doc_id"), col("split"), explode(col("ids")).as("id"))
    // df-capped evidence set (the groupBy dedups AND carries the cap —
    // same heavy-gram guard + rationale as contaminationCheck)
    val trainIds = ex.filter(col("split") === "train")
      .groupBy("id").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("id")
      .withColumn("_hit", lit(1))
    val out = ex.filter(col("split") === "eval")
      .join(trainIds, Seq("id"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast(DoubleType) / col("n_grams"), 4)
          .as("overlap_frac"))
      .orderBy(col("overlap_frac").desc, col("doc_id"))
      .limit(10)
    materializeAndRelease(out, d)
  }

  /** Temperature-scaled sampling weights per language: p_i^alpha
    * renormalized, at the two canonical alphas (0.3 — the mBERT/XLM-R
    * multilingual flattening — and 0.7, mild flattening), next to the raw
    * proportions, with the effective oversampling factor for the SMALLEST
    * language at alpha=0.3. The [[mixtureWeights]] sqrt is the alpha=0.5
    * point of this same family; curation sweeps tune alpha, so the engine
    * exposes the curve, not one point.
    *
    * One count-by-language aggregation (tiny frame), a 1-row broadcast of
    * the normalization sums — nothing corpus-sized after the first reduce.
    * `pow` is IEEE-754 `Math.pow` in both engines on the same doubles, so
    * the oracle agrees to the rounded digits.
    */
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame = {
    val perLang = docs(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val totals = perLang.agg(
      sum("n_docs").as("n_total"),
      sum(pow(col("n_docs").cast(DoubleType), 0.3)).as("s03"),
      sum(pow(col("n_docs").cast(DoubleType), 0.7)).as("s07"))
    perLang.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast(DoubleType) / col("n_total"), 4).as("p_raw"),
        round(pow(col("n_docs").cast(DoubleType), 0.3) / col("s03"), 4)
          .as("p_alpha03"),
        round(pow(col("n_docs").cast(DoubleType), 0.7) / col("s07"), 4)
          .as("p_alpha07"),
        round((pow(col("n_docs").cast(DoubleType), 0.3) / col("s03")) /
          (col("n_docs").cast(DoubleType) / col("n_total")), 4)
          .as("oversample_alpha03"))
      .orderBy("lang")
  }

  // ------------------------- corpus reporting / fuzzy dedup / drift / decontam

  /** Per-source corpus "datasheet" rollup — the Datasheets-for-Datasets
    * table a curated release ships: document and distinct-text counts,
    * exact-dup rate, char/token volume, token-count quantiles, and the
    * dominant language with its share. ONE hash+token projection (cached)
    * feeds both the per-source aggregate and the language mode; the mode
    * is a per-(source, lang) count + window argmax, never a per-source
    * collect. Everything aggregates hash-keyed on source — O(sources)
    * output at any corpus size. Exact `percentile` swaps for
    * approx_percentile at 100 TB (declared divergence, same note as
    * [[lengthOutliers]]).
    */
  def corpusCard(spark: SparkSession, dir: String): DataFrame =
    corpusCardFrames(docs(spark, dir))

  /** [[corpusCard]] over an arbitrary documents frame — the released-corpus
    * datasheet path (`--corpus` recomputes the card from the post-merge
    * corpus, whose frame carries no n_chars column: derived from text).
    */
  def corpusCardFrames(docs0: DataFrame): DataFrame = {
    val d0 =
      if (docs0.columns.contains("n_chars")) docs0
      else docs0.withColumn("n_chars", length(col("text")).cast(LongType))
    val d = d0.select(col("source"), col("lang"),
        col("n_chars"), md5(col("text")).as("h"),
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .cache()
    val main = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("h")).as("n_distinct"),
      sum(col("n_chars")).as("chars_total"),
      sum(col("n_tokens")).as("tokens_total"),
      round(expr("percentile(n_tokens, 0.5D)"), 1).as("tokens_p50"),
      round(expr("percentile(n_tokens, 0.9D)"), 1).as("tokens_p90"))
    val langN = d.groupBy("source", "lang").agg(count(lit(1)).as("lc"))
    val wl = Window.partitionBy("source").orderBy(col("lc").desc, col("lang"))
    val topLang = langN.withColumn("rn", row_number().over(wl))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("lc"))
    val result = main.join(topLang, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        round((col("n_docs") - col("n_distinct")).cast(DoubleType) /
          col("n_docs"), 4).as("dup_rate"),
        col("chars_total"), col("tokens_total"),
        col("tokens_p50"), col("tokens_p90"), col("top_lang"),
        round(col("lc").cast(DoubleType) / col("n_docs"), 4)
          .as("top_lang_share"))
      .orderBy("source")
    materializeAndRelease(result, d)
  }

  /** Source-pair near-duplicate matrix: for every (unordered) source pair,
    * how many banded-SimHash candidate pairs land across it and how many
    * verify as near-dups (Hamming <= 15) — the provenance table that shows
    * which feeds re-syndicate each other's content, and which sources are
    * internally boilerplate-heavy (the diagonal). Reference pipelines
    * audit exactly this before deciding which source "owns" a duplicate.
    * Same 4×15-bit md5 SimHash bands + skew cap as [[dedupSimhashBanded]]
    * — bucket-keyed join, work scales with collisions; the source labels
    * ride the band join as payload, so no corpus join-back. Output is
    * O(sources²) rows at any corpus size.
    */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.simhashMd5
    // one scan: the fingerprint and the source label come off the same
    // projection (simhashMd5Fps would drop the payload column)
    val base = docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), simhashMd5(col("text")).as("fp"), col("source"))
    val bandKeys = array((0 until 4).map(b =>
      lit(b.toLong * 32768L) +
        shiftright(col("fp"), b * 15).bitwiseAND(lit(0x7fffL))): _*)
    val banded = base.select(col("doc_id"), col("fp"), col("source"),
      explode(bandKeys).as("band"))
    val pairs = prunedBandPairs(banded, Seq("fp", "source"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast(LongType).as("d"),
        least(col("source_a"), col("source_b")).as("src_a"),
        greatest(col("source_a"), col("source_b")).as("src_b"))
      .distinct()
    pairs.groupBy(col("src_a").as("source_a"), col("src_b").as("source_b"))
      .agg(count(lit(1)).as("candidate_pairs"),
        count(when(col("d") <= 15, 1)).as("near_pairs"),
        min("d").as("min_hamming"))
      .orderBy("source_a", "source_b")
  }

  /** Distribution drift between the two time halves of the event stream,
    * as the Population Stability Index over 10 equal-width bins calibrated
    * on the REFERENCE (first) half — the standard production-monitoring
    * gate ("PSI > 0.2 ⇒ investigate") a data pipeline runs before trusting
    * a new ingest window. Two O(1)-row aggregates (time midpoint, then
    * reference min/max) broadcast into ONE binned count pass over the
    * corpus; the PSI arithmetic runs on the 10-row bin frame. Laplace-style
    * smoothing (+0.5 per bin) keeps ln finite for empty bins. All doubles
    * are IEEE-identical across engines; ln agrees to the rounded 6 digits.
    */
  def driftPsi(spark: SparkSession, dir: String): DataFrame = {
    val p = s"$dir/events.parquet"
    val e = graft.core.ScanEstimate.fanOut(spark.read.parquet(p), p)
    val base = e.select(Relational.epochMicros(e, "ts").as("ts_us"),
      col("value")).cache()
    val mid = base.agg(min("ts_us").as("t0"), max("ts_us").as("t1"))
      .select(expr("t0 + (t1 - t0) DIV 2").as("mid"))
    val halves = base.crossJoin(broadcast(mid))
      .select(when(col("ts_us") <= col("mid"), lit("ref"))
        .otherwise(lit("cur")).as("half"), col("value"))
    val bounds = halves.filter(col("half") === "ref")
      .agg(min("value").as("lo"), max("value").as("hi"))
      .select(col("lo"), ((col("hi") - col("lo")) / 10.0d).as("w"))
    val binned = halves.crossJoin(broadcast(bounds))
      .select(col("half"),
        when(col("w") === 0.0d, lit(0L)).otherwise(
          least(greatest(floor((col("value") - col("lo")) / col("w")),
            lit(0.0d)), lit(9.0d)).cast(LongType)).as("bin"))
      .groupBy("bin")
      .agg(count(when(col("half") === "ref", 1)).as("n_ref"),
        count(when(col("half") === "cur", 1)).as("n_cur"))
    // full 0..9 spine: a bin empty on both sides must still report its
    // smoothed contribution
    val spine = spark.range(10).select(col("id").as("bin"))
    val filled = spine.join(binned, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    materializeAndRelease(psiFromFilled(filled), base)
  }

  /** PSI projection over a (bin, n_ref, n_cur) frame — the shared tail of
    * [[driftPsi]] and its streaming twin [[driftPsiStream]], so both emit
    * bit-identical smoothing/log arithmetic and ONE DuckDB oracle serves
    * the pair.
    */
  private def psiFromFilled(filled: DataFrame): DataFrame = {
    val totals = filled.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"))
    filled.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        ((col("n_ref") + lit(0.5d)) / (col("tr") + lit(5.0d))).as("p"),
        ((col("n_cur") + lit(0.5d)) / (col("tc") + lit(5.0d))).as("q"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("p"), 6).as("p_ref"), round(col("q"), 6).as("p_cur"),
        round((col("p") - col("q")) * log(col("p") / col("q")), 6)
          .as("psi_contrib"))
      .orderBy("bin")
  }

  /** Driver-side reference calibration for the streaming PSI twin: the
    * time midpoint, the reference-half bin bounds, and the 10 reference
    * bin counts. Three tiny aggregates over the event scan (1-row / 10-row
    * collects — bounded by construction); a deployment would persist these
    * once per calibration window rather than recompute per stream start.
    */
  private def driftRef(spark: SparkSession,
                       dir: String): (Long, Double, Double, Array[Long]) = {
    val p = s"$dir/events.parquet"
    val e = graft.core.ScanEstimate.fanOut(spark.read.parquet(p), p)
    val base = e.select(Relational.epochMicros(e, "ts").as("ts_us"),
      col("value"))
    val mid = base.agg(min("ts_us").as("t0"), max("ts_us").as("t1"))
      .selectExpr("t0 + (t1 - t0) DIV 2 AS mid").collect().head.getLong(0)
    val ref = base.filter(col("ts_us") <= mid).cache()
    val Array(lo, w) = ref.agg(min("value").as("lo"), max("value").as("hi"))
      .selectExpr("lo", "(hi - lo) / 10.0 AS w").collect().head match {
      case r => Array(r.getDouble(0), r.getDouble(1))
    }
    val binExpr = if (w == 0.0d) lit(0L) else
      least(greatest(floor((col("value") - lit(lo)) / lit(w)), lit(0.0d)),
        lit(9.0d)).cast(LongType)
    val counts = ref.select(binExpr.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    ref.unpersist()
    (mid, lo, w, (0 until 10).map(b => counts.getOrElse(b, 0L)).toArray)
  }

  /** Streaming↔batch PSI-drift equivalence, oracle-checked: replays the
    * CURRENT half of the event stream through the real watermarked
    * [[graft.streaming.StreamingPipeline.streamingDriftPsi]] operator
    * (reference proportions calibrated offline by [[driftRef]], constant
    * event time -> one window, Complete output over the bounded
    * AvailableNow replay), then feeds the window's 10 bin counters through
    * the SAME [[psiFromFilled]] tail as the batch operator — so the result
    * must be row-identical to [[driftPsi]] and shares its DuckDB oracle
    * verbatim. Proves the streaming monitor's binning and counting MATH,
    * not just its plumbing.
    */
  def driftPsiStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val (mid, lo, w, nRef) = driftRef(spark, dir)
    val tr = nRef.sum.toDouble
    val refProps = (0 until 10).map(b => (nRef(b) + 0.5d) / (tr + 5.0d))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val srcRaw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val cur = srcRaw.filter(Relational.epochMicros(srcRaw, "ts") > lit(mid))
      .withColumn("ts", lit("2026-01-01 00:00:00").cast(TimestampType))
    val mon = graft.streaming.StreamingPipeline
      .streamingDriftPsi(cur, lo, w, refProps)
    val sink = "drift_psi_stream_sink"
    val q = mon.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val row = spark.table(sink).collect().head
    spark.catalog.dropTempView(sink)
    val nCur = (0 until 10).map(b => row.getAs[Long](s"n$b"))
    val filled = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 10).map(b =>
          org.apache.spark.sql.Row(b.toLong, nRef(b), nCur(b))), 1),
      StructType(Seq(StructField("bin", LongType, nullable = false),
        StructField("n_ref", LongType, nullable = false),
        StructField("n_cur", LongType, nullable = false))))
    psiFromFilled(filled)
  }

  /** Fuzzy (edit-distance) near-dup as a three-stage CASCADE — the
    * character-level fuzzy-matching family (OCR noise, small template
    * edits) that token-set measures like Jaccard under-detect:
    * (1) candidate generation on the same 4×15-bit md5 SimHash bands as
    * [[dedupSimhashBanded]] (bucket-keyed join, 1000-cap skew guard);
    * (2) a CHEAP per-pair verify — fingerprint Hamming <= 8, the standard
    * SimHash near-dup radius, one XOR per pair — that deduplicates the
    * multi-band pairs and shrinks candidates by an order of magnitude
    * (220k of 271k sf0.1 candidates sit within Hamming 15 on this
    * low-entropy corpus; 32k within 8); (3) the Levenshtein kernel on the
    * 200-char prefixes of ONLY the survivors, each pair exactly once,
    * prefixes joined back by id so the band explode never shuttles text,
    * and BANDED with the threshold form `levenshtein(l, r, 60)` — O(k·L)
    * per pair instead of O(L²), distances above 60 reported as -1 and
    * dropped (they can never reach a closest-10 report whose observed
    * distances are ~0). The cascade is the production fuzzy-dedup shape:
    * the expensive kernel's cost is bounded by the cheap filter's survivor
    * count, not by band collisions (a first cut paid full Levenshtein per
    * band collision — 182 s at sf0.1; the cascade is ~100× cheaper).
    * Reports the 10 closest surviving pairs (distance asc, id tiebreaks)
    * with a normalized similarity ratio derived from the computed
    * distance.
    */
  def dedupFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(col("text").isNotNull)
    val fps = simhashMd5Fps(d)
    val bandKeys = array((0 until 4).map(b =>
      lit(b.toLong * 32768L) +
        shiftright(col("fp"), b * 15).bitwiseAND(lit(0x7fffL))): _*)
    val banded = fps.select(col("doc_id"), col("fp"),
      explode(bandKeys).as("band"))
    // explicit-N pair spread (round 19): AQE's byte-based coalescing
    // folded the survivor-distinct shuffle — tiny rows, ~0.1 ms of
    // Levenshtein CPU each downstream — into ONE partition, and the
    // whole broadcast-join + kernel + local-top-k tail ran as a single
    // 3 s-CPU task (profiled). Pre-partitioning on exactly the distinct
    // key satisfies the aggregate's distribution (no extra exchange)
    // and REPARTITION_BY_NUM is exempt from coalescing, so the kernel
    // stage keeps one partition per core — the right shape for a
    // CPU-bound kernel at any survivor count (fixed cost per pair,
    // ~450 B rows, pair-hash spreads without skew). A repartition
    // placed directly under the top-k was optimizer-stripped; the
    // distinct key is the stable anchor.
    val survivors = prunedBandPairs(banded, Seq("fp"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast(LongType).as("hd"))
      .filter(col("hd") <= 8)
      .select("doc_a", "doc_b")
      .repartition(spark.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .distinct()
    val pre = d.select(col("doc_id"), substring(col("text"), 1, 200).as("pre"))
    val maxLen = greatest(length(col("pre_a")), length(col("pre_b")))
    survivors
      .join(pre.select(col("doc_id").as("doc_a"), col("pre").as("pre_a")),
        Seq("doc_a"))
      .join(pre.select(col("doc_id").as("doc_b"), col("pre").as("pre_b")),
        Seq("doc_b"))
      .withColumn("dist",
        expr("levenshtein(pre_a, pre_b, 60)").cast(LongType))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"),
        when(maxLen === 0, lit(1.0d)).otherwise(
          round(lit(1.0d) - col("dist").cast(DoubleType) / maxLen, 4))
          .as("sim_ratio"))
      .orderBy(col("dist"), col("doc_a"), col("doc_b")).limit(10)
  }

  /** Embedding-level train/eval decontamination — the semantic cousin of
    * the n-gram [[contaminationCheck]]: an eval item is contaminated if
    * any train vector sits within cosine >= 0.4 of it. Candidates route
    * through the same top-2 IVF centroid buckets as
    * [[dedupEmbeddingBanded]] (centroids are data — `vec_id % 50 == 3`,
    * all on the train side by construction — so the whole candidate set is
    * oracle-reproducible); the train side of each bucket carries the
    * 1000-cap skew guard. Work is O(n · bucket), the eval×train join key
    * is the bucket — never an all-pairs scan. At a real deployment the
    * threshold and the centroid sample are the tuning knobs; the companion
    * n-gram check catches verbatim leaks, this catches paraphrase-level
    * leaks.
    */
  def contaminationEmbedding(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val e = normalized(spark, dir).cache()
    val evalSide = e.filter(col("vec_id") % 10 === 7)
    val trainSide = e.filter(col("vec_id") % 10 =!= 7)
    val cents = centroidPick(e, 50)
      .select(col("vec_id").as("cent_id"), col("nv").as("cv"))
    val tb = graft.operators.VectorIndex.assignTop2(trainSide, cents)
      .select(col("vec_id").as("train_id"), col("bucket"), col("nv").as("tv"))
      .withColumn("_bc", count(lit(1)).over(Window.partitionBy("bucket")))
      .filter(col("_bc") <= 1000).drop("_bc")
    val qb = graft.operators.VectorIndex.assignTop2(evalSide, cents)
      .select(col("vec_id").as("eval_id"), col("bucket"), col("nv").as("ev"))
    val scored = qb.join(tb, Seq("bucket"))
      .select(col("eval_id"), col("train_id"),
        round(vecDot(col("ev"), col("tv")), 4).as("cos"))
    val result = evalSide.agg(count(lit(1)).as("n_eval"))
      .crossJoin(trainSide.agg(count(lit(1)).as("n_train")))
      .crossJoin(scored.agg(
        countDistinct(col("eval_id"), col("train_id")).as("candidate_pairs"),
        countDistinct(when(col("cos") >= 0.4, col("eval_id")))
          .as("n_contaminated")))
      .select(col("n_eval"), col("n_train"), col("candidate_pairs"),
        col("n_contaminated"),
        round(col("n_contaminated").cast(DoubleType) / col("n_eval"), 4)
          .as("contamination_rate"))
    materializeAndRelease(result, e)
  }

  // ------------------------------------------- model-based quality filtering

  /** Shared Gopher-rule pass/fail expression over a token-array column —
    * the weak label [[qualityNbClassifier]] trains against and the rules
    * [[qualityGopher]] reports on (Rae et al. 2021 A1.1). Narrow HOFs
    * only; no explode.
    */
  private def gopherPass(toks: Column): Column = {
    val n = size(toks).cast(DoubleType)
    val meanLen = aggregate(toks, lit(0L), (acc, w) => acc + length(w))
      .cast(DoubleType) / n
    val nStop = Seq("the", "a", "of", "and", "to")
      .map(w => array_contains(toks, w).cast(IntegerType))
      .reduce(_ + _)
    val alphaFrac =
      size(filter(toks, w => w.rlike("[a-z]"))).cast(DoubleType) / n
    (n >= 20 && n <= 90) && (meanLen >= 3.0 && meanLen <= 10.0) &&
      (nStop >= 2) && (alphaFrac >= 0.8)
  }

  /** Model-based quality classifier — the fastText-style filter every
    * large pretraining pipeline runs (GPT-3 / LLaMA "quality classifier"
    * stage), expressed relationally: train a Naive-Bayes bag-of-words
    * model against a WEAK label (the Gopher structural screen,
    * [[gopherPass]]), score every document by its token log-likelihood
    * ratio + class prior, and report the per-source confusion between the
    * learned model and the rules. In production the weak label comes from
    * a curated seed set (e.g. reference-corpus pages); the training,
    * scoring, and evaluation plumbing here is exactly that shape.
    *
    * Scale: ONE tokenize+explode collapsed to (doc, token, k) with
    * map-side partials — that aggregate is the only corpus-sized shuffle;
    * training counts are a vocabulary-sized rollup of it, scoring re-reads
    * it through an equi-join on token (Zipf heads → AQE skew-join), and
    * the confusion rollup is per-source. Add-1 smoothing keeps every
    * log finite; no driver-side model object ever materializes — the
    * "model" IS the llr frame.
    */
  def qualityNbClassifier(spark: SparkSession, dir: String): DataFrame = {
    // cached: feeds the (doc, token, k) collapse AND the doc-count priors
    // — without it the prior aggregate re-runs the corpus scan
    val labeled = docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        gopherPass(F.tokens(col("text"))).as("label"),
        F.tokens(col("text")).as("toks"))
      .cache()
    val docTok = labeled
      .select(col("doc_id"), col("source"), col("label"),
        explode(col("toks")).as("token"))
      .groupBy("doc_id", "source", "label", "token")
      .agg(count(lit(1)).as("k"))
      .cache()
    val classTok = docTok.groupBy("token").agg(
      sum(when(col("label"), col("k")).otherwise(0L)).as("c_pass"),
      sum(when(!col("label"), col("k")).otherwise(0L)).as("c_fail"))
    val totals = classTok.agg(
      sum("c_pass").cast(DoubleType).as("np"),
      sum("c_fail").cast(DoubleType).as("nf"),
      count(lit(1)).cast(DoubleType).as("v"))
    val priors = labeled.agg(
      count(when(col("label"), 1)).cast(DoubleType).as("npd"),
      count(when(!col("label"), 1)).cast(DoubleType).as("nfd"))
    val llr = classTok.crossJoin(broadcast(totals))
      .select(col("token"),
        (log((col("c_pass").cast(DoubleType) + 1.0d) / (col("np") + col("v"))) -
          log((col("c_fail").cast(DoubleType) + 1.0d) / (col("nf") + col("v"))))
          .as("llr"))
    val scored = docTok.join(llr, Seq("token"))
      .groupBy("doc_id", "source", "label")
      .agg(sum(col("k").cast(DoubleType) * col("llr")).as("s"))
      .crossJoin(broadcast(priors))
      .select(col("source"), col("label"),
        (col("s") + log(col("npd") / col("nfd"))).as("score"))
    val result = scored.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      count(when(col("label") && col("score") > 0, 1)).as("n_tp"),
      count(when(!col("label") && col("score") > 0, 1)).as("n_fp"),
      count(when(col("label") && !(col("score") > 0), 1)).as("n_fn"),
      count(when(!col("label") && !(col("score") > 0), 1)).as("n_tn"))
      .withColumn("accuracy",
        round((col("n_tp") + col("n_tn")).cast(DoubleType) / col("n_docs"), 4))
      .orderBy("source")
    materializeAndRelease(result, labeled, docTok)
  }

  /** NB-model interpretability report: the 20 tokens with the largest
    * |log-likelihood ratio| in [[qualityNbClassifier]]'s trained model —
    * what the quality filter actually keys on, the audit a curation team
    * runs before trusting a learned gate (a top feature like a site
    * boilerplate token flags leakage from weak label to model). Same
    * training pipeline as the classifier (one tokenize collapse, one
    * vocabulary rollup), no scoring join; the top-20 is a TakeOrdered
    * over the vocabulary-sized llr frame. The llr doubles come from
    * identical IEEE expression trees in both engines, so the |llr|
    * ordering is bit-reproducible.
    */
  def qualityNbTopFeatures(spark: SparkSession, dir: String): DataFrame = {
    val labeled = docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        gopherPass(F.tokens(col("text"))).as("label"),
        F.tokens(col("text")).as("toks"))
    val docTok = labeled
      .select(col("doc_id"), col("label"), explode(col("toks")).as("token"))
      .groupBy("doc_id", "label", "token")
      .agg(count(lit(1)).as("k"))
    val classTok = docTok.groupBy("token").agg(
      sum(when(col("label"), col("k")).otherwise(0L)).as("c_pass"),
      sum(when(!col("label"), col("k")).otherwise(0L)).as("c_fail"))
    val totals = classTok.agg(
      sum("c_pass").cast(DoubleType).as("np"),
      sum("c_fail").cast(DoubleType).as("nf"),
      count(lit(1)).cast(DoubleType).as("v"))
    classTok.crossJoin(broadcast(totals))
      .select(col("token"), col("c_pass"), col("c_fail"),
        (log((col("c_pass").cast(DoubleType) + 1.0d) / (col("np") + col("v"))) -
          log((col("c_fail").cast(DoubleType) + 1.0d) / (col("nf") + col("v"))))
          .as("llr_raw"))
      .orderBy(abs(col("llr_raw")).desc, col("token"))
      .limit(20)
      .select(col("token"), col("c_pass"), col("c_fail"),
        round(col("llr_raw"), 4).as("llr"))
  }

  /** Bigram-LM quality score — one Markov order up from
    * [[qualityUnigramLogprob]], the closest SQL-expressible analogue of
    * the KenLM-perplexity filter (CCNet): every document scored by the
    * occurrence-weighted mean log10 P(w_i | w_{i-1}) under the corpus's
    * own add-0.5-smoothed bigram model. Low scores flag unusually-worded
    * documents (the drop candidates); the unigram score misses local
    * word-order garbling that this catches.
    *
    * Scale: the (doc, w1, w2, k) collapse is the one corpus-sized shuffle
    * (map-side partials); the bigram- and unigram-count tables are
    * vocabulary-sized rollups of it; scoring is equi-joins on (w1, w2)
    * and w1 (Zipf-head skew → AQE). Smoothing denominators broadcast as a
    * 1-row frame. Documents under 2 tokens have no bigrams and are
    * excluded by construction.
    */
  def qualityBigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), F.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val docBi = base.select(col("doc_id"),
        explode(expr("transform(sequence(0, size(toks) - 2), " +
          "i -> named_struct('w1', toks[i], 'w2', toks[i + 1]))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("k"))
      .cache()
    // history counts derive from the SAME bigram table (cu = Σ_w2 cb), so
    // P(w2|w1) is the properly-normalized smoothed conditional AND the
    // corpus is tokenized exactly once; V = distinct histories
    val biCounts = docBi.groupBy("w1", "w2").agg(sum("k").as("cb"))
    val uniCounts = biCounts.groupBy("w1").agg(sum("cb").as("cu"))
    val vocab = uniCounts.agg(count(lit(1)).cast(DoubleType).as("v"))
    val result = docBi
      .join(biCounts, Seq("w1", "w2"))
      .join(uniCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"),
        round(sum(col("k").cast(DoubleType) *
          log10((col("cb").cast(DoubleType) + 0.5d) /
            (col("cu").cast(DoubleType) + col("v") * 0.5d))) /
          sum("k"), 4).as("avg_logprob"))
      .orderBy("doc_id")
    materializeAndRelease(result, docBi)
  }

  /** First-round BPE merge-pair statistics (Sennrich et al. 2016): the 20
    * most frequent adjacent character pairs inside corpus tokens — the
    * candidates the first merge of a BPE tokenizer build would pick, with
    * the classic word-frequency compression: pairs are counted once per
    * DISTINCT word and weighted by the word's corpus count, so the
    * character-level pass runs over the vocabulary, not the corpus. After
    * the one corpus-sized token count, everything is vocabulary-sized;
    * iterating merges (re-pair + recount per round) keeps that property —
    * this query exposes round 1, the shape of every round.
    */
  def bpePairStats(spark: SparkSession, dir: String): DataFrame = {
    val wordCounts = docs(spark, dir).filter(col("text").isNotNull)
      .select(explode(F.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("k"))
    wordCounts.filter(length(col("w")) >= 2)
      .select(col("k"),
        explode(expr("transform(sequence(1, length(w) - 1), " +
          "i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("k").as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(20)
  }

  /** Streaming↔batch DECONTAMINATION equivalence, oracle-checked: the
    * eval split replays as a stream through the real stream-static
    * [[graft.streaming.StreamingPipeline.streamingContamination]] operator
    * (train-gram evidence calibrated in batch with the same df cap as
    * [[contaminationCheck]], constant event time -> one window, Complete
    * output over the AvailableNow replay), then the per-doc hit counters
    * roll up to the batch operator's exact (n_eval, n_heavy_grams,
    * n_contaminated, rate) row — sharing `contamination_check`'s DuckDB
    * oracle verbatim. n_eval comes from the static side (an eval doc too
    * short to have any 5-gram emits no stream rows but still counts as
    * scanned). Proves the stream-static join + counter MATH, not just the
    * plumbing.
    */
  def contaminationCheckStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.functions.VectorFunctions.shingleIds
    val cap = 10000
    val split = when(h60(col("doc_id").cast(StringType)) % 100 < 80, "train")
      .otherwise("eval")
    val dB = docs(spark, dir)
      .select(col("doc_id"), split.as("split"),
        shingleIds(col("text"), 5).as("ids"))
      .cache()
    val trainDf = dB.filter(col("split") === "train")
      .select(explode(col("ids")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("df"))
      .cache()
    val nHeavy = trainDf.filter(col("df") > cap).count()
    val nEval = dB.filter(col("split") === "eval").count()
    // localCheckpoint: the static join side must not lazily re-run the
    // corpus shingle scan once per micro-batch probe
    val trainIds = trainDf.filter(col("df") <= cap).select("id")
      .localCheckpoint()
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(h60(col("doc_id").cast(StringType)) % 100 >= 80)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast(TimestampType))
    val mon = graft.streaming.StreamingPipeline
      .streamingContamination(src, trainIds)
    val sink = "contamination_stream_sink"
    val q = mon.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val nContaminated = spark.table(sink)
      .filter(col("n_hits") > 0).select("doc_id").distinct().count()
    spark.catalog.dropTempView(sink)
    dB.unpersist(); trainDf.unpersist()
    // same round() Column expression as the batch twin — no driver-side
    // float formatting that could diverge from engine rounding
    spark.createDataFrame(Seq((nEval, nHeavy, nContaminated)))
      .toDF("n_eval", "n_heavy_grams", "n_contaminated")
      .withColumn("contamination_rate",
        round(col("n_contaminated").cast(DoubleType) / col("n_eval"), 4))
  }

  /** Cross-modal curation profile: embeddings joined to their id-aligned
    * documents (vec_id = doc_id — the standard layout when one pipeline
    * embeds the corpus it curates), rolled up per IVF centroid bucket:
    * how large each embedding neighborhood is and what its TEXT looks
    * like (char volume, language spread, dominant language). This is the
    * joined-modality view a multimodal curation pass filters on — e.g.
    * drop clusters whose captions are short or language-inconsistent.
    * One broadcast-argmin assignment ([[graft.operators.VectorIndex
    * .assign]]), one equi-join to the narrow doc projection, bucket-keyed
    * rollups + a window argmax for the language mode — all fine-grained
    * keys, output O(buckets).
    */
  def multimodalJoinProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = normalized(spark, dir)
    val cents = centroidPick(e, 100)
      .select(col("vec_id").as("cent_id"), col("nv").as("cv"))
    val assigned = graft.operators.VectorIndex.assign(e, cents)
      .select(col("vec_id"), col("bucket"))
    val d = docs(spark, dir)
      .select(col("doc_id").as("vec_id"), col("lang"), col("n_chars"))
    val joined = assigned.join(d, Seq("vec_id")).cache()
    val main = joined.groupBy("bucket").agg(
      count(lit(1)).as("n_items"),
      round(avg(col("n_chars").cast(DoubleType)), 2).as("avg_chars"),
      countDistinct(col("lang")).as("n_langs"))
    val langN = joined.groupBy("bucket", "lang").agg(count(lit(1)).as("lc"))
    val wl = Window.partitionBy("bucket").orderBy(col("lc").desc, col("lang"))
    val topLang = langN.withColumn("rn", row_number().over(wl))
      .filter(col("rn") === 1)
      .select(col("bucket"), col("lang").as("top_lang"), col("lc"))
    val result = main.join(topLang, Seq("bucket"))
      .select(col("bucket"), col("n_items"), col("avg_chars"),
        col("n_langs"), col("top_lang"),
        round(col("lc").cast(DoubleType) / col("n_items"), 4)
          .as("top_lang_share"))
      .orderBy("bucket")
    materializeAndRelease(result, joined)
  }

  /** Vocabulary growth curve (Heaps' law instrument): distinct-token
    * vocabulary size and cumulative token volume at each decile of the
    * corpus in ingestion (doc_id) order — the corpus-health curve whose
    * log-log slope (~0.4-0.6 for natural text) flags templated or
    * exhausted sources when it flattens, complementing the frequency-side
    * [[textZipfSlope]]. Relational formulation: each token's FIRST
    * ownership doc (min doc_id per token — ONE corpus-sized shuffle on
    * the token key with map-side partial mins), then a 10-row decile
    * spine broadcast against the vocabulary-sized first-occurrence table;
    * vocab-at-checkpoint is a conditional count, never a running
    * accumulation, so nothing serializes.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), F.tokens(col("text")).as("toks"))
      .cache()
    val firstOcc = d.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("w").agg(min("doc_id").as("first_doc"))
    val perDoc = d.select(col("doc_id"),
      size(col("toks")).cast(LongType).as("nt"))
    val n = d.count() // bounded: one scalar
    val spine = spark.range(1, 11)
      .selectExpr("id AS decile", s"(id * ${n}L) DIV 10 AS max_id")
    val vocabAt = firstOcc.crossJoin(broadcast(spine))
      .groupBy("decile", "max_id")
      .agg(count(when(col("first_doc") < col("max_id"), 1)).as("vocab_size"))
    val toksAt = perDoc.crossJoin(broadcast(spine))
      .groupBy("decile")
      .agg(sum(when(col("doc_id") < col("max_id"), col("nt"))).as("cum_tokens"))
    val result = vocabAt.join(toksAt, Seq("decile"))
      .select(col("decile"), col("max_id").as("docs_seen"),
        coalesce(col("cum_tokens"), lit(0L)).as("cum_tokens"),
        col("vocab_size"))
      .orderBy("decile")
    materializeAndRelease(result, d)
  }

  /** Relational Bloom-filter prefilter for incremental ingest dedup — the
    * shuffle-free scale path beside the semi-join [[dedupIncremental]]:
    * the EXISTING corpus (src0) is summarized as the distinct set of k=3
    * md5-derived bit positions in an m = 2^20-slot filter, and each batch
    * document is flagged "maybe seen" iff ALL of its k positions are set.
    * The position set is bounded by m (~1M longs) NO MATTER the corpus
    * size — at 100 TB it broadcasts as a handful of MB and the probe is a
    * broadcast semi-join touching only the batch, where the exact-hash
    * probe would shuffle an ever-growing corpus hash set every ingest.
    * The Bloom contract is oracle-ASSERTED, not assumed: every true
    * duplicate must be flagged (n_false_neg = 0 is a checked output
    * column), false positives are counted and reported as the measured
    * fp_rate (the knob that sizes m in production). All hashing is
    * md5-of-hex-string arithmetic, so DuckDB rebuilds the identical
    * filter bit-for-bit.
    */
  def dedupBloom(spark: SparkSession, dir: String): DataFrame = {
    val m = 1L << 20
    val k = 3
    val d = docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .cache()
    val existing = d.filter(col("source") === "src0")
    val batch = d.filter(col("source") =!= "src0")
    def positions(c: Column): Column =
      array((0 until k).map(i => h60(concat(c, lit(s"#$i"))) % m): _*)
    val bits = existing.select(explode(positions(col("h"))).as("pos"))
      .distinct().cache()
    val probed = batch
      .select(col("doc_id"), col("h"), explode(positions(col("h"))).as("pos"))
      .join(bits.withColumn("_set", lit(1)), Seq("pos"), "left")
      .groupBy("doc_id", "h")
      .agg((count(col("_set")) === count(lit(1))).as("flagged"))
    val exact = batch.join(
        existing.select("h").distinct().withColumn("_dup", lit(1)),
        Seq("h"), "left")
      .select(col("doc_id"), col("_dup").isNotNull.as("is_dup"))
    val graded = probed.join(exact, Seq("doc_id"))
    val result = graded.agg(
        count(lit(1)).as("n_batch"),
        count(when(col("flagged"), 1)).as("n_flagged"),
        count(when(col("is_dup"), 1)).as("n_true_dup"),
        count(when(col("flagged") && !col("is_dup"), 1)).as("n_false_pos"),
        count(when(!col("flagged") && col("is_dup"), 1)).as("n_false_neg"))
      .crossJoin(existing.agg(count(lit(1)).as("n_existing")))
      .crossJoin(bits.agg(count(lit(1)).as("n_slots_set")))
      .select(col("n_existing"), col("n_batch"), col("n_slots_set"),
        col("n_flagged"), col("n_true_dup"), col("n_false_pos"),
        col("n_false_neg"),
        round((col("n_false_pos")).cast(DoubleType) /
          (col("n_batch") - col("n_true_dup")), 4).as("fp_rate"))
    materializeAndRelease(result, d, bits)
  }

  /** Token-budget allocation across sources with an epoch cap — the
    * data-constrained-scaling mixing step (Muennighoff et al. 2023): given
    * a training budget of `budgetMult`× the corpus tokens, allocate to
    * each source proportionally to a sqrt-upsampling weight, but never
    * repeat a source beyond `epochCap` epochs. Solved EXACTLY as capped
    * proportional allocation (water-filling): the capped sources form a
    * prefix of the cap/weight-ascending order, so a single window pass
    * over the (tiny, one-row-per-source) table finds the unique lambda
    * with `alloc_s = min(cap_s, lambda * w_s)` and `sum(alloc) = budget`
    * — no iteration, no driver loop, and the identical closed form runs
    * in the DuckDB oracle. Corpus work is one token-count aggregation;
    * everything after is O(n_sources).
    */
  def mixtureEpochSchedule(spark: SparkSession, dir: String): DataFrame = {
    val epochCap = 2.1
    val budgetMult = 2.0
    val perSource = docs(spark, dir).filter(col("text").isNotNull)
      .select(col("source"), size(F.tokens(col("text"))).cast(LongType).as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
      .withColumn("w", sqrt(col("n_tokens").cast(DoubleType)))
      .withColumn("cap", col("n_tokens").cast(DoubleType) * epochCap)
    val totals = perSource.agg(
      sum(col("n_tokens").cast(DoubleType)).as("t_total"),
      sum("w").as("w_total"))
    val byRatio = Window.orderBy(col("cap") / col("w"), col("source"))
    val cum = perSource.crossJoin(broadcast(totals))
      .withColumn("budget", col("t_total") * budgetMult)
      .withColumn("ratio", col("cap") / col("w"))
      .withColumn("cumcap_prev", sum("cap").over(byRatio) - col("cap"))
      .withColumn("cumw_prev", sum("w").over(byRatio) - col("w"))
      // lambda if every STRICTLY-smaller-ratio source is capped; valid at
      // the unique row where it lands between the neighboring ratios
      .withColumn("lambda_at",
        (col("budget") - col("cumcap_prev")) / (col("w_total") - col("cumw_prev")))
      .withColumn("prev_ratio",
        lag("ratio", 1, Double.NegativeInfinity).over(byRatio))
    val lambda = cum.agg(min(when(
      col("prev_ratio") <= col("lambda_at") &&
        col("lambda_at") <= col("ratio"), col("lambda_at"))).as("lambda"))
    // null lambda = budget >= total cap: every source caps out
    perSource.crossJoin(broadcast(lambda))
      .select(col("source"), col("n_tokens"),
        round(col("cap"), 1).as("cap_tokens"),
        round(least(col("cap"), col("lambda") * col("w")), 1)
          .as("alloc_tokens"),
        round(least(col("cap"), col("lambda") * col("w")) /
          col("n_tokens"), 4).as("epochs"),
        (coalesce(col("lambda") * col("w"), col("cap")) >= col("cap"))
          .as("capped"))
      .orderBy("source")
  }

  /** IVF retrieval quality as a FUNCTION of nprobe (1..3): the recall@5
    * curve a 100 TB deployment reads to pick its probe width, extending
    * the single-point [[simIvfRecall]]. Candidates are generated ONCE at
    * the widest probe with the probe rank carried; each curve point is a
    * filter + re-rank over that cached candidate frame (small: queries ×
    * probed buckets), so the corpus is scanned once, not once per point.
    * Ground truth is the memoized [[bruteforceTopk]]. All operands are
    * data-derived and md5-deterministic — the whole curve is
    * oracle-checked. Recall must be non-decreasing in nprobe
    * (CorpusOpsSpec pins it).
    */
  def simRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vecDot
    val maxProbe = 3
    val exact = bruteforceTopk(spark, dir).select("query_id", "neighbor_id")
    val e = normalized(spark, dir).cache()
    val cents = centroidPick(e, 100)
      .select(col("vec_id").as("cent_id"), col("nv").as("cv"))
    val data = graft.operators.VectorIndex.assign(e, cents)
      .select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("nv").as("nvv"))
    val qsims = e.join(broadcast(probeIds(e)), Seq("vec_id"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("nv"), col("cent_id"),
        round(vecDot(col("nv"), col("cv")), 4).as("csim"))
    val wProbe = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cent_id"))
    val qProbe = qsims.withColumn("probe_rn", row_number().over(wProbe))
      .filter(col("probe_rn") <= maxProbe)
      .select(col("vec_id").as("query_id"), col("nv").as("qv"),
        col("cent_id").as("bucket"), col("probe_rn"))
    // each data vector lives in exactly one bucket and a query probes
    // distinct buckets, so (query, neighbor) pairs are already unique
    val cand = qProbe.join(data, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("probe_rn"), col("neighbor_id"),
        round(vecDot(col("qv"), col("nvv")), 4).as("sim"))
      .cache()
    val w5 = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val points = (1 to maxProbe).map { np =>
      val approx = cand.filter(col("probe_rn") <= np)
        .withColumn("rank", row_number().over(w5))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("_hit", lit(1))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("exact_pairs"),
          count(col("_hit")).as("hits"))
        .select(lit(np.toLong).as("nprobe"), col("exact_pairs"), col("hits"),
          round(col("hits").cast(DoubleType) / col("exact_pairs"), 4)
            .as("recall"))
    }
    val result = points.reduce(_ unionAll _).orderBy("nprobe")
    materializeAndRelease(result, e, cand)
  }

  /** Chunk-level boilerplate scan per source — the CCNet/template-removal
    * move: a 16-token chunk (same md5 chunking as [[dedupParagraphs]])
    * that appears in >= 2 DISTINCT documents of one source is template
    * text (navigation, license headers, OCR furniture), and the report
    * gives each source its boilerplate surface: how many chunk types are
    * boilerplate, how many documents carry any, and the token-weighted
    * fraction a strip pass would remove. Distinct-per-doc df first, so a
    * chunk repeated WITHIN one doc (self-repetition, [[qualityRepetition]]'s
    * business) never inflates df. The df cap is the production tuning knob
    * (CCNet uses "shared across many shards"); 2 here is calibrated to the
    * synthetic corpus so the flag path is exercised at every test sf
    * (per-source df maxes at 2-4 on this data). Every shuffle keys on the 16-byte chunk
    * hash or the source — fine-grained, map-side-combined, corpus-linear;
    * the flagged set (df >= cap) is tiny and broadcast back.
    */
  def textBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val dfCap = 2
    val chunks = docs(spark, dir)
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, int((size(w) + 15) div 16) - 1), " +
          "i -> md5(concat_ws(' ', slice(w, i * 16 + 1, 16))))")).as("h"))
      .cache()
    val df = chunks.select("source", "h", "doc_id").distinct()
      .groupBy("source", "h").agg(count(lit(1)).as("df"))
    val flagged = df.filter(col("df") >= dfCap)
      .select("source", "h").withColumn("_bp", lit(1))
    val perDoc = chunks.join(broadcast(flagged), Seq("source", "h"), "left")
      .groupBy("source", "doc_id")
      .agg(count(lit(1)).as("nch"), count(col("_bp")).as("bp"))
    val perSource = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nch").as("total_chunks"),
        sum("bp").as("bp_instances"),
        count(when(col("bp") > 0, 1)).as("affected_docs"))
    val types = flagged.groupBy("source")
      .agg(count(lit(1)).as("bp_chunk_types"))
    val result = perSource.join(types, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_chunks"),
        coalesce(col("bp_chunk_types"), lit(0L)).as("bp_chunk_types"),
        col("bp_instances"), col("affected_docs"),
        round(col("bp_instances").cast(DoubleType) / col("total_chunks"), 4)
          .as("bp_frac"))
      .orderBy("source")
    materializeAndRelease(result, chunks)
  }

  /** Streaming↔batch Bloom-probe equivalence, oracle-checked: the batch
    * corpus bit set ([[dedupBloom]]'s filter state) is built once and
    * localCheckpointed, then the batch side of the corpus replays through
    * the real watermarked
    * [[graft.streaming.StreamingPipeline.streamingBloomProbe]]
    * (stream-static left join, `Trigger.AvailableNow`, constant event
    * time -> one window). The flagged count must equal the batch
    * operator's `n_flagged` — the DuckDB oracle recomputes the identical
    * filter relationally, proving the streaming probe's hashing and
    * all-k-hit MATH, not just its plumbing.
    */
  def dedupBloomStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val m = 1L << 20
    val k = 3
    val d = docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .cache()
    val existing = d.filter(col("source") === "src0")
    def positions(c: Column): Column =
      array((0 until k).map(i => h60(concat(c, lit(s"#$i"))) % m): _*)
    // localCheckpoint: the static join side must not lazily re-run the
    // corpus hash scan once per micro-batch probe
    val bits = existing.select(explode(positions(col("h"))).as("pos"))
      .distinct().localCheckpoint()
    val nExisting = existing.count()
    val nSlots = bits.count()
    d.unpersist()
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("source") =!= "src0" && col("text").isNotNull)
      .withColumn("ts", lit("2026-01-01 00:00:00").cast(TimestampType))
    val mon = graft.streaming.StreamingPipeline
      .streamingBloomProbe(src, bits, m, k)
    val sink = "bloom_stream_sink"
    val q = mon.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val nBatch = spark.table(sink).count()
    val nFlagged = spark.table(sink).filter(col("flagged")).count()
    spark.catalog.dropTempView(sink)
    spark.createDataFrame(Seq((nExisting, nBatch, nSlots, nFlagged)))
      .toDF("n_existing", "n_batch", "n_slots_set", "n_flagged")
  }

  /** Embedding near-dup rate as a FUNCTION of the cosine threshold
    * (0.3 / 0.4 / 0.5) — the knob-tuning table for [[dedupEmbeddingBanded]]
    * (whose fixed 0.4 is one row here): a production dedup rollout reads
    * this curve to trade recall against over-deletion before committing a
    * threshold. The banded candidate pipeline runs ONCE; every curve point
    * is a conditional distinct-count inside the SAME single aggregation
    * (`stack` unpivots the one-row result), so the sweep costs one band
    * join no matter how many thresholds it reports.
    */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val thresholds = Seq(0.3, 0.4, 0.5)
    val e = normalized(spark, dir).cache()
    val cents = centroidPick(e, 50)
      .select(col("vec_id").as("cent_id"), col("nv").as("cv"))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      countDistinct(when(col("cos") >= t,
        struct(col("doc_a"), col("doc_b")))).as(s"dp_$i"),
      countDistinct(when(col("cos") >= t, col("doc_b"))).as(s"nd_$i")) }
    val row = bandedScoredPairs(e, cents)
      .agg(countDistinct(col("doc_a"), col("doc_b")).as("candidate_pairs"),
        aggs: _*)
      .crossJoin(e.agg(count(lit(1)).as("n_vecs")))
    val stackArgs = thresholds.zipWithIndex.map { case (t, i) =>
      s"CAST($t AS DOUBLE), dp_$i, nd_$i" }.mkString(", ")
    val result = row.selectExpr("n_vecs", "candidate_pairs",
        s"stack(${thresholds.length}, $stackArgs) AS " +
          "(threshold, dup_pairs, n_dropped)")
      .select(col("threshold"), col("n_vecs"), col("candidate_pairs"),
        col("dup_pairs"), col("n_dropped"),
        (col("n_vecs") - col("n_dropped")).as("n_kept"))
      .orderBy("threshold")
    materializeAndRelease(result, e)
  }

  /** Train/eval contamination rate as a FUNCTION of the n-gram size
    * (4 / 5 / 6) — the sensitivity sweep for [[contaminationCheck]] (whose
    * fixed 5-gram check is the middle row): shorter grams over-flag
    * (common phrases), longer grams under-flag (miss paraphrase edits);
    * the curve shows where the rate stabilizes, which is how a
    * decontamination pipeline picks n before a release. Each arm is the
    * identical capped semi-join machinery at a different shingle width —
    * corpus-linear per arm, heavy-gram df cap carried throughout.
    */
  def contaminationGramSweep(spark: SparkSession, dir: String): DataFrame = {
    val arms = Seq(4, 5, 6).map { n =>
      contaminationCheckCapped(spark, dir, 10000, n)
        .select(lit(n.toLong).as("gram_n"), col("n_eval"),
          col("n_heavy_grams"), col("n_contaminated"),
          col("contamination_rate"))
    }
    arms.reduce(_ unionAll _).orderBy("gram_n")
  }

  /** Dedup-bias calibration audit: does near-dup-cluster membership
    * correlate with document quality? Training-data dedup silently shifts
    * the quality mix when duplicated content is systematically better or
    * worse than unique content (mirrored reference pages vs spam farms) —
    * this two-row table (in-cluster vs not: doc count, mean tokens, mean
    * stopword ratio) is the check a curation pipeline runs before trusting
    * "drop all dups" as quality-neutral. Composes the shared memoized
    * cluster labels ([[sharedClusterLabels]] — edge-docs only, small)
    * with a narrow per-doc score projection; one broadcast-sized left
    * join, one 2-group aggregate, corpus-linear.
    */
  def dupQualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val labels = sharedClusterLabels(spark, dir).select(col("id"))
    val toks = F.tokens(col("text"))
    val scored = docs(spark, dir)
      .select(col("doc_id"), size(toks).cast(LongType).as("nt"),
        round(F.stopwordCount(toks).cast(DoubleType) / size(toks), 6)
          .as("score"))
    scored.join(labels.withColumn("_d", lit(1)),
        scored("doc_id") === labels("id"), "left")
      .groupBy(col("_d").isNotNull.as("in_dup_cluster"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg("nt"), 2).as("avg_tokens"),
        round(avg("score"), 4).as("avg_stop_ratio"))
      .orderBy("in_dup_cluster")
  }

  /** Length-sorted vs arrival-order sequence packing — the measured case
    * for the length-sort trick: both packings concatenate each shard's
    * documents into fixed 256-token sequences ([[packSequences]]'
    * semantics), but sorting by length first packs like-sized documents
    * together, cutting the number of documents SPLIT across a sequence
    * boundary (truncation waste + cross-document attention pollution; the
    * sequence count itself is order-invariant at ceil(total/L)). Two
    * window cumsums per shard over the same narrow (doc_id, n) projection
    * — the sort is per-shard on a fine-grained key, never global.
    */
  def packSortedCompare(spark: SparkSession, dir: String): DataFrame = {
    val L = 256
    val t = docs(spark, dir)
      .select(col("doc_id"),
        size(F.tokens(col("text"))).cast(LongType).as("n"))
      .withColumn("shard", pmod(col("doc_id"), lit(8)).cast(LongType))
    def crossesOver(w: org.apache.spark.sql.expressions.WindowSpec) = {
      val cum = sum("n").over(w)
      (floor((cum - col("n")) / L) =!= floor((cum - 1) / L)).cast(LongType)
    }
    val arrival = t
      .withColumn("x",
        crossesOver(Window.partitionBy("shard").orderBy("doc_id")))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("total_tokens"),
        floor((sum("n") + L - 1) / L).cast(LongType).as("n_sequences"),
        sum("x").as("boundary_arrival"))
    val sorted = t
      .withColumn("x", crossesOver(
        Window.partitionBy("shard").orderBy(col("n").desc, col("doc_id"))))
      .groupBy("shard").agg(sum("x").as("boundary_sorted"))
    arrival.join(sorted, Seq("shard"))
      .select(col("shard"), col("n_docs"), col("total_tokens"),
        col("n_sequences"), col("boundary_arrival"), col("boundary_sorted"),
        (col("boundary_arrival") - col("boundary_sorted"))
          .as("boundary_saved"))
      .orderBy("shard")
  }

  /** Language-ID confusion matrix against the corpus's labeled `lang`
    * column — the proper evaluation table behind [[textLangid]]'s
    * per-prediction rollup: every (true lang, predicted) cell with its
    * count and row-normalized rate. The diagonal is per-language recall;
    * off-diagonal mass shows WHICH languages the n-gram heuristic
    * confuses (the table that decides whether a language needs more
    * marker words before the classifier gates real traffic). One
    * fine-grained two-key aggregation + an O(langs) totals join — the
    * matrix is O(langs²) rows at any corpus size.
    */
  def textLangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("lang"),
        F.langId(col("text"), F.tokens(col("text"))).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("lang").agg(sum("n").as("n_lang"))
    counts.join(totals, Seq("lang"))
      .select(col("lang"), col("predicted"), col("n"),
        round(col("n").cast(DoubleType) / col("n_lang"), 4).as("rate"))
      .orderBy("lang", "predicted")
  }

  /** Exact dedup over MULTIMODAL payloads — the binary-column face of
    * [[dedupExact]]: media records ([[Multimodal.documentsAsMedia]]'s
    * opaque `binary` payloads) dedup by payload digest per modality, and
    * the report adds the storage angle a media lake cares about:
    * reclaimable bytes (total payload bytes minus one copy per distinct
    * digest). Two-level aggregation — (modality, digest) first with
    * map-side partials, then the per-modality rollup — so only 16-byte
    * digests shuffle, NEVER the payloads; at 100 TB of media that is the
    * whole ballgame.
    */
  def multimodalDedup(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.documentsAsMedia(
      docs(spark, dir).filter(col("text").isNotNull)).toDF()
    val per = media
      .groupBy(col("media_type"), md5(col("payload")).as("h"))
      .agg(count(lit(1)).as("k"),
        min(length(col("payload"))).cast(LongType).as("blen"))
    per.groupBy("media_type")
      .agg(sum("k").as("n_records"),
        count(lit(1)).as("n_distinct"),
        (sum("k") - count(lit(1))).as("dup_records"),
        sum(col("k") * col("blen")).as("total_bytes"),
        (sum(col("k") * col("blen")) - sum("blen")).as("reclaimable_bytes"))
      .orderBy("media_type")
  }

  /** Corpus snapshot diff — the training-data VERSIONING operator: given
    * two crawl snapshots, report per source how many documents were
    * added, removed, changed (content hash moved), and unchanged. The
    * snapshots are simulated deterministically from the corpus (previous
    * = drop `doc_id % 7 == 0`, with `% 5 == 0` docs carried as a
    * truncated prior revision; current = drop `% 11 == 0`), but the
    * operator is the real shape: a full-outer join of 16-byte digest
    * projections on the id key — documents themselves never shuffle —
    * with change detection as a digest comparison. The diff a pipeline
    * publishes alongside each corpus release.
    */
  def corpusSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(col("text").isNotNull)
    val prev = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source"),
        md5(when(col("doc_id") % 5 === 0, substring(col("text"), 1, 100))
          .otherwise(col("text"))).as("h_prev"))
    val curr = d.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("source").as("source_c"),
        md5(col("text")).as("h_curr"))
    prev.join(curr, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source"), col("source_c")).as("src"),
        col("h_prev"), col("h_curr"))
      .groupBy(col("src").as("source"))
      .agg(count(col("h_prev")).as("n_prev"),
        count(col("h_curr")).as("n_curr"),
        count(when(col("h_prev").isNull, 1)).as("added"),
        count(when(col("h_curr").isNull, 1)).as("removed"),
        count(when(col("h_prev").isNotNull && col("h_curr").isNotNull &&
          col("h_prev") =!= col("h_curr"), 1)).as("changed"),
        count(when(col("h_prev") === col("h_curr"), 1)).as("unchanged"))
      .orderBy("source")
  }

  /** Cosine RANGE search — the "every neighbor within a similarity
    * radius" API beside the top-k family (dedup candidate pulls and
    * recall-oriented retrieval want all matches, not the best k): the
    * fixed probe batch routes through the SAME IVF top-2 probe stage as
    * [[simTopkIvf]] ([[ivfProbeScored]]), then a radius filter replaces
    * the rank window — no per-query sort at all, which is the point: at
    * scale a range query is a filter + count over the probed buckets,
    * strictly cheaper than top-k. Zero-match queries stay in the report
    * (left join against the probe batch) because "nothing within 0.5" is
    * the answer that matters for coverage monitoring. Radius 0.3 is
    * calibrated to this corpus's cosine density (see dedupThresholdSweep).
    */
  def simRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val radius = 0.3
    val e = normalized(spark, dir).cache()
    val matches = ivfProbeScored(e).filter(col("sim") >= radius)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_matches"), max("sim").as("top_sim"),
        round(avg("sim"), 4).as("avg_sim"))
    val base = e.join(broadcast(probeIds(e)), Seq("vec_id"))
      .select(col("vec_id").as("query_id"))
    val result = base.join(matches, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("top_sim"), col("avg_sim"))
      .orderBy("query_id")
    materializeAndRelease(result, e)
  }

  /** IVF index health report: per-bucket vector counts and the imbalance
    * statistics an ANN deployment monitors (max/avg bucket ratio — skewed
    * buckets are exactly the probes that blow the latency budget, and the
    * signal to re-train centroids or re-split hot cells). One argmin
    * assignment pass ([[graft.operators.VectorIndex.assign]], map-side
    * combined) + an O(n_centroids) rollup; the per-bucket table is
    * centroid-sized at any corpus scale.
    */
  def embIvfBalance(spark: SparkSession, dir: String): DataFrame = {
    val e = normalized(spark, dir).cache()
    val cents = centroidPick(e, 100)
      .select(col("vec_id").as("cent_id"), col("nv").as("cv"))
    val counts = graft.operators.VectorIndex.assign(e, cents)
      .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
    val result = counts.agg(
        count(lit(1)).as("n_buckets"),
        sum("n_vecs").as("n_assigned"),
        max("n_vecs").as("max_bucket"),
        min("n_vecs").as("min_bucket"))
      .crossJoin(broadcast(cents.agg(count(lit(1)).as("n_centroids"))))
      .select(col("n_centroids"), col("n_buckets"), col("n_assigned"),
        col("max_bucket"), col("min_bucket"),
        round(col("max_bucket").cast(DoubleType) * col("n_buckets") /
          col("n_assigned"), 4).as("imbalance"))
    materializeAndRelease(result, e)
  }

  /** Quality-filter AGREEMENT diagnostic: Spearman rank correlation
    * between three per-document quality signals (token length, stopword
    * ratio, corpus-unigram log-probability) — the check a curation
    * pipeline runs before composing filters: signals that rank documents
    * near-identically are redundant gates, signals that anti-correlate
    * will fight each other in an ensemble. Computed as EXACT integer
    * Spearman (`1 - 6·Σd²/(n·(n²-1))` over doc_id-tie-broken
    * row_number ranks — a permutation, so the closed form applies and
    * every intermediate is integer arithmetic, bit-identical across
    * engines; no floating corr() whose co-moment order could diverge).
    * One corpus pass per signal, three rank windows over the per-doc
    * table, ONE aggregation for all three pairs. The global rank windows
    * serialize on the doc table — at billions of docs switch to
    * approximate percentile ranks; the rho semantics stay the contract.
    */
  def qualityMetricAgreement(spark: SparkSession, dir: String): DataFrame = {
    val toks = F.tokens(col("text"))
    val base = docs(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), size(toks).cast(LongType).as("nt"),
        round(F.stopwordCount(toks).cast(DoubleType) / size(toks), 6)
          .as("stop_ratio"))
    val docTok = docs(spark, dir)
      .select(col("doc_id"), explode(F.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("k"))
    // DELIBERATELY tokenized twice (base + docTok): a shared cached
    // token-array projection was paired-adjudicated in round 15
    // (interleaved best-of-5 x3 sessions, v2/v1 median ratios 0.81 /
    // 1.07 / 1.02 ≈ 1.0 — the three distributed ranks dominate, not the
    // tokenize) and REJECTED: caching O(corpus tokens) arrays is the
    // wrong trade at scale (spill pressure), while the recompute
    // streams. The r13→r14 quiet movement on this entry (2.46→4.49 s)
    // is data-regeneration + window noise — identical code swung
    // 4.1–5.6 s within one adjudication session.
    val counts = docTok.groupBy("token").agg(sum("k").as("c"))
    val total = counts.agg(sum("c").cast(DoubleType).as("n"))
    val lp = docTok.join(counts, "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(sum(col("k") * log10(col("c") / col("n"))) / sum("k"), 4)
        .as("avg_logprob"))
    // three EXACT doc-table-sized ranks in ONE distributed rank pass
    // (round 19): the r18 shape ran the RankOps machinery three times
    // over per-metric projections and equi-joined the rank columns back
    // on doc_id — a 118 KB / 189-Exchange physical plan whose
    // planning+scheduling dominated the entry (7.6 s quiet, ~43 jobs).
    // Unpivoting to (metric_idx, value, doc_id) and ranking the
    // CONCATENATED total order (midx, v, doc_id) gives each metric block
    // ranks (midx·n+1 .. (midx+1)·n) in its own (value, doc_id) order —
    // the same gapless per-metric rank, recovered arithmetically as
    // r − midx·n (every metric has exactly n rows: the inner join with
    // lp keeps only docs with ≥1 token, where all three signals are
    // non-null). One sample + one cut broadcast + one bucket window for
    // all three metrics, and the two rank-column joins become one
    // groupBy(doc_id) pivot. nt rides as double — exact for any token
    // count below 2^53, and double ordering equals long ordering there.
    // minor = doc_id splits the HEAVY (midx, v) tie classes (stop_ratio
    // exactly 0 …) across buckets, as before.
    val joined = base.join(lp, Seq("doc_id")).cache()
    val unp = joined.selectExpr("doc_id",
      "stack(3, 0L, cast(nt as double), 1L, stop_ratio, 2L, avg_logprob)" +
        " AS (midx, v)")
    val rk = graft.operators.RankOps.withPartedRankAndCount(unp,
      col("midx"), col("v"), Seq(col("doc_id")), "r", "n3",
      minor = Some(col("doc_id")))
    val ranked = rk
      // `div`, not `/`: SQL `/` on longs is DOUBLE division — the rank
      // arithmetic must stay integer end-to-end (n3 = 3n exactly)
      .withColumn("pr", col("r") - col("midx") * expr("n3 div 3"))
      .groupBy("doc_id")
      .agg(max(when(col("midx") === 0L, col("pr"))).as("r_len"),
        max(when(col("midx") === 1L, col("pr"))).as("r_stop"),
        max(when(col("midx") === 2L, col("pr"))).as("r_lp"))
    def d2(a: String, b: String) =
      sum((col(a) - col(b)) * (col(a) - col(b)))
    val s = ranked.agg(count(lit(1)).as("n"),
      d2("r_len", "r_stop").as("d_ls"),
      d2("r_len", "r_lp").as("d_ll"),
      d2("r_stop", "r_lp").as("d_sl"))
    val result = s.selectExpr("n",
        "stack(3, 'len_vs_logprob', d_ll, 'len_vs_stopword', d_ls, " +
          "'stopword_vs_logprob', d_sl) AS (metric_pair, d2)")
      .select(col("metric_pair"), col("n").as("n_docs"),
        round(lit(1.0) - lit(6.0) * col("d2") /
          (col("n") * (col("n") * col("n") - 1)), 4).as("rho"))
      .orderBy("metric_pair")
    materializeAndRelease(result, joined)
  }

  /** Measured recall of the MinHash-LSH band scheme ([[dedupMinhashLsh]],
    * 8 bands x 2 rows) against the TRUE Jaccard>=0.2 pair set — completes
    * the measured-quality matrix for the MinHash family (the embedding
    * family has [[dedupBandedRecall]]; LSH ANN has [[simLshRecall]]).
    * Ground truth is itself sub-quadratic: J>=0.2 requires a shared
    * shingle, so gram-keyed pair generation (df-capped like
    * [[sourceOverlap]]) finds every true pair without an all-pairs scan —
    * the df cap is shared with the oracle, so a heavy-gram-only pair is
    * excluded identically on both sides. The theoretical candidate rate at
    * J=0.2 with b=8,r=2 is 1-(1-J^2)^8 ~ 0.28, so a LOW measured recall
    * near threshold is the honest, expected number — this query is how a
    * deployment picks b/r for its threshold, with the answer verified.
    */
  def dedupMinhashRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{jaccardIds, minhashSig, shingleIds}
    val withIds = docs(spark, dir).select(col("doc_id"),
        shingleIds(col("text"), 2).as("ids"))
      .withColumn("sig", minhashSig(col("ids"), 16))
      .cache()
    // exact truth: pairs sharing >= 1 (df-capped) shingle, verified
    // Jaccard — the recall family's shared-ground-truth pattern: memoized
    // per (session, dir) and eagerly materialized, because the truth scan
    // is a VERIFIER whose cost tracks the corpus's near-dup density (it
    // tripled on one driver-regenerated corpus), not the LSH path this
    // query measures
    val gramBanded = withIds.select(col("doc_id"), col("ids"),
      explode(col("ids")).as("band"))
    val truth = DirMemo.getOrCompute("mh_truth_pairs", spark, dir)(
      prunedBandPairs(gramBanded, Seq("ids"))
        .filter(jaccardIds(col("ids_a"), col("ids_b")) >= 0.2)
        .select("doc_a", "doc_b").distinct().localCheckpoint())
    // LSH candidates through the same machinery the dedup default uses
    val lshBanded = withIds.select(col("doc_id"),
      explode(F.bandKeys(col("sig"), 8, 2)).as("band"))
    val cand = lshCandidatePairs(lshBanded).withColumn("_hit", lit(1))
    materializeAndRelease(
      truth.join(cand, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("true_pairs"), count(col("_hit")).as("lsh_hits"))
        .select(col("true_pairs"), col("lsh_hits"),
          when(col("true_pairs") === 0, lit(1.0d)).otherwise(
            round(col("lsh_hits").cast(DoubleType) / col("true_pairs"), 4))
            .as("recall")),
      withIds)
  }

  /** Cross-split exact-text leakage audit — the eval-hygiene check that
    * must gate every release: when the SAME text lands in two different
    * [[splitTrainVal]] splits (the corpus has exact duplicates, and the
    * id-hash split is content-blind by design), val/test scores are
    * contaminated. Counts, per split pair, the distinct texts present on
    * both sides plus the total documents those texts cover. Plan: one
    * hash-aggregate keyed on md5(text) carrying three 0/1 split
    * indicators via max() (map-side combine collapses each text's docs
    * before the exchange), then a scalar rollup — O(distinct texts)
    * through the only shuffle, no join at all. The content-keyed variant
    * of this audit (near-dup leakage) is [[contaminationCheck]]; this one
    * is the exact tier.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val bucket = h60(col("doc_id").cast(StringType)) % 100
    val perText = docs(spark, dir)
      .select(
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"),
        md5(col("text")).as("h"))
      .groupBy("h")
      .agg(
        max(when(col("split") === "train", 1L).otherwise(0L)).as("in_train"),
        max(when(col("split") === "val", 1L).otherwise(0L)).as("in_val"),
        max(when(col("split") === "test", 1L).otherwise(0L)).as("in_test"),
        count(lit(1)).as("n_docs"))
    val spans = col("in_train") + col("in_val") + col("in_test") >= 2
    perText.agg(
      count(lit(1)).as("n_distinct_texts"),
      sum(when(spans, 1L).otherwise(0L)).as("leaked_texts"),
      sum(when(col("in_train") === 1 && col("in_val") === 1, 1L)
        .otherwise(0L)).as("train_val"),
      sum(when(col("in_train") === 1 && col("in_test") === 1, 1L)
        .otherwise(0L)).as("train_test"),
      sum(when(col("in_val") === 1 && col("in_test") === 1, 1L)
        .otherwise(0L)).as("val_test"),
      sum(when(spans, col("n_docs")).otherwise(0L)).as("docs_in_leaked_texts"))
  }

  /** Eval-decontamination FILTER — the transform that applies
    * [[contaminationCheck]]'s evidence in the training direction: a train
    * document is dropped when it shares any 5-gram with any eval document
    * (so the model never trains on eval content), reported as the
    * post-filter corpus per source. The df cap excludes boilerplate grams
    * (train-df > 10000) from evidence — without it one stopword-like gram
    * drops the whole corpus AND concentrates one shuffle key. Plan: the
    * shingle projection is computed once (cached, released after
    * materialize); evidence = eval grams minus heavy grams (anti-join on
    * the gram id); dropped train docs come from ONE left-semi join keyed
    * on the gram id — df-capped fan-out per key, O(corpus grams) total,
    * never doc×doc. The per-source rollup then aggregates O(docs) rows.
    */
  /** [[decontamFilter]] through the PERSISTED eval-gram index
    * ([[graft.operators.ContamIndex]]) — the release-loop shape: eval
    * suites are fixed, so their gram evidence is extracted once at build
    * time and each training batch probes it (partition-pruned, O(batch +
    * collisions)) instead of re-shingling the eval side per check. Same
    * split, cap, and rollup as the inline filter, so the two share one
    * oracle; build and probe are timed separately for the bench (the
    * probe is the steady state). Scratch index lifecycle follows
    * [[dedupIndexNovelTimed]].
    */
  def decontamIndex(spark: SparkSession, dir: String): DataFrame =
    decontamIndexTimed(spark, dir)._1

  def decontamIndexTimed(spark: SparkSession,
                         dir: String): (DataFrame, Double, Double) = {
    val split = when(h60(col("doc_id").cast(StringType)) % 100 < 80, "train")
      .otherwise("eval")
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), split.as("split"), col("text"),
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .cache()
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val idx = s"$warehouse/graft_scratch/ct_${java.util.UUID.randomUUID()}"
    try {
      val t0 = System.nanoTime()
      graft.operators.ContamIndex.build(
        d.filter(col("split") === "eval").select("doc_id", "text"), idx)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val train = d.filter(col("split") === "train")
      val kept = graft.operators.ContamIndex.decontaminate(spark,
          train.select("doc_id", "text"), idx)
        .select(col("doc_id"), lit(1L).as("_keep"))
      val result = materializeAndRelease(
        train.join(kept, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_train_docs"),
            sum(when(col("_keep").isNull, 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("_keep").isNotNull, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("_keep").isNotNull, col("n_tokens")).otherwise(0L))
              .as("tokens_kept"))
          .orderBy("source"),
        d)
      val tProbe = (System.nanoTime() - t1) / 1e9
      (result, tBuild, tProbe)
    } catch {
      case err: Throwable => d.unpersist(blocking = false); throw err
    } finally {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  def decontamFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.shingleIds
    val cap = 10000
    val split = when(h60(col("doc_id").cast(StringType)) % 100 < 80, "train")
      .otherwise("eval")
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), split.as("split"),
        shingleIds(col("text"), 5).as("ids"),
        size(F.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .cache()
    val exploded = d.select(col("doc_id"), col("split"),
      explode(col("ids")).as("id"))
    val trainGrams = exploded.filter(col("split") === "train")
    val heavy = trainGrams.groupBy("id").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("id")
    val evidence = exploded.filter(col("split") === "eval")
      .select("id").distinct()
      .join(heavy, Seq("id"), "left_anti")
    val dropped = trainGrams
      .join(evidence, Seq("id"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("_drop", lit(1L))
    materializeAndRelease(
      d.filter(col("split") === "train")
        .join(dropped, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_train_docs"),
          sum(when(col("_drop").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("_drop").isNull, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("_drop").isNull, col("n_tokens")).otherwise(0L))
            .as("tokens_kept"))
        .orderBy("source"),
      d)
  }

  private type Column = org.apache.spark.sql.Column
}
