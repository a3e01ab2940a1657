package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The storage-native probe-pruning primitives shared by the persisted
  * indexes ([[MinhashIndex]], [[ContamIndex]]): every probe-keyed file is
  * written with bounded row groups, per-row-group parquet BLOOM filters
  * on the probe key, and key-sorted rows (row-group min/max); a probe
  * pushes its own key set as native `In` literals, which the blooms and
  * range stats turn into exact row-group skipping — a batch whose keys
  * are absent reads ~zero rows, one whose keys hit reads only the hit
  * row groups. Adjudicated in round 15 against a custom bitmap Bloom
  * sidecar (rejected by its own rows-axis instrument: min(m/64, k·n)
  * floor per probe — more than the table it guarded); the storage-native
  * design measured 38× fewer probe rows at the 20× drain.
  *
  * EVERY literal push is cost-gated (round 17): the literal machinery
  * has a FIXED wall cost (plan + per-row-group eval, ~10µs/literal,
  * measured flat with table size in the bench ledger) that pays for
  * itself only when the read it skips is larger — below the break-even
  * a partition-pruned full scan is simply cheaper, and at toy index
  * sizes the ungated push was the committed suite's single worst
  * code-delta regression (`dedup_index_novel` 2.8→10.2 s, r16 verdict).
  * The gate compares literal count against scanned-dir bytes
  * ([[pushWorthIt]]); pruning-only, so a declined push can never change
  * an answer — callers' partition pruning still applies either way.
  */
private[graft] object KeyProbe {

  /** Driver-side cap on key literals pushed as ONE `In`. Spark 4 pushes
    * `In` into parquet natively at any size (measured:
    * `PushedFilters: [In(band, [...])]` with 64k literals); the cap
    * bounds per-filter footer-eval cost and keeps each union branch's
    * expression tree sane.
    */
  private[operators] val MaxKeyLiterals = 65536

  /** Bound for CHUNKED literal probing: past [[MaxKeyLiterals]] a probe
    * slices its SORTED key set into ≤[[MaxKeyLiterals]] runs and unions
    * one bounded scan per slice ([[inSlices]]). Sorted slices are
    * contiguous key ranges, and index files are key-sorted within
    * partitions, so a row group's [min,max] intersects ~one slice — the
    * union reads hit row groups ONCE (plus range-boundary overlap), not
    * once per slice, and row groups holding none of the probed keys are
    * skipped exactly as under the cap. Past THIS bound (0.5M keys ≈
    * 16 MB of md5 strings on the driver) callers fall back to partition
    * pruning alone — a batch that large is a bulk rebuild's job.
    */
  private[operators] val ChunkedKeyLiterals = 8 * MaxKeyLiterals

  /** The test seam: the system property `graft.chunked.probe=force`
    * bypasses the cost gates, so rows-axis specs exercise the pruned
    * path on toy data. Pruning-only — answers never change, only which
    * arm runs.
    */
  private def forced: Boolean =
    sys.props.get("graft.chunked.probe").contains("force")

  /** Minimum scanned-table size for the sliced-In escalation. The slices
    * trade a FIXED per-task cost (filter serialization — ~3 MB task
    * binaries per 64k-literal slice — plus per-row-group bloom/InSet
    * evaluation, paid once per slice branch) for an O(table) read term.
    * Measured at the 20× rehearsal (99k novel band literals vs a 13 MB /
    * 629k-row postings table): slicing read 4.1× fewer ROWS but 2× more
    * WALL — below this bound a partition-pruned full scan is simply
    * cheaper than the literal machinery, above it the skipped read
    * dominates (and at production sizes it is the only bounded choice).
    * 256 MB ≈ 20× the measured break-even's scale, chosen conservative:
    * the fallback is merely a small flat cost at sizes under the gate,
    * while a mis-gated full scan at production size is an O(corpus)
    * regression.
    */
  private[operators] val ChunkedScanMinBytes: Long = 256L << 20

  /** Break-even scan bytes per pushed literal, the under-cap arm of the
    * cost model. RE-CALIBRATED in round 19 from the first ABOVE-boundary
    * measurement (`bulk_probe_gate_above_r19`, interleaved cold+warm
    * best-of-N on a quiet box): against bulk-grade-bloom indexes of
    * 315 MB and 953 MB, a 49,422-literal push read 6.8× / 2.45× fewer
    * rows but its wall cost over the declining scan was ~FLAT at
    * +8–9 s (~175 µs/literal — driver plan+serialization plus per-file
    * bloom page reads, NOT per-row-group eval, which would have tripled
    * with the 3× table). The decline arm's index-size term measured
    * ~5.3 ms/MB, so the wall crossover on local NVMe sits near 1.6–2 GB
    * for a cap-sized literal set: one literal pays for itself once it
    * can skip ~32 KB of read. (Round 18's 4 KB figure extrapolated a
    * below-boundary point — 60 µs/literal at a 28.8 MB index — to sizes
    * where the bloom sidecar reads grow with file count.) Conservative
    * in the right direction twice over: mis-declining in the
    * hundreds-of-MB zone costs a bounded few-second scan, while at
    * production sizes (dirs ≫ GB, remote I/O dearer per byte) n×32 KB
    * is dwarfed by dir bytes and every real push proceeds — and the
    * ROWS axis (the bounded-read guarantee the blooms exist for) is
    * measured working at every size.
    *
    * Stale blooms: index files written before round 19 carry the parquet
    * default fpp=0.01 blooms, not [[withKeyBloom]]'s bulk-grade ones. The
    * gate reads only dir bytes, so above ~2 GB it still pushes against
    * them, and there a pushed probe reads up to 2.1× MORE rows than the
    * declining scan (`bulk_probe_gate_above_r19`). Answers stay exact;
    * the extra reads last until a compaction rewrites those files.
    */
  private[operators] val BytesPerLiteral = 32768L

  /** The PURE push decision: is a literal set of size `n` worth pushing
    * against a scanned dir of `bytes`? Under the single-`In` cap the
    * break-even is `n × BytesPerLiteral`; past it the sliced escalation
    * additionally carries per-slice task overhead, so the measured
    * [[ChunkedScanMinBytes]] floor applies on top. Unit-testable without
    * a filesystem ([[graft.operators.KeyProbeSpec]] pins the table).
    */
  private[operators] def pushWorthIt(n: Int, bytes: Long): Boolean =
    if (n <= MaxKeyLiterals) bytes >= n.toLong * BytesPerLiteral
    else bytes >= math.max(ChunkedScanMinBytes, n.toLong * BytesPerLiteral)

  /** `df` filtered to `key ∈ lits`, pushed as one `In` per sorted
    * ≤[[MaxKeyLiterals]] slice (unioned — slices partition the literal
    * set, so no row matches twice). Callers pass `lits` SORTED.
    */
  private[operators] def inSlices(df: DataFrame, key: String,
                                  lits: Seq[Any]): DataFrame =
    if (lits.size <= MaxKeyLiterals) df.filter(col(key).isin(lits: _*))
    else lits.grouped(MaxKeyLiterals)
      .map(s => df.filter(col(key).isin(s: _*)))
      .reduce(_ union _)

  /** The probe-side literal filter, cost-gated BOTH ways (round 17): a
    * push — single `In` up to [[MaxKeyLiterals]], sorted ≤64k slices
    * past it — happens only when [[pushWorthIt]] says the scanned dir is
    * big enough to repay the literal machinery's fixed cost; below the
    * break-even the frame comes back UNFILTERED (the partition pruning
    * the caller already applied stands, and the full scan is
    * wall-cheaper at that size — the r16 committed regression was
    * exactly the ungated under-cap push against a toy index). The
    * [[forced]] test seam bypasses the gate. An unreadable dir size errs
    * toward pushing (bounded reads beat a possibly-huge scan when in
    * doubt). Pruning only — never changes answers.
    */
  private[operators] def keyFiltered(df: DataFrame, key: String,
                                     lits: Seq[Any],
                                     scannedDir: => String): DataFrame =
    // empty literal set: the one input where a push would CHANGE the row
    // set (filter-to-empty) rather than merely prune — current callers'
    // downstream joins tolerate the superset either way, but the
    // "pruning only, never changes answers" contract must hold without
    // leaning on caller discipline, so an empty set always returns the
    // frame unfiltered (and skips the gate's dir-size lookup entirely)
    if (lits.isEmpty) df
    else if (forced) {
      record(scannedDir, "keyFiltered", "force", None, lits.size)
      inSlices(df, key, lits)
    }
    else dirBytes(df.sparkSession, scannedDir) match {
      case Some(b) if pushWorthIt(lits.size, b) =>
        record(scannedDir, "keyFiltered", "push", Some(b), lits.size)
        inSlices(df, key, lits)
      case Some(b) =>
        record(scannedDir, "keyFiltered", "decline", Some(b), lits.size)
        df
      // unknown size: err toward the bounded read — at worst a small
      // flat cost, vs an O(corpus) scan if the dir turns out huge
      case None =>
        record(scannedDir, "keyFiltered", "push-unsized", None, lits.size)
        inSlices(df, key, lits)
    }

  /** Whether a probe should even COLLECT literals for `dir`: true when
    * the dir is at least [[ChunkedScanMinBytes]] (or [[forced]] is
    * set). For keys whose cardinality scales with batch CONTENT rather
    * than batch rows — gram ids run O(batch tokens), hundreds of
    * thousands per small batch — the driver-side distinct+collect itself
    * costs multiples of a small table's whole scan (measured: +5.6 s on
    * a probe whose unpruned read was 1.4 s), so the size gate must run
    * BEFORE the collect, not just before the filter. An unreadable dir
    * size errs toward FALSE here — the opposite of [[keyFiltered]]'s
    * default, deliberately: declining merely keeps the cheap bounded
    * fallback (partition pruning), while collecting O(batch-tokens)
    * literals on a flaky metadata walk is the exact 5× regression this
    * gate exists to prevent.
    */
  private[operators] def literalsWorthIt(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean =
    if (forced) {
      record(dir, "literalsWorthIt", "force", None, -1)
      true
    } else {
      val b = dirBytes(spark, dir)
      val verdict = b.exists(_ >= ChunkedScanMinBytes)
      record(dir, "literalsWorthIt",
        if (b.isEmpty) "decline-unsized"
        else if (verdict) "collect" else "decline", b, -1)
      verdict
    }

  /** The probe DECISION LEDGER (round 18): every gate verdict records
    * which arm actually ran — dir bytes (or unsized), the
    * verdict, and the literal count for pushes — keyed by the scanned
    * dir's layout name (UUID scratch components stripped). The r16/r17
    * driver benches spent 113 s / 71.9 s on an entry the committed
    * artifact recorded at ~1.2 s, and NOTHING in either artifact said
    * which pruning arm produced which wall — the scoreboard could not
    * adjudicate itself. [[graft.Bench]] emits this ledger as a
    * `probe_decisions` object in the bench JSON so the next discrepancy
    * names its arm. Last-write-wins per key (a bench entry's reps all
    * make the same decision); bounded by the handful of layout names.
    */
  private val decisionLedger =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The ledger's layout key for a scanned dir (round 19, the r18
    * verdict's item 6): take the last THREE path components, drop
    * scratch-UUID components (they churn per run and would make the
    * bench artifact's keys non-reproducible), and fold compaction
    * generations (`postings_v7` → `postings`) so a long-lived process
    * accrues ONE ledger row per logical layout instead of one per
    * generation (the previous unbounded-growth leak). Three components
    * (vs the previous two) is what disambiguates the nested layouts that
    * could alias: `postings/_ids` vs `offered/_ids` now key as
    * `corpus_index/postings/_ids` vs `eval_index/offered/_ids` — distinct
    * logical dirs no longer collapse to one last-write-wins row. Unit-
    * pinned by KeyProbeSpec.
    */
  private[operators] def layoutKey(dir: String): String =
    dir.split('/').filter(_.nonEmpty).takeRight(3)
      .filterNot(s => s.contains("-") && s.length > 20)
      .map(_.replaceFirst("_v\\d+$", ""))
      .mkString("/")

  private def record(dir: String, op: String, verdict: String,
                     bytes: Option[Long], nLits: Int): Unit = {
    val b = bytes.map(_.toString).getOrElse("unsized")
    val lits = if (nLits >= 0) s",lits=$nLits" else ""
    decisionLedger.put(s"$op:${layoutKey(dir)}",
      s"bytes=$b,verdict=$verdict$lits")
    ()
  }

  /** Snapshot of the decision ledger (bench reporting). */
  def decisions(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    decisionLedger.asScala.toMap
  }

  /** Memoized dir size. `getContentSummary` is itself a recursive
    * metadata walk (one RPC per subdir on object stores) and a probe
    * consults the SAME index dirs every micro-batch, so raw per-call
    * summaries would add a metadata round-trip per gate decision; a
    * short TTL keeps the walk amortized while still observing growth —
    * staleness is harmless because the gate is PRUNING-ONLY: a decision
    * made on a stale size (folds, compaction, and vacuum can shrink or
    * replace dirs; new generations get new paths) changes only which arm
    * runs, never an answer. NonFatal-only catch: an OOM or fatal JVM
    * error must propagate, not turn into a pruning decision.
    */
  private val DirBytesTtlNanos: Long = 30L * 1000L * 1000L * 1000L
  private val dirBytesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private[operators] def dirBytes(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Long] = {
    val now = System.nanoTime()
    Option(dirBytesMemo.get(dir)).collect {
      case (b, at) if now - at < DirBytesTtlNanos => b
    }.orElse {
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        val b = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
        if (dirBytesMemo.size > 4096) dirBytesMemo.clear() // unbounded-dir-set guard
        dirBytesMemo.put(dir, (b, now))
        Some(b)
      } catch { case NonFatal(_) => None }
    }
  }

  /** Test seam: drop memoized dir sizes (a spec that grows a dir past a
    * gate boundary must not read a pre-growth size).
    */
  private[operators] def clearDirBytesMemo(): Unit = dirBytesMemo.clear()

  /** Write options for key-probed parquet files: bounded row groups so
    * collision reads stay fine-grained, plus a per-row-group parquet
    * BLOOM on the probe key — the structure that lets a pushed `In` skip
    * every row group holding none of the probe's literals.
    *
    * The bloom is ADAPTIVE (parquet-mr 1.16, PARQUET-2254): the writer
    * sizes each row group's filter to the key NDV it actually saw,
    * instead of a fixed expected-NDV. The fixed 131072-NDV sizing was
    * the round-18 committed-suite regression's root cause: every file of
    * a small index carried a ~262 KB bloom for a few thousand keys,
    * inflating `ContamIndex`'s 2 MB evidence store to 538 MB on disk —
    * past [[ChunkedScanMinBytes]], so [[literalsWorthIt]] read its OWN
    * padding as "large table" and turned the literal machinery on
    * against a toy store (the 58x decontam_index_probe wall the r16/r17
    * driver benches recorded). Adaptive sizing keeps small row groups'
    * blooms small (~65 KB smallest candidate) and large ones' right-
    * sized up to the 1 MB parquet cap, so dir bytes track DATA — the
    * quantity the cost gate's break-even is calibrated against. A
    * mis-sized bloom only ever degrades to false positives — extra
    * reads, never wrong answers.
    *
    * The FPP is sized for BULK probes (round 19): a probe pushes up to
    * [[MaxKeyLiterals]] literals per `In`, and a row group is read when
    * ANY literal false-positives — P(spurious read) = 1-(1-fpp)^L, so
    * the parquet default fpp=0.01 saturates to 1 at L≈50k and skipping
    * collapses exactly at the scale the gate pushes (measured on a
    * 909 MB synthetic postings index: the pushed probe read 2.1× MORE
    * rows than the declining full scan — `bulk_probe_gate_above_r19`).
    * Small indexes never exposed this because their row groups stay
    * fully dictionary-encoded (parquet then skips via exact dictionary
    * filtering and writes no bloom at all); past ~1 MB of distinct keys
    * per row group the dictionary falls back to plain and the bloom is
    * the only novel-key skip mechanism. fpp=1e-6 ≈ 29 bits/key keeps
    * P(spurious read) ≈ 6% at the 64k-literal cap; with the 4 MB block
    * size a row group holds ≤~230k distinct ≥16-byte keys, inside the
    * 1 MB adaptive cap's bulk-grade capacity (~290k), and adaptive
    * sizing keeps small row groups at the 64 KB candidate floor — dir
    * bytes still track data, the r18 invariant. The bloom's write cost
    * is the `bloom_write_overhead_r16` ledger key.
    */
  private[operators] def withKeyBloom[T](
      w: org.apache.spark.sql.DataFrameWriter[T], key: String) =
    w.option("parquet.block.size", (4 << 20).toString)
      .option(s"parquet.bloom.filter.enabled#$key", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .option(s"parquet.bloom.filter.fpp#$key", "0.000001")
}
