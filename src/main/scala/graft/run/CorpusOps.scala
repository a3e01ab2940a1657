package graft.run

import graft.store.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus-release core shared by the batch `--corpus` CLI mode and the
  * streaming release ([[graft.streaming.StreamingPipeline
  * .corpusReleaseStream]]): one call = one release of a raw documents
  * frame into the warehouse —
  *
  *   quality gate → within-batch dedup → cross-release dedup (persisted
  *   MinHash index when trusted, frame fallback otherwise) → optional
  *   eval-gram decontamination → hash-guarded bucketed MERGE → index
  *   maintenance (O(batch) append + small-file compaction, or rebuild) →
  *   corpus_card datasheet.
  *
  * The release is idempotent END-TO-END: re-releasing content is all
  * merge no-ops AND an empty index append (the probe drops everything the
  * index has seen), which is what makes the streaming mode's replayed
  * micro-batches (crash between sink commit and checkpoint) safe.
  */
object CorpusOps {

  /** Label every Spark job a release phase launches (the Spark UI /
    * listener `spark.job.description`): the release is ~a dozen jobs and
    * at scale the expensive ones are corpus-sized — phase labels are what
    * make a slow release attributable in a listener's per-job output.
    */
  private def phase[T](spark: SparkSession, label: String)(f: => T): T = {
    spark.sparkContext.setJobDescription(s"corpus: $label")
    try f finally spark.sparkContext.setJobDescription(null)
  }

  /** The card-delta's old-slice: the CURRENT table rows whose doc_ids the
    * stage touches. The semi-join reads ONLY the stage's touched bucket
    * files ([[TableStore.readBuckets]] — the same path-level pruning the
    * merge itself performs): a semi-join against the full table would
    * scan EVERY bucket, text column included, because hash-bucketed
    * parquet gives Spark nothing to prune on — a full-corpus read per
    * steady-state release (per streaming micro-batch) at 100 TB. None
    * when no touched bucket owns files (pure-insert batch: nothing to
    * subtract). Exposed for the spec's file-access pin.
    */
  private[graft] def cardOldSlice(store: TableStore, tableName: String,
      planned: Option[(Int, Set[Int])], existing: Option[DataFrame],
      stage: DataFrame): Option[DataFrame] =
    (planned match {
      case Some((_, ts)) => store.readBuckets(tableName, ts)
      case None => existing // un-manifested legacy layout: unpruned
    }).map(_.select("doc_id", "text", "lang", "source", "n_tokens")
      .join(stage.select("doc_id"), Seq("doc_id"), "left_semi"))

  /** Releases `rawDocs` (doc_id, text, lang, source, n_chars — the
    * documents schema) into `corpus_docs`/`corpus_card` under
    * `warehouse`. Returns (inserts, updates, corpus_rows).
    */
  def release(spark: SparkSession, store: TableStore, warehouse: String,
              rawDocs: DataFrame, sourceLabel: String,
              evalDir: Option[String],
              dfCap: Int = 10000,
              strictReplay: Boolean = false,
              snapshotTag: Option[String] = None): (Long, Long, Long) = {
    val cs = DemoSources.CorpusRelease
    val existing = store.readIfExists(cs.tableName)
      .map(_.select("doc_id", "text", "lang", "source", "n_tokens"))
    // cross-release dedup prefers the persisted MinHash band index
    // (probe = O(batch + collisions), corpus never re-shingled); a
    // warehouse predating the index falls back to the frame-based
    // incremental once and builds the index after this release. The
    // index registers each doc's NEWEST released content (compaction
    // GC's superseded versions so the index stays O(live) under churn —
    // MinhashIndex.compact). Replay protection therefore covers the
    // CURRENT content generation: re-releasing live content is a no-op,
    // but a producer replaying a batch SUPERSEDED by a later update can
    // regress the doc after a compaction has dropped the old version's
    // registration — cross-generation replay safety is the streaming
    // checkpoint's job (at-least-once producers must not re-send
    // pre-update batches out of band). Callers whose producers CANNOT
    // guarantee that pass strictReplay = true: the probe then also
    // rejects content whose registration a compaction superseded
    // (MinhashIndex._hashes_superseded — O(content ever superseded)
    // registry storage, the declared trade).
    // Trust gate: the index's _COMMITTED marker, written as the LAST
    // step of build/append and removed (below) before every merge. Any
    // single dir existing is NOT enough — build/append write postings
    // and hashes as separate steps, and the merge commits before index
    // maintenance, so a crash can leave either half newer than the
    // other; an uncommitted index routes through the frame-based
    // fallback and is rebuilt from the released table after this merge.
    val idxDir = s"$warehouse/corpus_index"
    val idxExists = graft.operators.MinhashIndex.isCommitted(spark, idxDir)
    // curation's internal caches are collected and released at the end of
    // THIS release: the streaming loop runs one release per micro-batch
    // in a never-torn-down session, so leaving them to session teardown
    // would pin one cached batch per epoch forever
    val internalCaches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val track: DataFrame => Unit = internalCaches += _
    val curated = (existing, idxExists) match {
      case (Some(_), true) =>
        graft.operators.MinhashIndex.novelDocs(spark,
          graft.queries.TrainingData.curatedFrame(rawDocs, track), idxDir,
          strictReplay = strictReplay)
      case (Some(cur), false) =>
        graft.queries.TrainingData.curatedFrameIncremental(
          rawDocs, cur, track)
      case (None, _) =>
        graft.queries.TrainingData.curatedFrame(rawDocs, track)
    }
    // evalDir: decontaminate the release against a PERSISTED eval-gram
    // index (graft.operators.ContamIndex). Comma-separated suites
    // ACCRETE: each DIR/documents.parquet folds in exactly once (the
    // _SUITES manifest tracks which), so new benchmarks join the
    // evidence without rebuilding; a CHANGED suite under the same path =
    // delete <warehouse>/eval_index to rebuild. Probes are
    // partition-pruned; eval sets are never re-shingled.
    // with an eval index the curated frame has two consumers — the
    // decontamination probe and the train-df accretion after the merge
    if (evalDir.isDefined) { curated.persist(); track(curated) }
    val kept = (evalDir match {
      case None => curated
      case Some(ed) =>
        val ctDir = s"$warehouse/eval_index"
        // manifest check BEFORE touching the suite dir: an already-folded
        // suite must not require its source files to still exist
        val seen = graft.operators.ContamIndex.ingestedSuites(spark, ctDir)
        ed.split(',').map(_.trim).filter(_.nonEmpty)
          .filterNot(seen).foreach { suite =>
            if (graft.operators.ContamIndex.ingest(
                spark.read.parquet(s"$suite/documents.parquet")
                  .select("doc_id", "text"), ctDir, suite))
              System.err.println(s"eval index: ingested suite $suite")
          }
        graft.operators.ContamIndex.decontaminate(spark, curated, ctDir,
          dfCap = dfCap)
    }).persist() // two consumers: the MERGE stage and index maintenance
    // stage metadata the merge contract needs: V4 row hash over sorted
    // model fields + lineage (the release label is the "file")
    val sortedFields = cs.columns.map(_.name).sorted
    val stage = kept
      .withColumn("etl_row_hash", xxhash64(concat_ws("|",
        sortedFields.map(f =>
          coalesce(col(f).cast("string"), lit(""))): _*)))
      .withColumn("source_filename", lit(sourceLabel))
      .withColumn("file_load_log_id", lit(0L))
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    // the stage's touched buckets under the table's CURRENT manifest —
    // computed ONCE and shared by the card-delta's bucket-pruned old-slice
    // read and the merge's own touched-bucket probe (each recomputation is
    // a full pass over the stage)
    val planned =
      if (existing.isEmpty) None
      else phase(spark, "probe + bucket plan") {
        store.plannedBuckets(cs.tableName, cs.grain, stage)
      }
    // O(batch) datasheet delta, computed BEFORE the merge mutates the
    // table: the arriving rows' card contributions minus the CURRENT
    // contributions of the doc_ids they touch (unchanged rows cancel,
    // updates net their difference, inserts add — CorpusCardAcc.delta).
    // Eagerly materialized (per-source rows) so the lazy plan cannot
    // observe post-merge state. Steady state only: the incremental path
    // needs a trusted index (same crash signal as the index itself) and
    // existing accumulators whose cumulative churn is still inside the
    // declared drift band (CorpusCardAcc.churnExceeded — the HLL
    // n_distinct cannot subtract, so once enough content has been
    // superseded the release pays one exact pass NOW, resetting the
    // drift deterministically instead of waiting for an unrelated crash
    // to trigger self-heal); anything else self-heals below with one
    // exact O(corpus) rebuild.
    // ONE resolve of the accumulator table per release: the steady-state
    // gate, the churn check, and the merge below all read the same
    // pre-merge version (the corpus merge never touches it, and the
    // delta is localCheckpoint-materialized before the overwrite)
    val accTable =
      if (existing.isDefined && idxExists)
        store.readIfExists(CorpusCardAcc.AccTable)
      else None
    val accSteady =
      accTable.exists(a => !CorpusCardAcc.churnExceeded(a))
    val cardDelta =
      if (accSteady)
        Some(phase(spark, "card delta (old slice)") {
          CorpusCardAcc.delta(stage,
            cardOldSlice(store, cs.tableName, planned, existing, stage))
        })
      else None
    // drop the index's commit marker BEFORE the merge: a crash anywhere
    // between here and the post-merge index maintenance leaves the index
    // visibly uncommitted, so the next release falls back and rebuilds
    // instead of trusting a stale index
    graft.operators.MinhashIndex.invalidate(spark, idxDir)
    graft.core.Chaos.point("corpus.after-invalidate")
    val (ins, upd) = phase(spark, "bucketed merge") {
      store.publish(cs.tableName, stage, cs, now, planned)
    }
    // crash seam between the merge commit and every piece of index/card
    // maintenance below: the absent commit marker routes the next release
    // through the rebuild path (CorpusOpsSpec kill-point matrix)
    graft.core.Chaos.point("corpus.after-merge")
    // layout policy: the corpus table's bucket count was pinned by its
    // first release — upgrade it once the corpus outgrows the sizing rule
    // 8x, so release cost returns to O(delta + fine buckets)
    store.maybeRebucket(cs.tableName, cs.grain).foreach(n =>
      System.err.println(s"corpus: rebucketed outgrown layout to $n buckets"))
    // a fully-filtered release against a VIRGIN warehouse (every doc
    // quality-gated, deduped, or decontaminated away) creates no table at
    // all — that is a valid outcome, not a crash: nothing to index, no
    // datasheet to write
    // train-df accretion over the OFFERED (post-dedup, PRE-decontam)
    // docs — see the comment at the call sites below. Shared by the
    // normal path and the fully-dropped early return: a virgin release
    // where decontamination drops EVERYTHING is exactly when the
    // boilerplate df most needs to start accreting, or the exemption
    // could never bootstrap
    def accreteTrainDf(): Unit = evalDir.foreach { _ =>
      spark.sparkContext.setJobDescription("corpus: train-df accretion")
      val ctDir = s"$warehouse/eval_index"
      graft.operators.ContamIndex.recordTrainDf(
        curated.select("doc_id", "text"), ctDir)
      if (graft.operators.ContamIndex.maybeCompactTrainDf(spark, ctDir))
        System.err.println("eval index: compacted accretion segments " +
          "(train-df and/or offered registry passed the small-file bound)")
      spark.sparkContext.setJobDescription(null)
    }
    val releasedOpt = store.readIfExists(cs.tableName)
    if (releasedOpt.isEmpty) {
      accreteTrainDf()
      kept.unpersist()
      cardDelta.foreach(_.unpersist())
      internalCaches.foreach(_.unpersist())
      return (0L, 0L, 0L)
    }
    val released = releasedOpt.get
    // datasheet maintenance — skipped entirely when the release changed
    // nothing (replayed/fully-deduped micro-batches). Steady state folds
    // the pre-computed O(batch) delta into the persisted accumulators and
    // derives the card from them (O(sources) — no corpus scan anywhere in
    // a steady-state release). Bootstrap, a fresh table, or an index that
    // was UNCOMMITTED at release start (= prior crash mid-release, so
    // both card and accumulators may be stale relative to the merged
    // table) pay ONE exact O(corpus) pass that rebuilds both — the
    // self-heal path, same trigger as the index rebuild it accompanies.
    // MUST run before the index maintenance below: the index's
    // _COMMITTED marker is the release's ONE trust signal, rewritten as
    // build/append's last step — every durable write the self-heal path
    // repairs (merge, accumulators, card) has to precede it, or a crash
    // in between leaves the accumulators silently behind a trusted
    // marker forever.
    if (ins + upd > 0 || !idxExists || !store.exists("corpus_card"))
      cardDelta match {
        case Some(d) => phase(spark, "card fold") {
          val merged = CorpusCardAcc.merge(accTable.get, d)
            .localCheckpoint()
          store.overwrite(CorpusCardAcc.AccTable, merged,
            partitionBy = Seq.empty)
          store.overwrite("corpus_card", CorpusCardAcc.cardFrom(merged),
            partitionBy = Seq.empty)
          merged.unpersist()
        }
        case None => phase(spark, "card rebuild (exact)") {
          val corpusSlice =
            released.select("doc_id", "text", "lang", "source", "n_tokens")
          // the card is derived through the SAME accumulator → cardFrom
          // path steady releases use (r13 advice): writing the exact
          // corpusCardFrames here would flip tokens_p50/p90, n_distinct,
          // and dup_rate between exact and banded-approximate
          // representations across releases with no data change. The
          // rebuilt sketch still resets the HLL drift — it holds LIVE
          // content only.
          val built = CorpusCardAcc.buildFrom(corpusSlice)
          store.overwrite(CorpusCardAcc.AccTable, built,
            partitionBy = Seq.empty)
          store.overwrite("corpus_card", CorpusCardAcc.cardFrom(built),
            partitionBy = Seq.empty)
          built.unpersist()
        }
      }
    cardDelta.foreach(_.unpersist())
    graft.core.Chaos.point("corpus.after-card")
    // index maintenance: O(batch) append of this release's new docs when
    // BOTH the table and the index pre-existed; otherwise build fresh
    // over the released corpus. A fresh table with a leftover index
    // (corpus reset) must NOT append — the stale index would keep dead
    // content registered as seen and double every re-released doc's
    // postings.
    if (existing.isDefined && idxExists) {
      phase(spark, "index append") {
        graft.operators.MinhashIndex.append(
          kept.select("doc_id", "text"), idxDir)
      }
      // steady-state hygiene: every append adds files to the live
      // postings generation; fold it once small-file pressure passes the
      // policy bound (pointer-swap publish, in-flight probes keep the
      // superseded generation)
      if (phase(spark, "index compact") {
            graft.operators.MinhashIndex.maybeCompact(spark, idxDir)
          })
        System.err.println("corpus index: compacted postings " +
          "generation (small-file bound reached)")
    } else
      phase(spark, "index rebuild") {
        graft.operators.MinhashIndex.build(
          released.select("doc_id", "text"), idxDir)
      }
    // accrete the OFFERED (post-dedup, PRE-decontamination) docs' gram
    // frequencies into the eval index's train-side df stats: future
    // probes cap on corpus-level boilerplate, not just their own
    // micro-batch's df (a small batch can never reach the cap alone, so
    // without this the release loop over-drops docs that merely share
    // boilerplate grams with eval). Pre-decontamination is what makes
    // the cap REACHABLE: the docs carrying an evidence gram are exactly
    // the ones decontamination drops, so admitted-only accretion would
    // never raise an evidence gram's df off zero and the exemption could
    // never engage — the inline `decontam_filter` likewise defines df
    // over the batch it is ABOUT to filter. Double counting is closed at
    // BOTH tiers: replayed admitted batches are empty by the time they
    // reach `curated` (cross-release dedup precedes decontamination),
    // and previously decontaminated-away content — which dedup never
    // registers — is bounded by recordTrainDf's own distinct-content
    // registry, so a producer re-sending one contaminated doc each epoch
    // accretes its grams exactly once.
    accreteTrainDf()
    kept.unpersist()
    internalCaches.foreach(_.unpersist())
    // corpus_rows from the EXACT per-source accumulators (one tiny-table
    // aggregate, O(sources)) — released.count(), though metadata-cheap
    // per file, is O(files in corpus) per release: a per-micro-batch
    // full-listing in the streaming loop. The accumulators are
    // delta-maintained exactly and were just (re)written on any path
    // that changed the table, so the sum IS the table's row count; a
    // legacy warehouse whose accumulators predate the table falls back
    // to the one count.
    val corpusRows = phase(spark, "row count") {
      store.readIfExists(CorpusCardAcc.AccTable)
        .map(_.agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0))
        .getOrElse(released.count())
    }
    // provenance pin LAST, over the fully-released state (merge + card +
    // index all committed above): the tag is what a training run records
    // as "the corpus I trained on", and TableStore.readSnapshot serves it
    // bit-identical while later releases keep copy-on-writing past it.
    // force = true keeps replays/self-heals idempotent — a re-run release
    // re-pins the tag at the same (hash-guarded, so unchanged) state.
    // The DATASHEET is pinned under the same tag: the card that described
    // the corpus at training time is provenance too — without its own pin,
    // readSnapshot(corpus_docs, tag) would pair with whatever card the
    // LATEST release wrote.
    snapshotTag.foreach { t =>
      store.snapshot(cs.tableName, t, force = true)
      if (store.exists("corpus_card"))
        store.snapshot("corpus_card", t, force = true)
    }
    (ins, upd, corpusRows)
  }

  /** Remove documents from the released corpus by doc_id — the takedown /
    * right-to-be-forgotten path, bucket-pruned end-to-end: the ids name
    * the touched buckets; the datasheet subtraction reads ONLY those
    * buckets' current rows (the victims, [[cardOldSlice]]'s pruning) and
    * folds their NEGATIVE contributions into the accumulators (exact
    * counters/histogram/language counts; deletions count as churn, so the
    * HLL sketch's now-overcounting `n_distinct` sits inside the SAME
    * deterministic churn bound updates use — [[CorpusCardAcc]]); the
    * delete itself is [[TableStore.deleteRows]] (O(ids + touched
    * buckets), emptied buckets drop from the manifest, CDC feeds since a
    * pre-forget tag report the rows as deletes). Returns
    * (deleted, corpus_rows).
    *
    * Dedup-index semantics — the documented contract:
    *   - default (`scrubIndex = false`, takedown): the MinHash index
    *     KEEPS the forgotten docs' registrations — band hashes and
    *     content md5s, non-reversible fingerprints, never text — so a
    *     re-offered copy of forgotten content stays EXCLUDED (the content
    *     is banned). The index is re-committed unchanged after the card
    *     fold ([[graft.operators.MinhashIndex.recommit]]).
    *   - `scrubIndex = true` (erasure): the trust marker stays dropped,
    *     the NEXT release rebuilds the index from the post-forget corpus,
    *     and the content becomes re-admittable.
    *
    * Contamination-index semantics: the eval-gram evidence
    * ([[graft.operators.ContamIndex]]) is NOT touched by a forget — a
    * forgotten doc's grams stay accreted in the `offered/` and train-df
    * registries, so df counts include erased content until an evidence
    * rebuild (`ContamIndex.recordTrainDf` over the post-forget corpus, or
    * the fail-closed rebuild a suite change forces). Like the kept dedup
    * registrations these are non-reversible fingerprints, never text;
    * an erasure run that must also scrub df evidence rebuilds the contam
    * index alongside `scrubIndex = true`.
    *
    * Crash contract: the marker drops BEFORE the delete, so a crash
    * anywhere in a forget routes the next release through the standard
    * self-heal (exact accumulator rebuild; index rebuilt from the live
    * corpus) — i.e. a crashed takedown degrades to ERASURE semantics,
    * never to a double count or a stale card.
    * [[TableStore.canDeleteRows]] is probed FIRST, so a pure
    * precondition failure (no manifest, live segments) mutates nothing
    * and costs nothing — no dropped marker, no self-heal, no delta read.
    * Snapshots pinning the forgotten content keep serving it for their
    * tags' lives by design; a legal-erasure run also drops those tags —
    * via [[dropCorpusTag]], which drops the paired `corpus_card` pin
    * with the `corpus_docs` one — and vacuums.
    */
  def forget(spark: SparkSession, store: TableStore, warehouse: String,
             docIds: DataFrame,
             scrubIndex: Boolean = false): (Long, Long) = {
    val cs = DemoSources.CorpusRelease
    val existing = store.readIfExists(cs.tableName)
    if (existing.isEmpty) return (0L, 0L)
    // preconditions BEFORE any state is touched: deleteRows would throw
    // the same error, but only after the trust marker was dropped and
    // the card delta read — a no-op failure must not force the next
    // release through the full index/card self-heal rebuild
    require(store.canDeleteRows(cs.tableName),
      s"forget: ${cs.tableName} is not bucket-manifested or carries " +
        "live segments — publish through a release and " +
        "fold segments first; nothing was modified")
    val keys = docIds.select("doc_id").distinct().localCheckpoint()
    val planned = store.plannedBuckets(cs.tableName, cs.grain, keys)
    // the victims' rows BEFORE the delete (bucket-pruned like the release's
    // card delta): their pure-negative contributions ARE a forget's card
    // delta — materialized now, the delete's vacuum may reclaim the dirs
    val cardDelta = cardOldSlice(store, cs.tableName, planned, existing, keys)
      .map(v => CorpusCardAcc.delta(v.limit(0), Some(v)))
    val accTable = store.readIfExists(CorpusCardAcc.AccTable)
    val idxDir = s"$warehouse/corpus_index"
    val idxWasCommitted =
      graft.operators.MinhashIndex.isCommitted(spark, idxDir)
    graft.operators.MinhashIndex.invalidate(spark, idxDir)
    val deleted = store.deleteRows(cs.tableName, keys, cs.grain)
    if (deleted > 0L) (accTable, cardDelta) match {
      case (Some(acc), Some(d)) =>
        val merged = CorpusCardAcc.merge(acc, d).localCheckpoint()
        store.overwrite(CorpusCardAcc.AccTable, merged,
          partitionBy = Seq.empty)
        store.overwrite("corpus_card", CorpusCardAcc.cardFrom(merged),
          partitionBy = Seq.empty)
        merged.unpersist()
      case _ =>
        // legacy warehouse without accumulators: one exact rebuild over
        // the post-delete corpus (the bootstrap path's cost and shape)
        store.readIfExists(cs.tableName).foreach { rel =>
          val built = CorpusCardAcc.buildFrom(
            rel.select("doc_id", "text", "lang", "source", "n_tokens"))
          store.overwrite(CorpusCardAcc.AccTable, built,
            partitionBy = Seq.empty)
          store.overwrite("corpus_card", CorpusCardAcc.cardFrom(built),
            partitionBy = Seq.empty)
          built.unpersist()
        }
    }
    cardDelta.foreach(_.unpersist())
    // takedown: the index content is exactly as valid as before (kept
    // registrations are the contract) — restore trust. Erasure: leave it
    // uncommitted so the next release rebuilds without the content.
    if (idxWasCommitted && !scrubIndex)
      graft.operators.MinhashIndex.recommit(spark, idxDir)
    val corpusRows = store.readIfExists(CorpusCardAcc.AccTable)
      .map(_.agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0))
      .getOrElse(store.readIfExists(cs.tableName)
        .map(_.count()).getOrElse(0L))
    (deleted, corpusRows)
  }

  /** Drop a corpus provenance tag — BOTH pins the release took under it:
    * the `corpus_docs` content pin AND the companion `corpus_card`
    * datasheet pin ([[release]] pins them together; a card derived from
    * pinned content is provenance of the same lifetime). Dropping only
    * the docs tag would leave the card tag pinning a datasheet derived
    * from (possibly forgotten) content indefinitely — the legal-erasure
    * flow is `dropCorpusTag(tag)` then `vacuum` on both tables. Returns
    * true when either pin existed.
    */
  def dropCorpusTag(store: TableStore, tag: String): Boolean = {
    val cs = DemoSources.CorpusRelease
    val docsDropped = store.dropSnapshot(cs.tableName, tag)
    val cardDropped = store.dropSnapshot("corpus_card", tag)
    docsDropped || cardDropped
  }
}
