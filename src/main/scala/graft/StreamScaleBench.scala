package graft

import graft.core.GraftSession
import graft.tools.Gauge
import org.apache.spark.sql.functions._

/** Streaming-release scale rehearsal: drain a (synthetic, see
  * [[SynthScale]]) corpus through [[graft.streaming.StreamingPipeline
  * .corpusReleaseStream]] as N single-file micro-batches and report each
  * epoch's wall time — the measurement behind the claim that a
  * steady-state release is O(batch): after the first epoch bootstraps the
  * warehouse (index build + exact datasheet), every later epoch pays
  * curation + index probe/append + bucketed merge + the incremental card
  * delta, none of which scale with the accumulated corpus. Occasional
  * epochs absorb a postings compaction (the maybeCompact policy) — the
  * amortized small-file fold, reported rather than hidden.
  *
  * Usage: `StreamScaleBench <srcSfDir> <workDir> [nBatches=8]
  * [nSteady=6]`; prints one JSON line `{"metric":"corpus_stream_scale",
  * "epochs":[...]}` plus a replay-drain wall (a second AvailableNow run
  * with nothing new — must be near-zero epochs) and a STEADY-STATE arm:
  * `nSteady` small all-novel micro-batches (batch ≪ corpus, band
  * literals under the single-In cap) drained through the same
  * checkpoint, whose per-epoch `input_krows` must stay FLAT — the
  * in-loop demonstration that the probe is O(batch), where the main
  * drain's bulk epochs (each ~25% of the final corpus) exercise the
  * over-cap geometry instead.
  *
  * Since r17 every literal push is cost-gated on scanned-dir bytes
  * ([[graft.operators.KeyProbe]]), so at this rehearsal's toy index
  * sizes the flat-rows steady arm requires `GRAFT_CHUNKED_PROBE=force`
  * (the production-scale gate answer); ungated, the steady arm measures
  * the scan-side walls the committed bench pays instead.
  */
object StreamScaleBench {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val work = args(1)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = GraftSession.getOrCreate()
    val feed = s"$work/feed"
    val wh = s"$work/wh"
    val cp = s"$work/cp"
    Seq(feed, wh, cp).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    // N deterministic doc_id-mod slices, one single-part parquet FILE each
    // (maxFilesPerTrigger=1 makes each file one release epoch)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until nBatches).foreach { i =>
      val tmp = s"$feed/_tmp_$i"
      docs.filter(pmod(col("doc_id"), lit(nBatches.toLong)) === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles.find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for batch $i"))
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$feed/batch_$i.parquet").toPath)
      dir.listFiles.foreach(_.delete()); dir.delete()
    }
    val store = new graft.store.TableStore(spark, wh)
    // per-epoch INPUT ROWS alongside wall time: a flat wall curve alone
    // can hide an O(corpus) read term behind fixed per-epoch overhead at
    // small corpus sizes — the rows axis exposes it directly (the r13
    // card-delta full-corpus scan would have shown as per-epoch input
    // rows growing with the accumulated corpus). Listener-bus delivery is
    // async, so a boundary task can land in the neighbor epoch —
    // telemetry-grade, which is all the growth-shape check needs.
    val gauge = new Gauge(spark)
    val walls = scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]()
    val lastRows = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    graft.streaming.StreamingPipeline.corpusReleaseStream(
      spark, store, feed, wh, None, cp,
      onEpoch = (id, w) => walls.synchronized {
        val now = gauge.rows()
        walls += ((id, w, now - lastRows.getAndSet(now)))
        ()
      })
      .awaitTermination()
    val total = (System.nanoTime() - t0) / 1e9
    // replay drain: nothing new behind the checkpoint — bounded catch-up
    // run with zero epochs
    val tr = System.nanoTime()
    val replayRows0 = gauge.rows()
    graft.streaming.StreamingPipeline.corpusReleaseStream(
      spark, store, feed, wh, None, cp).awaitTermination()
    val replay = (System.nanoTime() - tr) / 1e9
    val replayKrows = (gauge.rows() - replayRows0) / 1e3
    val corpusRows = store.readIfExists("corpus_docs").map(_.count())
      .getOrElse(0L)

    // ---- steady-state arm: batch ≪ corpus, the regime the loop runs at
    // 100 TB. nSteady all-novel 1000-doc micro-batches built from the
    // source's replica-0 docs under cipher shifts 20+j — disjoint
    // shingle sets from every 20x replica (shifts 0..19) AND from each
    // other, so each batch is pure inserts. Band literals per batch
    // (~8k) sit far under the single-In cap, so the probe runs its
    // bloom-pruned path in-loop. The postings generation is folded ONCE
    // between arms (steady-state maintenance at the regime change) so
    // the arm's curve measures probes, not an amortized mid-arm fold —
    // and 6 subsequent appends stay under the maybeCompact bound.
    val nSteady = math.min(args.lift(3).map(_.toInt).getOrElse(6), 6)
    graft.operators.MinhashIndex.compact(spark, s"$wh/corpus_index")
    // GRAFT_STEADY_BUCKETS=N: re-bucket the corpus to a PRODUCTION-LIKE
    // bucket count before the steady arm (batch keys ≪ buckets — at the
    // toy 64-bucket geometry every 1000-doc batch touches every bucket,
    // so the oldslice+merge terms span the whole corpus and mask the
    // O(touched-buckets) bound this arm exists to demonstrate). The
    // rebucket is steady-state maintenance at the regime change, outside
    // the per-epoch gauges like the fold above.
    val steadyBuckets = sys.env.get("GRAFT_STEADY_BUCKETS").map(_.toInt)
    steadyBuckets.foreach(n =>
      store.rebucket("corpus_docs", Seq("doc_id"), target = Some(n)))
    val corpusBuckets = store.bucketCount("corpus_docs").getOrElse(-1)
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def shifted(s: String, i: Int) = s.drop(i) + s.take(i)
    (0 until nSteady).foreach { j =>
      val shift = 20 + j
      val tmp = s"$feed/_tmp_s$j"
      docs.filter(col("doc_id") < 100000000L) // replica 0 = shift 0 only
        .filter(pmod(col("doc_id"), lit(5L)) === (j % 5))
        .limit(1000)
        .select(
          (col("doc_id") + lit(4000000000L + j * 100000000L)).as("doc_id"),
          translate(col("text"), lower + upper,
            shifted(lower, shift) + shifted(upper, shift)).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles.find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for steady batch $j"))
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$feed/batch_s$j.parquet").toPath)
      dir.listFiles.foreach(_.delete()); dir.delete()
    }
    val steady = scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]()
    lastRows.set(gauge.rows()) // the fold's reads are not epoch reads
    val tS = System.nanoTime()
    graft.streaming.StreamingPipeline.corpusReleaseStream(
      spark, store, feed, wh, None, cp,
      onEpoch = (id, w) => steady.synchronized {
        val now = gauge.rows()
        steady += ((id, w, now - lastRows.getAndSet(now)))
        ()
      }).awaitTermination()
    val steadyTotal = (System.nanoTime() - tS) / 1e9
    val corpusRowsAfter = store.readIfExists("corpus_docs").map(_.count())
      .getOrElse(0L)

    val epochsJson = walls.sortBy(_._1).map { case (id, w, r) =>
      f"""{"epoch":$id,"sec":$w%.2f,"input_krows":${r / 1e3}%.1f}"""
    }.mkString("[", ",", "]")
    val steadyJson = steady.sortBy(_._1).map { case (id, w, r) =>
      f"""{"epoch":$id,"sec":$w%.2f,"input_krows":${r / 1e3}%.1f}"""
    }.mkString("[", ",", "]")
    println(f"""{"metric":"corpus_stream_scale","unit":"sec","src":"$src",""" +
      f""""n_batches":$nBatches,"corpus_rows":$corpusRows,""" +
      f""""total_sec":$total%.1f,"replay_drain_sec":$replay%.1f,""" +
      f""""replay_input_krows":$replayKrows%.1f,"epochs":$epochsJson,""" +
      f""""steady_n_batches":$nSteady,"steady_batch_docs":1000,""" +
      f""""steady_buckets":$corpusBuckets,""" +
      f""""steady_total_sec":$steadyTotal%.1f,""" +
      f""""steady_corpus_rows_after":$corpusRowsAfter,""" +
      f""""steady_epochs":$steadyJson}""")
    spark.stop()
  }
}
