package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** Per-stage input-ROW attribution for ONE steady-state corpus release —
  * the instrument behind the README's analysis of the streaming loop's
  * per-epoch read set. Measured with the exact `recordsRead` task metric
  * (`bytesRead` is blind to the parquet vectored-IO data path on local
  * FS — it reports footers and cache reads only):
  *
  *   probe_krows   — [[graft.operators.MinhashIndex.novelDocs]] alone:
  *                   the exact-hash anti-join + banded postings probe
  *   release_krows — a FULL [[graft.run.CorpusOps.release]] of the same
  *                   batch against a scratch COPY of the warehouse
  *                   (probe + decontam-less merge + card delta + index
  *                   append + accumulator fold)
  *
  * plus the context row counts the attribution reads against: corpus,
  * live postings, live content hashes. The batch is a fresh
  * Caesar-shift-25 replica slice of the source sf dir (disjoint shingle
  * sets — [[graft.SynthScale]]'s trick, shift 25 is outside any mult ≤ 25
  * rehearsal), so the release is all-inserts: the steady-state novel
  * path, where every read beyond O(batch) is index/merge overhead.
  *
  * Usage: `runMain graft.tools.ReleaseCost <warehouse> <srcSfDir>
  * [batchDocs=2000]` — prints one JSON line. The warehouse is copied to
  * a temp dir first; the original is never mutated.
  */
object ReleaseCost {
  def main(args: Array[String]): Unit = {
    val wh = args(0)
    val src = args(1)
    val batchDocs = args.lift(2).map(_.toInt).getOrElse(2000)
    val spark = GraftSession.getOrCreate()
    val gauge = new Gauge(spark)

    // scratch copy so the release never mutates the measured warehouse
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_releasecost").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new org.apache.hadoop.fs.Path(wh)
    val dstPath = new org.apache.hadoop.fs.Path(scratch, "wh")
    org.apache.hadoop.fs.FileUtil.copy(srcPath.getFileSystem(conf), srcPath,
      dstPath.getFileSystem(conf), dstPath, false, conf)
    val copyWh = dstPath.toString
    val store = new graft.store.TableStore(spark, copyWh)

    // all-novel batch: shift-25 cipher replica slice with offset ids
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def shifted(s: String) = s.drop(25) + s.take(25)
    val batch = spark.read.parquet(s"$src/documents.parquet")
      .orderBy("doc_id").limit(batchDocs)
      .select((col("doc_id") + lit(2500000000L)).as("doc_id"),
        translate(col("text"), lower + upper,
          shifted(lower) + shifted(upper)).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .localCheckpoint() // batch materialized OUTSIDE every measurement

    // context row counts (uncounted toward the stages below)
    val corpusRows = store.readIfExists("corpus_docs")
      .map(_.count()).getOrElse(0L)
    val idxDir = s"$copyWh/corpus_index"
    def genDir(ptr: String, prefix: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(idxDir, ptr)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val n = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
        Some(s"$idxDir/$n")
      } else {
        val d = new org.apache.hadoop.fs.Path(idxDir)
        if (!fs.exists(d)) None
        else fs.listStatus(d).map(_.getPath.getName)
          .filter(_.startsWith(prefix)).sorted.lastOption
          .map(n => s"$idxDir/$n")
      }
    }
    val postingsDir = genDir("_POSTINGS", "postings")
    val postingsRows = postingsDir
      .map(d => spark.read.parquet(d).count()).getOrElse(0L)
    val hashesRows = postingsDir.map { d =>
      val h = new org.apache.hadoop.fs.Path(d, "_hashes")
      if (h.getFileSystem(conf).exists(h))
        spark.read.parquet(h.toString).count()
      else 0L
    }.getOrElse(0L)

    // stage 1: the dedup-index probe alone
    val (novel, _, probeKrows) = gauge.measured {
      graft.operators.MinhashIndex
        .novelDocs(spark, batch.select("doc_id", "text"), idxDir).count()
    }
    // piecewise stages, each against the SAME pre-release copy state.
    // The kept/stage frames are materialized OUTSIDE the measurements so
    // each stage's reads are its own, not batch provenance.
    val cs = graft.run.DemoSources.CorpusRelease
    val caches = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.DataFrame]()
    val kept = graft.operators.MinhashIndex
      .novelDocs(spark,
        graft.queries.TrainingData.curatedFrame(batch, caches += _),
        idxDir).localCheckpoint()
    caches.foreach(_.unpersist())
    val sortedFields = cs.columns.map(_.name).sorted
    val stage = kept
      .withColumn("etl_row_hash", xxhash64(concat_ws("|",
        sortedFields.map(f =>
          coalesce(col(f).cast("string"), lit(""))): _*)))
      .withColumn("source_filename", lit("releasecost"))
      .withColumn("file_load_log_id", lit(0L))
      .localCheckpoint()
    // stage 2: the card delta's old-slice (the CURRENT rows the stage's
    // doc_ids touch — bucket-pruned, but a uniform batch touches all)
    val planned = store.plannedBuckets(cs.tableName, cs.grain, stage)
    val existing = store.readIfExists(cs.tableName)
    val (oldSliceRows, _, oldsliceKrows) = gauge.measured {
      graft.run.CorpusOps.cardOldSlice(store, cs.tableName, planned,
        existing, stage).map(_.count()).getOrElse(0L)
    }
    // stage 3: the bucketed COW merge of the stage
    val ((ins, upd), _, mergeKrows) = gauge.measured {
      store.publish(cs.tableName, stage, cs,
        new java.sql.Timestamp(1000L), planned)
    }
    // stage 4: the index append of the admitted docs
    val (_, _, appendKrows) = gauge.measured {
      graft.operators.MinhashIndex.append(
        kept.select("doc_id", "text"), idxDir)
    }

    // the full release of the same batch against a SECOND fresh copy —
    // the end-to-end number the pieces should roughly sum to
    val dst2 = new org.apache.hadoop.fs.Path(scratch, "wh2")
    org.apache.hadoop.fs.FileUtil.copy(srcPath.getFileSystem(conf), srcPath,
      dst2.getFileSystem(conf), dst2, false, conf)
    val store2 = new graft.store.TableStore(spark, dst2.toString)
    val ((ins2, upd2, _), _, releaseKrows) = gauge.measured {
      graft.run.CorpusOps.release(spark, store2, dst2.toString, batch,
        "releasecost", None)
    }

    println(f"""{"metric":"release_cost","unit":"krows",""" +
      f""""batch_docs":$batchDocs,"novel":$novel,""" +
      f""""inserts":$ins,"updates":$upd,""" +
      f""""release_inserts":$ins2,"release_updates":$upd2,""" +
      f""""old_slice_rows":$oldSliceRows,""" +
      f""""corpus_rows":$corpusRows,"postings_rows":$postingsRows,""" +
      f""""hashes_rows":$hashesRows,""" +
      f""""probe_krows":$probeKrows%.1f,""" +
      f""""oldslice_krows":$oldsliceKrows%.1f,""" +
      f""""merge_krows":$mergeKrows%.1f,""" +
      f""""append_krows":$appendKrows%.1f,""" +
      f""""release_krows":$releaseKrows%.1f}""")

    val sp = new org.apache.hadoop.fs.Path(scratch)
    sp.getFileSystem(conf).delete(sp, true)
    spark.stop()
  }
}
