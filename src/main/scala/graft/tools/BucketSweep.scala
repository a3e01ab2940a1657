package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** Bucket-count sweep over the release loop's two touched-bucket read
  * terms — the card-delta old slice ([[graft.run.CorpusOps
  * .cardOldSlice]]: bucket-pruned victim read) and the COW merge's
  * touched-bucket read ([[graft.store.TableStore.publish]]) — the
  * ONLY steady-state release reads that are O(touched-buckets) rather
  * than O(batch). At the 20× drain's toy 64-bucket geometry a 1000-doc
  * batch touches every bucket, so these terms spanned the whole corpus
  * and the O(touched-buckets) claim at production bucket counts was
  * by-construction only (r16 verdict, carried item). This sweep holds
  * the production sizing invariant (≈[[graft.store.TableStore
  * .RowsPerBucket]] rows per bucket — the store's own first-publish /
  * rebucket rule, so corpus rows scale WITH bucket count exactly as a
  * growing corpus does under maybeRebucket) and measures one fixed
  * small batch per arm: the two terms must track
  * `touched × rows-per-bucket` — FLAT-ish per batch while the corpus
  * grows 16× — not O(corpus).
  *
  * Usage: `runMain graft.tools.BucketSweep [buckets=64,256,1024]
  * [batchDocs=100]` — prints one JSON line; self-contained scratch
  * warehouses (synthetic skinny rows), nothing external mutated.
  */
object BucketSweep {
  def main(args: Array[String]): Unit = {
    val arms = args.lift(0).getOrElse("64,256,1024")
      .split(',').map(_.trim.toInt).toSeq
    val batchDocs = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = GraftSession.getOrCreate()
    val gauge = new Gauge(spark)

    val cs = graft.run.DemoSources.CorpusRelease
    // the release loop's stage shape: model columns + V4 hash + lineage
    def stageOf(ids: org.apache.spark.sql.DataFrame) = {
      val modeled = ids.select(col("id").as("doc_id"),
        concat(lit("synthetic doc text "), col("id")).as("text"),
        lit("en").as("lang"), lit("synth").as("source"),
        lit(3L).as("n_tokens"))
      val sortedFields = cs.columns.map(_.name).sorted
      modeled
        .withColumn("etl_row_hash", xxhash64(concat_ws("|",
          sortedFields.map(f =>
            coalesce(col(f).cast("string"), lit(""))): _*)))
        .withColumn("source_filename", lit("bucket-sweep"))
        .withColumn("file_load_log_id", lit(0L))
    }

    val results = arms.map { b =>
      // the store's own sizing rule lands EXACTLY on b buckets when the
      // first publish carries b × RowsPerBucket rows (and the corpus
      // therefore grows with the arm, as it does in production)
      val corpusRows = b * graft.store.TableStore.RowsPerBucket
      val scratch = java.nio.file.Files
        .createTempDirectory(s"graft_bsweep_$b").toString
      val store = new graft.store.TableStore(spark, scratch,
        publishBuckets = b)
      val t0 = new java.sql.Timestamp(0L)
      store.publish(cs.tableName, stageOf(spark.range(corpusRows)
        .toDF("id")), cs, t0)
      // all-novel fixed-size batch, materialized OUTSIDE the gauges
      val batch = stageOf(spark.range(corpusRows,
        corpusRows + batchDocs).toDF("id")).localCheckpoint()
      val planned = store.plannedBuckets(cs.tableName, cs.grain, batch)
      val nBuckets = planned.map(_._1).getOrElse(-1)
      val touched = planned.map(_._2.size).getOrElse(-1)
      val existing = store.readIfExists(cs.tableName)
        .map(_.select("doc_id", "text", "lang", "source", "n_tokens"))
      val (_, oldsliceSec, oldsliceKrows) = gauge.measured {
        graft.run.CorpusOps
          .cardOldSlice(store, cs.tableName, planned, existing, batch)
          .foreach(_.count())
      }
      val (_, mergeSec, mergeKrows) = gauge.measured {
        store.publish(cs.tableName, batch, cs,
          new java.sql.Timestamp(1L), planned)
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(scratch))
      f"""{"buckets":$nBuckets,"corpus_rows":$corpusRows,""" +
        f""""batch_docs":$batchDocs,"touched":$touched,""" +
        f""""oldslice_krows":$oldsliceKrows%.1f,""" +
        f""""oldslice_sec":$oldsliceSec%.2f,""" +
        f""""merge_krows":$mergeKrows%.1f,"merge_sec":$mergeSec%.2f,""" +
        f""""touched_rows_bound_krows":${touched *
          graft.store.TableStore.RowsPerBucket / 1e3}%.1f}"""
    }
    println(s"""{"metric":"bucket_sweep","unit":"krows",""" +
      s""""arms":[${results.mkString(",")}]}""")
    spark.stop()
  }
}
