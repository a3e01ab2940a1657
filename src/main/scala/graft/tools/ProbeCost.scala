package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** Rows-axis cost of ONE bulk [[graft.operators.MinhashIndex.novelDocs]]
  * probe — the instrument for the over-the-single-In-cap regimes:
  *
  *   - ALL-NOVEL bulk (this tool's batch): the batch's band/hash
  *     literals are absent from every row group, so CHUNKED literal
  *     probing (sorted ≤64k-literal slices) lets the per-row-group
  *     blooms skip ~everything, where the pre-chunking fallback
  *     saturated to a full postings read. This is the case that decides
  *     whether slicing earns its keep (the dup-dense 20× drain epochs
  *     measure rows-NEUTRAL there: band-sorted pages mean the sliced
  *     scans sum to the same hit set the full scan reads).
  *
  * The batch is `nDocs` replica-0 documents pushed through fixed
  * NON-ROTATION alphabet substitutions (disjoint from every Caesar
  * rotation a SynthScale corpus or the drain's steady arm can have
  * released — those consume rotations only), so every document is
  * genuinely novel to the probed index at any rehearsal multiplicity.
  *
  * Usage: `runMain graft.tools.ProbeCost <indexDir> <srcSfDir>
  * [nDocs=15000]` — prints one JSON line; read-only against the index.
  * Run once per arm: `GRAFT_CHUNKED_PROBE=force` (the pruned /
  * production-scale arm — since r17 EVERY literal push is cost-gated on
  * scanned-dir bytes, so a toy index under the break-even correctly
  * declines pushes and the default arm measures the SCAN side) vs
  * `GRAFT_CHUNKED_PROBE=off` (forced decline — the r19 seam that makes
  * the scan side measurable ABOVE the boundary, where the gate always
  * pushes) vs `GRAFT_CHUNKED_PROBE=0` (pre-chunking fallback) vs unset
  * (whatever the gate decides at this index's size — the wall the
  * committed bench pays). The JSON records the seam so arms can't be
  * confused.
  */
object ProbeCost {
  def main(args: Array[String]): Unit = {
    val idxDir = args(0)
    val src = args(1)
    val nDocs = args.lift(2).map(_.toInt).getOrElse(15000)
    // GRAFT_NO_RUNTIME_FILTERS=1: mechanism-isolation arm — Spark's own
    // runtime (bloom/semi-join) filter injection off, so the probe's
    // reads show what the STATIC pushed literals alone buy
    val b0 = GraftSession.builder()
    val spark = (if (sys.env.contains("GRAFT_NO_RUNTIME_FILTERS"))
        b0.config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
          .config(
            "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled",
            "false")
      else b0).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val gauge = new Gauge(spark)

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    // fixed substitutions, none a rotation of the identity: tokens land
    // outside every Caesar-rotation shingle space
    val perms = Seq(
      "qwertyuiopasdfghjklzxcvbnm",
      "mnbvcxzlkjhgfdsapoiuytrewq",
      "zyxwvutsrqponmlkjihgfedcba",
      "plokmijnuhbygvtfcrdxeszwaq",
      "qazwsxedcrfvtgbyhnujmikolp",
      "wqetryuoipsadfghjlkzcxvbmn")
    val base = spark.read.parquet(s"$src/documents.parquet")
      .filter(col("doc_id") < 100000000L) // replica 0 only
      .select("doc_id", "text")
    val batch = perms.zipWithIndex.map { case (p, i) =>
      base.select(
        // 1e14 base offset: clear of every SynthScale replica stride
        // (i*1e8, mult-capped 702 => < 1e11) — the old 6e9 base collided
        // with replica 60+ id ranges once r19 raised the mult cap
        (col("doc_id") + lit(100000000000000L + i.toLong * 100000000L))
          .as("doc_id"),
        translate(col("text"), lower + upper, p + p.toUpperCase).as("text"))
    }.reduce(_ unionByName _)
      .limit(nDocs)
      .localCheckpoint() // materialized OUTSIDE the measurement

    val postingsDir = graft.operators.MinhashIndex
      .livePostingsDir(spark, idxDir)
    val postingsRows = spark.read.parquet(postingsDir).count()
    val hashesRows = spark.read.parquet(graft.operators.MinhashIndex
      .genHashesDir(spark, idxDir, postingsDir)).count()
    val (novel, wall, probeKrows) = gauge.measured {
      graft.operators.MinhashIndex.novelDocs(spark, batch, idxDir).count()
    }
    // EXACT distinct band count: the corpus's internal near-dup families
    // collapse bands far below docs x 8 (measured 49.4k for 15k docs of
    // sf0.1 replicas), and WHICH side of the single-In cap the batch
    // lands on decides the probe's whole plan shape
    graft.functions.VectorFunctions.register(spark)
    import graft.functions.VectorFunctions.{minhashSig, shingleIds}
    val bands = batch
      .withColumn("sig", minhashSig(shingleIds(col("text"), 2), 16))
      .select(explode(
        graft.functions.TextFunctions.bandKeys(col("sig"), 8, 2)).as("band"))
      .select("band").distinct().count()
    println(f"""{"metric":"bulk_probe_cost","unit":"krows",""" +
      f""""index":"$idxDir","n_docs":${batch.count()},""" +
      f""""distinct_band_literals":$bands,""" +
      f""""postings_rows":$postingsRows,"hashes_rows":$hashesRows,""" +
      f""""novel":$novel,"probe_krows":$probeKrows%.1f,""" +
      f""""probe_sec":$wall%.1f,""" +
      f""""chunked_probe":${!sys.env.get("GRAFT_CHUNKED_PROBE")
        .contains("0")},""" +
      f""""probe_seam":"${sys.env.getOrElse("GRAFT_CHUNKED_PROBE",
        "gated")}"}""")
    spark.stop()
  }
}
