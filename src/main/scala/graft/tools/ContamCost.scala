package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** Per-round input-ROW attribution for the contamination gate as its
  * persisted state ACCRETES — the instrument behind the round-16 check
  * that [[graft.operators.ContamIndex]]'s per-micro-batch reads do not
  * grow with the corpus (the r15 verdict's open question: range-stat
  * pruning on hash-random gram ids cannot prune wide-spread probe sets,
  * and the `offered/` content registry grows O(distinct content ever
  * offered) = O(corpus)).
  *
  * Each round offers `accreteDocs` of guaranteed-fresh content through
  * [[graft.operators.ContamIndex.recordTrainDf]] (the release loop's
  * accretion step), then probes a FIXED batch through
  * [[graft.operators.ContamIndex.decontaminate]] (the release loop's
  * gate) — both measured on the exact `recordsRead` axis. Flat per-round
  * curves = the gate is O(batch + collisions) at any accreted size;
  * growth = a corpus-sized read term in the steady-state loop. The
  * cumulative registry/train_df row counts are printed beside each round
  * as the counterfactual (what an unpruned scan of that state would
  * read).
  *
  * Usage: `runMain graft.tools.ContamCost <srcSfDir> [rounds=6]
  * [accreteDocs=5000] [probeDocs=1000] [evalDocs=200]` — prints one
  * JSON line. `evalDocs` sizes the eval-suite evidence: the gate reads
  * saw-tooth O(evidence × segments-since-fold) between folds, so an
  * evidence-scaling pair of runs (e.g. 200 vs 2000) bounds the
  * saw-tooth's amplitude term directly (r16 carried item).
  * `GRAFT_CHUNKED_PROBE=0` measures the pre-chunking fallback arm;
  * `GRAFT_CHUNKED_PROBE=force` measures the pruned production-scale arm
  * (since r17 every literal push is cost-gated on scanned-dir bytes, so
  * a toy registry under the break-even correctly declines pushes and
  * the default arm measures the scan side — the wall the committed
  * bench pays). The JSON records the seam (`probe_seam`).
  */
object ContamCost {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val rounds = args.lift(1).map(_.toInt).getOrElse(6)
    val accrete = args.lift(2).map(_.toInt).getOrElse(5000)
    val probeN = args.lift(3).map(_.toInt).getOrElse(1000)
    val evalDocs = args.lift(4).map(_.toInt).getOrElse(200)
    val spark = GraftSession.getOrCreate()
    val gauge = new Gauge(spark)

    val CI = graft.operators.ContamIndex
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_contamcost").toString

    // eval suite: evalDocs docs' 5-gram evidence (the fixed small corpus
    // the index exists for; parameterized for the evidence-scaling arm)
    CI.build(docs.orderBy("doc_id").limit(evalDocs)
      .select("doc_id", "text"), idx)
    // fixed probe batch, disjoint doc range (offset rides ABOVE the eval
    // slice so evidence-scaling arms never overlap it), per-doc suffix
    // tokens so reruns and accretion rounds never alias its content
    val probeFrom = evalDocs + 1000
    val probe = docs.orderBy("doc_id").limit(probeFrom + probeN)
      .filter(col("doc_id") >= probeFrom).limit(probeN)
      .select(col("doc_id"),
        concat(col("text"), lit(" probetok"),
          col("doc_id").cast("string")).as("text"))
      .localCheckpoint()

    val lines = (1 to rounds).map { r =>
      // fresh content every round: offset ids + round-salted suffix
      val offered = docs.orderBy("doc_id").limit(accrete)
        .select((col("doc_id") + lit(r.toLong * 1000000000L)).as("doc_id"),
          concat(col("text"), lit(s" round$r "),
            col("doc_id").cast("string")).as("text"))
        .localCheckpoint()
      val (_, _, recKrows) = gauge.measured {
        CI.recordTrainDf(offered, idx)
      }
      val (gated, _, gateKrows) = gauge.measured {
        CI.decontaminate(spark, probe, idx).count()
      }
      // steady-state maintenance between rounds, unmeasured (the fold is
      // amortized; its trigger count is reported)
      val folded = CI.maybeCompactTrainDf(spark, idx)
      val regRows = spark.read.parquet(CI.liveOfferedDir(spark, idx)).count()
      val dfDir = CI.liveTrainDfDir(spark, idx)
      val dfRows = {
        val p = new org.apache.hadoop.fs.Path(dfDir)
        if (p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(p)) spark.read.parquet(dfDir).count() else 0L
      }
      offered.unpersist()
      f"""{"round":$r,"record_krows":$recKrows%.1f,""" +
        f""""gate_krows":$gateKrows%.1f,"gate_survivors":$gated,""" +
        f""""offered_registry_rows":$regRows,"train_df_rows":$dfRows,""" +
        f""""folded":$folded}"""
    }
    val evidenceRows = spark.read.parquet(s"$idx/grams").count()
    println(s"""{"metric":"contam_gate_cost","unit":"krows",""" +
      s""""src":"$src","rounds":$rounds,"accrete_docs":$accrete,""" +
      s""""probe_docs":$probeN,"eval_docs":$evalDocs,""" +
      s""""evidence_rows":$evidenceRows,""" +
      s""""chunked_probe":${!sys.env.get("GRAFT_CHUNKED_PROBE")
        .contains("0")},""" +
      s""""probe_seam":"${sys.env.getOrElse("GRAFT_CHUNKED_PROBE",
        "gated")}",""" +
      s""""rounds_detail":[${lines.mkString(",")}]}""")

    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(idx))
    spark.stop()
  }
}
