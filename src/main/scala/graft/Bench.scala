package graft
import graft.core.{GraftSession, Json}
import graft.queries.{PipelineBench, TrainingData}
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    // sample machine load BEFORE the session/warmup spin up their own
    // executor threads: the verdict below must measure NEIGHBOR load, and
    // any sample taken after warmup is dominated by the bench itself
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    // fixed-work calibration (graft.tools.Calib): a steady UNIFORM
    // neighbor load inflates every rep proportionally and slips past the
    // per-entry spread guard below — the committed-quiet-floor probes
    // (single-threaded AND all-cores; hypervisor steal was measured
    // inflating parallel work 2.4x while single-thread read quiet) at
    // start and end are what let the artifact label that case itself
    val calibStart = graft.tools.Calib.best()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    // ERROR: executor chatter (task retries, spill and broadcast WARNs)
    // must not interleave with the one-line JSON result parsed from stdout.
    spark.sparkContext.setLogLevel("ERROR")
    // warmup: JVM/Janino-codegen/broadcast/window/shuffle machinery and
    // parquet footers all initialize here, not inside the first measured
    // query (queries run in sorted order, so whichever sorts first would
    // otherwise absorb several seconds of one-time session cost)
    // each warmup stage isolated: one missing table must not skip the
    // codegen priming after it (the first measured query would silently
    // absorb Janino compilation of the custom expressions)
    def warm(f: => Unit): Unit = try f catch { case _: Throwable => }
    warm {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val a = spark.range(100000).toDF("id")
      val b = spark.range(100).toDF("id")
      a.join(broadcast(b), "id").groupBy((col("id") % 10).as("g"))
        .agg(sum("id")).collect()
      a.withColumn("r",
          row_number().over(Window.partitionBy(col("id") % 16).orderBy("id")))
        .filter(col("r") === 1).collect()
    }
    Seq("lineitem", "orders", "documents", "embeddings", "events")
      .foreach(t => warm(spark.read.parquet(s"$sfDir/$t.parquet").count()))
    warm {
      // first evaluation of the custom expressions compiles their codegen
      spark.sql(
        """SELECT jaccard_ids(minhash_sig(shingle_ids('a b c d e', 2), 16),
          |                   minhash_sig(shingle_ids('a b c x y', 2), 16)),
          |       vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)),
          |       shingle_strings('a b c', 2)""".stripMargin)
        .collect()
    }
    // Best-of-3 per query: single-shot timings on a shared machine swung
    // ±40%-700% round-over-round with unchanged code, which made plan
    // changes indistinguishable from neighbor load. The minimum of three
    // runs is the standard noise floor estimator for a deterministic
    // workload (GC pauses, page-cache misses, and CPU contention only ever
    // ADD time).
    val Reps = 3
    // Contention self-diagnosis (round-11 advice: a machine-contended
    // official artifact shipped 1.5x inflated with nothing in the JSON to
    // say so). Per entry, the median/best spread estimates how much
    // neighbor load polluted the reps — a deterministic workload's reps
    // agree within ~10-20%; contention inflates some reps and not others.
    // Entries over SpreadBound get up to ExtraReps additional runs (a
    // later quiet rep usually recovers the true floor); whatever spread
    // REMAINS is reported, and the run carries a self-describing
    // `contended` flag plus loadavg samples so a dirty run is never
    // mistaken for a regression.
    val SpreadBound = 1.6
    val ExtraReps = 2
    val spreads = scala.collection.mutable.ArrayBuffer[Double]()
    def spreadOf(times: Seq[Double]): Double = {
      val s = times.sorted
      s(s.size / 2) / s.head
    }
    // -1 sentinel when EVERY rep throws: a fast-failing query must be
    // visibly failed in the bench JSON, not recorded as a plausibly small
    // wall time (failures also never contribute to the total).
    def bestOf(f: => Unit): Double = {
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      def rep(): Unit = {
        val t0 = System.nanoTime()
        try {
          f
          times += (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"bench rep failed: ${e.getClass.getName}: ${e.getMessage}")
        }
        ()
      }
      (1 to Reps).foreach(_ => rep())
      var extra = 0
      while (times.size >= 2 && spreadOf(times.toSeq) > SpreadBound &&
        extra < ExtraReps) { rep(); extra += 1 }
      if (times.isEmpty) -1.0
      else {
        if (times.size >= 2) spreads += spreadOf(times.toSeq)
        times.min
      }
    }
    // Multi-timing variant of bestOf for the split runners: each rep
    // yields a tuple of wall timings; the variance guard keys on each
    // rep's TOTAL (the same contention signal), failures print and drop
    // the rep, and the caller takes column-wise minimums. Empty result =
    // every rep failed (the caller emits -1 sentinels).
    def guardedReps(label: String)(parts: => Seq[Double]): Seq[Seq[Double]] = {
      val all = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
      def rep(): Unit = {
        try all += parts
        catch {
          case e: Throwable => System.err.println(s"bench rep failed " +
            s"($label): ${e.getClass.getName}: ${e.getMessage}")
        }
        ()
      }
      (1 to Reps).foreach(_ => rep())
      var extra = 0
      def sums = all.map(_.sum).toSeq
      while (all.size >= 2 && spreadOf(sums) > SpreadBound &&
        extra < ExtraReps) { rep(); extra += 1 }
      if (all.isEmpty)
        System.err.println(s"bench split $label failed all reps")
      else if (all.size >= 2) spreads += spreadOf(sums)
      all.toSeq
    }
    def colMin(reps: Seq[Seq[Double]], i: Int): Double = reps.map(_(i)).min
    // SPARK_GRAFT_ONLY=a,b,c: time just the named queries (local iteration
    // on one plan without paying the full 87-query sweep); unset = all.
    val only = SparkEntry.selected()
    // pipeline_etl / pipeline_incremental / pipeline_mor are timed through
    // their *Timed variants below so the main entries measure the pipeline
    // work, not the scratch-dir teardown (the round-8 fix covered only
    // pipeline_etl; round-9 advice flagged the other two as still
    // cleanup-inflated)
    val timedSeparately =
      Set("pipeline_etl", "pipeline_incremental", "pipeline_mor")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_(name)) }
      .filterNot(e => timedSeparately(e._1))
      .map { case (name, fn) =>
        name -> bestOf { fn(spark, sfDir).count(); () }
      }
    // Split entries: one runner per gate entry counts its scenario frame
    // and returns one wall per label; `headline` > 0 adds an entry named
    // after the gate holding the sum of the first `headline` walls. The one-time index BUILDs are split from the
    // steady-state PROBEs (the 100 TB steady state) and the base-layout
    // publishes from the O(delta) publishes, so each stays trackable
    // round-over-round; the pipelines' scratch-dir teardown is its own
    // *_cleanup entry. pipeline_mor's delta is the O(delta) upsert-segment
    // publish, directly comparable against pipeline_incremental_delta's
    // copy-on-write rewrite.
    final case class Split(gate: String, labels: Seq[String],
                           headline: Int = 0)(
        val run: (SparkSession, String) => Seq[Double])
    def walls2(t: (DataFrame, Double, Double)) = {
      t._1.count(); Seq(t._2, t._3)
    }
    def walls3(t: (DataFrame, Double, Double, Double)) = {
      t._1.count(); Seq(t._2, t._3, t._4)
    }
    val splits = Seq(
      Split("pipeline_etl", Seq("pipeline_etl", "pipeline_etl_cleanup"))(
        (s, d) => walls2(PipelineBench.pipelineEtlTimed(s, d))),
      Split("sim_topk_ivf_index", Seq("sim_topk_ivf_index_build",
        "sim_topk_ivf_index_probe"))(
        (s, d) => walls2(TrainingData.simTopkIvfIndexTimed(s, d))),
      Split("dedup_index_novel", Seq("dedup_index_novel_build",
        "dedup_index_novel_probe"))(
        (s, d) => walls2(TrainingData.dedupIndexNovelTimed(s, d))),
      Split("decontam_index", Seq("decontam_index_build",
        "decontam_index_probe"))(
        (s, d) => walls2(TrainingData.decontamIndexTimed(s, d))),
      Split("pipeline_incremental", Seq("pipeline_incremental_base",
        "pipeline_incremental_delta", "pipeline_incremental_cleanup"),
        headline = 2)(
        (s, d) => walls3(PipelineBench.pipelineIncrementalTimedFull(s, d))),
      Split("pipeline_mor", Seq("pipeline_mor_base", "pipeline_mor_delta",
        "pipeline_mor_cleanup"), headline = 2)(
        (s, d) => walls3(PipelineBench.pipelineMorTimedFull(s, d))))
    val splitEntries = splits.filter(sp => only.forall(_(sp.gate))).map { sp =>
      val reps = guardedReps(sp.gate)(sp.run(spark, sfDir))
      // a consistently failing split must SURFACE (stderr + -1 sentinel),
      // not silently vanish from the JSON like an --only filter would:
      // on the gate's own entry when the split has one, else on every label
      val ownsGate = sp.headline > 0 || sp.labels.contains(sp.gate)
      if (reps.isEmpty)
        (if (ownsGate) Seq(sp.gate) else sp.labels).map(_ -> -1.0)
      else {
        val walls = sp.labels.indices.map(colMin(reps, _))
        (if (sp.headline > 0) Seq(sp.gate -> walls.take(sp.headline).sum)
         else Nil) ++ sp.labels.zip(walls)
      }
    }.flatten
    // the dup-cluster rollups (dup_clusters / dup_cluster_sizes) share one
    // memoized label frame (DirMemo), so their entries report rollup cost
    // only; this entry times the label propagation itself FRESH each rep,
    // keeping the graph work visible round-over-round
    // gated on its OWN name so SPARK_GRAFT_ONLY=dup_cluster_labels works;
    // dup_clusters still pulls it in (shared memoized label frame)
    val labelsSplit =
      if (only.exists(o => !o("dup_cluster_labels") && !o("dup_clusters")))
        Seq.empty
      else
      Seq("dup_cluster_labels" -> bestOf {
        TrainingData.dupClusterLabelsFresh(spark, sfDir).count()
        ()
      })
    // 3 decimals keeps the single JSON line compact enough that all 84+
    // entries survive any downstream line truncation (full doubles tripled
    // the line length for sub-millisecond precision the bench doesn't have)
    def fmt(v: Double): String = // ROOT locale: '.' decimal point always
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val all = results ++ splitEntries ++ labelsSplit
    val qs = all.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // total covers the declared queries (the three pipelines via their
    // splits' main entries); the auxiliary
    // *_cleanup/_build/_probe/_base/_delta/dup_cluster_labels entries are
    // diagnostics, not additional queries
    val mains = results ++ splitEntries.filter(e => timedSeparately(e._1))
    val total = mains.filter(_._2 >= 0).map(_._2).sum
    val failed = mains.count(_._2 < 0)
    // corpus size in the result line: round-over-round comparisons must be
    // normalizable when the driver regenerates testdata (the round-9 bench
    // regression was a larger corpus, indistinguishable from plan
    // regressions without these)
    def rowsOf(table: String): Long =
      try spark.read.parquet(s"$sfDir/$table.parquet").count()
      catch { case _: Throwable => -1L }
    val nDocs = rowsOf("documents")
    val nVecs = rowsOf("embeddings")
    val nEvents = rowsOf("events")
    // release memoized label/ground-truth frames (long-running-service
    // hygiene; also proves the eviction path in every bench run)
    graft.queries.DirMemo.clear()
    // run-level contention verdict: p90 of the per-entry residual spreads
    // (after guard re-runs) over the bound, or a machine already loaded
    // BEFORE the bench started — either way the artifact says so itself
    // instead of needing a quiet re-run and an asterisk to interpret.
    // loadEnd is telemetry only: after a multi-minute sweep the 1-minute
    // loadavg is dominated by the bench's own local[N] threads, so it
    // cannot distinguish neighbor load from a clean run.
    val loadEnd = osBean.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors
    val spreadP90 =
      if (spreads.isEmpty) 1.0
      else spreads.sorted.apply(
        math.min(spreads.size - 1, (spreads.size * 9) / 10))
    // end-of-run calibration: the WORSE of the two probes over the
    // committed quiet floor estimates how much a steady external load
    // inflated this run's wall times (uniform inflation is exactly what
    // the spread guard cannot see — Calib scaladoc)
    val calibEnd = graft.tools.Calib.best()
    val calibRatio = graft.tools.Calib.ratioOf(calibStart, calibEnd)
    val inflated = calibRatio > graft.tools.Calib.InflatedBound
    val contended = spreadP90 > SpreadBound ||
      loadStart > cores.toDouble / 2 || inflated
    // the probe decision ledger (round 18): which pruning arm each
    // persisted-index probe actually ran — dir bytes, verdict, literal
    // count — so a driver-environment wall discrepancy names its
    // arm in the artifact itself instead of needing a rebuild-and-guess
    // (the r16/r17 decontam_index_probe 58x gap was unadjudicable for
    // two rounds for want of exactly this)
    val probeJson = graft.operators.KeyProbe.decisions().toSeq.sorted
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      .mkString("{", ",", "}")
    val envJson = s""""probe_decisions":$probeJson,""" +
      s""""contended":$contended,"spread_p90":${fmt(spreadP90)},""" +
      s""""inflated":$inflated,"calib_ratio":${fmt(calibRatio)},""" +
      s""""calib_start_1t":${fmt(calibStart._1)},"calib_start_nt":${fmt(calibStart._2)},""" +
      s""""calib_end_1t":${fmt(calibEnd._1)},"calib_end_nt":${fmt(calibEnd._2)},""" +
      s""""loadavg_start":${fmt(loadStart)},"loadavg_end":${fmt(loadEnd)},""" +
      s""""cores":$cores"""
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failed,"n_docs":$nDocs,"n_vecs":$nVecs,"n_events":$nEvents,$envJson}"""
    // The capture downstream keeps only the TAIL of stdout, so the head of
    // one long line gets truncated (rounds 1-7 lost the first ~8 query
    // entries every round). Persist the full JSON to a file truncation
    // can't reach, still print it for human eyes, and END with a SHORT
    // line that always parses whole. The default path is UNTRACKED
    // (bench_out.local.json, gitignored): scratch and driver runs
    // repeatedly clobbered the committed reference artifact when this
    // wrote to the tracked bench_out.json. SPARK_GRAFT_BENCH_OUT
    // overrides for runs that should refresh the committed artifact
    // deliberately.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_out.local.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // Print after spark.stop()'s shutdown logging so nothing interleaves.
    println(full)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${all.size},"failed":$failed,"contended":$contended,"queries_file":"$outPath"}""")
    System.out.flush()
  }
}
