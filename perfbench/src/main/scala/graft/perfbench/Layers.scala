package graft.perfbench

/** Per-layer metric names (`<layer>.<label>.<metric>`) and their values
  * from one traced loop. Every workload reports every name; a label the
  * workload never reaches reads 0.
  */
object Layers {
  /** Pipeline job labels, by the program's `spark.job.description` prefix. */
  val ByDescription: Map[String, String] = Map(
    "pipeline:read" -> "sources.read",
    "pipeline:validate" -> "operators.validate",
    "pipeline:audit" -> "operators.audit",
    "pipeline:publish" -> "store.publish",
    "pipeline:dlq-write" -> "store.dlq",
    "pipeline:dlq-cleanup" -> "store.dlq",
    "pipeline:dup-probe" -> "store.sidecar",
    "pipeline:sidecar-append" -> "store.sidecar",
    "pipeline:log-append" -> "store.log",
    "pipeline:rebucket-gauge" -> "store.layout")

  val PipelineLabels: Seq[String] = (ByDescription.values.toSeq :+ "unlabeled").distinct.sorted

  val QueryLabels: Seq[String] = Seq("queries.relational", "queries.training",
    "queries.index", "queries.streaming")

  private val Time = Seq("jobs", "tasks", "job_wall_s", "executor_run_s", "executor_cpu_s")

  /** The ledger figures reported per label: the ones a change to that
    * label's code can move on a gated workload. Labels reached only by
    * error files, merges into existing targets or multi-file drops
    * (`store.dlq`, `store.layout`) are in the ledger but not reported:
    * neither gated workload submits their jobs.
    */
  val Reported: Seq[(String, Seq[String])] = Seq(
    "sources.read" -> (Time ++ Seq("input_bytes", "task_skew")),
    "operators.validate" -> (Time ++ Seq("shuffle_bytes", "spill_bytes", "input_bytes", "task_skew")),
    "operators.audit" -> (Time ++ Seq("shuffle_bytes", "input_bytes")),
    "store.publish" -> (Time ++ Seq("shuffle_bytes", "spill_bytes", "input_bytes",
      "output_bytes", "task_skew")),
    "store.sidecar" -> Time,
    "store.log" -> Time,
    "unlabeled" -> (Time ++ Seq("shuffle_bytes", "input_bytes", "output_bytes")),
    "queries.relational" -> (Time ++ Seq("shuffle_bytes", "spill_bytes", "input_bytes", "task_skew")),
    "queries.training" -> (Time ++ Seq("shuffle_bytes", "spill_bytes", "input_bytes", "task_skew")),
    "queries.index" -> (Time ++ Seq("shuffle_bytes", "input_bytes", "output_bytes")),
    "queries.streaming" -> (Time ++ Seq("shuffle_bytes", "input_bytes")))

  val names: Seq[String] =
    Reported.flatMap { case (l, ms) => ms.map(m => s"$l.$m") } ++
      Seq("operators.validate.rows_ratio", "store.publish.write_amp") ++
      QueryLabels.flatMap(l => Seq(s"$l.cpu_util", s"$l.driver_gap_s")) ++
      Seq("run.driver_gap_s", "run.read_back_s", "run.storage_amp", "run.trace_overhead_s")

  def pipelineLabel(p: java.util.Properties): Option[String] =
    if (p.getProperty("spark.jobGroup.id") != "perfbench") None
    else Some(Option(p.getProperty("spark.job.description"))
      .flatMap(d => ByDescription.get(d.takeWhile(_ != ' ')))
      .getOrElse("unlabeled"))

  def compute(ledger: Ledger, rec: Rec, traceOverheadS: Double,
              cores: Int): Map[String, Double] = {
    val all = Reported.flatMap { case (l, ms) =>
      val m = ledger.metrics(l)
      ms.map(k => s"$l.$k" -> m(k))
    }.toMap
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def meanGap(ws: collection.Seq[(Long, Long, String)]) =
      ratio(ws.map { case (s, e, _) => ledger.uncoveredMs(s, e) / 1e3 }.sum, ws.size)
    val perQueryLabel = QueryLabels.flatMap { l =>
      Seq(s"$l.cpu_util" -> ratio(all(s"$l.executor_cpu_s"), all(s"$l.job_wall_s") * cores),
        s"$l.driver_gap_s" -> meanGap(rec.opWindows.filter(_._3 == l)))
    }
    all ++ perQueryLabel ++ Map(
      // rows the validate jobs read from their input, by Spark's task input
      // metrics, per row the program reports read
      "operators.validate.rows_ratio" ->
        ratio(ledger.metrics("operators.validate")("input_records"), rec.rowsRead),
      "store.publish.write_amp" ->
        ratio(ledger.metrics("store.publish")("output_bytes"), rec.inputBytes),
      "run.driver_gap_s" -> meanGap(rec.opWindows),
      "run.read_back_s" -> Rec.median(rec.readBack),
      "run.storage_amp" -> Rec.median(rec.storageAmp),
      "run.trace_overhead_s" -> traceOverheadS)
  }
}
