package graft.perfbench

import graft.core.{GraftSession, Trace}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One benchmark run of one workload in a fresh JVM.
  *
  * {{{
  * Main --workload bulk_load|query_suite --data <generated dir>
  *      --work <scratch dir> --out <result.json> --seconds <s> --trace 0|1
  * }}}
  *
  * Set-up (session start and warm-up) is timed once; then the
  * workload's closed loop runs for at least `--seconds`. With `--trace 1`
  * an untraced loop runs first, then the same loop again with the job
  * ledger and the span collector installed; the per-layer figures come
  * from the traced loop and the difference between the two loops' median
  * operation latency is the tracing overhead. The result file is read by
  * `run.py`, which checks query results against their oracles with
  * `tools/compare.py` and prints the benchmark's final line.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val data = Paths.get(kv("data"))
    val work = Paths.get(kv("work"))
    val seconds = kv("seconds").toDouble
    val trace = kv.get("trace").contains("1")

    val host = new Host
    val tc = System.nanoTime()
    host.start()
    phase("host calibration", tc)
    val t0 = System.nanoTime()
    val spark = GraftSession.builder()
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session", t0)
    val w: Workload = workload match {
      case "bulk_load" => new BulkLoad(spark, data, work)
      case "query_suite" => new QuerySuite(spark, data, work)
      case other => sys.error(s"unknown workload $other")
    }
    val t1 = System.nanoTime()
    w.setup()
    phase("workload set-up", t1)
    val setupS = (System.nanoTime() - t0) / 1e9

    val plain = new Rec
    val t2 = System.nanoTime()
    runLoop(w, plain, seconds)
    phase("loop", t2)
    val perLayer = if (!trace) Map.empty[String, Double] else {
      val ledger = new Ledger(w.labelOf)
      val spans = new java.util.concurrent.ConcurrentLinkedQueue[Trace.SpanData]()
      spark.sparkContext.addSparkListener(ledger)
      Trace.installSpanSink(s => { spans.add(s); () })
      val traced = new Rec
      try runLoop(w, traced, seconds)
      finally Trace.uninstall()
      Ledger.drain(spark)
      spark.sparkContext.removeSparkListener(ledger)
      writeSpans(kv("spans"), spans, ledger)
      plain.merge(traced)
      Layers.compute(ledger, traced,
        traceOverheadS = Rec.median(traced.opLatency) - Rec.median(plain.opLatency),
        cores = spark.sparkContext.defaultParallelism)
    }
    val t3 = System.nanoTime()
    w.finish(plain)
    phase("finish", t3)
    val t4 = System.nanoTime()
    host.end()
    phase("host calibration", t4)

    val rssMb = peakRssMb()
    val out = new StringBuilder
    out ++= "{\n"
    out ++= s"""  "workload": ${Json.str(workload)},\n"""
    out ++= s"""  "setup_jvm_s": ${Json.num(setupS)},\n"""
    out ++= s"""  "attempted": ${plain.attempted},\n"""
    out ++= s"""  "failed": ${plain.failed},\n"""
    out ++= s"""  "errors": ${Json.arr(plain.errors.take(20).toSeq)},\n"""
    out ++= s"""  "op_latency_s": ${plain.opLatency.map(Json.num).mkString("[", ", ", "]")},\n"""
    out ++= s"""  "end_to_end": ${Json.obj(w.endToEnd(plain))},\n"""
    out ++= s"""  "named": ${Json.obj(w.named(plain) + ("peak_rss_mb" -> rssMb))},\n"""
    out ++= s"""  "per_layer": ${Json.obj(perLayer)},\n"""
    out ++= s"""  "host": ${Json.obj(host.figures)}\n"""
    out ++= "}\n"
    Files.writeString(Paths.get(kv("out")), out.toString)
    spark.stop()
  }

  /** Log a phase's wall time to the JVM's output, for diagnosing a run. */
  private def phase(name: String, since: Long): Unit =
    println(f"perfbench: $name took ${(System.nanoTime() - since) / 1e9}%.2f s")

  /** Closed loop: whole iterations until `seconds` have passed (at least one). */
  private def runLoop(w: Workload, rec: Rec, seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    do w.iterate(rec) while (System.nanoTime() < end)
  }

  /** Spans as JSON lines, each with its self time: the part of the span's
    * interval that no recorded Spark job covers.
    */
  private def writeSpans(path: String, spans: java.lang.Iterable[Trace.SpanData],
                         ledger: Ledger): Unit = {
    import scala.jdk.CollectionConverters._
    val lines = spans.asScala.toSeq.sortBy(_.endUnixMillis).map { s =>
      val end = s.endUnixMillis
      val start = end - s.durationNanos / 1000000L
      val attrs = s.attrs.map { case (k, v) => k -> String.valueOf(v) }.toMap
      Json.rawObj(Map(
        "span" -> Json.str(s.name), "start_ms" -> start.toString,
        "end_ms" -> end.toString, "ok" -> s.ok.toString,
        "file" -> Json.str(attrs.getOrElse("file", "")),
        "self_s" -> Json.num(ledger.uncoveredMs(start, end) / 1e3),
        "wall_s" -> Json.num(s.durationNanos / 1e9)))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  /** Process peak resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Run `f` with the benchmark's scope label in two local properties.
    * `spark.jobGroup.id`: the program's code never sets job groups, and
    * [[graft.operators.Audit.inParallel]] carries the caller's group to
    * its pooled worker threads. `perfbench.scope`: inherited by threads
    * created inside `f`, such as a streaming query's micro-batch thread,
    * which replaces the job group with its own.
    */
  def scoped[T](spark: SparkSession, scope: String)(f: => T): T = {
    val sc = spark.sparkContext
    val keys = Seq("spark.jobGroup.id", "perfbench.scope")
    val prev = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, scope))
    try f finally keys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

/** A workload: set-up once, then closed-loop iterations. */
trait Workload {
  def setup(): Unit
  def iterate(rec: Rec): Unit
  /** Ledger label of a job, from its local properties; None = not counted. */
  def labelOf(p: java.util.Properties): Option[String]
  def finish(rec: Rec): Unit = ()
  /** The gated end-to-end figures (every workload reports the same names).
    * Operation latencies are printed under the workloads' own names but
    * not gated: one load or query of 1-4 s spreads too widely from run to
    * run on a shared 4-core host.
    */
  def endToEnd(rec: Rec): Map[String, Double] = Map("ops_per_s" -> rec.ops / rec.wallS)
  /** The workload's figures under their own names, for people. */
  def named(rec: Rec): Map[String, Double]
}

/** What one loop measured. */
final class Rec {
  var ops = 0L
  var wallS = 0.0
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val opLatency = mutable.ArrayBuffer.empty[Double]
  /** Per-operation [start, end] epoch millis and the operation's label. */
  val opWindows = mutable.ArrayBuffer.empty[(Long, Long, String)]
  val readBack = mutable.ArrayBuffer.empty[Double]
  val storageAmp = mutable.ArrayBuffer.empty[Double]
  val passWall = mutable.ArrayBuffer.empty[Double]
  var rowsPublished = 0L
  var rowsRead = 0L
  var inputBytes = 0L

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += what }
  }

  /** Fold another loop's correctness counts into this one. */
  def merge(o: Rec): Unit = {
    attempted += o.attempted
    failed += o.failed
    errors ++= o.errors
  }
}

object Rec {
  /** Nearest-rank percentile, q in (0, 1]. */
  def pct(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.size).toInt - 1))
    }

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Host state at run start and end: cores, load average, and the
  * fixed-work calibration spin of [[graft.tools.Calib]], so a contended run
  * labels itself.
  */
final class Host {
  private var load0 = 0.0
  private var load1 = 0.0
  private var calib0 = (0.0, 0.0)
  private var calib1 = (0.0, 0.0)

  private def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def calib(): (Double, Double) =
    (graft.tools.Calib.once(), graft.tools.Calib.onceParallel())

  def start(): Unit = { load0 = loadavg(); calib0 = calib() }
  def end(): Unit = { load1 = loadavg(); calib1 = calib() }

  def figures: Map[String, Double] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors.toDouble,
    "loadavg_start" -> load0,
    "loadavg_end" -> load1,
    "calib_ratio_start" -> graft.tools.Calib.ratioOf(calib0),
    "calib_ratio_end" -> graft.tools.Calib.ratioOf(calib1))
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ", ", "]")

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
      .mkString("{", ", ", "}")

  /** An object whose values are already rendered JSON. */
  def rawObj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: $v" }
      .mkString("{", ", ", "}")
}
