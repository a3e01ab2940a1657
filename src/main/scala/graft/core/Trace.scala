package graft.core

import java.util.concurrent.atomic.AtomicReference

/** Structured per-stage tracing (SURVEY §2 O7): the reference hangs an
  * OpenTelemetry span on every file and pipeline stage
  * (src/logging_conf.py:37-128, span at processor.py:71). This engine's
  * equivalent is a dependency-free span layer emitting one logfmt line per
  * completed span — `span=<name> ms=<millis> ok=<bool> key=value...` — to a
  * pluggable sink (stderr via the CLI `--trace` flag; a buffer in tests; an
  * OTel exporter adapter in a real deployment).
  *
  * The sink is process-global and defaults to a no-op, so tracing costs one
  * volatile read per span when disabled. Span attributes are rendered
  * eagerly but only when a sink is installed.
  */
object Trace {
  type Sink = String => Unit

  /** A completed span, for structured exporters ([[OtlpHttpExporter]]):
    * everything the logfmt line carries, pre-rendering.
    */
  final case class SpanData(name: String, durationNanos: Long,
                            endUnixMillis: Long, ok: Boolean,
                            errorClass: Option[String],
                            attrs: Seq[(String, Any)])
  type SpanSink = SpanData => Unit

  private val sinkRef = new AtomicReference[Option[Sink]](None)
  private val spanSinkRef = new AtomicReference[Option[SpanSink]](None)

  def install(sink: Sink): Unit = sinkRef.set(Some(sink))
  def installSpanSink(sink: SpanSink): Unit = spanSinkRef.set(Some(sink))
  def uninstall(): Unit = { sinkRef.set(None); spanSinkRef.set(None) }

  private def fmt(v: Any): String = {
    val s = String.valueOf(v)
    // one span must stay ONE line: escape every control char (a filename
    // with \n would otherwise split the record for line-oriented consumers)
    if (s.exists(c => c <= ' ' || c == '"' || c == '=' || c == 0x7f)) {
      val escaped = s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' || c == 0x7f => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      "\"" + escaped + "\""
    } else s
  }

  /** Run `f` inside a named span; emit one logfmt line on completion
    * (including failure — `ok=false` plus the error class) when a sink is
    * installed. The body's result/exception always propagates unchanged.
    */
  def span[T](name: String, attrs: (String, Any)*)(f: => T): T = {
    val lineSink = sinkRef.get()
    val spanSink = spanSinkRef.get()
    if (lineSink.isEmpty && spanSink.isEmpty) return f
    val t0 = System.nanoTime()
    var error: Option[Throwable] = None
    try f
    catch { case e: Throwable => error = Some(e); throw e }
    finally {
      val nanos = System.nanoTime() - t0
      val data = SpanData(name, nanos, System.currentTimeMillis(),
        error.isEmpty, error.map(_.getClass.getSimpleName), attrs)
      // a throwing sink must never replace the body's result/exception —
      // tracing is observability, not control flow
      try {
        lineSink.foreach { s =>
          val base = s"span=${fmt(name)} ms=${(nanos / 1e6).round} ok=${data.ok}"
          val err = data.errorClass.map(c => s" error=${fmt(c)}").getOrElse("")
          val rest = attrs.map { case (k, v) => s" ${fmt(k)}=${fmt(v)}" }.mkString
          s(base + err + rest)
        }
        spanSink.foreach(_(data))
      } catch { case _: Throwable => () }
    }
  }

  /** One pipeline stage: `f` inside the span `name` with `attrs`, its
    * Spark jobs described as `jobDesc` ([[span]] around [[withJobDesc]]).
    */
  def stage[T](spark: org.apache.spark.sql.SparkSession, name: String,
               jobDesc: String, attrs: (String, Any)*)(f: => T): T =
    span(name, attrs: _*)(withJobDesc(spark, jobDesc)(f))

  /** Run `f` with a Spark job description so every job it submits is
    * attributable in the UI and per-job listeners (the optimization
    * guide's "label your jobs"; Spark 4 no longer carries call sites in
    * job properties, so an unlabeled metadata job is anonymous). The
    * property is thread-local; the caller's own label — e.g. the bench's
    * per-entry description — is RESTORED afterward, not cleared, so
    * nesting composes. Costs two local-property writes; no job control
    * semantics change (job groups are untouched).
    */
  def withJobDesc[T](spark: org.apache.spark.sql.SparkSession,
                     desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }
}
