package graft.core

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.ThreadLocalRandom

/** OTLP/HTTP trace exporter for [[Trace]] spans (SURVEY §2 O7; the reference
  * configures an OpenTelemetry OTLP exporter + span processor in
  * src/logging_conf.py:37-128).
  *
  * Dependency-free: spans are serialized to the OTLP JSON protobuf mapping
  * (`resourceSpans / scopeSpans / spans`) and POSTed to the collector's
  * standard `/v1/traces` endpoint over the JDK HTTP client — the same wire
  * shape an OTel SDK would send, so any collector (Jaeger, Tempo, vendor
  * agents) ingests it unchanged.
  *
  * Batching: spans buffer locally and flush every `flushEvery` spans and on
  * [[shutdown]] — mirroring the SDK's BatchSpanProcessor. A flush failure
  * drops the batch with a stderr note: tracing is observability, never
  * control flow (same contract as the logfmt sink and the notifiers).
  *
  * Span identity: the engine's spans are driver-side stage timings, not a
  * distributed causal tree, so each span gets a fresh random trace/span id
  * (the reference's per-file OTel spans are similarly flat).
  */
final class OtlpHttpExporter(
    endpoint: String,
    serviceName: String = "graft",
    flushEvery: Int = 32,
    client: HttpClient = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(5)).build()) {

  private val buf = new java.util.ArrayList[Trace.SpanData]()

  // Flushes run on ONE background daemon thread (the BatchSpanProcessor
  // contract): a slow or unreachable collector must never stall the
  // pipeline thread that happened to record the 32nd span — synchronously,
  // retry-with-backoff against a dead endpoint held the caller ~30 s per
  // flush. The queue is bounded; batches beyond it are dropped with a
  // stderr note (tracing is observability, never control flow, and never
  // unbounded memory).
  private val exportThread = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-otlp-export"); t.setDaemon(true); t
    })
  private val queued = new java.util.concurrent.atomic.AtomicInteger(0)
  private val MaxQueuedBatches = 8

  private def enqueue(batch: java.util.List[Trace.SpanData]): Unit =
    if (queued.incrementAndGet() > MaxQueuedBatches) {
      queued.decrementAndGet()
      System.err.println(
        s"[graft] otlp export queue full (dropped ${batch.size()} spans)")
    } else
      try exportThread.execute(() => try send(batch) finally queued.decrementAndGet())
      catch { // racing shutdown(): executor already terminated
        case _: java.util.concurrent.RejectedExecutionException =>
          queued.decrementAndGet()
      }

  /** The sink to pass to [[Trace.installSpanSink]]. */
  val sink: Trace.SpanSink = { data =>
    val toFlush = buf.synchronized {
      buf.add(data)
      if (buf.size >= flushEvery) {
        val batch = new java.util.ArrayList(buf); buf.clear(); Some(batch)
      } else None
    }
    toFlush.foreach(enqueue)
  }

  def install(): this.type = { Trace.installSpanSink(sink); this }

  /** Flush any buffered spans and wait (bounded) for in-flight exports; call
    * at process end. Batches still unflushed after the wait are dropped —
    * the export thread is a daemon, so a hung collector cannot block JVM
    * exit either.
    */
  def shutdown(): Unit = {
    val toFlush = buf.synchronized {
      if (buf.isEmpty) None
      else { val batch = new java.util.ArrayList(buf); buf.clear(); Some(batch) }
    }
    toFlush.foreach(enqueue)
    exportThread.shutdown()
    exportThread.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def hex(bytes: Int): String = {
    val b = new Array[Byte](bytes)
    ThreadLocalRandom.current().nextBytes(b)
    b.map(x => f"$x%02x").mkString
  }

  private def attrJson(k: String, v: Any): String = v match {
    case i: Int => s"""{"key":${Json.str(k)},"value":{"intValue":"$i"}}"""
    case l: Long => s"""{"key":${Json.str(k)},"value":{"intValue":"$l"}}"""
    case b: Boolean => s"""{"key":${Json.str(k)},"value":{"boolValue":$b}}"""
    case d: Double if !d.isNaN && !d.isInfinite =>
      s"""{"key":${Json.str(k)},"value":{"doubleValue":$d}}"""
    case d: Double => // NaN/Infinity are not valid JSON numbers
      s"""{"key":${Json.str(k)},"value":{"stringValue":"$d"}}"""
    case other => s"""{"key":${Json.str(k)},"value":{"stringValue":${Json.str(String.valueOf(other))}}}"""
  }

  private def spanJson(s: Trace.SpanData): String = {
    val endNano = s.endUnixMillis * 1000000L
    val startNano = endNano - s.durationNanos
    // OTLP status: 1 = OK, 2 = ERROR
    val status =
      if (s.ok) """{"code":1}"""
      else s"""{"code":2,"message":${Json.str(s.errorClass.getOrElse(""))}}"""
    val attrs = (s.attrs.map { case (k, v) => attrJson(k, v) } ++
      s.errorClass.map(c => attrJson("error.type", c))).mkString(",")
    s"""{"traceId":"${hex(16)}","spanId":"${hex(8)}","name":${Json.str(s.name)},""" +
      s""""kind":1,"startTimeUnixNano":"$startNano","endTimeUnixNano":"$endNano",""" +
      s""""status":$status,"attributes":[$attrs]}"""
  }

  private def send(batch: java.util.List[Trace.SpanData]): Unit =
    try Retry.withBackoff() {
      val spans = new java.util.ArrayList(batch)
      val body =
        s"""{"resourceSpans":[{"resource":{"attributes":[""" +
          attrJson("service.name", serviceName) +
          s"""]},"scopeSpans":[{"scope":{"name":"graft.trace"},"spans":[""" +
          (0 until spans.size).map(i => spanJson(spans.get(i))).mkString(",") +
          s"""]}]}]}"""
      val url = if (endpoint.endsWith("/v1/traces")) endpoint
                else endpoint.stripSuffix("/") + "/v1/traces"
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofSeconds(10))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 400)
        throw new java.io.IOException(s"otlp export HTTP ${resp.statusCode()}")
    } catch {
      case e: Throwable =>
        System.err.println(s"[graft] otlp span export failed (dropped ${batch.size()} spans): $e")
    }
}
