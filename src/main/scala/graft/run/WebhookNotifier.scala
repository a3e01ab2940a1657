package graft.run

import graft.core.{FileError, Json, Retry}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

/** Webhook notifier over the JDK HTTP client (reference
  * src/notify/webhook.py:15-93: level-emoji JSON payloads posted to a
  * configured URL; summary + internal alerts).
  *
  * Failure to notify must never fail a file run (the reference logs and
  * continues) — sends are retried with backoff, then dropped with a stderr
  * note.
  */
final class WebhookNotifier(url: String,
                            client: HttpClient = HttpClient.newBuilder()
                              .connectTimeout(Duration.ofSeconds(5)).build())
    extends Notifier {

  private def post(level: String, emoji: String, text: String): Unit =
    try Retry.withBackoff() {
      val body =
        s"""{"level": ${Json.str(level)}, "emoji": "$emoji", "text": ${Json.str(text)}}"""
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofSeconds(10))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 400)
        throw new java.io.IOException(s"webhook HTTP ${resp.statusCode()}")
    } catch {
      case e: Throwable =>
        System.err.println(s"[graft] webhook notify failed (dropped): $e")
    }

  override def notifyFileError(recipients: Seq[String], fileName: String,
                               error: FileError): Unit =
    post("error", "🚨",
      s"file=$fileName error=${error.errorName}: ${error.getMessage} " +
        s"(notify: ${recipients.mkString(", ")})")

  override def notifySummary(summary: String): Unit =
    post("info", "✅", summary)
}
