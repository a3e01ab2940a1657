package graft

import graft.core.{GraftConfig, Json, MissingHeaderError, Retry, Secrets}
import graft.run.WebhookNotifier
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

class OrchestrationSpec extends AnyFunSuite {

  test("secrets: secret:// config values route through the resolver seam") {
    // env scheme (the offline default): the value names another variable
    val env = Map(
      "GRAFT_SMTP_HOST" -> "secret://env/SMTP_HOST_SECRET",
      "SMTP_HOST_SECRET" -> "smtp.internal.example",
      "GRAFT_FROM_EMAIL" -> "etl@example.com")
    val cfg = GraftConfig.load(env)
    assert(cfg.smtpHost.contains("smtp.internal.example"),
      "secret://env/NAME must resolve through the load-time env map")
    // non-secret values pass through untouched
    assert(cfg.fromEmail.contains("etl@example.com"))
    // a registered custom scheme resolves (the aws/azure/gcp plug point,
    // reference settings.py:27-47)
    Secrets.register("testvault", ref => s"resolved:$ref")
    assert(GraftConfig.load(Map("GRAFT_DATA_TEAM_EMAIL" ->
        "secret://testvault/team-email"))
      .dataTeamEmail.contains("resolved:team-email"))
    // unknown scheme fails at LOAD time with the registration hint — a
    // literal secret:// string must never flow into a credential field
    val err = intercept[IllegalArgumentException] {
      GraftConfig.load(Map("GRAFT_SMTP_HOST" -> "secret://nosuch/x"))
    }
    assert(err.getMessage.contains("no resolver registered"))
    // env scheme with a missing target variable also fails loudly
    intercept[IllegalArgumentException] {
      GraftConfig.load(Map("GRAFT_SMTP_HOST" -> "secret://env/UNSET_VAR"))
    }
    // a registered 'env' resolver OVERRIDES the built-in handler (registry
    // is consulted first), and unregistering restores the built-in
    try {
      Secrets.register("env", ref => s"custom:$ref")
      assert(GraftConfig.load(Map("GRAFT_SMTP_HOST" -> "secret://env/HOST"))
        .smtpHost.contains("custom:HOST"))
    } finally Secrets.unregister("env")
    assert(GraftConfig.load(Map(
        "GRAFT_SMTP_HOST" -> "secret://env/H2", "H2" -> "builtin.example"))
      .smtpHost.contains("builtin.example"))
  }

  test("retry: transient errors retried with backoff, then succeed") {
    val calls = new AtomicInteger(0)
    val out = Retry.withBackoff(attempts = 3, initialDelayMs = 1) {
      if (calls.incrementAndGet() < 3) throw new java.io.IOException("flake")
      "ok"
    }
    assert(out == "ok" && calls.get() == 3)
  }

  test("retry: exhausted attempts rethrow; FileErrors never retried") {
    val calls = new AtomicInteger(0)
    intercept[java.io.IOException] {
      Retry.withBackoff(attempts = 2, initialDelayMs = 1) {
        calls.incrementAndGet(); throw new java.io.IOException("down")
      }
    }
    assert(calls.get() == 2)
    val fileCalls = new AtomicInteger(0)
    intercept[MissingHeaderError] {
      Retry.withBackoff(attempts = 3, initialDelayMs = 1) {
        fileCalls.incrementAndGet(); throw MissingHeaderError("f.csv")
      }
    }
    assert(fileCalls.get() == 1) // user-file error: no retry
  }

  test("error location: deepest in-engine frame formatted file:line in method") {
    val loc = graft.core.Errors.location(new RuntimeException("boom"))
    assert(loc.matches("OrchestrationSpec\\.scala:\\d+ in .+"), s"got $loc")
    // no graft frame at all -> explicit unknown, never an exception
    val alien = new RuntimeException("x")
    alien.setStackTrace(Array(
      new StackTraceElement("java.lang.Foo", "bar", "Foo.java", 1)))
    assert(graft.core.Errors.location(alien) == "unknown")
  }

  test("trace: spans emit logfmt with quoting, errors marked ok=false") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    graft.core.Trace.install(l => lines.synchronized { lines += l })
    try {
      graft.core.Trace.span("stage one", "k" -> "a value")(42)
      intercept[RuntimeException] {
        graft.core.Trace.span("failing")(throw new RuntimeException("x"))
      }
    } finally graft.core.Trace.uninstall()
    assert(lines.exists(l => l.startsWith("span=\"stage one\"")
      && l.contains("k=\"a value\"") && l.contains("ok=true")))
    assert(lines.exists(l => l.startsWith("span=failing")
      && l.contains("ok=false") && l.contains("error=RuntimeException")))
    // uninstalled: span body still runs, nothing emitted
    val before = lines.size
    assert(graft.core.Trace.span("off")(7) == 7)
    assert(lines.size == before)
  }

  test("config: env-state prefix wins over bare key wins over default") {
    val cfg = GraftConfig.load(Map(
      "GRAFT_ENV_STATE" -> "prod",
      "GRAFT_PROD_DROP_DIRECTORY" -> "/data/drop",
      "GRAFT_ARCHIVE_DIRECTORY" -> "/data/archive",
      "GRAFT_FILE_POOL_SIZE" -> "4"))
    assert(cfg.dropDirectory == "/data/drop")     // prefixed
    assert(cfg.archiveDirectory == "/data/archive") // bare fallback
    assert(cfg.duplicatesDirectory == "duplicates") // default
    assert(cfg.filePoolSize == 4)
  }

  test("webhook notifier posts JSON; send failure never throws") {
    val received = new java.util.concurrent.LinkedBlockingQueue[String]()
    val server = com.sun.net.httpserver.HttpServer
      .create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", exchange => {
      received.put(new String(exchange.getRequestBody.readAllBytes(), "UTF-8"))
      exchange.sendResponseHeaders(200, 0)
      exchange.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val n = new WebhookNotifier(s"http://127.0.0.1:$port/hook")
      n.notifySummary("processed=3 succeeded=3")
      val body = received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(body != null && body.contains("processed=3") &&
        body.contains("\"level\": \"info\""))
      n.notifyFileError(Seq("a@b.c"), "f.csv", MissingHeaderError("f.csv"))
      val err = received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(err != null && err.contains("MissingHeaderError"))
      // dead endpoint: must swallow after retries, not throw
      val dead = new WebhookNotifier("http://127.0.0.1:1/hook")
      dead.notifySummary("x") // no exception expected
    } finally server.stop(0)
  }

  test("smtp notifier: email=>success path sends exactly one templated message") {
    val stub = new SmtpStub
    stub.start()
    try {
      // drive a real pipeline failure through the email=>success routing:
      // a notify-configured source with a validation error
      val spark = TestSpark.spark
      val workDir = java.nio.file.Files.createTempDirectory("graft_smtp")
      val dropDir = java.nio.file.Files.createDirectories(workDir.resolve("drop"))
      val store = new graft.store.TableStore(spark, workDir.resolve("tables").toString)
      val files = new graft.run.FileOps(spark.sparkContext.hadoopConfiguration,
        workDir.resolve("archive").toString, workDir.resolve("duplicates").toString)
      val notifier = new graft.run.EmailNotifier("127.0.0.1", stub.port,
        "loader@example.com", ccEmail = Some("cc-team@example.com"))
      val proc = new graft.run.Processor(spark, TestSources.registry, store,
        files, notifier, dropDir.toString, filePoolSize = 1)
      val f = TestSources.writeText(dropDir, "notify_sales_1.csv", Seq(
        TestSources.SalesHeader,
        TestSources.salesRow("TXN001"),
        "TXN002,CUST1,SKU1,not_a_number,10.5,21.0,2024-03-01,Alice"))
      val r = proc.processFile(f).get
      // email sent => run counts as SUCCESS (reference runner.py:246-251)
      assert(r.success && r.errorName.contains("ValidationThresholdExceededError"))
      val msg = stub.messages.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(msg != null, "no message reached the SMTP stub")
      assert(stub.messages.isEmpty, "expected exactly one message")
      assert(msg.from == "loader@example.com")
      // recipient list = notification_emails + CC (reference email.py:90-92)
      assert(msg.recipients == Seq("data-team@example.com", "cc-team@example.com"))
      assert(msg.data.contains("Subject: FileLoader Failed: notify_sales_1.csv - ValidationThresholdExceededError"))
      assert(msg.data.contains("Cc: cc-team@example.com"))
      assert(msg.data.contains("File: notify_sales_1.csv"))
      assert(msg.data.contains("Error Type: ValidationThresholdExceededError"))
      assert(msg.data.contains("Error Details:"))
      // dead server: must swallow after retries, never fail the run
      val dead = new graft.run.EmailNotifier("127.0.0.1", 1, "x@y.z")
      dead.notifyFileError(Seq("a@b.c"), "f.csv", MissingHeaderError("f.csv"))
      // CR/LF smuggled through a filename must not inject extra headers
      notifier.notifyFileError(Seq("a@b.c"), "evil\r\nX-Injected: 1.csv",
        MissingHeaderError("evil"))
      val m2 = stub.messages.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(m2 != null, "injection-test message did not arrive")
      val headerSection = m2.data.split("\n\n", 2)(0)
      assert(headerSection.linesIterator.forall(!_.startsWith("X-Injected")),
        s"injected header leaked:\n$headerSection")
      assert(headerSection.contains(
        "Subject: FileLoader Failed: evil X-Injected: 1.csv"))
    } finally stub.stop()
  }

  test("otlp exporter: spans batch to /v1/traces as OTLP JSON; failures drop") {
    val received = new java.util.concurrent.LinkedBlockingQueue[String]()
    val server = com.sun.net.httpserver.HttpServer
      .create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/traces", exchange => {
      received.put(new String(exchange.getRequestBody.readAllBytes(), "UTF-8"))
      exchange.sendResponseHeaders(200, 0)
      exchange.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      // base endpoint: exporter must append the standard /v1/traces path
      val exp = new graft.core.OtlpHttpExporter(s"http://127.0.0.1:$port",
        flushEvery = 2).install()
      try {
        graft.core.Trace.span("read file", "file" -> "a.csv", "rows" -> 42)(1)
        assert(received.isEmpty, "must buffer until flushEvery")
        intercept[RuntimeException] {
          graft.core.Trace.span("validate")(throw new RuntimeException("boom"))
        }
        val body = received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
        assert(body != null, "batch of 2 spans did not flush")
        assert(body.contains("\"resourceSpans\""))
        assert(body.contains("\"service.name\"") && body.contains("\"graft\""))
        assert(body.contains("\"name\":\"read file\""))
        assert(body.contains("\"intValue\":\"42\""))
        assert(body.contains("\"stringValue\":\"a.csv\""))
        // failed span carries ERROR status + error.type attribute
        assert(body.contains("\"code\":2") && body.contains("RuntimeException"))
        assert("\"traceId\":\"[0-9a-f]{32}\"".r.findFirstIn(body).isDefined)
        assert("\"spanId\":\"[0-9a-f]{16}\"".r.findFirstIn(body).isDefined)
        assert("\"startTimeUnixNano\":\"\\d+\"".r.findFirstIn(body).isDefined)
        // shutdown flushes a partial batch
        graft.core.Trace.span("partial")(1)
        exp.shutdown()
        val tail = received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
        assert(tail != null && tail.contains("\"name\":\"partial\""))
        // dead collector: export drops, the span body's result is unaffected
        val dead = new graft.core.OtlpHttpExporter("http://127.0.0.1:1",
          flushEvery = 1).install()
        assert(graft.core.Trace.span("dropped")(7) == 7)
        dead.shutdown()
      } finally graft.core.Trace.uninstall()
    } finally server.stop(0)
  }

  test("cloud credentials: GRAFT_* env maps onto hadoop fs settings") {
    import graft.core.CloudCredentials
    val env = Map(
      "GRAFT_AWS_ACCESS_KEY_ID" -> "AKIA123",
      "GRAFT_AWS_SECRET_ACCESS_KEY" -> "secret",
      "GRAFT_AWS_SESSION_TOKEN" -> "tok",
      "GRAFT_AWS_ENDPOINT_URL" -> "http://127.0.0.1:9000",
      "GRAFT_AWS_REGION" -> "us-east-1",
      "GRAFT_AZURE_STORAGE_ACCOUNT" -> "acct1",
      "GRAFT_AZURE_STORAGE_KEY" -> "azkey",
      "GRAFT_GCP_SERVICE_ACCOUNT_KEYFILE" -> "/etc/sa.json",
      "GRAFT_HADOOP_CONF" -> "fs.s3a.connection.maximum=64; fs.custom.flag=on")
    val s = CloudCredentials.hadoopSettings(env)
    assert(s("fs.s3a.access.key") == "AKIA123")
    assert(s("fs.s3a.secret.key") == "secret")
    assert(s("fs.s3a.session.token") == "tok")
    // a session token implies the temporary-credentials provider
    assert(s("fs.s3a.aws.credentials.provider")
      .contains("TemporaryAWSCredentialsProvider"))
    // custom endpoint (MinIO/LocalStack) implies path-style addressing
    assert(s("fs.s3a.endpoint") == "http://127.0.0.1:9000")
    assert(s("fs.s3a.path.style.access") == "true")
    assert(s("fs.s3a.endpoint.region") == "us-east-1")
    assert(s("fs.azure.account.key.acct1.dfs.core.windows.net") == "azkey")
    assert(s("fs.azure.account.key.acct1.blob.core.windows.net") == "azkey")
    assert(s("google.cloud.auth.service.account.enable") == "true")
    assert(s("google.cloud.auth.service.account.json.keyfile") == "/etc/sa.json")
    assert(s("fs.s3a.connection.maximum") == "64")
    assert(s("fs.custom.flag") == "on")
    // ENV_STATE-prefixed settings win over the bare form (GraftConfig order)
    val prod = CloudCredentials.hadoopSettings(Map(
      "GRAFT_ENV_STATE" -> "prod",
      "GRAFT_PROD_AWS_ACCESS_KEY_ID" -> "PRODKEY",
      "GRAFT_AWS_ACCESS_KEY_ID" -> "DEVKEY"))
    assert(prod("fs.s3a.access.key") == "PRODKEY")
    // install applies onto a Configuration
    val conf = new org.apache.hadoop.conf.Configuration(false)
    CloudCredentials.install(conf, env)
    assert(conf.get("fs.s3a.access.key") == "AKIA123")
    // malformed escape-hatch pair is a hard config error
    intercept[IllegalArgumentException] {
      CloudCredentials.hadoopSettings(Map("GRAFT_HADOOP_CONF" -> "novalue"))
    }
  }

  test("missing object-store connector surfaces an actionable error") {
    val spark = TestSpark.spark
    val files = new graft.run.FileOps(spark.sparkContext.hadoopConfiguration,
      "archive", "duplicates")
    // no hadoop-aws on this classpath: the scan must fail with the deploy
    // hint, not a bare 'No FileSystem for scheme'
    val e = intercept[java.io.IOException] {
      files.scanDirectory("s3a://bucket/drop")
    }
    assert(e.getMessage.contains("hadoop-aws"),
      s"expected connector hint, got: ${e.getMessage}")
    assert(graft.core.CloudCredentials.missingConnectorHint(
      new java.io.IOException("connection reset")).isEmpty)
  }

  test("Json.str: every ASCII char, quote, backslash and non-ASCII parse back equal") {
    val s = (0 to 0x7f).map(_.toChar).mkString + "\"\\\u00e9\u20ac"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Json.str(s), classOf[String])
    assert(back == s)
  }

  test("extensions: function builders produce working expressions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.core.GraftExtensions().apply(ext) // registration must not throw
    import graft.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val arr = Literal.create(Array(1.0, 2.0), ArrayType(DoubleType))
    assert(VecDot(arr, arr).eval(null) == 5.0)
    val ids = ShingleIds(Literal("a b c"), 2).eval(null).asInstanceOf[ArrayData]
    assert(ids.numElements() == 2)
    val sig = MinHashSignature(Literal.create(Array(7L, 9L),
      ArrayType(LongType)), 4).eval(null).asInstanceOf[ArrayData]
    assert(sig.numElements() == 4)
    assert(math.abs(CosineSim(arr, arr).eval(null)
      .asInstanceOf[Double] - 1.0) < 1e-12)
    val longs = Literal.create(Array(1L, 3L), ArrayType(LongType))
    assert(IntersectSizeIds(longs, longs).eval(null) == 2L)
    val nv = VecNormalize(Literal.create(Array(3.0, 4.0), ArrayType(DoubleType)))
      .eval(null).asInstanceOf[ArrayData]
    assert(nv.getDouble(0) == 0.6 && nv.getDouble(1) == 0.8)
    assert(SimhashMd5(Literal("a b")).eval(null).isInstanceOf[Long])
  }
}

/** Minimal in-process SMTP server: accepts connections, records MAIL FROM /
  * RCPT TO / DATA per message.
  */
final class SmtpStub {
  final case class Message(from: String, recipients: Seq[String], data: String)
  val messages = new java.util.concurrent.LinkedBlockingQueue[Message]()
  private val server = new java.net.ServerSocket(0, 8,
    java.net.InetAddress.getByName("127.0.0.1"))
  private var thread: Thread = _
  def port: Int = server.getLocalPort

  def start(): Unit = {
    thread = new Thread(() => {
      try while (!server.isClosed) {
        val s = server.accept()
        try handle(s) finally s.close()
      } catch { case _: java.net.SocketException => () } // closed
    })
    thread.setDaemon(true)
    thread.start()
  }

  private def handle(s: java.net.Socket): Unit = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(s.getInputStream, "US-ASCII"))
    val out = new java.io.OutputStreamWriter(s.getOutputStream, "US-ASCII")
    def reply(r: String): Unit = { out.write(r + "\r\n"); out.flush() }
    reply("220 stub ESMTP")
    var from = ""
    val rcpts = scala.collection.mutable.ArrayBuffer[String]()
    var line = in.readLine()
    while (line != null) {
      val upper = line.toUpperCase
      if (upper.startsWith("HELO") || upper.startsWith("EHLO")) reply("250 ok")
      else if (upper.startsWith("MAIL FROM:")) {
        from = line.drop(10).trim.stripPrefix("<").stripSuffix(">"); reply("250 ok")
      } else if (upper.startsWith("RCPT TO:")) {
        rcpts += line.drop(8).trim.stripPrefix("<").stripSuffix(">"); reply("250 ok")
      } else if (upper == "DATA") {
        reply("354 end with .")
        val sb = new StringBuilder
        var d = in.readLine()
        while (d != null && d != ".") {
          sb.append(if (d.startsWith("..")) d.drop(1) else d).append("\n")
          d = in.readLine()
        }
        messages.put(Message(from, rcpts.toSeq, sb.toString))
        reply("250 queued")
      } else if (upper == "QUIT") { reply("221 bye"); return }
      else reply("250 ok")
      line = in.readLine()
    }
  }

  def stop(): Unit = server.close()
}
