package graft.run

import graft.core._
import graft.store.TableStore

/** CLI entry point (reference src/cli/main.py:26-129 and the `fileloader`
  * wrapper): sweep a drop directory through the pipeline against a set of
  * registered sources.
  *
  * Usage:
  *   graft.run.Main --drop DIR --archive DIR --duplicates DIR --warehouse DIR
  *                  [--file NAME] [--jdbc URL]
  *   graft.run.Main --corpus DIR --warehouse DIR [--snapshot TAG]  # corpus release
  *   graft.run.Main --corpus-delta TAG --warehouse DIR [--out DIR] # CDC since TAG
  *   graft.run.Main --corpus-forget IDS --warehouse DIR [--scrub true] # takedown
  *
  * Sources are registered in code (like the reference's src/sources/systems
  * package); [[DemoSources.registry]] ships the example `sales` source so
  * the CLI is usable out of the box — a library user supplies their own
  * registry through [[Processor]] directly.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    // flags override GRAFT_[<ENV_STATE>_]* environment settings (reference
    // runs entirely off its settings module; the CLI only overrides)
    val cfg = graft.core.GraftConfig.load()
    // --trace true: one logfmt line per pipeline span to stderr (O7)
    if (opts.get("trace").contains("true"))
      graft.core.Trace.install(l => System.err.println(s"[trace] $l"))
    // --otel URL (or GRAFT_OTEL_ENDPOINT): export spans OTLP/HTTP to a
    // collector's /v1/traces; composes with --trace (separate sinks)
    val otel = opts.get("otel").orElse(cfg.otelEndpoint)
      .map(url => new graft.core.OtlpHttpExporter(url).install())
    def req(k: String): String = opts.getOrElse(k, k match {
      case "drop" => cfg.dropDirectory
      case "archive" => cfg.archiveDirectory
      case "duplicates" => cfg.duplicatesDirectory
      case "warehouse" => cfg.warehouseDirectory
      case other => sys.error(s"missing required option --$other")
    })

    val drop = req("drop")
    val spark = graft.core.GraftSession.getOrCreate()
    try {
      val store = new TableStore(spark, req("warehouse"))
      val files = new FileOps(spark.sparkContext.hadoopConfiguration,
        req("archive"), req("duplicates"))
      // transport pick: --webhook beats SMTP env config beats console
      // (reference wires email when SMTP_HOST+FROM_EMAIL are set)
      val notifier: Notifier = opts.get("webhook")
        .map[Notifier](new WebhookNotifier(_))
        .orElse((cfg.smtpHost zip cfg.fromEmail).map { case (h, f) =>
          new EmailNotifier(h, cfg.smtpPort, f, cfg.dataTeamEmail)
        })
        .getOrElse(new LoggingNotifier)
      // --jdbc jdbc:derby:/path;create=true (etc.): publish TARGETS to a
      // relational database instead of the parquet store (K5 dispatch;
      // reference write/factory.py). Run metadata stays in the warehouse.
      val targetSink = opts.get("jdbc")
        .map(url => new graft.store.JdbcSink(spark, url))
      // --progress true: in-place progress bar on STDERR (reference
      // cli/main.py:100-129 renders a rich spinner/bar/ETA); stdout keeps
      // only the machine-parseable result lines
      val progress =
        if (opts.get("progress").contains("true")) Some(new ProgressLine)
        else None
      val proc = new Processor(spark, DemoSources.registry, store, files,
        notifier, drop, filePoolSize = cfg.filePoolSize,
        targetSink = targetSink,
        onProgress = progress.map(_.update _).getOrElse((_: Int, _: Int) => ()))
      opts.get("file") match {
        case _ if opts.contains("corpus-forget") =>
          // --corpus-forget IDS|PARQUET: takedown / right-to-be-forgotten
          // over the released corpus. IDS = comma-separated doc_ids, or a
          // path to parquet carrying a doc_id column. Bucket-pruned end to
          // end: only the buckets holding the ids are read and rewritten,
          // and the datasheet folds the victims' NEGATIVE contributions
          // (CorpusOps.forget). Default keeps the dedup index's
          // fingerprints so re-offered copies of the forgotten content
          // stay excluded (takedown); --scrub true drops the index trust
          // marker instead — the next release rebuilds it without the
          // content (erasure, re-admittable).
          val arg = opts("corpus-forget")
          val sp2 = spark
          import sp2.implicits._
          val ids =
            if (arg.contains("://") || arg.endsWith(".parquet") ||
                new java.io.File(arg).exists)
              spark.read.parquet(arg).select("doc_id")
            else arg.split(',').map(_.trim.toLong).toSeq.toDF("doc_id")
          val scrub = opts.get("scrub").contains("true")
          val (del, rows) = CorpusOps.forget(spark, store,
            req("warehouse"), ids, scrubIndex = scrub)
          println(s"corpus-forget: deleted=$del corpus_rows=$rows" +
            (if (scrub) " scrub=true" else ""))
        case _ if opts.contains("corpus-delta") =>
          // --corpus-delta TAG: the CDC read over the released corpus —
          // "what changed since the training run pinned TAG" — served from
          // the changed buckets only (TableStore.snapshotDelta; a 100 TB
          // corpus answers from the handful of buckets the releases since
          // the pin rewrote, not a full scan). Prints the change-type
          // counts; --out DIR additionally writes the row-level feed
          // (changed docs + `change` column) for downstream incremental
          // consumers (re-embed, re-export, re-evaluate).
          val tag = opts("corpus-delta")
          val table = DemoSources.CorpusRelease.tableName
          // grainOverride: the corpus grain is statically known here, so
          // warehouses released before _GRAIN was recorded still work
          val feed = store.snapshotDelta(table, tag,
              grainOverride = DemoSources.CorpusRelease.grain).getOrElse(
            sys.error(s"no snapshot '$tag' on $table — pin one with " +
              "--corpus ... --snapshot TAG"))
          val touched = store.snapshotChangedBuckets(table, tag)
            .map(_.size.toString).getOrElse("all (layout changed)")
          // with --out, write FIRST and count from the written parquet —
          // one evaluation of the diff, not two (on a degraded-layout pin
          // each evaluation is a full two-sided table scan)
          val counted = opts.get("out") match {
            case Some(dir) =>
              feed.write.mode("overwrite").parquet(dir)
              spark.read.parquet(dir)
            case None => feed
          }
          val counts = counted.groupBy("change").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          println(s"corpus-delta: since=$tag " +
            s"inserts=${counts.getOrElse("insert", 0L)} " +
            s"updates=${counts.getOrElse("update", 0L)} " +
            s"deletes=${counts.getOrElse("delete", 0L)} " +
            s"changed_buckets=$touched" +
            opts.get("out").map(d => s" out=$d").getOrElse(""))
        case _ if opts.contains("corpus") =>
          // --corpus DIR: run the training-data curation chain (token-band
          // quality gate -> exact dedup -> MinHash-LSH near-dedup ->
          // optional --eval decontamination) over DIR/documents.parquet
          // and publish the kept corpus + its datasheet as versioned
          // warehouse tables through the SAME hash-guarded bucketed MERGE
          // as ETL targets — releases are incremental by construction
          // (see graft.run.CorpusOps.release, the shared core).
          // With --stream true, DIR is instead a FEED directory of
          // document parquet files processed as checkpointed micro-batch
          // releases (Trigger.AvailableNow): each run drains the backlog
          // of files the checkpoint has not seen and exits; replayed
          // batches are end-to-end no-ops (hash-guarded merge + index
          // probe), so the release loop is exactly-once in effect.
          val src = opts("corpus")
          val wh = req("warehouse")
          if (opts.get("stream").contains("true")) {
            graft.streaming.StreamingPipeline.corpusReleaseStream(
              spark, store, src, wh, opts.get("eval"),
              checkpointDir = s"$wh/corpus_stream_checkpoint")
              .awaitTermination()
            val rows = store.readIfExists(
              DemoSources.CorpusRelease.tableName).map(_.count()).getOrElse(0L)
            println(s"corpus-stream: corpus_rows=$rows " +
              s"tables=corpus_docs,corpus_card")
          } else {
            val raw = spark.read.parquet(s"$src/documents.parquet")
            // --snapshot TAG: pin the post-release corpus state under TAG
            // (TableStore.snapshot — the provenance a training run records;
            // later releases copy-on-write past it, readSnapshot serves it)
            val (ins, upd, rows) = CorpusOps.release(spark, store, wh,
              raw, s"$src/documents.parquet", opts.get("eval"),
              snapshotTag = opts.get("snapshot"))
            println(s"corpus: read=${raw.count()} inserts=$ins " +
              s"updates=$upd corpus_rows=$rows tables=corpus_docs,corpus_card" +
              opts.get("snapshot").map(t => s" snapshot=$t").getOrElse(""))
          }
        case _ if opts.get("stream").exists(v =>
            v == "true" || v == "merge") =>
          // streaming drop-folder mode: process the backlog through the
          // Structured Streaming pipeline (checkpointed, exactly-once).
          // --stream merge upserts each micro-batch into the target
          // table; --stream true splits to valid/dlq parquet sinks. Any
          // OTHER value (false, typos) falls through to the batch sweep —
          // the same recognized-values-only rule as the corpus branch,
          // so a typo can never silently select streaming mode.
          val wh = req("warehouse")
          if (opts("stream") == "merge") {
            // --jdbc targets the database (each micro-batch's MERGE
            // commits with its epoch record: exactly-once); otherwise the
            // parquet store's bucketed O(delta) merge
            val sink = targetSink.getOrElse(store)
            graft.streaming.StreamingPipeline.dropFolderMergeStream(
              spark, DemoSources.Sales, sink, drop,
              checkpointDir = s"$wh/stream_merge_checkpoint")
              .awaitTermination()
            val n = sink.readIfExists(DemoSources.Sales.tableName)
              .map(_.count()).getOrElse(0L)
            println(s"stream-merge: target_rows=$n")
          } else {
            graft.streaming.StreamingPipeline.dropFolderStream(
              spark, DemoSources.Sales, drop,
              outDir = s"$wh/stream", checkpointDir = s"$wh/stream_checkpoint")
              .awaitTermination()
            def countOr0(p: String): Long =
              try spark.read.parquet(p).count()
              catch { case _: Throwable => 0L } // sink dir absent: no rows
            val valid = countOr0(s"$wh/stream/valid")
            val dlq = countOr0(s"$wh/stream/dlq")
            println(s"stream: valid=$valid dlq=$dlq")
          }
        case Some(f) =>
          val r = proc.processFile(s"$drop/$f")
          println(s"result: ${r.map(x => s"success=${x.success} error=${x.errorName.getOrElse("-")} " +
            s"read=${x.recordsRead} dlq=${x.recordsFailedValidation} " +
            s"inserts=${x.publishInserts} updates=${x.publishUpdates}").getOrElse("no matching source")}")
        case None =>
          val s = proc.processAll()
          println(s"summary: processed=${s.processed} succeeded=${s.succeeded} " +
            s"failed=${s.failed} no_source=${s.noSource}")
          s.results.foreach(r => println(
            s"  ${r.fileName}: success=${r.success} error=${r.errorName.getOrElse("-")} " +
            s"read=${r.recordsRead} dlq=${r.recordsFailedValidation} " +
            s"inserts=${r.publishInserts} updates=${r.publishUpdates}"))
      }
    } finally {
      otel.foreach(_.shutdown()) // flush buffered spans before exit
      spark.stop()
    }
  }
}

/** In-place CLI progress line: spinner, bar, percentage, file counts,
  * elapsed and ETA — the reference's rich progress display
  * (cli/main.py:100-129) re-expressed as a single carriage-returned stderr
  * line, so stdout stays machine-parseable and non-TTY logs capture one
  * final line instead of control characters per frame.
  */
final class ProgressLine {
  private val t0 = System.nanoTime()
  private val spinner = Array('|', '/', '-', '\\')
  private val tick = new java.util.concurrent.atomic.AtomicInteger(0)
  private def fmt(s: Double): String =
    f"${(s / 60).toInt}%02d:${(s % 60).toInt}%02d"

  /** Thread-safe: called from the file-pool threads. */
  def update(done: Int, total: Int): Unit = synchronized {
    val frac = if (total == 0) 1.0 else done.toDouble / total
    val width = 24
    val filled = math.min(width, (frac * width).round.toInt)
    val bar = "=" * filled + " " * (width - filled)
    val elapsed = (System.nanoTime() - t0) / 1e9
    val eta = if (done == 0) "--:--" else fmt(elapsed / done * (total - done))
    val sp = if (done == total) '*' else spinner(tick.getAndIncrement() % 4)
    System.err.print(
      f"\r$sp [$bar] ${frac * 100}%3.0f%% ($done/$total files) " +
        s"${fmt(elapsed)} elapsed ~$eta left")
    if (done >= total) System.err.println()
  }
}

/** Console notifier for CLI runs (reference prints + emails; transport here
  * is stdout — swap in an SMTP/webhook [[Notifier]] for production).
  */
final class LoggingNotifier extends Notifier {
  override def notifyFileError(recipients: Seq[String], fileName: String,
                               error: FileError): Unit =
    println(s"[notify] to=${recipients.mkString(",")} file=$fileName " +
      s"error=${error.errorName}: ${error.getMessage}")
  override def notifySummary(summary: String): Unit =
    println(s"[notify] summary: $summary")
}

/** Example source registry mirroring the reference's example system
  * (src/sources/systems/sales/sales.py:7-32): the `sales_*.csv` transactions
  * feed with a grain on transaction_id and positive-amount audits.
  */
object DemoSources {
  import org.apache.spark.sql.types._

  val Sales: SourceConfig = SourceConfig(
    name = "sales",
    filePattern = "sales_*.csv*",
    sourceType = "csv",
    columns = Seq(
      ColumnSpec.string("transaction_id", maxLength = 100, nullable = false),
      ColumnSpec.string("customer_id", maxLength = 100, nullable = false),
      ColumnSpec.string("product_sku", maxLength = 100, nullable = false),
      ColumnSpec.int("quantity", nullable = false),
      ColumnSpec.double("unit_price", nullable = false),
      ColumnSpec.double("total_amount", nullable = false),
      ColumnSpec.date("sale_date", nullable = false),
      ColumnSpec.string("sales_rep", maxLength = 100, nullable = false)),
    tableName = "transactions",
    grain = Seq("transaction_id"),
    auditQuery = Some(
      """SELECT
        |CASE WHEN SUM(CASE WHEN total_amount > 0 THEN 1 ELSE 0 END) = COUNT(*) THEN 1 ELSE 0 END AS total_amount_positive,
        |CASE WHEN SUM(CASE WHEN unit_price > 0 THEN 1 ELSE 0 END) = COUNT(*) THEN 1 ELSE 0 END AS unit_price_positive
        |FROM {table}""".stripMargin),
    formatOptions = CsvOptions())

  /** Ledger JSON feed (reference src/sources/systems/financial/financial.py):
    * records under the `entries.item` array path, nested account struct
    * flattened to account_code / account_name aliases.
    */
  val LedgerJson: SourceConfig = SourceConfig(
    name = "ledger_json",
    filePattern = "ledger_*.json*",
    sourceType = "json",
    columns = Seq(
      ColumnSpec.int("entry_id", nullable = false),
      ColumnSpec.string("account_code", maxLength = 20),
      ColumnSpec.string("account_name", maxLength = 100),
      ColumnSpec.double("debit_amount"),
      ColumnSpec.double("credit_amount"),
      ColumnSpec.string("description", maxLength = 200),
      ColumnSpec.date("transaction_date"),
      ColumnSpec.string("reference_number", maxLength = 50)),
    tableName = "ledger_entries",
    grain = Seq("entry_id"),
    formatOptions = JsonOptions(arrayPath = Some("entries.item")))

  /** Inventory Excel feed (reference src/sources/systems/inventory/):
    * aliased human headers, serial-date columns.
    */
  val InventoryExcel: SourceConfig = SourceConfig(
    name = "inventory_excel",
    filePattern = "inventory_*.xlsx",
    sourceType = "excel",
    columns = Seq(
      ColumnSpec.string("sku", alias = "SKU", nullable = false),
      ColumnSpec.string("name", alias = "Product Name"),
      ColumnSpec.string("category", alias = "Category"),
      ColumnSpec.double("price", alias = "Price"),
      ColumnSpec.int("stock_quantity", alias = "Stock Qty"),
      ColumnSpec.string("supplier", alias = "Supplier"),
      ColumnSpec.date("last_date", alias = "Last Date"),
      ColumnSpec.timestamp("last_updated", alias = "Last Updated")),
    tableName = "products",
    grain = Seq("sku"),
    auditQuery = Some(
      """SELECT CASE WHEN SUM(CASE WHEN price >= 0 THEN 1 ELSE 0 END) = COUNT(*)
        |THEN 1 ELSE 0 END AS price_non_negative FROM {table}""".stripMargin),
    formatOptions = ExcelOptions())

  /** Corpus-release target for `--corpus`: the curated documents table,
    * grain doc_id, published through the bucketed hash-guarded MERGE like
    * any ETL target (a re-release is all no-ops; new docs are O(delta)
    * inserts). Not in the drop-folder registry — it is driven by the
    * --corpus mode, not by file matching.
    */
  val CorpusRelease: SourceConfig = SourceConfig(
    name = "corpus",
    filePattern = "documents*.parquet",
    sourceType = "parquet",
    columns = Seq(
      ColumnSpec.long("doc_id", nullable = false),
      ColumnSpec.string("text"),
      ColumnSpec.string("lang"),
      ColumnSpec.string("source"),
      ColumnSpec.long("n_tokens")),
    tableName = "corpus_docs",
    grain = Seq("doc_id"))

  val registry = new SourceRegistry(Seq(Sales, LedgerJson, InventoryExcel))
}
