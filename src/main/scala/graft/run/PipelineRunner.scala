package graft.run

import graft.core._
import graft.operators.{Audit, Validator}
import graft.sources.{ExcelReader, RawRead, ReaderFactory}
import graft.store.{Schemas, Sink, TableStore}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of processing one file (reference returns `(success, file,
  * error_name)` tuples, src/pipeline/runner.py:213-272).
  */
final case class FileResult(
    success: Boolean,
    fileName: String,
    errorName: Option[String],
    logId: Long,
    recordsRead: Long = 0,
    recordsFailedValidation: Long = 0,
    publishInserts: Long = 0,
    publishUpdates: Long = 0)

/** The per-file 7-stage pipeline (reference src/pipeline/runner.py:42-275):
  *
  *   dup-file check -> archive -> READ -> VALIDATE -> WRITE(stage+DLQ)
  *   -> AUDIT -> PUBLISH(merge) -> DLQ-cleanup -> cleanup/drop
  *
  * The reference's thread-per-file, single-threaded-within-file model is
  * inverted (SURVEY §4): each stage here is a distributed Spark job over the
  * file's partitions, and the whole read->validate->split is ONE cached plan
  * (the reference's fused generator pipeline becomes whole-stage codegen).
  *
  * Error routing preserves the reference's quirk (runner.py:229-268): a
  * [[FileError]] on a source with configured notification emails sends the
  * email and the file counts as a SUCCESS result.
  */
final class PipelineRunner(
    spark: SparkSession,
    store: TableStore,
    files: FileOps,
    notifier: Notifier,
    /** Where published TARGETS live (K5 writer dispatch: the reference picks
      * a DB writer per deployment, write/factory.py:13-43): `store` itself
      * or a relational sink. Run metadata — log, DLQ, filename sidecars —
      * always stays in the parquet store.
      */
    sink: Sink) {

  def run(path: String, source: SourceConfig): FileResult = {
    val fileName = FileUtils.bareName(path)
    val logId = store.nextId()
    // Per-stage log events buffer on the driver and flush as ONE segment
    // per file, written on the driver with no Spark job: a segment per
    // event would make every log read list and open one file per stage.
    logBuffer.set(Vector.empty)
    log(logId, fileName, Some(source.tableName), "start", success = None)
    // Only delete the drop file once a copy exists elsewhere: an engine /
    // environment failure BEFORE the archive copy must never destroy the
    // user's only copy. (Safety improvement over the reference, whose
    // finally deletes unconditionally, runner.py:270.)
    var safeToDelete = false
    try {
      Trace.withJobDesc(spark, s"pipeline:dup-probe $fileName") {
        checkDuplicate(fileName, source)
      }
      files.archive(path) // copy-before-processing (runner.py:142-149)
      safeToDelete = true
      val result = runStages(path, fileName, source, logId)
      log(logId, fileName, Some(source.tableName), "complete", success = Some(true),
        read = result.recordsRead, failed = result.recordsFailedValidation,
        inserts = result.publishInserts, updates = result.publishUpdates)
      result
    } catch {
      case e: DuplicateFileError =>
        // not an error: move to duplicates dir and skip (runner.py:127-140)
        files.moveToDuplicates(path)
        safeToDelete = true // moved (delete is a guarded no-op)
        log(logId, fileName, Some(source.tableName), "duplicate", success = Some(true))
        FileResult(success = true, fileName, Some(e.errorName), logId)
      case e: FileError =>
        log(logId, fileName, Some(source.tableName), "error", success = Some(false),
          errorName = Some(e.errorName), errorMessage = Some(e.getMessage))
        if (source.notificationEmails.nonEmpty) {
          notifier.notifyFileError(source.notificationEmails, fileName, e)
          // email-sent => success (reference runner.py:246-251)
          FileResult(success = true, fileName, Some(e.errorName), logId)
        } else FileResult(success = false, fileName, Some(e.errorName), logId)
    } finally {
      flushLog()
      if (safeToDelete) files.deleteFromDrop(path)
    }
  }

  /** P6 duplicate-file predicate: by source_filename in the TARGET table —
    * content-identical renamed files reload (reference db_utils.py:243-258).
    * The probe reads the tiny __filenames sidecar (backfilled from the
    * target on the first post-sidecar publish, then appended on every
    * publish), NOT the target: at 100 TB a per-file full-target scan is
    * the difference between O(files-loaded) and O(data).
    */
  private def checkDuplicate(fileName: String, source: SourceConfig): Unit = {
    val sidecar = Schemas.sidecarTable(source.tableName)
    val names =
      if (store.exists(sidecar)) store.readIfExists(sidecar)
        .map(_.select("source_filename"))
      else sink.readIfExists(source.tableName)
        .map(_.select("source_filename").distinct())
    names.foreach { n =>
      if (!n.filter(col("source_filename") === fileName).isEmpty)
        throw DuplicateFileError(fileName, source.tableName)
    }
  }

  private def runStages(path: String, fileName: String, source: SourceConfig,
                        logId: Long): FileResult = {
    val sidecar = Schemas.sidecarTable(source.tableName)
    val reader = ReaderFactory.readerFor(fileName)
    val raw = Trace.stage(spark, "read", s"pipeline:read $fileName",
      "file" -> fileName)(reader.read(spark, path, source))
    log(logId, fileName, Some(source.tableName), "read", success = Some(true))

    // Validate the UNNUMBERED frame first, without the DLQ JSON payload —
    // clean files (the common case at scale) pay neither the zipWithIndex
    // numbering pass nor a to_json over every row. Files with errors
    // re-validate over the numbered frame with payloads enabled so DLQ
    // records carry real file_row_numbers and file_record_data.
    val excelDates = reader.isInstanceOf[ExcelReader]
    val vr = Trace.stage(spark, "validate", s"pipeline:validate $fileName",
        "file" -> fileName) {
      val (fanned, hashedBy) = fanOut(raw, path, source, excelDates)
      Validator.validate(fanned, source, fileName, logId, excelDates,
        withRawRecord = false, hashedBy = hashedBy)
    }
    var vrNumbered: Option[graft.operators.ValidationResult] = None
    try {
      // WRITE: DLQ rows always persist (even below-threshold successes keep
      // their DLQ rows, reference test_csv.py:100-131).
      if (vr.errorCount > 0) {
        val vrN = {
          val n = Validator.validate(raw.numbered(), source, fileName, logId,
            excelDates = excelDates)
          vrNumbered = Some(n)
          n
        }
        val now = new java.sql.Timestamp(System.currentTimeMillis())
        val dlqRows = Validator.dlqRecords(vrN.dlq,
          col("file_load_log_id"),
          lit(source.tableName).as("target_table_name"),
          lit(now).as("failed_at"))
        // locked: a concurrent DLQ-cleanup overwrite snapshots-and-deletes
        // segments — an unlocked append could land in that window and be
        // dropped
        Trace.withJobDesc(spark, s"pipeline:dlq-write $fileName") {
          store.withTableLock(Schemas.DlqTable) {
            store.append(Schemas.DlqTable, dlqRows)
          }
        }
        log(logId, fileName, Some(source.tableName), "write", success = Some(true),
          read = vr.totalCount, failed = vr.errorCount)
        Validator.gate(vrN, source, fileName) // gate AFTER the DLQ write
      } else {
        log(logId, fileName, Some(source.tableName), "write", success = Some(true),
          read = vr.totalCount, failed = vr.errorCount)
      }

      val stage = Validator.staged(vr.valid)

      // AUDIT (A1/A2 grain, A3 custom) on staged rows — independent jobs,
      // submitted concurrently so the scheduler overlaps them
      Trace.stage(spark, "audit", s"pipeline:audit $fileName", "file" -> fileName) {
        Audit.runAll(spark, stage, source, fileName)
      }
      log(logId, fileName, Some(source.tableName), "audit", success = Some(true))

      // PUBLISH: the sink's merge publish, then the filename sidecar append.
      // The sink serializes publishes to one target itself; the table lock
      // held here (re-entrant) spans the sidecar backfill, the publish and
      // the sidecar append, so the sidecar and the target move together
      // for a concurrent file into the same target. Different targets
      // publish in parallel.
      val (mInserts, mUpdates) = Trace.stage(spark, "publish",
          s"pipeline:publish ${source.tableName}",
          "file" -> fileName, "table" -> source.tableName) {
        store.withTableLock(source.tableName) {
          val now = new java.sql.Timestamp(System.currentTimeMillis())
          // one-time sidecar backfill for tables populated before the sidecar
          // existed — otherwise filenames loaded pre-sidecar would stop being
          // detected as duplicates once the sidecar appears
          if (!store.exists(sidecar)) sink.readIfExists(source.tableName).foreach { t =>
            store.append(sidecar, t.select(col("source_filename")).distinct()
              .select(col("source_filename"), lit(-1L).as("file_load_log_id"),
                lit(now).as("published_at"))
              .to(Schemas.SidecarSchema))
          }
          val counts = sink.publish(source.tableName, stage, source, now,
            stageRows = Some(vr.validCount))
          // record the filename in the probe sidecar (atomic segment append)
          store.appendRows(sidecar, Schemas.SidecarSchema, Seq(Row(fileName, logId, now)))
          counts
        }
      }
      log(logId, fileName, Some(source.tableName), "publish", success = Some(true),
        inserts = mInserts, updates = mUpdates)
      // post-publish housekeeping, overlapped (guide §2.6): the layout
      // gauge (a manifest read on the TARGET; upgrades a target pinned to
      // a tiny first file's bucket count once it outgrows the sizing rule
      // 8x) and the DLQ cleanup (a probe + conditional rewrite of the
      // DLQ TABLE) touch different tables, hold different locks, and
      // neither orders against the other — only their combined completion
      // gates the file's result. Failure domains stay separate: each arm
      // keeps its own lock scope and rethrows independently.
      Audit.inParallel(spark)(
        Trace.withJobDesc(spark, s"pipeline:rebucket-gauge ${source.tableName}") {
          sink.maybeRebucket(source.tableName, source.grain).foreach(n =>
            System.err.println(
              s"${source.tableName}: rebucketed outgrown layout to $n buckets"))
        },
        // DLQ cleanup: drop THIS file's rows from EARLIER runs only; the
        // current run's rows survive (reference delete/base.py:36-41).
        // Probe before rewriting: the common case — a clean file, or a
        // file loaded for the first time — has nothing to delete, and the
        // probe is one scan with the filename filter pushed to the parquet
        // row groups, where the unconditional rewrite paid an O(DLQ) write
        // on EVERY publish regardless.
        Trace.withJobDesc(spark, s"pipeline:dlq-cleanup $fileName") {
          store.withTableLock(Schemas.DlqTable) {
            store.readIfExists(Schemas.DlqTable).foreach { dlq =>
              val stale = col("source_filename") === fileName &&
                col("file_load_log_id") < logId
              if (!dlq.filter(stale).isEmpty) {
                store.overwrite(Schemas.DlqTable, dlq.filter(!stale))
                store.vacuum(Schemas.DlqTable)
              }
            }
          }
        })

      FileResult(success = true, fileName, None, logId,
        recordsRead = vr.totalCount,
        recordsFailedValidation = vr.errorCount,
        publishInserts = mInserts,
        publishUpdates = mUpdates)
    } finally {
      vr.release()
      vrNumbered.foreach(_.release())
    }
  }

  /** The raw read spread over the session's parallelism when its scan
    * cannot spread it ([[ScanEstimate.isNarrow]]: a single-file drop often
    * scans as one task), and the hash partitioning the validated rows
    * then have, as keys over validation's output columns and a partition
    * count.
    *
    * A parquet file bound for an empty bucketed target is hash-partitioned
    * on the layout its first publish will write, sized from the footer's
    * exact row count: the rows carry `_bucket` through validation, the
    * grain audit groups on the layout's keys, and the publish writes them
    * with no second Exchange. Any other file is hash-partitioned on
    * its grain as validation types it, so the validated rows are clustered
    * by grain and the grain audit aggregates with no Exchange. Either way
    * rows sharing one grain value land in one validate task, including
    * every row whose grain is null or will not cast (those go to the DLQ):
    * under a nonzero error threshold such a skewed file still loads, with
    * one task doing that share of the work. A hash repartition needs no
    * sort, where a round-robin one first sorts every row inside the single
    * scan task (so that retries are deterministic); only a file carrying
    * none of the grain columns fans out round-robin.
    */
  private def fanOut(raw: RawRead, path: String, source: SourceConfig,
                     excelDates: Boolean): (DataFrame, Option[(Seq[Column], Int)]) = {
    val df = raw.df
    val par = spark.sparkContext.defaultParallelism
    val grain = Validator.typedGrain(df, source, excelDates)
    val inFile = grain.filter { case (g, _) =>
      source.columns.exists(c => c.name == g && df.columns.contains(c.fileAlias)) }
    if (!ScanEstimate.isNarrow(spark, path, raw.footer.map(_.rowGroups))) (df, None)
    else if (inFile.isEmpty) (df.repartition(par), None)
    else raw.footer.flatMap(f =>
        sink.firstPublishLayout(source.tableName, source, f.rows)) match {
      case Some(layout) =>
        val typed = grain.map(_._2)
        (layout.withBucket(df, typed).repartition(layout.partitions, layout.keys(typed): _*),
          Some((layout.keys(grain.map(g => col(g._1))), layout.partitions)))
      case None =>
        (df.repartition(par, inFile.map(_._2): _*), Some((inFile.map(g => col(g._1)), par)))
    }
  }

  // buffered per-run log events; ThreadLocal because the Processor's file
  // pool runs one file per thread on a SHARED runner instance
  private val logBuffer =
    ThreadLocal.withInitial[Vector[Row]](() => Vector.empty)

  private def log(logId: Long, fileName: String, table: Option[String],
                  stage: String, success: Option[Boolean],
                  read: Long = -1, failed: Long = -1,
                  inserts: Long = -1, updates: Long = -1,
                  errorName: Option[String] = None,
                  errorMessage: Option[String] = None): Unit = {
    val row = Row(
      logId, fileName, table.orNull, stage,
      new java.sql.Timestamp(System.currentTimeMillis()),
      success.map(Boolean.box).orNull,
      if (read >= 0) Long.box(read) else null,
      if (read >= 0) Long.box(read) else null, // records_written_to_stage: counts DLQ rows too (reference write/base.py:84,123)
      if (failed >= 0) Long.box(failed) else null,
      if (inserts >= 0) Long.box(inserts) else null,
      if (updates >= 0) Long.box(updates) else null,
      errorName.orNull, errorMessage.orNull)
    logBuffer.set(logBuffer.get() :+ row)
  }

  private def flushLog(): Unit = {
    val rows = logBuffer.get()
    if (rows.nonEmpty) {
      store.appendRows(Schemas.LogTable, Schemas.LogSchema, rows)
      logBuffer.set(Vector.empty)
    }
  }
}
