package graft.run

import graft.core.{FileUtils, SourceConfig, SourceRegistry}
import org.apache.spark.sql.SparkSession
import graft.store.{Schemas, TableStore}

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.collection.mutable

/** Whole-run summary (reference src/process/processor.py:113-157). */
final case class RunSummary(
    processed: Int,
    succeeded: Int,
    failed: Int,
    noSource: Int,
    results: Seq[FileResult])

/** Orchestrator (reference src/process/processor.py:23-163): scan the drop
  * directory, match each file to a source, run the pipeline, summarize.
  *
  * Parallelism model INVERTED vs the reference (SURVEY §4): the reference ran
  * thread-per-file with single-threaded pipelines; here the cluster
  * parallelizes WITHIN each file (partitions), and a small driver-side pool
  * (default 2) overlaps scheduling gaps between files. On a 1000-executor
  * cluster one big file saturates the cluster by itself; file-level fan-out
  * is a latency optimization for many small files, not the scaling mechanism.
  */
final class Processor(
    spark: SparkSession,
    registry: SourceRegistry,
    store: TableStore,
    files: FileOps,
    notifier: Notifier,
    dropDir: String,
    filePoolSize: Int = 2,
    /** Optional relational target sink (K5 writer dispatch); run metadata
      * stays in the parquet `store` regardless.
      */
    targetSink: Option[graft.store.Sink] = None,
    /** Called after each file completes during [[processAll]] with
      * (filesDone, filesTotal) — the CLI progress hook (reference
      * cli/main.py:100-129 polls its result list from a render thread;
      * a callback avoids the poll). May be invoked from pool threads.
      */
    onProgress: (Int, Int) => Unit = (_, _) => ()) {

  private val runner =
    new PipelineRunner(spark, store, files, notifier, targetSink.getOrElse(store))

  /** Single-file entry, the test/library surface (reference
    * Processor.process_file, processor.py:62-87).
    */
  def processFile(path: String): Option[FileResult] = {
    val name = FileUtils.bareName(path)
    registry.findSourceForFile(name) match {
      case Some(source) => Some(runner.run(path, source))
      case None =>
        // no matching source: archive + remove, count separately
        files.archive(path)
        files.deleteFromDrop(path)
        None
    }
  }

  def processAll(): RunSummary = {
    val paths = files.scanDirectory(dropDir)
    val queue = new ConcurrentLinkedQueue[String]()
    paths.foreach(queue.add)
    val results = new ConcurrentLinkedQueue[Option[FileResult]]()
    val doneCount = new java.util.concurrent.atomic.AtomicInteger(0)
    def record(r: Option[FileResult]): Unit = {
      results.add(r)
      onProgress(doneCount.incrementAndGet(), paths.size)
    }

    if (filePoolSize <= 1 || paths.size <= 1) {
      paths.foreach(p => record(safeProcess(p)))
    } else {
      val pool = Executors.newFixedThreadPool(filePoolSize)
      (1 to filePoolSize).foreach { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var p = queue.poll()
            while (p != null) { record(safeProcess(p)); p = queue.poll() }
          }
        })
      }
      pool.shutdown()
      pool.awaitTermination(24, TimeUnit.HOURS)
    }

    // post-sweep maintenance: fold append segments of the run-metadata
    // tables (one segment lands per file processed — without compaction a
    // long-lived deployment's log reads degrade linearly in files-ever-
    // loaded). Concurrent-append safe; see TableStore.compact.
    store.compact(graft.store.Schemas.LogTable)
    store.compact(graft.store.Schemas.DlqTable)
    registry.all.foreach(s => store.compact(Schemas.sidecarTable(s.tableName)))

    import scala.jdk.CollectionConverters._
    val all = results.asScala.toSeq
    val done = all.flatten
    val summary = RunSummary(
      processed = all.size,
      succeeded = done.count(_.success),
      failed = done.count(!_.success),
      noSource = all.count(_.isEmpty),
      results = done)
    // per-file error detail, like the reference's results_summary error map
    // (processor.py:113-157)
    val failures = done.filter(!_.success)
      .map(r => s"${r.fileName}=${r.errorName.getOrElse("?")}")
    notifier.notifySummary(
      s"processed=${summary.processed} succeeded=${summary.succeeded} " +
      s"failed=${summary.failed} no_source=${summary.noSource}" +
      (if (failures.nonEmpty) s" failures: ${failures.mkString(", ")}" else ""))
    summary
  }

  private def safeProcess(path: String): Option[FileResult] =
    try processFile(path)
    catch {
      case e: Throwable =>
        // internal (non-FileError) failure: record the origin frame like the
        // reference's error_location traceback formatting (utils.py:45-54)
        Some(FileResult(success = false, FileUtils.bareName(path),
          Some(s"${e.getClass.getSimpleName} at ${graft.core.Errors.location(e)}"),
          logId = -1))
    }
}
