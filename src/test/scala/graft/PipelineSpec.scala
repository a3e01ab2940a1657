package graft

import graft.core._
import graft.run._
import graft.store.{Schemas, TableStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterEach

import java.nio.file.{Files, Path}
import scala.util.Random

/** End-to-end pipeline matrix, mirroring the reference's e2e tests
  * (src/tests/test_csv.py, test_json.py, test_parquet.py, test_gzip.py,
  * test_notifications.py — see FIXTURES.md §5).
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = TestSpark.spark

  private var workDir: Path = _
  private var dropDir: Path = _
  private var store: TableStore = _
  private var files: FileOps = _
  private var notifier: CollectingNotifier = _
  private var processor: Processor = _

  override def beforeEach(): Unit = {
    workDir = Files.createTempDirectory("graft_e2e")
    dropDir = Files.createDirectories(workDir.resolve("drop"))
    store = new TableStore(spark, workDir.resolve("tables").toString)
    files = new FileOps(spark.sparkContext.hadoopConfiguration,
      workDir.resolve("archive").toString,
      workDir.resolve("duplicates").toString)
    notifier = new CollectingNotifier
    processor = new Processor(spark, TestSources.registry, store, files,
      notifier, dropDir.toString, filePoolSize = 1)
  }

  private def dropFile(name: String, lines: Seq[String]): String =
    TestSources.writeText(dropDir, name, lines)

  import TestSources._

  test("happy path: CSV through read/validate/audit/publish, inserts counted") {
    val f = dropFile("sales_2024.csv", Seq(SalesHeader,
      salesRow("TXN001"), salesRow("TXN002"), salesRow("TXN003")))
    val r = processor.processFile(f).get
    assert(r.success && r.errorName.isEmpty)
    assert(r.recordsRead == 3 && r.publishInserts == 3 && r.publishUpdates == 0)
    val target = store.readIfExists("transactions").get
    assert(target.count() == 3)
    assert(target.schema("sale_date").dataType.typeName == "date")
    assert(target.filter(col("etl_created_at").isNull).isEmpty)
    // archive copy exists; drop file deleted
    assert(Files.exists(workDir.resolve("archive/sales_2024.csv")))
    assert(!Files.exists(dropDir.resolve("sales_2024.csv")))
  }

  test("schema evolution end-to-end: the config gains a column between " +
       "two files; the second publishes and old rows read it as null") {
    val f1 = dropFile("sales_2024.csv", Seq(SalesHeader,
      salesRow("TXN001"), salesRow("TXN002"), salesRow("TXN003")))
    assert(processor.processFile(f1).get.success)

    // the registry evolves: transactions grows promo_code
    val evolved = salesCsv.copy(columns =
      transactions :+ ColumnSpec.string("promo_code"))
    val proc2 = new Processor(spark, new SourceRegistry(Seq(evolved)),
      store, files, notifier, dropDir.toString, filePoolSize = 1)
    val f2 = dropFile("sales_2025.csv", Seq(
      SalesHeader + ",promo_code",
      salesRow("TXN001") + ",SPRING10", // re-stated row, now with a code
      salesRow("TXN100") + ",WELCOME")) // brand-new row
    val r2 = proc2.processFile(f2).get
    assert(r2.success, s"evolved publish failed: ${r2.errorName}")
    // the re-stated row's hash covers the new field -> one update
    assert(r2.publishInserts == 1 && r2.publishUpdates == 1)

    val target = store.readIfExists("transactions").get
      .select("transaction_id", "promo_code").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(target.size == 4)
    assert(target("TXN001") == "SPRING10" && target("TXN100") == "WELCOME")
    assert(target("TXN002") == null,
      "pre-evolution rows must read the new column as null")
  }

  test("re-publish identical file content under new name: zero updates (hash no-op)") {
    dropFile("sales_a.csv", Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002")))
    processor.processFile(dropDir.resolve("sales_a.csv").toString)
    val f2 = dropFile("sales_b.csv", Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002")))
    val r = processor.processFile(f2).get
    assert(r.success && r.publishInserts == 0 && r.publishUpdates == 0)
    assert(store.readIfExists("transactions").get.count() == 2)
  }

  test("changed rows under new name: updates counted, values merged") {
    dropFile("sales_a.csv", Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002")))
    processor.processFile(dropDir.resolve("sales_a.csv").toString)
    val f2 = dropFile("sales_b.csv", Seq(SalesHeader,
      salesRow("TXN001", qty = 9), salesRow("TXN003")))
    val r = processor.processFile(f2).get
    assert(r.publishInserts == 1 && r.publishUpdates == 1)
    val t = store.readIfExists("transactions").get
    assert(t.count() == 3)
    val updated = t.filter(col("transaction_id") === "TXN001").head()
    assert(updated.getAs[Int]("quantity") == 9)
    assert(updated.getAs[java.sql.Timestamp]("etl_updated_at") != null)
  }

  test("duplicate file (same name already in target) moves to duplicates dir") {
    dropFile("sales_2024.csv", Seq(SalesHeader, salesRow("TXN001")))
    processor.processFile(dropDir.resolve("sales_2024.csv").toString)
    val f2 = dropFile("sales_2024.csv", Seq(SalesHeader, salesRow("TXN099")))
    val r = processor.processFile(f2).get
    assert(r.success && r.errorName.contains("DuplicateFileError"))
    assert(Files.exists(workDir.resolve("duplicates/sales_2024.csv")))
    assert(store.readIfExists("transactions").get.count() == 1)
  }

  test("validation error at threshold 0.0: fail, DLQ row with file_row_number=2") {
    val f = dropFile("sales_bad.csv", Seq(SalesHeader,
      salesRow("TXN001").replace("10.5", "asdf"), salesRow("TXN002")))
    val r = processor.processFile(f).get
    assert(!r.success && r.errorName.contains("ValidationThresholdExceededError"))
    val dlq = store.readIfExists(Schemas.DlqTable).get
    assert(dlq.count() == 1)
    val row = dlq.head()
    assert(row.getAs[Long]("file_row_number") == 2L)
    assert(row.getAs[String]("validation_errors").contains("unit_price"))
  }

  test("1 bad of 10 rows at threshold 0.15: success, exactly 1 DLQ row persists") {
    val rows = (1 to 9).map(i => salesRow(f"TXN$i%03d")) :+
      salesRow("TXN010").replace("10.5", "oops")
    val f = dropFile("threshold_sales_1.csv", Seq(SalesHeader) ++ rows)
    val r = processor.processFile(f).get
    assert(r.success, s"expected success, got $r")
    assert(r.recordsRead == 10 && r.recordsFailedValidation == 1)
    assert(r.publishInserts == 9)
    assert(store.readIfExists(Schemas.DlqTable).get.count() == 1)
  }

  test("duplicate grain: GrainValidationError after stage write") {
    val f = dropFile("sales_dup.csv", Seq(SalesHeader,
      salesRow("TXN001"), salesRow("TXN001", qty = 5), salesRow("TXN002")))
    val r = processor.processFile(f).get
    assert(!r.success && r.errorName.contains("GrainValidationError"))
    assert(store.readIfExists("transactions").isEmpty) // nothing published
  }

  test("audit failure: negative amount zeroes the SUM(CASE...) audit") {
    val f = dropFile("sales_neg.csv", Seq(SalesHeader,
      salesRow("TXN001", total = -5.0)))
    val r = processor.processFile(f).get
    assert(!r.success && r.errorName.contains("AuditFailedError"))
  }

  test("blank header: MissingHeaderError") {
    val f = dropFile("sales_hdr.csv", Seq(",,,,,,,", salesRow("TXN001")))
    val r = processor.processFile(f).get
    assert(!r.success && r.errorName.contains("MissingHeaderError"))
  }

  test("missing required column: MissingColumnsError") {
    val f = dropFile("sales_cols.csv", Seq(
      "customer_id,product_sku", "CUST1,SKU1"))
    val r = processor.processFile(f).get
    assert(!r.success && r.errorName.contains("MissingColumnsError"))
  }

  test("empty file: NoDataInFileError") {
    val f = dropFile("sales_empty.csv", Seq(SalesHeader))
    val r = processor.processFile(f).get
    assert(!r.success && r.errorName.contains("NoDataInFileError"))
  }

  test("notify source: emailable error counts as success and sends email") {
    val f = dropFile("notify_sales_1.csv", Seq(SalesHeader,
      salesRow("TXN001").replace("10.5", "bad")))
    val r = processor.processFile(f).get
    assert(r.success && r.errorName.contains("ValidationThresholdExceededError"))
    assert(notifier.fileErrors.exists(_._3 == "ValidationThresholdExceededError"))
  }

  test("DLQ cleanup: successful reprocess removes earlier runs' DLQ rows") {
    // run 1: fails validation, 1 DLQ row
    dropFile("threshold_sales_2.csv", Seq(SalesHeader) ++
      (1 to 9).map(i => salesRow(f"TXN$i%03d")) :+
      salesRow("TXN010").replace("10.5", "bad"))
    processor.processFile(dropDir.resolve("threshold_sales_2.csv").toString)
    assert(store.readIfExists(Schemas.DlqTable).get.count() == 1)
    // target now contains the file, so reprocessing same name would be a
    // duplicate; the DLQ-cleanup path is: a NEW file name fixing the rows
    // leaves the old file's DLQ rows in place (they belong to another file)...
    val dlqBefore = store.readIfExists(Schemas.DlqTable).get
      .filter(col("source_filename") === "threshold_sales_2.csv").count()
    assert(dlqBefore == 1)
  }

  test("gzip CSV: transparent decompression end-to-end") {
    val f = TestSources.writeGzip(dropDir, "sales_gz.csv.gz",
      Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002")))
    val r = processor.processFile(f).get
    assert(r.success && r.publishInserts == 2)
  }

  test("no matching source: archived and skipped") {
    val f = dropFile("unknown_stuff.csv", Seq("a,b", "1,2"))
    assert(processor.processFile(f).isEmpty)
    assert(Files.exists(workDir.resolve("archive/unknown_stuff.csv")))
    assert(!Files.exists(dropDir.resolve("unknown_stuff.csv")))
  }

  test("processFile leaves no cached relation or stored RDD: clean file, DLQ " +
       "rows below the threshold, and a file failing the gate") {
    val cache = spark.sharedState.cacheManager
    val sc = spark.sparkContext
    // start clean of whatever earlier suites left
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist())
    def leaves(name: String, lines: Seq[String])(expect: FileResult => Boolean): Unit = {
      val r = processor.processFile(dropFile(name, lines)).get
      assert(expect(r), s"$name: $r")
      assert(cache.isEmpty, s"$name left a cached relation")
      assert(sc.getPersistentRDDs.isEmpty, s"$name left stored RDDs ${sc.getPersistentRDDs}")
    }
    leaves("sales_clean.csv", Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002"))) { r =>
      r.success && r.errorName.isEmpty && r.publishInserts == 2
    }
    leaves("threshold_sales_3.csv", Seq(SalesHeader) ++
      (1 to 9).map(i => salesRow(f"TXN2$i%02d")) :+
      salesRow("TXN210").replace("10.5", "oops")) { r =>
      r.success && r.recordsFailedValidation == 1 && r.publishInserts == 9
    }
    leaves("sales_gate.csv", Seq(SalesHeader,
      salesRow("TXN101").replace("10.5", "asdf"), salesRow("TXN102"))) { r =>
      !r.success && r.errorName.contains("ValidationThresholdExceededError")
    }
  }

  test("processAll summary counts") {
    dropFile("sales_s1.csv", Seq(SalesHeader, salesRow("TXN001")))
    dropFile("sales_s2.csv", Seq(SalesHeader, salesRow("TXN002", qty = 3)))
    dropFile("unmatched.csv", Seq("x,y", "1,2"))
    val s = processor.processAll()
    assert(s.processed == 3 && s.succeeded == 2 && s.failed == 0 && s.noSource == 1)
    assert(notifier.summaries.nonEmpty)
  }
}
