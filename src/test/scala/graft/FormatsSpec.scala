package graft

import graft.core._
import graft.run._
import graft.store.TableStore
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Per-format e2e matrix for JSON (array_path + nested flatten + gzip),
  * Parquet, and Excel (serial dates, sheet selection, blank header) —
  * mirroring the reference's test_json.py / test_parquet.py /
  * test_excel.py coverage.
  */
class FormatsSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = TestSpark.spark

  private var workDir: Path = _
  private var dropDir: Path = _
  private var store: TableStore = _
  private var files: FileOps = _
  private var notifier: CollectingNotifier = _
  private var processor: Processor = _

  override def beforeEach(): Unit = {
    workDir = Files.createTempDirectory("graft_fmt")
    dropDir = Files.createDirectories(workDir.resolve("drop"))
    store = new TableStore(spark, workDir.resolve("tables").toString)
    files = new FileOps(spark.sparkContext.hadoopConfiguration,
      workDir.resolve("archive").toString,
      workDir.resolve("duplicates").toString)
    notifier = new CollectingNotifier
    processor = new Processor(spark, TestSources.registry, store, files,
      notifier, dropDir.toString, filePoolSize = 1)
  }

  private def ledgerJsonDoc(ids: Seq[Int]): String = {
    val entries = ids.map { i =>
      s"""{"Entry_ID": $i, "Account": {"Code": "AC$i", "Name": "acct $i"},
         | "Debit_Amount": ${i * 10}.5, "Credit_Amount": 0.0,
         | "Description": "entry $i", "Transaction_Date": "2025-02-0$i",
         | "Reference_Number": "R$i"}""".stripMargin
    }.mkString(",")
    s"""{"metadata": {"source": "test"}, "entries": {"item": [$entries]}}"""
  }

  test("Decimal columns: exact precision preserved, bad decimals -> DLQ") {
    val p = dropDir.resolve("balances_q1.csv")
    Files.writeString(p,
      "account_id,balance,rate\n" +
        "A1,123456789012345.678901234567890123,0.000001\n" +
        "A2,-0.000000000000000001,1.5\n" +
        "A3,notanumber,2.0\n")
    val r = processor.processFile(p.toString).get
    assert(r.success && r.recordsRead == 3 && r.recordsFailedValidation == 1)
    val t = store.readIfExists("balances").get
    assert(t.schema("balance").dataType.typeName.startsWith("decimal(38,18)"))
    val a1 = t.filter(col("account_id") === "A1").head()
    assert(a1.getDecimal(t.columns.indexOf("balance")).toPlainString
      == "123456789012345.678901234567890123")
    val a2 = t.filter(col("account_id") === "A2").head()
    assert(a2.getDecimal(t.columns.indexOf("balance")).toPlainString
      == "-0.000000000000000001")
    // bad decimal routed to DLQ, not silently nulled
    val dlq = store.readIfExists(graft.store.Schemas.DlqTable).get
    assert(dlq.filter(col("source_filename") === "balances_q1.csv").count() == 1)
  }

  test("trace spans: one logfmt line per pipeline stage when installed") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Trace.install(lines.add(_))
    try {
      val p = dropDir.resolve("sales_trace.csv")
      Files.writeString(p,
        "transaction_id,customer_id,product_sku,quantity,unit_price,total_amount,sale_date,sales_rep\n" +
          "T1,C1,S1,1,2.0,2.0,2024-01-01,Ann\n")
      assert(processor.processFile(p.toString).get.success)
    } finally Trace.uninstall()
    import scala.jdk.CollectionConverters._
    val spans = lines.asScala.toSeq
    for (stage <- Seq("read", "validate", "audit", "publish")) {
      val l = spans.find(_.startsWith(s"span=$stage "))
      assert(l.isDefined, s"missing span for $stage in $spans")
      assert(l.get.contains("ok=true") && l.get.contains("ms="))
      assert(l.get.contains("file=sales_trace.csv"))
    }
  }

  test("JSON: array_path navigation + nested-struct flatten to aliases") {
    // Account.Code flattens to account_code, Account.Name -> account_name
    val p = dropDir.resolve("ledger_2025.json")
    Files.writeString(p, ledgerJsonDoc(Seq(1, 2, 3)))
    val r = processor.processFile(p.toString).get
    assert(r.success && r.recordsRead == 3 && r.publishInserts == 3)
    val t = store.readIfExists("ledger_entries").get
    assert(t.count() == 3)
    assert(t.filter(col("entry_id") === 2).head().getAs[String]("account_code") == "AC2")
    assert(t.schema("transaction_date").dataType.typeName == "date")
  }

  test("JSON gzip: transparent decompression") {
    val p = dropDir.resolve("ledger_2025.json.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    try out.write(ledgerJsonDoc(Seq(4, 5)).getBytes("UTF-8")) finally out.close()
    val r = processor.processFile(p.toString).get
    assert(r.success && r.recordsRead == 2 && r.publishInserts == 2)
  }

  test("JSON: validation failure routes to DLQ with row numbers from 1") {
    val bad = ledgerJsonDoc(Seq(1, 2)).replace("\"Entry_ID\": 2", "\"Entry_ID\": \"xx\"")
    val p = dropDir.resolve("ledger_bad.json")
    Files.writeString(p, bad)
    val r = processor.processFile(p.toString).get
    assert(!r.success && r.errorName.contains("ValidationThresholdExceededError"))
    val dlq = store.readIfExists(graft.store.Schemas.DlqTable).get
    assert(dlq.count() == 1)
    assert(dlq.head().getAs[Long]("file_row_number") == 2L) // second record
  }

  test("Parquet: native types end-to-end") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (10, "AC10", "acct", 1.5, 0.0, "d", java.sql.Date.valueOf("2025-03-01"), "R10"),
      (11, "AC11", "acct", 2.5, 0.0, "d", java.sql.Date.valueOf("2025-03-02"), "R11"))
      .toDF("entry_id", "account_code", "account_name", "debit_amount",
        "credit_amount", "description", "transaction_date", "reference_number")
    val tmp = workDir.resolve("pq").toString
    df.coalesce(1).write.parquet(tmp)
    val part = Files.list(java.nio.file.Paths.get(tmp)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    val p = dropDir.resolve("ledger_2024.parquet")
    Files.copy(java.nio.file.Paths.get(part), p)
    val r = processor.processFile(p.toString).get
    assert(r.success && r.recordsRead == 2 && r.publishInserts == 2)
  }

  test("Parquet: a zero-row file with a schema raises NoDataInFileError") {
    val sp = spark
    import sp.implicits._
    val tmp = workDir.resolve("pq_empty").toString
    Seq((10, "AC10")).toDF("entry_id", "account_code").limit(0)
      .coalesce(1).write.parquet(tmp)
    val part = Files.list(java.nio.file.Paths.get(tmp)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    assert(ScanEstimate.parquetFooter(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(part)).map(_.rows) == Some(0L))
    val p = dropDir.resolve("ledger_empty.parquet")
    Files.copy(java.nio.file.Paths.get(part), p)
    val r = processor.processFile(p.toString).get
    assert(!r.success && r.errorName.contains("NoDataInFileError"), r.toString)
    val events = store.readIfExists(graft.store.Schemas.LogTable).get
      .filter(col("source_filename") === "ledger_empty.parquet")
      .select("stage", "error_name").collect().map(x => (x.getString(0), x.getString(1))).toSeq
    assert(events == Seq(("start", null), ("error", "NoDataInFileError")), events.toString)
  }

  test("Parquet: the footer gives the schema spark.read.parquet infers") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val conf = spark.sparkContext.hadoopConfiguration
    def footerSchema(p: String) =
      ScanEstimate.parquetFooterWithSchema(spark, new HPath(p)).map(_._2)
    // what the reader reads with the footer's schema is what Spark's
    // inference reads: same schema, same rows
    def sameAsInferred(p: String): Unit = {
      val s = footerSchema(p)
      assert(s.isDefined, s"footer schema unreadable: $p")
      val (given, inferred) = (spark.read.schema(s.get).parquet(p), spark.read.parquet(p))
      assert(given.schema == inferred.schema)
      assert(given.collect().toSeq == inferred.collect().toSeq)
    }

    // written by Spark: carries Spark's row metadata
    val tmp = workDir.resolve("pq_meta").toString
    spark.range(3).select(col("id"),
      col("id").cast("decimal(38,18)").as("big_dec"),
      (col("id") / 4).cast("decimal(9,2)").as("small_dec"),
      col("id").cast("string").as("name"),
      lit(java.sql.Timestamp.valueOf("2025-01-02 03:04:05.123456")).as("ts"),
      lit(java.sql.Date.valueOf("2025-01-02")).as("d"))
      .coalesce(1).write.parquet(tmp)
    val withMeta = Files.list(java.nio.file.Paths.get(tmp)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    sameAsInferred(withMeta)

    // written by plain parquet-mr: no Spark metadata, schema converted
    def write(name: String, schema: String)(fill: org.apache.parquet.example.data.Group => Unit) = {
      val p = workDir.resolve(name).toString
      val t = MessageTypeParser.parseMessageType(schema)
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new HPath(p), conf))
        .withType(t).withConf(conf).build()
      try (1 to 2).foreach { i =>
        val g = new SimpleGroupFactory(t).newGroup()
        fill(g.append("id", i.toLong))
        w.write(g)
      } finally w.close()
      p
    }
    val plain = write("plain.parquet",
      """message m { required int64 id; optional binary name (STRING);
        |  optional int32 small_dec (DECIMAL(9,2)); optional int64 dec18 (DECIMAL(18,4));
        |  optional int64 ts (TIMESTAMP(MICROS,true)); optional int32 d (DATE); }""".stripMargin) {
      g => g.append("name", "n").append("small_dec", 12345).append("dec18", 987654321L)
        .append("ts", 1700000000123456L).append("d", 20000)
    }
    sameAsInferred(plain)

    val nanos = write("nanos.parquet",
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }") {
      g => g.append("ts", 1700000000123456789L)
    }
    // the session reads nanosecond timestamps as longs
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.get(nanosAsLong) == "true")
    assert(footerSchema(nanos).exists(_("ts").dataType == org.apache.spark.sql.types.LongType))
    sameAsInferred(nanos)
    // without the flag the type is unconvertible: no footer schema, and the
    // reader's fallback raises Spark's own error
    spark.conf.set(nanosAsLong, "false")
    try {
      assert(footerSchema(nanos).isEmpty)
      intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(nanos))
    } finally spark.conf.set(nanosAsLong, "true")
  }

  test("Parquet: a corrupt file fails in the read stage with Spark's read error") {
    val p = dropDir.resolve("ledger_corrupt.parquet")
    Files.write(p, "this is not parquet".getBytes("UTF-8"))
    val e = intercept[org.apache.spark.SparkException](processor.processFile(p.toString))
    assert(e.getMessage.startsWith("Job aborted due to stage failure"), e.getMessage)
    // the run logged its start and nothing after: the read stage failed
    val stages = store.readIfExists(graft.store.Schemas.LogTable).get
      .filter(col("source_filename") === "ledger_corrupt.parquet")
      .select("stage").collect().map(_.getString(0)).toSeq
    assert(stages == Seq("start"), stages.toString)
  }

  test("ORC: native types end-to-end, validation failure DLQs, junk bytes fail cleanly") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (20, "AC20", "acct", 1.5, 0.0, "d", java.sql.Date.valueOf("2025-04-01"), "R20"),
      (21, "AC21", "acct", 2.5, 0.0, "d", java.sql.Date.valueOf("2025-04-02"), "R21"))
      .toDF("entry_id", "account_code", "account_name", "debit_amount",
        "credit_amount", "description", "transaction_date", "reference_number")
    val tmp = workDir.resolve("orc").toString
    df.coalesce(1).write.orc(tmp)
    val part = Files.list(java.nio.file.Paths.get(tmp)).toArray
      .map(_.toString).filter(_.endsWith(".orc")).head
    val p = dropDir.resolve("ledger_orc2025.orc")
    Files.copy(java.nio.file.Paths.get(part), p)
    val r = processor.processFile(p.toString).get
    assert(r.success && r.recordsRead == 2 && r.publishInserts == 2)
    val t = store.readIfExists("ledger_entries").get
    assert(t.filter(col("entry_id") === 20).head()
      .getAs[java.sql.Date]("transaction_date").toString == "2025-04-01")

    // null required column -> DLQ with accurate row number
    val bad = Seq((Some(22), "AC22"), (None, "AC23"))
      .toDF("entry_id", "account_code")
    val tmp2 = workDir.resolve("orc_bad").toString
    bad.coalesce(1).write.orc(tmp2)
    val part2 = Files.list(java.nio.file.Paths.get(tmp2)).toArray
      .map(_.toString).filter(_.endsWith(".orc")).head
    val pb = dropDir.resolve("ledger_orcbad2025.orc")
    Files.copy(java.nio.file.Paths.get(part2), pb)
    val rb = processor.processFile(pb.toString).get
    assert(!rb.success && rb.errorName.contains("ValidationThresholdExceededError"))
    val dlq = store.readIfExists(graft.store.Schemas.DlqTable).get
      .filter(col("source_filename") === "ledger_orcbad2025.orc")
    assert(dlq.count() == 1 && dlq.head().getAs[Long]("file_row_number") == 2L)

    // junk bytes under .orc -> emailable MissingHeaderError, not a stack trace
    val pj = dropDir.resolve("ledger_orcjunk.orc")
    Files.write(pj, "this is not orc".getBytes("UTF-8"))
    val rj = processor.processFile(pj.toString).get
    assert(!rj.success && rj.errorName.contains("MissingHeaderError"))
  }

  // ---- Avro fixtures: written with avro-core's DataFileWriter ----

  /** Ledger avro container: nested Account record, [null,int] Entry_ID,
    * date logical type — exercises union unwrap, struct flatten, logicals.
    */
  private def writeAvro(path: Path, ids: Seq[Option[Int]]): Unit = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"LedgerEntry","fields":[
        |{"name":"Entry_ID","type":["null","int"]},
        |{"name":"Account","type":{"type":"record","name":"Account","fields":[
        |  {"name":"Code","type":"string"},{"name":"Name","type":"string"}]}},
        |{"name":"Debit_Amount","type":"double"},
        |{"name":"Credit_Amount","type":"double"},
        |{"name":"Description","type":["null","string"]},
        |{"name":"Transaction_Date","type":{"type":"int","logicalType":"date"}},
        |{"name":"Reference_Number","type":"string"}]}""".stripMargin)
    val accountSchema = schema.getField("Account").schema()
    val writer = new org.apache.avro.file.DataFileWriter(
      new GenericDatumWriter[GenericRecord](schema))
    writer.create(schema, path.toFile)
    ids.zipWithIndex.foreach { case (idOpt, i) =>
      val r = new GenericData.Record(schema)
      r.put("Entry_ID", idOpt.map(Int.box).orNull)
      val acc = new GenericData.Record(accountSchema)
      acc.put("Code", s"AC${idOpt.getOrElse(0)}")
      acc.put("Name", s"acct ${idOpt.getOrElse(0)}")
      r.put("Account", acc)
      r.put("Debit_Amount", (i + 1) * 10.5)
      r.put("Credit_Amount", 0.0)
      r.put("Description", s"entry $i")
      r.put("Transaction_Date",
        java.time.LocalDate.of(2025, 2, i + 1).toEpochDay.toInt)
      r.put("Reference_Number", s"R$i")
      writer.append(r)
    }
    writer.close()
  }

  test("Avro: container read, nested-record flatten, date logical type e2e") {
    val p = dropDir.resolve("ledger_2026.avro")
    writeAvro(p, Seq(Some(1), Some(2), Some(3)))
    val r = processor.processFile(p.toString).get
    assert(r.success && r.recordsRead == 3 && r.publishInserts == 3)
    val t = store.readIfExists("ledger_entries").get
    assert(t.count() == 3)
    assert(t.filter(col("entry_id") === 2).head().getAs[String]("account_code") == "AC2")
    assert(t.schema("transaction_date").dataType.typeName == "date")
    assert(t.filter(col("entry_id") === 1).head()
      .getAs[java.sql.Date]("transaction_date").toString == "2025-02-01")
  }

  test("Avro: null required field routes to DLQ with accurate row number") {
    val p = dropDir.resolve("ledger_bad2026.avro")
    writeAvro(p, Seq(Some(1), None, Some(3)))
    val r = processor.processFile(p.toString).get
    assert(!r.success && r.errorName.contains("ValidationThresholdExceededError"))
    val dlq = store.readIfExists(graft.store.Schemas.DlqTable).get
      .filter(col("source_filename") === "ledger_bad2026.avro")
    assert(dlq.count() == 1)
    assert(dlq.head().getAs[Long]("file_row_number") == 2L)
  }

  test("Avro: multi-branch union datum outside the first branch converts to null") {
    val sch = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"long"},
        |{"name":"u","type":["null","long","string"]}]}""".stripMargin)
    // column is typed as the FIRST non-null branch (long)
    assert(graft.sources.AvroConvert.sparkType(sch)
      .asInstanceOf[org.apache.spark.sql.types.StructType]("u").dataType ==
      org.apache.spark.sql.types.LongType)
    val rec = new org.apache.avro.generic.GenericData.Record(sch)
    rec.put("id", 1L)
    rec.put("u", new org.apache.avro.util.Utf8("not a long"))
    val row = graft.sources.AvroConvert.toRow(sch, rec)
    // other-branch datum => NULL (DLQ contract), not a task-killing CCE
    assert(row.get(0) == 1L && row.get(1) == null)
    val rec2 = new org.apache.avro.generic.GenericData.Record(sch)
    rec2.put("id", 2L)
    rec2.put("u", 7L)
    assert(graft.sources.AvroConvert.toRow(sch, rec2).get(1) == 7L)
  }

  test("Avro: non-container bytes report MissingHeaderError") {
    val p = dropDir.resolve("ledger_junk.avro")
    Files.write(p, "this is not avro".getBytes("UTF-8"))
    val r = processor.processFile(p.toString).get
    assert(!r.success && r.errorName.contains("MissingHeaderError"))
  }

  // ---- Excel fixtures: build a minimal xlsx with the JDK zip writer ----

  private def xlsx(path: Path, sheets: Seq[(String, Seq[Seq[String]])]): Unit = {
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val sheetTags = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="$name" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    put("xl/workbook.xml",
      s"""<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>$sheetTags</sheets></workbook>""")
    val rels = sheets.zipWithIndex.map { case (_, i) =>
      s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
    }.mkString
    put("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>""")
    sheets.zipWithIndex.foreach { case ((_, rows), si) =>
      val rowXml = rows.zipWithIndex.map { case (cells, ri) =>
        val cellXml = cells.zipWithIndex.map { case (v, ci) =>
          val ref = s"${('A' + ci).toChar}${ri + 1}"
          if (v.isEmpty) ""
          else if (v.matches("-?\\d+(\\.\\d+)?"))
            s"""<c r="$ref"><v>$v</v></c>"""
          else
            s"""<c r="$ref" t="inlineStr"><is><t>$v</t></is></c>"""
        }.mkString
        s"""<row r="${ri + 1}">$cellXml</row>"""
      }.mkString
      put(s"xl/worksheets/sheet${si + 1}.xml",
        s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$rowXml</sheetData></worksheet>""")
    }
    zos.close()
  }

  private val productHeader = Seq("SKU", "Product Name", "Category", "Price",
    "Stock Qty", "Supplier", "Last Date", "Last Updated")

  test("Excel: serial dates convert against the 1899-12-30 epoch") {
    val p = dropDir.resolve("inventory_2024.xlsx")
    // serial 45306 = 2024-01-15; 45306.5 = 2024-01-15 12:00:00
    xlsx(p, Seq("Sheet1" -> Seq(
      productHeader,
      Seq("SKU1", "Widget", "Tools", "9.99", "5", "Acme", "45306", "45306.5"),
      Seq("SKU2", "Gadget", "Tools", "19.99", "2", "Acme", "45307", "45307.25"))))
    val r = processor.processFile(p.toString).get
    assert(r.success && r.recordsRead == 2 && r.publishInserts == 2)
    val t = store.readIfExists("products").get
    val row = t.filter(col("sku") === "SKU1").head()
    assert(row.getAs[java.sql.Date]("last_date").toString == "2024-01-15")
    assert(row.getAs[java.sql.Timestamp]("last_updated").toString
      .startsWith("2024-01-15 12:00:00"))
  }

  test("Excel: sheet selection by name") {
    val src = TestSources.inventoryExcel.copy(
      name = "inv2", formatOptions = ExcelOptions(sheetName = Some("Data")))
    val reg = new SourceRegistry(Seq(src))
    val proc2 = new Processor(spark, reg, store, files, notifier, dropDir.toString)
    val p = dropDir.resolve("inventory_sheets.xlsx")
    xlsx(p, Seq(
      "Ignore" -> Seq(Seq("junk")),
      "Data" -> Seq(productHeader,
        Seq("SKU9", "Thing", "Misc", "1.00", "1", "Acme", "45306", "45306"))))
    val r = proc2.processFile(p.toString).get
    assert(r.success && r.recordsRead == 1)
    assert(store.readIfExists("products").get
      .filter(col("sku") === "SKU9").count() == 1)
  }

  test("Excel skip_rows: header kept from row 1, first data rows skipped") {
    // Reference excel.py: name_columns_by_row=0 takes row 1 as the header,
    // THEN `if index <= skip_rows: continue` drops the first data rows —
    // same semantics as the CSV reader, never treating a data row as header.
    val src = TestSources.inventoryExcel.copy(
      name = "inv_skip", filePattern = "inventory_skip*.xlsx",
      formatOptions = ExcelOptions(skipRows = 2))
    val reg = new SourceRegistry(Seq(src))
    val proc2 = new Processor(spark, reg, store, files, notifier, dropDir.toString)
    val p = dropDir.resolve("inventory_skip.xlsx")
    xlsx(p, Seq("Sheet1" -> Seq(
      productHeader,
      Seq("SKIPA", "Widget", "Tools", "9.99", "5", "Acme", "45306", "45306"),
      Seq("SKIPB", "Widget", "Tools", "9.99", "5", "Acme", "45306", "45306"),
      Seq("KEEP1", "Widget", "Tools", "9.99", "5", "Acme", "45306", "45306"),
      Seq("KEEP2", "Gadget", "Tools", "19.99", "2", "Acme", "45307", "45307"))))
    val r = proc2.processFile(p.toString).get
    assert(r.success && r.recordsRead == 2)
    val t = store.readIfExists("products").get
    assert(t.filter(col("sku").startsWith("SKIP")).isEmpty)
    assert(t.filter(col("sku").startsWith("KEEP")).count() == 2)
  }

  test("customer model: cleaners run before cast, email validated, maxLength enforced") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{length => slen, _}
    // reference customer.py:25-41: phone strips [^\d+] (keeping the raw
    // value when everything strips away); email trims + lowercases
    val phoneClean: Column => Column = c => {
      val cleaned = regexp_replace(trim(c), "[^\\d+]", "")
      when(slen(cleaned) > 0, cleaned).otherwise(c)
    }
    val emailClean: Column => Column = c => lower(trim(c))
    val customers = SourceConfig(
      name = "customers", filePattern = "customers-*.csv", sourceType = "csv",
      columns = Seq(
        ColumnSpec.string("customer_id", alias = "Customer Id", nullable = false,
          maxLength = 50),
        ColumnSpec(name = "phone_one", dataType =
          org.apache.spark.sql.types.StringType, alias = Some("Phone 1"),
          maxLength = Some(25), cleaners = Seq(phoneClean)),
        ColumnSpec(name = "email", dataType =
          org.apache.spark.sql.types.StringType, maxLength = Some(100),
          email = true, cleaners = Seq(emailClean)),
        ColumnSpec.date("subscription_date", alias = "Subscription Date")),
      tableName = "customers", grain = Seq("customer_id"),
      validationErrorThreshold = 0.5)
    val reg = new SourceRegistry(Seq(customers))
    val proc2 = new Processor(spark, reg, store, files, notifier, dropDir.toString)
    val p = dropDir.resolve("customers-100.csv")
    Files.writeString(p,
      "Customer Id,Phone 1,email,Subscription Date\n" +
      "C1,(555) 123-4567, Foo@BAR.com ,2024-01-01\n" +
      "C2,+1-555-987-6543,ok@example.com,2024-01-02\n" +
      "C3,555.111.2222,not-an-email,2024-01-03\n")
    val r = proc2.processFile(p.toString).get
    assert(r.success) // 1 bad of 3 < 0.5 threshold
    assert(r.recordsRead == 3 && r.recordsFailedValidation == 1)
    val t = store.readIfExists("customers").get
    assert(t.filter(col("customer_id") === "C1").head()
      .getAs[String]("phone_one") == "5551234567")
    assert(t.filter(col("customer_id") === "C2").head()
      .getAs[String]("phone_one") == "+15559876543")
    assert(t.filter(col("customer_id") === "C1").head()
      .getAs[String]("email") == "foo@bar.com")
    assert(t.filter(col("customer_id") === "C3").isEmpty) // bad email -> DLQ
  }

  test("CSV skip_rows: first data rows skipped, row numbers still file-accurate") {
    val src = TestSources.salesCsv.copy(
      name = "skip_sales", filePattern = "skipsales_*.csv",
      auditQuery = None,
      formatOptions = CsvOptions(skipRows = 2))
    val reg = new SourceRegistry(Seq(src))
    val proc2 = new Processor(spark, reg, store, files, notifier, dropDir.toString)
    val p = dropDir.resolve("skipsales_1.csv")
    Files.writeString(p, Seq(TestSources.SalesHeader,
      TestSources.salesRow("SKIP1"), TestSources.salesRow("SKIP2"),
      TestSources.salesRow("KEEP1"), TestSources.salesRow("KEEP2"))
      .mkString("\n"))
    val r = proc2.processFile(p.toString).get
    assert(r.success && r.recordsRead == 2) // two skipped
    val t = store.readIfExists("transactions").get
    assert(t.count() == 2)
    assert(t.filter(col("transaction_id").startsWith("SKIP")).isEmpty)
  }

  test("concurrent sweep: thread pool processes many files; logs/targets consistent") {
    (1 to 6).foreach { i =>
      Files.writeString(dropDir.resolve(s"sales_c$i.csv"),
        Seq(TestSources.SalesHeader, TestSources.salesRow(s"C${i}A"),
          TestSources.salesRow(s"C${i}B")).mkString("\n"))
    }
    val proc2 = new Processor(spark, TestSources.registry, store, files,
      notifier, dropDir.toString, filePoolSize = 3)
    val s = proc2.processAll()
    assert(s.processed == 6 && s.succeeded == 6 && s.failed == 0)
    assert(store.readIfExists("transactions").get.count() == 12)
    val log = store.readIfExists(graft.store.Schemas.LogTable).get
    // every file logged a full start -> complete trail
    assert(log.filter(col("stage") === "complete").count() == 6)
    assert(log.filter(col("stage") === "start").count() == 6)
  }

  test("partitioned target: versions written hive-partitioned, reads prune") {
    val src = TestSources.salesCsv.copy(
      name = "part_sales", filePattern = "partsales_*.csv",
      tableName = "transactions_bydate", auditQuery = None,
      targetPartitionBy = Seq("sale_date"))
    val reg = new SourceRegistry(Seq(src))
    val proc2 = new Processor(spark, reg, store, files, notifier, dropDir.toString)
    val p = dropDir.resolve("partsales_1.csv")
    Files.writeString(p, Seq(TestSources.SalesHeader,
      TestSources.salesRow("P1", date = "2024-03-01"),
      TestSources.salesRow("P2", date = "2024-03-02")).mkString("\n"))
    assert(proc2.processFile(p.toString).get.success)
    val t = store.readIfExists("transactions_bydate").get
    assert(t.count() == 2)
    // version dir contains sale_date=... partition directories
    val tblDir = workDir.resolve("tables/transactions_bydate")
    val version = Files.readString(tblDir.resolve("_VERSION")).trim
    val parts = Files.list(tblDir.resolve(version)).toArray.map(_.toString)
    assert(parts.exists(_.contains("sale_date=2024-03-01")))
    // partition-pruned read: only one partition's rows scanned
    assert(t.filter(col("sale_date") === "2024-03-01").count() == 1)
  }

  test("duplicate probe uses the filename sidecar table") {
    val p = dropDir.resolve("sales_sc1.csv")
    Files.writeString(p, Seq(TestSources.SalesHeader,
      TestSources.salesRow("SC1")).mkString("\n"))
    assert(processor.processFile(p.toString).get.success)
    assert(store.exists("transactions__filenames"))
    val names = store.readIfExists("transactions__filenames").get
    assert(names.filter(col("source_filename") === "sales_sc1.csv").count() == 1)
    // same name again -> duplicate via sidecar
    Files.writeString(p, Seq(TestSources.SalesHeader,
      TestSources.salesRow("SC9")).mkString("\n"))
    val r2 = processor.processFile(p.toString).get
    assert(r2.success && r2.errorName.contains("DuplicateFileError"))
  }

  test("multiple sources matching one file fail loudly") {
    val a = TestSources.salesCsv.copy(name = "a", filePattern = "dup_*.csv")
    val b = TestSources.salesCsv.copy(name = "b", filePattern = "dup_2024*.csv")
    val reg = new SourceRegistry(Seq(a, b))
    intercept[MultipleSourcesMatchError] {
      reg.findSourceForFile("dup_2024.csv")
    }
    // through the processor: counted as a failed result, not a crash
    val proc2 = new Processor(spark, reg, store, files, notifier, dropDir.toString)
    Files.writeString(dropDir.resolve("dup_2024.csv"),
      Seq(TestSources.SalesHeader, TestSources.salesRow("D1")).mkString("\n"))
    val s = proc2.processAll()
    assert(s.processed == 1 && s.failed == 1)
  }

  test("ragged CSV rows: short rows null-fill (missing -> validation), extra cells dropped") {
    val p = dropDir.resolve("sales_ragged.csv")
    // row 2 misses the last two fields; row 3 has one extra trailing cell
    Files.writeString(p, Seq(
      TestSources.SalesHeader,
      "R1,CUST1,SKU1,1,1.0,1.0",
      "R2,CUST1,SKU1,2,2.0,4.0,2024-03-01,Alice,EXTRA").mkString("\n"))
    val src = TestSources.salesCsv.copy(name = "ragged",
      filePattern = "sales_ragged.csv", auditQuery = None,
      validationErrorThreshold = 0.9)
    val proc2 = new Processor(spark, new SourceRegistry(Seq(src)),
      store, files, notifier, dropDir.toString)
    val r = proc2.processFile(p.toString).get
    // R1 lacks sale_date/sales_rep -> nulls; nullable specs accept them, so
    // both rows load; the extra cell on R2 is silently dropped
    assert(r.success && r.recordsRead == 2 && r.publishInserts == 2)
    val t = store.readIfExists("transactions").get
    assert(t.filter(col("transaction_id") === "R1").head()
      .getAs[java.sql.Date]("sale_date") == null)
    assert(t.filter(col("transaction_id") === "R2").head()
      .getAs[String]("sales_rep") == "Alice")
  }

  test("CSV with UTF-8 BOM: header aliases still match") {
    val p = dropDir.resolve("sales_bom.csv")
    Files.write(p, ("﻿" + Seq(TestSources.SalesHeader,
      TestSources.salesRow("BOM1")).mkString("\n")).getBytes("UTF-8"))
    val r = processor.processFile(p.toString).get
    assert(r.success && r.recordsRead == 1 && r.publishInserts == 1)
  }

  test("JSON: array-of-struct field null in every record flattens to nothing, no crash") {
    val p = dropDir.resolve("ledger_nullarr.json")
    Files.writeString(p,
      """{"entries": {"item": [
        | {"Entry_ID": 1, "Account": {"Code": "A1", "Name": "n"}, "Tags": null,
        |  "Debit_Amount": 1.0, "Credit_Amount": 0.0, "Description": "d",
        |  "Transaction_Date": "2025-02-01", "Reference_Number": "R1"},
        | {"Entry_ID": 2, "Account": {"Code": "A2", "Name": "n"}, "Tags": [{"k": "v"}],
        |  "Debit_Amount": 2.0, "Credit_Amount": 0.0, "Description": "d",
        |  "Transaction_Date": "2025-02-02", "Reference_Number": "R2"}
        |]}}""".stripMargin)
    val r = processor.processFile(p.toString).get
    assert(r.success && r.recordsRead == 2)
  }

  test("engine failure before archive preserves the drop file") {
    // corrupt the duplicate-probe sidecar so the pre-archive probe throws a
    // non-FileError: the drop file must survive (no copy exists yet)
    val scDir = workDir.resolve("tables/transactions__filenames/seg_1")
    Files.createDirectories(scDir)
    Files.writeString(scDir.resolve("junk.parquet"), "not parquet at all")
    val p = dropDir.resolve("sales_keep.csv")
    Files.writeString(p, Seq(TestSources.SalesHeader,
      TestSources.salesRow("K1")).mkString("\n"))
    intercept[Exception] { processor.processFile(p.toString) }
    assert(Files.exists(p), "drop file must survive a pre-archive failure")
    assert(!Files.exists(workDir.resolve("archive/sales_keep.csv")))
  }

  test("legacy OLE2 .xls reports unsupported format, not 'no data'") {
    val src = TestSources.inventoryExcel.copy(
      name = "xls", filePattern = "inventory_*.xls")
    val proc2 = new Processor(spark, new SourceRegistry(Seq(src)),
      store, files, notifier, dropDir.toString)
    val p = dropDir.resolve("inventory_legacy.xls")
    Files.write(p, Array(0xd0, 0xcf, 0x11, 0xe0, 0xa1, 0xb1).map(_.toByte))
    val e = intercept[UnsupportedFileTypeError] { proc2.processFile(p.toString) }
    assert(e.getMessage.contains("legacy binary Excel"))
  }

  test("notification matrix: each emailable error type sends and counts as success") {
    val src = TestSources.salesCsv.copy(
      name = "notify_all", filePattern = "nsales_*.csv", auditQuery = None,
      notificationEmails = Seq("team@example.com"))
    val proc2 = new Processor(spark, new SourceRegistry(Seq(src)),
      store, files, notifier, dropDir.toString)
    def run(name: String, content: String): FileResult = {
      Files.writeString(dropDir.resolve(name), content)
      proc2.processFile(dropDir.resolve(name).toString).get
    }
    val cases = Seq(
      // blank header
      ("nsales_h.csv", " , , \nx,y,z", "MissingHeaderError"),
      // missing required column
      ("nsales_m.csv", "foo,bar\n1,2", "MissingColumnsError"),
      // validation failure
      ("nsales_v.csv", TestSources.SalesHeader + "\n" +
        "T1,C1,S,notanint,1.0,1.0,2024-01-01,A", "ValidationThresholdExceededError"),
      // duplicate grain
      ("nsales_g.csv", TestSources.SalesHeader + "\n" +
        TestSources.salesRow("G1") + "\n" + TestSources.salesRow("G1"),
        "GrainValidationError"))
    cases.foreach { case (name, content, expected) =>
      val before = notifier.fileErrors.size
      val r = run(name, content)
      assert(r.success, s"$expected must count as success when emailed")
      assert(r.errorName.contains(expected))
      assert(notifier.fileErrors.size == before + 1 &&
        notifier.fileErrors.last._3 == expected)
    }
  }

  test("composite grain: audit and merge key on the column pair") {
    val src = TestSources.salesCsv.copy(
      name = "pairgrain", filePattern = "pg_*.csv", auditQuery = None,
      tableName = "pair_target",
      grain = Seq("customer_id", "product_sku"))
    val proc2 = new Processor(spark, new SourceRegistry(Seq(src)),
      store, files, notifier, dropDir.toString)
    def row(tx: String, cust: String, sku: String, qty: Int) =
      s"$tx,$cust,$sku,$qty,1.0,1.0,2024-01-01,A"
    // same customer with two skus + another customer: pair-unique -> passes
    Files.writeString(dropDir.resolve("pg_1.csv"), Seq(TestSources.SalesHeader,
      row("T1", "C1", "S1", 1), row("T2", "C1", "S2", 1),
      row("T3", "C2", "S1", 1)).mkString("\n"))
    val r1 = proc2.processFile(dropDir.resolve("pg_1.csv").toString).get
    assert(r1.success && r1.publishInserts == 3)
    // update one pair, insert a new pair
    Files.writeString(dropDir.resolve("pg_2.csv"), Seq(TestSources.SalesHeader,
      row("T9", "C1", "S2", 7), row("T4", "C2", "S2", 1)).mkString("\n"))
    val r2 = proc2.processFile(dropDir.resolve("pg_2.csv").toString).get
    assert(r2.success && r2.publishInserts == 1 && r2.publishUpdates == 1)
    val t = store.readIfExists("pair_target").get
    assert(t.count() == 4)
    assert(t.filter(col("customer_id") === "C1" && col("product_sku") === "S2")
      .head().getAs[Int]("quantity") == 7)
    // duplicate PAIR within one file trips the grain audit
    Files.writeString(dropDir.resolve("pg_3.csv"), Seq(TestSources.SalesHeader,
      row("T5", "C3", "S1", 1), row("T6", "C3", "S1", 2)).mkString("\n"))
    val r3 = proc2.processFile(dropDir.resolve("pg_3.csv").toString).get
    assert(!r3.success && r3.errorName.contains("GrainValidationError"))
  }

  test("Excel: blank header raises MissingHeaderError") {
    val p = dropDir.resolve("inventory_blank.xlsx")
    xlsx(p, Seq("Sheet1" -> Seq(Seq("", "", ""), Seq("SKU1", "x", "y"))))
    val r = processor.processFile(p.toString).get
    assert(!r.success && r.errorName.contains("MissingHeaderError"))
  }
}
