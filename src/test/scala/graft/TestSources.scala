package graft

import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Test source configs mirroring the reference's fixture registry
  * (reference src/tests/fixtures/sources.py:26-213; schemas in FIXTURES.md).
  */
object TestSources {

  val transactions: Seq[ColumnSpec] = Seq(
    ColumnSpec.string("transaction_id", nullable = false),
    ColumnSpec.string("customer_id"),
    ColumnSpec.string("product_sku"),
    ColumnSpec.int("quantity"),
    ColumnSpec.double("unit_price"),
    ColumnSpec.double("total_amount"),
    ColumnSpec.date("sale_date"),
    ColumnSpec.string("sales_rep"))

  val salesCsv: SourceConfig = SourceConfig(
    name = "sales_csv",
    filePattern = "sales_*.csv*",
    sourceType = "csv",
    columns = transactions,
    tableName = "transactions",
    grain = Seq("transaction_id"),
    auditQuery = Some(
      """SELECT
        |  SUM(CASE WHEN total_amount > 0 THEN 1 ELSE 0 END) AS total_amount_positive,
        |  SUM(CASE WHEN unit_price > 0 THEN 1 ELSE 0 END) AS unit_price_positive
        |FROM {table}""".stripMargin),
    formatOptions = CsvOptions())

  val thresholdSales: SourceConfig = salesCsv.copy(
    name = "threshold_sales",
    filePattern = "threshold_sales_*.csv",
    validationErrorThreshold = 0.15,
    auditQuery = None)

  val notifySales: SourceConfig = salesCsv.copy(
    name = "notify_sales",
    filePattern = "notify_sales_*.csv",
    notificationEmails = Seq("data-team@example.com"))

  val ledger: Seq[ColumnSpec] = Seq(
    ColumnSpec.int("entry_id", nullable = false),
    ColumnSpec.string("account_code"),
    ColumnSpec.string("account_name"),
    ColumnSpec.double("debit_amount"),
    ColumnSpec.double("credit_amount"),
    ColumnSpec.string("description"),
    ColumnSpec.date("transaction_date"),
    ColumnSpec.string("reference_number"))

  val ledgerJson: SourceConfig = SourceConfig(
    name = "ledger_json",
    filePattern = "ledger_*.json*",
    sourceType = "json",
    columns = ledger,
    tableName = "ledger_entries",
    grain = Seq("entry_id"),
    formatOptions = JsonOptions(arrayPath = Some("entries.item")))

  val ledgerParquet: SourceConfig = ledgerJson.copy(
    name = "ledger_parquet",
    filePattern = "ledger_*.parquet",
    sourceType = "parquet",
    formatOptions = ParquetOptions)

  val ledgerAvro: SourceConfig = ledgerJson.copy(
    name = "ledger_avro",
    filePattern = "ledger_*.avro",
    sourceType = "avro",
    formatOptions = ParquetOptions)

  val ledgerOrc: SourceConfig = ledgerJson.copy(
    name = "ledger_orc",
    filePattern = "ledger_*.orc",
    sourceType = "orc",
    formatOptions = ParquetOptions)

  val products: Seq[ColumnSpec] = Seq(
    ColumnSpec.string("sku", alias = "SKU", nullable = false),
    ColumnSpec.string("name", alias = "Product Name"),
    ColumnSpec.string("category", alias = "Category"),
    ColumnSpec.double("price", alias = "Price"),
    ColumnSpec.int("stock_quantity", alias = "Stock Qty"),
    ColumnSpec.string("supplier", alias = "Supplier"),
    ColumnSpec.date("last_date", alias = "Last Date"),
    ColumnSpec.timestamp("last_updated", alias = "Last Updated"))

  val inventoryExcel: SourceConfig = SourceConfig(
    name = "inventory_excel",
    filePattern = "inventory_*.xlsx",
    sourceType = "excel",
    columns = products,
    tableName = "products",
    grain = Seq("sku"),
    formatOptions = ExcelOptions())

  /** F7: Decimal columns — DecimalType(38,18) with exact-precision casts
    * (the reference maps pydantic Decimal to SQL Numeric, db_utils.py:53-62).
    */
  val balances: SourceConfig = SourceConfig(
    name = "balances_csv",
    filePattern = "balances_*.csv",
    sourceType = "csv",
    columns = Seq(
      ColumnSpec.string("account_id", nullable = false),
      ColumnSpec.decimal("balance", nullable = false),
      ColumnSpec.decimal("rate", precision = 10, scale = 6)),
    tableName = "balances",
    grain = Seq("account_id"),
    validationErrorThreshold = 0.5)

  def registry: SourceRegistry = new SourceRegistry(Seq(
    salesCsv, thresholdSales, notifySales, ledgerJson, ledgerParquet,
    ledgerAvro, ledgerOrc, inventoryExcel, balances))

  // ---- file builders (reference conftest.py:69-209 synthesizes per format) --

  val SalesHeader = "transaction_id,customer_id,product_sku,quantity,unit_price,total_amount,sale_date,sales_rep"

  def salesRow(id: String, qty: Int = 2, price: Double = 10.5,
               total: Double = 21.0, date: String = "2024-03-01"): String =
    s"$id,CUST1,SKU1,$qty,$price,$total,$date,Alice"

  def writeText(dir: Path, name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.writeString(p, lines.mkString("\n"))
    p.toString
  }

  def writeGzip(dir: Path, name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    p.toString
  }
}

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    // the production session, fork-free local filesystem included
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
