package graft

import graft.run._
import graft.store.{JdbcSink, TableStore}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.sql.DriverManager

/** K3-analogue: relational target loading through the [[JdbcSink]] seam,
  * e2e against embedded Derby (the reference's primary deployment writes
  * SQL Server / Postgres / MySQL / SQLite targets through the same kind of
  * dialect dispatch, write/factory.py:13-43). Mirrors the reprocess
  * semantics of reference src/tests/test_csv.py:167-248.
  */
class JdbcSinkSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = TestSpark.spark

  private var workDir: Path = _
  private var dropDir: Path = _
  private var url: String = _
  private var processor: Processor = _
  private var store: TableStore = _

  override def beforeEach(): Unit = {
    workDir = Files.createTempDirectory("graft_jdbc")
    System.setProperty("derby.system.home", workDir.toString)
    dropDir = Files.createDirectories(workDir.resolve("drop"))
    url = s"jdbc:derby:${workDir.resolve("db")};create=true"
    store = new TableStore(spark, workDir.resolve("tables").toString)
    val files = new FileOps(spark.sparkContext.hadoopConfiguration,
      workDir.resolve("archive").toString,
      workDir.resolve("duplicates").toString)
    // batchSize=2 forces multi-batch prepared-statement inserts on 3 rows
    val sink = new JdbcSink(spark, url, batchSize = 2)
    processor = new Processor(spark, TestSources.registry, store, files,
      new CollectingNotifier, dropDir.toString, filePoolSize = 1,
      targetSink = Some(sink))
  }

  import TestSources._

  private def dropFile(name: String, lines: Seq[String]): String =
    TestSources.writeText(dropDir, name, lines)

  private def query1[T](sql: String)(get: java.sql.ResultSet => T): T = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next()
      get(rs)
    } finally conn.close()
  }

  test("publish lands target rows in the database, engine columns included") {
    val f = dropFile("sales_2024.csv", Seq(SalesHeader,
      salesRow("TXN001"), salesRow("TXN002"), salesRow("TXN003")))
    val r = processor.processFile(f).get
    assert(r.success && r.publishInserts == 3)
    assert(query1("SELECT COUNT(*) FROM transactions")(_.getInt(1)) == 3)
    // engine columns persisted relationally (reference write/base.py adds
    // etl_row_hash + source_filename to every staged row)
    val hash = query1(
      """SELECT "etl_row_hash" FROM transactions FETCH FIRST ROW ONLY""")(_.getLong(1))
    assert(hash != 0L)
    // run metadata stays in the parquet store, NOT the database
    assert(store.exists(graft.store.Schemas.LogTable))
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val names = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("TABLE_NAME").toLowerCase).toSet
      assert(names == Set("transactions")) // no log/dlq/swap leftovers
    } finally conn.close()
  }

  test("identical content under a new name: hash no-op merge (0/0)") {
    dropFile("sales_a.csv", Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002")))
    processor.processFile(dropDir.resolve("sales_a.csv").toString)
    val f2 = dropFile("sales_b.csv", Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002")))
    val r = processor.processFile(f2).get
    assert(r.success && r.publishInserts == 0 && r.publishUpdates == 0)
    assert(query1("SELECT COUNT(*) FROM transactions")(_.getInt(1)) == 2)
  }

  test("changed row merges in place; new row inserts") {
    dropFile("sales_a.csv", Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002")))
    processor.processFile(dropDir.resolve("sales_a.csv").toString)
    val f2 = dropFile("sales_b.csv", Seq(SalesHeader,
      salesRow("TXN001", qty = 9), salesRow("TXN003")))
    val r = processor.processFile(f2).get
    assert(r.publishInserts == 1 && r.publishUpdates == 1)
    assert(query1("SELECT COUNT(*) FROM transactions")(_.getInt(1)) == 3)
    assert(query1(
      """SELECT "quantity" FROM transactions WHERE CAST("transaction_id" AS VARCHAR(100)) = 'TXN001'""")(
      _.getInt(1)) == 9)
    val updatedAt = query1(
      """SELECT "etl_updated_at" FROM transactions WHERE CAST("transaction_id" AS VARCHAR(100)) = 'TXN001'""")(
      _.getTimestamp(1))
    assert(updatedAt != null)
    // in-place MERGE semantics: the update retains the original created_at,
    // and a freshly inserted row has NULL updated_at (reference publish
    // dialects set only the side the action touches)
    val createdAt = query1(
      """SELECT "etl_created_at" FROM transactions WHERE CAST("transaction_id" AS VARCHAR(100)) = 'TXN001'""")(
      _.getTimestamp(1))
    assert(createdAt != null && createdAt.before(updatedAt))
    val insUpdated = query1(
      """SELECT "etl_updated_at" FROM transactions WHERE CAST("transaction_id" AS VARCHAR(100)) = 'TXN003'""")(
      _.getTimestamp(1))
    assert(insUpdated == null)
    // untouched row (TXN002, hash-equal absent from file b? it was only in
    // file a): still present — unmatched target rows are retained
    assert(query1(
      """SELECT COUNT(*) FROM transactions WHERE CAST("transaction_id" AS VARCHAR(100)) = 'TXN002'""")(
      _.getInt(1)) == 1)
    // no __delta / __swap leftovers after the merge
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val names = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("TABLE_NAME").toLowerCase).toSet
      assert(names == Set("transactions"))
    } finally conn.close()
  }

  test("NULL grain key merges null-safe on the ANSI dialect; index dialects reject") {
    val sp = spark
    import sp.implicits._
    val src = graft.core.SourceConfig(
      name = "nullable_grain", filePattern = "ng*.csv", sourceType = "csv",
      columns = Seq(
        graft.core.ColumnSpec.string("k", maxLength = 50), // nullable grain
        graft.core.ColumnSpec.int("v")),
      tableName = "null_grain_target", grain = Seq("k"))
    def stage(v: Int, hash: Long) =
      Seq((Option.empty[String], v, hash, "ng.csv", 1L))
        .toDF("k", "v", "etl_row_hash", "source_filename", "file_load_log_id")
    val sink = new JdbcSink(spark, url)
    val ts1 = java.sql.Timestamp.valueOf("2026-08-13 00:00:00")
    val (i1, u1) = sink.publish("null_grain_target", stage(1, 100L), src, ts1)
    assert(i1 == 1 && u1 == 0)
    // second publish of the SAME (NULL-keyed) logical row with a changed
    // hash: plain `=` never matches NULL, which would re-INSERT it on
    // every run — the null-safe predicate must UPDATE in place instead
    val ts2 = java.sql.Timestamp.valueOf("2026-08-13 00:01:00")
    val (i2, u2) = sink.publish("null_grain_target", stage(2, 200L), src, ts2)
    assert(i2 == 0 && u2 == 1, "NULL grain key must match null-safe")
    assert(query1("SELECT COUNT(*) FROM null_grain_target")(_.getInt(1)) == 1)
    assert(query1("""SELECT "v" FROM null_grain_target""")(_.getInt(1)) == 2)
    // unique-index upsert dialects cannot honor null-safe matching (NULLs
    // are pairwise distinct in the index model): reject before any DB work
    val pgSink = new JdbcSink(spark, url,
      dialect = graft.store.PostgresOnConflictDialect)
    val e = intercept[IllegalArgumentException] {
      pgSink.publish("null_grain_target", stage(3, 300L), src, ts2)
    }
    assert(e.getMessage.contains("nullable"))
  }

  test("merge dialects: URL dispatch and generated upsert SQL shapes") {
    import graft.store._
    assert(MergeDialect.forUrl("jdbc:postgresql://h/db") == PostgresOnConflictDialect)
    assert(MergeDialect.forUrl("jdbc:sqlite:/tmp/x.db") == SqliteOnConflictDialect)
    assert(MergeDialect.forUrl("jdbc:mysql://h/db") == MySqlOnDuplicateDialect)
    assert(MergeDialect.forUrl("jdbc:mariadb://h/db") == MySqlOnDuplicateDialect)
    assert(MergeDialect.forUrl("jdbc:derby:/tmp/db") == DerbyMergeDialect)
    assert(MergeDialect.forUrl("jdbc:sqlserver://h;db=x") == SqlServerMergeDialect)
    assert(MergeDialect.forUrl("jdbc:oracle:thin:@h:1521/db") == OracleMergeDialect)
    assert(MergeDialect.forUrl("jdbc:db2://h/db") == AnsiMergeDialect)
    assert(MergeDialect.forUrl("jdbc:h2:mem:x") == H2MergeDialect)

    val grain = Seq("transaction_id")
    val cols = Seq("transaction_id", "quantity", "etl_row_hash",
      "source_filename", "file_load_log_id")
    val ts = "{ts '2026-08-13 00:00:00.0'}"

    val ansi = DerbyMergeDialect.mergeSql("t1", "t1__delta", grain, cols, ts,
      DerbyMergeDialect.keyEq(grain, Set("transaction_id")))
    assert(ansi.contains("MERGE INTO t1 t USING t1__delta d"))
    // string grain keys CAST so legacy CLOB-typed targets stay mergeable,
    // at each database's own comparable bound
    assert(ansi.contains("CAST(t.\"transaction_id\" AS VARCHAR(32672))"))
    assert(AnsiMergeDialect.keyEq(grain, Set("transaction_id"))
      .contains("AS VARCHAR(4000)"))
    assert(SqlServerMergeDialect.keyEq(grain, Set("transaction_id"))
      .contains("AS VARCHAR(MAX)"))
    assert(OracleMergeDialect.keyEq(grain, Set("transaction_id"))
      .contains("AS VARCHAR2(4000)"))
    // nullable grain keys merge null-safe (Spark-side <=> analogue); the
    // non-nullable form above stays plain equality (index-friendly)
    val ansiNullable = AnsiMergeDialect.keyEq(grain, Set("transaction_id"),
      nullableCols = Set("transaction_id"))
    assert(ansiNullable.contains("IS NULL AND d.\"transaction_id\" IS NULL"))
    assert(!AnsiMergeDialect.keyEq(grain, Set("transaction_id")).contains("IS NULL"))
    // index-matched dialects reject nullable grains up front instead
    assert(PostgresOnConflictDialect.requiresNonNullGrain
      && SqliteOnConflictDialect.requiresNonNullGrain
      && MySqlOnDuplicateDialect.requiresNonNullGrain
      && !AnsiMergeDialect.requiresNonNullGrain)
    // unbounded strings land as each dialect's OWN large type, never a
    // one-size bound (32672 exceeds SQL Server's 8000 / Oracle's 4000;
    // a valid long row must not SQLException only on JDBC)
    assert(DerbyMergeDialect.stringType(None) == "VARCHAR(32672)")
    assert(DerbyMergeDialect.stringType(Some(100)) == "VARCHAR(100)")
    assert(SqlServerMergeDialect.stringType(None) == "VARCHAR(MAX)")
    assert(OracleMergeDialect.stringType(None) == "CLOB")
    assert(OracleMergeDialect.stringType(Some(80)) == "VARCHAR2(80)")
    assert(AnsiMergeDialect.stringType(None) == "VARCHAR(4000)")
    assert(MySqlOnDuplicateDialect.stringType(None) == "TEXT")
    // H2: bare VARCHAR = maximum length (~1e9 chars) — the generic 4000
    // fallback would re-introduce the round-6 long-row SQLException there
    assert(H2MergeDialect.stringType(None) == "VARCHAR")
    assert(H2MergeDialect.stringType(Some(64)) == "VARCHAR(64)")
    assert(H2MergeDialect.keyEq(grain, Set("transaction_id"))
      .contains("AS VARCHAR)"))
    // epoch-table DDL types are dialect-routed: SQL Server TIMESTAMP is
    // rowversion (explicit-value INSERT fails → every micro-batch MERGE
    // rolls back), Oracle has no BIGINT
    assert(SqlServerMergeDialect.timestampType == "DATETIME2")
    assert(OracleMergeDialect.int64Type == "NUMBER(19)")
    assert(OracleMergeDialect.timestampType == "TIMESTAMP")
    assert(DerbyMergeDialect.int64Type == "BIGINT"
      && DerbyMergeDialect.timestampType == "TIMESTAMP")
    // audit-column DDL flows through the same hook
    assert(SqlServerMergeDialect.createLike("t1", "t1__delta")
      .count(_.contains("DATETIME2")) == 2)
    // SQL Server: MERGE must be semicolon-terminated; audit cols DATETIME2
    // (TIMESTAMP is rowversion there); SELECT INTO replaces WITH NO DATA
    val mssql = SqlServerMergeDialect.mergeSql("t1", "t1__delta", grain, cols,
      ts, SqlServerMergeDialect.keyEq(grain, Set.empty))
    assert(mssql.endsWith(";"))
    assert(SqlServerMergeDialect.createLike("t1", "t1__delta").head
      .startsWith("SELECT * INTO t1"))
    assert(SqlServerMergeDialect.createLike("t1", "t1__delta")
      .exists(_.contains("DATETIME2")))
    // Oracle: no WITH NO DATA; WHERE 1=0 CTAS + parenthesized ADD
    assert(OracleMergeDialect.createLike("t1", "t1__delta").head
      .contains("WHERE 1=0"))
    assert(ansi.contains("WHEN MATCHED AND t.\"etl_row_hash\" <> d.\"etl_row_hash\""))
    assert(ansi.contains("WHEN NOT MATCHED THEN INSERT"))
    // update never reassigns the grain key
    assert(!ansi.contains("""UPDATE SET "transaction_id""""))

    val pg = PostgresOnConflictDialect.mergeSql("t1", "t1__delta", grain, cols, ts,
      PostgresOnConflictDialect.keyEq(grain, Set("transaction_id")))
    assert(pg.contains("""ON CONFLICT ("transaction_id") DO UPDATE SET"""))
    assert(pg.contains("""WHERE t1."etl_row_hash" <> EXCLUDED."etl_row_hash""""))
    assert(pg.contains("""EXCLUDED."quantity""""))
    // ON CONFLICT demands the unique grain index at table creation
    assert(PostgresOnConflictDialect.onCreate("t1", grain)
      .exists(_.contains("CREATE UNIQUE INDEX")))

    val my = MySqlOnDuplicateDialect.mergeSql("t1", "t1__delta", grain, cols, ts,
      MySqlOnDuplicateDialect.keyEq(grain, Set("transaction_id")))
    assert(my.contains("ON DUPLICATE KEY UPDATE"))
    assert(my.contains("`quantity` = IF(t1.`etl_row_hash` <> new.`etl_row_hash`"))
    // the hash guard must be assigned LAST (MySQL applies SET left-to-right)
    assert(my.trim.endsWith(
      "`etl_row_hash` = IF(t1.`etl_row_hash` <> new.`etl_row_hash`, " +
        "new.`etl_row_hash`, t1.`etl_row_hash`)"))
    // derived-table row alias, not the deprecated VALUES() function
    assert(my.contains(") AS new") && !my.contains("VALUES("))
    // SQLite cannot CTAS WITH NO DATA
    assert(SqliteOnConflictDialect.createLike("t1", "t1__delta")
      .head.contains("WHERE 1=0"))

    // Snowflake (reference todo.txt:2): plain ANSI MERGE; unbounded
    // VARCHAR (16 MB ceiling, the H2 shape); audit columns explicitly
    // TIMESTAMP_NTZ so an account's TIMESTAMP_TYPE_MAPPING cannot shift
    // the driver-stamped UTC times; WHERE 1=0 CTAS
    assert(MergeDialect.forUrl(
      "jdbc:snowflake://acct.snowflakecomputing.com/?db=x")
      == SnowflakeMergeDialect)
    val sfSql = SnowflakeMergeDialect.mergeSql("t1", "t1__delta", grain, cols,
      ts, SnowflakeMergeDialect.keyEq(grain, Set("transaction_id")))
    assert(sfSql.contains("MERGE INTO t1 t USING t1__delta d"))
    assert(sfSql.contains(
      "WHEN MATCHED AND t.\"etl_row_hash\" <> d.\"etl_row_hash\""))
    assert(SnowflakeMergeDialect.stringType(None) == "VARCHAR")
    assert(SnowflakeMergeDialect.stringType(Some(40)) == "VARCHAR(40)")
    assert(SnowflakeMergeDialect.timestampType == "TIMESTAMP_NTZ")
    assert(SnowflakeMergeDialect.createLike("t1", "t1__delta")
      .count(_.contains("TIMESTAMP_NTZ")) == 2)
    assert(SnowflakeMergeDialect.createLike("t1", "t1__delta")
      .head.contains("WHERE 1=0"))

    // Redshift (reference todo.txt:2): no MERGE pre-2023 — the staged
    // DELETE+INSERT form, one ordered statement list in one transaction
    assert(MergeDialect.forUrl("jdbc:redshift://cluster:5439/db")
      == RedshiftDeleteInsertDialect)
    val rsOn = RedshiftDeleteInsertDialect.keyEq(grain, Set("transaction_id"))
    val rs = RedshiftDeleteInsertDialect.mergeStatements(
      "t1", "t1__delta", grain, cols, ts, rsOn)
    assert(rs.length == 5)
    // 1: stage CHANGED rows only (hash guard) with the target's
    // created_at preserved — DELETE+reINSERT must not reset it
    assert(rs(0).startsWith("CREATE TABLE t1__rs_stage AS"))
    assert(rs(0).contains("t.\"etl_row_hash\" <> d.\"etl_row_hash\""))
    assert(rs(0).contains("t.\"etl_created_at\" AS \"etl_created_at\""))
    // 2-3: swap the changed rows through the stage. Redshift DELETE
    // takes NO alias on the target (PG 8.0 grammar) — rows qualify by
    // table name
    assert(rs(1).startsWith("DELETE FROM t1 USING t1__rs_stage"))
    assert(rs(1).contains("t1.\"transaction_id\" = " +
      "t1__rs_stage.\"transaction_id\""))
    assert(!rs(1).matches(".*FROM t1 \\w+ USING.*"),
      "no alias on the DELETE target")
    assert(rs(2).startsWith("INSERT INTO t1 (") &&
      rs(2).contains("FROM t1__rs_stage"))
    // 4: brand-new rows via NOT EXISTS (replacements already re-inserted,
    // unchanged matches excluded) with created_at only
    assert(rs(3).contains("WHERE NOT EXISTS") &&
      rs(3).contains("\"etl_created_at\")"))
    assert(!rs(3).contains("\"etl_updated_at\""))
    assert(rs(4) == "DROP TABLE t1__rs_stage")
    assert(RedshiftDeleteInsertDialect.stringType(None) == "VARCHAR(65535)")
    assert(!RedshiftDeleteInsertDialect.requiresNonNullGrain,
      "the staged predicates are null-safe; no unique index is required")
    // every single-statement dialect's statement list is exactly its
    // mergeSql — the sink executes lists uniformly
    assert(DerbyMergeDialect.mergeStatements("t1", "t1__delta", grain, cols,
      ts, "X") === Seq(DerbyMergeDialect.mergeSql("t1", "t1__delta", grain,
      cols, ts, "X")))
  }

  test("failed merge rolls back: target rows unchanged, no partial state") {
    dropFile("sales_a.csv", Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002")))
    processor.processFile(dropDir.resolve("sales_a.csv").toString)
    // sabotage the target so the MERGE statement itself fails mid-publish
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(
      """ALTER TABLE transactions DROP COLUMN "sales_rep"""")
    finally conn.close()
    val f2 = dropFile("sales_b.csv", Seq(SalesHeader,
      salesRow("TXN001", qty = 9), salesRow("TXN003")))
    // internal (non-FileError) failures propagate from processFile by
    // design (processAll's safeProcess is the catching surface)
    intercept[java.sql.SQLException] { processor.processFile(f2) }
    // transactional rollback: the pre-sabotage rows are intact and the
    // failed file inserted nothing
    assert(query1("SELECT COUNT(*) FROM transactions")(_.getInt(1)) == 2)
    assert(query1(
      """SELECT "quantity" FROM transactions WHERE CAST("transaction_id" AS VARCHAR(100)) = 'TXN001'""")(
      _.getInt(1)) == 2, "failed publish must not have applied its update")
  }

  test("mergeExactlyOnce: replayed epoch is skipped, next epoch applies") {
    dropFile("sales_a.csv", Seq(SalesHeader, salesRow("TXN001"), salesRow("TXN002")))
    processor.processFile(dropDir.resolve("sales_a.csv").toString)
    val sink = new JdbcSink(spark, url)
    val source = TestSources.registry.all.find(_.tableName == "transactions").get
    val dataCols = source.columns.map(_.name) ++
      Seq("etl_row_hash", "source_filename", "file_load_log_id")
    // a published target read back IS a valid stage frame (same columns)
    val stage = spark.read.jdbc(url, "transactions", new java.util.Properties())
      .select(dataCols.map(org.apache.spark.sql.functions.col): _*)
      .cache()
    stage.count()
    val now = new java.sql.Timestamp(System.currentTimeMillis())

    // epoch 7 first apply: hash-equal content, 0/0, applied
    val (i1, u1, applied1) = sink.mergeExactlyOnce("transactions", stage, source, now, 7L)
    assert(applied1 && i1 == 0 && u1 == 0)

    // REPLAY of epoch 7 with would-be-changing content: must be skipped
    // (returns the recorded counts) and the target must not change
    import org.apache.spark.sql.functions.{col => c, lit}
    val changed = stage.withColumn("quantity", lit(99))
      .withColumn("etl_row_hash", c("etl_row_hash") + 1)
    val (i2, u2, applied2) = sink.mergeExactlyOnce("transactions", changed, source, now, 7L)
    assert(!applied2 && i2 == 0 && u2 == 0)
    assert(query1(
      """SELECT "quantity" FROM transactions WHERE CAST("transaction_id" AS VARCHAR(100)) = 'TXN001'""")(
      _.getInt(1)) == 2, "replayed epoch must not re-apply")

    // epoch 8 with the changed content: applies as updates
    val (i3, u3, applied3) = sink.mergeExactlyOnce("transactions", changed, source, now, 8L)
    assert(applied3 && i3 == 0 && u3 == 2)
    assert(query1(
      """SELECT "quantity" FROM transactions WHERE CAST("transaction_id" AS VARCHAR(100)) = 'TXN001'""")(
      _.getInt(1)) == 99)
    assert(query1("SELECT COUNT(*) FROM transactions__epochs")(_.getInt(1)) == 2)
    stage.unpersist()
  }

  test("duplicate filename is still detected with a relational target") {
    dropFile("sales_2024.csv", Seq(SalesHeader, salesRow("TXN001")))
    processor.processFile(dropDir.resolve("sales_2024.csv").toString)
    val f2 = dropFile("sales_2024.csv", Seq(SalesHeader, salesRow("TXN099")))
    val r = processor.processFile(f2).get
    assert(r.success && r.errorName.contains("DuplicateFileError"))
    assert(query1("SELECT COUNT(*) FROM transactions")(_.getInt(1)) == 1)
  }
}
