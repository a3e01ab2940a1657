package graft.store

/** Upsert-statement dialects for [[JdbcSink.publish]] (reference
  * write/factory.py:13-43 dispatches writers by driver name, and
  * publish/{postgresql,mysql,mssql,sqlite}.py each carry their database's
  * upsert flavor).
  *
  * Every dialect implements the same publish contract over a landed
  * `<target>__delta` table:
  *
  *   matched AND hash differs -> UPDATE all data columns + etl_updated_at
  *   matched AND hash equal   -> leave the target row untouched
  *   not matched              -> INSERT with etl_created_at (updated_at NULL)
  *   target-only rows         -> retained
  *
  * The SQL differs: ANSI `MERGE` (SQL Server, Oracle, DB2, Derby, H2,
  * Postgres 15+), `INSERT .. ON CONFLICT` (Postgres, SQLite — demands a
  * unique index on the grain, created with the table), and
  * `INSERT .. ON DUPLICATE KEY` (MySQL/MariaDB — per-column IF guards;
  * `etl_row_hash` must be assigned LAST because MySQL applies SET
  * left-to-right and later expressions see already-updated columns).
  *
  * Only the ANSI path can run e2e here (embedded Derby; no PG/MySQL server
  * in this environment) — the other dialects are exercised as generated-SQL
  * unit tests (JdbcSinkSpec) pinning clause structure and ordering.
  */
sealed trait MergeDialect {
  def name: String

  /** Identifier quote. Double quotes for standard SQL; backticks for MySQL.
    * Embedded quotes double per the SQL standard, so a hostile or merely
    * unfortunate column name in a source model cannot break out of the
    * identifier and change the generated statement.
    */
  def qid(c: String): String = "\"" + c.replace("\"", "\"\"") + "\""

  /** Create an empty target shaped like the delta table (+ timestamps). */
  def createLike(target: String, delta: String): Seq[String] = Seq(
    s"CREATE TABLE $target AS SELECT * FROM $delta WITH NO DATA",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_created_at")} $timestampType",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_updated_at")} $timestampType")

  /** One-time DDL after target creation (unique grain index where the
    * upsert form requires one).
    */
  def onCreate(target: String, grain: Seq[String]): Seq[String] = Nil

  /** Whether this dialect's upsert matches rows through a UNIQUE index
    * (ON CONFLICT / ON DUPLICATE KEY). Under the SQL index model NULL keys
    * are pairwise distinct, so a NULL-keyed row would re-INSERT on every
    * publish — [[JdbcSink]] rejects nullable grain columns for such
    * dialects up front instead of silently diverging from the parquet
    * sink's null-safe (`<=>`) merge semantics.
    */
  def requiresNonNullGrain: Boolean = false

  /** Column type for a declared string column in the landed delta table.
    * Bounded lengths map to VARCHAR(n); UNDECLARED lengths map to the
    * dialect's OWN largest string type rather than a guessed bound — the
    * validator only gates length when maxLength is declared, so a small
    * default turned valid long rows into hard SQLExceptions unique to JDBC
    * targets. No single large VARCHAR is portable (Derby caps at 32672,
    * SQL Server at 8000, Oracle at 4000 bytes standard), so each
    * MERGE-capable dialect overrides: Derby VARCHAR(32672), SQL Server
    * VARCHAR(MAX), Oracle CLOB, MySQL TEXT. The generic fallback stays at
    * the classic portable VARCHAR(4000).
    */
  def stringType(maxLength: Option[Int]): String =
    maxLength.map(n => s"VARCHAR($n)").getOrElse("VARCHAR(4000)")

  /** Cast target for string grain keys in [[keyEq]]. VARCHAR(4000) is the
    * portable bound (within every documented target's limit); dialects
    * with a larger comparable type override (Derby 32672, SQL Server MAX,
    * H2 unbounded). On dialects that keep the 4000 bound, string grain
    * keys longer than 4000 characters compare by their 4000-char prefix —
    * two distinct keys sharing a 4000-char prefix would MATCH and update
    * rather than insert. That bound is documented here and on the Oracle
    * dialect; targets whose keys can exceed it need a dialect override.
    */
  protected def keyCastType: String = "VARCHAR(4000)"

  /** Column type for a 64-bit integer in dialect-issued DDL (the
    * exactly-once epoch table). ANSI BIGINT almost everywhere; Oracle has
    * no BIGINT and overrides to NUMBER(19).
    */
  def int64Type: String = "BIGINT"

  /** Column type for a timestamp in dialect-issued DDL. ANSI TIMESTAMP by
    * default; SQL Server overrides to DATETIME2 because its TIMESTAMP is a
    * rowversion pseudo-type that rejects explicit values — an epoch INSERT
    * through it would fail and roll back the whole micro-batch MERGE.
    */
  def timestampType: String = "TIMESTAMP"

  /** Key equality predicate between aliases `t` (target) and `d` (delta);
    * string grain columns CAST to [[keyCastType]] so legacy CLOB-typed
    * keys stay comparable (index-based dialects override to plain
    * equality — their writers never produce CLOB keys and a CAST would
    * defeat the index). Grain columns declared NULLABLE get a null-safe
    * form (`a = b OR (a IS NULL AND b IS NULL)`) matching the Spark-side
    * publish's `<=>` — with plain `=`, a NULL key never matches and the
    * same row re-INSERTs on every publish of its file family.
    */
  def keyEq(grain: Seq[String], stringCols: Set[String],
            nullableCols: Set[String] = Set.empty): String =
    grain.map { g =>
      val eq =
        if (stringCols(g))
          s"CAST(t.${qid(g)} AS $keyCastType) = CAST(d.${qid(g)} AS $keyCastType)"
        else s"t.${qid(g)} = d.${qid(g)}"
      if (nullableCols(g))
        s"($eq OR (t.${qid(g)} IS NULL AND d.${qid(g)} IS NULL))"
      else eq
    }.mkString(" AND ")

  /** The single set-based upsert statement. `dataCols` excludes the
    * timestamp columns; `ts` is a ready SQL timestamp literal; `on` is the
    * rendered [[keyEq]].
    */
  def mergeSql(target: String, delta: String, grain: Seq[String],
               dataCols: Seq[String], ts: String, on: String): String

  /** The upsert as an ORDERED statement list, executed by [[JdbcSink]]
    * inside one transaction (autocommit off, single commit with the
    * epoch record). One statement for every upsert-capable dialect;
    * dialects without MERGE/ON CONFLICT ([[RedshiftDeleteInsertDialect]])
    * override with their staged multi-statement form.
    */
  def mergeStatements(target: String, delta: String, grain: Seq[String],
                      dataCols: Seq[String], ts: String,
                      on: String): Seq[String] =
    Seq(mergeSql(target, delta, grain, dataCols, ts, on))

  protected def hashCol: String = qid("etl_row_hash")
}

object MergeDialect {
  /** Driver dispatch by JDBC URL subprotocol (reference write/factory.py). */
  def forUrl(url: String): MergeDialect = {
    val sub = url.stripPrefix("jdbc:").takeWhile(_ != ':').toLowerCase
    sub match {
      case "postgresql" => PostgresOnConflictDialect
      case "sqlite" => SqliteOnConflictDialect
      case "mysql" | "mariadb" => MySqlOnDuplicateDialect
      case "derby" => DerbyMergeDialect
      case "sqlserver" | "jtds" => SqlServerMergeDialect
      case "oracle" => OracleMergeDialect
      case "h2" => H2MergeDialect
      case "snowflake" => SnowflakeMergeDialect
      case "redshift" => RedshiftDeleteInsertDialect
      case _ => AnsiMergeDialect // db2, unknown MERGE-capable targets
    }
  }
}

/** Shared ANSI `MERGE` statement shape (SQL Server, Oracle, DB2, Derby, H2,
  * Postgres 15+). String-type limits differ per database, so the concrete
  * MERGE dialects below override [[stringType]]/[[keyCastType]] (and DDL
  * where the database lacks `CREATE TABLE .. WITH NO DATA`).
  */
sealed trait AnsiMergeLike extends MergeDialect {
  override def mergeSql(target: String, delta: String, grain: Seq[String],
                        dataCols: Seq[String], ts: String, on: String): String = {
    val updateSet = (dataCols.filterNot(grain.contains)
      .map(c => s"${qid(c)} = d.${qid(c)}") :+ s"${qid("etl_updated_at")} = $ts")
      .mkString(", ")
    val insertCols = (dataCols :+ "etl_created_at").map(qid).mkString(", ")
    val insertVals = (dataCols.map(c => s"d.${qid(c)}") :+ ts).mkString(", ")
    s"""MERGE INTO $target t USING $delta d ON $on
       |WHEN MATCHED AND t.$hashCol <> d.$hashCol
       |  THEN UPDATE SET $updateSet
       |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin
  }
}

/** Generic ANSI MERGE fallback (DB2, unknown) — portable VARCHAR(4000)
  * bounds because nothing larger is safe everywhere (DB2's effective
  * VARCHAR ceiling depends on table-space page size and can be ~4 KB).
  * Two documented consequences of the bound: undeclared-length strings
  * land as VARCHAR(4000) (a longer valid row is a hard SQLException — the
  * fix is a concrete dialect, as for H2 below), and grain keys compare by
  * their 4000-char prefix (see [[MergeDialect.keyCastType]]).
  */
case object AnsiMergeDialect extends AnsiMergeLike {
  val name = "ansi-merge"
}

/** H2: CHARACTER VARYING takes no practical bound (1,000,000,000 chars),
  * and a bare `VARCHAR` means "maximum length" — so undeclared-length
  * strings and grain-key CASTs use unbounded VARCHAR instead of the
  * generic fallback's 4000 (which had re-introduced the round-6 failure
  * mode on H2: a valid >4000-char row became a hard SQLException, and
  * long grain keys prefix-compared). Generated-SQL unit-tested only: no
  * H2 driver jar exists in this offline environment (same documented
  * limit as sqlite-jdbc).
  */
case object H2MergeDialect extends AnsiMergeLike {
  val name = "h2-merge"
  override def stringType(maxLength: Option[Int]): String =
    maxLength.map(n => s"VARCHAR($n)").getOrElse("VARCHAR")
  override protected def keyCastType: String = "VARCHAR"
}

/** Derby (the live-e2e-tested target): VARCHAR ceiling 32672 — used for
  * both unbounded strings and the grain-key CAST so legacy CLOB keys up to
  * that length stay comparable.
  */
case object DerbyMergeDialect extends AnsiMergeLike {
  val name = "derby-merge"
  override def stringType(maxLength: Option[Int]): String =
    maxLength.map(n => s"VARCHAR($n)").getOrElse("VARCHAR(32672)")
  override protected def keyCastType: String = "VARCHAR(32672)"
}

/** SQL Server: plain VARCHAR caps at 8000, so unbounded strings land as
  * VARCHAR(MAX) (comparable with `=`, just not indexable — MERGE ON
  * doesn't need an index). `SELECT INTO` replaces the unsupported
  * `CREATE TABLE .. WITH NO DATA`; TIMESTAMP means rowversion on SQL
  * Server, so the audit columns are DATETIME2. MERGE statements must be
  * semicolon-terminated on SQL Server.
  */
case object SqlServerMergeDialect extends AnsiMergeLike {
  val name = "sqlserver-merge"
  override def stringType(maxLength: Option[Int]): String =
    maxLength.map(n => s"VARCHAR($n)").getOrElse("VARCHAR(MAX)")
  override protected def keyCastType: String = "VARCHAR(MAX)"
  override def timestampType: String = "DATETIME2"
  override def createLike(target: String, delta: String): Seq[String] = Seq(
    s"SELECT * INTO $target FROM $delta WHERE 1=0",
    s"ALTER TABLE $target ADD ${qid("etl_created_at")} $timestampType",
    s"ALTER TABLE $target ADD ${qid("etl_updated_at")} $timestampType")
  override def mergeSql(target: String, delta: String, grain: Seq[String],
                        dataCols: Seq[String], ts: String, on: String): String =
    super.mergeSql(target, delta, grain, dataCols, ts, on) + ";"
}

/** Oracle: standard VARCHAR2 caps at 4000 bytes, so unbounded strings land
  * as CLOB; grain keys CAST to VARCHAR2(4000) in the ON clause (CLOBs
  * cannot sit in `=` directly — keys longer than 4000 bytes compare by
  * their 4000-byte prefix, documented bound). No `WITH NO DATA`; the
  * `WHERE 1=0` CTAS form and parenthesized ALTER TABLE ADD instead.
  */
case object OracleMergeDialect extends AnsiMergeLike {
  val name = "oracle-merge"
  override def stringType(maxLength: Option[Int]): String =
    maxLength.map(n => s"VARCHAR2($n)").getOrElse("CLOB")
  override protected def keyCastType: String = "VARCHAR2(4000)"
  // Oracle has no BIGINT; NUMBER(19) holds the full signed-64-bit range
  override def int64Type: String = "NUMBER(19)"
  override def createLike(target: String, delta: String): Seq[String] = Seq(
    s"CREATE TABLE $target AS SELECT * FROM $delta WHERE 1=0",
    s"ALTER TABLE $target ADD (${qid("etl_created_at")} TIMESTAMP)",
    s"ALTER TABLE $target ADD (${qid("etl_updated_at")} TIMESTAMP)")
}

/** Snowflake (reference todo.txt:2): ANSI MERGE with `WHEN MATCHED AND`
  * guards, so the shared statement shape applies verbatim. VARCHAR takes
  * no practical bound (bare VARCHAR = 16 MB max), so undeclared-length
  * strings and grain-key CASTs stay unbounded like H2. Timestamps land as
  * TIMESTAMP_NTZ explicitly — a bare TIMESTAMP aliases to whatever the
  * account's TIMESTAMP_TYPE_MAPPING says, and a session pinned to _TZ/_LTZ
  * would shift the pipeline's driver-stamped UTC times. No `WITH NO
  * DATA`; the `WHERE 1=0` CTAS form (Oracle's) copies the delta's shape.
  * Generated-SQL unit-tested only: no Snowflake driver jar exists in this
  * offline environment (the documented sqlite-jdbc/H2 limit).
  */
case object SnowflakeMergeDialect extends AnsiMergeLike {
  val name = "snowflake-merge"
  override def stringType(maxLength: Option[Int]): String =
    maxLength.map(n => s"VARCHAR($n)").getOrElse("VARCHAR")
  override protected def keyCastType: String = "VARCHAR"
  override def timestampType: String = "TIMESTAMP_NTZ"
  override def createLike(target: String, delta: String): Seq[String] = Seq(
    s"CREATE TABLE $target AS SELECT * FROM $delta WHERE 1=0",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_created_at")} $timestampType",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_updated_at")} $timestampType")
}

/** Redshift (reference todo.txt:2): pre-2023 clusters lack MERGE, so the
  * upsert is the canonical staged form Redshift's own merge-examples
  * document — all inside [[JdbcSink]]'s single transaction:
  *
  *   1. stage the CHANGED rows (hash differs) joined with their target
  *      row's `etl_created_at` — a plain DELETE+reINSERT would reset the
  *      creation stamp the MERGE UPDATE arm preserves;
  *   2. DELETE the changed target rows (USING the stage);
  *   3. re-INSERT the replacements with preserved created_at + new
  *      updated_at;
  *   4. INSERT brand-new rows (NOT EXISTS against the post-replacement
  *      target — replacements and unchanged matches are both excluded);
  *   5. DROP the stage.
  *
  * Unchanged rows are never touched (the hash guard filters them out of
  * the stage), matching every other dialect's no-op arm. VARCHAR ceiling
  * is 65535 bytes — used for unbounded strings and grain-key CASTs.
  * Generated-SQL unit-tested only (no Redshift driver jar offline).
  */
case object RedshiftDeleteInsertDialect extends MergeDialect {
  val name = "redshift-delete-insert"
  override def stringType(maxLength: Option[Int]): String =
    maxLength.map(n => s"VARCHAR($n)").getOrElse("VARCHAR(65535)")
  override protected def keyCastType: String = "VARCHAR(65535)"
  override def createLike(target: String, delta: String): Seq[String] = Seq(
    s"CREATE TABLE $target AS SELECT * FROM $delta WHERE 1=0",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_created_at")} $timestampType",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_updated_at")} $timestampType")

  /** Single-statement form does not exist for this dialect; [[JdbcSink]]
    * always goes through [[mergeStatements]].
    */
  override def mergeSql(target: String, delta: String, grain: Seq[String],
                        dataCols: Seq[String], ts: String,
                        on: String): String =
    mergeStatements(target, delta, grain, dataCols, ts, on).mkString(";\n")

  override def mergeStatements(target: String, delta: String,
                               grain: Seq[String], dataCols: Seq[String],
                               ts: String, on: String): Seq[String] = {
    val stage = s"${target}__rs_stage"
    val cols = dataCols.map(qid).mkString(", ")
    val dCols = dataCols.map(c => s"d.${qid(c)}").mkString(", ")
    val created = qid("etl_created_at")
    val updated = qid("etl_updated_at")
    // the DELETE matches target rows against the stage's grain keys; the
    // stage carries only changed rows, so unchanged matches survive.
    // Redshift's DELETE grammar (PostgreSQL 8.0 ancestry) does NOT
    // accept an alias on the DELETE target — qualify with the table
    // names themselves
    val delOn = grain.map(g =>
      s"($target.${qid(g)} = $stage.${qid(g)} OR " +
        s"($target.${qid(g)} IS NULL AND " +
        s"$stage.${qid(g)} IS NULL))").mkString(" AND ")
    Seq(
      s"""CREATE TABLE $stage AS
         |SELECT $dCols, t.$created AS $created, $ts AS $updated
         |FROM $delta d JOIN $target t ON $on
         |WHERE t.$hashCol <> d.$hashCol""".stripMargin,
      s"DELETE FROM $target USING $stage WHERE $delOn",
      s"INSERT INTO $target ($cols, $created, $updated) " +
        s"SELECT $cols, $created, $updated FROM $stage",
      s"""INSERT INTO $target ($cols, $created)
         |SELECT $dCols, $ts FROM $delta d
         |WHERE NOT EXISTS (SELECT 1 FROM $target t WHERE $on)""".stripMargin,
      s"DROP TABLE $stage")
  }
}

/** Postgres / SQLite `INSERT .. ON CONFLICT (grain) DO UPDATE`. */
sealed abstract class OnConflictDialect extends MergeDialect {
  override def requiresNonNullGrain: Boolean = true

  override def onCreate(target: String, grain: Seq[String]): Seq[String] = Seq(
    s"CREATE UNIQUE INDEX ${target}__grain_ux ON $target " +
      grain.map(qid).mkString("(", ", ", ")"))

  override def keyEq(grain: Seq[String], stringCols: Set[String],
                     nullableCols: Set[String] = Set.empty): String =
    grain.map(g => s"t.${qid(g)} = d.${qid(g)}").mkString(" AND ")

  override def mergeSql(target: String, delta: String, grain: Seq[String],
                        dataCols: Seq[String], ts: String, on: String): String = {
    val insertCols = (dataCols :+ "etl_created_at").map(qid).mkString(", ")
    val selectVals = (dataCols.map(c => s"d.${qid(c)}") :+
      s"$ts AS ${qid("etl_created_at")}").mkString(", ")
    val conflictCols = grain.map(qid).mkString(", ")
    val updateSet = (dataCols.filterNot(grain.contains)
      .map(c => s"${qid(c)} = EXCLUDED.${qid(c)}") :+
      s"${qid("etl_updated_at")} = $ts").mkString(", ")
    s"""INSERT INTO $target ($insertCols)
       |SELECT $selectVals FROM $delta d
       |ON CONFLICT ($conflictCols) DO UPDATE SET $updateSet
       |WHERE $target.$hashCol <> EXCLUDED.$hashCol""".stripMargin
  }
}

case object PostgresOnConflictDialect extends OnConflictDialect {
  val name = "postgres-on-conflict"
}

case object SqliteOnConflictDialect extends OnConflictDialect {
  val name = "sqlite-on-conflict"
  // SQLite has no WITH NO DATA; WHERE 1=0 copies only the shape
  override def createLike(target: String, delta: String): Seq[String] = Seq(
    s"CREATE TABLE $target AS SELECT * FROM $delta WHERE 1=0",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_created_at")} TIMESTAMP",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_updated_at")} TIMESTAMP")
}

/** MySQL / MariaDB `INSERT .. ON DUPLICATE KEY UPDATE` with per-column IF
  * hash guards: the delta select wraps in a derived table `new` (the
  * portable replacement for the VALUES() function, deprecated in 8.0.20), target
  * columns reference `<target>.` (MySQL allows no target alias in INSERT),
  * and `etl_row_hash` is assigned last so earlier IFs read the OLD hash.
  */
case object MySqlOnDuplicateDialect extends MergeDialect {
  val name = "mysql-on-duplicate"
  override def qid(c: String): String = "`" + c.replace("`", "``") + "`"

  override def createLike(target: String, delta: String): Seq[String] = Seq(
    s"CREATE TABLE $target AS SELECT * FROM $delta WHERE 1=0",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_created_at")} TIMESTAMP NULL",
    s"ALTER TABLE $target ADD COLUMN ${qid("etl_updated_at")} TIMESTAMP NULL")

  override def onCreate(target: String, grain: Seq[String]): Seq[String] = Seq(
    s"ALTER TABLE $target ADD CONSTRAINT ${target}__grain_ux UNIQUE " +
      grain.map(qid).mkString("(", ", ", ")"))

  override def requiresNonNullGrain: Boolean = true

  override def keyEq(grain: Seq[String], stringCols: Set[String],
                     nullableCols: Set[String] = Set.empty): String =
    grain.map(g => s"t.${qid(g)} = d.${qid(g)}").mkString(" AND ")

  /** MySQL VARCHAR shares the 65,535-byte row-size budget; unbounded
    * strings land as TEXT (off-row) instead of a row-breaking VARCHAR.
    */
  override def stringType(maxLength: Option[Int]): String =
    maxLength.map(n => s"VARCHAR($n)").getOrElse("TEXT")

  override def mergeSql(target: String, delta: String, grain: Seq[String],
                        dataCols: Seq[String], ts: String, on: String): String = {
    val insertCols = (dataCols :+ "etl_created_at").map(qid).mkString(", ")
    val selectVals = (dataCols.map(c => s"d.${qid(c)}") :+
      s"$ts AS ${qid("etl_created_at")}").mkString(", ")
    val changed = s"$target.$hashCol <> new.$hashCol"
    val guarded = dataCols.filterNot(grain.contains)
      .filterNot(_ == "etl_row_hash")
      .map(c => s"${qid(c)} = IF($changed, new.${qid(c)}, $target.${qid(c)})")
    val tail = Seq(
      s"${qid("etl_updated_at")} = " +
        s"IF($changed, $ts, $target.${qid("etl_updated_at")})",
      s"$hashCol = IF($changed, new.$hashCol, $target.$hashCol)") // hash LAST
    s"""INSERT INTO $target ($insertCols)
       |SELECT * FROM (SELECT $selectVals FROM $delta d) AS new
       |ON DUPLICATE KEY UPDATE ${(guarded ++ tail).mkString(", ")}""".stripMargin
  }
}
