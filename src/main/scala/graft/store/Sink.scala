package graft.store

import java.sql.{Connection, DriverManager}
import java.util.Properties

import graft.core.SourceConfig
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

/** Where published target tables live.
  *
  * The reference dispatches writers by a global driver name — SQL Server /
  * Postgres / MySQL / SQLite / BigQuery (src/pipeline/write/factory.py:13-43);
  * the engine's run-metadata (log, DLQ, filename sidecars) stays in the
  * versioned parquet [[TableStore]] either way, and this seam swaps only the
  * TARGET table persistence. [[TableStore]] is the default (file-native)
  * implementation; [[JdbcSink]] loads relational targets.
  */
trait Sink {
  def exists(name: String): Boolean

  /** The current contents of the target, or None if never published. */
  def readIfExists(name: String): Option[DataFrame]

  /** Merge-publish `stage` into the target `name` and return (inserts,
    * updates). Every sink always publishes: the layout decisions (bucketed
    * copy-on-write, merge-on-read, hive-partitioned rewrite, in-database
    * MERGE) live behind this one call, as the reference's per-dialect MERGE
    * does (publish/base.py:76-97, chosen by write/factory.py:13-43).
    * Semantics are [[graft.operators.Publish]]'s hash-guarded upsert:
    * matched-and-changed rows update, hash-equal rows are untouched, new
    * grains insert, unmatched target rows are kept. The sink serializes
    * publishes to one target itself.
    *
    * `stageRows`, when the caller has already counted `stage` (the
    * pipeline's validator has), is that exact row count: a sink that sizes
    * a new table's layout from the delta uses it instead of counting again.
    *
    * `epoch` is a stream's micro-batch id. Where the backend supports it,
    * the publish is exactly-once per epoch: a replayed epoch is skipped and
    * returns the counts it recorded ([[JdbcSink]]). Backends without an
    * epoch record ignore it, because a replayed batch is a hash no-op.
    */
  def publish(name: String, stage: DataFrame, source: SourceConfig,
              now: java.sql.Timestamp, stageRows: Option[Long] = None,
              epoch: Option[Long] = None): (Long, Long)

  /** Post-publish layout policy hook: sinks with a physically pinned
    * layout (the bucketed parquet store) re-size it when the table has
    * outgrown it ([[TableStore.maybeRebucket]]); relational sinks have no
    * layout to outgrow. Returns the new bucket count when a fold ran.
    */
  def maybeRebucket(name: String, grain: Seq[String]): Option[Int] = None

  /** The bucket layout a publish of `rows` staged rows into `name` will
    * write when that publish is `name`'s first. A load that knows it
    * before validating can bucket its rows at the fan-out and carry the
    * layout's columns to the publish ([[BucketLayout]]). None for sinks
    * without such a layout and for targets that already hold data.
    */
  def firstPublishLayout(name: String, source: SourceConfig,
                         rows: Long): Option[BucketLayout] = None
}

object JdbcSink {
  /** Spark's built-in Derby dialect maps StringType to CLOB, which (a)
    * cannot sit in MERGE ON equality and (b) makes the JDBC writer bind
    * NULL strings as `setNull(CLOB)` — Derby rejects that against the
    * VARCHAR columns `createTableColumnTypes` creates (ERROR 22005), so a
    * single NULL string value failed the whole delta insert. Registering a
    * higher-precedence dialect keeps strings VARCHAR end-to-end (write
    * types AND null binding). Process-global by Spark's design; guarded
    * idempotent.
    */
  private val derbyDialectRegistered =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Wraps Spark's own Derby dialect rather than extending the base class
    * bare: a bare override would silently fall back to the COMMON JDBC
    * types for everything else (losing Derby's 31-digit decimal cap,
    * BOOLEAN mapping, etc.).
    */
  private final class DerbyVarcharDialect(
      builtin: org.apache.spark.sql.jdbc.JdbcDialect)
      extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
        : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case StringType => Some(org.apache.spark.sql.jdbc.JdbcType(
        "VARCHAR(32672)", java.sql.Types.VARCHAR))
      case other => builtin.getJDBCType(other)
    }
    override def getCatalystType(sqlType: Int, typeName: String, size: Int,
        md: org.apache.spark.sql.types.MetadataBuilder)
        : Option[org.apache.spark.sql.types.DataType] =
      builtin.getCatalystType(sqlType, typeName, size, md)
  }

  private[store] def ensureDerbyVarcharDialect(): Unit =
    if (derbyDialectRegistered.compareAndSet(false, true)) {
      val builtin = org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:derby:")
      org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
        new DerbyVarcharDialect(builtin))
    }
}

/** JDBC target sink (reference write/factory.py dialect dispatch; the
  * param-limit batching of write/mssql.py:29-41 maps to Spark's `batchsize`
  * JDBC option — each executor task inserts `batchSize`-row prepared-statement
  * batches in parallel).
  *
  * [[publish]] always merges in the database: the delta lands in a stage
  * table and one set-based upsert runs in a single transaction. With an
  * `epoch` the upsert and an epoch record commit together
  * ([[mergeExactlyOnce]]), so a replayed stream batch is skipped.
  */
final class JdbcSink(
    spark: SparkSession,
    url: String,
    connectionProperties: Properties = new Properties(),
    batchSize: Int = 1000,
    dialect: MergeDialect = null) extends Sink {

  if (url.startsWith("jdbc:derby")) JdbcSink.ensureDerbyVarcharDialect()

  private val mergeDialect: MergeDialect =
    Option(dialect).getOrElse(MergeDialect.forUrl(url))

  private def withConnection[T](f: Connection => T): T = {
    val conn = DriverManager.getConnection(url, connectionProperties)
    try f(conn) finally conn.close()
  }

  /** Unquoted DDL identifiers are case-folded by the database (Derby/Postgres
    * uppercase/lowercase them); Spark's JDBC writer emits the table name
    * unquoted, so existence must check the folded forms too.
    */
  override def exists(name: String): Boolean = withConnection { conn =>
    val md = conn.getMetaData
    Seq(name, name.toUpperCase, name.toLowerCase).distinct.exists { n =>
      val rs = md.getTables(null, null, n, Array("TABLE"))
      try rs.next() finally rs.close()
    }
  }

  override def readIfExists(name: String): Option[DataFrame] =
    if (!exists(name)) None
    else Some(spark.read.jdbc(url, name, connectionProperties))

  private def qid(c: String): String = "\"" + c + "\""

  /** In-database merge publish: executors batch-insert the delta into
    * `<name>__delta` (string columns typed VARCHAR via
    * `createTableColumnTypes` — Spark's Derby dialect would otherwise map
    * them to CLOB, which cannot sit in a MERGE ON equality), then the
    * driver runs the reference's two pre-merge count queries plus ONE
    * set-based upsert — dialect-dispatched by URL ([[MergeDialect]]: ANSI
    * MERGE / ON CONFLICT / ON DUPLICATE KEY) — in a single transaction:
    *
    *   WHEN MATCHED AND t.hash <> d.hash THEN UPDATE ... etl_updated_at=now
    *   WHEN NOT MATCHED THEN INSERT ... etl_created_at=now
    *
    * identical to the Spark-side [[graft.operators.Publish]] semantics
    * (hash-equal rows untouched, unmatched target rows retained). String
    * grain keys are CAST to VARCHAR in the ON clause so the merge also
    * works against legacy CLOB-keyed targets.
    *
    * Scale: the delta insert is the only data-volume work and it is
    * executor-parallel; the MERGE is one set-based statement the database
    * runs against its own key index — per-file cost scales with the file,
    * never with the accumulated target.
    *
    * With `epoch = Some(batchId)` the upsert goes through
    * [[mergeExactlyOnce]]'s epoch-guarded transaction.
    */
  override def publish(name: String, stage: DataFrame, source: SourceConfig,
                       now: java.sql.Timestamp, stageRows: Option[Long],
                       epoch: Option[Long]): (Long, Long) = epoch match {
    case Some(batchId) =>
      val (i, u, _) = mergeExactlyOnce(name, stage, source, now, batchId)
      (i, u)
    case None => mergeImpl(name, stage, source, now, epoch = None)
  }

  /** Exactly-once variant for Structured Streaming `foreachBatch`: the
    * micro-batch MERGE and an epoch record (`<name>__epochs`, keyed by the
    * stream's `batchId`) commit in ONE database transaction, so a batch
    * replayed after a failure between the merge commit and the stream's
    * checkpoint commit is detected and skipped — foreachBatch alone is only
    * at-least-once. Replay of an already-applied epoch returns the
    * RECORDED counts with `applied = false` (and skips the delta landing
    * entirely — the epoch pre-check costs one indexed point lookup, not a
    * delta re-land). Correct because Spark replays a failed micro-batch
    * with the SAME batchId and the same source offsets (checkpoint WAL),
    * so skipping is equivalent to the lost commit.
    */
  def mergeExactlyOnce(name: String, stage: DataFrame, source: SourceConfig,
                       now: java.sql.Timestamp,
                       batchId: Long): (Long, Long, Boolean) = {
    ensureEpochTable(name)
    recordedEpoch(name, batchId) match {
      case Some((i, u)) => (i, u, false)
      case None =>
        val (i, u) = mergeImpl(name, stage, source, now, epoch = Some(batchId))
        (i, u, true)
    }
  }

  private def epochTable(name: String): String = s"${name}__epochs"

  private def ensureEpochTable(name: String): Unit =
    if (!exists(epochTable(name))) withConnection { conn =>
      val st = conn.createStatement()
      // PRIMARY KEY on batch_id: a concurrent duplicate apply (two drivers
      // racing the same epoch) fails the second INSERT and rolls its
      // transaction back instead of double-merging. Types come from the
      // dialect: SQL Server's TIMESTAMP is rowversion (rejects explicit
      // values — the epoch INSERT would roll back every micro-batch), and
      // Oracle has no BIGINT.
      val d = mergeDialect
      try st.executeUpdate(
        s"CREATE TABLE ${epochTable(name)} (batch_id ${d.int64Type} NOT NULL " +
          s"PRIMARY KEY, applied_at ${d.timestampType}, " +
          s"inserts ${d.int64Type}, updates ${d.int64Type})")
      finally st.close()
    }

  private def recordedEpoch(name: String, batchId: Long): Option[(Long, Long)] =
    withConnection { conn =>
      val ps = conn.prepareStatement(
        s"SELECT inserts, updates FROM ${epochTable(name)} WHERE batch_id = ?")
      try {
        ps.setLong(1, batchId)
        val rs = ps.executeQuery()
        try {
          if (rs.next()) Some((rs.getLong(1), rs.getLong(2))) else None
        } finally rs.close()
      } finally ps.close()
    }

  private def mergeImpl(name: String, stage: DataFrame,
                        source: SourceConfig, now: java.sql.Timestamp,
                        epoch: Option[Long]): (Long, Long) = {
    val modelCols = source.columns.map(_.name)
    val dataCols = modelCols ++ Seq("etl_row_hash", "source_filename", "file_load_log_id")
    val delta = s"${name}__delta"

    val dlt = mergeDialect
    // NULL grain keys: index-matched upserts (ON CONFLICT / ON DUPLICATE
    // KEY) treat NULLs as pairwise distinct — the row would re-INSERT on
    // every publish and silently diverge from the parquet sink's null-safe
    // merge. Fail the file up front with the actionable config change.
    val nullableGrain = source.columns
      .filter(c => source.grain.contains(c.name) && c.nullable).map(_.name)
    if (nullableGrain.nonEmpty && dlt.requiresNonNullGrain)
      throw new IllegalArgumentException(
        s"grain column(s) ${nullableGrain.mkString(", ")} are nullable, but " +
          s"the ${dlt.name} dialect upserts through a unique index where " +
          "NULL keys never match (each NULL-keyed row re-inserts on every " +
          "publish); declare the grain columns non-nullable or target a " +
          "MERGE-capable database")

    // string delta columns land typed by the dialect: VARCHAR(n) when a
    // maxLength is declared (the validator gates it), the dialect's largest
    // string type when not — a guessed small bound made valid long rows a
    // hard SQLException unique to JDBC targets
    val varcharTypes = (source.columns.filter(_.dataType == StringType)
      .map(c => s"${c.name} ${dlt.stringType(c.maxLength)}") :+
      "source_filename VARCHAR(4000)").mkString(", ")
    stage.select(dataCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("batchsize", batchSize.toString)
      .option("createTableColumnTypes", varcharTypes)
      .jdbc(url, delta, connectionProperties)

    val ts = s"{ts '${now.toString}'}"
    val isString = source.columns.filter(_.dataType == StringType).map(_.name).toSet
    val onClause = dlt.keyEq(source.grain, isString, nullableGrain.toSet)
    val hash = dlt.qid("etl_row_hash")

    val counts = withConnection { conn =>
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        if (!exists(name)) {
          dlt.createLike(name, delta).foreach(st.executeUpdate)
          dlt.onCreate(name, source.grain).foreach(st.executeUpdate)
        }
        // pre-merge counts (reference publish/base.py:40-74), same txn as
        // the merge so nothing can slip in between
        def one(sql: String): Long = {
          val rs = st.executeQuery(sql)
          try { rs.next(); rs.getLong(1) } finally rs.close()
        }
        val inserts = one(s"SELECT COUNT(*) FROM $delta d WHERE NOT EXISTS " +
          s"(SELECT 1 FROM $name t WHERE $onClause)")
        val updates = one(s"SELECT COUNT(*) FROM $delta d JOIN $name t ON $onClause " +
          s"WHERE t.$hash <> d.$hash")
        dlt.mergeStatements(name, delta, source.grain, dataCols, ts, onClause)
          .foreach(st.executeUpdate)
        // exactly-once epoch record: MUST commit atomically with the merge
        // (see mergeExactlyOnce) — a separate transaction would reopen the
        // replay-between-commits window it exists to close. Authoritative
        // replay guard: the PRIMARY KEY rejects a racing duplicate apply
        // even if both passed the cheap pre-check.
        epoch.foreach { id =>
          st.executeUpdate(s"INSERT INTO ${epochTable(name)} VALUES " +
            s"($id, $ts, $inserts, $updates)")
        }
        conn.commit()
        (inserts, updates)
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
    }
    withConnection { conn =>
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE $delta") finally st.close()
    }
    counts
  }
}
