package graft.store

import graft.core.{ColumnSpec, SourceConfig}
import org.apache.spark.sql.types._

/** Engine table schemas (reference src/process/db.py:92-209). */
object Schemas {

  /** Engine-added columns on every target row (reference db_utils.py:187-199). */
  val EngineColumns: Seq[StructField] = Seq(
    StructField("etl_row_hash", LongType, nullable = false),
    StructField("source_filename", StringType, nullable = false),
    StructField("file_load_log_id", LongType, nullable = false),
    StructField("etl_created_at", TimestampType, nullable = false),
    StructField("etl_updated_at", TimestampType, nullable = true))

  def targetSchema(source: SourceConfig): StructType =
    StructType(source.columns.map(_.structField) ++ EngineColumns)

  /** Dead-letter queue (reference src/process/db.py:184-209). */
  val DlqSchema: StructType = StructType(Seq(
    StructField("source_filename", StringType, nullable = false),
    StructField("file_row_number", LongType, nullable = false),
    StructField("file_record_data", StringType, nullable = true),
    StructField("validation_errors", StringType, nullable = true),
    StructField("file_load_log_id", LongType, nullable = false),
    StructField("target_table_name", StringType, nullable = false),
    StructField("failed_at", TimestampType, nullable = false)))

  val DlqTable = "file_load_dlq"

  /** Per-stage run log, append-only events instead of row updates
    * (reference file_load_log row updated per stage, runner.py:113-125;
    * an append-only event stream is the scalable equivalent — the "current
    * state" is the last event per log id).
    */
  val LogSchema: StructType = StructType(Seq(
    StructField("file_load_log_id", LongType, nullable = false),
    StructField("source_filename", StringType, nullable = false),
    StructField("target_table_name", StringType, nullable = true),
    StructField("stage", StringType, nullable = false),
    StructField("event_time", TimestampType, nullable = false),
    StructField("success", BooleanType, nullable = true),
    StructField("records_read", LongType, nullable = true),
    StructField("records_written_to_stage", LongType, nullable = true),
    StructField("records_failed_validation", LongType, nullable = true),
    StructField("publish_inserts", LongType, nullable = true),
    StructField("publish_updates", LongType, nullable = true),
    StructField("error_name", StringType, nullable = true),
    StructField("error_message", StringType, nullable = true)))

  val LogTable = "file_load_log"

  /** A target's filename sidecar: one row per file published into it, the
    * duplicate probe's index. Filenames backfilled from a target loaded
    * before its sidecar existed carry log id -1; their name column comes
    * from a parquet read, hence nullable.
    */
  val SidecarSchema: StructType = StructType(Seq(
    StructField("source_filename", StringType, nullable = true),
    StructField("file_load_log_id", LongType, nullable = false),
    StructField("published_at", TimestampType, nullable = false)))

  def sidecarTable(target: String): String = s"${target}__filenames"
}
