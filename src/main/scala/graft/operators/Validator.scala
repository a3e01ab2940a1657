package graft.operators

import graft.core._
import graft.sources.Reader
import graft.store.BucketLayout
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.MaterializedRows
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of validating one file's rows. All three frames read one set of
  * materialized rows; `valid`/`dlq` are filters over `all` (the reference's
  * tagged-row union stream, validator.py:97-148, split at
  * write/base.py:50-75).
  *
  * `release()` frees those rows; call it once every frame here is done
  * with. A frame read after it recomputes the rows from the raw read. It
  * is the only way to free them: the rows are a persisted RDD, not a
  * cache entry, so neither `all.unpersist()` nor clearing the session's
  * cache drops them.
  */
final case class ValidationResult(
    all: DataFrame,
    valid: DataFrame,
    dlq: DataFrame,
    totalCount: Long,
    errorCount: Long,
    release: () => Unit) {
  def errorRate: Double = if (totalCount == 0) 0.0 else errorCount.toDouble / totalCount
  def validCount: Long = totalCount - errorCount
}

/** The typed-filter core (reference src/pipeline/validate/validator.py:97-148).
  *
  * Compiles a [[SourceConfig]]'s column specs into ONE projection producing:
  *   - every target column cleaned + cast to its declared type,
  *   - `_errors  array<struct<column_name,column_value,error_type,error_message>>`,
  *   - `is_valid = (size(_errors) = 0)`,
  *   - `etl_row_hash` — xxhash64 over the *sorted* model fields joined with
  *     "|", nulls as "" (reference db_utils.py:278-289; sorted keys
  *     model_utils.py:125-126). The reference uses xxh128; 64-bit preserves
  *     the change-detection semantics (SURVEY §7.3) and is a codegen'd
  *     built-in.
  *   - `file_record_data` — JSON of the raw pre-cast record for DLQ payloads
  *     (reference db_utils.py:261-275).
  *
  * Everything is `Column` expressions with a generated-code path — no
  * UDFs, and no `CodegenFallback` expression such as the `filter`
  * higher-order function — so the whole validate projection compiles into
  * one whole-stage-codegen loop and scales linearly with partitions. The
  * `_errors` array is a `concat` of one `when(rule, [error]) else []` per
  * rule, not a filtered array of nullable errors: `ArrayFilter` has no
  * generated code and would pull the entire projection out of codegen.
  */
object Validator {

  val ErrorsCol = "_errors"
  val IsValidCol = "is_valid"
  val RawRecordCol = "file_record_data"

  /** Valid rows as the publish stage takes them: the validation columns
    * and the file row number dropped. A `_bucket` the raw frame carried
    * ([[BucketLayout]]) stays.
    */
  def staged(valid: DataFrame): DataFrame =
    valid.drop(ErrorsCol, IsValidCol, RawRecordCol, "file_row_number")

  /** One DLQ record per invalid row: filename, row number, the raw record
    * and the errors as a JSON array, followed by `extra`.
    */
  def dlqRecords(dlq: DataFrame, extra: Column*): DataFrame =
    dlq.select(Seq(col("source_filename"), col("file_row_number"),
      col(RawRecordCol), to_json(col(ErrorsCol)).as("validation_errors")) ++
      extra: _*)

  private val NoErrors = array().cast(ArrayType(StructType(
    Seq("column_name", "column_value", "error_type", "error_message")
      .map(StructField(_, StringType)))))

  /** One rule: a one-error array where `violated` holds, else empty. */
  private def rule(violated: Column, colName: String, value: Column,
                   errType: String, msg: String): Column =
    when(violated, array(struct(
      lit(colName).as("column_name"),
      value.cast(StringType).as("column_value"),
      lit(errType).as("error_type"),
      lit(msg).as("error_message")))).otherwise(NoErrors)

  /** Excel serial epoch: 1899-12-30 (reference excel.py:21-23). */
  private val ExcelEpochDays = lit(java.sql.Date.valueOf("1899-12-30"))
  private val ExcelEpochSecs = -2209161600L
  private val NumericRe = "^-?\\d+(\\.\\d+)?$"

  /** Cleaned (pre-cast) expression for a spec over `input`. */
  private def cleaned(spec: ColumnSpec, input: Column): Column =
    spec.cleaners.foldLeft(input)((c, f) => f(c))

  /** A spec's value as validation types it: its cleaners, then the cast.
    * The validate projection and a load's fan-out share this definition,
    * so a fan-out keyed on it places each row by its validated values.
    */
  private def typed(spec: ColumnSpec, input: Column, excelDates: Boolean): Column =
    castExpr(cleaned(spec, input), spec.dataType, excelDates)

  /** The grain as validation types it, computed over a raw read's file
    * columns, in grain order: (name, value) per grain column. A grain
    * column whose file column is absent types a null, as validation does.
    */
  def typedGrain(raw: DataFrame, source: SourceConfig,
                 excelDates: Boolean): Seq[(String, Column)] = {
    val present = raw.columns.toSet
    source.grain.flatMap(g => source.columns.find(_.name == g)).map { s =>
      s.name -> typed(s, if (present.contains(s.fileAlias)) col(s.fileAlias)
                         else lit(null).cast(StringType), excelDates)
    }
  }

  /** Cast with try semantics plus the Excel-serial date path when enabled
    * (reference excel.py:62-84: serial days/fractional-seconds against the
    * 1899-12-30 epoch).
    */
  private def castExpr(raw: Column, dt: DataType, excelDates: Boolean): Column = {
    val direct = raw.try_cast(dt)
    if (!excelDates) direct
    else {
      // Numeric cells MUST take the serial path first: Spark would otherwise
      // "successfully" parse "45306" as the year 45306.
      val isSerial = raw.cast(StringType).rlike(NumericRe)
      dt match {
        case DateType =>
          val serial = raw.try_cast(DoubleType)
          when(isSerial && serial.isNotNull,
            date_add(ExcelEpochDays, floor(serial).cast(IntegerType)))
            .otherwise(direct)
        case TimestampType =>
          val serial = raw.try_cast(DoubleType)
          when(isSerial && serial.isNotNull,
            timestamp_seconds(lit(ExcelEpochSecs) + (serial * 86400.0).cast(LongType)))
            .otherwise(direct)
        case _ => direct
      }
    }
  }

  /** Build the full validation projection over a raw read.
    *
    * `withRawRecord = false` omits the `file_record_data` JSON payload —
    * a to_json over every pre-cast column that only DLQ records ever read.
    * The happy-path validation pass (clean files, the common case at scale)
    * skips it and caches a materially smaller frame; error files take a
    * second pass with payloads (and row numbers) enabled.
    */
  def compile(raw: DataFrame, source: SourceConfig, fileName: String,
              logId: Long, excelDates: Boolean = false,
              withRawRecord: Boolean = true): DataFrame =
    withFileConstants(rowLevel(raw, source, excelDates, withRawRecord),
      source, fileName, logId)

  /** The columns of [[compile]] that vary by row: every cast target column,
    * `file_row_number` when the input is numbered, the optional raw record,
    * `_errors`, the `_bucket` `raw` carries, `is_valid` and
    * `etl_row_hash`.
    */
  private def rowLevel(raw: DataFrame, source: SourceConfig,
                       excelDates: Boolean, withRawRecord: Boolean): DataFrame = {
    val specs = source.columns

    // P1 alias rename + projection: unmapped file columns drop here
    // (reference model_utils.py:6-13,26-33).
    val present = raw.columns.toSet
    // file_row_number is optional on input: the happy path validates an
    // unnumbered frame (no zipWithIndex pass) and only error files get
    // re-validated with real numbers for DLQ records
    val rowNum = if (present.contains(Reader.RowNumCol)) Seq("file_row_number") else Nil
    val carried = Seq(BucketLayout.BucketCol).filter(present).map(col)
    val aliased = raw.select(
      specs.map(s => (if (present.contains(s.fileAlias)) col(s.fileAlias)
                      else lit(null).cast(StringType)).as(s.name)) ++
        rowNum.map(col(Reader.RowNumCol).as(_)) ++ carried: _*)

    val rawRecord =
      if (withRawRecord) Seq(to_json(struct(specs.map(s => col(s.name)): _*)).as(RawRecordCol))
      else Seq.empty[Column]

    // Per-spec: cleaned -> cast, with every violated rule contributing one
    // error struct, concatenated in spec then rule order.
    val castCols = specs.map(s => typed(s, col(s.name), excelDates).as(s.name))
    val rules: Seq[Column] = specs.flatMap { s =>
      val c = cleaned(s, col(s.name))
      val casted = typed(s, col(s.name), excelDates)
      Seq(
        Some(rule(c.isNotNull && casted.isNull, s.name, c, "type_error",
          s"value is not a valid ${s.dataType.simpleString}")),
        Option.when(!s.nullable)(rule(c.isNull, s.name, c, "missing",
          "field required")),
        s.maxLength.map(n => rule(casted.cast(StringType).isNotNull &&
            length(casted.cast(StringType)) > n, s.name, c, "string_too_long",
          s"string should have at most $n characters")),
        Option.when(s.email)(rule(casted.isNotNull &&
            !casted.rlike(ColumnSpec.EmailRegex), s.name, c, "value_error",
          "value is not a valid email address")),
        s.check.map { case (label, fn) =>
          rule(casted.isNotNull && !fn(casted), s.name, c, "value_error", label)
        }).flatten
    }
    val errorsArr = (if (rules.isEmpty) NoErrors else concat(rules: _*)).as(ErrorsCol)

    val projected = aliased.select(
      castCols ++ rowNum.map(col) ++ rawRecord ++ Seq(errorsArr) ++ carried: _*)

    // V4 row hash over sorted model fields (applied to the CAST values; the
    // reference hashes the validated/coerced record, validator.py:110-112).
    val sortedFields = specs.map(_.name).sorted
    val hashInput = concat_ws("|",
      sortedFields.map(f => coalesce(col(f).cast(StringType), lit(""))): _*)

    projected
      .withColumn(IsValidCol, size(col(ErrorsCol)) === 0)
      .withColumn("etl_row_hash", xxhash64(hashInput))
  }

  /** [[rowLevel]] plus the per-file constants, in [[compile]]'s column
    * order: `file_row_number` (-1 on an unnumbered input),
    * `source_filename` and `file_load_log_id`.
    */
  private def withFileConstants(rows: DataFrame, source: SourceConfig,
                                fileName: String, logId: Long): DataFrame = {
    val rowNum =
      if (rows.columns.contains("file_row_number")) col("file_row_number")
      else lit(-1L).as("file_row_number")
    val rest = rows.columns.filterNot(c =>
      c == "file_row_number" || source.columns.exists(_.name == c))
    rows.select(source.columns.map(s => col(s.name)) ++ (rowNum +: rest.map(col)) ++
      Seq(lit(fileName).as("source_filename"), lit(logId).as("file_load_log_id")): _*)
  }

  /** Run validation, materialize the rows and count them in one action.
    *
    * The rows are materialized row-level ([[MaterializedRows]]: persisted
    * uncompressed, keeping their lineage, so a lost executor's blocks are
    * recomputed), not into the compressed columnar cache: building that
    * cache ran a dictionary-compressibility scan over every long and string
    * value, a third of the validate stage's executor time. The counts come
    * from an observation on the same action. The rows hold only
    * [[rowLevel]]'s columns; the per-file constants are projected over
    * them, so no row stores them and the plan's generated code is the same
    * for every file of a source. [[ValidationResult.release]] frees them.
    *
    * `hashedBy = Some((keys, n))` declares the materialized rows
    * hash-partitioned on `keys`, expressions over the output columns, into
    * `n` partitions, so the grain audit and the publish plan no second
    * Exchange. The caller vouches for it: `raw` must end in a hash
    * repartition into `n` partitions on expressions whose values `keys`
    * compute after validation (the typed grain, `_bucket`, the salt lane).
    *
    * The gate is `error_rate >= threshold` — the default 0.0 fails on ANY
    * error; a rate strictly below the threshold passes and still writes its
    * DLQ rows (reference validator.py:149-169, test_csv.py:100-131). On
    * failure the first 5 errors in file order are sampled for the message
    * (validator.py:131-138).
    */
  def validate(raw: DataFrame, source: SourceConfig, fileName: String,
               logId: Long, excelDates: Boolean = false,
               withRawRecord: Boolean = true,
               hashedBy: Option[(Seq[Column], Int)] = None): ValidationResult = {
    val obs = Observation()
    val (rows, release) = MaterializedRows(
      rowLevel(raw, source, excelDates, withRawRecord).observe(obs,
        count(lit(1)).as("total"),
        count(when(!col(IsValidCol), 1)).as("errors")),
      hashedBy)
    val counts = obs.get
    val all = withFileConstants(rows, source, fileName, logId)
    ValidationResult(all, all.filter(col(IsValidCol)), all.filter(!col(IsValidCol)),
      counts("total").asInstanceOf[Long], counts("errors").asInstanceOf[Long],
      release)
  }

  /** Throws [[ValidationThresholdExceededError]] when the gate trips. */
  def gate(result: ValidationResult, source: SourceConfig, fileName: String): Unit = {
    if (result.totalCount > 0 && result.errorRate >= source.validationErrorThreshold &&
        result.errorCount > 0) {
      val sample = result.dlq
        .orderBy("file_row_number")
        .select(col("file_row_number"), to_json(col(ErrorsCol)).as("errs"))
        .limit(5).collect()
        .map(r => s"row ${r.getLong(0)}: ${r.getString(1)}")
      throw ValidationThresholdExceededError(
        fileName, result.errorCount, result.totalCount,
        source.validationErrorThreshold, sample.toSeq)
    }
  }
}
