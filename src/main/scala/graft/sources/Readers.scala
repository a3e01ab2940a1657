package graft.sources

import graft.core._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A raw read result: file columns as they appear (lowercased names).
  *
  * `df` has NO row numbers — the happy path (no validation errors) never
  * pays for them. `numbered` assigns `_file_row_number` in file order
  * starting at the format's starting row (reference: validator.py:124 +
  * per-format starting rows, csv.py:34-37, excel.py:39-42, json.py:30-33,
  * parquet.py:26-29) via an extra zipWithIndex pass; the runner only calls
  * it when DLQ records actually need numbering. Readers whose options
  * already force numbering (CSV skip_rows) return a pre-numbered `df` and
  * an identity `numbered`.
  *
  * `footer` is a parquet file's footer as the reader read it, so later
  * stages need not open it again.
  */
final case class RawRead(df: DataFrame, startingRowNumber: Int,
                         numbered: () => DataFrame,
                         footer: Option[ParquetFooter] = None)

/** File readers. Each returns the file's rows with *no type inference* —
  * CSV/Excel as all-strings, JSON flattened to scalars, Parquet native — so
  * that type failures become row-level DLQ records during validation rather
  * than scan-level nulls (SURVEY §1.3).
  *
  * Gzip (`.csv.gz`, `.json.gz`) is transparent: Hadoop's codec layer
  * decompresses by extension, which replaces the reference's explicit
  * gzip.open wrapping (reference src/pipeline/read/base.py:30-40).
  */
trait Reader {
  def sourceType: String
  def read(spark: SparkSession, path: String, source: SourceConfig): RawRead

  /** Lowercase the column names and verify required aliases are present,
    * case-insensitively (reference src/pipeline/read/base.py:42-64). Extra
    * file columns are kept here; the validator's projection drops them
    * (reference model_utils.py:26-33 drops unmapped keys).
    */
  protected def checkColumns(df: DataFrame, source: SourceConfig,
                             fileName: String): DataFrame = {
    // strip a UTF-8 BOM leaking into the first header cell (Java trim
    // doesn't remove U+FEFF) so aliases still match
    val lowered = df.toDF(df.columns.toIndexedSeq.map(
      _.replace("\uFEFF", "").toLowerCase.trim): _*)
    val actual = lowered.columns.toSet
    val missing = source.requiredAliases.filterNot(actual.contains)
    if (missing.nonEmpty) throw MissingColumnsError(fileName, missing)
    lowered
  }
}

object Reader {
  val RowNumCol = "_file_row_number"

  /** Assign file-order row numbers. zipWithIndex indexes partitions in file
    * order (each split covers a contiguous byte range), so for a single-file
    * read this reproduces record order. Runs distributed; no driver collect.
    */
  def withRowNumbers(df: DataFrame, startingAt: Int): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add(StructField(RowNumCol, LongType, nullable = false))
    val indexed = df.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (idx + startingAt))
    }
    spark.createDataFrame(indexed, schema)
  }
}

/** CSV reader (reference src/pipeline/read/csv.py:45-84): header detection,
  * delimiter/encoding options, skip_rows, all-strings schema.
  */
final class CsvReader extends Reader {
  val sourceType = "csv"

  def read(spark: SparkSession, path: String, source: SourceConfig): RawRead = {
    val opts = source.formatOptions match {
      case c: CsvOptions => c
      case _ => CsvOptions()
    }
    val fileName = FileUtils.bareName(path)

    // Driver-side header probe (reference csv.py:49-61 raises
    // MissingHeaderError when fieldnames are absent or all blank).
    val headerLine = HeaderProbe.firstLine(spark, path, opts.encoding)
    if (headerLine.forall(_.trim.isEmpty)) throw MissingHeaderError(fileName)
    val headerCells = headerLine.get.split(java.util.regex.Pattern.quote(opts.delimiter), -1)
    if (headerCells.forall(_.trim.isEmpty)) throw MissingHeaderError(fileName)

    var df = spark.read
      .option("header", "true")
      .option("sep", opts.delimiter)
      .option("encoding", opts.encoding)
      .option("mode", "PERMISSIVE")
      .option("inferSchema", "false") // all strings: casts happen in validation
      .csv(path)
    df = checkColumns(df, source, fileName)

    if (opts.skipRows > 0) {
      // skip_rows needs file order, so this path is always numbered:
      // data rows number from 2 (after the header) and the first
      // skip_rows are dropped — the first kept row carries 2 + skip_rows,
      // matching the reference's starting_row_number (csv.py:34-37).
      val numbered = Reader.withRowNumbers(df, 2)
        .filter(col(Reader.RowNumCol) >= lit(2 + opts.skipRows))
      if (numbered.isEmpty) throw NoDataInFileError(fileName)
      RawRead(numbered, 2 + opts.skipRows, () => numbered)
    } else {
      if (df.isEmpty) throw NoDataInFileError(fileName)
      RawRead(df, 2, () => Reader.withRowNumbers(df, 2))
    }
  }
}

/** JSON reader (reference src/pipeline/read/json.py:73-126): navigate the
  * configured array_path, explode, then recursively flatten nested structs
  * with `_` separators and lowercase keys (json.py:41-71). Arrays of structs
  * flatten with an index suffix; scalar arrays are stringified — matching the
  * reference so that model aliases resolve identically.
  */
final class JsonReader extends Reader {
  val sourceType = "json"

  def read(spark: SparkSession, path: String, source: SourceConfig): RawRead = {
    val opts = source.formatOptions match {
      case j: JsonOptions => j
      case _ => JsonOptions()
    }
    val fileName = FileUtils.bareName(path)

    val raw = spark.read.option("multiLine", "true").json(path)
    if (raw.columns.sameElements(Array("_corrupt_record")) || raw.columns.isEmpty)
      throw NoDataInFileError(fileName)

    // Navigate the dotted array path, exploding at the array level.
    val records: DataFrame = opts.arrayPath match {
      case Some(p) =>
        val cursor = p.split('.').foldLeft(raw) { (df, seg) =>
          // A user file missing the configured path is a malformed-file
          // condition, not an internal error: route it as NoDataInFileError
          // so email-notification semantics match other bad-file cases
          // (reference json.py raises NoDataInFileError when the path
          // yields nothing).
          if (!df.schema.fieldNames.contains(seg))
            throw NoDataInFileError(fileName,
              s"configured array_path segment '$seg' (of '$p') not present")
          df.schema(df.schema.fieldIndex(seg)).dataType match {
            case _: ArrayType =>
              df.select(explode(col(seg)).as(seg)).select(col(s"$seg.*"))
            case _: StructType => df.select(col(s"$seg.*"))
            case _ => df.select(col(seg))
          }
        }
        cursor
      case None =>
        raw.schema.fields match {
          // top-level array document: spark.read.json already explodes it
          case _ => raw
        }
    }

    val flattened = JsonFlatten(records)
    if (flattened.isEmpty) throw NoDataInFileError(fileName)
    val checked = checkColumns(flattened, source, fileName)
    RawRead(checked, 1, () => Reader.withRowNumbers(checked, 1))
  }
}

/** Recursive struct flatten (reference json.py:41-71): keys lowercase, `_`
  * separator; array-of-struct columns get index suffixes (bounded by the max
  * observed length); scalar arrays stringify via to_json.
  */
object JsonFlatten {
  def apply(df: DataFrame): DataFrame = {
    var out = df
    var done = false
    while (!done) {
      out.schema.fields.find(f => f.dataType.isInstanceOf[StructType] ||
                                  f.dataType.isInstanceOf[ArrayType]) match {
        case None => done = true
        case Some(f) => out = flattenOne(out, f)
      }
    }
    out.toDF(out.columns.toIndexedSeq.map(_.toLowerCase): _*)
  }

  private def flattenOne(df: DataFrame, field: StructField): DataFrame =
    field.dataType match {
      case st: StructType =>
        val others = df.columns.toIndexedSeq.filterNot(_ == field.name).map(col)
        val kids = st.fields.map(k =>
          col(s"`${field.name}`.`${k.name}`").as(s"${field.name}_${k.name}"))
        df.select(others ++ kids: _*)
      case ArrayType(_: StructType, _) =>
        // index-suffixed flatten of list-of-dicts (reference json.py:55-63);
        // bounded by the max array length in this file. max() is null when
        // the column is null in every row — treat as empty, don't NPE.
        val maxLen = Option(df.agg(max(size(col(field.name)))).head().get(0))
          .map(_.asInstanceOf[Number].intValue).getOrElse(0).max(0)
        val others = df.columns.toIndexedSeq.filterNot(_ == field.name).map(col)
        val kids = (0 until maxLen).map(i =>
          col(field.name).getItem(i).as(s"${field.name}_$i"))
        df.select(others ++ kids: _*)
      case ArrayType(_, _) =>
        // scalar list -> stringified (reference json.py:64-66)
        df.withColumn(field.name, to_json(col(field.name)))
      case _ => df
    }
}

/** Parquet reader (reference src/pipeline/read/parquet.py:31-86): native read
  * + emptiness/schema checks. The footer, one small ranged read on the
  * driver, gives the schema Spark would infer, so the read plans no
  * inference job, and the row count, so emptiness needs no probe job. A
  * footer that cannot be read leaves both to Spark (`spark.read.parquet`
  * and a one-row probe), which then raises its own error for the file.
  */
final class ParquetReader extends Reader {
  val sourceType = "parquet"

  def read(spark: SparkSession, path: String, source: SourceConfig): RawRead = {
    val fileName = FileUtils.bareName(path)
    val footer = ScanEstimate.parquetFooterWithSchema(spark, new Path(path))
    val df = footer.fold(spark.read.parquet(path)) { case (_, schema) =>
      spark.read.schema(schema).parquet(path) }
    if (df.schema.isEmpty) throw MissingHeaderError(fileName)
    if (footer.fold(df.isEmpty)(_._1.rows == 0)) throw NoDataInFileError(fileName)
    val checked = checkColumns(df, source, fileName)
    RawRead(checked, 1, () => Reader.withRowNumbers(checked, 1), footer.map(_._1))
  }
}

/** ORC reader: native columnar read + the same emptiness/schema checks as
  * parquet. The reference's roadmap stops at avro (reference todo.txt:1-2);
  * ORC completes the engine's coverage of the mainstream columnar container
  * formats — Spark's built-in vectorized ORC scan gives predicate pushdown
  * and column pruning for free, same as parquet.
  */
final class OrcReader extends Reader {
  val sourceType = "orc"

  def read(spark: SparkSession, path: String, source: SourceConfig): RawRead = {
    val fileName = FileUtils.bareName(path)
    val df =
      try spark.read.orc(path)
      catch {
        // a non-ORC payload under .orc fails schema inference — that's the
        // malformed-header condition, emailable like every bad-file case
        case _: org.apache.spark.SparkException => throw MissingHeaderError(fileName)
        case e: RuntimeException
            if Option(e.getMessage).exists(_.contains("Could not read footer")) =>
          throw MissingHeaderError(fileName)
      }
    if (df.schema.isEmpty) throw MissingHeaderError(fileName)
    if (df.isEmpty) throw NoDataInFileError(fileName)
    val checked = checkColumns(df, source, fileName)
    RawRead(checked, 1, () => Reader.withRowNumbers(checked, 1))
  }
}

/** Driver-side first-line probe for header checks; goes through the Hadoop
  * codec factory so `.gz` files probe transparently.
  */
object HeaderProbe {
  def firstLine(spark: SparkSession, path: String, encoding: String): Option[String] = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val factory = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      spark.sparkContext.hadoopConfiguration)
    val rawIn = fs.open(hPath)
    val in = Option(factory.getCodec(hPath))
      .map(_.createInputStream(rawIn)).getOrElse(rawIn)
    try {
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, encoding))
      Option(reader.readLine())
    } finally in.close()
  }
}

/** Extension -> reader dispatch (reference src/pipeline/read/factory.py:13-48). */
object ReaderFactory {
  private val readers: Map[String, Reader] = Map(
    "csv" -> new CsvReader,
    "json" -> new JsonReader,
    "parquet" -> new ParquetReader,
    "excel" -> new ExcelReader,
    "avro" -> new AvroReader,
    "orc" -> new OrcReader)

  def readerFor(fileName: String): Reader = {
    val ext = FileUtils.extensionOf(fileName)
    FileUtils.sourceTypeOf(fileName) match {
      case Some(t) => readers(t)
      case None => throw UnsupportedFileTypeError(fileName, ext)
    }
  }
}
