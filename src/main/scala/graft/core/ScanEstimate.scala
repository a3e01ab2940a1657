package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What a parquet file's footer says of it: its exact row count and its
  * row-group count.
  */
final case class ParquetFooter(rows: Long, rowGroups: Long)

/** Effective scan-parallelism estimate for a file or directory WITHOUT
  * converting a plan to an RDD (`df.rdd.getNumPartitions` forces full plan
  * conversion — measurably expensive on hot orchestration paths).
  *
  * Spark assigns each parquet ROW GROUP to exactly one task (byte-range
  * splits no-op unless they contain a group's midpoint), so for parquet the
  * real ceiling is the footer's row-group count — a 1 GB single-row-group
  * file scans as ONE task no matter the split config. For parquet files the
  * footer is read directly (one small ranged read per file, the same read
  * Spark's own scan planning performs); gzip is never splittable (one
  * task); anything else estimates one split per 128 MB.
  */
object ScanEstimate {

  private val SplitBytes = 128L << 20

  /** Upper bound on concurrent scan tasks for `path` (file or directory). */
  def effectiveTasks(conf: Configuration, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    var est = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) est += {
        if (name.endsWith(".gz")) 1L
        else if (name.endsWith(".parquet"))
          parquetFooter(conf, f.getPath).map(_.rowGroups)
            .getOrElse(math.max(1L, f.getLen / SplitBytes))
        else math.max(1L, f.getLen / SplitBytes)
      }
    }
    math.max(1L, est)
  }

  /** `df`, the scan of `path`, spread round-robin over the session's
    * parallelism when the file layout cannot spread it. A
    * single-row-group parquet file scans as ONE task no matter the split
    * config, and every narrow per-row stage behind it (validation,
    * shingling, vector math) would run single-threaded. Fires only when
    * [[isNarrow]]; multi-split data keeps its native, shuffle-free layout,
    * and an unreadable estimate leaves `df` untouched.
    */
  def fanOut(df: DataFrame, path: String): DataFrame =
    if (isNarrow(df.sparkSession, path))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** Whether a scan of `path` runs at most half the session's parallelism
    * in tasks: [[fanOut]]'s trigger. `rowGroups`, the count of a parquet
    * file whose footer the caller already read, stands in for
    * [[effectiveTasks]]; an unreadable estimate counts as wide.
    */
  def isNarrow(spark: SparkSession, path: String,
               rowGroups: Option[Long] = None): Boolean = {
    val sc = spark.sparkContext
    val par = sc.defaultParallelism
    val estTasks = rowGroups.map(math.max(1L, _)).getOrElse {
      try effectiveTasks(sc.hadoopConfiguration, path)
      catch { case _: java.io.IOException => par.toLong } // unknown: don't touch
    }
    estTasks * 2 <= par
  }

  /** The parquet footer of `file`; None when it cannot be read
    * (corrupt/not-actually-parquet — callers fall back, which keeps
    * orchestration error handling in the read stage where it belongs).
    */
  def parquetFooter(conf: Configuration, file: Path): Option[ParquetFooter] =
    readFooter(conf, file)(footerOf)

  /** [[parquetFooter]] with the schema `spark.read.parquet` would infer
    * for `file` alone, from the same footer read and by the same rule:
    * Spark's row metadata when the writer left it, else the parquet
    * schema converted under the session's settings. Spark's inference
    * reads the footer in a Spark job; this one reads it on the driver.
    * None when the footer cannot be read or its schema cannot be
    * converted (say, nanosecond timestamps without
    * `spark.sql.legacy.parquet.nanosAsLong`); the caller's own
    * `spark.read.parquet` then raises Spark's error for it.
    */
  def parquetFooterWithSchema(spark: SparkSession,
                              file: Path): Option[(ParquetFooter, StructType)] = {
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    readFooter(spark.sparkContext.hadoopConfiguration, file) { m =>
      (footerOf(m), ParquetFileFormat.readSchemaFromFooter(new Footer(file, m), converter))
    }
  }

  private def footerOf(m: ParquetMetadata): ParquetFooter = {
    val groups = m.getBlocks.asScala
    ParquetFooter(groups.iterator.map(_.getRowCount).sum, groups.size.toLong)
  }

  private def readFooter[T](conf: Configuration, file: Path)(f: ParquetMetadata => T): Option[T] =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try Some(f(reader.getFooter)) finally reader.close()
    } catch { case NonFatal(_) => None }
}
