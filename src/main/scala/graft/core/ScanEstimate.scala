package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

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
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(ParquetFooter(reader.getRecordCount, reader.getRowGroups.size.toLong))
      finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }
}
