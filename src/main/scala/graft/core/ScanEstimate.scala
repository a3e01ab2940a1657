package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}

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
          parquetRowGroups(conf, f.getPath)
            .getOrElse(math.max(1L, f.getLen / SplitBytes))
        else math.max(1L, f.getLen / SplitBytes)
      }
    }
    math.max(1L, est)
  }

  /** `df`, the scan of `path`, spread over the session's parallelism when
    * the file layout cannot spread it. A single-row-group parquet file
    * scans as ONE task no matter the split config, and every narrow
    * per-row stage behind it (validation, shingling, vector math) would run
    * single-threaded. Fires only when [[effectiveTasks]] is at most half
    * the parallelism; multi-split data keeps its native, shuffle-free
    * layout, and an unreadable estimate leaves `df` untouched.
    *
    * With `keys` the fan-out hash-partitions on them: a round-robin
    * repartition first sorts every row inside the single scan task (Spark
    * sorts before a round-robin repartition so retries are deterministic),
    * the hash needs no sort, and the output stays clustered by the keys.
    * Rows sharing one key value land in one task. Without `keys` it is
    * round-robin.
    */
  def fanOut(df: DataFrame, path: String, keys: Seq[Column] = Nil): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val par = sc.defaultParallelism
    val estTasks =
      try effectiveTasks(sc.hadoopConfiguration, path)
      catch { case _: java.io.IOException => par.toLong } // unknown: don't touch
    if (estTasks * 2 > par) df
    else if (keys.isEmpty) df.repartition(par)
    else df.repartition(par, keys: _*)
  }

  /** Row-group count from the parquet footer; None when the footer cannot
    * be read (corrupt/not-actually-parquet — the caller's length fallback
    * keeps orchestration error handling in the read stage where it
    * belongs).
    */
  private def parquetRowGroups(conf: Configuration, file: Path): Option[Long] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(reader.getRowGroups.size.toLong)
      finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }
}
