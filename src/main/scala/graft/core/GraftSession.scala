package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Defaults chosen for correctness + 100TB-mindset even when testing on
  * local[N]:
  *  - UTC session timezone (timestamp parity with any external oracle and
  *    with the reference's TZ-aware DateTime -> UTC mapping,
  *    reference db_utils.py:65-86)
  *  - AQE on (runtime coalescing of shuffle partitions, skew-join splitting)
  *  - shuffle partitions sized to the local core count rather than the 200
  *    default; on a real cluster this is expected to be overridden to
  *    ~2-3x total cores
  *  - the `file:` scheme on [[NioLocalFileSystem]] / [[NioLocalFs]]
  *    (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`): without
  *    libhadoop the stock local filesystem forks a shell command for every
  *    file and directory it creates and every `FileContext.rename` (~260
  *    per 200k-row bulk load, milliseconds each).
  *    Every `FileSystem` and `FileContext` user reaches it through the
  *    session's Hadoop conf. `FileSystem`'s cache keys on scheme and user,
  *    not on the conf, so main code never builds a bare `Configuration` or
  *    calls `FileSystem.get` (a HarnessSpec source scan pins this).
  *  - [[GraftExtensions]]: the engine's SQL functions and optimizer rule,
  *    inherited by `newSession()` siblings
  */
object GraftSession {
  def localCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.max(4, Runtime.getRuntime.availableProcessors()).toString)

  def builder(master: String = s"local[$localCpus]",
              shufflePartitions: Int = -1): SparkSession.Builder = {
    val sp = if (shufflePartitions > 0) shufflePartitions
             else localCpus.toInt
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // nanosecond-precision parquet timestamps surface as epoch-nano longs
      // (Spark cannot represent TIMESTAMP(NANOS); the long preserves full
      // precision and ordering). Micro-precision files are unaffected and
      // read as TIMESTAMP[_NTZ]; query-side event-time arithmetic adapts to
      // whichever type arrives (sources/SchemaProbe).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .withExtensions(new GraftExtensions)
  }

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // object-store credentials from GRAFT_* env -> hadoopConfiguration (one
    // shared config for spark.read, streaming checkpoints, and FileOps)
    CloudCredentials.install(s)
    s
  }
}
