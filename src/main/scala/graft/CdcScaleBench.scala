package graft

import graft.core.{ColumnSpec, GraftSession, SourceConfig}
import graft.tools.Gauge
import org.apache.spark.sql.functions._

/** CDC-read scale rehearsal: measure [[graft.store.TableStore
  * .snapshotDelta]]'s claim — "what changed since the pin" costs
  * O(buckets rewritten since the pin), not O(table) — against the naive
  * full two-sided diff on the same big table.
  *
  * Shape: a `rows`-row merge-published table at the full 256-bucket
  * layout (the 100 TB layout, scaled down), a snapshot pin, then one
  * small delta publish past it (`deltaKeys` updates + `deltaKeys`
  * inserts). The pinned-vs-current ownership maps then disagree on ~the
  * delta's buckets only, so the CDC feed full-outer-joins that sliver of
  * both states while the naive diff reads both states whole. Both walls
  * and both input-ROW counts are reported (task-metrics listener, the
  * `StreamScaleBench` axis; rows because `recordsRead` is exact while
  * `bytesRead` is blind to the parquet vectored-IO data path on local
  * FS): the rows ratio is the honest headline — walls at this size are
  * dominated by fixed stage latency. The
  * degenerate case is also the honest caveat: a pin followed by heavy
  * UNIFORM churn rewrites every bucket and the feed correctly degrades
  * to the full diff, because most of the table really did change — the
  * same trade the bucketed COW merge itself makes.
  *
  * Usage: `CdcScaleBench <workDir> [rows=3000000] [deltaKeys=30]`;
  * prints one JSON line `{"metric":"cdc_scale",...}`.
  */
object CdcScaleBench {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val rows = args.lift(1).map(_.toLong).getOrElse(3000000L)
    val deltaKeys = args.lift(2).map(_.toInt).getOrElse(30)
    val spark = GraftSession.getOrCreate()
    val wh = s"$work/wh"
    val p = new org.apache.hadoop.fs.Path(wh)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

    val source = SourceConfig(
      name = "cdc", filePattern = "cdc*.parquet", sourceType = "parquet",
      columns = Seq(ColumnSpec.long("id", nullable = false),
        ColumnSpec.string("v")),
      tableName = "cdc", grain = Seq("id"))
    // ~200-char deterministic payload per row so input bytes measure real
    // column I/O, not parquet framing
    def payload(idCol: org.apache.spark.sql.Column, salt: String) =
      concat((1 to 6).map(i => md5(concat_ws("#", idCol, lit(salt),
        lit(i)))): _*)
    def staged(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("etl_row_hash", xxhash64(concat_ws("|", col("id"), col("v"))))
      .withColumn("source_filename", lit("cdc.parquet"))
      .withColumn("file_load_log_id", lit(1L))
    val store = new graft.store.TableStore(spark, wh, publishBuckets = 256)

    val base = staged(spark.range(rows).select(col("id"),
      payload(col("id"), "base").as("v")))
    val tBase0 = System.nanoTime()
    store.publish("cdc", base, source, new java.sql.Timestamp(1000L))
    val baseSec = (System.nanoTime() - tBase0) / 1e9
    store.snapshot("cdc", "t0")

    // the delta: deltaKeys re-written rows + deltaKeys brand-new keys
    val keys = spark.range(deltaKeys.toLong)
      .select((col("id") * (rows / deltaKeys)).as("id"))
    val delta = staged(
      keys.select(col("id"), payload(col("id"), "upd").as("v"))
        .unionByName(keys.select((col("id") + rows * 2).as("id"),
          payload(col("id"), "ins").as("v"))))
    val tDelta0 = System.nanoTime()
    store.publish("cdc", delta, source, new java.sql.Timestamp(2000L))
    val deltaSec = (System.nanoTime() - tDelta0) / 1e9

    // input rows measure the pruning claim directly: the pruned feed may
    // only read the changed buckets' rows
    val gauge = new Gauge(spark)

    // O(1) metadata answer
    val (changed, metaSec, _) = gauge.measured {
      store.snapshotChangedBuckets("cdc", "t0").get
    }
    // the pruned CDC feed
    val (feed, cdcSec, cdcKrows) = gauge.measured {
      store.snapshotDelta("cdc", "t0").get
        .groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // the naive full two-sided diff (what a consumer without the
    // ownership maps pays): both states whole, same join + hash compare
    val (naive, naiveSec, naiveKrows) = gauge.measured {
      val o = store.readSnapshot("cdc", "t0").get
        .select(col("id"), col("etl_row_hash").as("_o"))
      val n = store.readIfExists("cdc").get
        .select(col("id"), col("etl_row_hash").as("_n"))
      n.join(o, Seq("id"), "full_outer")
        .filter(col("_o").isNull || col("_n").isNull || col("_o") =!= col("_n"))
        .select(when(col("_o").isNull, "insert")
          .when(col("_n").isNull, "delete").otherwise("update").as("change"))
        .groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    require(feed == naive,
      s"pruned feed $feed disagrees with the naive diff $naive")

    // the measured CAVEAT: a pin followed by a delta big enough to touch
    // ~every bucket (uniform hash spread) degrades the feed to the full
    // diff — correctly, because most buckets really did change. Pin the
    // current state, publish a 100x delta past it, re-measure.
    store.snapshot("cdc", "t1")
    val bigN = deltaKeys * 100
    val bigKeys = spark.range(bigN.toLong)
      .select((col("id") * (rows / bigN) + 1L).as("id"))
    store.publish("cdc",
      staged(bigKeys.select(col("id"), payload(col("id"), "upd2").as("v"))),
      source, new java.sql.Timestamp(3000L))
    val (big, bigSec, bigKrows) = gauge.measured {
      store.snapshotDelta("cdc", "t1").get
        .groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val bigChanged = store.snapshotChangedBuckets("cdc", "t1").get.size
    require(big.getOrElse("update", 0L) == bigN.toLong,
      s"big-delta feed $big expected $bigN updates")

    // takedown at scale: deleteRows must read and rewrite ONLY the keys'
    // buckets — the CDC read's bucket economics on the WRITE side. A
    // fresh pin lets the ownership diff independently confirm the blast
    // radius, and the input-byte gauge shows the delete never scanned
    // the table.
    store.snapshot("cdc", "t2")
    val delKeys = spark.range(deltaKeys.toLong)
      .select((col("id") * (rows / deltaKeys) + 2L).as("id"))
    val (deleted, delSec, delKrows) = gauge.measured {
      store.deleteRows("cdc", delKeys, Seq("id"))
    }
    val delChanged = store.snapshotChangedBuckets("cdc", "t2").get.size
    require(deleted == deltaKeys.toLong,
      s"takedown deleted $deleted rows, expected $deltaKeys")

    println(f"""{"metric":"cdc_scale","unit":"sec","rows":$rows,""" +
      f""""delta_keys":$deltaKeys,"base_publish_sec":$baseSec%.1f,""" +
      f""""delta_publish_sec":$deltaSec%.1f,""" +
      f""""changed_buckets":${changed.size},"total_buckets":256,""" +
      f""""meta_sec":$metaSec%.3f,""" +
      f""""cdc_sec":$cdcSec%.2f,"cdc_input_krows":$cdcKrows%.1f,""" +
      f""""naive_sec":$naiveSec%.2f,"naive_input_krows":$naiveKrows%.1f,""" +
      f""""inserts":${feed.getOrElse("insert", 0L)},""" +
      f""""updates":${feed.getOrElse("update", 0L)},""" +
      f""""io_ratio":${naiveKrows / math.max(cdcKrows, 0.1)}%.1f,""" +
      f""""big_delta_keys":$bigN,"big_changed_buckets":$bigChanged,""" +
      f""""big_cdc_sec":$bigSec%.2f,"big_cdc_input_krows":$bigKrows%.1f,""" +
      f""""forget_keys":$deltaKeys,"forget_deleted":$deleted,""" +
      f""""forget_sec":$delSec%.2f,"forget_input_krows":$delKrows%.1f,""" +
      f""""forget_changed_buckets":$delChanged}""")
    spark.stop()
  }
}
