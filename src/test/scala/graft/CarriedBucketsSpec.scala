package graft

import graft.operators.Validator
import graft.queries.PipelineBench.OrdersSource
import graft.run.{CollectingNotifier, FileOps, Processor}
import graft.store.{BucketLayout, TableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** A parquet load into an empty target buckets its rows at the fan-out and
  * carries `_bucket` to the first publish. The table
  * it writes must be the one a plain publish of the same rows writes, and
  * a load that cannot carry (a lost first-publish race, a file that does
  * not fan out) must still land every row in its bucket.
  */
class CarriedBucketsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** [[OrdersSource]]-shaped rows with keys `from until to`. */
  private def orders(from: Long, to: Long): DataFrame = spark.range(from, to).select(
    col("id").as("o_orderkey"), (col("id") % 7).as("o_custkey"),
    when(col("id") % 3 === 0, "O").otherwise("F").as("o_orderstatus"),
    (col("id") + 1.5).as("o_totalprice"),
    timestamp_seconds(col("id") * 86400L).as("o_orderdate"),
    lit("1-URGENT").as("o_orderpriority"))

  /** `df` as one parquet file under `dir`, named `name`. */
  private def parquetFile(df: DataFrame, dir: Path, name: String,
                          rowGroupBytes: Option[Int] = None): Path = {
    val tmp = Files.createTempDirectory("graft_pq").resolve("out")
    rowGroupBytes.foldLeft(df.coalesce(1).write)((w, b) =>
      w.option("parquet.block.size", b.toString)).parquet(tmp.toString)
    val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(name))
  }

  private def processor(work: Path, store: TableStore, pool: Int = 1): Processor =
    new Processor(spark, new graft.core.SourceRegistry(Seq(OrdersSource)), store,
      new FileOps(spark.sparkContext.hadoopConfiguration,
        work.resolve("archive").toString, work.resolve("dup").toString),
      new CollectingNotifier, Files.createDirectories(work.resolve("drop")).toString,
      filePoolSize = pool)

  /** Each bucket's (key, row hash) pairs, after checking that every row of
    * a bucket hashes into it.
    */
  private def bucketRows(store: TableStore): Map[Int, Set[(Long, Long)]] = {
    val name = OrdersSource.tableName
    val n = store.bucketCount(name).get
    (0 until n).map { k =>
      val rows = store.readBuckets(name, Set(k)).map(_.select(
        col("o_orderkey"), col("etl_row_hash"),
        BucketLayout.bucketOf(Seq(col("o_orderkey")), n).as("b"))
        .collect().toSeq).getOrElse(Nil)
      assert(rows.forall(_.getLong(2) == k), s"bucket $k holds rows of other buckets")
      k -> rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    }.toMap
  }

  test("a load's carried buckets write the per-bucket rows a plain publish writes") {
    val conf = spark.conf
    val before = conf.get("spark.sql.shuffle.partitions")
    // 4 shuffle partitions: one lane per bucket; 64: 4 lanes for 16 buckets
    for (p <- Seq(4, 64)) try {
      conf.set("spark.sql.shuffle.partitions", p.toString)
      val work = Files.createTempDirectory("graft_carry")
      val drop = Files.createDirectories(work.resolve("drop"))
      val file = parquetFile(orders(0, 5000), drop, "orders_carry.parquet")
      val copy = Files.copy(file, work.resolve("orders_carry.parquet"))

      val loaded = new TableStore(spark, work.resolve("wh_load").toString)
      val (r, c) = PlanCapture(spark)(processor(work, loaded).processFile(file.toString).get)
      assert(r.success && r.publishInserts == 5000, r.toString)
      // the carry path ran: the publish wrote with no shuffle
      val publish = c.nodesOf("pipeline:publish")
      assert(publish.nonEmpty && publish.forall(!_.exists(_.contains("Exchange"))),
        s"p=$p: publish shuffled: $publish")

      val plain = new TableStore(spark, work.resolve("wh_plain").toString)
      val vr = Validator.validate(spark.read.parquet(copy.toString), OrdersSource,
        "orders_carry.parquet", 1L)
      try plain.publish(OrdersSource.tableName, Validator.staged(vr.valid), OrdersSource,
        new java.sql.Timestamp(0L), Some(vr.validCount))
      finally vr.release()

      assert(loaded.bucketCount(OrdersSource.tableName) == plain.bucketCount(OrdersSource.tableName))
      val (a, b) = (bucketRows(loaded), bucketRows(plain))
      assert(a.values.map(_.size).sum == 5000)
      assert(a == b, s"p=$p: per-bucket rows differ")
    } finally conf.set("spark.sql.shuffle.partitions", before)
  }

  test("two parquet files load concurrently into one empty target: no row lost") {
    val work = Files.createTempDirectory("graft_race")
    val drop = Files.createDirectories(work.resolve("drop"))
    // Both fan out for an empty target, with different layouts: 3 rows size
    // 16 buckets, ~81k rows 32. The large file's keys avoid the small
    // file's buckets (under 16 buckets, and so under 32 too), so whichever
    // publishes second finds none of its buckets in the table, takes the
    // first-publish projection that keeps its carried `_bucket`, and must
    // recompute it for the table's bucket count.
    val small = orders(0, 3)
    val smallBuckets = small.select(BucketLayout.bucketOf(Seq(col("o_orderkey")), 16))
      .collect().map(_.getLong(0)).toSeq
    val large = orders(100000, 200000).filter(
      !BucketLayout.bucketOf(Seq(col("o_orderkey")), 16).isin(smallBuckets: _*))
    val largeRows = large.count()
    assert(largeRows > 16 * TableStore.RowsPerBucket, s"$largeRows rows size 16 buckets")
    parquetFile(small, drop, "orders_small.parquet")
    parquetFile(large, drop, "orders_large.parquet")
    val store = new TableStore(spark, work.resolve("wh").toString)
    val s = processor(work, store, pool = 2).processAll()
    assert(s.succeeded == 2 && s.failed == 0, s.toString)
    assert(s.results.map(r => r.fileName -> r.publishInserts).toMap ==
      Map("orders_small.parquet" -> 3L, "orders_large.parquet" -> largeRows), s.toString)
    assert(s.results.forall(_.publishUpdates == 0), s.toString)
    val keys = bucketRows(store).values.flatten.map(_._1).toSeq
    assert(keys.size == largeRows + 3 && keys.distinct.size == keys.size)
  }

  test("a many-row-group parquet file does not fan out, and a grain " +
       "duplicated across its row groups fails the grain audit") {
    val work = Files.createTempDirectory("graft_groups")
    val drop = Files.createDirectories(work.resolve("drop"))
    // key 0 twice: in the first row group and in the last
    val file = parquetFile(orders(0, 20000).union(orders(0, 1)), drop,
      "orders_groups.parquet", rowGroupBytes = Some(16 << 10))
    val groups = graft.core.ScanEstimate.parquetFooter(
      spark.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(file.toString))
      .get.rowGroups
    assert(groups * 2 > spark.sparkContext.defaultParallelism, s"$groups row groups")
    val store = new TableStore(spark, work.resolve("wh").toString)
    val (r, c) = PlanCapture(spark)(processor(work, store).processFile(file.toString).get)
    assert(!r.success && r.errorName.contains("GrainValidationError"), r.toString)
    val validate = c.nodesOf("pipeline:validate")
    assert(validate.nonEmpty && validate.forall(!_.exists(_.contains("Exchange"))),
      s"validate fanned out: $validate")
  }

  test("the custom audit's {table} holds the staged columns, not the carried layout") {
    val staged = (OrdersSource.columns.map(_.name) ++
      Seq("etl_row_hash", "source_filename", "file_load_log_id")).sorted
    val source = OrdersSource.copy(auditQuery = Some(
      s"""SELECT MIN(CASE WHEN array_join(array_sort(json_object_keys(to_json(struct(*)))), ',')
         |= '${staged.mkString(",")}' THEN 1 ELSE 0 END) AS staged_columns
         |FROM {table}""".stripMargin))
    val work = Files.createTempDirectory("graft_audit_cols")
    val drop = Files.createDirectories(work.resolve("drop"))
    val file = parquetFile(orders(0, 500), drop, "orders_audit.parquet")
    val store = new TableStore(spark, work.resolve("wh").toString)
    val proc = new Processor(spark, new graft.core.SourceRegistry(Seq(source)), store,
      new FileOps(spark.sparkContext.hadoopConfiguration,
        work.resolve("archive").toString, work.resolve("dup").toString),
      new CollectingNotifier, drop.toString)
    val (r, c) = PlanCapture(spark)(proc.processFile(file.toString).get)
    assert(r.success && r.errorName.isEmpty, r.toString)
    // the carry path ran: the grain audit grouped on the carried bucket
    assert(c.plans.exists { case (d, p) => d.startsWith("pipeline:audit") &&
      PlanCapture.flatten(p).exists(_.simpleString.contains(BucketLayout.BucketCol)) },
      "no audit plan saw the carried bucket")
  }

  test("the salt lane is a key only when a bucket has more than one lane") {
    val grain = Seq(col("o_orderkey"))
    assert(BucketLayout.of(64, 64, 4) == BucketLayout(64, 1, 4))
    assert(BucketLayout.of(64, 64, 4).keys(grain) == Seq(col(BucketLayout.BucketCol)))
    assert(BucketLayout.of(16, 16, 64) == BucketLayout(16, 4, 64))
    assert(BucketLayout.of(16, 16, 64).keys(grain) ==
      Seq(col(BucketLayout.BucketCol), BucketLayout.laneOf(grain, 4)))
    assert(BucketLayout.of(16, 3, 8) == BucketLayout(16, 2, 6))
  }
}
