package graft.perfbench

import graft.core.SourceRegistry
import graft.queries.PipelineBench.OrdersSource
import graft.run.{CollectingNotifier, FileOps, Processor}
import graft.store.TableStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

class LedgerSpec extends AnyFunSuite {

  test("unionMs merges overlapping and nested intervals") {
    assert(Ledger.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))) == 25L)
    assert(Ledger.unionMs(Seq.empty) == 0L)
  }

  test("per-label job counts equal a bare listener's on a 1k-row clean parquet file") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("perfbench_ledger")
    try {
      val tmp = work.resolve("gen").toString
      spark.range(1000).select(
          (col("id") + 1).as("o_orderkey"),
          (col("id") % 100).as("o_custkey"),
          lit("O").as("o_orderstatus"),
          (col("id") + 1.5).as("o_totalprice"),
          to_timestamp(lit("2020-01-01 00:00:00")).as("o_orderdate"),
          lit("1-URGENT").as("o_orderpriority"))
        .coalesce(1).write.parquet(tmp)
      val drop = Files.createDirectories(work.resolve("drop"))
      val part = Files.list(Path.of(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, drop.resolve("orders_fixed.parquet"))

      // the reference count: every job the pipeline submits inside the
      // benchmark's scope, by description, seen by a bare listener
      val bare = new ConcurrentLinkedQueue[String]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties.getProperty("spark.jobGroup.id") == "perfbench")
            bare.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
      })
      val ledger = new Ledger(Layers.pipelineLabel)
      spark.sparkContext.addSparkListener(ledger)

      val proc = new Processor(spark, new SourceRegistry(Seq(OrdersSource)),
        new TableStore(spark, work.resolve("wh").toString),
        new FileOps(spark.sparkContext.hadoopConfiguration,
          work.resolve("archive").toString, work.resolve("dup").toString),
        new CollectingNotifier, drop.toString)
      val r = Main.scoped(spark, "perfbench")(
        proc.processFile(drop.resolve("orders_fixed.parquet").toString))
      assert(r.exists(x => x.success && x.publishInserts == 1000))
      Ledger.drain(spark)

      val descs = bare.asScala.toSeq
      val validate = descs.count(_.startsWith("pipeline:validate "))
      assert(validate > 0)
      assert(ledger.metrics("operators.validate")("jobs") == validate)
      Layers.PipelineLabels.foreach { l =>
        val want = descs.count(d => Layers.ByDescription.get(d.takeWhile(_ != ' '))
          .getOrElse("unlabeled") == l)
        assert(ledger.metrics(l)("jobs") == want, s"label $l")
      }
      assert(Layers.PipelineLabels.map(ledger.metrics(_)("jobs")).sum == descs.size)
      // a clean file's rows go through validation once: the validate jobs
      // read each of the 1000 rows from the file (plus a few cached batches)
      val validated = ledger.metrics("operators.validate")("input_records")
      assert(validated >= 1000 && validated < 2000, s"validate read $validated records")
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
  }
}
