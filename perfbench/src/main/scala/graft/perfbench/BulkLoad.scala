package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.SourceRegistry
import graft.queries.PipelineBench.OrdersSource
import graft.run.{CollectingNotifier, FileOps, Processor}
import graft.store.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** bulk_load: one large clean parquet file through `Processor.processFile`
  * into a fresh, empty warehouse, one client.
  */
final class BulkLoad(spark: SparkSession, data: Path, work: Path) extends Workload {
  private val expect = new ObjectMapper().readTree(data.resolve("expect.json").toFile)
  private val file = data.resolve(expect.get("file").asText)
  private val rows = expect.get("rows").asLong
  private val cents = expect.get("price_cents").asLong
  private val fileBytes = Files.size(file)
  private var seq = 0

  def labelOf(p: java.util.Properties): Option[String] = Layers.pipelineLabel(p)

  /** A fresh `work/<name>-<n>/drop` holding a copy of `src`, and a
    * processor over that directory's drop, warehouse, archive and
    * duplicates dirs.
    */
  private def fresh(name: String, src: Path): (Path, Path, Processor) = {
    seq += 1
    val root = Files.createDirectories(work.resolve(s"$name-$seq"))
    val dst = Files.createDirectories(root.resolve("drop")).resolve(src.getFileName.toString)
    Files.copy(src, dst)
    val files = new FileOps(spark.sparkContext.hadoopConfiguration,
      root.resolve("archive").toString, root.resolve("duplicates").toString)
    (root, dst, new Processor(spark, new SourceRegistry(Seq(OrdersSource)),
      new TableStore(spark, root.resolve("wh").toString), files,
      new CollectingNotifier, root.resolve("drop").toString))
  }

  def setup(): Unit = {
    // warm-up: JIT, codegen and parquet machinery on two full-size loads
    // of a disjoint file (the first two loads in a JVM run up to 1.5x slower)
    (1 to 2).foreach { _ =>
      val (root, dst, proc) = fresh("warm", data.resolve("orders_warm.parquet"))
      proc.processFile(dst.toString)
      Main.deleteTree(root)
    }
  }

  def iterate(rec: Rec): Unit = {
    val (root, dst, proc) = fresh("load", file)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = Main.scoped(spark, "perfbench")(proc.processFile(dst.toString))
    val secs = (System.nanoTime() - t0) / 1e9
    val s1 = System.currentTimeMillis()
    rec.ops += 1
    rec.wallS += secs
    rec.opLatency += secs
    rec.opWindows += ((s0, s1, "run"))
    rec.inputBytes += fileBytes
    rec.check(r.exists(x => x.success && x.errorName.isEmpty && x.recordsRead == rows &&
      x.recordsFailedValidation == 0 && x.publishInserts == rows && x.publishUpdates == 0),
      s"bulk load result $r, expected $rows clean inserts")
    r.foreach { x =>
      rec.rowsRead += x.recordsRead
      rec.rowsPublished += x.publishInserts + x.publishUpdates
    }
    readBack(root, rec)
    rec.storageAmp += Main.treeBytes(root.resolve("wh")).toDouble / fileBytes
    Main.deleteTree(root)
  }

  /** A downstream reader's full scan + aggregate of every column of the
    * published target, through a newly opened `TableStore` (a store
    * memoizes the schema it resolves); checks its row count and price sum.
    */
  private def readBack(root: Path, rec: Rec): Unit = {
    val t0 = System.nanoTime()
    val r = new TableStore(spark, root.resolve("wh").toString)
      .readIfExists(OrdersSource.tableName).map(df => df.agg(count(lit(1)),
        sum(round(col("o_totalprice") * 100).cast("long")),
        max(xxhash64(df.columns.map(col).toSeq: _*))).head())
    rec.readBack += (System.nanoTime() - t0) / 1e9
    val (n, c) = (r.map(_.getLong(0)).getOrElse(0L), r.map(_.getLong(1)).getOrElse(0L))
    rec.check(n == rows && c == cents,
      s"bulk target holds $n rows / $c cents, expected $rows / $cents")
  }

  def named(rec: Rec): Map[String, Double] = Map(
    "rows_per_s" -> rec.rowsPublished / rec.wallS,
    "load_latency_p50_s" -> Rec.median(rec.opLatency),
    "read_back_s" -> Rec.median(rec.readBack),
    "storage_amp" -> Rec.median(rec.storageAmp),
    "error_rate" -> rec.failed.toDouble / rec.attempted,
    "loads" -> rec.ops.toDouble,
    "rows_per_load" -> rows.toDouble)
}
