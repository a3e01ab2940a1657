package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** query_suite: a fixed slice of `SparkEntry.queries` over sf0.1-sized
  * tables, once per pass in name order, one client. The results of the
  * first timed pass are written out, with their oracles, for `run.py` to
  * check with `tools/compare.py`.
  */
final class QuerySuite(spark: SparkSession, data: Path, work: Path) extends Workload {
  import QuerySuite._

  private val dir = data.toString
  private var firstPass: Map[String, (StructType, Array[Row])] = Map.empty

  def labelOf(p: java.util.Properties): Option[String] =
    Seq("spark.jobGroup.id", "perfbench.scope").flatMap(k => Option(p.getProperty(k)))
      .find(_.startsWith("perfbench|")).map(_.stripPrefix("perfbench|"))

  def setup(): Unit = {
    // warm-up: one untimed pass over the small (sf0.001-sized) tables in
    // `warm/`; a full-size warm-up pass cost twice as long and left the
    // timed pass no steadier on a 4-core host
    val warm = data.resolve("warm").toString
    val t0 = System.nanoTime()
    Slice.foreach { case (name, _) =>
      SparkEntry.queries(name)(spark, warm).collect()
      graft.queries.DirMemo.clear()
    }
    println(f"perfbench: warm-up pass took ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def iterate(rec: Rec): Unit = {
    val p0 = System.nanoTime()
    val results = Slice.map { case (name, label) =>
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = Main.scoped(spark, s"perfbench|$label") {
        try { val df = SparkEntry.queries(name)(spark, dir); Right((df.schema, df.collect())) }
        catch { case e: Throwable => Left(s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      rec.opLatency += secs
      rec.opWindows += ((s0, System.currentTimeMillis(), label))
      rec.ops += 1
      graft.queries.DirMemo.clear()
      // the query ran; its result is checked against the oracle by run.py
      out.left.foreach(e => rec.check(ok = false, e))
      name -> out
    }
    val secs = (System.nanoTime() - p0) / 1e9
    rec.wallS += secs
    rec.passWall += secs
    if (firstPass.isEmpty)
      firstPass = results.collect { case (n, Right(r)) => n -> r }.toMap
  }

  /** `results/<query>/` parquet per query of the first timed pass, plus
    * `results/oracle_sql.json`: the layout `tools/compare.py` reads.
    */
  override def finish(rec: Rec): Unit = {
    val out = work.resolve("results")
    firstPass.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
    }
    val oracles = SparkEntry.oracleSql.filter(e => Slice.exists(_._1 == e._1))
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}"))
  }

  def named(rec: Rec): Map[String, Double] = Map(
    "suite_s" -> Rec.median(rec.passWall),
    "query_latency_p50_s" -> Rec.median(rec.opLatency),
    "query_latency_p90_s" -> Rec.pct(rec.opLatency, 0.90),
    "passes" -> rec.passWall.size.toDouble,
    "queries_per_pass" -> Slice.size.toDouble)
}

object QuerySuite {
  /** The measured slice and each query's label, by the object its body
    * calls: `Relational`, `TrainingData`, the persisted index operators
    * (`VectorIndex`), or a streaming micro-batch pipeline. A full pass over
    * all entries takes ~170 s on a 4-core host, longer than one benchmark
    * run may take. The `PipelineBench` entries are left out: they run the
    * `Processor` path that bulk_load measures, and `pipeline_etl` alone
    * took 5 of a 17 s pass.
    */
  val Slice: Seq[(String, String)] = Seq(
    "dedup_exact" -> "queries.training",
    "dedup_minhash_lsh" -> "queries.training",
    "q10_region_revenue" -> "queries.relational",
    "q14_sessionize_stream" -> "queries.streaming",
    "q1_pricing_summary" -> "queries.relational",
    "q22_moving_avg" -> "queries.relational",
    "sim_topk_ivf_index" -> "queries.index",
    "tfidf_top_terms" -> "queries.training").sortBy(_._1)
}
