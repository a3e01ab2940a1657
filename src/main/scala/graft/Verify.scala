package graft
import graft.core.{GraftSession, Json}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c: dump + oracle just the named queries (local
    // iteration on a new operator; the driver never sets it)
    val only = SparkEntry.selected()
    def keep(name: String): Boolean = only.forall(_(name))
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
