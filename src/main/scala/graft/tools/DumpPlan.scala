package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.execution.ExplainMode

/** Write a declared query's physical plan (`explain("formatted")`) to a
  * file — the evidence artifact the optimization rounds commit under
  * `plans/rNN/`. Uses the [[graft.queries.TrainingData.planOnly]] seam so
  * operators that materialize their small result (collect + local frame)
  * expose the REAL composed plan instead of a `Scan ExistingRDD` stub.
  *
  * Usage: `runMain graft.tools.DumpPlan <query> <sfDir> <outFile>`
  */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args(1)
    val out = args(2)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.queries.TrainingData.planOnly.withValue(true) {
      graft.SparkEntry.queries(name)(spark, dir)
    }
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    java.nio.file.Files.write(java.nio.file.Paths.get(out), p.getBytes)
    println(s"plan: $out (${p.length} chars, " +
      s"""${"Exchange \\(".r.findAllIn(p).length} exchanges)""")
    spark.stop()
  }
}
