package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Contracts of the main code's shape, checked on its sources: the
  * `SPARK_GRAFT_ONLY` entry filter, the entry points, the settings read
  * from the environment, the one session factory, the one declaration of
  * the SQL functions, and the one owner of each Spark internal the code
  * reaches.
  */
class HarnessSpec extends AnyFunSuite {

  test("SPARK_GRAFT_ONLY: unset or blank selects every entry") {
    assert(SparkEntry.selected(Map.empty) === None)
    assert(SparkEntry.selected(Map("SPARK_GRAFT_ONLY" -> "")) === None)
    assert(SparkEntry.selected(Map("SPARK_GRAFT_ONLY" -> " , ")) === None)
    assert(SparkEntry.selected(Map("SPARK_GRAFT_ONLY" -> "a, b")) ===
      Some(Set("a", "b")))
  }

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** Main sources whose text contains any of `calls`, relative to the
    * main source root.
    */
  private def callers(calls: String*): Seq[String] = {
    assert(Files.isDirectory(main), s"no main source tree at $main")
    Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && {
        val text = Files.readString(p); calls.exists(text.contains) })
      .map(main.relativize(_).toString).toSeq.sorted
  }

  /** [[callers]] other than `owner`, which must exist. */
  private def callersBesides(owner: Path, calls: String*): Seq[String] = {
    assert(Files.isRegularFile(owner), s"no owner source $owner")
    callers(calls: _*).filterNot(_ == main.relativize(owner).toString)
  }

  test("main code has exactly five entry points") {
    val mains = callers("def main(")
    val kept = Seq(
      Paths.get("graft", "Bench.scala"), Paths.get("graft", "Verify.scala"),
      Paths.get("graft", "tools", "DumpPlan.scala"),
      Paths.get("graft", "tools", "Calib.scala"),
      Paths.get("graft", "run", "Main.scala")).map(_.toString).sorted
    assert(mains === kept,
      s"run a measurement through Bench, perfbench or a test, not a new main: $mains")
  }

  test("only the named settings owners read the environment or system properties") {
    val keyProbe = Paths.get("graft", "operators", "KeyProbe.scala") // the force test seam
    val owners = Seq(
      Paths.get("graft", "core", "GraftSession.scala"),
      Paths.get("graft", "core", "Retry.scala"), // GraftConfig.load
      Paths.get("graft", "core", "CloudCredentials.scala"),
      Paths.get("graft", "core", "Secrets.scala"),
      Paths.get("graft", "Bench.scala"),
      Paths.get("graft", "SparkEntry.scala"),
      keyProbe)
    owners.foreach(o => assert(Files.isRegularFile(main.resolve(o)), s"no owner source $o"))
    val offenders = callers("sys.env", "System.getenv", "sys.props", "System.getProperty")
      .filterNot(owners.map(_.toString).contains)
    assert(offenders.isEmpty,
      s"read settings through GraftConfig, GraftSession or CLI options: $offenders")
    assert(!Files.readString(main.resolve(keyProbe)).contains("sys.env"),
      "KeyProbe's seam is a test system property, not an environment variable")
  }

  test("only GraftSession calls SparkSession.builder() in main code") {
    val offenders = callersBesides(
      main.resolve(Paths.get("graft", "core", "GraftSession.scala")),
      "SparkSession.builder()")
    assert(offenders.isEmpty,
      s"build sessions through graft.core.GraftSession.builder(): $offenders")
  }

  test("only GraftExtensions declares SQL functions in main code") {
    val offenders = callersBesides(
      main.resolve(Paths.get("graft", "core", "GraftExtensions.scala")),
      "injectFunction", "registerFunction", "extraOptimizations")
    assert(offenders.isEmpty,
      s"declare SQL functions and rules in graft.core.GraftExtensions: $offenders")
  }

  test("only TableStore builds a target merge in main code") {
    val offenders = callersBesides(
      main.resolve(Paths.get("graft", "store", "TableStore.scala")),
      "Publish.mergePlan(", "Publish.emptyTarget(")
    assert(offenders.isEmpty,
      s"publish a target through graft.store.Sink.publish: $offenders")
  }

  test("main code reaches Hadoop filesystems only through the session conf") {
    // FileSystem's cache keys on scheme and user, not on the conf: one
    // FileSystem.get made from a bare Configuration before the session
    // exists would pin the forking local filesystem for the whole JVM. The
    // no-argument FileContext factories build a bare Configuration inside
    // Hadoop and so reach the forking AbstractFileSystem. No file owns these.
    val offenders = callers(
      "new Configuration(", "new org.apache.hadoop.conf.Configuration(",
      "FileSystem.get(", "FileSystem.newInstance(",
      "FileContext.getFileContext()", "getLocalFSFileContext(")
    assert(offenders.isEmpty,
      s"take filesystems from the session's hadoop conf (path.getFileSystem): $offenders")
  }

  test("one bridge file reaches Spark's sql-private planner API") {
    val bridge = Paths.get("org", "apache", "spark", "sql", "MaterializedRows.scala")
    val under = main.resolve(Paths.get("org", "apache", "spark"))
    val inSparkPackage = Files.walk(under).iterator().asScala
      .filter(Files.isRegularFile(_)).map(main.relativize(_).toString).toSeq
    assert(inSparkPackage == Seq(bridge.toString),
      s"only $bridge may live under $under: $inSparkPackage")
    val offenders = callersBesides(main.resolve(bridge), "LogicalRDD", "classic.Dataset")
    assert(offenders.isEmpty, s"go through $bridge: $offenders")
  }

  test("Spark's parquet writer and footer-schema internals each have one caller") {
    val writer = callersBesides(
      main.resolve(Paths.get("graft", "store", "TableStore.scala")),
      "ParquetUtils.prepareWrite", "OutputWriterFactory")
    assert(writer.isEmpty, s"write driver-side rows through TableStore.appendRows: $writer")
    val footer = callersBesides(
      main.resolve(Paths.get("graft", "core", "ScanEstimate.scala")),
      "readSchemaFromFooter")
    assert(footer.isEmpty,
      s"read a footer's schema through ScanEstimate.parquetFooterWithSchema: $footer")
  }
}
