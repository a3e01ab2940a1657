package graft

import graft.core.{ColumnSpec, SourceConfig}
import graft.store.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Merge-on-read publish contract: a chain of MOR segment publishes must
  * resolve — counts, data, lineage columns, and MERGE timestamps alike —
  * to the EXACT relation the copy-on-write merge chain produces (COW is
  * the oracle-checked reference implementation), and the segment fold
  * must be invisible to readers.
  */
class MorPublishSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val cowSource = SourceConfig(
    name = "mt", filePattern = "x.parquet", sourceType = "parquet",
    columns = Seq(ColumnSpec.long("id", nullable = false),
      ColumnSpec.string("v")),
    tableName = "mt", grain = Seq("id"))
  private val morSource = cowSource.copy(mergeOnRead = true)

  private def stageDf(file: String, logId: Long,
                      rows: (Long, String)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("id", "v")
      .withColumn("etl_row_hash",
        xxhash64(concat_ws("|", col("id"), col("v"))))
      .withColumn("source_filename", lit(file))
      .withColumn("file_load_log_id", lit(logId))
  }

  /** Full-row snapshot, ordered: every column the target carries. */
  private def snap(store: TableStore): Seq[(Long, String, Long, String,
      Long, java.sql.Timestamp, java.sql.Timestamp)] =
    store.readIfExists("mt").get
      .select("id", "v", "etl_row_hash", "source_filename",
        "file_load_log_id", "etl_created_at", "etl_updated_at")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getTimestamp(5), r.getTimestamp(6)))
      .toSeq.sortBy(_._1)

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  test("MOR segment chain resolves to the COW merge chain exactly") {
    val cow = new TableStore(spark,
      Files.createTempDirectory("graft_cow").toString, publishBuckets = 4)
    val mor = new TableStore(spark,
      Files.createTempDirectory("graft_mor").toString, publishBuckets = 4,
      morCompactSegments = 99)

    def publishBoth(file: String, logId: Long, now: java.sql.Timestamp,
                    rows: (Long, String)*): Unit = {
      val cc = cow.publish("mt", stageDf(file, logId, rows: _*),
        cowSource, now)
      val mc = mor.publish("mt", stageDf(file, logId, rows: _*),
        morSource, now)
      assert(mc === cc, s"insert/update counts diverged on $file")
      assert(snap(mor) === snap(cow), s"resolved rows diverged after $file")
    }

    // base load
    publishBoth("f1.parquet", 1L, ts(1000),
      (1L to 20L).map(i => i -> s"v$i"): _*)
    // updates (1-3 re-valued) + noops (4-6 unchanged) + inserts (21-23)
    publishBoth("f2.parquet", 2L, ts(2000),
      (1L to 3L).map(i => i -> s"CHANGED$i") ++
        (4L to 6L).map(i => i -> s"v$i") ++
        (21L to 23L).map(i => i -> s"v$i"): _*)
    // update an updated row back (hash changes again), noop a changed row,
    // one more insert — exercises multi-step chains within one grain
    publishBoth("f3.parquet", 3L, ts(3000),
      Seq(1L -> "v1", 2L -> "CHANGED2", 24L -> "v24"): _*)
    // pure no-op re-load of current state: zero counts, zero visible change
    publishBoth("f4.parquet", 4L, ts(4000),
      Seq(1L -> "v1", 2L -> "CHANGED2", 24L -> "v24"): _*)

    // spot-check MERGE timestamp semantics through the MOR resolve
    val rows = snap(mor).map(r => r._1 -> r).toMap
    assert(rows(4L)._6 === ts(1000) && rows(4L)._7 === null,
      "noop row keeps base created_at, never gains updated_at")
    assert(rows(4L)._4 === "f1.parquet",
      "noop row keeps the ORIGINAL file lineage")
    assert(rows(1L)._6 === ts(1000) && rows(1L)._7 === ts(3000),
      "twice-updated row: created at base, updated at the LAST change")
    assert(rows(21L)._6 === ts(2000) && rows(21L)._7 === null,
      "segment-inserted row created at its insert publish")
    assert(rows(2L)._7 === ts(2000),
      "row updated then nooped keeps the update timestamp")
  }

  test("segment fold past the threshold is invisible to readers") {
    val root = Files.createTempDirectory("graft_morc")
    val mor = new TableStore(spark, root.toString, publishBuckets = 4,
      morCompactSegments = 2)
    def usegCount() = Files.list(root.resolve("mt")).toArray
      .map(_.toString).count(_.contains("/useg_"))

    mor.publish("mt", stageDf("f1.parquet", 1L,
      (1L to 10L).map(i => i -> s"v$i"): _*), morSource, ts(1000))
    assert(usegCount() === 0, "base publish is bucketed, not a segment")
    mor.publish("mt", stageDf("f2.parquet", 2L,
      Seq(1L -> "X1", 11L -> "v11"): _*), morSource, ts(2000))
    assert(usegCount() === 1)
    val before = snap(mor)
    // threshold 2: this publish commits segment 2, then folds both away
    val c = mor.publish("mt", stageDf("f3.parquet", 3L,
      Seq(2L -> "X2", 12L -> "v12"): _*), morSource, ts(3000))
    assert(c === ((1L, 1L)))
    assert(usegCount() === 0, "threshold reached: segments folded into base")
    val after = snap(mor)
    assert(after.size === before.size + 1)
    assert(after.find(_._1 == 2L).get._2 === "X2")
    assert(after.find(_._1 == 1L).get._7 === ts(2000),
      "fold preserves resolved updated_at")
    // the folded table keeps publishing: next delta opens a fresh segment
    mor.publish("mt", stageDf("f4.parquet", 4L,
      Seq(3L -> "X3"): _*), morSource, ts(4000))
    assert(usegCount() === 1)
    assert(snap(mor).find(_._1 == 3L).get._7 === ts(4000))
  }
}
