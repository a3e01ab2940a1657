package graft

import graft.core._
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{UserEvent, UserSession}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  // one JVM-shared session for the whole test run — suites must never
  // stop it (getOrCreate shares the underlying session across suites)
  private val spark: SparkSession = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("drop-folder stream validates files with the batch rule compiler") {
    val drop = tmp("stream-drop")
    val out = tmp("stream-out")
    val ckpt = tmp("stream-ckpt")
    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_s1.csv"),
      "transaction_id,quantity\nT1,2\nT2,notanint\nT3,5\n")

    val source = SourceConfig(
      name = "s", filePattern = "sales_*.csv", sourceType = "csv",
      columns = Seq(
        ColumnSpec.string("transaction_id", nullable = false),
        ColumnSpec.int("quantity", nullable = false)),
      tableName = "t", grain = Seq("transaction_id"))

    val q = StreamingPipeline.dropFolderStream(spark, source, drop, out, ckpt)
    q.awaitTermination()

    val valid = spark.read.parquet(s"$out/valid")
    val dlq = spark.read.parquet(s"$out/dlq")
    assert(valid.count() == 2)
    assert(dlq.count() == 1)
    val err = dlq.select("validation_errors").head().getString(0)
    assert(err.contains("quantity") && err.contains("type_error"))
    // second run with no new files: checkpoint file-tracking skips the
    // already-processed file (exactly-once)
    val q2 = StreamingPipeline.dropFolderStream(spark, source, drop, out, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/valid").count() == 2)
    // RESTART RECOVERY: a third run over the same checkpoint with a newly
    // dropped file processes exactly the new file — earlier rows are
    // neither reprocessed nor clobbered (exactly-once across restarts, the
    // property the reference's duplicate-file ledger provides in batch)
    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_s2.csv"),
      "transaction_id,quantity\nT10,7\n")
    val q3 = StreamingPipeline.dropFolderStream(spark, source, drop, out, ckpt)
    q3.awaitTermination()
    val afterRestart = spark.read.parquet(s"$out/valid")
    assert(afterRestart.count() == 3)
    assert(afterRestart.select("transaction_id").distinct().count() == 3,
      "restart must not duplicate previously processed rows")
    assert(spark.read.parquet(s"$out/dlq").count() == 1,
      "dlq rows from the first run survive the restart")
  }

  test("streaming merge-publish: upserts per micro-batch, hash no-op on replayed content") {
    val drop = tmp("sm-drop")
    val ckpt = tmp("sm-ckpt")
    val store = new graft.store.TableStore(spark, tmp("sm-wh"))
    val source = SourceConfig(
      name = "sm", filePattern = "sales_*.csv", sourceType = "csv",
      columns = Seq(
        ColumnSpec.string("transaction_id", nullable = false),
        ColumnSpec.int("quantity", nullable = false)),
      tableName = "sm_target", grain = Seq("transaction_id"))

    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_m1.csv"),
      "transaction_id,quantity\nT1,1\nT2,2\n")
    StreamingPipeline.dropFolderMergeStream(spark, source, store, drop, ckpt)
      .awaitTermination()
    val t1 = store.readIfExists("sm_target").get.collect()
      .map(r => r.getAs[String]("transaction_id") -> r.getAs[Int]("quantity")).toMap
    assert(t1 == Map("T1" -> 1, "T2" -> 2))

    // second file: updates T2, inserts T3; T1 untouched (created_at kept)
    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_m2.csv"),
      "transaction_id,quantity\nT2,20\nT3,3\n")
    StreamingPipeline.dropFolderMergeStream(spark, source, store, drop, ckpt)
      .awaitTermination()
    val t2 = store.readIfExists("sm_target").get
    assert(t2.count() == 3)
    assert(t2.filter(col("transaction_id") === "T2").head()
      .getAs[Int]("quantity") == 20)
    assert(t2.filter(col("transaction_id") === "T2").head()
      .getAs[java.sql.Timestamp]("etl_updated_at") != null)
    assert(t2.filter(col("transaction_id") === "T1").head()
      .getAs[java.sql.Timestamp]("etl_updated_at") == null)
  }

  test("streaming merge-publish into a user-partitioned target keeps one live version") {
    val drop = tmp("smp-drop")
    val ckpt = tmp("smp-ckpt")
    val wh = tmp("smp-wh")
    val store = new graft.store.TableStore(spark, wh)
    val source = SourceConfig(
      name = "smp", filePattern = "sales_*.csv", sourceType = "csv",
      columns = Seq(
        ColumnSpec.string("transaction_id", nullable = false),
        ColumnSpec.string("region", nullable = false),
        ColumnSpec.int("quantity", nullable = false)),
      tableName = "smp_target", grain = Seq("transaction_id"),
      targetPartitionBy = Seq("region"))
    def versionDirs(): Seq[String] = {
      val s = Files.list(java.nio.file.Paths.get(wh, "smp_target"))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith("v_")).toSeq
      finally s.close()
    }

    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_p1.csv"),
      "transaction_id,region,quantity\nT1,east,1\nT2,west,2\n")
    StreamingPipeline.dropFolderMergeStream(spark, source, store, drop, ckpt)
      .awaitTermination()
    assert(versionDirs().size == 1)

    // second micro-batch: updates T2, inserts T3
    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_p2.csv"),
      "transaction_id,region,quantity\nT2,west,20\nT3,east,3\n")
    StreamingPipeline.dropFolderMergeStream(spark, source, store, drop, ckpt)
      .awaitTermination()
    val rows = store.readIfExists("smp_target").get.collect()
      .map(r => r.getAs[String]("transaction_id") ->
        (r.getAs[String]("region"), r.getAs[Int]("quantity"),
          r.getAs[Timestamp]("etl_updated_at") != null)).toMap
    assert(rows == Map("T1" -> (("east", 1, false)),
      "T2" -> (("west", 20, true)), "T3" -> (("east", 3, false))))
    // the superseded full version is vacuumed, not left on disk per batch
    assert(versionDirs().size == 1, s"stale versions left: ${versionDirs()}")
  }

  test("merge stream into a JdbcSink: epoch-guarded exactly-once merge across restarts") {
    val drop = tmp("sj-drop")
    val ckpt = tmp("sj-ckpt")
    val db = tmp("sj-db")
    val url = s"jdbc:derby:$db/db;create=true"
    val sink = new graft.store.JdbcSink(spark, url)
    val source = SourceConfig(
      name = "sj", filePattern = "sales_*.csv", sourceType = "csv",
      columns = Seq(
        ColumnSpec.string("transaction_id", nullable = false),
        ColumnSpec.int("quantity", nullable = false)),
      tableName = "sj_target", grain = Seq("transaction_id"))
    def query1[T](sql: String)(get: java.sql.ResultSet => T): T = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(sql)
        rs.next(); get(rs)
      } finally conn.close()
    }

    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_j1.csv"),
      "transaction_id,quantity\nT1,1\nT2,2\n")
    StreamingPipeline.dropFolderMergeStream(spark, source, sink, drop, ckpt)
      .awaitTermination()
    assert(query1("SELECT COUNT(*) FROM sj_target")(_.getInt(1)) == 2)
    val epochs1 = query1("SELECT COUNT(*) FROM sj_target__epochs")(_.getInt(1))
    assert(epochs1 >= 1)

    // restart over the same checkpoint with NO new files: file tracking
    // yields no batch, so no new epoch rows and no target change
    StreamingPipeline.dropFolderMergeStream(spark, source, sink, drop, ckpt)
      .awaitTermination()
    assert(query1("SELECT COUNT(*) FROM sj_target__epochs")(_.getInt(1)) == epochs1)
    assert(query1("SELECT COUNT(*) FROM sj_target")(_.getInt(1)) == 2)

    // new file after restart: updates T2 in place, inserts T3, new epoch
    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_j2.csv"),
      "transaction_id,quantity\nT2,20\nT3,3\n")
    StreamingPipeline.dropFolderMergeStream(spark, source, sink, drop, ckpt)
      .awaitTermination()
    assert(query1("SELECT COUNT(*) FROM sj_target")(_.getInt(1)) == 3)
    assert(query1(
      """SELECT "quantity" FROM sj_target WHERE CAST("transaction_id" AS VARCHAR(100)) = 'T2'""")(
      _.getInt(1)) == 20)
    assert(query1("SELECT COUNT(*) FROM sj_target__epochs")(_.getInt(1)) == epochs1 + 1)
  }

  test("watermarked window aggregation over an event stream") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingPipeline.windowedEventCounts(df, "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win")
      .outputMode(OutputMode.Complete()).start()
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2026-01-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2026-01-01 11:05:00"), "view", 4.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "select window_start, event_type, n_events, total_value from win order by 1, 2")
      .collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getLong(2) == 2 && rows(0).getDouble(3) == 3.0) // 10:00 click
    assert(rows(1).getLong(2) == 1 && rows(1).getDouble(3) == 4.0) // 11:00 view
  }

  test("streaming index append: micro-batched vectors land in the IVF index") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.VectorFunctions.vecNormalize
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        vecNormalize(col("embedding").cast(ArrayType(DoubleType))).as("nv"))
    val work = java.nio.file.Files.createTempDirectory("graft_sidx")
    val idx = work.resolve("idx").toString
    graft.operators.VectorIndex.buildIvf(all.filter(col("vec_id") < 400), idx)
    // stream the late vectors in as two micro-batches, one run each: an
    // AvailableNow query only drains what was added before it started
    val late = all.filter(col("vec_id") >= 400)
      .as[(Long, Array[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Array[Double])]
    def drain(): Unit = StreamingPipeline.streamingIndexAppend(
      mem.toDF().toDF("vec_id", "nv"), idx,
      work.resolve("ckpt").toString).awaitTermination()
    mem.addData(late.take(50))
    drain()
    mem.addData(late.drop(50))
    drain()
    val postings = spark.read.parquet(s"$idx/postings")
    assert(postings.count() == all.count(), "all vectors indexed after the stream")
    // a probe retrieves a streamed-in vector from the index
    val streamedId = late.head._1
    val probe = all.filter(col("vec_id") === streamedId)
      .select(col("vec_id").as("query_id"), col("nv").as("qv"))
    val res = graft.operators.VectorIndex.queryIvf(spark, idx, probe, k = 3)
    assert(res.count() == 3)
    // stats see the whole index; skew ratio is a sane multiple of the mean
    val stats = graft.operators.VectorIndex.indexStats(spark, idx).head()
    assert(stats.getAs[Long]("n_vectors") == all.count())
    assert(stats.getAs[Double]("skew_ratio") >= 1.0)
    // compaction: same rows, exactly one parquet file per bucket, results
    // identical before/after
    val before = res.collect().toSeq
    graft.operators.VectorIndex.compactIvf(spark, idx)
    // compaction publishes a NEW generation via the _POSTINGS pointer; the
    // original postings/ dir is retained one generation for in-flight reads
    val live = graft.operators.VectorIndex.livePostingsDir(spark, idx)
    assert(live.endsWith("postings_v1"), s"pointer must name v1, got $live")
    val bucketDirs = new java.io.File(live).listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: expected 1 file, got ${files.length}")
    }
    assert(spark.read.parquet(live).count() == all.count())
    assert(graft.operators.VectorIndex.queryIvf(spark, idx, probe, k = 3)
      .collect().toSeq === before)
    // a second compaction reclaims the superseded original generation
    graft.operators.VectorIndex.compactIvf(spark, idx)
    assert(graft.operators.VectorIndex.livePostingsDir(spark, idx)
      .endsWith("postings_v2"))
    assert(!new java.io.File(s"$idx/postings").exists(),
      "generation older than the superseded one must be reclaimed")
    assert(graft.operators.VectorIndex.queryIvf(spark, idx, probe, k = 3)
      .collect().toSeq === before)
  }

  test("streaming quality monitor: per-window per-source stats and pass rate") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[(Timestamp, String, String)]
    val df = mem.toDF().toDF("ts", "source", "text")
    val agg = StreamingPipeline.streamingQualityMonitor(
      df, "1 hour", "10 minutes", minTokens = 3, maxTokens = 10)
    val q = agg.writeStream.format("memory").queryName("qmon")
      .outputMode(OutputMode.Complete()).start()
    mem.addData(
      // passes: 5 tokens incl. stopword 'the'
      (Timestamp.valueOf("2026-01-01 10:05:00"), "web", "the cat sat down here"),
      // fails: under minTokens
      (Timestamp.valueOf("2026-01-01 10:10:00"), "web", "too short"),
      // fails: no stopword
      (Timestamp.valueOf("2026-01-01 10:20:00"), "web", "alpha beta gamma delta"),
      // other source, next window, passes
      (Timestamp.valueOf("2026-01-01 11:05:00"), "books", "a dog ran over there"))
    q.processAllAvailable()
    val rows = spark.sql(
      "select window_start, source, n_docs, total_tokens, quality_rate " +
        "from qmon order by 1, 2").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "web" && rows(0).getLong(2) == 3)
    assert(rows(0).getLong(3) == 11) // 5 + 2 + 4 tokens
    assert(rows(0).getDouble(4) == 0.3333)
    assert(rows(1).getString(1) == "books" && rows(1).getLong(2) == 1)
    assert(rows(1).getDouble(4) == 1.0)
  }

  test("stream-stream join: purchases attribute to clicks within the window") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Double)]
    val joined = StreamingPipeline.clickAttribution(
      clicks.toDF().toDF("ts", "user_id"),
      purchases.toDF().toDF("ts", "user_id", "value"),
      attribution = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(
      (Timestamp.valueOf("2026-01-01 10:00:00"), 1L),
      (Timestamp.valueOf("2026-01-01 10:00:00"), 2L))
    purchases.addData(
      (Timestamp.valueOf("2026-01-01 10:20:00"), 1L, 9.0),  // within 30m
      (Timestamp.valueOf("2026-01-01 11:20:00"), 2L, 5.0),  // outside 30m
      (Timestamp.valueOf("2026-01-01 10:10:00"), 3L, 7.0))  // no click
    q.processAllAvailable()
    val rows = spark.sql("select user_id, purchase_value from attr").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 1L && rows(0).getDouble(1) == 9.0)
  }

  test("last-touch attribution: one row per purchase, most recent click wins") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val clicks = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Double)]
    val joined = StreamingPipeline.clickAttributionLastTouch(
      clicks.toDF().toDF("ts", "user_id"),
      purchases.toDF().toDF("ts", "user_id", "value"),
      attribution = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("lasttouch")
      .outputMode(OutputMode.Append()).start()
    // two in-window clicks for user 1, ONE purchase — all-touch would fan
    // out to 2 rows; last-touch must emit exactly one, with the 10:15 click
    clicks.addData(
      (Timestamp.valueOf("2026-01-01 10:00:00"), 1L),
      (Timestamp.valueOf("2026-01-01 10:15:00"), 1L))
    purchases.addData(
      (Timestamp.valueOf("2026-01-01 10:20:00"), 1L, 9.0))
    q.processAllAvailable()
    // advance the watermark past purchase_ts+lateness on BOTH streams so
    // append mode finalizes the group (two flush batches: watermark used in
    // batch N comes from data seen through batch N-1)
    clicks.addData((Timestamp.valueOf("2026-01-01 12:00:00"), 50L))
    purchases.addData((Timestamp.valueOf("2026-01-01 12:00:00"), 51L, 1.0))
    q.processAllAvailable()
    clicks.addData((Timestamp.valueOf("2026-01-01 13:00:00"), 50L))
    purchases.addData((Timestamp.valueOf("2026-01-01 13:00:00"), 51L, 1.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "select click_ts, purchase_value from lasttouch where user_id = 1").collect()
    q.stop()
    assert(rows.length == 1, "exactly one row per purchase")
    assert(rows(0).getTimestamp(0) == Timestamp.valueOf("2026-01-01 10:15:00"),
      "most recent in-window click wins")
    assert(rows(0).getDouble(1) == 9.0)
  }

  test("fresh checkpoint over an existing outDir never clobbers earlier runs") {
    val drop = tmp("rid-drop")
    val out = tmp("rid-out")
    val source = SourceConfig(
      name = "rid", filePattern = "sales_*.csv", sourceType = "csv",
      columns = Seq(
        ColumnSpec.string("transaction_id", nullable = false),
        ColumnSpec.int("quantity", nullable = false)),
      tableName = "t", grain = Seq("transaction_id"))
    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_r1.csv"),
      "transaction_id,quantity\nT1,1\nT2,2\n")
    StreamingPipeline.dropFolderStream(spark, source, drop, out, tmp("rid-ck1"))
      .awaitTermination()
    assert(spark.read.parquet(s"$out/valid").count() == 2)
    // run 2: NEW checkpoint (batchId restarts at 0) over the same outDir —
    // the runId salt keeps run 1's batch-0 partition intact
    Files.writeString(java.nio.file.Paths.get(s"$drop/sales_r2.csv"),
      "transaction_id,quantity\nT3,3\n")
    StreamingPipeline.dropFolderStream(spark, source, drop, out, tmp("rid-ck2"))
      .awaitTermination()
    val valid = spark.read.parquet(s"$out/valid")
    assert(valid.count() == 5, "run 1 rows survive + run 2 re-reads both files")
    assert(valid.select("_run_id").distinct().count() == 2)
  }

  test("streaming dedup: content re-delivered within the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val deduped = StreamingPipeline.streamingDedup(df, "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedupstream")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, "alpha beta"),
      (Timestamp.valueOf("2026-01-01 10:01:00"), 2L, "gamma delta"),
      (Timestamp.valueOf("2026-01-01 10:02:00"), 3L, "alpha beta")) // dup of 1
    q.processAllAvailable()
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:10:00"), 4L, "alpha beta"), // still dup
      (Timestamp.valueOf("2026-01-01 10:11:00"), 5L, "epsilon"))
    q.processAllAvailable()
    val kept = spark.sql("select doc_id from dedupstream order by doc_id")
      .collect().map(_.getLong(0)).toSeq
    q.stop()
    assert(kept == Seq(1L, 2L, 5L),
      "first copy of each content survives; re-deliveries within watermark drop")
  }

  test("streaming paragraph dedup: duplicated chunks drop, novel chunks survive") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val kept = StreamingPipeline.streamingParagraphDedup(df, "1 hour")
    val q = kept.writeStream.format("memory").queryName("parastream")
      .outputMode(OutputMode.Append()).start()
    // 20 tokens -> chunks [w0..w15], [w16..w19]
    val base = (0 until 20).map(i => s"w$i").mkString(" ")
    mem.addData((Timestamp.valueOf("2026-01-01 10:00:00"), 1L, base))
    q.processAllAvailable()
    // doc 2 re-sends doc 1's first chunk verbatim plus 16 new tokens:
    // its first chunk is a duplicate, its second is novel
    val partial = ((0 until 16).map(i => s"w$i") ++
      (0 until 16).map(i => s"x$i")).mkString(" ")
    mem.addData((Timestamp.valueOf("2026-01-01 10:05:00"), 2L, partial))
    q.processAllAvailable()
    val rows = spark.sql(
      "select doc_id, chunk_idx from parastream order by doc_id, chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    q.stop()
    assert(rows === Seq((1L, 0), (1L, 1), (2L, 1)),
      "doc 1 keeps both chunks; doc 2 keeps only its novel second chunk")
  }

  test("streaming near-dup: identical content flags against earlier doc, distinct passes") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val hits = StreamingPipeline.streamingNearDup(df)
    val q = hits.writeStream.format("memory").queryName("neardupstream")
      .outputMode(OutputMode.Append()).start()
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "one two three four five six seven eight nine ten eleven"
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, textA),
      (Timestamp.valueOf("2026-01-01 10:01:00"), 2L, textB))
    q.processAllAvailable()
    mem.addData( // doc 3 re-delivers doc 1's content in a later batch
      (Timestamp.valueOf("2026-01-01 10:05:00"), 3L, textA))
    q.processAllAvailable()
    val rows = spark.sql(
      "select distinct doc_id, dup_of from neardupstream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val perBand = spark.sql(
      "select count(*) from neardupstream where doc_id = 3").head().getLong(0)
    // at-least-once re-delivery of doc 1 itself: no self-hit rows
    mem.addData((Timestamp.valueOf("2026-01-01 10:06:00"), 1L, textA))
    q.processAllAvailable()
    val selfHits = spark.sql(
      "select count(*) from neardupstream where doc_id = dup_of")
      .head().getLong(0)
    q.stop()
    assert(rows === Set((3L, 1L)),
      "identical content flags once per colliding band against doc 1 only")
    assert(perBand === 8L, "identical signatures collide in ALL 8 bands")
    assert(selfHits === 0L, "re-delivered doc must not flag against itself")
  }

  test("session windows: gap-merge within a user, separate sessions across gaps") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value")
    val agg = StreamingPipeline.sessionWindowStats(df, "30 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sesswin")
      .outputMode(OutputMode.Complete()).start()
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, 1.0), // session A
      (Timestamp.valueOf("2026-01-01 10:20:00"), 1L, 2.0), // merges into A
      (Timestamp.valueOf("2026-01-01 11:30:00"), 1L, 4.0), // gap > 30m: session B
      (Timestamp.valueOf("2026-01-01 10:05:00"), 2L, 8.0)) // other user
    q.processAllAvailable()
    val rows = spark.sql(
      "select user_id, n_events, total_value from sesswin order by user_id, n_events desc")
      .collect()
    q.stop()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 1 && rows(0).getLong(1) == 2
      && rows(0).getDouble(2) == 3.0) // user 1 session A merged two events
    assert(rows(1).getLong(0) == 1 && rows(1).getLong(1) == 1
      && rows(1).getDouble(2) == 4.0) // user 1 session B
    assert(rows(2).getLong(0) == 2 && rows(2).getLong(1) == 1)
  }

  test("stateful running totals per user via mapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[UserEvent]
    val out = StreamingPipeline.runningUserTotals(mem.toDS(), idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Update()).start()
    mem.addData(UserEvent(1, "click", 1.5), UserEvent(1, "view", 2.5),
      UserEvent(2, "click", 10.0))
    q.processAllAvailable()
    mem.addData(UserEvent(1, "purchase", 6.0))
    q.processAllAvailable()
    val last = spark.sql(
      "select user_id, n_events, total_value from sess " +
      "where user_id = 1 order by n_events desc limit 1").head()
    q.stop()
    assert(last.getLong(1) == 3 && last.getDouble(2) == 10.0)
  }

  test("streaming contamination: stream-static join flags docs sharing train grams") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.shingleIds
    // static train evidence: the 5-gram ids of one known sentence
    val trainIds = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
      .select(explode(shingleIds(col("text"), 5)).as("id"))
      .distinct()
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val mon = StreamingPipeline.streamingContamination(df, trainIds)
    val q = mon.writeStream.format("memory").queryName("contam")
      .outputMode(OutputMode.Complete()).start()
    mem.addData(
      // contains the train 5-gram "alpha beta gamma delta epsilon"
      (Timestamp.valueOf("2026-01-01 10:00:00"), 1L,
        "alpha beta gamma delta epsilon unrelated tail words here"),
      // clean doc: same vocabulary, different order — no shared 5-gram
      (Timestamp.valueOf("2026-01-01 10:01:00"), 2L,
        "zeta epsilon delta gamma beta alpha reversed order words"))
    q.processAllAvailable()
    val rows = spark.sql(
      "select doc_id, n_grams, n_hits from contam order by doc_id").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getLong(2) > 0L, "doc 1 shares a train 5-gram")
    assert(rows(1).getLong(2) === 0L,
      "left-outer keeps the clean doc with zero hits")
  }

  test("streaming PSI drift: fixed-spine bin counters, clamped bins, smoothed psi") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[(Timestamp, Double)]
    val df = mem.toDF().toDF("ts", "value")
    // uniform reference over [0, 10) with bin width 1
    val mon = StreamingPipeline.streamingDriftPsi(
      df, refLo = 0.0, refW = 1.0, refProps = Seq.fill(10)(0.1))
    val q = mon.writeStream.format("memory").queryName("psi_mon")
      .outputMode(OutputMode.Complete()).start()
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:05:00"), 9.5),
      (Timestamp.valueOf("2026-01-01 10:06:00"), 9.7),
      (Timestamp.valueOf("2026-01-01 10:07:00"), 42.0)) // clamps to bin 9
    q.processAllAvailable()
    // second micro-batch lands in the same open window (Complete output)
    mem.addData((Timestamp.valueOf("2026-01-01 10:08:00"), 0.5))
    q.processAllAvailable()
    val rows = spark.sql("select * from psi_mon").collect()
    q.stop()
    assert(rows.length == 1, "one open hour window")
    val r = rows.head
    assert(r.getAs[Long]("n9") == 3L, "out-of-range value clamps into bin 9")
    assert(r.getAs[Long]("n0") == 1L)
    assert(r.getAs[Long]("n_events") == 4L, "counters accumulate across batches")
    val psi = r.getAs[Double]("psi")
    assert(!psi.isNaN && psi > 0.1,
      "stream concentrated in one bin must drift against a uniform reference")
  }

  test("corpus release stream: checkpointed micro-batch releases are " +
    "incremental and replay-safe") {
    import org.apache.spark.sql.functions._
    val feed = tmp("corpus-feed")
    val wh = tmp("corpus-wh")
    val ckpt = tmp("corpus-ckpt")
    val store = new graft.store.TableStore(spark, s"$wh/tables")
    val sf = "/root/testdata/sf0.001"
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$feed/b1.parquet"))
    def drain(): Unit =
      graft.streaming.StreamingPipeline.corpusReleaseStream(
        spark, store, feed, s"$wh/tables", None, ckpt).awaitTermination()
    drain()
    val cs = graft.run.DemoSources.CorpusRelease
    val rows1 = store.readIfExists(cs.tableName).get.count()
    assert(rows1 > 0)
    assert(graft.operators.MinhashIndex.isCommitted(spark,
      s"$wh/tables/corpus_index"))
    // second drain with nothing new: corpus unchanged (checkpoint skips)
    drain()
    assert(store.readIfExists(cs.tableName).get.count() === rows1)
    // a new feed file whose content near-duplicates the RELEASED corpus
    // (one appended token on released docs — building from the raw sf
    // docs instead would legitimately admit quality-boundary docs the
    // gate rejected in epoch 0, which are novel to the index) must be
    // fully dropped by the probe; cipher-translated rows must land
    val base = store.readIfExists(cs.tableName).get
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).as("n_chars"))
    val dup = base.select((col("doc_id") + 5000000L).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"), col("lang"),
      col("source"), col("n_chars"))
    val novel = base.limit(40).select((col("doc_id") + 9000000L).as("doc_id"),
      translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
        "bcdefghijklmnopqrstuvwxyza").as("text"), col("lang"),
      col("source"), col("n_chars"))
    val tmp2 = tmp("corpus-b2")
    dup.unionByName(novel).coalesce(1).write.mode("overwrite").parquet(tmp2)
    val part = new java.io.File(tmp2).listFiles
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(s"$feed/b2.parquet"))
    drain()
    val released = store.readIfExists(cs.tableName).get
    assert(released.filter(col("doc_id") >= 9000000L).count() > 0,
      "novel-content rows must be released")
    assert(released.filter(col("doc_id") >= 5000000L &&
      col("doc_id") < 9000000L).count() === 0,
      "near-duplicate rows must be dropped by the index probe")
  }

  test("corpus release stream + eval index: the boilerplate exemption " +
    "bootstraps ACROSS micro-batch epochs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val feed = tmp("boot-feed")
    val wh = tmp("boot-wh")
    val ckpt = tmp("boot-ckpt")
    val suite = tmp("boot-suite")
    val store = new graft.store.TableStore(spark, s"$wh/tables")
    val boiler =
      "standard disclaimer all rights reserved contact support for more details"
    def batch(r: Int) = (1 to 12).map(d =>
      ((r * 100 + d).toLong,
        s"$boiler ${(1 to 25).map(i => s"r${r}d${d}w$i").mkString(" ")}",
        "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    (1 to 5).map(i =>
      (i.toLong, s"$boiler ${(1 to 25).map(j => s"ev${i}tok$j").mkString(" ")}"))
      .toDF("doc_id", "text")
      .write.parquet(s"$suite/documents.parquet")
    def feedFile(r: Int): Unit = {
      val t = tmp(s"boot-b$r")
      batch(r).coalesce(1).write.mode("overwrite").parquet(t)
      val part = new java.io.File(t).listFiles
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$feed/b$r.parquet"))
    }
    def drain(): Unit =
      graft.streaming.StreamingPipeline.corpusReleaseStream(
        spark, store, feed, s"$wh/tables", Some(suite), ckpt,
        dfCap = 30).awaitTermination()
    val cs = graft.run.DemoSources.CorpusRelease
    // epochs 1-2: each batch's boiler df (12) + accreted corpus df (0,
    // then 12) stays under the cap — every doc drops, but the offered
    // grams ACCRETE across the checkpointed epochs
    feedFile(1); drain()
    assert(store.readIfExists(cs.tableName).isEmpty, "epoch 1 fully dropped")
    feedFile(2); drain()
    assert(store.readIfExists(cs.tableName).isEmpty, "epoch 2 fully dropped")
    // epoch 3: 12 + 24 > cap — boilerplate is exempt, the batch lands
    feedFile(3); drain()
    val released = store.readIfExists(cs.tableName).get
    assert(released.count() === 12L,
      "the cap engages from accretion across micro-batch epochs")
    assert(released.agg(min("doc_id")).head().getLong(0) === 301L)
  }
}
