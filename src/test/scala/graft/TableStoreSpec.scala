package graft

import graft.core.{ColumnSpec, SourceConfig}
import graft.store.{Schemas, TableStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Direct contract tests for the versioned table store: pointer swaps,
  * segment appends, compaction, vacuum, and lock-serialized overwrites.
  */
class TableStoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def mkStore(): (TableStore, java.nio.file.Path) = {
    val root = Files.createTempDirectory("graft_store")
    (new TableStore(spark, root.toString), root)
  }

  private def df(values: Long*) = {
    val sp = spark
    import sp.implicits._
    values.toDF("x")
  }

  test("overwrite swaps the pointer; readers see exactly one version") {
    val (store, root) = mkStore()
    assert(!store.exists("t") && store.readIfExists("t").isEmpty)
    store.overwrite("t", df(1, 2))
    assert(store.readIfExists("t").get.count() == 2)
    store.overwrite("t", df(9))
    assert(store.readIfExists("t").get.count() == 1)
    // superseded version still on disk until vacuum
    val versions = Files.list(root.resolve("t")).toArray.map(_.toString)
      .count(_.contains("/v_"))
    assert(versions == 2)
    store.vacuum("t")
    assert(Files.list(root.resolve("t")).toArray.map(_.toString)
      .count(_.contains("/v_")) == 1)
    assert(store.readIfExists("t").get.head().getLong(0) == 9L)
  }

  test("appends are visible segments; overwrite compacts them away") {
    val (store, root) = mkStore()
    store.append("log", df(1))
    store.append("log", df(2, 3))
    assert(store.exists("log"))
    assert(store.readIfExists("log").get.count() == 3)
    // compaction: read-all + overwrite folds segments into one version
    store.overwrite("log", store.readIfExists("log").get)
    assert(store.readIfExists("log").get.count() == 3)
    assert(Files.list(root.resolve("log")).toArray.map(_.toString)
      .count(_.contains("/seg_")) == 0)
  }

  test("append after overwrite unions with the current version") {
    val (store, _) = mkStore()
    store.overwrite("t", df(1))
    store.append("t", df(2))
    assert(store.readIfExists("t").get.collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
  }

  test("a frame-memo overflow keeps the memoized merged schemas") {
    val (store, _) = mkStore()
    store.overwrite("t", df(1, 2))
    assert(store.readIfExists("t").get.count() == 2)
    val schemas = store.mergedSchemaMemo.keySet.toArray.toSet
    assert(schemas.nonEmpty && schemas.forall(store.unionedDfMemo.containsKey))
    // fill the frame memo to its bound; the next miss overflows it
    val filler = spark.emptyDataFrame
    (store.unionedDfMemo.size until TableStore.FrameMemoMax)
      .foreach(i => store.unionedDfMemo.put(s"filler$i", filler))
    store.overwrite("u", df(3))
    assert(store.readIfExists("u").get.count() == 1)
    assert(store.unionedDfMemo.size == 1)
    assert(schemas.forall(store.mergedSchemaMemo.containsKey),
      "a frame-memo overflow must not cost the schemas' footer passes")
    assert(store.readIfExists("t").get.collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
  }

  test("appendRows writes the segment an append of the same rows writes; " +
       "neither reuses a retired segment name") {
    val (store, root) = mkStore()
    val rows = Seq(
      Row(7L, "a.csv", "t", "start", new java.sql.Timestamp(1000L),
        null, null, null, null, null, null, null, null),
      Row(7L, "a.csv", null, "complete", new java.sql.Timestamp(2001L),
        true, 5L, 5L, 1L, 3L, 1L, null, null),
      Row(8L, "b.csv", "t", "error", new java.sql.Timestamp(-1000L),
        false, null, null, null, null, null, "NoDataInFileError", "no rows"))
    val empty = spark.createDataFrame(java.util.List.of[Row](), Schemas.LogSchema)
    // the next three ids each table would claim are retired: a segment
    // under one of those names would be hidden from readers
    def retireNext(t: String): Set[String] = {
      store.overwrite(t, empty)
      val pointer = root.resolve(t).resolve("_VERSION")
      val next = store.nextId()
      val retired = (next + 1 to next + 3).map(i => s"seg_$i").toSet
      Files.writeString(pointer, (Files.readString(pointer).trim +: retired.toSeq)
        .mkString("\n"))
      Files.deleteIfExists(pointer.resolveSibling("._VERSION.crc"))
      retired
    }
    val retiredA = retireNext("a")
    store.append("a", spark.createDataFrame(rows.asJava, Schemas.LogSchema).coalesce(1))
    val retiredR = retireNext("r")
    store.appendRows("r", Schemas.LogSchema, rows)

    def segFiles(t: String): Seq[java.nio.file.Path] = {
      val s = Files.walk(root.resolve(t))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          p.getParent.getFileName.toString.startsWith("seg_"))
      finally s.close()
    }
    val (segA, segR) = (segFiles("a"), segFiles("r"))
    assert(segA.size == 1 && segR.size == 1, s"$segA $segR")
    assert(!retiredA(segA.head.getParent.getFileName.toString))
    assert(!retiredR(segR.head.getParent.getFileName.toString))

    val (a, r) = (store.readIfExists("a").get, store.readIfExists("r").get)
    assert(a.schema == r.schema)
    def sorted(df: DataFrame) = df.orderBy("file_load_log_id", "event_time").collect().toSeq
    assert(sorted(r) == rows.sortBy(x => (x.getLong(0), x.getTimestamp(4).getTime)))
    assert(sorted(a) == sorted(r))
    // the files declare the same schema, nullability included
    def declared(p: java.nio.file.Path) = graft.core.ScanEstimate.parquetFooterWithSchema(
      spark, new org.apache.hadoop.fs.Path(p.toString)).map(_._2)
    assert(declared(segR.head) == Some(Schemas.LogSchema))
    assert(declared(segA.head) == declared(segR.head))
  }

  test("withTableLock serializes read-modify-write cycles") {
    val (store, _) = mkStore()
    store.overwrite("c", df(0))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = (1 to 8).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = store.withTableLock("c") {
          val cur = store.readIfExists("c").get.count()
          store.overwrite("c", df((0L until cur + 1).toSeq: _*))
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // each cycle added exactly one row: no lost updates
    assert(store.readIfExists("c").get.count() == 9)
  }

  test("compact folds segments past the threshold, no-ops below it") {
    val (store, root) = mkStore()
    def segCount() = Files.list(root.resolve("log")).toArray.map(_.toString)
      .count(_.contains("/seg_"))
    (1 to 4).foreach(i => store.append("log", df(i.toLong)))
    assert(!store.compact("log", maxSegments = 8), "below threshold: no-op")
    assert(segCount() == 4)
    assert(store.compact("log", maxSegments = 3), "past threshold: folds")
    assert(segCount() == 0)
    assert(store.readIfExists("log").get.count() == 4)
    // appends after the fold land on top of the new base version
    store.append("log", df(9))
    assert(store.readIfExists("log").get.count() == 5)
    assert(store.compact("log", maxSegments = 0))
    assert(store.readIfExists("log").get.collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L, 4L, 9L)))
  }

  // ---- O(delta) bucketed copy-on-write merge publish ----------------------

  private val btSource = SourceConfig(
    name = "bt", filePattern = "x.parquet", sourceType = "parquet",
    columns = Seq(ColumnSpec.long("id", nullable = false),
      ColumnSpec.string("v")),
    tableName = "bt", grain = Seq("id"))

  private def stageDf(rows: (Long, String)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("id", "v")
      .withColumn("etl_row_hash",
        xxhash64(concat_ws("|", col("id"), col("v"))))
      .withColumn("source_filename", lit("x.parquet"))
      .withColumn("file_load_log_id", lit(1L))
  }

  /** The store's bucket function, recomputed independently. */
  private def bucketsOf(n: Int, ids: Seq[Long]): Map[Long, Int] = {
    val sp = spark
    import sp.implicits._
    ids.toDF("id")
      .select(col("id"), pmod(xxhash64(col("id")), lit(n.toLong)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
  }

  /** (relative path -> (size, mtime)) for every data file under dir. */
  private def fileSnapshot(dir: java.nio.file.Path): Map[String, (Long, Long)] = {
    val s = Files.walk(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(p => dir.relativize(p).toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally s.close()
  }

  test("bucketed merge publish: O(delta) rewrite leaves untouched buckets byte-identical") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 8)
    val ids = (1L to 200L)
    val t0 = new java.sql.Timestamp(1000L)

    // first publish: all-insert, establishes the bucketed layout
    val c1 = store.publish("bt", stageDf(ids.map(i => i -> s"v$i"): _*),
      btSource, t0)
    assert(c1 == ((200L, 0L)))
    assert(store.readIfExists("bt").get.count() == 200)

    val tableDir = root.resolve("bt")
    val v1 = Files.list(tableDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.startsWith("v_")) match {
      case Array(only) => only
      case other => fail(s"expected one version dir, got ${other.length}")
    }
    val bucketByKey = bucketsOf(8, ids :+ 1000L)
    // a delta touching exactly the buckets of {1, 1000}
    val touched = Set(bucketByKey(1L), bucketByKey(1000L))
    val untouched = (0 until 8).toSet -- touched
    assert(untouched.nonEmpty, "test needs at least one untouched bucket")
    val before = untouched.map(b => b -> fileSnapshot(v1.resolve(s"_bucket=$b"))).toMap

    // delta publish: one update (id=1 new value) + one insert (id=1000)
    val t1 = new java.sql.Timestamp(2000L)
    val c2 = store.publish("bt",
      stageDf(1L -> "CHANGED", 1000L -> "v1000"), btSource, t1)
    assert(c2 == ((1L, 1L)))

    // untouched buckets: the exact same files, not rewritten copies
    untouched.foreach { b =>
      assert(fileSnapshot(v1.resolve(s"_bucket=$b")) == before(b),
        s"bucket $b was rewritten by a delta that never touched it")
    }
    // touched buckets migrated to the new version; vacuum pruned them from v1
    touched.foreach { b =>
      assert(!Files.exists(v1.resolve(s"_bucket=$b")),
        s"stale generation of touched bucket $b not pruned")
    }

    // merged contents are exact
    val got = store.readIfExists("bt").get
      .select("id", "v", "etl_created_at", "etl_updated_at")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    assert(got.size == 201)
    assert(got(1L) == (("CHANGED", t0, t1)), "updated row: new value, updated_at stamped")
    assert(got(2L) == (("v2", t0, null)), "untouched row survives unchanged")
    assert(got(1000L) == (("v1000", t1, null)), "inserted row stamped created_at")

    // idempotent republish of the same delta: hash-equal rows are no-ops
    val c3 = store.publish("bt",
      stageDf(1L -> "CHANGED", 1000L -> "v1000"), btSource,
      new java.sql.Timestamp(3000L))
    assert(c3 == ((0L, 0L)))
    assert(store.readIfExists("bt").get.count() == 201)
  }

  test("a first publish of an empty stage with a projection above its " +
       "repartition counts 0 inserts") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString)
    // a stage read from disk and filtered at run time to no rows, bucketed
    // for the first-publish layout, with a column dropped after the
    // repartition
    val src = root.resolve("src").toString
    stageDf(1L -> "a", 2L -> "b").withColumn("extra", lit(1)).write.parquet(src)
    val layout = store.firstPublishLayout("bt", btSource, 0L).get
    val g = Seq(col("id"))
    val stage = layout.withBucket(spark.read.parquet(src).filter(col("id") < 0), g)
      .repartition(layout.partitions, layout.keys(g): _*).drop("extra")
    assert(store.publish("bt", stage, btSource, new java.sql.Timestamp(1000L),
      stageRows = Some(0L), epoch = None) == ((0L, 0L)))
    assert(store.readIfExists("bt").forall(_.isEmpty))
  }

  test("bucketed merge adopts a legacy (unbucketed) target via one-time migration") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 4)
    // legacy layout: created by plain overwrite (pre-bucket era)
    store.overwrite("m", stageDf(1L -> "a", 2L -> "b")
      .withColumn("etl_created_at", lit(new java.sql.Timestamp(1L)))
      .withColumn("etl_updated_at", lit(null).cast("timestamp")))
    val c = store.publish("m", stageDf(2L -> "B2", 3L -> "c"),
      btSource.copy(tableName = "m"), new java.sql.Timestamp(2000L))
    assert(c == ((1L, 1L)))
    val got = store.readIfExists("m").get.select("id", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    // now bucketed: a second delta leaves other buckets' files alone
    val c2 = store.publish("m", stageDf(4L -> "d"),
      btSource.copy(tableName = "m"), new java.sql.Timestamp(3000L))
    assert(c2 == ((1L, 0L)))
    assert(store.readIfExists("m").get.count() == 4)
  }

  test("rebucket resizes a coarse table from current rows and preserves contents") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 64)
    val src = btSource.copy(tableName = "r")
    // tiny first file pins the floor bucket count (16)
    store.publish("r", stageDf(1L -> "a"), src, new java.sql.Timestamp(1000L))
    def bucketDirs(): Int = {
      val v = new String(Files.readAllBytes(root.resolve("r").resolve("_VERSION"))).trim
      Files.list(root.resolve("r").resolve(v)).toArray
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .count(_.startsWith("_bucket="))
    }
    assert(bucketDirs() <= 16)
    // the table then grows far past the floor's granularity
    val sp = spark
    import sp.implicits._
    val big = sp.range(2L, 70002L).select(col("id"),
        concat(lit("v"), col("id")).as("v"))
      .withColumn("etl_row_hash", xxhash64(concat_ws("|", col("id"), col("v"))))
      .withColumn("source_filename", lit("x.parquet"))
      .withColumn("file_load_log_id", lit(1L))
    store.publish("r", big, src, new java.sql.Timestamp(2000L))
    assert(store.readIfExists("r").get.count() == 70001)
    // rebucket resizes from CURRENT rows: 70001/4096 -> 32 buckets
    assert(store.rebucket("r", Seq("id")).contains(32))
    assert(bucketDirs() == 32)
    val got = store.readIfExists("r").get
    assert(got.count() == 70001)
    assert(got.filter(col("id") === 1L).head().getString(1) == "a")
    // subsequent deltas merge into the NEW layout
    val c = store.publish("r", stageDf(1L -> "a2"), src,
      new java.sql.Timestamp(3000L))
    assert(c == ((0L, 1L)))
  }

  test("maybeRebucket upgrades an outgrown pinned layout automatically " +
    "and reads stay identical") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 128)
    val src = btSource.copy(tableName = "g")
    // tiny first file pins the floor bucket count
    store.publish("g", stageDf(1L -> "a"), src,
      new java.sql.Timestamp(1000L))
    def bucketDirs(): Int = {
      val v = new String(
        Files.readAllBytes(root.resolve("g").resolve("_VERSION"))).trim
      Files.list(root.resolve("g").resolve(v)).toArray
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .count(_.startsWith("_bucket="))
    }
    assert(bucketDirs() <= 16)
    // under the divergence bound the policy is a no-op
    assert(store.maybeRebucket("g", Seq("id")).isEmpty)
    // ~1000x growth past the pinned granularity
    val sp = spark
    import sp.implicits._
    val big = sp.range(2L, 530002L).select(col("id"),
        concat(lit("v"), col("id")).as("v"))
      .withColumn("etl_row_hash",
        xxhash64(concat_ws("|", col("id"), col("v"))))
      .withColumn("source_filename", lit("x.parquet"))
      .withColumn("file_load_log_id", lit(1L))
    store.publish("g", big, src, new java.sql.Timestamp(2000L))
    def contentHash(): Long = store.readIfExists("g").get
      .agg(expr("bit_xor(xxhash64(id, v))")).head().getLong(0)
    val h0 = contentHash()
    // the post-publish policy call (what the publish loops run) folds the
    // table to the sizing rule's choice
    assert(store.maybeRebucket("g", Seq("id")).contains(128))
    assert(bucketDirs() === 128)
    assert(contentHash() === h0, "fold must preserve contents exactly")
    // at max granularity the policy skips even the row-count gauge
    assert(store.maybeRebucket("g", Seq("id")).isEmpty)
    // subsequent deltas merge into the NEW layout
    val c = store.publish("g", stageDf(1L -> "a2"), src,
      new java.sql.Timestamp(3000L))
    assert(c == ((0L, 1L)))
  }

  test("readBuckets reads ONLY the requested buckets' files; " +
    "plannedBuckets matches the merge's own probe; un-manifested " +
    "tables fall back to the full read") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 8)
    val src = btSource.copy(tableName = "pb")
    store.publish("pb", stageDf((1L to 400L).map(i => i -> s"v$i"): _*),
      src, new java.sql.Timestamp(1000L))
    val delta = stageDf(1L -> "x", 2L -> "y", 3L -> "z")
    val planned = store.plannedBuckets("pb", Seq("id"), delta)
    assert(planned.isDefined)
    val (n, touched) = planned.get
    assert(n === 8)
    assert(touched === bucketsOf(8, Seq(1L, 2L, 3L)).values.toSet)
    assert(touched.size < 8, "test needs untouched buckets")
    val slice = store.readBuckets("pb", touched).get
    // the file-access pin: every input file lives under a requested
    // _bucket= dir — path-level pruning, not a post-hoc filter
    val files = slice.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f =>
      touched.exists(b => f.contains(s"_bucket=$b/"))),
      s"pruned read opened a foreign bucket:\n${files.mkString("\n")}")
    assert(files.size < store.readIfExists("pb").get.inputFiles.size)
    // the pruned slice IS the table restricted to those buckets
    val full = store.readIfExists("pb").get
    val expected = full
      .withColumn("_b", pmod(xxhash64(col("id")), lit(8L)))
      .filter(col("_b").isin(touched.toSeq.map(_.toLong): _*))
    assert(slice.count() === expected.count())
    assert(slice.join(expected.select("id"), Seq("id"), "left_semi")
      .count() === slice.count())
    // no requested bucket owns files -> None (those rows don't exist)
    assert(store.readBuckets("pb", Set.empty[Int]).isEmpty)
    // a plain-overwrite (un-manifested) table: correctness over pruning —
    // the fallback is the FULL read, and plannedBuckets declines
    store.overwrite("plain", stageDf(1L -> "a", 2L -> "b"))
    assert(store.plannedBuckets("plain", Seq("id"), delta).isEmpty)
    assert(store.readBuckets("plain", Set(0)).get.count() === 2)
  }

  test("publish merges user-partitioned targets (layout preserved)") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString)
    val src = btSource.copy(tableName = "p", targetPartitionBy = Seq("v"))
    assert(store.publish("p", stageDf(1L -> "a", 2L -> "b"), src,
      new java.sql.Timestamp(0L)) == ((2L, 0L)))
    // one update (2) and one insert (3); 1 is carried unchanged
    assert(store.publish("p", stageDf(2L -> "B2", 3L -> "c"), src,
      new java.sql.Timestamp(1000L)) == ((1L, 1L)))
    def children(d: java.nio.file.Path, prefix: String): Seq[String] = {
      val s = Files.list(d)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith(prefix)).sorted.toSeq
      finally s.close()
    }
    // the superseded version was vacuumed inline: one live version dir
    val versions = children(root.resolve("p"), "v_")
    assert(versions.size == 1, s"expected one live version, got $versions")
    // the user's hive layout, not grain buckets
    assert(children(root.resolve("p").resolve(versions.head), "v=") ==
      Seq("v=B2", "v=a", "v=c"))
    assert(children(root.resolve("p").resolve(versions.head), "_bucket=").isEmpty)
    val got = store.readIfExists("p").get
      .select("id", "v", "etl_created_at", "etl_updated_at").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3))).toMap
    val (t0, t1) = (new java.sql.Timestamp(0L), new java.sql.Timestamp(1000L))
    assert(got == Map(1L -> (("a", t0, null)), 2L -> (("B2", t0, t1)),
      3L -> (("c", t1, null))))
  }

  test("snapshot pins merge-published state across publishes and vacuums; " +
       "drop releases the pinned generations") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 8)
    val ids = (1L to 200L)
    store.publish("bt", stageDf(ids.map(i => i -> s"v$i"): _*),
      btSource, new java.sql.Timestamp(1000L))
    store.snapshot("bt", "run1")
    assert(store.listSnapshots("bt") == Seq("run1"))

    val tableDir = root.resolve("bt")
    val v1 = Files.list(tableDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.startsWith("v_")) match {
      case Array(only) => only
      case other => fail(s"expected one version dir, got ${other.length}")
    }
    val touched = Set(bucketsOf(8, Seq(1L))(1L), bucketsOf(8, Seq(1000L))(1000L))

    // delta publish (merge runs vacuum internally): without the snapshot,
    // v1's touched-bucket generations would be pruned here
    store.publish("bt", stageDf(1L -> "CHANGED", 1000L -> "v1000"),
      btSource, new java.sql.Timestamp(2000L))
    store.vacuum("bt") // belt and braces: an explicit pass must also hold
    touched.foreach(b => assert(Files.exists(v1.resolve(s"_bucket=$b")),
      s"snapshot-pinned generation of bucket $b was vacuumed"))

    // pinned read = the pre-delta table, bit-for-bit semantics
    val snap = store.readSnapshot("bt", "run1").get
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap.size == 200 && snap(1L) == "v1" && !snap.contains(1000L))
    val cur = store.readIfExists("bt").get
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur.size == 201 && cur(1L) == "CHANGED" && cur(1000L) == "v1000")

    // drop + vacuum returns the table to the ~1x storage bound
    assert(store.dropSnapshot("bt", "run1"))
    assert(!store.dropSnapshot("bt", "run1"))
    store.vacuum("bt")
    touched.foreach(b => assert(!Files.exists(v1.resolve(s"_bucket=$b")),
      s"bucket $b's superseded generation survived drop + vacuum"))
    assert(store.readSnapshot("bt", "run1").isEmpty)
    assert(store.readIfExists("bt").get.count() == 201)
  }

  test("per-pin file manifest: a snapshot reads EXACTLY the files pinned " +
       "at tag time — a foreign file landing in a pinned bucket dir " +
       "later cannot widen the read") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 8)
    store.publish("bt", stageDf((1L to 50L).map(i => i -> s"v$i"): _*),
      btSource, new java.sql.Timestamp(1000L))
    store.snapshot("bt", "pin")
    // the pin carries the Delta/Iceberg-style file list (F\t lines)
    val pinText = new String(java.nio.file.Files.readAllBytes(
      root.resolve("bt").resolve("_snapshots").resolve("pin")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(pinText.split('\n').count(_.startsWith("F\t")) > 0,
      "pin must record its base files")
    assert(store.readSnapshot("bt", "pin").get.count() === 50L)
    // simulate a non-protocol writer: duplicate an existing bucket file
    // under a new name inside a PINNED bucket dir (valid parquet, same
    // schema — the worst case, indistinguishable to a dir-based read)
    val bucketFile = Files.walk(root.resolve("bt")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(p => p.toString.contains("_bucket=") &&
        p.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail("no bucket parquet file found"))
    Files.copy(bucketFile,
      bucketFile.getParent.resolve("part-foreign.parquet"))
    // the live (dir-based) read DOES see the foreign rows — proof the
    // file is visible — while the pinned read stays frozen at pin time
    assert(store.readIfExists("bt").get.count() > 50L)
    assert(store.readSnapshot("bt", "pin").get.count() === 50L)
  }

  test("per-pin file manifest covers hive-partitioned overwrite " +
       "versions: the listing is recursive, partition columns survive " +
       "the file-level read, and a foreign file cannot widen the pin") {
    val (store, root) = mkStore()
    val sp = spark
    import sp.implicits._
    val d = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("x", "src")
    store.overwrite("pt", d, partitionBy = Seq("src"))
    store.snapshot("pt", "pin")
    // r16's flat listing produced an EMPTY F-list here (files nest under
    // src= subdirs), silently downgrading the pin to dir-level semantics
    val pinText = new String(java.nio.file.Files.readAllBytes(
      root.resolve("pt").resolve("_snapshots").resolve("pin")),
      java.nio.charset.StandardCharsets.UTF_8)
    val fLines = pinText.split('\n').filter(_.startsWith("F\t"))
    assert(fLines.nonEmpty, "partitioned pin must record its base files")
    assert(fLines.forall(_.contains("src=")),
      "recorded paths must be partition-relative")
    val snap = store.readSnapshot("pt", "pin").get
    assert(snap.columns.sorted === Array("src", "x"),
      "partition columns must survive the file-level pinned read")
    assert(snap.collect().map(r => (r.getAs[Long]("x"), r.getAs[String]("src")))
      .sortBy(_._1).toSeq === Seq((1L, "a"), (2L, "a"), (3L, "b")))
    // foreign file landing inside a PINNED partition dir after the pin:
    // live read sees it, the pinned read stays frozen
    val partFile = Files.walk(root.resolve("pt")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(p => p.toString.contains("src=") &&
        p.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail("no partitioned parquet file found"))
    Files.copy(partFile,
      partFile.getParent.resolve("part-foreign.parquet"))
    assert(store.readIfExists("pt").get.count() > 3L)
    assert(store.readSnapshot("pt", "pin").get.count() === 3L)
    // a later overwrite doesn't disturb the pin either
    store.overwrite("pt", Seq((9L, "z")).toDF("x", "src"),
      partitionBy = Seq("src"))
    assert(store.readSnapshot("pt", "pin").get.count() === 3L)
  }

  test("partitioned pin WITH an append segment: the nested file manifest " +
       "unions the segment (partition cols are data cols there) and the " +
       "pin stays frozen through a later overwrite") {
    val (store, root) = mkStore()
    val sp = spark
    import sp.implicits._
    store.overwrite("ps", Seq((1L, "a"), (2L, "b")).toDF("x", "src"),
      partitionBy = Seq("src"))
    store.append("ps", Seq((3L, "c")).toDF("x", "src"))
    store.snapshot("ps", "pin")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("x", "src").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val expected = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    assert(rows(store.readSnapshot("ps", "pin").get) === expected)
    // the overwrite folds the segment into a fresh partitioned version;
    // the pin keeps serving the recorded files + the name-pinned segment
    store.overwrite("ps", Seq((9L, "z")).toDF("x", "src"),
      partitionBy = Seq("src"))
    assert(rows(store.readIfExists("ps").get) === Seq((9L, "z")))
    assert(rows(store.readSnapshot("ps", "pin").get) === expected)
  }

  test("snapshot parser skips unknown tab-prefixed line types instead " +
       "of force-parsing them as bucket lines (forward compatibility)") {
    val (store, root) = mkStore()
    store.overwrite("t", df(1, 2))
    store.snapshot("t", "s")
    val pin = root.resolve("t").resolve("_snapshots").resolve("s")
    // a future pin-line type this reader has never heard of: the r16
    // shape crashed older readers on "F".toInt — r17+ readers degrade to
    // the semantics they know
    java.nio.file.Files.write(pin,
      "\nZ\tsome/future/metadata".getBytes(
        java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    // the raw append invalidates the local-FS checksum sidecar; a real
    // future writer would go through the FS client — drop the stale crc
    java.nio.file.Files.deleteIfExists(
      pin.getParent.resolve(s".${pin.getFileName}.crc"))
    assert(store.readSnapshot("t", "s").get.collect()
      .map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
  }

  test("snapshot of an overwrite table pins the old version through vacuum") {
    val (store, root) = mkStore()
    store.overwrite("t", df(1, 2))
    store.snapshot("t", "s")
    store.overwrite("t", df(9)) // overwrite vacuums internally
    assert(store.readSnapshot("t", "s").get.collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
    assert(store.readIfExists("t").get.head().getLong(0) == 9L)
    assert(store.dropSnapshot("t", "s"))
    store.vacuum("t")
    assert(Files.list(root.resolve("t")).toArray.map(_.toString)
      .count(_.contains("/v_")) == 1)
  }

  test("snapshot fails loud on duplicate and bad tags; force re-pins " +
       "atomically; a pin over a live append segment survives the fold") {
    val (store, root) = mkStore()
    intercept[IllegalStateException](store.snapshot("none", "s"))
    store.overwrite("t", df(1))
    store.append("t", df(2))
    // segments are pinnable by name: the pin reads base + segment now...
    store.snapshot("t", "seg-pin")
    assert(store.readSnapshot("t", "seg-pin").get.collect()
      .map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
    // ...and after the fold RETIRES the live segment — a pointer-file
    // fact: the dir never moves, so the pinned read's path is stable —
    // the tag still serves the exact state
    store.overwrite("t", store.readIfExists("t").get) // fold the segment
    assert(Files.list(root.resolve("t")).toArray.map(_.toString)
      .count(_.contains("/seg_")) == 1,
      "pinned segment dir stays at its live path")
    assert(!Files.exists(root.resolve("t").resolve("_pinned")),
      "retirement never renames")
    val ptr = Files.readString(root.resolve("t").resolve("_VERSION"))
    assert(ptr.linesIterator.drop(1).exists(_.startsWith("seg_")),
      "the pointer swing itself carries the retired name")
    assert(store.readSnapshot("t", "seg-pin").get.collect()
      .map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
    assert(store.readIfExists("t").get.count() == 2,
      "live read excludes the retired dir — no double count")
    // dropping the tag reclaims the retired segment dir on the next vacuum
    assert(store.dropSnapshot("t", "seg-pin"))
    store.vacuum("t")
    assert(Files.list(root.resolve("t")).toArray.map(_.toString)
      .count(_.contains("/seg_")) == 0, "dropped tag: dir reclaimed")

    store.snapshot("t", "s")
    intercept[IllegalStateException](store.snapshot("t", "s"))
    intercept[IllegalArgumentException](store.snapshot("t", "../evil"))
    assert(store.readSnapshot("t", "nope").isEmpty)
    store.overwrite("t", df(7, 8, 9))
    store.snapshot("t", "s", force = true)
    assert(store.readSnapshot("t", "s").get.count() == 3)
  }

  test("snapshot of a merge-on-read target mid-stream: the pin survives " +
       "upsert-segment folds and serves the exact pinned resolution") {
    val root = Files.createTempDirectory("graft_store")
    // morCompactSegments = 3: the third upsert publish triggers the fold
    val store = new TableStore(spark, root.toString, publishBuckets = 8,
      morCompactSegments = 3)
    val src = btSource.copy(name = "mor", tableName = "mor", mergeOnRead = true)
    def publish(rows: (Long, String)*): Unit = {
      store.withTableLock("mor") {
        store.publish("mor", stageDf(rows: _*), src,
          new java.sql.Timestamp(1000L))
      }
      ()
    }
    publish((1L to 40L).map(i => i -> s"v$i"): _*) // bucketed base
    publish(1L -> "u1", 41L -> "v41")              // useg 1
    publish(2L -> "u2")                            // useg 2
    // pin mid-stream: base + two live upsert segments
    store.snapshot("mor", "mid")
    val pinned = store.readSnapshot("mor", "mid").get
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pinned.size == 41 && pinned(1L) == "u1" && pinned(2L) == "u2" &&
      pinned(41L) == "v41" && pinned(3L) == "v3")

    // the NEXT upsert publish reaches morCompactSegments and folds all
    // segments into a new bucketed base, retiring the pinned ones IN
    // PLACE (pointer-file fact; only the unpinned third dir is deleted)
    publish(3L -> "u3", 42L -> "v42")
    assert(Files.list(root.resolve("mor")).toArray.map(_.toString)
      .count(_.contains("/useg_")) == 2,
      "exactly the two pinned segment dirs stay, at their live paths")
    assert(!Files.exists(root.resolve("mor").resolve("_pinned")),
      "retirement never renames")
    val after = store.readSnapshot("mor", "mid").get
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after === pinned, "pin must serve the pre-fold resolution")
    val cur = store.readIfExists("mor").get
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur.size == 42 && cur(3L) == "u3" && cur(42L) == "v42")

    // CDC declines bucket pruning for a segment-carrying pin but the
    // degraded full diff is exact: changes since the pin = u3 + insert 42
    assert(store.snapshotChangedBuckets("mor", "mid").isEmpty)
    val feed = store.snapshotDelta("mor", "mid").get
      .select("id", "v", "change").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(feed === Map(3L -> ("u3", "update"), 42L -> ("v42", "insert")))

    // drop + vacuum reclaims the retired segment dirs
    assert(store.dropSnapshot("mor", "mid"))
    store.vacuum("mor")
    assert(Files.list(root.resolve("mor")).toArray.map(_.toString)
      .count(_.contains("/useg_")) == 0, "dropped tag: dirs reclaimed")
    assert(store.readIfExists("mor").get.count() == 42)
  }

  test("deleteRows: bucket-pruned copy-on-write delete — untouched " +
       "buckets carry forward, emptied layouts read as absent, CDC " +
       "reports the rows as deletes") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 8)
    val ids = (1L to 200L)
    store.publish("bt", stageDf(ids.map(i => i -> s"v$i"): _*),
      btSource, new java.sql.Timestamp(1000L))
    store.snapshot("bt", "pre")

    val del = store.deleteRows("bt", Seq(1L, 9L).toDF("id"), Seq("id"))
    assert(del === 2L)
    val left = store.readIfExists("bt").get.select("id").collect()
      .map(_.getLong(0)).toSet
    assert(left.size === 198 && !left(1L) && !left(9L))
    // pruning pin: ONLY the keys' buckets changed ownership — everything
    // else still reads from the pre-delete version's dirs
    val keyBuckets = bucketsOf(8, Seq(1L, 9L)).values.toSet
    assert(store.snapshotChangedBuckets("bt", "pre").get === keyBuckets)
    // CDC since the pre-delete pin: exactly the two deletes
    val feed = store.snapshotDelta("bt", "pre").get
      .select("id", "change").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feed === Map(1L -> "delete", 9L -> "delete"))
    // the pinned read still serves the pre-delete rows (takedown vs
    // provenance is the caller's tag-drop decision)
    assert(store.readSnapshot("bt", "pre").get.count() === 200L)

    // absent keys delete nothing and change nothing
    assert(store.deleteRows("bt", Seq(5000L).toDF("id"), Seq("id")) === 0L)
    assert(store.readIfExists("bt").get.count() === 198L)

    // deleting EVERY row empties the manifest: the table reads as absent
    // (carrying emptied buckets forward would resurrect rows) and a
    // fresh publish re-establishes it
    assert(store.deleteRows("bt", ids.toDF("id"), Seq("id")) === 198L)
    assert(store.readIfExists("bt").isEmpty)
    store.publish("bt", stageDf(7L -> "back"), btSource,
      new java.sql.Timestamp(2000L))
    assert(store.readIfExists("bt").get.count() === 1L)
  }

  test("deleteRows: key columns are cast to the table's grain types " +
       "before bucket hashing — an IntegerType key frame on a LongType " +
       "grain deletes instead of silently missing its buckets") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 8)
    store.publish("bt2", stageDf((1L to 50L).map(i => i -> s"v$i"): _*),
      btSource, new java.sql.Timestamp(1000L))
    // keys arriving as INT (a takedown list parsed narrow): the equi-join
    // matches via implicit cast either way, but the bucket hash of the
    // RAW IntegerType named the wrong buckets — a 0-row "successful"
    // takedown, the silent failure mode a compliance primitive can't have
    val intKeys = Seq(3, 7).toDF("id")
    assert(intKeys.schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(store.deleteRows("bt2", intKeys, Seq("id")) === 2L)
    val left = store.readIfExists("bt2").get.select("id").collect()
      .map(_.getLong(0)).toSet
    assert(!left(3L) && !left(7L) && left.size === 48)
    // a grain column absent from the table schema fails loud, pre-read
    intercept[IllegalArgumentException] {
      store.deleteRows("bt2", Seq(1L).toDF("nope"), Seq("nope"))
    }
    // grain names resolve with the session's resolver (case-insensitive
    // by default, like the equi-joins themselves): a valid grain in
    // different case deletes — it must not throw where `col("ID")`
    // would have resolved fine
    assert(store.deleteRows("bt2", Seq(9L).toDF("ID"), Seq("ID")) === 1L)
  }

  test("a snapshot read resolved BEFORE a fold materializes exactly " +
       "AFTER it: pinned segment paths are stable across retirement") {
    val (store, _) = mkStore()
    store.overwrite("t", df(1))
    store.append("t", df(2))
    store.snapshot("t", "pin")
    // paths resolve NOW — under the round-14 rename-based retirement this
    // plan died with FileNotFoundException if a fold landed before the
    // action; retirement is a pointer-file fact now and dirs never move
    val resolvedEarly = store.readSnapshot("t", "pin").get
    store.overwrite("t", store.readIfExists("t").get) // fold + retire
    assert(resolvedEarly.collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
    // a fresh post-fold resolution serves the same pinned state
    assert(store.readSnapshot("t", "pin").get.count() == 2)
  }

  test("schema evolution: a config gaining a column merges without " +
       "rewriting untouched buckets, and mixed generations read as one " +
       "schema with typed nulls") {
    val sp = spark
    import sp.implicits._
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 8)
    val ids = (1L to 200L)
    store.publish("bt", stageDf(ids.map(i => i -> s"v$i"): _*),
      btSource, new java.sql.Timestamp(1000L))
    store.snapshot("bt", "pre-evolve")
    val v1 = Files.list(root.resolve("bt")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("v_")).head

    // the model GROWS a column; the evolved stage hashes over all three
    val src2 = btSource.copy(columns =
      btSource.columns :+ ColumnSpec.string("w"))
    def stage2(rows: (Long, String, String)*): DataFrame =
      rows.toDF("id", "v", "w")
        .withColumn("etl_row_hash",
          xxhash64(concat_ws("|", col("id"), col("v"), col("w"))))
        .withColumn("source_filename", lit("x.parquet"))
        .withColumn("file_load_log_id", lit(1L))
    val touched = Set(bucketsOf(8, Seq(1L))(1L), bucketsOf(8, Seq(1000L))(1000L))
    val untouched = (0 until 8).toSet -- touched
    val before = untouched.map(b =>
      b -> fileSnapshot(v1.resolve(s"_bucket=$b"))).toMap

    // pre-fix this publish threw AnalysisException (target lacks `w`)
    val c = store.publish("bt",
      stage2((1L, "CHANGED", "W1"), (1000L, "v1000", "W1000")),
      src2, new java.sql.Timestamp(2000L))
    assert(c == ((1L, 1L)))
    // evolution did NOT rewrite untouched buckets
    untouched.foreach(b => assert(
      fileSnapshot(v1.resolve(s"_bucket=$b")) == before(b),
      s"schema evolution rewrote untouched bucket $b"))

    // one union schema over mixed generations: old rows read w as null
    // regardless of which bucket file the schema would be sampled from
    val got = store.readIfExists("bt").get.select("id", "v", "w").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got.size == 201)
    assert(got(1L) == ("CHANGED", "W1") && got(1000L) == ("v1000", "W1000"))
    assert(got(2L) == ("v2", null), "pre-evolution row must read w as null")

    // CDC across the evolution: pinned side lacks w entirely, the feed
    // still serves current rows + change types off the hash comparison
    val feed = store.snapshotDelta("bt", "pre-evolve").get
      .select("id", "w", "change").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(feed === Map(1L -> ("W1", "update"), 1000L -> ("W1000", "insert")))

    // merge-on-read: an evolved upsert segment beside the old base
    // resolves with nulls for pre-evolution rows
    val morSrc = btSource.copy(name = "morE", tableName = "morE",
      mergeOnRead = true)
    store.publish("morE", stageDf((1L to 40L).map(i => i -> s"v$i"): _*),
      morSrc, new java.sql.Timestamp(1000L))
    store.publish("morE", stage2((1L, "u1", "W1"), (41L, "v41", "W41")),
      morSrc.copy(columns = morSrc.columns :+ ColumnSpec.string("w")),
      new java.sql.Timestamp(2000L))
    val mor = store.readIfExists("morE").get.select("id", "v", "w").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(mor.size == 41)
    assert(mor(1L) == ("u1", "W1") && mor(41L) == ("v41", "W41"))
    assert(mor(2L) == ("v2", null))
  }

  test("chaos: a crash between the fold's pointer swing and disposal " +
       "leaves both reads exact; vacuum GCs the invisible leftovers") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 8,
      morCompactSegments = 3)
    val src = btSource.copy(name = "mor", tableName = "mor", mergeOnRead = true)
    def publish(rows: (Long, String)*): Unit = {
      store.withTableLock("mor") {
        store.publish("mor", stageDf(rows: _*), src,
          new java.sql.Timestamp(1000L))
      }
      ()
    }
    def liveSegs() = Files.list(root.resolve("mor")).toArray
      .map(_.toString).count(_.contains("/useg_"))
    publish((1L to 40L).map(i => i -> s"v$i"): _*)
    publish(1L -> "u1", 41L -> "v41")
    publish(2L -> "u2")
    store.snapshot("mor", "mid")
    val pinned = store.readSnapshot("mor", "mid").get
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // the fold's pointer swings, then the process dies before disposal.
    // The swing itself retired the folded segments (their names ride in
    // the pointer file), so the crash leaves dirs on disk but NO window
    // where the folded base and its folded segments are both visible.
    graft.core.Chaos.arm("store.before-retire")
    try intercept[graft.core.Chaos.ChaosKill](publish(3L -> "u3", 42L -> "v42"))
    finally graft.core.Chaos.disarm()
    assert(liveSegs() == 3, "crash left the folded segment DIRS on disk")
    // live read: the retired dirs are invisible — the folded base alone,
    // exact, no replay needed and no double count possible
    val crashed = store.readIfExists("mor").get
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(crashed.size == 42 && crashed(3L) == "u3" && crashed(42L) == "v42")
    // pinned read: retired dirs stay at their live paths
    assert(store.readSnapshot("mor", "mid").get
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === pinned)

    // self-heal is pure GC: the next vacuum deletes the crashed publish's
    // unpinned leftover and keeps the two the pin recorded, in place
    store.vacuum("mor")
    assert(liveSegs() == 2, "vacuum reclaimed only the unpinned leftover")
    assert(!Files.exists(root.resolve("mor").resolve("_pinned")),
      "retirement never renames")
    // the table keeps publishing normally: retired dirs don't count
    // toward the fold threshold, and a fresh segment lands beside them
    publish(4L -> "u4")
    assert(liveSegs() == 3, "2 retired-pinned dirs + 1 fresh live segment")
    val healed = store.readIfExists("mor").get
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(healed.size == 42 && healed(4L) == "u4" && healed(3L) == "u3")
    assert(store.readSnapshot("mor", "mid").get
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === pinned)
    // dropping the tag releases the last references; vacuum leaves only
    // the live segment
    assert(store.dropSnapshot("mor", "mid"))
    store.vacuum("mor")
    assert(liveSegs() == 1)
    assert(store.readIfExists("mor").get.count() == 42)
  }

  test("snapshotDelta: bucket-pruned CDC feed since a tag — changed " +
       "buckets only on both sides, values equal to the naive full diff") {
    val root = Files.createTempDirectory("graft_store")
    val store = new TableStore(spark, root.toString, publishBuckets = 8)
    val ids = (1L to 200L)
    store.publish("bt", stageDf(ids.map(i => i -> s"v$i"): _*),
      btSource, new java.sql.Timestamp(1000L))
    store.snapshot("bt", "run1")
    // update key 1, insert key 1000
    store.publish("bt", stageDf(1L -> "CHANGED", 1000L -> "v1000"),
      btSource, new java.sql.Timestamp(2000L))

    // O(1) metadata answer: exactly the merge's touched buckets
    val touched = Set(bucketsOf(8, Seq(1L))(1L), bucketsOf(8, Seq(1000L))(1000L))
    assert(store.snapshotChangedBuckets("bt", "run1").get === touched)

    val delta = store.snapshotDelta("bt", "run1").get
    // the feed: one insert, one update, current row payloads
    val rows = delta.select("id", "v", "change").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows === Map(1L -> ("CHANGED", "update"),
                        1000L -> ("v1000", "insert")))
    // pruning pin: every file opened (either side, either generation)
    // belongs to a changed bucket — the other 6-7 buckets' ~198 rows are
    // never read
    val opened = delta.inputFiles.toSeq
    assert(opened.nonEmpty)
    opened.foreach { f =>
      assert(touched.exists(b => f.contains(s"_bucket=$b/")),
        s"CDC read opened an unchanged bucket's file: $f")
    }
    // values equal the naive full two-sided diff
    val snapM = store.readSnapshot("bt", "run1").get
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val curM = store.readIfExists("bt").get
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val naive = (snapM.keySet ++ curM.keySet).flatMap { k =>
      (snapM.get(k), curM.get(k)) match {
        case (None, Some(v))            => Some(k -> (v, "insert"))
        case (Some(_), None)            => Some(k -> (null: String, "delete"))
        case (Some(a), Some(b)) if a != b => Some(k -> (b, "update"))
        case _                          => None
      }
    }.toMap
    assert(rows === naive)

    // a tag pinned at the current state yields an empty feed and an
    // empty changed-bucket set (nothing republished since)
    store.snapshot("bt", "run2")
    assert(store.snapshotChangedBuckets("bt", "run2").get.isEmpty)
    assert(store.snapshotDelta("bt", "run2").get.count() === 0L)
    // missing tag -> None, like readSnapshot
    assert(store.snapshotDelta("bt", "nope").isEmpty)
  }

  test("snapshotDelta degrades to a correct full diff when the layouts " +
       "don't line up (plain-overwrite table), and detects deletes there") {
    val (store, _) = mkStore()
    store.overwrite("t", df(1, 2, 3))
    store.snapshot("t", "s")
    store.overwrite("t", df(2, 3, 4, 5))
    // un-manifested on both sides: no shared bucket id space to prune in
    assert(store.snapshotChangedBuckets("t", "s").isEmpty)
    // no recorded grain: the key must be passed explicitly
    intercept[IllegalArgumentException](store.snapshotDelta("t", "s"))
    val rows = store.snapshotDelta("t", "s", grainOverride = Seq("x"))
      .get.select("x", "change").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // grain-only table: insert/delete are the only detectable changes
    assert(rows === Map(1L -> "delete", 4L -> "insert", 5L -> "insert"))
  }
}
