package graft.store

import graft.core.SourceConfig
import graft.operators.Publish
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions.{col, lit, max_by, md5, struct, to_json, when}
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

/** Versioned parquet table layer — the engine's durable store.
  *
  * Replaces the reference's RDBMS tables (targets, file_load_log,
  * file_load_dlq — reference src/process/db.py:92-209) with a minimal
  * copy-on-write table format:
  *
  *   root/<table>/v_<n>/      parquet data versions
  *   root/<table>/_VERSION    pointer: current version + retired seg names
  *
  * Readers resolve the pointer then scan exactly one version directory;
  * writers produce a NEW version directory and atomically swap the pointer
  * (create temp + rename — rename is atomic on HDFS and local FS). This is
  * what makes the merge-publish rewrite safe: the old version keeps serving
  * until the pointer flips, and a crashed writer leaves only an orphaned
  * directory, never a half-visible table. The same mechanism backs the
  * DLQ-cleanup rewrite (a filter + swap instead of SQL DELETE loops,
  * reference src/pipeline/delete/base.py:31-76).
  *
  * At 100 TB scale each version write is a fully parallel parquet job; the
  * pointer swap is O(1) driver metadata. (A production deployment would use
  * Delta/Iceberg — same design, hardened.)
  *
  * == O(delta) bucketed copy-on-write publish ==
  *
  * A naive versioned publish rewrites the WHOLE target per file — fatal at
  * 100 TB where each drop-file is a sliver of the accumulated table. The
  * [[publish]] path instead lays targets out in `publishBuckets`
  * grain-hash bucket directories (`_bucket=K/`, K = pmod(xxhash64(grain),
  * N)) and each version carries a `_MANIFEST` file mapping every bucket to
  * the version directory that OWNS its current files. A publish:
  *
  *   1. computes the stage's touched buckets (≤N small ints, one
  *      O(delta) pass),
  *   2. reads ONLY the touched buckets' directories (path-level pruning —
  *      untouched data is never opened),
  *   3. full-outer-merges the delta against just those rows,
  *   4. writes the merged touched buckets into the NEW version directory,
  *   5. writes a manifest that points touched buckets at the new version
  *      and carries every untouched bucket forward to its PRIOR owner
  *      unchanged — zero IO for untouched data,
  *   6. atomically swaps the `_VERSION` pointer.
  *
  * Per-publish cost is O(delta + touched-bucket data), matching the
  * reference's in-database MERGE (src/pipeline/publish/base.py:76-97) and
  * our own JDBC path ([[JdbcSink.publish]]). Readers resolve the
  * manifest and scan each bucket from its owning version; crash safety is
  * unchanged (nothing is visible until the pointer flips). [[vacuum]]
  * understands manifests: it keeps every referenced version and prunes
  * bucket directories a version no longer owns, bounding storage at ~1×
  * the table plus the in-flight publish.
  *
  * == Merge-on-read publish (per-source opt-in) ==
  *
  * "Touched-bucket data" is the COW catch: grain hashing spreads any
  * realistic delta uniformly, so a file with more keys than buckets
  * touches ALL of them and the publish rewrites the whole table. Sources
  * with `mergeOnRead = true` instead commit each delta as one atomic
  * `useg_<id>` upsert segment after the first (bucketed) publish —
  * O(delta) written bytes regardless of key spread. [[readIfExists]]
  * replays base + segments into the exact COW-merge relation
  * ([[graft.operators.Publish.morResolve]]; per-grain hash-change events
  * reproduce insert/update/noop timestamp and lineage semantics), and
  * past [[morCompactSegments]] segments fold back into the bucketed base.
  * The classic Hudi trade: O(delta) writes bought with a grain-shuffle
  * resolve on read, so write-heavy targets opt in per source.
  */
final class TableStore(spark: SparkSession, root: String,
                       /** MAXIMUM grain-hash bucket count for merge-published
                         * targets. The actual count is chosen at first
                         * publish (~[[TableStore.RowsPerBucket]] rows per
                         * bucket from the first file, clamped to
                         * [16, publishBuckets]) and pinned by the manifest:
                         * bucket count trades pruning granularity against
                         * per-file overhead, so a 150k-row bench table gets
                         * 64 directories while a 100 TB initial load maxes
                         * out (256 ≈ 390 GB rewrite units). A table whose
                         * first file is unrepresentatively tiny keeps a
                         * coarse layout (documented; a re-bucket fold is the
                         * escape hatch, same cost as one full publish).
                         */
                       publishBuckets: Int = 256,
                       /** Upsert-segment count at which a merge-on-read
                         * target folds back into its bucketed base (one
                         * full publish, amortized over the threshold's
                         * O(delta) segment writes). Bounds both the
                         * resolve's read fan-in and small-file growth.
                         */
                       morCompactSegments: Int = 8) extends Sink {
  private val counter = new AtomicLong(System.currentTimeMillis())
  private def conf = spark.sparkContext.hadoopConfiguration
  private def tableDir(name: String) = new Path(root, name)
  private def pointer(name: String) = new Path(tableDir(name), "_VERSION")

  private def fs(p: Path) = p.getFileSystem(conf)

  def nextId(): Long = counter.incrementAndGet()

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-table mutual exclusion for read-modify-overwrite sequences.
    *
    * The copy-on-write store has no transactions: two concurrent
    * read->merge->pointer-swap sequences on the SAME table would both read
    * the old version and the last swap would silently drop the other's
    * rows (a classic lost update — surfaced by the concurrent-sweep test).
    * Publishes to different tables still run fully in parallel; this lock
    * is driver-side metadata, never held during executor work longer than
    * the table job itself.
    */
  def withTableLock[T](name: String)(f: => T): T =
    locks.computeIfAbsent(name, _ => new Object).synchronized(f)

  override def exists(name: String): Boolean = {
    val p = pointer(name)
    fs(p).exists(p) || segments(name).nonEmpty || upsertSegments(name).nonEmpty
  }

  /** Raw on-disk segment dirs with the given prefix — BEFORE retirement
    * filtering. Only retirement bookkeeping ([[disposeRetired]], the fold
    * paths' carried-name prune) may read this; everything that means
    * "live table state" goes through [[segments]]/[[upsertSegments]].
    */
  private def listSegDirs(name: String, prefix: String): Seq[Path] = {
    val dir = tableDir(name)
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath).sortBy(_.getName)
  }

  /** Committed LIVE append segments (seg_*) of a table, oldest first —
    * dirs whose names the pointer's retired list carries are folded into
    * the current version already and excluded (they linger on disk only
    * while a snapshot pins them or until disposal).
    */
  private def segments(name: String): Seq[Path] = {
    val retired = readRetired(name)
    listSegDirs(name, SegPrefix).filterNot(p => retired(p.getName))
  }

  /** Committed LIVE merge-on-read upsert segments (useg_<id>), generation
    * order; retired names excluded like [[segments]].
    */
  private def upsertSegments(name: String): Seq[(Long, Path)] = {
    val retired = readRetired(name)
    listSegDirs(name, UsegPrefix)
      .filterNot(p => retired(p.getName))
      .map(p => p.getName.stripPrefix(UsegPrefix).toLong -> p)
      .sortBy(_._1)
  }

  /** Grain sidecar for merge-on-read targets: readers need the grain to
    * resolve upsert segments, and a generic [[readIfExists]] has no source
    * config — written once before the first segment commits.
    */
  private def grainPath(name: String) = new Path(tableDir(name), GrainFile)

  private def writeGrain(name: String, grain: Seq[String]): Unit = {
    val p = grainPath(name)
    val f = fs(p)
    if (!f.exists(p)) {
      val out = f.create(p, true)
      try out.write(grain.mkString("\t").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  private def readGrain(name: String): Seq[String] = {
    val p = grainPath(name)
    val in = fs(p).open(p)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
               finally in.close()
    text.split('\t').toSeq.filter(_.nonEmpty)
  }

  /** One consistent read of the `_VERSION` pointer: (current version,
    * retired segment names). Segment RETIREMENT is committed by the fold's
    * pointer swing itself — the names follow the version line in the same
    * file, so one atomic rename publishes "new base + these segments are
    * folded" together and no reader can ever see the folded base WITH the
    * folded segments still live (the earlier swap→dispose double-count window) or
    * vice versa. Pre-retirement pointer files are a single version line —
    * they parse as an empty retired set unchanged.
    */
  private def readPointerState(name: String): (Option[String], Set[String]) = {
    val p = pointer(name)
    val f = fs(p)
    if (!f.exists(p)) (None, Set.empty)
    else {
      val in = f.open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
                 finally in.close()
      val lines = text.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toList
      (lines.headOption, lines.drop(1).toSet)
    }
  }

  private def currentVersion(name: String): Option[String] =
    readPointerState(name)._1

  /** Segment names folded into the current version whose dirs may still be
    * on disk — invisible to the live listers, kept in place while a
    * snapshot pins them, reclaimed by [[disposeRetired]]/[[vacuum]].
    */
  private def readRetired(name: String): Set[String] =
    readPointerState(name)._2

  // ---- bucket-manifest plumbing (O(delta) publish) -----------------------

  private val ManifestFile = "_MANIFEST"
  private val BucketPrefix = "_bucket="
  private val SegPrefix = "seg_"
  private val UsegPrefix = "useg_"
  private val GrainFile = "_GRAIN"

  /** bucket id -> version-directory name owning that bucket's files. */
  private final case class BucketManifest(numBuckets: Int,
                                          buckets: Map[Int, String])

  private def bucketDir(name: String, version: String, b: Int): Path =
    new Path(new Path(tableDir(name), version), s"$BucketPrefix$b")

  private def readManifest(name: String, version: String): Option[BucketManifest] = {
    val p = new Path(new Path(tableDir(name), version), ManifestFile)
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
                 finally in.close()
      val lines = text.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toSeq
      val entries = lines.tail.map { l =>
        val sep = l.indexOf('\t')
        l.substring(0, sep).toInt -> l.substring(sep + 1)
      }
      Some(BucketManifest(lines.head.toInt, entries.toMap))
    }
  }

  private def writeManifest(name: String, version: String,
                            m: BucketManifest): Unit = {
    val p = new Path(new Path(tableDir(name), version), ManifestFile)
    val out = fs(p).create(p, true)
    val text = (m.numBuckets.toString +:
      m.buckets.toSeq.sortBy(_._1).map { case (b, v) => s"$b\t$v" })
      .mkString("\n")
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** The pinned bucket count of a merge-published target — None for
    * un-manifested (legacy / overwrite-only) tables. Metadata read.
    */
  def bucketCount(name: String): Option[Int] =
    currentManifest(name).map(_.numBuckets)

  private def currentManifest(name: String): Option[BucketManifest] =
    currentVersion(name).flatMap(v => readManifest(name, v))

  // ---- advisory row-count gauge (auto-rebucket without a count job) ------

  /** `_ROWS` next to `_VERSION`: an ADVISORY running row count maintained
    * from each publish's own merge counters (prior + inserts — merges
    * never delete), so [[maybeRebucket]]'s growth gauge is a metadata read
    * instead of a full table-count Spark job per publish. A crash between
    * a publish and its gauge bump leaves the gauge slightly behind; the
    * only consumer is the 8× rebucket trigger, and [[rebucket]] re-seeds
    * it exactly. Absent for legacy tables until [[maybeRebucket]] counts
    * once and seeds it. Deleted with the table ([[dropTable]]).
    */
  private val RowsGaugeFile = "_ROWS"

  private def readRowsGauge(name: String): Option[Long] = {
    val p = new Path(tableDir(name), RowsGaugeFile)
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        .trim.toLongOption
      finally in.close()
    }
  }

  private def writeRowsGauge(name: String, rows: Long): Unit = {
    val dir = tableDir(name)
    val f = fs(dir)
    val tmp = new Path(dir, s".$RowsGaugeFile.tmp.${counter.incrementAndGet()}")
    val out = f.create(tmp, true)
    try out.write(rows.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(dir.toUri, conf)
    fc.rename(tmp, new Path(dir, RowsGaugeFile),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Advance the gauge by a publish's insert count. A table known empty
    * before the publish seeds it; a legacy table with no gauge stays
    * unseeded (maybeRebucket seeds it with one count).
    */
  private def bumpRowsGauge(name: String, inserts: Long,
                            emptyBefore: Boolean): Unit =
    readRowsGauge(name) match {
      case Some(prior) => writeRowsGauge(name, prior + inserts)
      case None => if (emptyBefore) writeRowsGauge(name, inserts)
    }

  /** Read the current version plus any append segments; None when the table
    * has never been written. Manifested (bucket-merged) tables read each
    * bucket directory from its OWNING version — the union of those paths IS
    * the table; the scan never touches superseded bucket generations.
    */
  /** Parquet read across paths that can span SCHEMA GENERATIONS — bucket
    * dirs written before and after a SourceConfig gained a column,
    * segments beside an older base. mergeSchema unions all footer
    * schemas (older files read the missing column as null) instead of
    * sampling ONE footer, whose generation — and therefore whether the
    * new column exists at all — would depend on file listing order. The
    * cost is one footer read per file, driver-side metadata at any scale.
    *
    * The RESOLVED FRAME is MEMOIZED per exact path set (round 19; this
    * round upgraded the schema-only memo to the full frame): the store's
    * dirs are immutable once visible — bucket/version dirs are
    * copy-on-write (a publish writes a NEW version dir, never edits a
    * published one) and append/upsert segments commit as NEW dirs by
    * atomic rename (a changed path set is a different key) — so the same
    * path set always resolves to the same relation, while one pipeline
    * scenario re-reads the same layout 2-7 times (publish + counters +
    * snapshot + CDC). A fresh `spark.read` per call paid BOTH the
    * mergeSchema footer pass (~0.2-0.5 s at 64 bucket dirs) and a
    * file-listing job (~0.15 s per 64-dir layout at local[32]; a listing
    * RPC storm against cloud storage — the r19 forget profile showed six
    * "Listing leaf files for 64 paths" jobs in ONE scenario). PLAN reuse
    * only, NOT result caching: every action on the memoized frame still
    * reads the parquet files; nothing is persisted or `.cache()`d.
    * Handing back the same Dataset instance leaves self-joins to Spark's
    * standard DeduplicateRelations path (the df.join(df) case) — current
    * callers never join one path set with itself un-checkpointed, and
    * the analyzer fails LOUDLY on ambiguity, never silently. Stale
    * entries are only ever dead keys (vacuumed dirs are never
    * re-requested — no live manifest references them); each map is
    * cleared past its own bound like [[graft.operators.KeyProbe]]'s
    * dirBytes memo, so an overflow of the frames (which pin file listings)
    * never costs the schemas' footer passes.
    */
  private[graft] val mergedSchemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private[graft] val unionedDfMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def readUnioned(paths: Seq[String]): DataFrame = {
    val key = paths.sorted.mkString("\u0000")
    Option(unionedDfMemo.get(key)) match {
      case Some(df) => df
      case None =>
        val df = Option(mergedSchemaMemo.get(key)) match {
          case Some(s) => spark.read.schema(s).parquet(paths: _*)
          case None =>
            spark.read.option("mergeSchema", "true").parquet(paths: _*)
        }
        if (unionedDfMemo.size >= TableStore.FrameMemoMax) unionedDfMemo.clear()
        unionedDfMemo.put(key, df)
        if (mergedSchemaMemo.size >= TableStore.SchemaMemoMax) mergedSchemaMemo.clear()
        mergedSchemaMemo.put(key, df.schema)
        df
    }
  }

  /** The merged schema of `paths` WITHOUT constructing a scan on a memo
    * hit — the empty-diff CDC feed needs only the column set, and a full
    * `spark.read` pays a file-listing job even for a `limit(0)` plan.
    */
  private def unionedSchema(paths: Seq[String]): StructType =
    Option(mergedSchemaMemo.get(paths.sorted.mkString("\u0000")))
      .getOrElse(readUnioned(paths).schema)

  override def readIfExists(name: String): Option[DataFrame] = {
    // ONE pointer read: version and retired set come from the same file
    // state, so a fold committing concurrently is observed whole (new base,
    // segments excluded) or not at all (old base, segments included) —
    // never the folded base WITH its folded segments
    val (cur, retired) = readPointerState(name)
    val man = cur.flatMap(v => readManifest(name, v))
    val base = man match {
      case Some(m) =>
        m.buckets.toSeq.sortBy(_._1).map { case (b, v) => bucketDir(name, v, b) }
      case None => cur.map(v => new Path(tableDir(name), v)).toSeq
    }
    val segs = listSegDirs(name, SegPrefix).filterNot(p => retired(p.getName))
    val paths = (base ++ segs).map(_.toString)
    val usegs = listSegDirs(name, UsegPrefix)
      .filterNot(p => retired(p.getName))
      .map(p => p.getName.stripPrefix(UsegPrefix).toLong -> p)
      .sortBy(_._1)
    if (usegs.nonEmpty) {
      // merge-on-read target: resolve the bucketed base + ordered upsert
      // segments into the exact relation the COW merge chain would produce
      val baseDf = if (paths.isEmpty) None else Some(readUnioned(paths))
      Some(Publish.morResolve(baseDf,
        usegs.map { case (id, p) => id -> spark.read.parquet(p.toString) },
        readGrain(name)))
    } else if (paths.isEmpty) None
    else Some(readUnioned(paths))
  }

  /** The current manifest's bucket sizing plus the bucket ids `df`'s grain
    * keys hash into — None when the table is un-manifested (legacy layout
    * or never merge-published). One O(df) distinct-collect bounded by the
    * bucket count. Computed ONCE per release and shared: the card-delta's
    * bucket-pruned old-slice read ([[readBuckets]]) and the merge's own
    * touched-bucket probe ([[publish]]'s `planned` hint) need the
    * same set, and each recomputation is a full pass over the stage.
    */
  def plannedBuckets(name: String, grain: Seq[String],
                     df: DataFrame): Option[(Int, Set[Int])] =
    currentManifest(name).map { m =>
      val n = m.numBuckets
      val touched = df
        .select(BucketLayout.bucketOf(grain.map(col), n).as("_b"))
        .distinct().collect().map(_.getLong(0).toInt).toSet
      (n, touched)
    }

  /** Read ONLY the given buckets' files of a manifested table — the exact
    * path-level pruning [[publish]] performs for its touched-bucket
    * merge, exposed for readers that only need the rows a delta's grain
    * keys can reach (the release loop's card-delta old-slice: a doc_id
    * semi-join against the full table would scan EVERY bucket, because
    * hash-bucketed parquet gives Spark no partition column to prune on).
    * None when none of the requested buckets own files (those rows don't
    * exist). Falls back to the FULL [[readIfExists]] read when the table
    * is un-manifested or carries append/upsert segments (segments aren't
    * bucketed, so pruning them would drop rows — correct first, pruned
    * when the layout allows).
    */
  def readBuckets(name: String, bucketIds: Set[Int]): Option[DataFrame] =
    currentManifest(name) match {
      case Some(m) if segments(name).isEmpty && upsertSegments(name).isEmpty =>
        val paths = m.buckets.toSeq.sortBy(_._1).collect {
          case (b, v) if bucketIds(b) => bucketDir(name, v, b).toString
        }
        if (paths.isEmpty) None else Some(readUnioned(paths))
      case _ => readIfExists(name)
    }

  /** Bucket-pruned copy-on-write DELETE — the takedown /
    * right-to-be-forgotten primitive a training-data store needs: remove
    * every row whose grain key appears in `keys`. O(keys + touched
    * buckets), the same bound as a merge of that key set: the keys' grain
    * hash names the only buckets that can hold them, ONLY those are read
    * (null-safe anti-join) and rewritten, and untouched buckets carry
    * forward to their current owners unchanged — at 100 TB a
    * thousand-doc takedown rewrites a handful of buckets, not the table.
    * A bucket whose rows are ALL deleted drops OUT of the manifest
    * (carrying it forward would resurrect its rows; the CDC ownership
    * diff reports it as changed). Returns the deleted-row count.
    *
    * Contract: bucket-manifested tables only (publish through
    * [[publish]] first), with no live segments (fold first —
    * segments are not bucketed, so a pruned delete could miss rows in
    * them). Snapshots keep serving the PRE-delete state for their tags'
    * lives by design (they pin the old ownership): a legal-erasure
    * caller must also drop the tags pinning the content and [[vacuum]].
    */
  /** True when [[deleteRows]]'s preconditions hold: bucket manifest live,
    * no unfolded segments. Orchestrators ([[graft.run.CorpusOps.forget]])
    * probe this FIRST, so a pure precondition failure — which mutates
    * nothing — never costs them a dropped trust marker or a delta read.
    */
  def canDeleteRows(name: String): Boolean =
    currentManifest(name).nonEmpty &&
      segments(name).isEmpty && upsertSegments(name).isEmpty

  def deleteRows(name: String, keys: DataFrame,
                 grain: Seq[String]): Long = withTableLock(name) {
    val man = currentManifest(name).getOrElse(throw new IllegalStateException(
      s"deleteRows($name): only bucket-manifested tables take pruned " +
        "deletes — merge-publish the table first"))
    require(segments(name).isEmpty && upsertSegments(name).isEmpty,
      s"deleteRows($name): fold live segments first — segments are not " +
        "bucketed, so a pruned delete could miss rows in them")
    val n = man.numBuckets
    // key columns CAST to the table's own grain types before hashing: the
    // equi-joins below would match across an implicit cast (IntegerType
    // keys against a LongType grain), but xxhash64 hashes the RAW type —
    // mismatched keys would name the wrong buckets and a takedown would
    // silently delete 0 rows, the worst failure mode for a
    // legal-compliance primitive. Missing grain columns fail loud.
    val tableSchema = readIfExists(name).getOrElse(
      throw new IllegalStateException(
        s"deleteRows($name): manifest present but table unreadable")).schema
    // resolved with the session's own resolver (case-insensitive unless
    // spark.sql.caseSensitive): the equi-joins below resolve `col(g)`
    // case-insensitively, so an exact-match lookup here would throw on a
    // valid grain name in different case that previously deleted fine
    val resolver = spark.sessionState.analyzer.resolver
    val keyCols = grain.map { g =>
      val f = tableSchema.find(f => resolver(f.name, g)).getOrElse(
        throw new IllegalArgumentException(
          s"deleteRows($name): grain column '$g' not in table schema"))
      col(g).cast(f.dataType).as(g)
    }
    // materialized: consumed twice (bucket probe + anti-join), and a key
    // frame derived from THIS table's own read must not alias the slice
    // below into an ambiguous self-join
    val k = keys.select(keyCols: _*).distinct().localCheckpoint()
    val touched = k
      .select(BucketLayout.bucketOf(grain.map(col), n).as("_b"))
      .distinct().collect().map(_.getLong(0).toInt).toSet
    val paths = man.buckets.toSeq.sortBy(_._1).collect {
      case (b, v) if touched(b) => bucketDir(name, v, b).toString
    }
    if (paths.isEmpty) 0L
    else {
      val slice = readUnioned(paths)
      // the deleted count comes from a GRAIN-PRUNED semi-join probe —
      // parquet reads only the key columns of the touched buckets (the
      // CDC feed's column economics), so the full-width data is read
      // exactly once, by the rewrite below. Row count, not key count:
      // correct even if a legacy layout carries duplicate grains.
      val sliceKeys = slice.select(grain.map(col): _*)
      val probeCond = grain.map(g => sliceKeys(g) <=> k(g)).reduce(_ && _)
      val deleted = sliceKeys.join(k, probeCond, "left_semi").count()
      if (deleted > 0L) {
        val cond = grain.map(g => slice(g) <=> k(g)).reduce(_ && _)
        commitBucketedVersion(name, slice.join(k, cond, "left_anti"),
          grain, n, touchedCount = math.max(1, touched.size),
          carried = man.buckets.filter { case (b, _) => !touched(b) },
          foldSegs = Nil)
        bumpRowsGauge(name, -deleted, emptyBefore = false)
      }
      deleted
    }
  }

  /** Read, or an empty frame with the given schema when absent. */
  def readOrEmpty(name: String, schema: StructType): DataFrame =
    readIfExists(name).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** Write a new version and atomically swap the pointer. Append segments
    * present when the write STARTED are folded in by the caller's read plan
    * (the df passed here was built from readIfExists) — they are deleted
    * after the swap so the table never double-counts them.
    *
    * `partitionBy` writes the version hive-partitioned on those columns so
    * partition-pruned reads (date-ranged queries on a date-partitioned
    * target) skip directories entirely.
    */
  def overwrite(name: String, df: DataFrame,
                partitionBy: Seq[String] = Nil): Unit =
    overwriteFolding(name, df, partitionBy, segments(name))

  /** [[overwrite]] with an EXPLICIT list of segments to fold away: the
    * caller names exactly the segments its `df` was built from, so an
    * append that lands concurrently (appends are lock-free atomic renames)
    * is never deleted unfolded — it simply survives as a segment on top of
    * the new version.
    */
  private def overwriteFolding(name: String, df: DataFrame,
                               partitionBy: Seq[String],
                               foldedSegs: Seq[Path]): Unit = {
    val priorSegs = foldedSegs
    val version = s"v_${counter.incrementAndGet()}"
    val dir = tableDir(name)
    val writer = if (partitionBy.isEmpty) df.write
                 else df.write.partitionBy(partitionBy: _*)
    writer.mode("overwrite").parquet(new Path(dir, version).toString)
    // the swing is a read-modify-write of the pointer's retired list —
    // unserialized, it could drop the names a concurrent LOCKED fold
    // (publish/deleteRows) just retired, making folded segments
    // visible again (double count). withTableLock is re-entrant
    // (object monitor), so callers already holding it are fine.
    withTableLock(name) { swingAndRetire(name, version, priorSegs) }
  }

  /** The fold commit: ONE pointer swing atomically publishes the new
    * version AND retires `foldSegs` — the folded names ride in the pointer
    * file after the version line, so no reader can observe the folded base
    * with the folded segments still live (or the reverse); the pre-swing
    * state and the post-swing state are each exactly one relation. Disposal
    * of the now-invisible dirs follows as pure GC: a crash between swing
    * and delete leaves invisible dirs the next fold keeps carrying and
    * [[disposeRetired]]/[[vacuum]] reclaims. Carried names whose dirs are
    * already gone are pruned here, so the pointer file stays bounded by
    * dirs actually awaiting reclaim.
    */
  private def swingAndRetire(name: String, version: String,
                             foldSegs: Seq[Path]): Unit = {
    val dir = tableDir(name)
    val f = fs(dir)
    val carried = readRetired(name).filter(n => f.exists(new Path(dir, n)))
    swapPointer(name, version, carried ++ foldSegs.map(_.getName))
    graft.core.Chaos.point("store.before-retire")
    disposeRetired(name)
  }

  /** Atomically flip `_VERSION` to `version` (create temp + overwrite-
    * rename), carrying `retired` — the segment names folded into some
    * version — after the version line ([[readPointerState]]).
    */
  private def swapPointer(name: String, version: String,
                          retired: Set[String]): Unit = {
    val dir = tableDir(name)
    val f = fs(dir)
    val tmp = new Path(dir, s"._VERSION.tmp.${counter.incrementAndGet()}")
    val out = f.create(tmp, true)
    try out.write((version +: retired.toSeq.sorted).mkString("\n")
      .getBytes(StandardCharsets.UTF_8)) finally out.close()
    // Atomic rename-with-overwrite via FileContext: FileSystem.rename
    // refuses to replace an existing destination on local/HDFS, and the
    // delete-then-rename emulation opens a window where a concurrent reader
    // sees NO pointer (observing only append segments — a truncated table).
    // FileContext.rename(OVERWRITE) replaces the pointer in one FS op.
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(dir.toUri, conf)
      fc.rename(tmp, pointer(name), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        // last resort for FS without overwrite-rename (e.g. some object
        // stores): plain rename, then delete+rename with its known window
        if (!f.rename(tmp, pointer(name))) {
          f.delete(pointer(name), false)
          if (!f.rename(tmp, pointer(name)))
            throw new java.io.IOException(s"pointer swap failed for $name")
        }
    }
  }

  /** Merge publish — see the class doc. Takes the table lock itself
    * ([[withTableLock]] is re-entrant, so a caller holding it across a
    * wider sequence is fine). Targets with user-declared hive partitioning
    * keep their layout: read, merge, rewrite the whole version, vacuum.
    * Everything else takes the bucketed copy-on-write or merge-on-read
    * path. `epoch` is ignored: a replayed batch is a hash no-op.
    */
  override def publish(name: String, stage: DataFrame, source: SourceConfig,
                       now: java.sql.Timestamp, stageRows: Option[Long],
                       epoch: Option[Long]): (Long, Long) =
    publishLocked(name, stage, source, now, planned = None, stageRows)

  /** [[publish]] with a pre-computed [[plannedBuckets]] hint: the
    * caller already paid the stage's touched-bucket probe (to bucket-prune
    * another read of the same publish, e.g. the release loop's card-delta
    * old-slice) and this merge must not pay it twice. The hint is trusted
    * ONLY when its bucket sizing matches the manifest the merge resolves —
    * a concurrent rebucket between the probe and the merge would make the
    * ids meaningless, and a silently-wrong touched set LOSES rows.
    */
  def publish(name: String, stage: DataFrame, source: SourceConfig,
              now: java.sql.Timestamp,
              planned: Option[(Int, Set[Int])]): (Long, Long) =
    publishLocked(name, stage, source, now, planned, stageRows = None)

  private def publishLocked(name: String, stage: DataFrame,
                            source: SourceConfig, now: java.sql.Timestamp,
                            planned: Option[(Int, Set[Int])],
                            stageRows: Option[Long]): (Long, Long) =
    withTableLock(name) {
      if (source.targetPartitionBy.isEmpty)
        bucketedPublish(name, stage, source, now, planned, stageRows)
      else {
        val existing = readIfExists(name)
        val plan = Publish.mergePlan(BucketLayout.dropCarried(stage),
          existing.getOrElse(Publish.emptyTarget(spark, source)), source, now,
          targetKnownEmpty = existing.isEmpty)
        overwrite(name, plan.merged, source.targetPartitionBy)
        vacuum(name)
        plan.counts()
      }
    }

  private def bucketedPublish(name: String, stage: DataFrame,
                              source: SourceConfig, now: java.sql.Timestamp,
                              planned: Option[(Int, Set[Int])],
                              stageRows: Option[Long]): (Long, Long) = {
    val cur = currentVersion(name)
    val man = cur.flatMap(v => readManifest(name, v))
    val segs = segments(name)
    // Merge-on-read fast path: once the bucketed base exists (the first
    // publish always establishes it — an initial load WANTS the parallel
    // bucketed write), every later publish lands as one O(delta) upsert
    // segment, regardless of how the delta's grain keys spread over the
    // buckets (a uniformly-keyed delta touches EVERY bucket and turns the
    // COW path below into a full rewrite). Legacy layouts and stray append
    // segments still take the COW path once to migrate.
    if (source.mergeOnRead && man.isDefined && segs.isEmpty)
      return morPublish(name, stage, source, now, man.get)
    val tableIsEmpty = cur.isEmpty && segs.isEmpty
    // Bucket count: manifest-pinned once chosen; a first publish sizes it
    // from the file (~RowsPerBucket rows each) so small tables don't pay
    // hundreds of tiny-file opens per publish and read, while a large
    // initial load maxes out the pruning granularity. Migration of a legacy
    // table implies maturity — take the max.
    val n = man.map(_.numBuckets).getOrElse {
      if (tableIsEmpty) chooseBucketCount(stageRows.getOrElse(stage.count()))
      else publishBuckets
    }
    def bucketOf(grain: Seq[String]): Column =
      BucketLayout.bucketOf(grain.map(col), n)

    // One O(delta) pass: which buckets does this file's grain set reach?
    // Bounded by n small ints — never scales with the corpus. A first
    // publish (nothing to prune against) skips the probe entirely.
    val touched: Set[Int] =
      if (tableIsEmpty) Set.empty
      else planned.collect { case (pn, ts) if pn == n => ts }.getOrElse {
        stage.select(bucketOf(source.grain).as("_b")).distinct()
          .collect().map(_.getLong(0).toInt).toSet
      }

    // A legacy (un-manifested) version or stray append segments force a
    // one-time full migration merge — same cost as the old full rewrite,
    // after which the table is bucketed and every later publish is O(delta).
    val fullRewrite = man.isEmpty || segs.nonEmpty
    val targetPaths: Seq[Path] = (man match {
      case Some(m) =>
        val wanted = if (fullRewrite) m.buckets.keySet else touched
        m.buckets.toSeq.sortBy(_._1).collect {
          case (b, v) if wanted(b) => bucketDir(name, v, b)
        }
      case None => cur.map(v => new Path(tableDir(name), v)).toSeq
    }) ++ segs

    val targetEmpty = targetPaths.isEmpty
    val target =
      if (targetEmpty) Publish.emptyTarget(spark, source)
      else readUnioned(targetPaths.map(_.toString))
    val plan = Publish.mergePlan(stage, target, source, now,
      targetKnownEmpty = targetEmpty)

    val touchedCount = if (tableIsEmpty) n else math.max(1, touched.size)
    val carried = if (fullRewrite) Map.empty[Int, String]
                  else man.map(_.buckets).getOrElse(Map.empty)
    commitBucketedVersion(name, plan.merged, source.grain, n, touchedCount,
      carried, segs)
    val c = plan.counts()
    bumpRowsGauge(name, c._1, emptyBefore = tableIsEmpty)
    c
  }

  /** Merge-on-read publish: O(delta) segment commit + pre-merge counts.
    *
    * Counts come from a column-pruned scan — parquet reads ONLY the grain
    * and hash columns of the base buckets and segments (a sliver of a wide
    * table), reduced latest-wins to the current effective hash per grain,
    * then counted against the stage's keys by [[Publish.counts]]. The
    * delta itself lands as one tmp-write + atomic-rename segment; past
    * [[morCompactSegments]] the segments fold back into the bucketed base
    * (one full publish amortized over the threshold's O(delta) commits).
    * Caller holds the table lock.
    */
  private def morPublish(name: String, stage: DataFrame, source: SourceConfig,
                         now: java.sql.Timestamp,
                         man: BucketManifest): (Long, Long) = {
    val grain = source.grain
    val basePaths = man.buckets.toSeq.sortBy(_._1)
      .map { case (b, v) => bucketDir(name, v, b).toString }
    val kvCols = grain.map(col) :+ col("etl_row_hash")
    val usegsNow = upsertSegments(name)
    val baseKv = spark.read.parquet(basePaths: _*)
      .select(kvCols :+ lit(0L).as("_gen"): _*)
    val segKv = usegsNow.map { case (id, p) =>
      spark.read.parquet(p.toString).select(kvCols :+ lit(id).as("_gen"): _*)
    }
    val curKv = (baseKv +: segKv).reduce(_ unionByName _)
      .groupBy(grain.map(col): _*)
      .agg(max_by(col("etl_row_hash"), col("_gen")).as("etl_row_hash"))
    val (inserts, updates) = Publish.counts(stage, curKv, grain)

    writeGrain(name, grain)
    commitSegment(name, UsegPrefix) { tmp =>
      stage.select(Publish.dataCols(source).map(col): _*)
        .withColumn("etl_load_ts", lit(now))
        .write.mode("overwrite").parquet(tmp.toString)
    }

    if (usegsNow.size + 1 >= morCompactSegments) {
      val resolved = readIfExists(name)
        .getOrElse(sys.error(s"mor compaction: $name unreadable"))
      commitBucketedVersion(name, resolved, grain, man.numBuckets,
        touchedCount = man.numBuckets, carried = Map.empty,
        foldSegs = upsertSegments(name).map(_._2))
    }
    bumpRowsGauge(name, inserts, emptyBefore = false)
    (inserts, updates)
  }

  /** The layout a first publish of `rows` staged rows into `name` will
    * write, while `name` is an empty bucketed target of this store; None
    * once it holds data or when its source declares hive partitioning.
    */
  override def firstPublishLayout(name: String, source: SourceConfig,
                                  rows: Long): Option[BucketLayout] =
    if (source.targetPartitionBy.nonEmpty || currentVersion(name).nonEmpty ||
        segments(name).nonEmpty || upsertSegments(name).nonEmpty) None
    else {
      val n = chooseBucketCount(rows)
      Some(BucketLayout.of(n, n, spark.sessionState.conf.numShufflePartitions))
    }

  /** First-publish / rebucket sizing rule — see the `publishBuckets` doc. */
  private def chooseBucketCount(rows: Long): Int = {
    var b = math.min(16, publishBuckets)
    val ideal = rows / TableStore.RowsPerBucket
    while (b < ideal && b < publishBuckets) b <<= 1
    b
  }

  /** Write `out` as a new bucketed version, publish a manifest owning
    * whatever `_bucket=K/` dirs the write produced on top of `carried`,
    * swap the pointer, fold `foldSegs`, vacuum.
    *
    * The repartition bounds output files ([[BucketLayout.of]]): salt
    * lanes give within-bucket write parallelism when the delta is huge
    * (initial 100 TB load: shuffle-partition-many tasks, ~P/touched files
    * per bucket) while a routine small publish collapses to one lane and
    * at most min(P, touched) tasks. `_bucket` and the lane columns `out`
    * carries from a load's fan-out are reused only when computed for this
    * exact layout ([[BucketLayout.repartitioned]]); after a lost
    * first-publish race, say, they are recomputed.
    */
  private def commitBucketedVersion(name: String, out: DataFrame,
      grain: Seq[String], n: Int, touchedCount: Int,
      carried: Map[Int, String], foldSegs: Seq[Path]): Unit = {
    val layout = BucketLayout.of(n, touchedCount,
      spark.sessionState.conf.numShufflePartitions)
    val version = s"v_${counter.incrementAndGet()}"
    val outDir = new Path(tableDir(name), version)
    BucketLayout.repartitioned(out, layout, grain)
      .write.partitionBy(BucketLayout.BucketCol).mode("overwrite")
      .parquet(outDir.toString)

    // Ground truth of what the new version owns = the bucket dirs the write
    // actually produced (an all-invalid file yields an empty delta and no
    // dirs — the manifest then just carries the old map forward).
    val f = fs(outDir)
    val owned = f.listStatus(outDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(BucketPrefix))
      .map(_.getPath.getName.stripPrefix(BucketPrefix).toInt)
    writeManifest(name, version,
      BucketManifest(n, carried ++ owned.map(_ -> version)))
    // every bucketed publish records its key (the MOR path already does):
    // readers that need the grain without a SourceConfig in hand —
    // [[snapshotDelta]]'s CDC join, MOR resolution — read it from here
    writeGrain(name, grain)
    swingAndRetire(name, version, foldSegs)
    vacuum(name) // bound disk: drop superseded generations (manifest-aware)
  }

  /** Post-publish auto-rebucket policy (the [[graft.operators.MinhashIndex
    * .maybeCompact]] shape): the bucket count is PINNED by the first
    * publish, so a table whose first file was unrepresentatively tiny
    * keeps paying coarse pruning granularity as it grows — nothing
    * triggered the [[rebucket]] escape hatch. After each publish, compare
    * the pinned count against what the sizing rule would choose for the
    * CURRENT row count; once the ideal is `ratio`x the pinned count, fold
    * the table through [[rebucket]] (one full publish; the copy-on-write
    * swap keeps readers safe throughout, and publish cost returns to
    * O(delta + fine buckets)). The "current row count" is the advisory
    * `_ROWS` gauge each publish maintains from its own insert counter —
    * no Spark job anywhere in the steady-state check — and tables pinned
    * within ratio of the max granularity skip even that, so the check
    * costs metadata reads only. Reentrant with the caller's table lock
    * (JVM-object monitor).
    */
  override def maybeRebucket(name: String,
                             grain: Seq[String]): Option[Int] = {
    val man = currentVersion(name).flatMap(v => readManifest(name, v))
    // gauge only when the trigger is REACHABLE: the sizing rule caps at
    // publishBuckets, so a table pinned within ratio of the cap can never
    // satisfy ideal >= pinned*ratio — counting its rows every publish
    // would be a pure per-publish tax with no possible fold
    man.filter(_.numBuckets.toLong * TableStore.RebucketRatio
        <= publishBuckets.toLong)
      .flatMap { m =>
        // the advisory _ROWS gauge (maintained by the publishes themselves)
        // makes this a metadata read; a legacy table with no gauge pays
        // ONE seeding count here and never again
        val rows = readRowsGauge(name).getOrElse {
          val n = readIfExists(name).map(_.count()).getOrElse(0L)
          writeRowsGauge(name, n)
          n
        }
        if (chooseBucketCount(rows) >=
            m.numBuckets.toLong * TableStore.RebucketRatio)
          rebucket(name, grain)
        else None
      }
  }

  /** Re-bucket a merge-published target, resizing the bucket count from the
    * table's CURRENT row count (same sizing rule as a first publish): the
    * escape hatch for tables whose pinned layout no longer fits — a first
    * file that was unrepresentatively tiny, or a table that outgrew its
    * granularity. [[maybeRebucket]] triggers it automatically from the
    * publish loops. Costs one full publish (read-everything rewrite); the
    * copy-on-write swap keeps readers safe throughout. Returns the new
    * bucket count, or None when the table has never been written.
    */
  def rebucket(name: String, grain: Seq[String]): Option[Int] =
    withTableLock(name) {
      readIfExists(name).map { df =>
        val rows = df.count()
        val n = chooseBucketCount(rows)
        // fold upsert segments too: readIfExists already resolved them into
        // df, so the rewrite subsumes them (leaving them would be a
        // harmless-but-wasteful no-op replay on every later read)
        commitBucketedVersion(name, df, grain, n, touchedCount = n,
          carried = Map.empty,
          foldSegs = segments(name) ++ upsertSegments(name).map(_._2))
        writeRowsGauge(name, rows) // exact re-seed of the advisory gauge
        n
      }
    }

  /** Append as an O(new-rows) segment write: the new rows land in a temp
    * dir and become visible via ONE atomic rename to seg_<id> — no
    * read-union-rewrite of existing data (the previous implementation's
    * per-event full-table rewrite is quadratic over a table's life; at
    * 100 TB an append-heavy log table must never re-copy history).
    * Readers union the current version with all committed segments;
    * [[overwrite]] compacts segments away.
    */
  def append(name: String, df: DataFrame): Unit =
    commitSegment(name, SegPrefix)(tmp => df.write.mode("overwrite").parquet(tmp.toString))

  /** [[append]] of rows the driver holds (a file's run-log events, one
    * sidecar row), written as one parquet file by Spark's own parquet
    * writer on the driver: the data file a one-partition `df.write` would
    * write for `schema` (Spark's row metadata, the session's codec and
    * timestamp type), with no Spark job, and committed the same way. The
    * writer factory is Spark-internal API; HarnessSpec keeps it here.
    */
  def appendRows(name: String, schema: StructType, rows: Seq[Row]): Unit =
    commitSegment(name, SegPrefix) { tmp =>
      val sqlConf = spark.sessionState.conf
      val job = Job.getInstance(conf)
      val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
        new ParquetOptions(Map.empty[String, String], sqlConf))
      val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
      val file = new Path(tmp,
        s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
      val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
      val writer = factory.newInstance(file.toString, schema, ctx)
      try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
      finally writer.close()
    }

  /** The segment commit both appends and the merge-on-read publish use:
    * claim an id, let `write` fill `.tmp_<prefix><id>`, then make it
    * visible as `<prefix><id>` with one atomic rename. A name the
    * pointer's retired list still carries is never reused — the lister
    * would hide the new segment as "folded". The millis-seeded counter
    * makes collisions vanishingly rare; this makes them impossible.
    */
  private def commitSegment(name: String, prefix: String)(write: Path => Unit): Unit = {
    val dir = tableDir(name)
    val f = fs(dir)
    f.mkdirs(dir)
    val retired = readRetired(name)
    var id = counter.incrementAndGet()
    while (retired(s"$prefix$id")) id = counter.incrementAndGet()
    val tmp = new Path(dir, s".tmp_$prefix$id")
    write(tmp)
    if (!f.rename(tmp, new Path(dir, s"$prefix$id")))
      throw new java.io.IOException(s"segment commit failed for $name")
  }

  /** Small-file compaction: fold the append segments into a fresh base
    * version once more than `maxSegments` have accumulated. An append-heavy
    * table (run log, filename sidecars) otherwise grows one directory per
    * append and every reader pays per-segment listing + footer costs — at
    * warehouse scale unbounded segment counts are how a metadata layer
    * falls over. The fold is the same read → version-write → atomic
    * pointer-swap path a publish uses; the folded segment list is captured
    * EXPLICITLY, so lock-free concurrent appends are never deleted unfolded
    * (they land after the capture and survive on top of the new version).
    * The table lock only serializes concurrent compact/overwrite of the
    * same table. The fold writes unpartitioned — compact is for the
    * append-heavy metadata tables; partitioned targets compact through the
    * publish path, which preserves their layout. Returns true when a fold
    * happened.
    */
  def compact(name: String, maxSegments: Int = 16): Boolean =
    withTableLock(name) {
      // Bucket-manifested targets never accumulate segments (publishes go
      // through publish) and an unpartitioned fold would destroy their
      // layout — leave them to the publish path.
      if (currentManifest(name).isDefined) false
      else {
      val segs = segments(name)
      if (segs.size <= maxSegments) false
      else {
        val base = currentVersion(name).map(v => new Path(tableDir(name), v))
        val df = readUnioned((base.toSeq ++ segs).map(_.toString))
        overwriteFolding(name, df, Nil, segs)
        true
      }
      }
    }

  def dropTable(name: String): Unit = {
    val dir = tableDir(name)
    val f = fs(dir)
    if (f.exists(dir)) f.delete(dir, true)
  }

  // ---- snapshots (pinned point-in-time reads) ----------------------------

  private val SnapshotsDirName = "_snapshots"
  private def snapshotsDir(name: String) =
    new Path(tableDir(name), SnapshotsDirName)
  private def snapshotPath(name: String, tag: String) =
    new Path(snapshotsDir(name), tag)
  private val SnapshotTag = "[A-Za-z0-9][A-Za-z0-9._-]{0,127}".r

  /** A snapshot file pins the table state a tag was taken at: the version
    * directory, (for manifested tables) the bucket→version ownership map
    * of that moment, the append/upsert segment dirs live at the pin —
    * segments are MUTABLE table state (a later fold retires them from the
    * live layout via the pointer's retired list), but a pinned dir stays
    * at its live path, invisible to the live listers, until [[vacuum]]
    * reclaims it after the last tag drops — and, since round 16, the
    * EXPLICIT per-pin FILE manifest of the base state (`F\t<relpath>`
    * lines, the Delta/Iceberg-style file list): the single-writer
    * protocol makes bucket/version dirs immutable, so dir-level pins are
    * exact today, but a future concurrent writer landing files into a
    * pinned dir would silently widen every dir-based snapshot read — the
    * file list freezes the read set at pin time. Segments stay pinned by
    * NAME: their dirs are immutable once committed, and their location
    * can legally change (`_pinned/` legacy fallback, [[pinnedSegPath]]),
    * so a file list would break exactly where the name-pin is safe.
    * Serialized like `_MANIFEST` with a leading version line (`-` on the
    * numBuckets line for unmanifested tables); segment names follow the
    * bucket lines (no tab), file lines carry the `F\t` prefix — the
    * parser distinguishes all three structurally, so pre-segment and
    * pre-file-manifest pins read unchanged.
    */
  private final case class TableSnapshot(version: String,
                                         manifest: Option[BucketManifest],
                                         segNames: Seq[String],
                                         baseFiles: Seq[String])

  private def readSnapshotMeta(name: String,
                               tag: String): Option[TableSnapshot] = {
    val p = snapshotPath(name, tag)
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
                 finally in.close()
      val lines = text.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toSeq
      val (fileLines, rest) = lines.drop(2).partition(_.startsWith("F\t"))
      // structural parse, forward-compatible (r17): bucket lines are
      // `<int>\t<version>`, segment lines carry no tab, and any FUTURE
      // tab-prefixed line type (the `F\t` of r16 crashed r15 readers on
      // "F".toInt after a rollback) is SKIPPED rather than force-parsed —
      // an old reader over a newer pin degrades to the strongest
      // semantics it knows instead of throwing NumberFormatException
      val (tabLines, segLines) = rest.partition(_.contains('\t'))
      val bucketLines = tabLines.filter { l =>
        val p = l.substring(0, l.indexOf('\t'))
        p.nonEmpty && p.forall(_.isDigit)
      }
      val man =
        if (lines(1) == "-") None
        else Some(BucketManifest(lines(1).toInt, bucketLines.map { l =>
          val sep = l.indexOf('\t')
          l.substring(0, sep).toInt -> l.substring(sep + 1)
        }.toMap))
      Some(TableSnapshot(lines.head, man, segLines,
        fileLines.map(_.substring(2))))
    }
  }

  private val PinnedDirName = "_pinned"

  /** A pinned segment's current location. Retirement is a pointer-file fact now: a retired
    * segment's dir never moves — retirement is a pointer-file fact
    * ([[swingAndRetire]]) and a pinned dir stays AT ITS LIVE PATH until
    * the last referencing tag drops — so a pinned read can never race a
    * rename (the round-14 live→`_pinned/` move, whose declared hazard was
    * exactly that one-shot FileNotFound race). `_pinned/<name>` is kept as
    * a read-and-reclaim fallback for warehouses the round-14 code wrote.
    * Fails loud when neither exists — that means the tag's state was
    * vacuumed out from under a concurrent reader after a drop, the same
    * hazard every dropped-tag read has.
    */
  private def pinnedSegPath(name: String, segName: String): Path = {
    val live = new Path(tableDir(name), segName)
    val retired = new Path(new Path(tableDir(name), PinnedDirName), segName)
    val f = fs(live)
    if (f.exists(live)) live
    else if (f.exists(retired)) retired
    else throw new IllegalStateException(
      s"snapshot-pinned segment $segName of $name exists at neither its " +
        "live nor its _pinned path (tag dropped and vacuumed?)")
  }

  /** Pure GC over retired segment dirs: delete the ones no live snapshot
    * references. Retirement itself was the pointer swing, so everything
    * here is invisible to live readers already — a crash at any point
    * changes no read on either side, and the next disposal (any fold,
    * any [[vacuum]]) finishes the job. Pinned dirs are left in place for
    * [[pinnedSegPath]] until their last tag drops.
    */
  private def disposeRetired(name: String): Unit = {
    val retired = readRetired(name)
    if (retired.nonEmpty) {
      val pinnedNames = liveSnapshots(name).flatMap(_.segNames).toSet
      val dir = tableDir(name)
      val f = fs(dir)
      retired.filterNot(pinnedNames).foreach { n =>
        val p = new Path(dir, n)
        if (f.exists(p)) f.delete(p, true)
      }
    }
  }

  /** Pin the table's CURRENT committed state under `tag` — a Delta/Iceberg
    * style tag over the copy-on-write layout, the reproducibility seam a
    * training pipeline needs: tag the corpus a run trained on, keep
    * releasing, and [[readSnapshot]] serves the tagged state bit-identical
    * for as long as the tag lives. O(1) driver metadata: the snapshot file
    * records the current version + bucket-ownership map; NO data is
    * copied — later publishes copy-on-write only the buckets they touch,
    * so a snapshot's incremental storage cost is exactly the buckets
    * rewritten since it was taken ([[vacuum]] keeps snapshot-owned bucket
    * generations and reclaims them when the tag is dropped).
    *
    * Live append/upsert segments are pinned BY NAME: segments are mutable
    * table state (a later fold retires them from the live layout), but
    * retirement is a pointer-file fact ([[swingAndRetire]]) — the dir
    * itself stays at its live path, invisible to the live listers, until
    * the last referencing tag drops — so [[readSnapshot]] resolves each
    * pinned segment at a stable path. A merge-on-read target is therefore
    * snapshotable mid-stream, unfolded upserts and all; the pin's extra
    * storage is exactly the segments a fold has retired plus the buckets
    * later publishes rewrote, both reclaimed when the tag drops. Tags are
    * immutable — re-pinning an existing tag requires `force = true` (one
    * atomic pointer-file replace), so a typo cannot silently move a run's
    * provenance.
    */
  def snapshot(name: String, tag: String, force: Boolean = false): Unit = {
    require(SnapshotTag.pattern.matcher(tag).matches(),
      s"snapshot tag '$tag' must match ${SnapshotTag.pattern}")
    withTableLock(name) {
      val cur = currentVersion(name).getOrElse(
        throw new IllegalStateException(
          s"snapshot '$tag': table $name has no committed version"))
      val p = snapshotPath(name, tag)
      val f = fs(p)
      if (f.exists(p) && !force)
        throw new IllegalStateException(
          s"snapshot '$tag' already exists on $name (tags are immutable; " +
            "pass force = true to re-pin)")
      val man = readManifest(name, cur)
      val segNames = segments(name).map(_.getName) ++
        upsertSegments(name).map(_._2.getName)
      // the per-pin file manifest: every parquet data file of the base
      // state at pin time, relative to the table dir. One listStatus per
      // bucket (or version) dir — O(numBuckets) RPCs, the same class as
      // the publish that created the state
      val baseDirs = man match {
        case Some(m) => m.buckets.toSeq.sortBy(_._1).map { case (b, v) =>
          (bucketDir(name, v, b), s"$v/$BucketPrefix$b") }
        case None => Seq((new Path(tableDir(name), cur), cur))
      }
      // Bucketed (manifested) dirs hold their files FLAT — one listStatus
      // suffices and skips the recursive walk's per-file located-status
      // cost (r18: the recursive iterator resolves block locations per
      // file; measured ~0.5 s per pin over 64 bucket dirs, all of it in
      // the walk). The RECURSIVE listing (r17) remains for unmanifested
      // versions: a hive-partitioned overwrite version nests its files
      // under partition subdirs — the r16 flat listStatus produced an
      // EMPTY file list there, silently downgrading partitioned tables to
      // dir-level pin semantics (the foreign-file guarantee quietly
      // didn't apply). Paths are recorded relative to the table dir,
      // partition subdirs included, and [[readSnapshot]] reads nested
      // manifests with a basePath so partition columns survive the
      // file-level read. On the recursive branch EVERY path component
      // under the listed dir must be visible — a part file under a
      // leftover _temporary/ or .spark-staging-*/ dir from a crashed
      // writer is not table data and must not enter the pin manifest
      // (the flat branch's name check covers it by construction).
      def keepFile(name: String): Boolean =
        name.endsWith(".parquet") && !name.startsWith(".") &&
          !name.startsWith("_")
      val baseFiles = baseDirs.flatMap { case (d, rel) =>
        val df = fs(d)
        if (!df.exists(d)) Seq.empty
        else if (man.isDefined) {
          df.listStatus(d).toSeq.collect {
            case st if st.isFile && keepFile(st.getPath.getName) =>
              s"F\t$rel/${st.getPath.getName}"
          }.sorted
        } else {
          val base = d.toUri.getPath
          val it = df.listFiles(d, true)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val st = it.next()
            val relPath = st.getPath.toUri.getPath.stripPrefix(base)
            val components = relPath.split('/').filter(_.nonEmpty)
            if (st.isFile && components.nonEmpty &&
                keepFile(components.last) &&
                components.init.forall(c =>
                  !c.startsWith(".") && !c.startsWith("_")))
              out += s"F\t$rel$relPath"
          }
          out.sorted.toSeq
        }
      }
      val lines = ((cur +: (man match {
        case Some(m) => m.numBuckets.toString +:
          m.buckets.toSeq.sortBy(_._1).map { case (b, v) => s"$b\t$v" }
        case None => Seq("-")
      })) ++ segNames) ++ baseFiles
      f.mkdirs(snapshotsDir(name))
      val tmp = new Path(snapshotsDir(name), s".$tag.tmp.${nextId()}")
      val out = f.create(tmp, true)
      try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // atomic publish, same protocol as the _VERSION swing: a crash
      // leaves either the old pin or the new one, never a partial file
      val fc = org.apache.hadoop.fs.FileContext
        .getFileContext(snapshotsDir(name).toUri, conf)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      ()
    }
  }

  /** Live snapshot tags of `name`, sorted. */
  def listSnapshots(name: String): Seq[String] = {
    val d = snapshotsDir(name)
    val f = fs(d)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted
  }

  /** The table as it was when `tag` was pinned — the exact bucket (or
    * version) directories the snapshot recorded, plus its pinned
    * append/upsert segments (resolved from their live or `_pinned/`
    * location), served with the same resolution [[readIfExists]] applies
    * to the current state: plain appends union in, merge-on-read upserts
    * replay through [[graft.operators.Publish.morResolve]] in generation
    * order. None when the tag does not exist.
    *
    * Pinned paths are STABLE for the tag's whole life: a fold retires a
    * pinned segment by pointer-file fact ([[swingAndRetire]]) and leaves
    * the dir at its live path until the last referencing tag drops, and
    * vacuum keeps pinned bucket generations in place likewise — so the
    * eager path resolution here can never race a concurrent fold (the
    * round-14 `_pinned/` rename and its declared one-shot FileNotFound
    * hazard are gone; `_pinned/` remains readable for warehouses that
    * code wrote). The only way a resolved path disappears is dropping
    * the tag and vacuuming mid-read — the same hazard every dropped-tag
    * read has.
    */
  def readSnapshot(name: String, tag: String): Option[DataFrame] =
    readSnapshotMeta(name, tag).map { s =>
      // pins carrying the per-pin file manifest read EXACTLY the files
      // recorded at pin time (a concurrent writer landing files into a
      // pinned dir cannot widen the read); pre-manifest pins fall back
      // to the dir-level resolution they were written with
      val (usegNames, appendNames) = s.segNames.partition(_.startsWith(UsegPrefix))
      val segPaths = appendNames.sorted
        .map(n => pinnedSegPath(name, n).toString)
      // a NESTED file manifest on an unmanifested table (path depth >
      // version/file) is a hive-partitioned overwrite version: its
      // file-level read needs a basePath anchored at the version dir or
      // the partition columns vanish from the schema (r17; manifested
      // `_bucket=` dirs stay on the plain file read — their bucket id is
      // deliberately NOT a logical column, same as the dir-level read)
      val nestedBase = s.manifest.isEmpty &&
        s.baseFiles.exists(_.count(_ == '/') > 1)
      val base: DataFrame =
        if (nestedBase) {
          val part = spark.read
            .option("mergeSchema", "true")
            .option("basePath", new Path(tableDir(name), s.version).toString)
            .parquet(s.baseFiles
              .map(f => new Path(tableDir(name), f).toString): _*)
          // partition cols are DATA columns in segment files: unionByName
          // with missing-column tolerance mirrors readUnioned's mergeSchema
          if (segPaths.isEmpty) part
          else part.unionByName(readUnioned(segPaths),
            allowMissingColumns = true)
        } else {
          val basePaths =
            if (s.baseFiles.nonEmpty)
              s.baseFiles.map(f => new Path(tableDir(name), f).toString)
            else s.manifest match {
              case Some(m) => m.buckets.toSeq.sortBy(_._1)
                .map { case (b, v) => bucketDir(name, v, b).toString }
              case None => Seq(new Path(tableDir(name), s.version).toString)
            }
          readUnioned(basePaths ++ segPaths)
        }
      if (usegNames.isEmpty) base
      else Publish.morResolve(Some(base),
        usegNames.map(n => n.stripPrefix(UsegPrefix).toLong ->
          spark.read.parquet(pinnedSegPath(name, n).toString)).sortBy(_._1),
        readGrain(name))
    }

  /** Release `tag`'s pin; returns whether it existed. The pinned bucket
    * generations become reclaimable on the next [[vacuum]].
    */
  def dropSnapshot(name: String, tag: String): Boolean =
    withTableLock(name) {
      val p = snapshotPath(name, tag)
      fs(p).delete(p, false)
    }

  /** The ownership symmetric difference of two same-sized bucket maps:
    * a bucket still owned by the version the snapshot recorded is
    * BIT-IDENTICAL files (copy-on-write never edits a published bucket
    * dir), so everything outside the returned set is provably unchanged.
    */
  private def changedOwnership(o: BucketManifest,
                               c: BucketManifest): Set[Int] =
    (o.buckets.keySet ++ c.buckets.keySet)
      .filter(b => o.buckets.get(b) != c.buckets.get(b))

  /** Bucket ids whose contents can differ between `tag`'s pinned state and
    * the current one — the O(1)-metadata half of the CDC question ("which
    * shards does a since-the-pin re-export touch"), answered from the two
    * bucket-ownership maps alone, NO data read: at 100 TB this is the
    * difference between re-processing a corpus and re-processing the
    * handful of buckets the releases since a training run actually
    * rewrote. Defined when the tag exists and the two states share a
    * bucket layout (both manifested, same bucket count, no live
    * append/upsert segments). None otherwise — an un-manifested state on
    * either side, a rebucket between pin and now (every key re-hashed, so
    * there is no shared bucket id space), or segments (un-bucketed rows a
    * bucket set cannot describe); [[snapshotDelta]] then falls back to
    * the full two-sided diff.
    */
  def snapshotChangedBuckets(name: String, tag: String): Option[Set[Int]] =
    readSnapshotMeta(name, tag).flatMap(s =>
      prunableDiff(name, s, currentManifest(name)))

  /** The ONE layout-compatibility predicate behind both the metadata
    * answer ([[snapshotChangedBuckets]]) and the feed's pruning
    * ([[snapshotDelta]]) — shared so the two can never drift apart.
    * Takes the already-read current manifest: each caller reads it once
    * and derives everything from that single read.
    */
  private def prunableDiff(name: String, s: TableSnapshot,
                           cur: Option[BucketManifest]): Option[Set[Int]] =
    (s.manifest, cur) match {
      case (Some(o), Some(c)) if o.numBuckets == c.numBuckets &&
          s.segNames.isEmpty &&
          segments(name).isEmpty && upsertSegments(name).isEmpty =>
        Some(changedOwnership(o, c))
      case _ => None
    }

  /** Row-level changes since `tag` was pinned — the CDC feed a downstream
    * incremental consumer (re-export, re-embed, re-evaluate) reads instead
    * of re-diffing the corpus: one row per inserted / updated / deleted
    * grain key, carrying the CURRENT row's columns (null for deletes,
    * grain always populated) plus a `change` column
    * ('insert'|'update'|'delete'). I/O is O(changed buckets) on BOTH
    * sides when the pin and the current state share a bucket layout
    * ([[snapshotChangedBuckets]]): a grain key hashes to the same bucket
    * in both states, so every key whose row differs lives inside the
    * changed set and the unchanged rest is never opened. Falls back to
    * the full two-sided diff when the layouts don't line up
    * (rebucket / plain-overwrite / segments) — correct first, pruned when
    * the layout allows, like [[readBuckets]]. Change detection compares
    * `etl_row_hash` when both sides carry it (merge-published tables
    * always do), else an md5 digest of the SHARED non-grain columns
    * (grain-only tables detect insert/delete, never update — there is no
    * payload to change). Joins on the table's recorded grain; pass
    * `grainOverride` for tables published without one. None when the tag
    * does not exist.
    */
  def snapshotDelta(name: String, tag: String,
                    grainOverride: Seq[String] = Seq.empty): Option[DataFrame] =
    readSnapshotMeta(name, tag).map { s =>
      val grain =
        if (grainOverride.nonEmpty) grainOverride
        else {
          val gp = grainPath(name)
          require(fs(gp).exists(gp), s"snapshotDelta($name, '$tag'): the " +
            "table records no grain — pass the key columns explicitly")
          readGrain(name)
        }
      val cur = currentManifest(name)
      val pruned: Option[Set[Int]] = prunableDiff(name, s, cur)
      if (pruned.exists(_.isEmpty)) {
        // empty ownership diff (and no pinned/live segments — prunableDiff
        // already requires that): the feed is EMPTY by layout fact. Serve
        // a locally-empty frame under the table's merged schema with the
        // change column appended instead of falling through to the
        // full-outer diff join below — the join plan over every bucket
        // dir is pure plan-building cost here (measured 0.6–0.8 s per
        // empty-diff call, r18 snapshot_pieces), and even a limit(0) scan
        // pays a file-listing job. Pruning-only: zero rows either way,
        // same columns, same types (unionedSchema is the same mergeSchema
        // union readIfExists serves).
        val m = cur.getOrElse(throw new IllegalStateException(
          s"snapshotDelta($name, '$tag'): empty diff without a manifest"))
        val paths = m.buckets.toSeq.sortBy(_._1)
          .map { case (b, v) => bucketDir(name, v, b).toString }
        if (paths.isEmpty) throw new IllegalStateException(
          s"snapshotDelta($name, '$tag'): no data on either side")
        val z = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          unionedSchema(paths))
        require(!z.columns.contains("change"),
          s"snapshotDelta($name, '$tag'): the table already has a 'change' column")
        z.withColumn("change", lit(""))
      } else {
      val (oldOpt, newOpt) = pruned match {
        case Some(ids) =>
          def sliced(m: BucketManifest) = {
            val paths = m.buckets.toSeq.sortBy(_._1).collect {
              case (b, v) if ids(b) => bucketDir(name, v, b).toString
            }
            if (paths.isEmpty) None else Some(readUnioned(paths))
          }
          (sliced(s.manifest.get), sliced(cur.get))
        case None => (readSnapshot(name, tag), readIfExists(name))
      }
      val newDf = newOpt.orElse(oldOpt.map(_.limit(0))).getOrElse(
        throw new IllegalStateException(
          s"snapshotDelta($name, '$tag'): no data on either side"))
      val oldDf = oldOpt.getOrElse(newDf.limit(0))
      val nCols = newDf.columns.toSeq
      require(!nCols.contains("change"),
        s"snapshotDelta($name, '$tag'): the table already has a 'change' column")
      val useHash = oldDf.columns.contains("etl_row_hash") &&
        newDf.columns.contains("etl_row_hash")
      val shared = oldDf.columns.intersect(newDf.columns)
        .filterNot(grain.contains).filterNot(_ == "etl_row_hash").sorted
      def digest(df: DataFrame): Column =
        if (useHash) col("etl_row_hash").cast("string")
        else if (shared.isEmpty) lit("")
        else md5(to_json(struct(shared.map(col).toSeq: _*)))
      val o = oldDf.select(grain.map(col) :+ digest(oldDf).as("_o_digest"): _*)
      val n = newDf.select(nCols.map(col) :+ digest(newDf).as("_n_digest"): _*)
      n.join(o, grain, "full_outer")
        .filter(col("_o_digest").isNull || col("_n_digest").isNull ||
          col("_o_digest") =!= col("_n_digest"))
        .withColumn("change",
          when(col("_o_digest").isNull, lit("insert"))
            .when(col("_n_digest").isNull, lit("delete"))
            .otherwise(lit("update")))
        .select(nCols.map(col) :+ col("change"): _*)
      }
    }

  private def liveSnapshots(name: String): Seq[TableSnapshot] =
    listSnapshots(name).flatMap(readSnapshotMeta(name, _))

  /** Reclaim superseded storage (vacuum): stale uncommitted temp dirs plus
    * version directories no longer reachable. For a manifested table
    * "reachable" is manifest-defined — a version stays while it still owns
    * at least one bucket, and within a kept non-current version the bucket
    * dirs it NO LONGER owns are pruned (a bucket rewritten by a later
    * publish would otherwise pin its stale generation forever, an unbounded
    * leak over a table's life). Net storage is ~1× the live table, PLUS
    * whatever [[snapshot]] tags still pin: a snapshot keeps its recorded
    * version dirs alive and its recorded (bucket → version) ownerships
    * exempt from bucket pruning, and nothing more — dropping the tag
    * returns the table to the ~1× bound.
    */
  def vacuum(name: String): Unit = {
    currentVersion(name).foreach { cur =>
      val man = readManifest(name, cur)
      val snaps = liveSnapshots(name)
      // versions pinned WHOLE (snapshot of an unmanifested state), and
      // (bucket, version) ownerships pinned by any snapshot's manifest
      val snapFull = snaps.filter(_.manifest.isEmpty).map(_.version).toSet
      val snapOwned: Set[(Int, String)] = snaps.flatMap(
        _.manifest.toSeq.flatMap(_.buckets.toSeq.map {
          case (b, v) => (b, v)
        })).toSet
      val keep = Set(cur) ++
        man.map(_.buckets.values.toSet).getOrElse(Set.empty) ++
        snapFull ++ snaps.map(_.version) ++ snapOwned.map(_._2)
      val dir = tableDir(name)
      val f = fs(dir)
      f.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if ((n.startsWith("v_") && !keep(n)) ||
            n.startsWith(".tmp_") || n.startsWith("._VERSION.tmp"))
          f.delete(st.getPath, true)
        else if (n.startsWith("v_") && n != cur && man.isDefined &&
                 !snapFull(n))
          f.listStatus(st.getPath).foreach { sub =>
            val sn = sub.getPath.getName
            if (sn.startsWith(BucketPrefix) && {
                  val b = sn.stripPrefix(BucketPrefix).toInt
                  !man.get.buckets.get(b).contains(n) && !snapOwned((b, n))
                })
              f.delete(sub.getPath, true)
          }
      }
      // retired segment dirs whose last tag dropped (or that a crash left
      // behind between a fold's swing and its disposal)
      disposeRetired(name)
      // legacy `_pinned/` entries the round-14 rename-based retirement
      // wrote: still read by pinnedSegPath, reclaimed here likewise
      val pinnedDir = new Path(dir, PinnedDirName)
      if (f.exists(pinnedDir)) {
        val stillPinned = snaps.flatMap(_.segNames).toSet
        f.listStatus(pinnedDir).foreach { st =>
          if (!stillPinned(st.getPath.getName)) f.delete(st.getPath, true)
        }
      }
    }
  }
}

object TableStore {
  /** First-file rows per bucket when sizing a new table's bucket count:
    * small enough that routine drop-files (thousands of rows) keep real
    * pruning granularity, large enough that a bucket's parquet files stay
    * well above the tiny-file overhead floor.
    */
  val RowsPerBucket: Long = 4096L

  /** [[TableStore.maybeRebucket]] divergence bound: fold only once the
    * sizing rule's ideal bucket count reaches this multiple of the pinned
    * one — a full-rewrite fold must stay rare, and power-of-two sizing
    * means small drifts are routine.
    */
  val RebucketRatio: Long = 8L

  /** Bounds of [[TableStore]]'s read memos: a resolved frame pins its
    * plan and file listing, a merged schema only the column set.
    */
  val FrameMemoMax: Int = 1024
  val SchemaMemoMax: Int = 8192
}
