package graft.queries

import graft.core.{ColumnSpec, SourceConfig, CsvOptions}
import graft.operators.{Publish, Validator}
import graft.sources.Reader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational query suite exercising the engine's operator inventory
  * (SURVEY §2) over the driver testdata. Every query is deterministic
  * (explicit ORDER BY, rounded floats) and has a DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Scale notes per query are inline: which joins broadcast, where the one
  * shuffle lands, and why each plan survives 100 TB.
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Epoch-MICROsecond view of the events `ts` column — delegates to the
    * shared encoding probe ([[graft.sources.SchemaProbe.epochMicros]],
    * PropertiesSpec-pinned for the nano-long / timestamp / NTZ encodings
    * the driver has shipped across rounds).
    */
  private[graft] def epochMicros(df: DataFrame, field: String = "ts"): org.apache.spark.sql.Column =
    graft.sources.SchemaProbe.epochMicros(df, field)

  /** q1: pricing summary (TPC-H Q1 shape) — the grain/aggregate audit
    * pattern (A1/A3). One partial+final hash aggregate over 6 groups;
    * map-side combine collapses everything before the shuffle, so the
    * exchange moves O(groups), not O(rows), at any scale.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li
      // schema-probed: stays the bare pushable column unless the driver
      // re-encodes l_shipdate (SchemaProbe.asTimestamp)
      .filter(graft.sources.SchemaProbe.asTimestamp(li, "l_shipdate") <=
        lit("1998-09-02").cast(TimestampType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q2: grain-uniqueness audit (A1) — COUNT DISTINCT vs COUNT as a single
    * two-phase aggregate.
    */
  def q2GrainAudit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("o_orderkey")).as("distinct_keys"))
      .withColumn("is_unique",
        (col("distinct_keys") === col("total_rows")).cast(LongType))

  /** q3: duplicate-grain examples (A2) — GROUP BY HAVING count>1, top-5 by
    * key. The limit pushes into a TakeOrderedAndProject after the agg: only
    * 5 rows ever reach the driver.
    */
  def q3DupGrainExamples(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("duplicate_count"))
      .filter(col("duplicate_count") > 1)
      .orderBy("l_orderkey")
      .limit(5)

  /** q4: the validation split (V1/V3) through the engine's REAL rule
    * compiler: events rows flow through [[Validator.compile]] with a rule
    * set that flags 'error' events and negative values, then the two scalar
    * aggregates of the threshold gate. No UDFs — the whole check is one
    * codegen'd projection.
    */
  def q4ValidationSplit(spark: SparkSession, dir: String): DataFrame = {
    // ts spec adapts to the parquet encoding (shared probe seam): nano-long
    // files validate as long, micro-timestamp files as timestamp
    val tsSpec = graft.sources.SchemaProbe.timestampSpec(
      t(spark, dir, "events"), "ts", nullable = false)
    val source = SourceConfig(
      name = "events", filePattern = "events*.parquet", sourceType = "parquet",
      columns = Seq(
        ColumnSpec.long("event_id", nullable = false),
        tsSpec,
        ColumnSpec.long("user_id", nullable = false),
        ColumnSpec(name = "event_type", dataType = StringType, nullable = false,
          check = Some(("unknown event_type",
            c => c.isin("click", "view", "signup", "purchase")))),
        ColumnSpec(name = "value", dataType = DoubleType, nullable = false,
          check = Some(("value must be non-negative", c => c >= 0))),
        ColumnSpec.string("props")),
      tableName = "events", grain = Seq("event_id"))
    val raw = t(spark, dir, "events")
      .withColumn(Reader.RowNumCol, monotonically_increasing_id())
    val checked = Validator.compile(raw, source, "events.parquet", 0L)
    checked.agg(
      count(lit(1)).as("total"),
      count(when(!col(Validator.IsValidCol), 1)).as("errors"))
      .withColumn("error_rate",
        round(col("errors").cast(DoubleType) / col("total"), 6))
  }

  /** q5: MERGE upsert (J1) through the engine's real merge relation
    * ([[Publish.taggedMerge]], the frame [[Publish.mergePlan]] writes):
    * target = orders with key % 3 != 0; stage = orders with key % 2 = 0 and
    * +1 price when key % 4 = 0. Exercises matched-and-changed (update),
    * matched-same-hash (no-op), not-matched (insert), and target-only
    * (keep) in one full-outer shuffle join. AQE broadcasts a small stage
    * side automatically at real scale.
    */
  def q5MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val source = SourceConfig(
      name = "orders_merge", filePattern = "x.parquet", sourceType = "parquet",
      columns = Seq(
        ColumnSpec.long("o_orderkey", nullable = false),
        ColumnSpec.double("o_totalprice", nullable = false)),
      tableName = "orders_m", grain = Seq("o_orderkey"))
    val orders = t(spark, dir, "orders")
    def withEngineCols(df: DataFrame): DataFrame = df
      .withColumn("etl_row_hash", xxhash64(concat_ws("|",
        col("o_orderkey").cast(StringType), col("o_totalprice").cast(StringType))))
      .withColumn("source_filename", lit("x.parquet"))
      .withColumn("file_load_log_id", lit(0L))
    val target = withEngineCols(
      orders.filter(col("o_orderkey") % 3 =!= 0)
        .select("o_orderkey", "o_totalprice"))
      .withColumn("etl_created_at", lit(null).cast(TimestampType))
      .withColumn("etl_updated_at", lit(null).cast(TimestampType))
    val stage = withEngineCols(
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + when(col("o_orderkey") % 4 === 0, 1.0).otherwise(0.0))
            .as("o_totalprice")))
    // ONE pass over the engine's tagged merge relation (the same frame
    // Publish.mergePlan writes): final count, action counts, and the price
    // sum fold into a single aggregation over a single full-outer join.
    Publish.taggedMerge(stage, target, source, new java.sql.Timestamp(0L))
      .agg(
        count(lit(1)).as("final_count"),
        count(when(col("_action") === "insert", 1)).as("inserts"),
        count(when(col("_action") === "update", 1)).as("updates"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .select("final_count", "inserts", "updates", "total_price")
  }

  /** q6: pre-merge insert/update counts (A4/J2) through the engine's real
    * [[Publish.counts]] — the EXISTS semi-join pattern.
    */
  def q6SemiJoinCounts(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    def hashed(df: DataFrame): DataFrame = df
      .withColumn("etl_row_hash", xxhash64(concat_ws("|",
        col("c_custkey").cast(StringType), col("c_acctbal").cast(StringType))))
    val target = hashed(customer.filter(col("c_custkey") % 3 =!= 0)
      .select("c_custkey", "c_acctbal"))
    val stage = hashed(customer.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"),
        (col("c_acctbal") + when(col("c_custkey") % 10 === 0, 10.0).otherwise(0.0))
          .as("c_acctbal")))
    val (inserts, updates) = Publish.counts(stage, target, Seq("c_custkey"))
    val spark2 = spark
    import spark2.implicits._
    Seq((inserts, updates)).toDF("inserts", "updates")
  }

  /** q7: custom audit query (A3) — the SUM(CASE...) non-zero-flag contract
    * (reference audit/base.py:95-121) over lineitem.
    */
  def q7CustomAudit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").agg(
      (sum(when(col("l_extendedprice") > 0, 1).otherwise(0)) === count(lit(1)))
        .cast(LongType).as("extendedprice_positive"),
      (sum(when(col("l_quantity") > 0, 1).otherwise(0)) === count(lit(1)))
        .cast(LongType).as("quantity_positive"),
      (sum(when(col("l_discount") >= 0 && col("l_discount") <= 1, 1).otherwise(0)) ===
        count(lit(1))).cast(LongType).as("discount_in_range"))

  /** q8: DLQ-cleanup rewrite (J3) — the filter-not(predicate) pattern that
    * replaces the reference's batched DELETE loops, as a per-group survivor
    * count.
    */
  def q8DlqCleanup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter(!(col("event_type") === "error" && col("event_id") < 5000))
      .groupBy("event_type")
      .agg(count(lit(1)).as("kept"))
      .orderBy("event_type")

  /** q9: top-k (T1) — ORDER BY LIMIT compiles to TakeOrderedAndProject:
    * per-partition heaps of k, no global sort, no full shuffle.
    */
  def q9TopkOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_totalprice")
      .limit(10)

  /** q10: star-join rollup — orders x customer x nation x region.
    * nation/region are FIXED-size (25/5 rows by schema) and carry explicit
    * broadcast hints; customer GROWS with the scale factor, so its join is
    * left to Spark's size-based auto-broadcast — a BroadcastHashJoin at
    * every test SF (PlanSpec pins it), a shuffle join with AQE once
    * customer outgrows the threshold on a real cluster. Hinting it would
    * force a driver OOM at 100 TB.
    */
  def q10RegionRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(t(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(round(sum("o_totalprice"), 2).as("revenue"),
        count(lit(1)).as("order_count"))
      .orderBy("r_name")

  /** q11: multi-join revenue (TPC-H Q5 shape) — lineitem x orders shuffle
    * join on orderkey (both huge: sort-merge, AQE-skew-safe); nation hints
    * broadcast (fixed 25 rows), customer auto-broadcasts by size (see
    * [[q10RegionRevenue]]). The flagship plan: one wide join + one aggregate.
    */
  def q11NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val odate = graft.sources.SchemaProbe.asTimestamp(ord, "o_orderdate")
    t(spark, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(odate >= lit("1996-01-01").cast(TimestampType) &&
              odate < lit("1997-01-01").cast(TimestampType))
      .join(t(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy("n_name")
  }

  /** q12: window function — last event per user (ROW_NUMBER over a
    * user-partitioned, time-descending frame), rolled up by type. One
    * shuffle on user_id; the window itself is a per-partition sort.
    */
  def q12LastEventByUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("users"))
      .orderBy("event_type")
  }

  /** q13: as-of join — for every purchase, the most recent click by the
    * same user strictly earlier in (ts, event_id) order. ONE window pass
    * over a union-tagged stream (a single shuffle on user_id), not a range
    * join: the classic point-in-time-correctness operator (feature lookup
    * at label time) expressed so each user's timeline is a contiguous
    * sorted run per task — linear at any scale, no join explosion.
    * Gaps are reported in MICROseconds — DuckDB's TIMESTAMP is
    * micro-valued, so both sides compute on the identical epoch-micros
    * view (see [[epochMicros]]).
    */
  def q13AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val ev = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), epochMicros(events).as("tus"),
        col("user_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val isClick = col("event_type") === "click"
    ev
      .withColumn("click_id",
        last(when(isClick, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_tus",
        last(when(isClick, col("tus")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("click_id"),
        (col("tus") - col("click_tus")).as("gap_us"))
      .orderBy("event_id")
  }

  /** q14: sessionization — gap-based session assignment (30 min) per user
    * via lag + running sum of session starts: two window passes over the
    * SAME (user_id, ts) partitioning/ordering, so Catalyst plans one sort +
    * one exchange; session stats then aggregate map-side. The standard
    * event-stream operator batch-side (its streaming twin is the
    * session-window state op in StreamingPipeline).
    */
  def q14Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 1800L * 1000000L // 30 min in micros
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val events = t(spark, dir, "events")
    val sessions = events
      // micro precision (epochMicros): DuckDB's TIMESTAMP is micro-valued,
      // so gap/duration comparisons must use the identical truncation on
      // this side; integer arithmetic keeps it exact
      .select(col("user_id"), epochMicros(events).as("tus"), col("event_id"))
      .withColumn("new_s",
        when(col("tus") - lag("tus", 1).over(byUser) > gapUs || lag("tus", 1)
          .over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("s_idx", sum("new_s").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "s_idx")
      .agg(count(lit(1)).as("n_events"),
        (max("tus") - min("tus")).as("dur_us"))
      .withColumn("dur_sec", expr("dur_us div 1000000"))
    sessions.agg(
      count(lit(1)).as("n_sessions"),
      round(avg("n_events"), 4).as("avg_events"),
      max("n_events").as("max_events"),
      round(avg("dur_sec"), 2).as("avg_dur_sec"))
  }

  /** Streaming↔batch SESSIONIZATION equivalence, oracle-checked: replays
    * the events table through the real watermarked
    * [[graft.streaming.StreamingPipeline.sessionWindowStats]] operator
    * (`Trigger.AvailableNow`, Complete output into a memory sink — append
    * would withhold the tail sessions a bounded replay never watermarks
    * past) and rolls the per-session rows up to q14's exact summary.
    * Spark's `session_window` end is last-event + gap, so per-session
    * duration subtracts the gap to land on the batch max-min definition;
    * both engines then agree to the rounded digits, and the DuckDB oracle
    * is [[q14Sessionize]]'s verbatim. The boundary case (events exactly
    * one gap apart) merges in BOTH formulations — batch starts a new
    * session only on strictly-greater gaps, and session_window merges a
    * window starting at the previous window's end.
    */
  def q14SessionizeStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val src0 = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    // encoding-adaptive: a nano-long ts replays identically (SchemaProbe)
    val src = src0.withColumn("ts",
      graft.sources.SchemaProbe.asTimestamp(src0, "ts"))
    val sess = graft.streaming.StreamingPipeline
      .sessionWindowStats(src, "30 minutes", "10 minutes")
    val sink = "q14_sessionize_stream_sink"
    val q = sess.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val result = spark.table(sink)
      .select(col("n_events"), expr(
        "(unix_micros(session_end) - unix_micros(session_start)" +
          " - 1800000000) div 1000000").as("dur_sec"))
      .agg(count(lit(1)).as("n_sessions"),
        round(avg("n_events"), 4).as("avg_events"),
        max("n_events").as("max_events"),
        round(avg("dur_sec"), 2).as("avg_dur_sec"))
    val rows = result.collect().toSeq
    spark.catalog.dropTempView(sink)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), result.schema)
  }

  /** q15: hierarchical rollup — revenue at (region, nation), region, and
    * grand-total grains in ONE pass (partial aggregation covers all three
    * levels before the shuffle). COALESCE labels the subtotal rows so the
    * output is join-key-clean; grouping_id disambiguates and orders levels.
    */
  def q15RollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    // SQL form: the DataFrame rollup+select trips the ambiguous-self-join
    // check on the Expand-duplicated grouping attributes; the SQL analyzer
    // resolves GROUP BY ROLLUP scoping directly (and the plan is identical)
    Seq("orders", "customer", "nation", "region")
      .foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(
      """SELECT /*+ BROADCAST(customer), BROADCAST(nation), BROADCAST(region) */
        | coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        | round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin)
  }

  /** q16: exact interpolated percentiles of order value per status — the
    * distribution-audit operator. Spark's `percentile` and DuckDB's
    * `quantile_cont` share the p·(n-1) linear-interpolation definition, so
    * the oracle is exact after rounding. (At 100 TB swap in
    * approx_percentile and compare against this as ground truth at small
    * sf — the same measured-quality pattern as sim_lsh_recall.)
    */
  def q16Percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 2).as("p75"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"))
      .orderBy("o_orderstatus")

  /** q17: pivot — event counts by type across day-of-week columns. The
    * day index is pure epoch-nano integer arithmetic (1970-01-01 was a
    * Thursday), identical in both engines with no timezone dependence.
    * Spark's pivot with explicit values compiles to one aggregate with
    * conditional counts — same single-shuffle plan as the CASE oracle.
    */
  def q17PivotDayOfWeek(spark: SparkSession, dir: String): DataFrame = {
    // integer `div`: epoch longs > 2^53 make double division unsafe at day
    // boundaries; `div` is exact int64 like the oracle's `//`. Day index on
    // MICROS (86_400e6 per day) — the oracle's epoch_ns // 86400e9 agrees
    // because nanos = micros * 1000 exactly.
    val events = t(spark, dir, "events")
    val dow = (expr("tus div 86400000000") + 4) % 7
    events
      .select(col("event_type"), epochMicros(events).as("tus"))
      .select(col("event_type"), dow.as("dow"))
      .groupBy("event_type")
      .pivot("dow", 0L to 6L)
      .count()
      .select(col("event_type") +: (0 to 6).map(d =>
        coalesce(col(d.toString), lit(0L)).as(s"d$d")): _*)
      .orderBy("event_type")
  }

  /** q20: anti join — customers with no URGENT orders, per market segment.
    * The orders side filters (pushed to the scan) then reduces to distinct
    * custkeys BEFORE the join — a fine-grained aggregation — and LeftAnti
    * streams the customer side against it; at warehouse scale the
    * distinct-key side is a fraction of the fact table and typically
    * broadcastable.
    */
  def q20AntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          // no distinct: left_anti already has at-most-once semantics, and
          // the extra shuffle would only shrink an already-broadcastable side
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers_no_orders"))
      .orderBy("c_mktsegment")

  /** q21: set operators — order keys with 1995 shipments INTERSECT 1996
    * shipments (orders spanning both years) and both EXCEPT directions.
    * The three set results come out of ONE scan: per-key year flags via
    * map-side partial `max`, then a single flag aggregation. Chained
    * `intersect`/`except` operators would scan lineitem six times and
    * shuffle each distinct key set separately; this plan reads the table
    * once and shuffles one row per order key — the 100 TB shape. The date
    * range filter stays a bare-column parquet predicate (row-group
    * pruning), with `year()` only applied post-scan to build the flags.
    */
  def q21SetOps(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ship = graft.sources.SchemaProbe.asTimestamp(li, "l_shipdate")
    li
      // string-literal casts parse in the UTC session timezone (q1/q2
      // convention) — java.sql.Timestamp.valueOf would use the JVM default
      // tz and shift the year boundaries on non-UTC hosts
      .filter(ship >= lit("1995-01-01").cast(TimestampType) &&
        ship < lit("1997-01-01").cast(TimestampType))
      .groupBy("l_orderkey")
      .agg(
        max(when(year(ship) === 1995, 1).otherwise(0)).as("in95"),
        max(when(year(ship) === 1996, 1).otherwise(0)).as("in96"))
      .agg(
        count(when(col("in95") === 1 && col("in96") === 1, 1)).as("both_years"),
        count(when(col("in95") === 1 && col("in96") === 0, 1)).as("only_1995"),
        count(when(col("in95") === 0 && col("in96") === 1, 1)).as("only_1996"))
  }

  /** q22: window FRAME — 3-event moving average of value per user in
    * (ts, event_id) order, rolled up globally. The frame is ROWS-based so
    * both engines accumulate the identical operand sequence; one shuffle on
    * user_id, per-partition sorted scan. Order by the MICRO-precision ts
    * ([[epochMicros]], like q13/q14) so tie-breaks fall through to
    * event_id exactly as the oracle's do.
    */
  def q22MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus"), col("event_id")).rowsBetween(-2, 0)
    val events = t(spark, dir, "events")
    events
      .withColumn("tus", epochMicros(events))
      .withColumn("mov", round(avg("value").over(w), 4))
      .agg(count(lit(1)).as("n_windows"),
        round(max("mov"), 4).as("max_moving_avg"),
        round(avg("mov"), 4).as("avg_moving_avg"))
  }

  /** q23: NTILE quartiles of order totals (totalprice, orderkey tie-break)
    * with per-quartile stats. An exact global ntile needs the total order —
    * at warehouse scale swap the cut points for approx percentiles and keep
    * this exact form for the verifier, same shape both ways.
    */
  def q23Ntile(spark: SparkSession, dir: String): DataFrame = {
    // exact ntile without the global window's single-partition sort:
    // distributed two-pass rank (RankOps scaladoc), then the tile is
    // row-local arithmetic over (rank, total) — bit-identical output.
    // fanOut first (round 19): the one-row-group bench file fed BOTH
    // rank passes (sample + bucketed window) from a single scan task
    // (2× ~1.6 s single-task stages in the r19 profile); the guard
    // no-ops on production multi-row-group data.
    val o = graft.core.ScanEstimate.fanOut(t(spark, dir, "orders"),
      s"$dir/orders.parquet")
    // rank and total count in ONE pass: the count(*) cross join this
    // replaced was a second full scan of orders
    val ranked = graft.operators.RankOps.withGlobalRankAndCount(
      o, col("o_totalprice"), Seq(col("o_orderkey")), "_r", "_n",
      minor = Some(col("o_orderkey")))
    ranked
      .withColumn("q", graft.operators.RankOps
        .ntileFromRank(col("_r"), col("_n"), 4))
      .groupBy("q")
      .agg(count(lit(1)).as("n_orders"),
        round(min("o_totalprice"), 2).as("min_total"),
        round(max("o_totalprice"), 2).as("max_total"),
        round(sum("o_totalprice"), 2).as("sum_total"))
      .orderBy("q")
  }

  /** q24: time-RANGE join — for every purchase, the same user's clicks in
    * the preceding 60 s. Spark has no native range-join operator, so the
    * inequality is re-expressed as a BANDED equi-join: both sides bucket
    * time by the window width, the probe side expands to its own and the
    * previous bucket (any in-range pair shares one of the two), and the
    * exact bound becomes a post-join filter. The shuffle key is
    * (user, bucket) — fine-grained and skew-safe — and candidate fan-in per
    * probe row is bounded by two buckets, where the naive `user_id` equi
    * join + filter would pair every purchase with EVERY click of that user
    * (unbounded per-user blowup at scale). Micro-precision timestamps
    * ([[epochMicros]]) for the same oracle-parity reason as q13/q14.
    */
  def q24RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 60L * 1000000L // 60 s in micros
    val events = t(spark, dir, "events")
    val ev = events
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochMicros(events).as("tus"))
    // `div` = integer division on longs: `floor(tus / winUs)` would go
    // through double division, exact only below 2^53 µs — the banding proof
    // relies on integer bucket arithmetic, so make it exact by construction
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("tus").as("ctus"),
        expr(s"tus div $winUs").as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tus").as("ptus"),
        explode(array(expr(s"tus div $winUs"),
          expr(s"tus div $winUs") - 1)).as("bucket"))
    val pairs = purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("ctus") >= col("ptus") - winUs && col("ctus") < col("ptus"))
    val perPurchase = pairs.groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks"))
    ev.filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n_purchases"))
      .crossJoin(perPurchase.agg(
        count(lit(1)).as("n_with_clicks"),
        coalesce(sum("n_clicks"), lit(0L)).as("total_pairs"),
        coalesce(max("n_clicks"), lit(0L)).as("max_clicks")))
      .select(col("n_purchases"), col("n_with_clicks"),
        col("total_pairs"), col("max_clicks"))
  }

  /** q25: sketch-based quantiles — approx_percentile (a positional sketch
    * with bounded rank error) GRADED against the exact interpolated
    * percentile in-query, the sim_lsh_recall pattern: the sketch value
    * itself is engine-internal, but "the sketch's element sits within the
    * declared rank band" is a theorem the exact side can check. With
    * accuracy 1000 the guaranteed rank error is 1/1000; the check brackets
    * each approx value between the exact interpolated percentiles at
    * q±0.005 (5x the guarantee — an element at rank n(q±0.001) always
    * falls inside the q±0.005 value bracket). The oracle recomputes
    * n_orders and both exact percentiles and pins the in-band booleans to
    * 1, so a sketch regression flips the row red. Scale: the sketch merges
    * map-side in fixed memory where the exact form must sort or
    * multi-pass; shipping both makes the trade measurable.
    */
  def q25ApproxQuantile(spark: SparkSession, dir: String): DataFrame = {
    def within(ap: org.apache.spark.sql.Column,
               lo: org.apache.spark.sql.Column,
               hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (ap.cast(DoubleType) >= lo && ap.cast(DoubleType) <= hi).cast(LongType)
    t(spark, dir, "orders")
      .agg(count(lit(1)).as("n_orders"),
        expr("percentile(o_totalprice, 0.5)").as("ex50"),
        expr("percentile(o_totalprice, 0.99)").as("ex99"),
        expr("percentile(o_totalprice, 0.495)").as("lo50"),
        expr("percentile(o_totalprice, 0.505)").as("hi50"),
        expr("percentile(o_totalprice, 0.985)").as("lo99"),
        expr("percentile(o_totalprice, 0.995)").as("hi99"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(o_totalprice, 0.99, 1000)").as("ap99"))
      .select(col("n_orders"),
        round(col("ex50"), 2).as("exact_p50"),
        round(col("ex99"), 2).as("exact_p99"),
        within(col("ap50"), col("lo50"), col("hi50")).as("p50_in_band"),
        within(col("ap99"), col("lo99"), col("hi99")).as("p99_in_band"))
  }

  /** q19: sketch-based distinct counting — approx_count_distinct (HLL++)
    * GRADED against the exact count in-query (the sim_lsh_recall pattern:
    * the HLL register contents are engine-specific, but "the estimate is
    * within the declared error band" is checkable from the exact side).
    * The emitted `within_bound` boolean asserts relative error <= 3x the
    * configured rsd (0.02 -> bound 0.06); the oracle recomputes n_events
    * and the exact distinct count and pins the boolean to 1, so an
    * estimator regression turns the row red instead of invisible. At
    * 100 TB the sketch IS the plan: fixed-size HLL buffers merge map-side
    * and shuffle a few KB per partition, where an exact countDistinct
    * shuffles every distinct key before it can count.
    */
  def q19ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .select(col("n_events"), col("exact_users"),
        lit(0.06).as("rel_err_bound"),
        (abs(col("approx_users") - col("exact_users")).cast(DoubleType) /
          col("exact_users") <= 0.06).cast(LongType).as("within_bound"))

  /** q26: correlated scalar subquery — customers above their own nation's
    * average balance, written in the CORRELATED form (the way analysts
    * write it) and left to Catalyst to decorrelate: the per-row subquery
    * rewrites to one per-nation aggregate joined back on the correlation
    * key. PlanSpec pins that rewrite — the naive execution would re-run
    * the subquery per customer row, O(n·groups) at scale instead of one
    * aggregate + one broadcast join.
    */
  def q26CorrelatedAvg(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("q26_customer")
    spark.sql(
      """SELECT c_nationkey, count(*) AS n_above,
        |       round(avg(c_acctbal), 2) AS avg_above_bal
        |FROM q26_customer c1
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM q26_customer c2
        |                   WHERE c2.c_nationkey = c1.c_nationkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  /** q27: LATERAL top-N-per-group — each nation's two highest-value orders,
    * written as a correlated LATERAL subquery with ORDER BY + LIMIT (the
    * form both engines now accept) rather than a hand-rolled window. The
    * optimizer turns the per-nation limit into a ranked join; the outer
    * side (nation) is tiny, so the per-group work is driven by the small
    * side, not a global sort of orders.
    */
  def q27LateralTopPerNation(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("q27_nation")
    t(spark, dir, "orders").createOrReplaceTempView("q27_orders")
    t(spark, dir, "customer").createOrReplaceTempView("q27_customer")
    spark.sql(
      """SELECT n.n_name, o.o_orderkey, o.o_totalprice
        |FROM q27_nation n,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM q27_orders o JOIN q27_customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        |) o
        |ORDER BY n_name, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  /** q18: semi-structured JSON column — per-event-type stats over the `$.k`
    * field parsed from the `props` JSON string. `get_json_object` is a
    * codegen'd per-row path expression, so parsing happens inside the scan
    * projection and the only shuffle is the final tiny aggregation. At
    * 100 TB with several fields read, switch to `from_json` with an
    * explicit schema (parse once, columnar struct access) — the single-path
    * form here is the right plan for one field.
    */
  def q18JsonProps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum("k").as("sum_k"),
        round(avg("k"), 4).as("avg_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** Ordered conversion funnel view → click → purchase: users counted at a
    * stage only if they performed it strictly AFTER their entry into the
    * previous stage (the product-analytics "ordered funnel", not the
    * unordered per-type distinct count). Each stage is a per-user min-time
    * aggregate chained through an equi-join on user_id — map-side-combined
    * aggregations over fine-grained keys, no windows, no self-join
    * explosion: stage N's frame never exceeds one row per surviving user.
    * Micro-precision integer event times ([[epochMicros]]) keep the
    * strict-after comparisons exact cross-engine.
    */
  def q28EventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val base = e.select(col("user_id"), col("event_type"),
      epochMicros(e).as("tus"))
    val v = base.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tus").as("t_view"))
    val c = base.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("tus") > col("t_view"))
      .groupBy("user_id").agg(min("tus").as("t_click"))
    val p = base.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("tus") > col("t_click"))
      .groupBy("user_id").agg(min("tus").as("t_purchase"))
    base.agg(countDistinct(col("user_id")).as("n_users"))
      .crossJoin(v.agg(count(lit(1)).as("n_view")))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
      .select(col("n_users"), col("n_view"), col("n_view_click"),
        col("n_full_funnel"),
        round(col("n_full_funnel").cast(DoubleType) / col("n_view"), 4)
          .as("funnel_rate"))
  }

  /** Weekly cohort retention: users grouped by the epoch-week of their
    * FIRST event; for each (cohort, week offset), how many of the cohort
    * were active — the retention triangle every product warehouse
    * publishes. Weeks are integer epoch-microsecond divisions (floor by
    * 7-day micros), not calendar `date_trunc`, so both engines bucket
    * identically with pure integer math (no week-start convention drift).
    * Two fine-grained aggregates ((user) first-week, (user, week)
    * activity) + an equi-join on user_id; output is
    * O(cohorts × offsets) at any event volume.
    */
  def q29CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val e = t(spark, dir, "events")
    val wk = e.select(col("user_id"), epochMicros(e).as("tus"))
      .selectExpr("user_id", s"tus DIV ${weekUs}L AS wk")
    val active = wk.distinct()
    val cohort = active.groupBy("user_id").agg(min("wk").as("cw"))
    val sizes = cohort.groupBy("cw").agg(count(lit(1)).as("cohort_users"))
    active.join(cohort, Seq("user_id"))
      .groupBy(col("cw"), (col("wk") - col("cw")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, Seq("cw"))
      .select(col("cw").as("cohort_week"), col("week_offset"),
        col("n_active"), col("cohort_users"),
        round(col("n_active").cast(DoubleType) / col("cohort_users"), 4)
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Columns profiled by [[profileTable]] — shared with the oracle-SQL
    * generator so the two sides can never drift.
    */
  private[graft] val ProfileColumns = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Deequ-style column profile of the orders table: per column, row
    * count, null count, exact distinct count, and min/max rendered as
    * strings — the data-profiling pass a warehouse runs on every new feed
    * before wiring validation rules. ONE aggregation computes every
    * column's stats (the multi-distinct plans as a single Expand+shuffle
    * pass, rows × n_columns — the standard profiling trade); `stack`
    * unpivots the 1-row result into the per-column report. At 100 TB swap
    * the exact distincts for `approx_count_distinct` (declared
    * divergence, same note as the percentile operators).
    */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    // fan the under-partitioned scan out first (round 19): the bench SF's
    // orders file is ONE row group, so the Expand (rows × profiled
    // columns, the multi-distinct pass) ran inside a single 2.7 s scan
    // task. Same guard as TrainingData.docs — only fires when the footer
    // row-group estimate is far under the core count; production
    // multi-row-group data keeps its native shuffle-free layout.
    val tbl = graft.core.ScanEstimate.fanOut(t(spark, dir, "orders"),
      s"$dir/orders.parquet")
    val aggs = ProfileColumns.flatMap(c => Seq(
      count(col(c)).as(s"cnt_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      min(col(c)).cast(StringType).as(s"min_$c"),
      max(col(c)).cast(StringType).as(s"max_$c")))
    val row = tbl.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackArgs = ProfileColumns.map(c =>
      s"'$c', cnt_$c, nd_$c, min_$c, max_$c").mkString(", ")
    row.selectExpr("n_rows",
        s"stack(${ProfileColumns.length}, $stackArgs) AS " +
          "(column_name, n_present, n_distinct, min_value, max_value)")
      .select(col("column_name"), col("n_rows"),
        (col("n_rows") - col("n_present")).as("n_nulls"),
        col("n_distinct"), col("min_value"), col("max_value"))
      .orderBy("column_name")
  }

  /** Per-user event-type transition matrix (first-order Markov behavior
    * model): count and row-normalized probability of every prev → next
    * event-type pair within each user's time-ordered stream. The lag
    * window shuffles once on user_id (fine-grained key, per-user sort);
    * the matrix itself is O(types²) rows at any event volume — the
    * behavioral-analytics table session-prediction and anomaly models
    * start from.
    */
  def q30EventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val seq = e.select(col("user_id"), epochMicros(e).as("tus"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(byUser))
      .filter(col("prev").isNotNull)
    val counts = seq
      .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = counts.groupBy("from_type").agg(sum("n").as("n_from"))
    counts.join(fromTotals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast(DoubleType) / col("n_from"), 4).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Referential-integrity audit across the warehouse's FK edges:
    * lineitem→orders and orders→customer orphan counts plus childless
    * customers — the DQ gate a pipeline runs before publishing a join
    * product (an orphan rate > 0 means a partial load upstream). Anti
    * joins are hash equi-joins on the key; every output is a scalar
    * count, so the audit costs three key-projected scans at any scale.
    */
  def q31RefIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(col("l_orderkey"))
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c = t(spark, dir, "customer").select(col("c_custkey"))
    val orphanLi = li.join(o.select(col("o_orderkey").as("l_orderkey"))
      .distinct(), Seq("l_orderkey"), "left_anti")
    val orphanOrd = o.join(c.select(col("c_custkey").as("o_custkey")),
      Seq("o_custkey"), "left_anti")
    val childless = c.join(o.select(col("o_custkey").as("c_custkey"))
      .distinct(), Seq("c_custkey"), "left_anti")
    li.agg(count(lit(1)).as("n_lineitem"))
      .crossJoin(orphanLi.agg(count(lit(1)).as("orphan_lineitems")))
      .crossJoin(o.agg(count(lit(1)).as("n_orders")))
      .crossJoin(orphanOrd.agg(count(lit(1)).as("orphan_orders")))
      .crossJoin(c.agg(count(lit(1)).as("n_customers")))
      .crossJoin(childless.agg(count(lit(1)).as("childless_customers")))
  }

  /** Hourly event-volume anomaly screen: every hour bucket z-scored
    * against the all-hours count distribution, top-5 most anomalous hours
    * reported with an |z| >= 2 flag — the volume-anomaly cousin of the
    * PSI value-drift monitor (a dead crawler shard or a retry storm shows
    * here first). The z statistics derive from EXACT integer sums
    * (Σn, Σn² over hour counts), so every double is bit-identical
    * cross-engine — no incremental-variance formula divergence. One
    * corpus pass to hour counts (fine-grained integer key, map-side
    * partials), O(hours) everything after; the top-5 is a TakeOrdered.
    */
  def q32AnomalousHours(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val hours = e.select(epochMicros(e).as("tus"))
      .selectExpr("tus DIV 3600000000 AS hour_bucket")
      .groupBy("hour_bucket").agg(count(lit(1)).as("n_events"))
    val stats = hours.agg(
      count(lit(1)).as("n_hours"),
      sum("n_events").as("s1"),
      sum(col("n_events") * col("n_events")).as("s2"))
    hours.crossJoin(broadcast(stats))
      .select(col("hour_bucket"), col("n_events"),
        (col("s1").cast(DoubleType) / col("n_hours")).as("mean"),
        sqrt((col("s2").cast(DoubleType) -
          col("s1").cast(DoubleType) * col("s1") / col("n_hours")) /
          (col("n_hours") - 1)).as("sd"))
      .select(col("hour_bucket"), col("n_events"),
        round((col("n_events") - col("mean")) / col("sd"), 4).as("z"))
      .withColumn("is_anomaly", abs(col("z")) >= 2.0)
      .orderBy(abs(col("z")).desc, col("hour_bucket"))
      .limit(5)
  }

  /** RFM (recency / frequency / monetary) quintile segmentation of the
    * event stream — the classic warehouse customer-value matrix: each
    * user scored 1-5 on how recently they acted (5 = most recent, days
    * against the corpus max event time), how often, and how much value
    * they generated; reported as the 5x5 R×F grid with per-cell user
    * counts and value averages. One corpus pass to the per-user rollup
    * (fine-grained user key, map-side partials); the ntile windows run
    * over the USER table — users ≪ events, the standard RFM trade. At
    * billions of users swap the single-partition ntile for histogram
    * quantile thresholds (the [[graft.queries.TrainingData.selectTokenBudgetHist]]
    * move); the quintile semantics below stay the contract. Ties broken
    * by user_id so both engines assign identical buckets; recency uses
    * explicit floor() because Spark's integral cast truncates while
    * DuckDB's rounds.
    */
  def q33RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val perUser = e.select(col("user_id"), epochMicros(e).as("tus"),
        col("value"))
      .groupBy("user_id")
      .agg(max("tus").as("last_tus"), count(lit(1)).as("freq"),
        sum("value").as("monetary"))
    val maxTs = perUser.agg(max("last_tus").as("corpus_max"))
    val scored = perUser.crossJoin(broadcast(maxTs))
      .withColumn("recency_days",
        floor((col("corpus_max") - col("last_tus")) / lit(86400000000L))
          .cast(LongType))
    // both ntiles via the distributed two-pass rank (no global-window
    // single-partition sort over the per-user frame — unbounded at scale);
    // recency desc = rank on the negated key, user_id tiebreak unchanged.
    // Each rank runs over its own narrow (user_id, key) projection and
    // joins back on user_id — chaining them would re-derive the first
    // rank inside the second's cut-point aggregate. (r19 NOTE: the
    // unpivoted single-pass shape that won on quality_metric_agreement's
    // THREE corpus-sized ranks was tried here and measured flat-to-worse
    // — 1.47 -> 1.6-1.9 s paired — because the per-user frame is tiny
    // and the pivot's extra shuffle outweighs the saved rank machinery;
    // reverted, kept as a recorded negative.)
    import graft.operators.RankOps.{ntileFromRank, withGlobalRank,
      withGlobalRankAndCount}
    // minor = user_id (the tiebreak itself): recency_days and freq are
    // LOW-CARDINALITY integer keys — at billions of users a single value
    // (freq=1) can be a third of the table, and without the minor the
    // whole class would funnel through one bucket's local sort.
    // The recency rank also carries out the user total (`_n`, one sum
    // over its bounded bucket aggregate): a count(*) cross join here
    // would re-derive the per-user rollup — a second full pass over
    // events
    val rr = withGlobalRankAndCount(
      scored.select(col("user_id"), col("recency_days")),
      negate(col("recency_days")), Seq(col("user_id")), "_rr", "_n",
      minor = Some(col("user_id")))
      .select("user_id", "_rr", "_n")
    val rf = withGlobalRank(scored.select(col("user_id"), col("freq")),
      col("freq"), Seq(col("user_id")), "_rf",
      minor = Some(col("user_id")))
      .select("user_id", "_rf")
    scored.join(rr, Seq("user_id")).join(rf, Seq("user_id"))
      .withColumn("r_score", ntileFromRank(col("_rr"), col("_n"), 5))
      .withColumn("f_score", ntileFromRank(col("_rf"), col("_n"), 5))
      .groupBy("r_score", "f_score")
      .agg(count(lit(1)).as("n_users"),
        round(avg("recency_days"), 2).as("avg_recency_days"),
        round(avg("freq"), 2).as("avg_frequency"),
        round(avg("monetary"), 2).as("avg_monetary"))
      .orderBy("r_score", "f_score")
  }

  /** Dense time spine + gap fill + forward fill — the time-series repair
    * every monitoring/reporting layer needs before charting or
    * delta-detection: hourly event counts re-based onto the COMPLETE hour
    * range (missing hours surface as explicit zero rows, flagged), with
    * the hourly value average carried forward across gaps
    * (`last(_, ignoreNulls)` over an ordered frame — the
    * last-observation-carried-forward semantics that naive `lag` gets
    * wrong across multi-hour gaps). The spine generates distributively
    * (`sequence` + explode off a two-scalar aggregate, no driver loop);
    * the fill window orders the spine, which is O(span hours), not
    * O(events). sf0.001 leaves 189 of 720 hours empty, so the fill path
    * is exercised, not vacuous.
    */
  def q34GapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val hours = e.select(epochMicros(e).as("tus"), col("value"))
      .selectExpr("tus DIV 3600000000 AS hb", "value")
      .groupBy("hb")
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("av"))
    val bounds = hours.agg(min("hb").as("lo"), max("hb").as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi)")).as("hb"))
    val w = Window.orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hours, Seq("hb"), "left")
      .select(col("hb").as("hour_bucket"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        col("n").isNull.as("filled"),
        last("av", ignoreNulls = true).over(w).as("avg_value_ffill"))
      .orderBy("hour_bucket")
  }

  /** Inter-arrival time distribution per event type — the latency/cadence
    * profile behind rate anomaly detection and session-timeout tuning
    * (q14's 30-min gap threshold is exactly a quantile of this
    * distribution). Each gap is `ts - lag(ts)` within the user's own
    * ordered event sequence, attributed to the CURRENT event's type
    * ("time since this user's previous activity when a purchase
    * happens"). The lag window partitions on user_id — millions of small
    * independent partitions, never a global sort — and the exact
    * percentiles aggregate per event_type (a handful of groups), so the
    * only O(rows) exchange is the user-keyed window shuffle. Ties on ts
    * break by event_id, keeping the gap sequence deterministic under any
    * partitioning.
    */
  def q35Interarrival(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val gaps = e
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochMicros(e).as("tus"))
      .withColumn("prev_tus", lag("tus", 1).over(w))
      .filter(col("prev_tus").isNotNull)
      .select(col("event_type"),
        ((col("tus") - col("prev_tus")).cast(DoubleType) / 1e6).as("gap_s"))
    // exact `percentile` buffers every group's values in an
    // ObjectHashAggregate — unbounded per-group state at 100 TB. The
    // registered form is approx_percentile (GK sketch, bounded state)
    // graded in-query by RANK band, which is tie-robust: v is a valid
    // p-quantile within eps iff count(<v)/n <= p+eps AND count(<=v)/n >=
    // p-eps (value-band grading would need the exact percentile back).
    // The oracle recomputes n/avg/max exactly and pins the flags at 1.
    val eps = 0.01
    val approx = gaps.groupBy("event_type").agg(
      expr("approx_percentile(gap_s, 0.5, 10000)").as("ap50"),
      expr("approx_percentile(gap_s, 0.9, 10000)").as("ap90"))
    def frac(cmp: org.apache.spark.sql.Column) =
      count(when(cmp, 1)).cast(DoubleType) / count(lit(1))
    gaps.join(broadcast(approx), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        round(avg("gap_s"), 2).as("avg_gap_s"),
        round(max("gap_s"), 2).as("max_gap_s"),
        frac(col("gap_s") < col("ap50")).as("lt50"),
        frac(col("gap_s") <= col("ap50")).as("le50"),
        frac(col("gap_s") < col("ap90")).as("lt90"),
        frac(col("gap_s") <= col("ap90")).as("le90"))
      .select(col("event_type"), col("n_gaps"), col("avg_gap_s"),
        col("max_gap_s"),
        (col("lt50") <= 0.5 + eps && col("le50") >= 0.5 - eps)
          .cast(LongType).as("p50_in_band"),
        (col("lt90") <= 0.9 + eps && col("le90") >= 0.9 - eps)
          .cast(LongType).as("p90_in_band"))
      .orderBy("event_type")
  }
}
