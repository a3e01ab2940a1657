package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Exact global ranking without a single-partition sort.
  *
  * `Window.orderBy(...)` with an empty PARTITION BY compiles to an
  * Exchange SinglePartition + a one-task sort over the whole input — the
  * classic scale killer: at 100 TB the entire table funnels through one
  * executor thread. This helper computes the SAME exact gapless
  * row-number rank as the global window in two distributed passes:
  *
  *  1. a bounded deterministic SAMPLE of `(key, minor)` pairs (hash-ordered
  *     TakeOrdered — per-partition top-S, no full shuffle), sorted and
  *     evenly sliced, yields an array of `(key_cut, minor_cut)` pairs (one
  *     broadcast row) that range-bucket every row by LEXICOGRAPHIC strict
  *     comparison: bucket = #cuts with `(kc, mc) < (key, minor)`. Joint
  *     sampling is the RangePartitioner idiom Spark's own distributed sort
  *     uses — and the load-balance lever: cuts inside a heavy key-tie
  *     class carry that class's OWN minor quantiles (index-wise pairing of
  *     two independent percentile sketches would pair a class-local key
  *     cut with a GLOBAL minor quantile and pile the class tail into one
  *     bucket).
  *  2. per-bucket counts (≤ `buckets` rows) prefix-sum into offsets — the
  *     only partition-less window runs over that bounded aggregate — and
  *     rank = bucket offset + row_number within the bucket (a window
  *     PARTITIONED by bucket, so each sort is bucket-local).
  *
  * Exactness: `minor` must be numeric and MONOTONE NON-DECREASING in the
  * leading `ties` column's sort order (typically it IS the leading tie,
  * cast to numeric; identity is monotone). Then bucket order is
  * consistent with the total (key, ties…) order — a row in an earlier
  * bucket precedes every row of a later bucket — and rows equal on
  * (key, minor) always share a bucket (strict comparison), so offsets +
  * the within-bucket sort reproduce the global window rank BIT-IDENTICALLY
  * for ANY cut array. Cut placement affects load balance only.
  *
  * Heavy ties: with no `minor`, equal keys always share a bucket, so a
  * tie class larger than a bucket target lands in ONE bucket's local
  * sort — ranking a low-cardinality key (integer frequencies, rounded
  * ratios, Zipf-tail counts) recreates the single-partition funnel this
  * helper exists to kill. Passing `minor` splits a heavy key class
  * across buckets along the class's own minor quantiles. Callers with a
  * STRING tiebreak can prepend an order-insensitive numeric proxy
  * (e.g. the md5-h60 of the string) to `ties` and pass it as `minor` —
  * exact ranks for the (key, proxy, string) order, which downstream
  * aggregates invariant to within-tie-class permutation cannot tell from
  * the (key, string) order.
  */
object RankOps {

  /** Adds exact 1-based global rank `out` ordered by (`key` asc, `ties`
    * asc). For descending keys pass `negate(key)`. `minor` (numeric,
    * monotone in `ties.head` — see class doc) splits heavy key-tie
    * classes across buckets; omitted, equal keys share a bucket.
    */
  /** The range-bucketing half of [[withGlobalRank]], exposed for the spec's
    * balance property: the input plus a `_rk_b` bucket id column.
    *
    * With `part`, the `buckets * 64` sample is shared by all parts, not
    * drawn per part: with P parts each part gets ~64/P samples per bucket,
    * so its buckets' share error grows toward 1/sqrt(64/P). That costs
    * bucket balance (straggler risk), not correctness: ranks stay exact
    * whatever the cuts.
    */
  private[graft] def bucketAssign(df: DataFrame, key: Column,
                                  minor: Option[Column],
                                  buckets: Int,
                                  part: Option[Column] = None): DataFrame = {
    val pd = part.getOrElse(lit(0L)).cast(DoubleType)
    val kd = key.cast(DoubleType)
    val md = minor.getOrElse(lit(0L)).cast(DoubleType)
    // deterministic uniform sample: top-S by hash compiles to
    // TakeOrderedAndProject (per-partition top-S + single merge — the
    // q9/top-k shape, never a full sort); (p, k, m) tiebreaks make the
    // selection stable when hashes collide. 64x oversampling per bucket
    // bounds the per-bucket share error near 1/sqrt(64)
    val sampleN = buckets * 64
    val s = df.select(pd.as("_rk_p"), kd.as("_rk_k"), md.as("_rk_m"))
      .orderBy(xxhash64(col("_rk_p"), col("_rk_k"), col("_rk_m")),
        col("_rk_p"), col("_rk_k"), col("_rk_m"))
      .limit(sampleN)
    // one bounded row: sort the sample, slice every (size/buckets)-th
    // element into the cut array (cut values are actual data triples;
    // struct sort_array orders field-lexicographically — p, then k,
    // then m — matching the strict comparison below)
    val cuts = s
      .agg(sort_array(collect_list(
          struct(col("_rk_p"), col("_rk_k"), col("_rk_m"))))
        .as("_rk_s"))
      .select(when(size(col("_rk_s")) < lit(2),
          array().cast(
            "array<struct<_rk_p:double,_rk_k:double,_rk_m:double>>"))
        .otherwise(transform(sequence(lit(1), lit(buckets - 1)),
          i => element_at(col("_rk_s"),
            greatest(lit(1), floor(i * size(col("_rk_s")) / lit(buckets))
              .cast("int")))))
        .as("_rk_cuts"))
    // strict lexicographic cut comparison: equal (part, key, minor) share
    // a bucket; a null minor (or key) compares "not less" on that field,
    // landing the row in its class's EARLIEST bucket — consistent with
    // the within-bucket sort's nulls-first ordering
    df.crossJoin(broadcast(cuts))
      .withColumn("_rk_b",
        coalesce(size(filter(col("_rk_cuts"),
          c => c.getField("_rk_p") < pd ||
            (c.getField("_rk_p") === pd && (c.getField("_rk_k") < kd ||
              (c.getField("_rk_k") === kd && c.getField("_rk_m") < md))))),
          lit(0)))
      .drop("_rk_cuts")
  }

  def withGlobalRank(df: DataFrame, key: Column, ties: Seq[Column],
                     out: String, buckets: Int = 64,
                     minor: Option[Column] = None): DataFrame =
    ranked(df, key, ties, out, buckets, minor, nOut = None)

  /** CONCATENATED per-group ranks in ONE distributed rank pass: rows are
    * ordered (`part` asc, `key` asc, `ties` asc) and ranked gaplessly
    * over that total order, so within each `part` group the ranks run
    * (offset+1 .. offset+groupSize) in the group's own (key, ties)
    * order — a caller whose groups are equal-sized recovers each group's
    * LOCAL rank as `out - groupIndex × groupSize` arithmetically. One
    * sample + one cut broadcast + one bucket window for ALL groups,
    * where per-group [[withGlobalRank]] calls would each pay the full
    * machinery and meet in a chain of joins (quality_metric_agreement
    * ran three — the unpivoted single pass replaces that plan). `part`
    * must be numeric and non-null; `minor` splits heavy (part, key) tie
    * classes exactly as [[withGlobalRank]]'s does, with the same
    * monotonicity contract against `ties.head`.
    */
  def withPartedRankAndCount(df: DataFrame, part: Column, key: Column,
                             ties: Seq[Column], out: String, nOut: String,
                             buckets: Int = 64,
                             minor: Option[Column] = None): DataFrame =
    ranked(df, key, ties, out, buckets, minor, nOut = Some(nOut),
      part = Some(part))

  /** [[withGlobalRank]] plus the TOTAL row count as column `nOut`: the
    * rank's bucket-count aggregate already holds every bucket's size, so
    * the global n is one more sum over that bounded frame — callers
    * needing (rank, n) pairs (ntile, percentile-of-rank) would otherwise
    * pay a second full scan of `df` for a `count(*)` cross join.
    */
  def withGlobalRankAndCount(df: DataFrame, key: Column, ties: Seq[Column],
                             out: String, nOut: String, buckets: Int = 64,
                             minor: Option[Column] = None): DataFrame =
    ranked(df, key, ties, out, buckets, minor, nOut = Some(nOut))

  private def ranked(df: DataFrame, key: Column, ties: Seq[Column],
                     out: String, buckets: Int, minor: Option[Column],
                     nOut: Option[String],
                     part: Option[Column] = None): DataFrame = {
    // the bucket/offset internals and the requested output columns ride
    // through a join — a collision with an existing column would survive
    // analysis as a duplicate name and ambiguate the CALLER's next
    // reference, so fail loud here instead
    val reserved = Seq("_rk_b", "_rk_off", out) ++ nOut
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"withGlobalRank: input already has column(s) ${clash.mkString(", ")}")
    val bucketed = bucketAssign(df, key, minor, buckets, part)
    // both windows run over the bounded per-bucket aggregate (≤ buckets
    // rows): the prefix-sum offsets, and optionally the all-bucket total
    val offs0 = bucketed.groupBy("_rk_b").agg(count(lit(1)).as("_rk_n"))
      .withColumn("_rk_off", coalesce(
        sum("_rk_n").over(Window.orderBy("_rk_b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offs = nOut match {
      case Some(n) => offs0
        .withColumn(n, sum("_rk_n").over(Window.orderBy("_rk_b")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select("_rk_b", "_rk_off", n)
      case None => offs0.select("_rk_b", "_rk_off")
    }
    bucketed.join(broadcast(offs), Seq("_rk_b"))
      .withColumn(out, (col("_rk_off") + row_number().over(
        Window.partitionBy("_rk_b")
          .orderBy(part.toSeq ++ (key +: ties): _*)))
        .cast(LongType))
      .drop("_rk_b", "_rk_off")
  }

  /** SQL `ntile(k)` recomputed from an exact gapless rank `r` and total
    * row count `n` (both 1-based longs): the first `n % k` tiles take
    * `n/k + 1` rows, the rest `n/k` — identical to the window function's
    * assignment, derivable row-locally once the rank exists.
    */
  def ntileFromRank(r: Column, n: Column, k: Int): Column = {
    val small = floor(n / k).cast(LongType)
    val m = (n % k).cast(LongType)
    val big = small + lit(1L)
    when(r <= m * big, floor((r - lit(1L)) / big) + lit(1L))
      .otherwise(m + floor((r - m * big - lit(1L)) / small) + lit(1L))
      .cast(LongType)
  }
}
