package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** How a bucketed publish spreads its rows: `buckets` grain-hash buckets
  * (`_bucket = pmod(xxhash64(grain), buckets)`), `lanes` salt lanes per
  * bucket for within-bucket write parallelism, and the `partitions` the
  * write hash-repartitions into on [[keys]].
  *
  * A load that knows its target's first-publish layout before it validates
  * computes `_bucket` at its fan-out, repartitions on the same keys, and
  * carries the column to the publish. `_bucket` records the layout in its
  * column metadata, and the publish reuses it only when that layout equals
  * the one it resolves ([[BucketLayout.carried]]).
  */
final case class BucketLayout(buckets: Int, lanes: Int, partitions: Int) {

  /** The write's hash keys: `_bucket`, plus the salt lane over `grain`
    * only when there is more than one lane (a constant lane would only
    * change which task writes which bucket). The lane stays an expression
    * of the grain, never a stored column, so nothing has to be dropped
    * between the repartition and the write.
    */
  def keys(grain: Seq[Column]): Seq[Column] =
    col(BucketLayout.BucketCol) +:
      (if (lanes > 1) Seq(BucketLayout.laneOf(grain, lanes)) else Nil)

  /** `df` with this layout's `_bucket` computed over `grain`, replacing
    * a carried one; the column's metadata records the layout.
    */
  def withBucket(df: DataFrame, grain: Seq[Column]): DataFrame =
    df.withColumn(BucketLayout.BucketCol,
      BucketLayout.bucketOf(grain, buckets).as(BucketLayout.BucketCol, metadata))

  private def metadata: Metadata = new MetadataBuilder()
    .putLong(BucketLayout.BucketsKey, buckets.toLong)
    .putLong(BucketLayout.LanesKey, lanes.toLong)
    .putLong(BucketLayout.PartitionsKey, partitions.toLong)
    .build()
}

object BucketLayout {
  val BucketCol = "_bucket"

  private val BucketsKey = "graft.bucket.count"
  private val LanesKey = "graft.bucket.lanes"
  private val PartitionsKey = "graft.bucket.partitions"

  /** The publish's bucket function. */
  def bucketOf(grain: Seq[Column], buckets: Int): Column =
    pmod(xxhash64(grain: _*), lit(buckets.toLong))

  /** The salt lane. Seeded apart from [[bucketOf]]: an unseeded reuse
    * would make the lane a pure function of the bucket (h mod lanes is
    * determined by h mod buckets when lanes divides buckets) and kill the
    * within-bucket split.
    */
  def laneOf(grain: Seq[Column], lanes: Int): Column =
    pmod(xxhash64(lit("graft#salt") +: grain: _*), lit(lanes.toLong))

  /** The layout of a write of `touched` buckets over `shufflePartitions`:
    * a huge delta (an initial load touching every bucket) gets
    * shuffle-partition-many tasks and ~P/touched lanes per bucket, a
    * routine small publish one lane and at most min(P, touched) tasks.
    */
  def of(buckets: Int, touched: Int, shufflePartitions: Int): BucketLayout = {
    val t = math.max(1, touched)
    val lanes = math.max(1, shufflePartitions / t)
    BucketLayout(buckets, lanes, math.min(shufflePartitions, t * lanes))
  }

  /** The layout `df`'s carried `_bucket` was computed for, if it carries
    * one.
    */
  def carried(df: DataFrame): Option[BucketLayout] =
    df.schema.fields.find(_.name == BucketCol).map(_.metadata)
      .filter(m => Seq(BucketsKey, LanesKey, PartitionsKey).forall(m.contains))
      .map(m => BucketLayout(m.getLong(BucketsKey).toInt,
        m.getLong(LanesKey).toInt, m.getLong(PartitionsKey).toInt))

  /** `df` without a carried `_bucket`. */
  def dropCarried(df: DataFrame): DataFrame = df.drop(BucketCol)

  /** `df` repartitioned for a write in `layout`, `_bucket` included for
    * the write's `partitionBy`. Reuses a carried `_bucket` computed for
    * exactly this layout, and otherwise computes it over `grain`. With the
    * input already hash-partitioned on the same keys into the same count,
    * Spark's `EnsureRequirements` drops the repartition.
    */
  def repartitioned(df: DataFrame, layout: BucketLayout,
                    grain: Seq[String]): DataFrame = {
    val g = grain.map(col)
    val keyed = if (carried(df).contains(layout)) df else layout.withBucket(df, g)
    keyed.repartition(layout.partitions, layout.keys(g): _*)
  }
}
