package graft

import graft.core._
import graft.functions.{Multimodal, TextFunctions => F, VectorFunctions}
import graft.operators.Publish
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  // one JVM-shared session for the whole test run — suites must never
  // stop it (getOrCreate shares the underlying session across suites)
  private val spark: SparkSession = TestSpark.spark

  private def one(colExpr: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    spark.range(1).select(colExpr).head()

  test("shingles: distinct word n-grams, empty below n tokens") {
    val toks = F.tokens(lit("a b c a b"))
    assert(one(F.shingles(toks, 2)).getSeq[String](0).sorted ==
      Seq("a b", "b c", "c a"))
    assert(one(F.shingles(F.tokens(lit("solo")), 2)).getSeq[String](0).isEmpty)
  }

  test("jaccard: known overlap") {
    val a = array(lit("x"), lit("y"), lit("z"))
    val b = array(lit("y"), lit("z"), lit("w"))
    assert(one(F.jaccard(a, b)).getDouble(0) == 0.5) // 2 / 4
  }

  test("minhash signature: k portable components, stable, in [0, p)") {
    val sh = F.shingles(F.tokens(lit("the quick brown fox jumps")), 2)
    val s1 = one(F.minhashSignature(sh, 8)).getSeq[Long](0)
    val s2 = one(F.minhashSignature(sh, 8)).getSeq[Long](0)
    assert(s1.length == 8 && s1 == s2)
    assert(s1.forall(h => h >= 0 && h < F.MinhashPrime))
  }

  test("simhash: order-insensitive, near for near docs, 0 distance to self") {
    val d1 = one(F.simhash(F.tokens(lit("spark scales data pipelines")))).getLong(0)
    val d2 = one(F.simhash(F.tokens(lit("pipelines data scales spark")))).getLong(0)
    assert(d1 == d2) // bag-of-words: order must not matter
    val far = one(F.simhash(F.tokens(lit("entirely different words here")))).getLong(0)
    assert(one(F.hamming(lit(d1), lit(far))).getInt(0) > 0)
  }

  test("vec_dot: codegen expression matches composable form") {
    val a = array((1 to 8).map(i => lit(i.toDouble)): _*)
    val b = array((1 to 8).map(i => lit((9 - i).toDouble)): _*)
    val expected = (1 to 8).map(i => i.toDouble * (9 - i)).sum
    assert(one(VectorFunctions.vecDot(a, b)).getDouble(0) == expected)
    assert(one(F.dot(a, b)).getDouble(0) == expected)
    assert(one(F.cosine(a, a)).getDouble(0) == 1.0)
  }

  test("cosine_sim: fused expression is bit-identical to the composition") {
    import VectorFunctions.{cosineSim, vecDot, vecNormalize}
    val a = array(lit(1.0), lit(-2.0), lit(3.0), lit(0.5))
    val b = array(lit(4.0), lit(0.25), lit(-1.0), lit(2.0))
    val fused = one(cosineSim(a, b)).getDouble(0)
    val composed = one(vecDot(vecNormalize(a), vecNormalize(b))).getDouble(0)
    assert(fused == composed, "must match the composition bit-for-bit")
    assert(one(cosineSim(a, a)).getDouble(0) == 1.0)
    // zero-norm: the composition yields NaN (0/0 elements); so must the fusion
    val z = array(lit(0.0), lit(0.0))
    assert(one(cosineSim(z, b)).getDouble(0).isNaN)
    assert(one(vecDot(vecNormalize(z), vecNormalize(b))).getDouble(0).isNaN)
    // a null ELEMENT nulls the result in both forms
    val withNull = array(lit(1.0), lit(null).cast(DoubleType))
    assert(one(cosineSim(withNull, b)).isNullAt(0))
    assert(one(vecDot(vecNormalize(withNull), vecNormalize(b))).isNullAt(0))
  }

  test("FuseCosine: optimizer rewrites the composition to cosine_sim") {
    import VectorFunctions.{vecDot, vecNormalize}
    val df = spark.range(3).select(
      array(col("id").cast(DoubleType), lit(2.0)).as("a"),
      array(lit(1.0), col("id").cast(DoubleType)).as("b"))
      .select(vecDot(vecNormalize(col("a")), vecNormalize(col("b"))).as("sim"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosine_sim"),
      s"rule must fuse the composition, got:\n$optimized")
    assert(!optimized.contains("vec_normalize"),
      "the normalized intermediates must be gone after fusion")
    // and the rewritten plan still computes the right values
    val sims = df.collect().map(_.getDouble(0))
    assert(sims.length == 3 && sims.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("a newSession() sibling has the SQL functions and FuseCosine with no registration call") {
    import VectorFunctions.{vecDot, vecNormalize}
    val sibling = spark.newSession()
    val row = sibling.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)),
        |       cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)),
        |       size(minhash_sig(array(7L, 9L), 4))""".stripMargin).head()
    assert(row.getDouble(0) == 11.0 && row.getDouble(1) == 1.0 && row.getInt(2) == 4)
    val df = sibling.range(2).select(
      array(col("id").cast(DoubleType), lit(2.0)).as("a"),
      array(lit(1.0), col("id").cast(DoubleType)).as("b"))
      .select(vecDot(vecNormalize(col("a")), vecNormalize(col("b"))).as("sim"))
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.CosineSim]))),
      s"FuseCosine must rewrite the composition, got:\n$optimized")
  }

  test("shingle_ids: fused expression matches the composable chain") {
    val text = lit("the quick brown fox jumps over the quick brown dog")
    val fused = one(VectorFunctions.shingleIds(text, 2)).getSeq[Long](0)
    val chain = one(array_distinct(F.shingleIds(F.shingles(F.tokens(text), 2))))
      .getSeq[Long](0)
    assert(fused.sorted == chain.sorted && fused.nonEmpty)
    assert(one(VectorFunctions.shingleIds(lit("solo"), 2)).getSeq[Long](0).isEmpty)
  }

  test("shingle_ids: non-space whitespace at the edges keeps bit-parity") {
    // Spark/DuckDB trim strips U+0020 only; \t \n \r at the boundaries must
    // tokenize identically through the fused expression and the composable
    // chain (ADVICE r1: Java String.trim broke this)
    for (raw <- Seq("\tthe quick brown fox", "the quick brown fox\n",
                    " \t mixed edges case \r ", "a  b\t\tc")) {
      val text = lit(raw)
      val fused = one(VectorFunctions.shingleIds(text, 2)).getSeq[Long](0)
      val chain = one(array_distinct(F.shingleIds(F.shingles(F.tokens(text), 2))))
        .getSeq[Long](0)
      assert(fused.sorted == chain.sorted, s"parity broke for ${raw.replace("\t", "\\t")}")
    }
  }

  test("shingle_strings: fused expression matches the composable chain") {
    for (raw <- Seq("the quick brown fox jumps over the quick brown dog",
                    "\tthe quick brown fox", " \t mixed edges case \r ",
                    "a  b\t\tc", "solo", "")) {
      val text = lit(raw)
      val fused = one(VectorFunctions.shingleStrings(text, 2)).getSeq[String](0)
      val chain = one(F.shingles(F.tokens(text), 2)).getSeq[String](0)
      assert(fused == chain, s"parity broke for ${raw.replace("\t", "\\t")}")
    }
  }

  test("jaccard_ids: merge-scan matches generic set jaccard on sorted arrays") {
    val a = array(lit(1L), lit(3L), lit(5L), lit(9L))
    val b = array(lit(3L), lit(4L), lit(9L))
    assert(one(VectorFunctions.jaccardIds(a, b)).getDouble(0) ==
      one(F.jaccard(a, b)).getDouble(0)) // 2 / 5
    assert(one(VectorFunctions.jaccardIds(a, b)).getDouble(0) == 0.4)
  }

  test("intersect_size_ids: merge-scan matches array_intersect size") {
    val a = array(lit(1L), lit(3L), lit(5L), lit(9L))
    val b = array(lit(3L), lit(4L), lit(9L))
    assert(one(VectorFunctions.intersectIds(a, b)).getLong(0) == 2L)
    assert(one(VectorFunctions.intersectIds(a, b)).getLong(0) ==
      one(size(array_intersect(a, b)).cast("long")).getLong(0))
    // disjoint, empty, and identical inputs
    assert(one(VectorFunctions.intersectIds(a, array(lit(2L)))).getLong(0) == 0L)
    assert(one(VectorFunctions.intersectIds(a, array().cast("array<bigint>")))
      .getLong(0) == 0L)
    assert(one(VectorFunctions.intersectIds(a, a)).getLong(0) == 4L)
  }

  test("vec_normalize: matches per-element transform division, unit norm") {
    val v = array(lit(3.0d), lit(4.0d))
    val fused = one(VectorFunctions.vecNormalize(v)).getSeq[Double](0)
    val chain = one(transform(v,
      x => x / sqrt(VectorFunctions.vecDot(v, v)))).getSeq[Double](0)
    assert(fused == chain)
    assert(fused == Seq(0.6, 0.8))
    // zero vector divides through to NaN, matching SQL x / sqrt(0)
    assert(one(VectorFunctions.vecNormalize(array(lit(0.0d))))
      .getSeq[Double](0).forall(_.isNaN))
  }

  test("simhash_md5: fused loop matches the relational vote formulation") {
    val sp = spark
    import sp.implicits._
    for (raw <- Seq("alpha beta gamma", "a a a b", " padded  text ", "solo", "")) {
      val fused = one(VectorFunctions.simhashMd5(lit(raw))).getLong(0)
      // relational form: explode tokens -> h60 -> 60 vote sums -> bits
      val h60 = (c: org.apache.spark.sql.Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val votes = (0 until 60).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"v$b"))
      val fpExpr = (0 until 60).map(b =>
        when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
      val relational = Seq(raw).toDF("text")
        .select(explode(F.tokens(col("text"))).as("tok"))
        .select(h60(col("tok")).as("h"))
        .agg(votes.head, votes.tail: _*)
        .select(fpExpr.as("fp")).head().getLong(0)
      assert(fused === relational, s"parity broke for '$raw'")
    }
  }

  test("SQL surface: registered functions parse in spark.sql") {
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       shingle_ids('a b c', 2) AS ids,
        |       jaccard_ids(array(1L, 2L), array(2L, 3L)) AS j""".stripMargin)
      .head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getSeq[Long](1).length == 2)
    assert(r.getDouble(2) == 0.3333)
  }

  test("langId: marker words and default") {
    def pred(s: String) = one(F.langId(lit(s), F.tokens(lit(s)))).getString(0)
    assert(pred("der hund und die katze") == "de")
    assert(pred("hello world table scan") == "en")
    assert(pred("le chat est dans une table") == "fr")
  }

  test("cleanText: control strip, url/email mask, whitespace collapse") {
    def clean(s: String) = one(F.cleanText(lit(s))).getString(0)
    assert(clean("see https://ex.com/a?b=1 now") == "see <URL> now")
    assert(clean("mail bob.smith+x@ex-site.co.uk please") == "mail <EMAIL> please")
    // url with embedded @ masks as URL, not email
    assert(clean("at http://u@ex.com/p") == "at <URL>")
    assert(clean("a\u0000b\u0007c") == "abc")
    assert(clean("  a\t\tb\n\nc  ") == "a b c")
    // already-clean text is a fixed point
    assert(clean("plain words only") == "plain words only")
  }

  test("fingerprint: stable and content-sensitive") {
    val f1 = one(F.fingerprint(lit("one two three four five"))).getString(0)
    val f2 = one(F.fingerprint(lit("one two three four five"))).getString(0)
    val f3 = one(F.fingerprint(lit("six seven eight nine ten"))).getString(0)
    assert(f1 == f2 && f1 != f3)
  }

  test("multimodal decode stub: frame shape from byte length") {
    val means = Multimodal.decodeStub(Array.fill[Byte](130)(65))
    assert(means.length == 3) // ceil(130/64)
    assert(means.take(2).forall(_ == 65.0))
  }

  test("multimodal frame-sample + resize: strides, group means, identity") {
    val sp = spark
    import sp.implicits._
    val rec = Multimodal.MediaFeatures(1L, "image", 0L, 7L,
      Array(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0))
    val ds = Seq(rec).toDS()
    val sampled = Multimodal.frameSample(ds, 3).head()
    assert(sampled.frame_means.toSeq === Seq(10.0, 40.0, 70.0)) // idx 0,3,6
    assert(sampled.n_frames === 3L)
    // 7 frames -> target 4: groups of ceil(7/4)=2 -> 4 group means
    val resized = Multimodal.resizeFrames(ds, 4).head()
    assert(resized.n_frames === 4L)
    assert(resized.frame_means.toSeq === Seq(15.0, 35.0, 55.0, 70.0))
    // n <= target is the identity (matches the g=1 general formula)
    val id = Multimodal.resizeFrames(Multimodal.frameSample(ds, 3), 4).head()
    assert(id.frame_means.toSeq === Seq(10.0, 40.0, 70.0))
  }

  test("merge idempotence: re-merging merged state yields no changes") {
    val sp = spark
    import sp.implicits._
    val source = SourceConfig(
      name = "m", filePattern = "x.parquet", sourceType = "parquet",
      columns = Seq(ColumnSpec.long("k", nullable = false),
        ColumnSpec.double("v", nullable = false)),
      tableName = "t", grain = Seq("k"))
    def engineCols(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("etl_row_hash", xxhash64(concat_ws("|",
        col("k").cast(StringType), col("v").cast(StringType))))
      .withColumn("source_filename", lit("x.parquet"))
      .withColumn("file_load_log_id", lit(0L))
    val stage = engineCols(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v"))
    val target = engineCols(Seq((2L, 9.0), (4L, 4.0)).toDF("k", "v"))
      .withColumn("etl_created_at", lit(null).cast(TimestampType))
      .withColumn("etl_updated_at", lit(null).cast(TimestampType))
    val now = new java.sql.Timestamp(0L)
    // the counts are observed by the action that runs the plan: read them
    // only after it
    val m1 = Publish.mergePlan(stage, target, source, now)
    assert(m1.merged.count() == 4)
    assert(m1.counts() == ((2L, 1L))) // 1,3 insert; 2 updated
    val m2 = Publish.mergePlan(stage, m1.merged, source, now)
    assert(m2.merged.count() == 4)
    assert(m2.counts() == ((0L, 0L))) // hash no-op fixpoint
  }

  test("all-pairs cosine: blocked build side matches single-block result") {
    import spark.implicits._
    import graft.operators.Similarity
    // 60 deterministic unit vectors, dim 6; several engineered near-dupes
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val base = (0L until 60L).map { i =>
      (i, unit(Array.fill(6)(rnd.nextGaussian())))
    }
    val nearDup = base.take(5).map { case (i, v) =>
      (i + 1000L, unit(v.zipWithIndex.map { case (x, d) => x + (if (d == 0) 0.01 else 0.0) }))
    }
    val df = spark.createDataset(base ++ nearDup).toDF("vec_id", "nv")

    // Forced tiny block size → must genuinely split the build side
    val tiny = 4L * Similarity.rowBytes(6)
    assert(Similarity.numBlocksFor(65L, 6, tiny) > 1)
    val single = Similarity.allPairsAboveThreshold(df, threshold = 0.8).collect()
    val blocked = Similarity.allPairsAboveThreshold(df, threshold = 0.8,
      maxBlockBytes = tiny).collect()
    assert(single.nonEmpty) // the 5 engineered near-dupes must surface
    assert(blocked.map(_.toSeq).toSeq == single.map(_.toSeq).toSeq)
  }

  test("pii: detects and redacts emails, phones, ipv4; clean text untouched") {
    import org.apache.spark.sql.functions._
    val s = "mail bob.smith+x@corp.example.com or call 555-867-5309 " +
      "from 192.168.1.250 twice: 10.0.0.1; phone 555.867.5309 too"
    val row = spark.range(1).select(
      F.patternCount(lit(s), F.EmailRe).as("e"),
      F.patternCount(lit(s), F.PhoneRe).as("p"),
      F.patternCount(lit(s), F.Ipv4Re).as("i"),
      F.redactPii(lit(s)).as("r")).head()
    assert(row.getInt(0) == 1 && row.getInt(1) == 2 && row.getInt(2) == 2)
    val r = row.getString(3)
    assert(r == "mail [EMAIL] or call [PHONE] from [IP] twice: [IP]; " +
      "phone [PHONE] too")
    // clean text passes through byte-identical, counts all zero
    val clean = "no personal data here, just 3 words and v1.2 notation"
    val c = spark.range(1).select(
      F.patternCount(lit(clean), F.EmailRe).as("e"),
      F.patternCount(lit(clean), F.PhoneRe).as("p"),
      F.patternCount(lit(clean), F.Ipv4Re).as("i"),
      F.redactPii(lit(clean)).as("r")).head()
    assert(c.getInt(0) == 0 && c.getInt(1) == 0 && c.getInt(2) == 0)
    assert(c.getString(3) == clean)
  }

  test("probe-set hash: Spark md5-of-decimal-string matches the reference digest") {
    // The fixed-N probe sets select by md5(CAST(vec_id AS VARCHAR)) in
    // DuckDB and md5(cast(vec_id as string)) in Spark — the two oracles
    // agree only if both hash the UTF-8 decimal rendering to the same
    // lowercase hex. Pin Spark's side against the RFC 1321 reference
    // digests so a change in either cast or hash surfaces here, not as a
    // silent oracle mismatch.
    import org.apache.spark.sql.functions._
    val got = spark.range(1).select(
      md5(lit(0L).cast("string")).as("h0"),
      md5(lit(25L).cast("string")).as("h25")).head()
    assert(got.getString(0) == "cfcd208495d565ef66e7dff9f98764da") // md5("0")
    assert(got.getString(1) == "8e296a067a37563370ded05f5a3bf3ec") // md5("25")
  }
}
