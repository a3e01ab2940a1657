package graft

import graft.core._
import graft.operators.Validator
import graft.sources.Reader
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Property-style tests over the validation/hash core (SURVEY §5: hash
  * stability/sortedness, threshold-gate boundary). Seeded random sampling
  * keeps runs deterministic without extra test dependencies.
  */
class PropertiesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("epochMicros adapts to nano-long, timestamp, and NTZ ts columns") {
    // guards the round-9 failure mode in BOTH directions: the driver has
    // shipped events.ts as nano-INT64 and as micro-timestamp across rounds,
    // and every event-time query must yield identical epoch micros either
    // way (the testdata only ever exercises one encoding at a time)
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val nanos = 1234567890123456789L
    val micros = nanos / 1000L
    val longDf = Seq(nanos).toDF("ts")
    assert(longDf.select(graft.queries.Relational.epochMicros(longDf))
      .head.getLong(0) === micros)
    val tsDf = Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
    assert(tsDf.select(graft.queries.Relational.epochMicros(tsDf))
      .head.getLong(0) === micros)
    val ntzDf = tsDf.select(col("ts")
      .cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"))
    assert(ntzDf.select(graft.queries.Relational.epochMicros(ntzDf))
      .head.getLong(0) === micros, "NTZ must read as UTC (session tz)")
    // pre-1970 (negative) nano epochs use FLOOR division, matching
    // DuckDB's floor-based truncation of negative timestamps: -1500 ns is
    // -2 us, not the toward-zero -1
    val negDf = Seq(-1500L, -1000L, -1L, 999L).toDF("ts")
    assert(negDf.select(graft.queries.Relational.epochMicros(negDf))
      .collect().map(_.getLong(0)).toSeq === Seq(-2L, -1L, -1L, 0L))
    // an unsupported encoding fails loudly at plan time, not with a wrong
    // silent epoch
    val strDf = Seq("2020-01-01").toDF("ts")
    intercept[IllegalArgumentException] {
      graft.queries.Relational.epochMicros(strDf)
    }
  }

  test("SchemaProbe: asTimestamp and timestampSpec adapt to every shipped " +
    "encoding and fail loudly otherwise") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.sources.SchemaProbe
    val micros = 1234567890123456L
    val tsDf = Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).as("t"))
    // timestamp passes through BARE (range predicates stay pushable)
    assert(SchemaProbe.asTimestamp(tsDf, "t").toString === col("t").toString,
      "no wrapping on the native encoding")
    // nano-long and NTZ views land on the identical instant
    val nanoDf = Seq(micros * 1000L).toDF("t")
    assert(nanoDf.select(unix_micros(SchemaProbe.asTimestamp(nanoDf, "t")))
      .head.getLong(0) === micros)
    val ntzDf = tsDf.select(col("t").cast(TimestampNTZType).as("t"))
    assert(ntzDf.select(unix_micros(SchemaProbe.asTimestamp(ntzDf, "t")))
      .head.getLong(0) === micros)
    // validation specs match the on-disk type (the q4 / pipeline guard)
    assert(SchemaProbe.timestampSpec(nanoDf, "t").dataType === LongType)
    assert(SchemaProbe.timestampSpec(tsDf, "t").dataType === TimestampType)
    assert(SchemaProbe.timestampSpec(ntzDf, "t").dataType === TimestampType)
    val strDf = Seq("x").toDF("t")
    intercept[IllegalArgumentException] { SchemaProbe.asTimestamp(strDf, "t") }
    intercept[IllegalArgumentException] { SchemaProbe.timestampSpec(strDf, "t") }
  }

  test("oracle coverage contract: every oracle names a declared query; " +
    "rows-only set is exactly the documented one") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    val orphans = oracles -- queries
    assert(orphans.isEmpty,
      s"oracle entries without a query (typo'd key silently skews the " +
        s"correctness gate): $orphans")
    // a new query without an oracle silently downgrades to a rows-only
    // check — this pin forces that decision to be explicit. Since round
    // 12 EVERY registered query has a full DuckDB oracle (the simhash
    // verifier moved to the md5 fingerprint basis, closing the last
    // rows-only row); the sketch queries (q19/q25/text_heavy_hitters) are
    // error-band graded in-query with the exact side oracle-checked
    assert((queries -- oracles) === Set.empty,
      "rows-only set changed: every query needs an oracleSql entry")
  }

  test("row hash is invariant to column declaration order (sorted-field hashing)") {
    val sp = spark
    import sp.implicits._
    val data = Seq(("A1", 5, 2.5), ("B2", 7, 0.0)).toDF("id", "qty", "amt")
      .withColumn(Reader.RowNumCol, monotonically_increasing_id())
    def specs(order: Seq[String]): Seq[ColumnSpec] = order.map {
      case "id" => ColumnSpec.string("id", nullable = false)
      case "qty" => ColumnSpec.int("qty")
      case "amt" => ColumnSpec.double("amt")
    }
    def hashes(order: Seq[String]): Map[String, Long] = {
      val src = SourceConfig("s", "x.csv", "csv", specs(order), "t", Seq("id"))
      Validator.compile(data, src, "f", 0L)
        .select("id", "etl_row_hash").as[(String, Long)].collect().toMap
    }
    val base = hashes(Seq("id", "qty", "amt"))
    assert(hashes(Seq("amt", "id", "qty")) == base)
    assert(hashes(Seq("qty", "amt", "id")) == base)
  }

  test("threshold gate boundary: rate >= threshold fails, below passes") {
    val rnd = new Random(42)
    (1 to 500).foreach { _ =>
      val total = 1L + rnd.nextInt(1000)
      val errors = rnd.nextLong(total + 1)
      val thr = rnd.nextInt(3) match {
        case 0 => 0.0
        case 1 => errors.toDouble / total // exact boundary
        case _ => rnd.nextDouble()
      }
      val rate = errors.toDouble / total
      // mirror of Validator.gate's trip condition
      val fails = rate >= thr && errors > 0
      if (errors == 0) assert(!fails)
      else if (thr == 0.0) assert(fails, s"any error must fail at thr=0")
      else if (rate == thr) assert(fails, s"boundary must fail (>= semantics)")
      else assert(fails == (rate >= thr))
    }
  }

  test("hash stable for equal values, sensitive to any model-value change") {
    val sp = spark
    import sp.implicits._
    val src = SourceConfig("s", "x.csv", "csv",
      Seq(ColumnSpec.string("id", nullable = false), ColumnSpec.int("qty")),
      "t", Seq("id"))
    val rnd = new Random(7)
    val samples = Seq.fill(12)((rnd.alphanumeric.take(8).mkString, rnd.nextInt(100)))
    // one Spark job for all samples + their perturbed twins
    val rows = samples.flatMap { case (id, q) =>
      Seq((id, q, "orig"), (id, q, "dup"), (id, q + 1, "bumped")) }
    val df = rows.toDF("id", "qty", "tag")
      .withColumn(Reader.RowNumCol, monotonically_increasing_id())
    val hashed = Validator.compile(
        df.select(col("id"), col("qty"), col(Reader.RowNumCol)), src, "f", 0L)
      .select(col("id"), col("qty"), col("etl_row_hash"))
      .as[(String, Int, Long)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).toSet).toMap
    samples.foreach { case (id, q) =>
      assert(hashed((id, q)).size == 1, "equal values must hash equally")
      assert(hashed((id, q)) != hashed((id, q + 1)),
        "changed value must change the hash")
    }
  }

  test("vector expression properties: norms, intersections, simhash stability") {
    import graft.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val rnd = new Random(11)
    (1 to 40).foreach { _ =>
      // vec_normalize: output norm is 1 within float tolerance
      val v = Array.fill(8)(rnd.nextDouble() * 10 - 5)
      if (v.exists(_ != 0.0)) {
        val nv = VecNormalize(Literal.create(v, ArrayType(DoubleType)))
          .eval(null).asInstanceOf[ArrayData].toDoubleArray()
        val norm = math.sqrt(nv.map(x => x * x).sum)
        assert(math.abs(norm - 1.0) < 1e-12)
      }
      // intersect_size_ids == Set intersection size on sorted inputs
      val a = Array.fill(12)(rnd.nextLong(20)).distinct.sorted
      val b = Array.fill(12)(rnd.nextLong(20)).distinct.sorted
      val expected = a.toSet.intersect(b.toSet).size.toLong
      val got = IntersectSizeIds(
        Literal.create(a, ArrayType(LongType)),
        Literal.create(b, ArrayType(LongType))).eval(null)
      assert(got == expected)
      // simhash_md5: deterministic, and token order does not flip far bits
      // (votes are order-free sums -> identical fingerprint)
      val words = Seq.fill(6)(rnd.alphanumeric.take(4).mkString)
      val fp1 = SimhashMd5(Literal(words.mkString(" "))).eval(null)
      val fp2 = SimhashMd5(Literal(Random.shuffle(words).mkString(" "))).eval(null)
      assert(fp1 == fp2, "permuting tokens must not change the fingerprint")
    }
  }

  test("cosine_sim property: bit-identical to the vec_dot∘vec_normalize composition") {
    import graft.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val rnd = new Random(23)
    (1 to 60).foreach { i =>
      // mixed lengths exercise the min(|a|,|b|) dot bound; every tenth pair
      // gets a zero vector (NaN path must agree too)
      val la = 2 + rnd.nextInt(12); val lb = 2 + rnd.nextInt(12)
      val a = if (i % 10 == 0) Array.fill(la)(0.0)
        else Array.fill(la)(rnd.nextDouble() * 20 - 10)
      val b = Array.fill(lb)(rnd.nextDouble() * 20 - 10)
      val al = Literal.create(a, ArrayType(DoubleType))
      val bl = Literal.create(b, ArrayType(DoubleType))
      val fused = CosineSim(al, bl).eval(null).asInstanceOf[Double]
      val composed = VecDot(VecNormalize(al), VecNormalize(bl))
        .eval(null).asInstanceOf[Double]
      // bit-level comparison: NaN == NaN must hold, and any rounding
      // difference (not just a large one) breaks the FuseCosine rewrite
      assert(java.lang.Double.doubleToLongBits(fused) ==
        java.lang.Double.doubleToLongBits(composed),
        s"fused $fused != composed $composed for ${a.toSeq} / ${b.toSeq}")
    }
  }

  test("null array elements: vec_normalize and intersect_size_ids yield NULL") {
    import graft.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    // interpreted eval: a null slot must null the whole result, never read
    // a garbage 0.0/0L through the primitive getters
    val withNull = Literal.create(Seq[java.lang.Double](1.0, null, 3.0),
      ArrayType(DoubleType, containsNull = true))
    assert(VecNormalize(withNull).eval(null) == null)
    val idsWithNull = Literal.create(Seq[java.lang.Long](1L, null, 5L),
      ArrayType(LongType, containsNull = true))
    val clean = Literal.create(Seq(1L, 5L), ArrayType(LongType, containsNull = true))
    assert(IntersectSizeIds(idsWithNull, clean).eval(null) == null)
    assert(IntersectSizeIds(clean, idsWithNull).eval(null) == null)
    assert(IntersectSizeIds(clean, clean).eval(null) == 2L)
    // codegen path through a real DataFrame with containsNull=true schema
    val spark = TestSpark.spark
    val df = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(Seq[java.lang.Double](3.0, 4.0)),
        org.apache.spark.sql.Row(Seq[java.lang.Double](1.0, null))),
      StructType(Seq(StructField("v",
        ArrayType(DoubleType, containsNull = true)))))
    val out = df.selectExpr("vec_normalize(v) nv").collect()
    assert(out(0).getSeq[Double](0) == Seq(0.6, 0.8))
    assert(out(1).isNullAt(0))
  }
}
