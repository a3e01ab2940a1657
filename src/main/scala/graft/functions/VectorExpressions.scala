package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native dot product over two `array<double>` columns.
  *
  * Why a custom Catalyst Expression: the composable form
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` allocates an intermediate
  * array and interprets two lambda chains PER ROW — benchmarked 25x slower
  * on the all-pairs cosine workload. This expression participates in
  * whole-stage codegen as one tight primitive loop over the two
  * `ArrayData`s: no allocation, no virtual calls, auto-vectorizable.
  *
  * Inputs must be `array<double>` (cast float embeddings once at load; the
  * cast then appears once in the plan, not per use).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** All k MinHash permutation minima in ONE pass over the shingle-id array.
  *
  * The composable form (k separate `array_min(transform(ids, ...))`)
  * traverses the array k times through interpreted higher-order-function
  * lambdas. This expression keeps k running minima in a local long[] inside
  * a single codegen'd loop: h_i = ((2i+1)·x + 1000003·i) mod (2^31-1),
  * matching [[TextFunctions.minhashFromIds]] and the SQL oracles exactly.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  private val P = 2147483647L
  private val B = 1000003L

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val acc = Array.fill(k)(Long.MaxValue)
    val n = a.numElements()
    var j = 0
    while (j < n) {
      val x = a.getLong(j)
      var i = 0
      while (i < k) {
        val h = (x * (2 * i + 1) + B * i) % P
        if (h < acc(i)) acc(i) = h
        i += 1
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val acc = ctx.freshName("acc")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      s"""
         |long[] $acc = new long[$k];
         |java.util.Arrays.fill($acc, Long.MAX_VALUE);
         |int $n = $a.numElements();
         |for (int $j = 0; $j < $n; $j++) {
         |  long $x = $a.getLong($j);
         |  for (int $i = 0; $i < $k; $i++) {
         |    long $h = ($x * (2L * $i + 1L) + ${B}L * $i) % ${P}L;
         |    if ($h < $acc[$i]) $acc[$i] = $h;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Fused text -> distinct word-n-gram shingle ids, one JVM pass per row.
  *
  * Semantically identical to the composable chain
  * `array_distinct(shingleIds(shingles(tokens(text), n)))`, but that chain
  * nests four higher-order functions whose lambdas evaluate interpreted
  * expression trees per element (a fresh MessageDigest per md5 call, a
  * BigInt parse per conv call) — profiled at ~1.5 ms per document. Here:
  * split once, build n-grams, one thread-local MD5, and the 15-hex-digit
  * prefix is read straight from the first 8 digest bytes
  * (bigEndianLong >>> 4 == parseInt(hex[0:15], 16)). ~20x faster, same ids,
  * same DuckDB oracle.
  *
  * The row's work is one opaque JVM call; doGenCode emits that call
  * directly so the surrounding projection keeps one whole-stage codegen
  * span (CodegenFallback would split the stage around this expression).
  */
case class ShingleIds(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_ids requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_ids"

  override def nullSafeEval(input: Any): Any =
    ShingleIds.shingleIdsCompute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  // one opaque JVM call, generated (vs CodegenFallback) so the surrounding
  // projection stays in a single whole-stage codegen span
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleIds.shingleIdsCompute($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleIds =
    copy(child = newChild)
}

object ShingleIds {
  /** Precompiled: String.split(regex) would recompile the pattern per row. */
  val Whitespace: java.util.regex.Pattern = java.util.regex.Pattern.compile("\\s+")

  /** The repo's ONE tokenizer: `split(trim(text), "\s+")` semantics shared
    * by [[ShingleIds]], [[ShingleStrings]], and [[SimhashMd5]] — trim
    * strips U+0020 ONLY (Java String.trim also eats \t\n\r, which would
    * break parity with Spark/DuckDB trim), and split keeps leading/trailing
    * empty tokens (limit -1). Any tokenizer change happens HERE or oracle
    * parity silently breaks in three places.
    */
  def tokenize(raw: String): Array[String] = {
    var s = 0
    var e = raw.length
    while (s < e && raw.charAt(s) == ' ') s += 1
    while (e > s && raw.charAt(e - 1) == ' ') e -= 1
    Whitespace.split(raw.substring(s, e), -1)
  }

  /** First 60 bits of md5(s) — the oracle idiom
    * `('0x' || substr(md5(s), 1, 15))::BIGINT` (big-endian first 8 digest
    * bytes shifted right 4). Callers reduce mod 2^31-1 where ids need to
    * stay in 31 bits.
    */
  def md5h60(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v >>> 4
  }

  private val LocalDigest =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Static entry point for generated code (see [[ShingleIds.doGenCode]]):
    * fused tokenize -> distinct n-grams -> md5-60-bit ids (mod 2^31-1),
    * sorted ascending so downstream set ops ([[JaccardIds]],
    * [[IntersectSizeIds]]) merge-scan instead of hashing.
    */
  def shingleIdsCompute(text: org.apache.spark.unsafe.types.UTF8String,
                        n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = tokenize(text.toString)
    val ids = new java.util.LinkedHashSet[java.lang.Long]()
    if (toks.length >= n) {
      val seen = new java.util.HashSet[String]()
      val sb = new StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val sh = sb.toString
        if (seen.add(sh))
          ids.add(md5h60(LocalDigest.get(), sh) % 2147483647L)
        i += 1
      }
    }
    val out = new Array[Long](ids.size)
    val it = ids.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    java.util.Arrays.sort(out)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Static entry point for generated code (see [[ShingleStrings.doGenCode]]):
    * fused tokenize -> distinct n-gram strings in first-seen order.
    */
  def shingleStringsCompute(text: org.apache.spark.unsafe.types.UTF8String,
                            n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = tokenize(text.toString)
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length >= n) {
      val sb = new StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var idx = 0
    while (it.hasNext) {
      arr(idx) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      idx += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** Static entry point for generated code (see [[SimhashMd5.doGenCode]]):
    * the fused tokenize -> md5h60 -> 60-bit vote loop as one JVM call, so
    * the expression participates in whole-stage codegen instead of forcing
    * a CodegenFallback Project split around it.
    */
  def simhashMd5Compute(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val toks = tokenize(text.toString)
    val votes = new Array[Int](60)
    var i = 0
    while (i < toks.length) {
      val h = md5h60(LocalDigest.get(), toks(i))
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) >= 0) fp |= 1L << b
      b += 1
    }
    fp
  }
}

/** Fused text -> distinct word-n-gram shingle STRINGS, one JVM pass per row
  * — the string-output sibling of [[ShingleIds]] for operators that need the
  * n-gram text itself (corpus n-gram statistics), not its hash. Semantically
  * identical to `array_distinct(shingles(tokens(text), n))` (first-seen
  * order), whose interpreted HOF chain costs ~1 ms per document; tokenizer
  * semantics (U+0020-only trim, `\s+` split keeping empty edge tokens) match
  * [[ShingleIds]], [[TextFunctions.tokens]], and the SQL oracles exactly.
  */
case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_strings requires string, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_strings"

  override def nullSafeEval(input: Any): Any =
    ShingleIds.shingleStringsCompute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  // one opaque JVM call, generated (vs CodegenFallback) so the surrounding
  // projection stays in a single whole-stage codegen span
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleIds.shingleStringsCompute($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

/** Jaccard similarity of two SORTED long arrays (as produced by
  * [[ShingleIds]]): one merge scan, no per-row hash sets — the generic
  * `size(array_intersect(a,b))` builds two hash sets per pair, which
  * dominates LSH verification at millions of candidate pairs. Rounded to 4
  * decimals to match [[TextFunctions.jaccard]] and the SQL oracles.
  */
case class JaccardIds(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard_ids requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaccard_ids"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    val v = if (union > 0) inter.toDouble / union else 0.0
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val inter = ctx.freshName("inter"); val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj"); val union = ctx.freshName("union")
      val raw = ctx.freshName("raw")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $inter++; $i++; $j++; }
         |  else if ($xi < $yj) $i++; else $j++;
         |}
         |int $union = $nx + $ny - $inter;
         |double $raw = $union > 0 ? ((double) $inter) / $union : 0.0;
         |${ev.value} = new java.math.BigDecimal($raw)
         |  .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardIds =
    copy(left = newLeft, right = newRight)
}

/** Fused 60-bit md5 SimHash of a text column, one JVM pass per row.
  *
  * Semantically identical to the relational formulation (explode tokens ->
  * portable 60-bit md5 hash per token -> 60 per-bit +1/-1 vote sums per doc
  * -> sign of each vote sets the bit): per-doc integer vote sums are
  * order-free, so fusing the loop into the row changes nothing the oracle
  * can see. What it removes at scale is the plan cost: the exploded form
  * shuffles |tokens| rows into a 60-column aggregation, where this is a
  * narrow codegen-free map (no explode, no exchange). Tokenizer semantics
  * (U+0020-only trim, `\s+` split keeping empty edge tokens) match
  * [[ShingleIds]] and the SQL oracles exactly; the hash is the oracle
  * idiom `('0x' || substr(md5(tok), 1, 15))::BIGINT` (first 60 bits of the
  * digest).
  */
case class SimhashMd5(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_md5 requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_md5"

  override def nullSafeEval(input: Any): Any =
    ShingleIds.simhashMd5Compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  // the row's work is one opaque JVM call, but generating that call (vs
  // CodegenFallback) keeps the SURROUNDING projection in one whole-stage
  // codegen span instead of splitting the stage at this expression
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleIds.simhashMd5Compute($a);")

  override protected def withNewChildInternal(newChild: Expression): SimhashMd5 =
    copy(child = newChild)
}

/** L2-normalize an `array<double>` vector in one pass: norm computed once,
  * then one division per component.
  *
  * Why a custom Expression: the composable form
  * `transform(v, x => x / sqrt(vec_dot(v, v)))` evaluates its lambda
  * INTERPRETED per element with no cross-iteration subexpression sharing —
  * the full d-element dot product re-runs for every component (O(d²)
  * multiplies per row). Hoisting the norm into a sibling column is fragile:
  * CollapseProject re-inlines single-use projections straight back into the
  * lambda. This is the fused O(d) loop, codegen'd. Zero vectors divide
  * through (0/0 = NaN), matching the SQL `x / sqrt(vv)` the oracles run.
  *
  * A NULL *element* makes the whole result NULL (a vector with a missing
  * component has no meaningful norm); the element scan only compiles in
  * when the input type says containsNull, so clean-typed columns pay
  * nothing. getDouble on a null slot would otherwise read 0.0 from
  * UnsafeArrayData or NPE on GenericArrayData — silently wrong either way.
  */
case class VecNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_normalize requires array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_normalize"

  private def inputContainsNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  /** A null ELEMENT nulls the result, so the expression is nullable even
    * over a non-nullable child (e.g. a `collect_list` output) with nullable
    * elements. Without this override `ev.isNull` is the `false` literal for
    * such children and the generated `isNull = true` assignment in the
    * element scan below fails Janino compilation (interpreted fallback).
    */
  override def nullable: Boolean = child.nullable || inputContainsNull

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var i = 0
    if (inputContainsNull) {
      while (i < n) { if (a.isNullAt(i)) return null; i += 1 }
    }
    var s = 0.0
    i = 0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    val nm = math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = a.getDouble(i) / nm; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val nm = ctx.freshName("nm")
      val out = ctx.freshName("out"); val x = ctx.freshName("x")
      val nullScan = if (inputContainsNull)
        s"""for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
           |  if ($a.isNullAt($i)) ${ev.isNull} = true;
           |}""".stripMargin
      else ""
      s"""
         |int $n = $a.numElements();
         |$nullScan
         |if (!${ev.isNull}) {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $a.getDouble($i); $s += $x * $x;
         |  }
         |  double $nm = Math.sqrt($s);
         |  double[] $out = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = $a.getDouble($i) / $nm;
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNormalize =
    copy(child = newChild)
}

/** Exact intersection size of two SORTED `array<bigint>` columns (the
  * shingle-id arrays every near-dup operator carries) as one merge scan.
  *
  * Why a custom Expression: `size(array_intersect(a, b))` builds a hash set
  * per row-pair — allocation plus hashing per element — where sorted inputs
  * admit a branch-predictable two-pointer scan with zero allocation, the
  * same access pattern as [[JaccardIds]]. Containment / overlap metrics
  * derive from this count with plain column arithmetic.
  *
  * A NULL *element* on either side makes the result NULL (the merge scan's
  * ordering contract is meaningless with missing slots); the element scan
  * only compiles in for containsNull input types.
  */
case class IntersectSizeIds(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_size_ids requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "intersect_size_ids"

  private def sideContainsNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  /** See [[VecNormalize.nullable]]: null elements null the result, so the
    * expression stays nullable over non-nullable children with nullable
    * elements (otherwise the generated element scan assigns to a `false`
    * literal and codegen falls back to interpreted).
    */
  override def nullable: Boolean =
    left.nullable || right.nullable ||
      sideContainsNull(left) || sideContainsNull(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    if (sideContainsNull(left)) {
      var k = 0
      while (k < nx) { if (x.isNullAt(k)) return null; k += 1 }
    }
    if (sideContainsNull(right)) {
      var k = 0
      while (k < ny) { if (y.isNullAt(k)) return null; k += 1 }
    }
    var i = 0; var j = 0; var inter = 0L
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { inter += 1L; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    inter
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      def nullScan(arr: String, n: String): String =
        s"""for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
           |  if ($arr.isNullAt($i)) ${ev.isNull} = true;
           |}""".stripMargin
      val scans =
        (if (sideContainsNull(left)) nullScan(a, nx) else "") + "\n" +
        (if (sideContainsNull(right)) nullScan(b, ny) else "")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |$scans
         |if (!${ev.isNull}) {
         |  int $i = 0; int $j = 0;
         |  ${ev.value} = 0L;
         |  while ($i < $nx && $j < $ny) {
         |    long $xi = $a.getLong($i); long $yj = $b.getLong($j);
         |    if ($xi == $yj) { ${ev.value}++; $i++; $j++; }
         |    else if ($xi < $yj) $i++; else $j++;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSizeIds =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: bit-identical to the composition
  * `vec_dot(vec_normalize(a), vec_normalize(b))` — the per-element sum is
  * `(a_i/||a||) * (b_i/||b||)` in exactly that floating-point order, a null
  * ELEMENT nulls the result (vec_normalize's contract), and the dot runs
  * over min(|a|, |b|) — but WITHOUT materializing the two normalized
  * arrays: three allocation-free primitive loops (two norms + the sum)
  * instead of two UnsafeArrayData allocations per row. [[FuseCosine]]
  * rewrites the composed form to this automatically, so naive SQL
  * (`vec_dot(vec_normalize(a), vec_normalize(b))`) gets the fused plan —
  * per-row allocations in an all-pairs similarity join are the difference
  * between a codegen-bound and a GC-bound stage at corpus scale.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def sideContainsNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  /** Null elements null the result (see [[VecNormalize.nullable]] — same
    * Janino trap: without this override the generated isNull assignment
    * targets a `false` literal and codegen silently falls back).
    */
  override def nullable: Boolean = left.nullable || right.nullable ||
    sideContainsNull(left) || sideContainsNull(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0
    if (sideContainsNull(left)) {
      while (i < nx) { if (x.isNullAt(i)) return null; i += 1 }
    }
    if (sideContainsNull(right)) {
      i = 0; while (i < ny) { if (y.isNullAt(i)) return null; i += 1 }
    }
    var sx = 0.0; i = 0
    while (i < nx) { val v = x.getDouble(i); sx += v * v; i += 1 }
    var sy = 0.0; i = 0
    while (i < ny) { val v = y.getDouble(i); sy += v * v; i += 1 }
    val na = math.sqrt(sx); val nb = math.sqrt(sy)
    val n = math.min(nx, ny)
    var s = 0.0; i = 0
    // (a_i/na) * (b_i/nb), NOT sum(a_i*b_i)/(na*nb): rounding must match
    // the unfused composition bit-for-bit or the rewrite changes results
    while (i < n) { s += (x.getDouble(i) / na) * (y.getDouble(i) / nb); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val v = ctx.freshName("v")
      val sx = ctx.freshName("sx"); val sy = ctx.freshName("sy")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val n = ctx.freshName("n"); val s = ctx.freshName("s")
      val leftNullScan = if (sideContainsNull(left))
        s"""for (int $i = 0; $i < $nx && !${ev.isNull}; $i++) {
           |  if ($a.isNullAt($i)) ${ev.isNull} = true;
           |}""".stripMargin
      else ""
      val rightNullScan = if (sideContainsNull(right))
        s"""for (int $i = 0; $i < $ny && !${ev.isNull}; $i++) {
           |  if ($b.isNullAt($i)) ${ev.isNull} = true;
           |}""".stripMargin
      else ""
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |$leftNullScan
         |$rightNullScan
         |if (!${ev.isNull}) {
         |  double $sx = 0.0;
         |  for (int $i = 0; $i < $nx; $i++) {
         |    double $v = $a.getDouble($i); $sx += $v * $v;
         |  }
         |  double $sy = 0.0;
         |  for (int $i = 0; $i < $ny; $i++) {
         |    double $v = $b.getDouble($i); $sy += $v * $v;
         |  }
         |  double $na = java.lang.Math.sqrt($sx);
         |  double $nb = java.lang.Math.sqrt($sy);
         |  int $n = java.lang.Math.min($nx, $ny);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ($a.getDouble($i) / $na) * ($b.getDouble($i) / $nb);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: fuse `vec_dot(vec_normalize(a), vec_normalize(b))` into
  * [[CosineSim]] — the composed form allocates two normalized arrays per
  * row; the fused form allocates nothing and produces bit-identical
  * results (see [[CosineSim]]'s rounding-order note). Runs in the
  * operator-optimization batch of every session that has
  * [[graft.core.GraftExtensions]] (its `injectOptimizerRule`); a no-op
  * unless the pattern occurs.
  */
object FuseCosine
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    plan.transformAllExpressions {
      case VecDot(VecNormalize(a), VecNormalize(b)) => CosineSim(a, b)
    }
}

/** Column API for the vector expressions. Each function resolves by name,
  * so it needs a session that has the engine's functions: any
  * [[graft.core.GraftSession]] session, or one started with
  * `spark.sql.extensions=graft.core.GraftExtensions`.
  */
object VectorFunctions {

  /** Codegen'd dot product (`vec_dot`). */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** One-pass k-component MinHash signature (`minhash_sig`). */
  def minhashSig(ids: Column, k: Int): Column =
    call_function("minhash_sig", ids, org.apache.spark.sql.functions.lit(k))

  /** Fused distinct word-n-gram shingle ids (`shingle_ids`). */
  def shingleIds(text: Column, n: Int): Column =
    call_function("shingle_ids", text, org.apache.spark.sql.functions.lit(n))

  /** Merge-scan Jaccard over sorted id arrays (`jaccard_ids`). */
  def jaccardIds(a: Column, b: Column): Column = call_function("jaccard_ids", a, b)

  /** Fused distinct word-n-gram shingle strings (`shingle_strings`). */
  def shingleStrings(text: Column, n: Int): Column =
    call_function("shingle_strings", text, org.apache.spark.sql.functions.lit(n))

  /** Merge-scan intersection size over sorted id arrays (`intersect_size_ids`). */
  def intersectIds(a: Column, b: Column): Column =
    call_function("intersect_size_ids", a, b)

  /** Fused one-pass L2 normalization (`vec_normalize`). */
  def vecNormalize(a: Column): Column = call_function("vec_normalize", a)

  /** Fused portable 60-bit md5 SimHash (`simhash_md5`). */
  def simhashMd5(text: Column): Column = call_function("simhash_md5", text)

  /** Fused allocation-free cosine similarity (`cosine_sim`). */
  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)
}
