package graft.plans.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Native Catalyst expressions (with `doGenCode`) for the engine's hot
  * array kernels.
  *
  * Spark's higher-order functions (`aggregate`, `transform`, `zip_with`,
  * `filter`) are `CodegenFallback`: every invocation drops out of
  * whole-stage codegen into interpreted eval and allocates per element —
  * a 64-slot MinHash fold allocates a fresh 64-long array per shingle.
  * These expressions compute the identical math (same operation order,
  * same integer/IEEE semantics, verified against the unchanged DuckDB
  * oracles) as tight generated loops that stay inside whole-stage codegen.
  *
  * Registered as SQL functions (`graft_dot`, `graft_norm`,
  * `graft_hash_tokens`, `graft_shingles`, `graft_minhash`,
  * `graft_simhash32`) via `GraftExtensions.injectFunction`, so they are
  * callable both from the column API (`call_function`) and from
  * `spark.sql(...)`.
  *
  * Null contract: null top-level inputs yield null (standard
  * null-intolerant semantics); null ARRAY ELEMENTS — which the engine's
  * own tokenizer/hash stages never produce, but direct SQL callers can —
  * raise a descriptive IllegalArgumentException rather than NPE-ing the
  * task. graft_dot/graft_eq_count also require equal lengths and fail
  * loud on mismatch (surfacing corrupt/mixed-dimension vectors instead
  * of silently truncating or nulling).
  */
object Kernels {
  /** 2^61 - 1, the Mersenne prime all shingle/minhash arithmetic reduces by. */
  val MersennePrime: Long = (1L << 61) - 1

  /** MinHash family size and deterministic coefficients — must stay in sync
    * with the DuckDB oracle rendering in `SparkEntry.oracleSql` (which
    * embeds these arrays as literals).
    *
    * The permutations act on the 32-BIT shingle domain:
    * `slot_i = min_h (A_i·h + B_i) mod 4294967291`, A_i md5-derived in
    * [1, 2^31). Why: the first family's tiny multipliers (≤2^23) against
    * the 61-bit Mersenne modulus NEVER WRAPPED for 32-bit inputs, so all
    * 64 "permutations" preserved the ordering of small hashes — any two
    * docs sharing their single smallest shingle agreed on every slot
    * (est_jaccard 1.0 against exact 0.01, caught by the
    * `dedup_minhash_acc` audit). 31-bit multipliers wrap the 32-bit
    * domain ~2^29 times, decorrelating the slots, while every product
    * (< (2^31−1)·(2^32−1) + 2^32 < Long.Max) stays exactly replayable in
    * 64-bit integer arithmetic in any engine.
    */
  val NumHashes = 64
  val CoeffA: Array[Long] = (1 to NumHashes)
    .map(i => md5Prefix64(s"perm_a:$i".getBytes("UTF-8")) % 2147483647L + 1L).toArray
  val CoeffB: Array[Long] = (1 to NumHashes)
    .map(i => md5Prefix64(s"perm_b:$i".getBytes("UTF-8")) % 4294967291L).toArray

  /** Positional 3-shingle combiners (odd constants < 2^20). */
  val ShingleC: Array[Long] = Array(786433L, 917505L, 1048577L)

  /** Post-reduction modulus keeping shingle hashes in 32 bits. */
  val Mod32: Long = 4294967291L

  /** Registered SQL functions must fail comprehensibly, not NPE: the
    * engine's own pipelines never produce null array elements, but a user
    * calling `graft_*` from SQL can.
    */
  def requireNoNullElements(a: org.apache.spark.sql.catalyst.util.ArrayData, fn: String): Unit = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"$fn: null array element at position $i")
      i += 1
    }
  }

  /** First 8 md5 hex chars of a UTF-8 string as an unsigned 32-bit value —
    * identical to `conv(substring(md5(s),1,8),16,10)`.
    */
  def md5Prefix64(bytes: Array[Byte]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}

private object TypeChecks {
  def arrayOfNumeric(dt: DataType, what: String, elems: Seq[DataType]): TypeCheckResult =
    dt match {
      case ArrayType(et, _) if elems.contains(et) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$what requires array<${elems.mkString("|")}>, got ${other.sql}")
    }

  /** Java accessor snippet for one array element, widened to double. */
  def doubleGetter(dt: DataType, arr: String, i: String): String =
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType  => s"(double) $arr.getFloat($i)"
      case DoubleType => s"$arr.getDouble($i)"
      case other      => throw new IllegalStateException(s"unsupported element type $other")
    }

  def doubleAt(dt: DataType, arr: ArrayData, i: Int): Double =
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType  => arr.getFloat(i).toDouble
      case DoubleType => arr.getDouble(i)
      case other      => throw new IllegalStateException(s"unsupported element type $other")
    }
}

/** Left-to-right dot product of two equal-length numeric arrays, double
  * accumulation: `acc = acc + (double)a[i] * (double)b[i]` — bit-identical
  * to `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)` on the
  * equal-length inputs the engine produces. Mismatched lengths raise a
  * descriptive error (the old fold returned NULL via zip_with padding —
  * an error surfaces corrupt/mixed-dimension embeddings instead of
  * silently nulling scores), as do null elements.
  */
case class ArrayDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = TypeChecks.arrayOfNumeric(left.dataType, "graft_dot", Seq(FloatType, DoubleType))
    if (l.isFailure) l
    else TypeChecks.arrayOfNumeric(right.dataType, "graft_dot", Seq(FloatType, DoubleType))
  }

  private def aFloat = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def bFloat = right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.expr.ArrayDot.compute($a, $b, $aFloat, $bFloat);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayDot =
    copy(left = l, right = r)
}

object ArrayDot {
  def compute(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean): Double = {
    val n = x.numElements()
    require(n == y.numElements(),
      s"graft_dot: array length mismatch ($n vs ${y.numElements()})")
    Kernels.requireNoNullElements(x, "graft_dot")
    Kernels.requireNoNullElements(y, "graft_dot")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val a = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val b = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += a * b
      i += 1
    }
    acc
  }
}

/** Count of positions where two long arrays agree — identical to
  * `size(filter(zip_with(a, b, (x, y) => x === y), b => b))` over
  * equal-length arrays (the MinHash signature-agreement estimator),
  * without the three interpreted higher-order hops per pair.
  */
case class ArrayEqCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_eq_count requires (array<long>, array<long>), got $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayEqCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.expr.ArrayEqCount.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayEqCount =
    copy(left = l, right = r)
}

object ArrayEqCount {
  def compute(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    require(n == y.numElements(),
      s"graft_eq_count: array length mismatch ($n vs ${y.numElements()})")
    Kernels.requireNoNullElements(x, "graft_eq_count")
    Kernels.requireNoNullElements(y, "graft_eq_count")
    var c = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }
}

/** Multiset (bag) intersection size of two SORTED string arrays — the
  * two-pointer merge computing Σ_tok min(tf_a, tf_b) in O(|a|+|b|), the
  * verification step of the prefix-filtered similarity join. Inputs must
  * be sorted with `array_sort` (binary UTF8String order — the same order
  * the merge compares with); duplicates implement the min(tf) naturally.
  */
case class BagIntersect(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bag_intersect requires (array<string>, array<string>), got $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BagIntersect.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.expr.BagIntersect.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BagIntersect =
    copy(left = l, right = r)
}

object BagIntersect {
  def compute(a: ArrayData, b: ArrayData): Int = {
    Kernels.requireNoNullElements(a, "graft_bag_intersect")
    Kernels.requireNoNullElements(b, "graft_bag_intersect")
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** Euclidean norm with the same fold order as
  * `sqrt(aggregate(a, 0.0, (acc, x) => acc + x*x))`.
  */
case class ArrayNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.arrayOfNumeric(child.dataType, "graft_norm", Seq(FloatType, DoubleType))

  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any): Any =
    ArrayNorm.compute(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.expr.ArrayNorm.compute($a, $isFloat);")

  override protected def withNewChildInternal(c: Expression): ArrayNorm = copy(child = c)
}

object ArrayNorm {
  def compute(x: ArrayData, isFloat: Boolean): Double = {
    Kernels.requireNoNullElements(x, "graft_norm")
    var acc = 0.0
    var i = 0
    while (i < x.numElements()) {
      val v = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }
}

/** string → array<string>: lowercase, split on `\s+`, drop empties —
  * identical to `filter(split(lower(text), "\\s+"), w => length(w) > 0)`
  * (Spark's `Lower` is `UTF8String.toLowerCase` and `StringSplit` is
  * `Pattern.split` on the same string — both reproduced exactly) — THEN,
  * inside each whitespace token, Han-script runs fall back to overlapping
  * character bigrams (run of length 1 → the character itself). This is
  * the reference's IK-analyzer parity path
  * (`realtime/src/main/java/app/function/SplitFunction.java:12-29`,
  * `utils/KeywordUtil.java:13-35`): Chinese search terms carry no
  * whitespace, so without the fallback a CJK phrase would pass through as
  * ONE degenerate token and the keyword pipeline
  * (`app/dws/KeywordStatsApp.java:55-61`) would produce useless stats.
  * Overlapping bigrams are the standard CJK analyzer fallback (Lucene
  * CJKAnalyzer); "Han" is the explicit BMP range URO U+4E00–U+9FFF +
  * Extension A U+3400–U+4DBF so char indexing == code-point indexing and
  * the DuckDB oracle can replay the identical ranges. Pure-ASCII input is
  * bit-identical to the pre-fallback kernel (one non-Han run = the whole
  * token), so every downstream tokenizer consumer (MinHash, TF-IDF, BPE,
  * keyword stats) is unchanged on Latin corpora.
  *
  * The higher-order `filter` this kernel replaces is CodegenFallback, and
  * one such expression in a projection bars the whole operator from
  * whole-stage codegen — this kernel keeps the full
  * tokenize→hash→signature pipeline inside one codegen span.
  */
case class TokenizeWords(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_tokenize requires string, got ${other.sql}")
  }

  override protected def nullSafeEval(a: Any): Any = TokenizeWords.compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.GenericArrayData)
         |  graft.plans.expr.TokenizeWords.compute($a);
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): TokenizeWords = copy(child = c)
}

object TokenizeWords {
  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** URO + Extension A only — both BMP blocks, chosen over `\p{IsHan}` so
    * the Java kernel and the RE2-based DuckDB oracle agree by explicit
    * construction rather than by Unicode-version luck.
    */
  @inline private def isHan(c: Char): Boolean =
    (c >= 0x4E00 && c <= 0x9FFF) || (c >= 0x3400 && c <= 0x4DBF)

  /** Maximal same-script runs of `p`: Han runs of length ≥ 2 emit their
    * overlapping bigrams, everything else (non-Han runs, lone Han chars)
    * emits verbatim. Surrogate halves are non-Han by construction, so
    * astral-plane text rides the non-Han path intact — never throws.
    */
  private def emitRuns(p: String, out: java.util.ArrayList[Any]): Unit = {
    var start = 0
    val n = p.length
    while (start < n) {
      val han = isHan(p.charAt(start))
      var end = start + 1
      while (end < n && isHan(p.charAt(end)) == han) end += 1
      if (han && end - start >= 2) {
        var j = start
        while (j < end - 1) {
          out.add(org.apache.spark.unsafe.types.UTF8String.fromString(p.substring(j, j + 2)))
          j += 1
        }
      } else {
        out.add(org.apache.spark.unsafe.types.UTF8String.fromString(p.substring(start, end)))
      }
      start = end
    }
  }

  def compute(a: Any): GenericArrayData = {
    val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toLowerCase.toString
    val parts = WS.split(s, -1)
    val out = new java.util.ArrayList[Any](parts.length)
    var i = 0
    while (i < parts.length) {
      if (!parts(i).isEmpty) emitRuns(parts(i), out)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** array<string> → array<long>: per token, the first 8 md5 hex chars as an
  * unsigned 32-bit value — identical to
  * `transform(toks, w => conv(substring(md5(w),1,8),16,10) :: long)` but
  * hashing bytes directly instead of hex-encoding + string base conversion.
  */
case class HashTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hash_tokens requires array<string>, got ${other.sql}")
  }

  override protected def nullSafeEval(a: Any): Any =
    new GenericArrayData(HashTokens.compute(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.expr.HashTokens.compute($a));
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): HashTokens = copy(child = c)
}

object HashTokens {
  def compute(x: ArrayData): Array[Long] = {
    Kernels.requireNoNullElements(x, "graft_hash_tokens")
    val out = new Array[Long](x.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = Kernels.md5Prefix64(x.getUTF8String(i).getBytes)
      i += 1
    }
    out
  }
}

/** array<long> token hashes → array<long> distinct 3-shingle hashes, the
  * exact staged math of the original column rendering:
  *  - n == 0 → [0]
  *  - n < 3  → one hash: fold `acc = (acc + th[j] * C[j]) % p`
  *  - n ≥ 3  → `(th[j]*C0 + th[j+1]*C1 + th[j+2]*C2) % p` per position
  * then every hash reduced `% 4294967291` and deduplicated preserving
  * first-occurrence order (array_distinct semantics).
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles requires array<long>, got ${other.sql}")
  }

  override protected def nullSafeEval(a: Any): Any =
    new GenericArrayData(ShingleHashes.compute(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.expr.ShingleHashes.compute($a));
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

object ShingleHashes {
  /** Shared by eval and generated code (the kernel is branchy enough that a
    * static method keeps the generated method bodies small for JIT).
    */
  def compute(th: ArrayData): Array[Long] = {
    Kernels.requireNoNullElements(th, "graft_shingles")
    val n = th.numElements()
    val C = Kernels.ShingleC
    val p = Kernels.MersennePrime
    val raw: Array[Long] =
      if (n == 0) Array(0L)
      else if (n < 3) {
        var acc = 0L
        var j = 0
        while (j < n) { acc = (acc + th.getLong(j) * C(j)) % p; j += 1 }
        Array(acc)
      } else {
        val out = new Array[Long](n - 2)
        var j = 0
        while (j < n - 2) {
          out(j) = (th.getLong(j) * C(0) + th.getLong(j + 1) * C(1) +
            th.getLong(j + 2) * C(2)) % p
          j += 1
        }
        out
      }
    // % Mod32 + first-occurrence dedup (array_distinct order semantics)
    val seen = new java.util.LinkedHashSet[java.lang.Long](raw.length * 2)
    var i = 0
    while (i < raw.length) { seen.add(raw(i) % Kernels.Mod32); i += 1 }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }
}

/** Bag intersection over two run-length encoded bags (SORTED
  * array<struct<tok:string, tf:long>>, the `graft_bag_counts` output):
  * Σ_tok min(tf_a, tf_b) by two-pointer merge over DISTINCT tokens —
  * O(|distinct A| + |distinct B|) per pair where `graft_bag_intersect`
  * walks every occurrence. On repetitive corpora (distinct ≪ total) this
  * is the verification kernel's whole cost model.
  */
case class BagIntersectCounts(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(a, b)), _) =>
      a.dataType == StringType && b.dataType == LongType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bag_intersect_counts requires two array<struct<string,long>>, got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BagIntersectCounts.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.expr.BagIntersectCounts.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BagIntersectCounts =
    copy(left = l, right = r)
}

object BagIntersectCounts {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      if (a.isNullAt(i) || b.isNullAt(j))
        throw new IllegalArgumentException("graft_bag_intersect_counts: null array element")
      val ra = a.getStruct(i, 2); val rb = b.getStruct(j, 2)
      val cmp = ra.getUTF8String(0).compareTo(rb.getUTF8String(0))
      if (cmp == 0) {
        c += math.min(ra.getLong(1), rb.getLong(1)); i += 1; j += 1
      }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** Fused bag Jaccard: round(Σmin / (total_a + total_b − Σmin), 6) over two
  * run-length bags in ONE merge pass. As separate expressions the Σmin
  * merge is inlined twice by CollapseProject (numerator + denominator) and
  * the threshold filter pushed into the join condition doubles it again —
  * four merges per surviving pair; this kernel does one per evaluation.
  * Rounding replicates Spark's `Round` on doubles exactly
  * (BigDecimal HALF_UP at scale 6), so oracle hashes are unchanged.
  */
case class BagJaccard(first: Expression, second: Expression,
                      third: Expression, fourth: Expression) extends Expression {
  override def children: Seq[Expression] = Seq(first, second, third, fourth)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = DoubleType
  private def bagOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(a, b)), _) =>
      a.dataType == StringType && b.dataType == LongType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (bagOk(first.dataType) && bagOk(second.dataType) &&
        third.dataType == LongType && fourth.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_bag_jaccard requires (array<struct<string,long>>, array<struct<string,long>>, long, long), got " +
        children.map(_.dataType.sql).mkString("(", ", ", ")"))

  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = first.eval(input); val b = second.eval(input)
    val ta = third.eval(input); val tb = fourth.eval(input)
    if (a == null || b == null || ta == null || tb == null) null
    else BagJaccard.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      ta.asInstanceOf[Long], tb.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evs = children.map(_.genCode(ctx))
    val nullCheck = evs.map(e => e.isNull.toString).mkString(" || ")
    val childCode = evs.map(_.code).reduce(_ + _)
    ev.copy(code = childCode +
      code"""
        |boolean ${ev.isNull} = $nullCheck;
        |double ${ev.value} = -1.0;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.plans.expr.BagJaccard.compute(
        |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value}, ${evs(3).value});
        |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BagJaccard =
    BagJaccard(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}

object BagJaccard {
  /** Spark Round(double, 6) semantics: BigDecimal HALF_UP at scale 6,
    * NaN/Infinity passed through (BigDecimal.valueOf would throw).
    */
  def round6(raw: Double): Double =
    if (raw.isNaN || raw.isInfinite) raw
    else java.math.BigDecimal.valueOf(raw)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def compute(a: ArrayData, b: ArrayData, totalA: Long, totalB: Long): Double =
    round6({
      val inter = BagIntersectCounts.compute(a, b)
      inter.toDouble / (totalA + totalB - inter).toDouble
    })
}

/** Fused bag OVERLAP (containment) coefficient:
  * round(Σmin / min(total_a, total_b), 6) in one merge pass — the verify
  * kernel of the prefix-filtered containment join, same single-pass
  * rationale as `graft_bag_jaccard`.
  */
case class BagOverlap(first: Expression, second: Expression,
                      third: Expression, fourth: Expression) extends Expression {
  override def children: Seq[Expression] = Seq(first, second, third, fourth)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = DoubleType
  private def bagOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(a, b)), _) =>
      a.dataType == StringType && b.dataType == LongType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (bagOk(first.dataType) && bagOk(second.dataType) &&
        third.dataType == LongType && fourth.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_bag_overlap requires (array<struct<string,long>>, array<struct<string,long>>, long, long), got " +
        children.map(_.dataType.sql).mkString("(", ", ", ")"))

  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = first.eval(input); val b = second.eval(input)
    val ta = third.eval(input); val tb = fourth.eval(input)
    if (a == null || b == null || ta == null || tb == null) null
    else BagOverlap.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      ta.asInstanceOf[Long], tb.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evs = children.map(_.genCode(ctx))
    val nullCheck = evs.map(e => e.isNull.toString).mkString(" || ")
    val childCode = evs.map(_.code).reduce(_ + _)
    ev.copy(code = childCode +
      code"""
        |boolean ${ev.isNull} = $nullCheck;
        |double ${ev.value} = -1.0;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.plans.expr.BagOverlap.compute(
        |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value}, ${evs(3).value});
        |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BagOverlap =
    BagOverlap(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}

object BagOverlap {
  def compute(a: ArrayData, b: ArrayData, totalA: Long, totalB: Long): Double =
    BagJaccard.round6(
      BagIntersectCounts.compute(a, b).toDouble / math.min(totalA, totalB).toDouble)
}

/** SORTED array<string> → array<struct<tok:string, tf:long>>: run-length
  * encode the token bag in one O(n) pass — the in-row replacement for the
  * per-occurrence `explode` → `groupBy(doc_id, tok).count()` shuffle of
  * term frequencies. Input must be `array_sort`ed (binary UTF8 order, the
  * same order `graft_bag_intersect` merges with); an out-of-order input
  * fails loud rather than silently splitting runs into wrong counts.
  */
case class BagCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("tok", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bag_counts requires array<string>, got ${other.sql}")
  }

  override protected def nullSafeEval(a: Any): Any =
    BagCounts.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.GenericArrayData)
         |  graft.plans.expr.BagCounts.compute($a);
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): BagCounts = copy(child = c)
}

object BagCounts {
  def compute(st: ArrayData): GenericArrayData = {
    Kernels.requireNoNullElements(st, "graft_bag_counts")
    val n = st.numElements()
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < n) {
      val t = st.getUTF8String(i)
      var j = i + 1
      var cmp = 0
      while (j < n && { cmp = t.compareTo(st.getUTF8String(j)); cmp == 0 }) j += 1
      if (j < n && cmp > 0)
        throw new IllegalArgumentException(
          s"graft_bag_counts: input not sorted at position $j (run-length counts would be wrong)")
      out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](t, (j - i).toLong)))
      i = j
    }
    new GenericArrayData(out.toArray)
  }
}

/** (array<struct<df:long, tok:string, tf:long>>, limit) → array<string>:
  * sort a document's distinct tokens by (df asc, tok asc) — global
  * rarest-first prefix order, token tie-break keeps it total — then emit
  * tokens while the running occurrence count stays below `limit`
  * (L = total − ⌈t·total⌉ + 1, the PPJoin prefix length). The in-row
  * replacement for a full-corpus `Window.partitionBy(doc_id)` sort-shuffle
  * over every token row: the sort is per-document over its DISTINCT
  * tokens, inside one codegen'd projection.
  */
case class PrefixTokens(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StructType(Array(a, b, c)), _), LongType)
      if a.dataType == LongType && b.dataType == StringType && c.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_prefix_tokens requires (array<struct<long,string,long>>, long), got $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PrefixTokens.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.GenericArrayData)
         |  graft.plans.expr.PrefixTokens.compute($a, $b);
       """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PrefixTokens =
    copy(left = l, right = r)
}

object PrefixTokens {
  def compute(pairs: ArrayData, limit: Long): GenericArrayData = {
    val n = pairs.numElements()
    val dfs = new Array[Long](n)
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    val tfs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (pairs.isNullAt(i))
        throw new IllegalArgumentException(s"graft_prefix_tokens: null array element at position $i")
      val r = pairs.getStruct(i, 3)
      dfs(i) = r.getLong(0); toks(i) = r.getUTF8String(1); tfs(i) = r.getLong(2)
      i += 1
    }
    val order = Array.range(0, n).sortWith { (a, b) =>
      dfs(a) < dfs(b) || (dfs(a) == dfs(b) && toks(a).compareTo(toks(b)) < 0)
    }
    val out = new java.util.ArrayList[Any](n)
    var cum = 0L
    var k = 0
    while (k < n && cum < limit) {
      val j = order(k)
      out.add(toks(j))
      cum += tfs(j)
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** (bag: array<struct<tok:string,tf:long>>, vocab: array<struct<tok:string,
  * df:long>> SORTED by tok, limit: long) → array<string>: the PPJoin prefix
  * slice with the global document frequencies supplied as a per-row VOCAB
  * ARRAY instead of pre-joined per token. Binary-search df lookup per bag
  * entry (O(b log V), no per-row hash map allocation), then the same
  * (df asc, tok asc) rarest-first order and cum-tf < limit slice as
  * `graft_prefix_tokens` — byte-identical output by construction.
  *
  * Exists so a small-vocab corpus can attach df with ONE broadcast of a
  * single vocab row (cross join) instead of the explode → df join →
  * collect-back aggregation, which costs a per-occurrence pass and a
  * per-doc re-aggregation. A token absent from the vocab fails loud: the
  * vocab is built from the same corpus, so a miss is pipeline corruption,
  * not data.
  */
case class PrefixTokensVocab(first: Expression, second: Expression,
                             third: Expression) extends Expression {
  override def children: Seq[Expression] = Seq(first, second, third)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  private def pairOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(a, b)), _) =>
      a.dataType == StringType && b.dataType == LongType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (pairOk(first.dataType) && pairOk(second.dataType) && third.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_prefix_tokens_vocab requires (array<struct<string,long>>, " +
        "array<struct<string,long>>, long), got " +
        children.map(_.dataType.sql).mkString("(", ", ", ")"))

  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = first.eval(input); val v = second.eval(input); val l = third.eval(input)
    if (a == null || v == null || l == null) null
    else PrefixTokensVocab.compute(a.asInstanceOf[ArrayData],
      v.asInstanceOf[ArrayData], l.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evs = children.map(_.genCode(ctx))
    val nullCheck = evs.map(e => e.isNull.toString).mkString(" || ")
    val childCode = evs.map(_.code).reduce(_ + _)
    ev.copy(code = childCode +
      code"""
        |boolean ${ev.isNull} = $nullCheck;
        |org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.plans.expr.PrefixTokensVocab.compute(
        |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value});
        |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PrefixTokensVocab =
    PrefixTokensVocab(newChildren(0), newChildren(1), newChildren(2))
}

object PrefixTokensVocab {
  def compute(bag: ArrayData, vocab: ArrayData, limit: Long): GenericArrayData = {
    val n = bag.numElements()
    val m = vocab.numElements()
    def dfOf(tok: org.apache.spark.unsafe.types.UTF8String): Long = {
      var lo = 0; var hi = m - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val r = vocab.getStruct(mid, 2)
        val cmp = r.getUTF8String(0).compareTo(tok)
        if (cmp == 0) return r.getLong(1)
        else if (cmp < 0) lo = mid + 1
        else hi = mid - 1
      }
      throw new IllegalArgumentException(
        s"graft_prefix_tokens_vocab: token '$tok' missing from vocab (corrupt pipeline)")
    }
    val dfs = new Array[Long](n)
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    val tfs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (bag.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_prefix_tokens_vocab: null array element at position $i")
      val r = bag.getStruct(i, 2)
      toks(i) = r.getUTF8String(0); tfs(i) = r.getLong(1); dfs(i) = dfOf(toks(i))
      i += 1
    }
    val order = Array.range(0, n).sortWith { (a, b) =>
      dfs(a) < dfs(b) || (dfs(a) == dfs(b) && toks(a).compareTo(toks(b)) < 0)
    }
    val out = new java.util.ArrayList[Any](n)
    var cum = 0L
    var k = 0
    while (k < n && cum < limit) {
      val j = order(k)
      out.add(toks(j))
      cum += tfs(j)
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** array<long> shingle hashes → 64-slot MinHash signature:
  * `slot_i = min over h of (A_i * h + B_i) % p`, slots initialized to
  * Long.MaxValue — identical to the 64-slot `aggregate` fold, without the
  * per-element 64-long array allocation.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<long>, got ${other.sql}")
  }

  override protected def nullSafeEval(a: Any): Any =
    new GenericArrayData(MinHashSig.compute(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.expr.MinHashSig.compute($a));
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

object MinHashSig {
  def compute(hs: ArrayData): Array[Long] = {
    Kernels.requireNoNullElements(hs, "graft_minhash")
    val slots = new Array[Long](Kernels.NumHashes)
    java.util.Arrays.fill(slots, Long.MaxValue)
    val A = Kernels.CoeffA; val B = Kernels.CoeffB
    val p = Kernels.Mod32 // 32-bit permutation domain — see Kernels.CoeffA
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var i = 0
      while (i < slots.length) {
        val v = (A(i) * h + B(i)) % p
        if (v < slots(i)) slots(i) = v
        i += 1
      }
      j += 1
    }
    slots
  }
}

/** array<long> token hashes → 32-bit SimHash (as long): per bit, +1/-1
  * votes from each hash's bit `i`; bit set iff the vote sum is positive —
  * identical to the 32-slot vote `aggregate` + when-chain reduction.
  */
case class SimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash32 requires array<long>, got ${other.sql}")
  }

  override protected def nullSafeEval(a: Any): Any = SimHash32.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.expr.SimHash32.compute($a);")

  override protected def withNewChildInternal(c: Expression): SimHash32 = copy(child = c)
}

object SimHash32 {
  def compute(hs: ArrayData): Long = {
    Kernels.requireNoNullElements(hs, "graft_simhash32")
    val votes = new Array[Int](32)
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var i = 0
      while (i < 32) {
        votes(i) += (if (((h >> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      j += 1
    }
    var r = 0L
    var i = 0
    while (i < 32) {
      if (votes(i) > 0) r += (1L << i)
      i += 1
    }
    r
  }
}

/** string → double: Shannon entropy (nats) of the character distribution —
  * the gibberish/boilerplate signal character-level quality filters
  * threshold on. Code points are counted in one pass (newline excluded,
  * mirroring the oracle's RE2 `.`), then −p·ln(p) is accumulated over the
  * DISTINCT code points in ascending order — the same fold order as the
  * DuckDB rendering (`list_sort(list_distinct(...))` then left fold), so
  * the double result matches bit-for-bit before the 6dp round. Runs
  * map-side inside whole-stage codegen: the score costs one projection,
  * no explode/groupBy shuffle of per-character rows.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_entropy requires string, got ${other.sql}")
  }

  override protected def nullSafeEval(a: Any): Any = CharEntropy.compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.expr.CharEntropy.compute($a);")

  override protected def withNewChildInternal(c: Expression): CharEntropy = copy(child = c)
}

object CharEntropy {
  def compute(a: Any): Double = {
    val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    // TreeMap: ascending code-point iteration == UTF-8 binary sort order ==
    // the oracle's list_sort collation
    val counts = new java.util.TreeMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp != '\n') {
        counts.merge(cp, 1L, (x, y) => x + y)
        n += 1
      }
      i += Character.charCount(cp)
    }
    if (n == 0L) return 0.0
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / n
      acc += -(p * math.log(p))
    }
    acc
  }
}

/** PQ asymmetric-distance sum: Σ_s lut[s·ks + codes[s]] over long
  * micro-unit (1e-6) partials — the ADC inner loop as one codegen'd
  * expression instead of an m-step interpreted decimal fold per
  * (query, candidate) pair. Long addition of micro-units is exact, so
  * the result equals the decimal-sum rendering bit-for-bit after the
  * single final division by 1e6.
  */
case class PqAdcSum(first: Expression, second: Expression, third: Expression)
    extends Expression {
  override def children: Seq[Expression] = Seq(first, second, third)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_adc requires (array<long> codes, array<long> lut, int ks), got $other")
    }
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = first.eval(input); val l = second.eval(input); val k = third.eval(input)
    if (c == null || l == null || k == null) null
    else PqAdcSum.compute(c.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData],
      k.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evs = children.map(_.genCode(ctx))
    val nullCheck = evs.map(e => e.isNull.toString).mkString(" || ")
    val childCode = evs.map(_.code).reduce(_ + _)
    ev.copy(code = childCode +
      code"""
        |boolean ${ev.isNull} = $nullCheck;
        |long ${ev.value} = 0L;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.plans.expr.PqAdcSum.compute(
        |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value});
        |}
        |""".stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PqAdcSum =
    copy(first = c(0), second = c(1), third = c(2))
}

object PqAdcSum {
  def compute(codes: ArrayData, lut: ArrayData, ks: Int): Long = {
    Kernels.requireNoNullElements(codes, "graft_pq_adc")
    Kernels.requireNoNullElements(lut, "graft_pq_adc")
    val m = codes.numElements()
    require(m * ks == lut.numElements(),
      s"graft_pq_adc: lut has ${lut.numElements()} entries, expected m*ks = ${m * ks}")
    var acc = 0L
    var s = 0
    while (s < m) {
      val code = codes.getLong(s)
      require(code >= 0 && code < ks, s"graft_pq_adc: code $code outside [0, $ks)")
      acc += lut.getLong(s * ks + code.toInt)
      s += 1
    }
    acc
  }
}

/** PQ corpus encode as ONE row-local pass: all m subspace codes of a
  * vector against a packed flat codebook — the dedicated kernel the r14
  * measurement called for (the generic packed-struct slot machinery costs
  * ~4× the sd=2 dot it wraps; this reads primitive arrays directly).
  *
  * Bit-equivalence with the window rendering it replaces
  * (`row_number over (ccos desc, cell asc) = 1` per (vec_id, s), where
  * `ccos = round(graft_dot(sub, c_sub) / (graft_norm(sub) * c_snrm), 6)`):
  *  - the sub dot / sub norm fold left-to-right in double over the same
  *    elements (`emb[s*sd + i]` IS `slice(emb, s*sd+1, sd)[i]`) — the
  *    exact `ArrayDot.compute` / `ArrayNorm.compute` arithmetic;
  *  - rounding is Spark `Round(_, 6)`'s double path verbatim: NaN/Inf
  *    pass through, else `BigDecimal.valueOf(x).setScale(6, HALF_UP)`
  *    (`PqEncode.round6`, spec-asserted against `round()` itself);
  *  - the argmax comparator is Spark's SQL double ordering
  *    (`-0.0 == 0.0`, NaN greatest — `if (x == y) 0 else
  *    Double.compare(x, y)`), descending, first-match over ascending
  *    cells = the `cell asc` tie-break. A zero-norm subvector or centroid
  *    fails loudly (the window rendering's division throws DIVIDE_BY_ZERO
  *    under the session's ANSI mode — spec-asserted parity).
  *
  * Codebook layout (built by `Similarity.pqCodebookPacked` via
  * `array_sort(collect_list(struct(cs, cell, …)))`, so (s, cell)
  * ascending): `cb[((s*ks + cell)*sd) + i]` = element i of centroid
  * (s, cell); `cbn[s*ks + cell]` = its precomputed norm. m and sd are
  * derived (`m = cbn.length/ks`, `sd = emb.length/m`) and every length
  * is cross-checked loudly.
  */
case class PqEncode(first: Expression, second: Expression, third: Expression,
                    fourth: Expression) extends Expression {
  override def children: Seq[Expression] = Seq(first, second, third, fourth)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _),
            ArrayType(DoubleType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode requires (array<double> emb, array<double> codebook, " +
          s"array<double> cbnorms, int ks), got $other")
    }
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val e = first.eval(input); val cb = second.eval(input)
    val cbn = third.eval(input); val k = fourth.eval(input)
    if (e == null || cb == null || cbn == null || k == null) null
    else PqEncode.compute(e.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      cbn.asInstanceOf[ArrayData], k.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evs = children.map(_.genCode(ctx))
    val nullCheck = evs.map(e => e.isNull.toString).mkString(" || ")
    val childCode = evs.map(_.code).reduce(_ + _)
    ev.copy(code = childCode +
      code"""
        |boolean ${ev.isNull} = $nullCheck;
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.plans.expr.PqEncode.compute(
        |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value}, ${evs(3).value});
        |}
        |""".stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PqEncode =
    copy(first = c(0), second = c(1), third = c(2), fourth = c(3))
}

object PqEncode {
  /** Spark `Round(x, 6)` double semantics, verbatim (spec-asserted). */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark SQL double ordering: -0.0 == 0.0, NaN greatest. */
  private def cmp(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  def compute(emb: ArrayData, cb: ArrayData, cbn: ArrayData, ks: Int): ArrayData = {
    Kernels.requireNoNullElements(emb, "graft_pq_encode")
    Kernels.requireNoNullElements(cb, "graft_pq_encode")
    Kernels.requireNoNullElements(cbn, "graft_pq_encode")
    require(ks > 0, s"graft_pq_encode: ks $ks must be positive")
    require(cbn.numElements() % ks == 0,
      s"graft_pq_encode: ${cbn.numElements()} centroid norms not divisible by ks=$ks")
    val m = cbn.numElements() / ks
    val dim = emb.numElements()
    require(m > 0 && dim % m == 0,
      s"graft_pq_encode: dim $dim not divisible into m=$m subspaces")
    val sd = dim / m
    require(cb.numElements() == m * ks * sd,
      s"graft_pq_encode: codebook has ${cb.numElements()} elements, expected m*ks*sd = ${m * ks * sd}")
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      val base = s * sd
      // same fold as ArrayNorm.compute over slice(emb, s*sd+1, sd)
      var nacc = 0.0
      var i = 0
      while (i < sd) { val v = emb.getDouble(base + i); nacc += v * v; i += 1 }
      val snrm = math.sqrt(nacc)
      var best = 0.0
      var bestCell = -1
      var cell = 0
      while (cell < ks) {
        val off = (s * ks + cell) * sd
        // same fold as ArrayDot.compute
        var dacc = 0.0
        i = 0
        while (i < sd) { dacc += emb.getDouble(base + i) * cb.getDouble(off + i); i += 1 }
        val den = snrm * cbn.getDouble(s * ks + cell)
        // ANSI parity: the window rendering's `dot / (snrm * c_snrm)` throws
        // DIVIDE_BY_ZERO under the session's ANSI mode — a zero-norm
        // subvector/centroid must fail just as loudly here, never silently
        // score NaN
        require(den != 0.0,
          s"graft_pq_encode: zero-norm subvector/centroid at (s=$s, cell=$cell) — division by zero")
        val ccos = round6(dacc / den)
        if (bestCell < 0 || cmp(ccos, best) > 0) { best = ccos; bestCell = cell }
        cell += 1
      }
      out(s) = bestCell.toLong
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Max n-gram multiplicity of a token array as ONE row-local pass (r15):
  * the count of the most-repeated n-gram, where each n-gram is the n
  * adjacent tokens joined by a single space — exactly
  * `max(count per gram)` over
  * `explode(transform(sequence(1, size-n+1), i => concat_ws(" ",
  * element_at(toks, i)..element_at(toks, i+n-1))))`. The gram strings are
  * built with the same `UTF8String.concatWs` that `ConcatWs` codegens and
  * counted under the same binary equality the groupBy used, so the max is
  * bit-identical. Fewer than n tokens → 0 (the exploded rendering produced
  * no rows for the doc; callers coalesce the absent group to 0).
  *
  * Null contract: the equivalence holds for arrays without null elements,
  * which is every array `graft_tokenize` yields. A null element throws
  * `IllegalArgumentException`, where `concat_ws` skipped it and built a
  * shorter gram. A null array or null n yields null.
  *
  * Replaces a corpus×grams explode + two aggregations + pivot per n
  * (`text_topngram_frac`): the gram table never leaves the row.
  */
case class MaxNgramCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_max_ngram_ct requires (array<string>, int n), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MaxNgramCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.expr.MaxNgramCount.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MaxNgramCount =
    copy(left = l, right = r)
}

object MaxNgramCount {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def compute(toks: ArrayData, n: Int): Long = {
    Kernels.requireNoNullElements(toks, "graft_max_ngram_ct")
    require(n > 0, s"graft_max_ngram_ct: n $n must be positive")
    val total = toks.numElements() - n + 1
    if (total <= 0) return 0L
    val counts =
      new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
    var best = 0L
    var i = 0
    while (i < total) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var o = 0
      while (o < n) { parts(o) = toks.getUTF8String(i + o); o += 1 }
      val gram = org.apache.spark.unsafe.types.UTF8String.concatWs(Space, parts: _*)
      var cell = counts.get(gram)
      if (cell == null) { cell = new Array[Long](1); counts.put(gram, cell) }
      cell(0) += 1L
      if (cell(0) > best) best = cell(0)
      i += 1
    }
    best
  }
}

/** Adjacent n-grams of a token array as ONE codegen'd pass (r15):
  * element i (0-based) = tokens i..i+n-1 joined by a single space —
  * exactly `transform(sequence(1, size-n+1), i => concat_ws(" ",
  * element_at(toks, i)..element_at(toks, i+n-1)))` and, at n=2, exactly
  * the `zip_with(slice(toks,1,size-1), slice(toks,2,size-1),
  * concat_ws(" ", a, b))` rendering — both of which are CodegenFallback
  * higher-order trees that re-slice and allocate per element (profiled as
  * the dominant stage of text_bigram_surprisal). Fewer than n tokens →
  * empty array, as the exploded renderings produced no rows.
  *
  * Null contract: the equivalence holds for arrays without null elements,
  * which is every array `graft_tokenize` yields. A null element throws
  * `IllegalArgumentException`, where `concat_ws` skipped it and built a
  * shorter gram. A null array or null n yields null.
  */
case class NgramArray(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_ngrams requires (array<string>, int n), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NgramArray.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.expr.NgramArray.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NgramArray =
    copy(left = l, right = r)
}

object NgramArray {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def compute(toks: ArrayData, n: Int): ArrayData = {
    Kernels.requireNoNullElements(toks, "graft_ngrams")
    require(n > 0, s"graft_ngrams: n $n must be positive")
    val total = toks.numElements() - n + 1
    if (total <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](total)
    var i = 0
    while (i < total) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var o = 0
      while (o < n) { parts(o) = toks.getUTF8String(i + o); o += 1 }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Winnowing fingerprint selection (MOSS) as ONE native pass per
  * document: lowercase, hash every character k-gram (md5 first-4-bytes,
  * identical to `md5Prefix64(substring(lower(text), i, k))`), sliding
  * min over w-hash windows via a monotonic deque, distinct selected
  * hashes out (sorted for determinism). Replaces an interpreted
  * three-HOF tree that re-evaluated lower(text) per gram and re-sliced
  * per window — the rendering that pinned one core for ~17 minutes at
  * sf0.1 before this kernel existed.
  */
case class WinnowFingerprints(first: Expression, second: Expression, third: Expression)
    extends Expression {
  override def children: Seq[Expression] = Seq(first, second, third)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_winnow requires (string, int k, int w), got $other")
    }
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = first.eval(input); val k = second.eval(input); val w = third.eval(input)
    if (t == null || k == null || w == null) null
    else WinnowFingerprints.compute(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evs = children.map(_.genCode(ctx))
    val nullCheck = evs.map(e => e.isNull.toString).mkString(" || ")
    val childCode = evs.map(_.code).reduce(_ + _)
    ev.copy(code = childCode +
      code"""
        |boolean ${ev.isNull} = $nullCheck;
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.plans.expr.WinnowFingerprints.compute(
        |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value});
        |}
        |""".stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): WinnowFingerprints =
    copy(first = c(0), second = c(1), third = c(2))
}

object WinnowFingerprints {
  def compute(text: org.apache.spark.unsafe.types.UTF8String, k: Int,
              w: Int): ArrayData = {
    require(k >= 1 && w >= 1, s"graft_winnow: k=$k, w=$w must be >= 1")
    // character semantics: identical to substring(lower(text), i, k)
    val low = text.toLowerCase.toString
    val n = low.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val m = n - k + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.reset()
      val d = md.digest(low.substring(i, i + k).getBytes("UTF-8"))
      hs(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    if (m < w) {
      var mn = hs(0); var j = 1
      while (j < m) { if (hs(j) < mn) mn = hs(j); j += 1 }
      out.add(mn)
    } else {
      // monotonic deque sliding-window minimum, O(m)
      val dq = new Array[Int](m); var head = 0; var tail = 0
      var j = 0
      while (j < m) {
        while (tail > head && hs(dq(tail - 1)) >= hs(j)) tail -= 1
        dq(tail) = j; tail += 1
        if (dq(head) <= j - w) head += 1
        if (j >= w - 1) out.add(hs(dq(head)))
        j += 1
      }
    }
    val arr = new Array[Long](out.size())
    val it = out.iterator(); var p = 0
    while (it.hasNext) { arr(p) = it.next(); p += 1 }
    new GenericArrayData(arr)
  }
}
