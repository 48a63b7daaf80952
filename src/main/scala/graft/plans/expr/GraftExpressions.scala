package graft.plans.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Shared math of the native kernels (see [[GraftKernel]]).
  *
  * Spark's higher-order functions (`aggregate`, `transform`, `zip_with`,
  * `filter`) are `CodegenFallback`: every invocation drops out of
  * whole-stage codegen into interpreted eval and allocates per element —
  * a 64-slot MinHash fold allocates a fresh 64-long array per shingle.
  * The kernels compute the identical math (same operation order, same
  * integer/IEEE semantics, verified against the unchanged DuckDB oracles)
  * as tight static loops that generated code calls from inside
  * whole-stage codegen.
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

  /** Spark `Round(x, 6)` double semantics, verbatim (spec-asserted):
    * BigDecimal HALF_UP at scale 6, NaN/Infinity passed through
    * (BigDecimal.valueOf would throw).
    */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** One accepted argument type: its text in the type-check failure message
  * and the test a child's data type must pass.
  */
final case class Arg(sql: String, accepts: DataType => Boolean) {
  def named(label: String): Arg = copy(sql = s"$sql $label")
}

object Arg {
  private val names = Map[DataType, String](StringType -> "string", IntegerType -> "int",
    LongType -> "long", FloatType -> "float", DoubleType -> "double")

  def of(dt: DataType): Arg = Arg(names(dt), _ == dt)

  def array(elems: DataType*): Arg = Arg(elems.map(names).mkString("array<", "|", ">"), {
    case ArrayType(et, _) => elems.contains(et)
    case _ => false
  })

  def arrayOfStruct(fields: DataType*): Arg =
    Arg(fields.map(names).mkString("array<struct<", ",", ">>"), {
      case ArrayType(StructType(fs), _) => fs.map(_.dataType).toSeq == fields
      case _ => false
    })
}

/** One row of the kernel table: the SQL name, the accepted argument types,
  * the result type, and the object whose static `compute` runs the kernel.
  * Generated code calls `target.compute(args..., flags...)`; interpreted
  * `eval` calls `call` with the same values in the same order (the flags
  * are boxed there). `flags` are compile-time constants worked out from
  * the argument types, e.g. whether a vector holds floats or doubles.
  * `compute` returns the Java type of `result`.
  */
final case class Kernel(name: String, args: Seq[Arg], result: DataType, target: AnyRef,
                        flags: Seq[DataType] => Seq[Boolean] = _ => Nil)(
    val call: Array[Any] => Any) {
  /** The class Janino sees: a Scala object's static forwarders. */
  def javaTarget: String = target.getClass.getName.stripSuffix("$")
}

/** A native kernel call: `name` picks its row in [[GraftKernel.table]].
  * Rendered in plans and SQL under that name (`graft_minhash(...)`).
  *
  * Null contract, stated once for every kernel:
  *  - any null argument gives null. Arguments are evaluated left to right
  *    and the first null skips the rest and the kernel, in generated code
  *    and in `eval` alike;
  *  - no null check is generated for an argument that cannot be null, and
  *    none at all when no argument can be;
  *  - the result is nullable iff some argument is, and foldable iff every
  *    argument is (constant folding and `LocalRelation` go through `eval`);
  *  - a null array ELEMENT, or array lengths that do not fit together,
  *    throws a descriptive IllegalArgumentException from `compute` — the
  *    engine's own stages never produce them, but a SQL caller can.
  * NaN and ±Infinity follow IEEE arithmetic and pass through the 6-digit
  * rounding unchanged; `graft_pq_encode` orders them as Spark SQL does
  * (NaN greatest).
  */
case class GraftKernel(name: String, children: Seq[Expression]) extends Expression {
  @transient private lazy val kernel = GraftKernel.byName(name)
  @transient private lazy val flags = kernel.flags(children.map(_.dataType))

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def dataType: DataType = kernel.result
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    def list(xs: Seq[String]) = if (xs.size == 1) xs.head else xs.mkString("(", ", ", ")")
    if (types.size == kernel.args.size && kernel.args.zip(types).forall { case (a, t) => a.accepts(t) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires ${list(kernel.args.map(_.sql))}, got ${list(types.map(_.sql))}")
  }

  override def eval(input: InternalRow): Any = {
    val values = new Array[Any](children.size + flags.size)
    var i = 0
    val it = children.iterator
    while (it.hasNext) {
      values(i) = it.next().eval(input)
      if (values(i) == null) return null
      i += 1
    }
    flags.copyToArray(values, i)
    kernel.call(values)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = (gens.map(_.value.toString) ++ flags.map(_.toString))
      .mkString(s"${ev.value} = ${kernel.javaTarget}.compute(", ", ", ");")
    val declare = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (!nullable)
      ev.copy(code = code"""
        |${gens.map(_.code).reduce(_ + _)}
        |$declare
        |$call""".stripMargin, isNull = FalseLiteral)
    else {
      // each argument's code runs only once every earlier one is non-null
      val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, g), inner) => s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        |boolean ${ev.isNull} = true;
        |$declare
        |$body""".stripMargin)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): GraftKernel =
    copy(children = c)
}

object GraftKernel {
  private def arr(v: Any): ArrayData = v.asInstanceOf[ArrayData]
  private val str = Arg.of(StringType)
  private val int = Arg.of(IntegerType)
  private val long = Arg.of(LongType)
  private val vec = Arg.array(FloatType, DoubleType)
  private val doubles = Arg.array(DoubleType)
  private val longs = Arg.array(LongType)
  private val strings = Arg.array(StringType)
  private val bag = Arg.arrayOfStruct(StringType, LongType)
  private val isFloat: Seq[DataType] => Seq[Boolean] =
    _.map(_.asInstanceOf[ArrayType].elementType == FloatType)
  private val stringsOut = ArrayType(StringType, containsNull = false)
  private val longsOut = ArrayType(LongType, containsNull = false)
  private val bagOut = ArrayType(StructType(Seq(StructField("tok", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  /** Every kernel `GraftExtensions` registers as a SQL function. */
  val table: Seq[Kernel] = Seq(
    Kernel("graft_tokenize", Seq(str), stringsOut, TokenizeWords)(
      v => TokenizeWords.compute(v(0))),
    Kernel("graft_dot", Seq(vec, vec), DoubleType, ArrayDot, isFloat)(
      v => ArrayDot.compute(arr(v(0)), arr(v(1)), v(2).asInstanceOf[Boolean], v(3).asInstanceOf[Boolean])),
    Kernel("graft_eq_count", Seq(longs, longs), IntegerType, ArrayEqCount)(
      v => ArrayEqCount.compute(arr(v(0)), arr(v(1)))),
    Kernel("graft_pq_adc", Seq(longs.named("codes"), longs.named("lut"), int.named("ks")),
      LongType, PqAdcSum)(
      v => PqAdcSum.compute(arr(v(0)), arr(v(1)), v(2).asInstanceOf[Int])),
    Kernel("graft_pq_encode", Seq(doubles.named("emb"), doubles.named("codebook"),
      doubles.named("cbnorms"), int.named("ks")), longsOut, PqEncode)(
      v => PqEncode.compute(arr(v(0)), arr(v(1)), arr(v(2)), v(3).asInstanceOf[Int])),
    Kernel("graft_max_ngram_ct", Seq(strings, int.named("n")), LongType, MaxNgramCount)(
      v => MaxNgramCount.compute(arr(v(0)), v(1).asInstanceOf[Int])),
    Kernel("graft_ngrams", Seq(strings, int.named("n")), stringsOut, NgramArray)(
      v => NgramArray.compute(arr(v(0)), v(1).asInstanceOf[Int])),
    Kernel("graft_winnow", Seq(str, int.named("k"), int.named("w")), longsOut,
      WinnowFingerprints)(
      v => WinnowFingerprints.compute(v(0).asInstanceOf[org.apache.spark.unsafe.types.UTF8String], v(1).asInstanceOf[Int],
        v(2).asInstanceOf[Int])),
    Kernel("graft_bag_intersect", Seq(strings, strings), IntegerType, BagIntersect)(
      v => BagIntersect.compute(arr(v(0)), arr(v(1)))),
    Kernel("graft_bag_counts", Seq(strings), bagOut, BagCounts)(
      v => BagCounts.compute(arr(v(0)))),
    Kernel("graft_bag_intersect_counts", Seq(bag, bag), LongType, BagIntersectCounts)(
      v => BagIntersectCounts.compute(arr(v(0)), arr(v(1)))),
    Kernel("graft_bag_jaccard", Seq(bag, bag, long, long), DoubleType, BagJaccard)(
      v => BagJaccard.compute(arr(v(0)), arr(v(1)), v(2).asInstanceOf[Long], v(3).asInstanceOf[Long])),
    Kernel("graft_bag_overlap", Seq(bag, bag, long, long), DoubleType, BagOverlap)(
      v => BagOverlap.compute(arr(v(0)), arr(v(1)), v(2).asInstanceOf[Long], v(3).asInstanceOf[Long])),
    Kernel("graft_prefix_tokens", Seq(Arg.arrayOfStruct(LongType, StringType, LongType), long),
      stringsOut, PrefixTokens)(
      v => PrefixTokens.compute(arr(v(0)), v(1).asInstanceOf[Long])),
    Kernel("graft_prefix_tokens_vocab", Seq(bag, bag, long), stringsOut, PrefixTokensVocab)(
      v => PrefixTokensVocab.compute(arr(v(0)), arr(v(1)), v(2).asInstanceOf[Long])),
    Kernel("graft_norm", Seq(vec), DoubleType, ArrayNorm, isFloat)(
      v => ArrayNorm.compute(arr(v(0)), v(1).asInstanceOf[Boolean])),
    Kernel("graft_hash_tokens", Seq(strings), longsOut, HashTokens)(
      v => HashTokens.compute(arr(v(0)))),
    Kernel("graft_shingles", Seq(longs), longsOut, ShingleHashes)(
      v => ShingleHashes.compute(arr(v(0)))),
    Kernel("graft_minhash", Seq(longs), longsOut, MinHashSig)(
      v => MinHashSig.compute(arr(v(0)))),
    Kernel("graft_simhash32", Seq(longs), LongType, SimHash32)(
      v => SimHash32.compute(arr(v(0)))),
    Kernel("graft_char_entropy", Seq(str), DoubleType, CharEntropy)(
      v => CharEntropy.compute(v(0))))

  private val byName: Map[String, Kernel] = table.map(k => k.name -> k).toMap
}

/** Left-to-right dot product of two equal-length numeric arrays, double
  * accumulation: `acc = acc + (double)a[i] * (double)b[i]` — bit-identical
  * to `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)` on the
  * equal-length inputs the engine produces. Mismatched lengths raise a
  * descriptive error (the old fold returned NULL via zip_with padding —
  * an error surfaces corrupt/mixed-dimension embeddings instead of
  * silently nulling scores), as do null elements.
  */
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
object HashTokens {
  def compute(x: ArrayData): GenericArrayData = {
    Kernels.requireNoNullElements(x, "graft_hash_tokens")
    val out = new Array[Long](x.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = Kernels.md5Prefix64(x.getUTF8String(i).getBytes)
      i += 1
    }
    new GenericArrayData(out)
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
object ShingleHashes {
  /** Shared by eval and generated code (the kernel is branchy enough that a
    * static method keeps the generated method bodies small for JIT).
    */
  def compute(th: ArrayData): GenericArrayData = {
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
    new GenericArrayData(out)
  }
}

/** Bag intersection over two run-length encoded bags (SORTED
  * array<struct<tok:string, tf:long>>, the `graft_bag_counts` output):
  * Σ_tok min(tf_a, tf_b) by two-pointer merge over DISTINCT tokens —
  * O(|distinct A| + |distinct B|) per pair where `graft_bag_intersect`
  * walks every occurrence. On repetitive corpora (distinct ≪ total) this
  * is the verification kernel's whole cost model.
  */
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
object BagJaccard {
  def compute(a: ArrayData, b: ArrayData, totalA: Long, totalB: Long): Double =
    Kernels.round6({
      val inter = BagIntersectCounts.compute(a, b)
      inter.toDouble / (totalA + totalB - inter).toDouble
    })
}

/** Fused bag OVERLAP (containment) coefficient:
  * round(Σmin / min(total_a, total_b), 6) in one merge pass — the verify
  * kernel of the prefix-filtered containment join, same single-pass
  * rationale as `graft_bag_jaccard`.
  */
object BagOverlap {
  def compute(a: ArrayData, b: ArrayData, totalA: Long, totalB: Long): Double =
    Kernels.round6(
      BagIntersectCounts.compute(a, b).toDouble / math.min(totalA, totalB).toDouble)
}

/** SORTED array<string> → array<struct<tok:string, tf:long>>: run-length
  * encode the token bag in one O(n) pass — the in-row replacement for the
  * per-occurrence `explode` → `groupBy(doc_id, tok).count()` shuffle of
  * term frequencies. Input must be `array_sort`ed (binary UTF8 order, the
  * same order `graft_bag_intersect` merges with); an out-of-order input
  * fails loud rather than silently splitting runs into wrong counts.
  */
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
object MinHashSig {
  def compute(hs: ArrayData): GenericArrayData = {
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
    new GenericArrayData(slots)
  }
}

/** array<long> token hashes → 32-bit SimHash (as long): per bit, +1/-1
  * votes from each hash's bit `i`; bit set iff the vote sum is positive —
  * identical to the 32-slot vote `aggregate` + when-chain reduction.
  */
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
  *    (`Kernels.round6`, spec-asserted against `round()` itself);
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
object PqEncode {
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
        val ccos = Kernels.round6(dacc / den)
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
