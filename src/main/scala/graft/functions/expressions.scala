package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.hashing.MurmurHash3

/** Custom Catalyst expressions for the similarity, dedup and text
  * operators the built-in function set cannot express efficiently
  * (native Expression over UDF).
  *
  * Each expression has ONE kernel: a JVM-static function in its
  * companion object (or in [[MinHashUtil]]). The interpreted path
  * (`nullSafeEval`/`eval`) and the generated code (`doGenCode`) both
  * call it, so the generated Java is a single static call and stays
  * inside whole-stage codegen. A kernel's name must not collide with an
  * inherited `Expression` member such as `eval`: scalac emits no static
  * forwarder for a colliding name and the generated call would not
  * compile. `CodegenBridgeSpec` compiles every expression through
  * `GenerateUnsafeProjection` and matches compiled output to
  * interpreted output; `CodegenLintSpec` keeps hand-written Java loops
  * (`ctx.freshName` locals) out of `src/main`.
  */

/** Generated Java for a kernel that returns its result boxed, `null`
  * meaning SQL NULL: one call, then the unbox into `ev`. */
private[functions] object BoxedResult {
  def assign(ev: ExprCode, box: String, call: String): String = {
    val r = s"${ev.value}Boxed"
    s"""$box $r = $call;
       |${ev.isNull} = $r == null;
       |if (!${ev.isNull}) ${ev.value} = $r;""".stripMargin
  }
}

/** cosine(a, b) over two array<float|double> columns (mixed widths
  * allowed), accumulated in double, evaluated left-to-right.
  * Float inputs are read natively and widened per element — every
  * float is exactly representable as a double, so the result is
  * bit-identical to first casting the array, without the per-row
  * array<double> allocation a Cast would add (that cast cost
  * dominated the q45/q47 pair loops at sf0.1). Numerically identical
  * to the DuckDB oracle's list_cosine_similarity on ::DOUBLE[] casts
  * (both are sequential double sums; verified to 1e-6 by the q45
  * oracle). Null input, a null element, a length mismatch or a zero
  * norm → null. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType | FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity requires two array<float|double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = CosineSimilarity.cosine(
    a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftIsFloat, rightIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => BoxedResult.assign(ev, "Double",
      s"graft.functions.CosineSimilarity.cosine($x, $y, $leftIsFloat, $rightIsFloat)"))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimilarity {
  /** The kernel; `null` is SQL NULL. A length mismatch or a null
    * element is null (DuckDB errors on the former and propagates NULL
    * on the latter; null is the safe common denominator, never a
    * silently-truncated similarity). */
  def cosine(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }
}

/** Squared Euclidean distance between two float/double arrays —
  * [[CosineSimilarity]]'s L2 sibling (same float-native reads, same
  * sequential double accumulation, same null/length rules). Used by
  * the q140 PQ audit/re-rank path, where the zip_with+aggregate HOF
  * form evaluated interpreted per element. */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType | FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"squared_l2 requires two array<float|double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = SquaredL2.squaredL2(
    a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftIsFloat, rightIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => BoxedResult.assign(ev, "Double",
      s"graft.functions.SquaredL2.squaredL2($x, $y, $leftIsFloat, $rightIsFloat)"))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SquaredL2 {
  /** The kernel; `null` (a length mismatch or a null element) is SQL
    * NULL. */
  def squaredL2(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = (if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)) -
        (if (yFloat) y.getFloat(i).toDouble else y.getDouble(i))
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** JVM-static hashing kernels and helpers shared by the interpreted and
  * generated-code paths (Scala object methods surface as Java static
  * forwarders, callable from Janino-compiled codegen). */
object MinHashUtil {
  val Prime = 2038074743L // large prime; a*h+b stays well under Long overflow

  def tokenHash(t: UTF8String, seed: Int): Long =
    MurmurHash3.bytesHash(t.getBytes, seed).toLong & 0xffffffffL

  def tokenHash64(t: UTF8String, seed: Int): Long = {
    val bytes = t.getBytes
    val h1 = MurmurHash3.bytesHash(bytes, seed).toLong & 0xffffffffL
    val h2 = MurmurHash3.bytesHash(bytes, seed + 0x9e3779b9).toLong & 0xffffffffL
    (h1 << 32) | h2
  }

  /** `MurmurHash3.bytesHash` over the byte range [off, off+len) of
    * `s`, without materializing the slice — bit-identical to
    * `bytesHash(s.getBytes.slice(off, off+len), seed)` (fuzz-pinned in
    * ExpressionsSpec): same 4-byte little-endian body chunks, same
    * tail handling, same `finalizeHash(h, len)`. Lets shingle hashing
    * run zero-allocation over substrings of one UTF8String. */
  def rangeHash(s: UTF8String, off: Int, len: Int, seed: Int): Int = {
    var h = seed
    var i = off
    var rem = len
    while (rem >= 4) {
      var k = s.getByte(i) & 0xFF
      k |= (s.getByte(i + 1) & 0xFF) << 8
      k |= (s.getByte(i + 2) & 0xFF) << 16
      k |= (s.getByte(i + 3) & 0xFF) << 24
      h = MurmurHash3.mix(h, k)
      i += 4; rem -= 4
    }
    var k = 0
    if (rem == 3) k ^= (s.getByte(i + 2) & 0xFF) << 16
    if (rem >= 2) k ^= (s.getByte(i + 1) & 0xFF) << 8
    if (rem >= 1) { k ^= (s.getByte(i) & 0xFF); h = MurmurHash3.mixLast(h, k) }
    MurmurHash3.finalizeHash(h, len)
  }

  /** [[tokenHash64]] over a byte range — the two-seed 64-bit
    * combination applied to [off, off+len) of `s`. */
  def rangeHash64(s: UTF8String, off: Int, len: Int, seed: Int): Long = {
    val h1 = rangeHash(s, off, len, seed).toLong & 0xffffffffL
    val h2 = rangeHash(s, off, len, seed + 0x9e3779b9).toLong & 0xffffffffL
    (h1 << 32) | h2
  }

  /** SimHash's per-hash step: each of the 64 bits of `h` votes ±1. */
  private def vote(votes: Array[Int], h: Long): Unit = {
    var b = 0
    while (b < 64) {
      if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      b += 1
    }
  }

  /** The fingerprint of a vote vector: bit b set iff its vote is > 0. */
  private def signOf(votes: Array[Int]): Long = {
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  /** [[SimHash64]]'s kernel: every non-null token's [[tokenHash64]]
    * votes; null tokens are skipped. */
  def simhashTokens(arr: ArrayData, seed: Int): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) vote(votes, tokenHash64(arr.getUTF8String(i), seed))
      i += 1
    }
    signOf(votes)
  }

  /** [[SimHashCharGrams]]'s kernel: the 64-bit SimHash over character
    * 4-grams of `s`, computed in one pass with zero per-gram
    * allocation. Value-identical (fuzz-pinned) to
    * `simhash64(transform(sequence(1, greatest(length(s) - 3, 0)),
    * i -> substring(s, i, 4)))` for ANY input:
    *  - ≥4 chars: each gram is the byte range of 4 consecutive code
    *    points (offsets walked once via numBytesForFirstByte — the
    *    same code-point stepping `substring` performs), hashed with
    *    [[rangeHash64]] ≡ tokenHash64 of the materialized gram;
    *  - <4 chars (incl. empty): `sequence(1, 0)` DESCENDS, yielding
    *    [1, 0] → substring(s,1,4) and substring(s,0,4) are both the
    *    whole (short) string, so the composition votes the same hash
    *    twice and the fingerprint is exactly tokenHash64(s). */
  def simhashCharGrams(s: UTF8String, seed: Int): Long = {
    val nBytes = s.numBytes()
    // code-point start offsets; sentinel at the end
    val offs = new Array[Int](nBytes + 1)
    var nChars = 0
    var i = 0
    while (i < nBytes) {
      offs(nChars) = i
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
      nChars += 1
    }
    offs(nChars) = nBytes
    if (nChars < 4) return rangeHash64(s, 0, nBytes, seed)
    val votes = new Array[Int](64)
    val nG = nChars - 3
    var g = 0
    while (g < nG) {
      vote(votes, rangeHash64(s, offs(g), offs(g + 4) - offs(g), seed))
      g += 1
    }
    signOf(votes)
  }

  /** (a_i, b_i) interleaved, derived deterministically from the seed. */
  def coefficients(k: Int, seed: Int): Array[Long] = {
    val rnd = new java.util.Random(seed.toLong)
    val out = new Array[Long](2 * k)
    var j = 0
    while (j < k) {
      out(2 * j) = 1L + math.abs(rnd.nextLong()) % (Prime - 1)
      out(2 * j + 1) = math.abs(rnd.nextLong()) % Prime
      j += 1
    }
    out
  }

  /** MurmurHash3 64-bit finalizer — avalanches the rolling shingle
    * combination so adjacent shingles don't produce correlated
    * universal-hash inputs. */
  def fmix64(v0: Long): Long = {
    var v = v0
    v ^= v >>> 33
    v *= 0xff51afd7ed558ccdL
    v ^= v >>> 33
    v *= 0xc4ceb9fe1a85ec53L
    v ^= v >>> 33
    v
  }

  /** [[MinHashSignature]]'s kernel: the k = `coefs.length / 2` minima
    * over the document's `n`-token shingles. A shingle containing a
    * NULL token is SKIPPED, not hashed with a sentinel: a sentinel
    * would make any two documents sharing a null-bearing window look
    * identical in that shingle and deflate their MinHash distance.
    * Unreachable from split()-derived tokens (containsNull = false);
    * it keeps the contract on nullable arrays. */
  def signature(arr: ArrayData, n: Int, seed: Int, coefs: Array[Long]): ArrayData = {
    val k = coefs.length / 2
    val nTok = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    // token hashes, one murmur pass per token
    val th = new Array[Long](nTok)
    val nullT = new Array[Boolean](nTok)
    var i = 0
    while (i < nTok) {
      if (arr.isNullAt(i)) nullT(i) = true else th(i) = tokenHash(arr.getUTF8String(i), seed)
      i += 1
    }
    val width = if (nTok < n) nTok else n
    val nShingles = if (nTok == 0) 0 else nTok - width + 1
    var s = 0
    while (s < nShingles) {
      var acc = 0L
      var hasNull = false
      var w = 0
      while (w < width) {
        if (nullT(s + w)) hasNull = true
        acc = acc * 0x100000001b3L ^ th(s + w)
        w += 1
      }
      if (!hasNull) {
        val x = fmix64(acc) & 0xffffffffL
        var j = 0
        while (j < k) {
          val v = (coefs(2 * j) * x + coefs(2 * j + 1)) % Prime
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      s += 1
    }
    new GenericArrayData(mins)
  }
}

/** MinHash signature with FUSED shingling: array<string> tokens →
  * array<long> of k minimum hash values under k independent
  * permutations h_i(x) = (a_i·x + b_i) mod p (Broder 1997), where x
  * ranges over the hashes of the document's n-token shingles and
  * (a_i, b_i) derive deterministically from the seed.
  *
  * Shingles are never materialized as strings: each token is murmur-
  * hashed once, a rolling window combines n consecutive token hashes
  * (order-sensitive polynomial) and an fmix64 avalanche makes the
  * combination a well-distributed universal-hash input. Profiling at
  * sf0.1 showed the string-shingle construction
  * (`transform(sequence…, slice+concat_ws)`) cost ~13 µs per shingle
  * — 3.8 s per pass over 5 000 docs — while the k=128 min-update loop
  * itself is ~0.1 s; the fusion removes the string pass entirely.
  *
  * Shorter-than-n documents hash as one whole-document shingle (same
  * semantics as the string-shingling they replace). Empty input →
  * signature of Long.MaxValue. Kernel: [[MinHashUtil.signature]]. */
case class MinHashSignature(child: Expression, n: Int, k: Int, seed: Int)
    extends UnaryExpression {
  require(n >= 1 && k >= 1, "shingle width and signature size must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires array<string> tokens, got ${other.sql}")
  }

  @transient private lazy val coefs: Array[Long] = MinHashUtil.coefficients(k, seed)

  override def nullSafeEval(input: Any): Any =
    MinHashUtil.signature(input.asInstanceOf[ArrayData], n, seed, coefs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coefsRef = ctx.addReferenceObj("coefs", coefs, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashUtil.signature($c, $n, $seed, $coefsRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash (Charikar 2002) over array<string> tokens: each
  * token hashes to 64 bits; bit positions vote ±1; the sign vector is
  * the fingerprint. Near-dups have small Hamming distance. Kernel:
  * [[MinHashUtil.simhashTokens]]. */
case class SimHash64(child: Expression, seed: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string> tokens, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(MinHashUtil.simhashTokens(input.asInstanceOf[ArrayData], seed))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashUtil.simhashTokens($c, $seed)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash over CHARACTER 4-GRAMS of a string in one pass:
  * replaces the q145 composition
  * `simhash64(transform(sequence(1, greatest(length(text) - 3, 0)),
  * i -> substring(text, i, 4)))`, whose higher-order transform runs an
  * INTERPRETED lambda that materializes a length(text)-element array
  * of 4-char strings per row before the SimHash ever sees it.
  * Value-identical for any input, including the <4-char
  * descending-sequence edge; see [[MinHashUtil.simhashCharGrams]].
  * Null input → null, like the composition (every layer is
  * null-intolerant). */
case class SimHashCharGrams(child: Expression, seed: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_char4 requires a string argument, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      MinHashUtil.simhashCharGrams(input.asInstanceOf[UTF8String], seed))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashUtil.simhashCharGrams($c, $seed)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 37-slot character-bag histogram (counts of 'a'–'z', '0'–'9', ' ')
  * in ONE byte pass — the fused form of the q131/q145 bag columns,
  * which evaluated `length(text) − length(translate(text, ch, ""))`
  * 37 times per row: 37 full string scans and 37 string allocations
  * where one scan and one int[37] suffice. Value-identical to the
  * translate composition for ANY input, not just the ASCII-pinned rows
  * the operators feed it: the targets are ASCII code points, and in
  * UTF-8 an ASCII byte value occurs only as a standalone ASCII
  * character (continuation bytes are ≥ 0x80), so counting target
  * BYTES equals counting target CHARACTERS on arbitrary UTF-8 text.
  * Null input → null; elements never null. */
case class CharBagCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_bag requires a string argument, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    CharBagCounts.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharBagCounts.counts($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CharBagCounts {
  /** The kernel: one pass over the UTF-8 bytes. */
  def counts(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    val cnt = new Array[Int](37)
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 'a' && b <= 'z') cnt(b - 'a') += 1
      else if (b >= '0' && b <= '9') cnt(26 + b - '0') += 1
      else if (b == ' ') cnt(36) += 1
      i += 1
    }
    new GenericArrayData(cnt)
  }
}

/** L1 distance between two int arrays (long result) — the fused form
  * of the q131/q145 37-term `abs(a0−b0) + …` filter chain over the
  * [[CharBagCounts]] bags. Arrays of unequal length or a null element
  * → null (the operators always compare 37-slot bags, so this never
  * fires there); null input → null. Accumulates in long: bag counts
  * are bounded by text length, so the int sum could only overflow on
  * ≥2^31-char texts — long is exact either way. */
case class IntArrayL1(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_array_l1 requires two array<int> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    IntArrayL1.l1(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      BoxedResult.assign(ev, "Long", s"graft.functions.IntArrayL1.l1($x, $y)"))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object IntArrayL1 {
  /** The kernel; `null` (a length mismatch or a null element) is SQL
    * NULL. */
  def l1(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = (x.getInt(i) - y.getInt(i)).toLong
      s += (if (d < 0) -d else d)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }
}

/** Fused PCA projection: the k coordinates
  * z_j = Σ_i (x_i − mean_i)·w_j_i — and optionally the centered
  * squared norm Σ_i (x_i − mean_i)² as element 1 — in ONE pass over
  * the embedding. Replaces the per-coordinate
  * `aggregate(zip_with(transform(x − mean), w, ·*·), 0.0, +)`
  * composition, whose higher-order lambdas are interpreted and
  * re-walk the array once per coordinate (8 × per row in q89/q91/q93
  * — the dominant per-row cost of the PCA family).
  *
  * BIT-IDENTICAL to the composition, nulls included (fuzz-pinned in
  * ExpressionsSpec):
  *  - doubles accumulate per coordinate in ascending element order —
  *    the same IEEE sequence the zip_with/aggregate fold performs;
  *  - a null INPUT yields the composition's array-of-nulls (the outer
  *    `array(...)` of null aggregates), not a null array — so the
  *    expression is non-nullable and its kernel takes the possibly-null
  *    child value;
  *  - any null ELEMENT nulls every slot (null poisons both folds);
  *  - length mismatch: coords are null unless len(x) == dim (zip_with
  *    pads the shorter side with null), normSq tolerates len(x) < dim
  *    (transform only iterates x); len(x) > dim yields all-null slots
  *    where the ANSI composition would THROW on element_at(mean, i)
  *    past dim — strictly more defined, never a changed value where
  *    the composition is defined (no operator feeds mismatched rows;
  *    the fixture dimensionality is uniform).
  * Output element layout: withNormSq ? [normSq, z_1..z_k]
  * : [z_1..z_k]. */
case class PcaProjectExpr(child: Expression, mean: Array[Double],
    comps: Array[Array[Double]], withNormSq: Boolean)
    extends UnaryExpression {
  require(comps.forall(_.length == mean.length),
    "every component must have the mean's dimensionality")

  // Content-based equality over the model arrays: the case-class
  // default compares Array references, so two instances built from
  // separately loaded but identical models would never semanticEquals
  // — defeating subexpression elimination and plan-fragment dedup
  // across columns.
  override def equals(o: Any): Boolean = o match {
    case p: PcaProjectExpr =>
      p.child == child && p.withNormSq == withNormSq &&
        java.util.Arrays.equals(p.mean, mean) &&
        p.comps.length == comps.length &&
        p.comps.indices.forall(i => java.util.Arrays.equals(p.comps(i), comps(i)))
    case _ => false
  }

  override def hashCode(): Int = {
    var h = child.hashCode() * 31 + withNormSq.hashCode()
    h = h * 31 + java.util.Arrays.hashCode(mean)
    comps.foreach(c => h = h * 31 + java.util.Arrays.hashCode(c))
    h
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pca_project requires array<float|double>, got ${other.sql}")
  }

  @transient private lazy val childIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = PcaProjectExpr.project(
    child.eval(input).asInstanceOf[ArrayData], mean, comps, withNormSq, childIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val meanRef = ctx.addReferenceObj("pcaMean", mean, "double[]")
    val compsRef = ctx.addReferenceObj("pcaComps", comps, "double[][]")
    val c = child.genCode(ctx)
    val call = s"graft.functions.PcaProjectExpr.project(${c.isNull} ? null : ${c.value}, " +
      s"$meanRef, $compsRef, $withNormSq, $childIsFloat)"
    ev.copy(isNull = FalseLiteral, code = c.code +
      code"final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = $call;")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PcaProjectExpr {
  /** The kernel: `x` may be null (→ an array of nulls); always returns
    * an array of `comps.length` (+1 with the norm) slots. */
  def project(x: ArrayData, mean: Array[Double], comps: Array[Array[Double]],
      withNormSq: Boolean, isFloat: Boolean): ArrayData = {
    val k = comps.length
    val out = new Array[Any](if (withNormSq) k + 1 else k)
    if (x != null) {
      val n = x.numElements()
      var anyNull = false
      var i = 0
      while (i < n && !anyNull) { if (x.isNullAt(i)) anyNull = true; i += 1 }
      val coordsOk = !anyNull && n == mean.length
      val normOk = !anyNull && n <= mean.length
      if (coordsOk || normOk) {
        var norm = 0.0
        val acc = new Array[Double](k)
        i = 0
        while (i < n) {
          val c = (if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)) - mean(i)
          if (normOk) norm += c * c
          if (coordsOk) {
            var j = 0
            while (j < k) { acc(j) += c * comps(j)(i); j += 1 }
          }
          i += 1
        }
        if (withNormSq && normOk) out(0) = java.lang.Double.valueOf(norm)
        if (coordsOk) {
          var j = 0
          while (j < k) {
            out(if (withNormSq) j + 1 else j) = java.lang.Double.valueOf(acc(j))
            j += 1
          }
        }
      }
    }
    new GenericArrayData(out)
  }
}

/** Deterministic random-hyperplane LSH bucket (Charikar 2002 sign-
  * random-projection): an embedding hashes to an `planes`-bit bucket
  * id where bit p is the SIGN of the dot product with pseudo-random
  * hyperplane p. Plane components derive from pure INTEGER arithmetic
  * (Knuth multiplicative hashing):
  *
  *   raw(p, j)  = ((p·100003 + j + 1) · 2654435761) mod 1000003
  *   comp(p, j) = raw/500001.5 − 1.0          ∈ [−1, 1)
  *
  * — so the exact same plane matrix is constructible in ANSI SQL as
  * double literals, which is what upgrades the LSH similarity queries
  * from rows-only checks to hard DuckDB oracle matches (the dot
  * products are sequential double sums in both engines → identical
  * signs → identical buckets). No broadcast state: every executor
  * recomputes the 8×dim matrix from two integer constants.
  * Accepts array<float|double>; a null element counts as 0.0; null
  * input → null. */
case class HyperplaneBucket(child: Expression, planes: Int, seed: Int)
    extends UnaryExpression {
  require(planes >= 1 && planes <= 30, "planes must be in [1, 30]")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bucket requires array<float|double>, got ${other.sql}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = java.lang.Integer.valueOf(
    HyperplaneBucket.bucket(input.asInstanceOf[ArrayData], planes, seed, isFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneBucket.bucket($c, $planes, $seed, $isFloat)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HyperplaneBucket {
  /** Plane component (p, j) — integer-exact, JVM-static for codegen.
    * `seed` offsets the index stream so independent hash families are
    * available; seed 0 matches the published SQL-literal formula. */
  def component(p: Int, j: Int, seed: Int): Double = {
    val raw = (((p.toLong * 100003L) + j + 1 + seed) * 2654435761L) % 1000003L
    raw.toDouble / 500001.5 - 1.0
  }

  /** The kernel: bit p of the bucket is set iff the dot product with
    * plane p is > 0. */
  def bucket(e: ArrayData, planes: Int, seed: Int, isFloat: Boolean): Int = {
    val n = e.numElements()
    val dots = new Array[Double](planes)
    var j = 0
    while (j < n) {
      val x = if (e.isNullAt(j)) 0.0
        else if (isFloat) e.getFloat(j).toDouble else e.getDouble(j)
      var p = 0
      while (p < planes) {
        dots(p) += x * component(p, j, seed)
        p += 1
      }
      j += 1
    }
    var bucket = 0
    var p = 0
    while (p < planes) {
      if (dots(p) > 0.0) bucket |= 1 << p
      p += 1
    }
    bucket
  }

  /** The same matrix as a DuckDB double-literal array (for oracle
    * SQL): `[c0, c1, …]::DOUBLE[]` for plane p at dimension dim.
    * Double.toString round-trips exactly, so both engines see
    * bit-identical plane components. */
  def planeSqlLiteral(p: Int, dim: Int, seed: Int): String =
    (0 until dim).map(j => component(p, j, seed).toString)
      .mkString("[", ",", "]::DOUBLE[]")
}

/** IVF probe-cell assignment fused into ONE codegen'd pass (the
  * [[GramFps]] discipline applied to the index build): replaces the
  * k-literal-cosine array + interpreted higher-order `array_sort` +
  * `slice`/`transform` composition, which evaluated OUTSIDE
  * whole-stage codegen and paid TimSort's k·log k INTERPRETED
  * comparator invocations per row — the dominant cost of the one-pass
  * assignment once auto-√n sizing raises k (measured: the q92 live
  * leg's assignment grew ~10× moving k 16→142 under the composition).
  *
  * Per row: k cosines in the EXACT sequential-double arithmetic of
  * [[CosineSimilarity]] (same loop order, same operations — identical
  * doubles, so identical ordering), then an O(k·np) selection by
  * (cosine DESC, index ASC) — precisely the order the stable
  * array_sort produced, ties included. Returns the 1-based ids of the
  * top-min(np, k) cells (length-lenient on sub-np geometries, like
  * the slice it replaces); element 1 is the home cell. A cosine the
  * composition yielded NULL for (null element / length mismatch /
  * zero norm — per-VECTOR conditions, so all-or-none across
  * centroids) ranks as −∞, which reproduces the composition's
  * stable-order result `[1..np]` for those rows. Null input → null. */
case class IvfProbeCellsExpr(child: Expression, cents: Array[Array[Double]], np: Int)
    extends UnaryExpression {
  require(cents.nonEmpty && np >= 1, "need >= 1 centroid and nprobe >= 1")

  override def prettyName: String = "ivf_probe_cells"

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_probe_cells requires array<float|double>, got ${other.sql}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    IvfProbeCellsExpr.probeCells(input.asInstanceOf[ArrayData], cents, np, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cents, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.IvfProbeCellsExpr.probeCells($c, $ref, $np, $isFloat)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object IvfProbeCellsExpr {
  /** The kernel. */
  def probeCells(e: ArrayData, cents: Array[Array[Double]], np: Int,
      isFloat: Boolean): ArrayData = {
    val k = cents.length
    val cos = new Array[Double](k)
    var ci = 0
    while (ci < k) { cos(ci) = cosineWith(e, cents(ci), isFloat); ci += 1 }
    val m = math.min(np, k)
    val out = new Array[Int](m)
    val used = new Array[Boolean](k)
    var s = 0
    while (s < m) {
      // strict "greater" keeps the FIRST best index on ties — (cosine
      // DESC, index ASC), the stable sort's order — under SPARK's
      // double ordering, not Java's operator `>`: NaN sorts greatest
      // (a NaN-element embedding must probe the same cells the old
      // array_sort path chose) and ±0.0 compare equal.
      var best = -1; var bestC = 0.0
      var i = 0
      while (i < k) {
        if (!used(i) && (best == -1 || sqlGt(cos(i), bestC))) { best = i; bestC = cos(i) }
        i += 1
      }
      used(best) = true; out(s) = best + 1; s += 1
    }
    new GenericArrayData(out)
  }

  /** `a > b` in Spark SQL's total order for doubles: NaN greatest,
    * NaN == NaN, -0.0 == 0.0 — the order the stable array_sort this
    * expression replaced compared with. */
  private def sqlGt(a: Double, b: Double): Boolean =
    if (a == b) false else java.lang.Double.compare(a, b) > 0

  /** Bit-identical to [[CosineSimilarity.cosine]] against a double[]
    * literal, with the composition's NULL outcomes mapped to −∞ (see
    * the class Scaladoc for why that preserves ordering). Kept apart
    * from that kernel so neither loop branches on its caller. */
  private def cosineWith(x: ArrayData, c: Array[Double], isFloat: Boolean): Double = {
    if (x.numElements() != c.length) return Double.NegativeInfinity
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < c.length) {
      if (x.isNullAt(i)) return Double.NegativeInfinity
      val xi = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = c(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) Double.NegativeInfinity
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

/** All M product-quantization codes of a vector in ONE codegen'd pass
  * — argmin_j ||x_m − c_mj||² per subspace m, computed as
  * argmin_j (−2·x_m·c_mj + ||c_mj||²) with ||x_m||² dropped
  * (constant across j). Output: array<int> of length M, 1-based
  * codes, first-min ties — value-identical to the declarative
  * per-subspace composition it replaces
  * (`array_position(scores_m, array_min(scores_m))` over literal
  * `element_at` sums) AND to the Scala reference encoder
  * (SimilarityQueries.pqEncodeModel): same left-fold dot order, same
  * −2·dot + Σc² shape, same first-min rule. The composition's cost
  * model is what it fixes — and not just speed: M·K'·(dim/M)
  * `element_at` terms unrolled into one projection (≈1k for the
  * default 8×16×8 geometry) blow Janino's 64 KB method limit inside
  * whole-stage codegen, so every PQ encode stage (q140/q144/
  * q146–q148) would fall back to interpreted execution. Here the
  * generated Java is one static call; the M·K' centroid norms are
  * precomputed once at plan time and ride as a reference object.
  *
  * Null/short-vector semantics are `try_element_at`'s (the tolerant
  * rules; ANSI `element_at` — the Spark 4 default the old
  * composition used — THROWS on a short vector, which no fixture
  * contains), per subspace: a null element or out-of-range index
  * inside subspace m's window nulls ALL of m's scores (the NULL
  * propagates through the sum), array_min over all-NULL is NULL and
  * array_position(_, NULL) is NULL → code_m NULL — other subspaces
  * are unaffected. Null input vector → null output. */
case class PqEncodeExpr(child: Expression, cb: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(cb.nonEmpty && cb.forall(_.nonEmpty), "need >= 1 codebook with >= 1 centroid")

  override def prettyName: String = "pq_codes"

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_codes requires array<float|double>, got ${other.sql}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** ||c_mj||² per (subspace, centroid), summed in index order like
    * the literal `lit(c.map(x => x*x).sum)` the composition embedded
    * — computed once at plan time, not per row. */
  @transient private lazy val norms: Array[Array[Double]] = PqEncodeExpr.norms(cb)

  override def nullSafeEval(input: Any): Any =
    PqEncodeExpr.codes(input.asInstanceOf[ArrayData], cb, norms, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cb, "double[][][]")
    val nRef = ctx.addReferenceObj("pqNorms", norms, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqEncodeExpr.codes($c, $cbRef, $nRef, $isFloat)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PqEncodeExpr {
  /** `a < b` in Spark SQL's total order for doubles — the sqlGt twin
    * (see [[IvfProbeCellsExpr.sqlGt]]): NaN greatest, NaN == NaN,
    * -0.0 == 0.0. Java's `<` never displaces a NaN bestS, so an
    * embedding with a NaN/Inf element (representable, not NULL)
    * could encode to a NaN-scored centroid while the declarative
    * composition (array_min treats NaN as greatest) and
    * pqEncodeModel (Scala TotalOrdering min) both pick the non-NaN
    * minimum — the same defect class the IvfProbeCells bridge fixed
    * via sqlGt. */
  private def sqlLt(a: Double, b: Double): Boolean =
    if (a == b) false else java.lang.Double.compare(a, b) < 0

  private[functions] def norms(cb: Array[Array[Array[Double]]]): Array[Array[Double]] =
    cb.map(_.map { c =>
      var ss = 0.0; var i = 0
      while (i < c.length) { ss += c(i) * c(i); i += 1 }
      ss
    })

  /** Subspace m's scores against each of its centroids,
    * −2·x_m·c_mj + ||c_mj||², into `out(0 until cents.length)`. The
    * window [base, base + sub) is valid iff it lies fully inside `e`
    * with no null element (the composition's element_at NULL rules,
    * all-or-none per m); an invalid window leaves `out` untouched and
    * returns false. */
  private[functions] def subspaceScores(e: ArrayData, base: Int,
      cents: Array[Array[Double]], norms: Array[Double], isFloat: Boolean,
      out: Array[Double]): Boolean = {
    val sub = cents(0).length
    if (base + sub > e.numElements()) return false
    var v = 0
    while (v < sub) { if (e.isNullAt(base + v)) return false; v += 1 }
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var dot = 0.0
      var i = 0
      while (i < sub) {
        val xi = if (isFloat) e.getFloat(base + i).toDouble else e.getDouble(base + i)
        dot += xi * c(i)
        i += 1
      }
      out(j) = -2.0 * dot + norms(j)
      j += 1
    }
    true
  }

  /** The kernel: per subspace, the first `sqlLt` minimum's 1-based
    * index, or null for an invalid window. */
  def codes(e: ArrayData, cb: Array[Array[Array[Double]]],
      norms: Array[Array[Double]], isFloat: Boolean): ArrayData = {
    val out = new Array[Any](cb.length)
    var kMax = 0
    var m = 0
    while (m < cb.length) { kMax = math.max(kMax, cb(m).length); m += 1 }
    val scores = new Array[Double](kMax)
    var base = 0
    m = 0
    while (m < cb.length) {
      if (subspaceScores(e, base, cb(m), norms(m), isFloat, scores)) {
        var best = 0
        var j = 1
        while (j < cb(m).length) { if (sqlLt(scores(j), scores(best))) best = j; j += 1 }
        out(m) = best + 1
      }
      base += cb(m)(0).length
      m += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-query ADC lookup tables for ALL M subspaces in ONE codegen'd
  * pass: element (m, j) = −2·x_m·c_mj + ||c_mj||², the asymmetric-
  * distance score the serve path adds up via
  * `element_at(qt_m, code_m)`. Output: array<array<double>> (M outer,
  * K' inner) — value-identical to M separate
  * [[SimilarityQueries.pqQueryTable]] literal-arithmetic columns,
  * which had the same ≈1k-term unroll (and the same Janino 64 KB
  * compile failure) as the encode side; see [[PqEncodeExpr]].
  * Null rules per subspace: invalid window (short vector / null
  * element) → that subspace's K' scores are ALL NULL (an array of
  * nulls, not a null array — exactly the composition's shape, so
  * downstream `element_at(qt_m, code_m)` yields NULL either via the
  * null score or the null code). Null input → null. */
case class PqAdcTableExpr(child: Expression, cb: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(cb.nonEmpty && cb.forall(_.nonEmpty), "need >= 1 codebook with >= 1 centroid")

  override def prettyName: String = "pq_adc_table"

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_table requires array<float|double>, got ${other.sql}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val norms: Array[Array[Double]] = PqEncodeExpr.norms(cb)

  override def nullSafeEval(input: Any): Any =
    PqAdcTableExpr.table(input.asInstanceOf[ArrayData], cb, norms, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cb, "double[][][]")
    val nRef = ctx.addReferenceObj("pqNorms", norms, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqAdcTableExpr.table($c, $cbRef, $nRef, $isFloat)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PqAdcTableExpr {
  /** The kernel: every subspace's score row, all-null for an invalid
    * window (the composition's NULL-score shape). */
  def table(e: ArrayData, cb: Array[Array[Array[Double]]],
      norms: Array[Array[Double]], isFloat: Boolean): ArrayData = {
    val out = new Array[Any](cb.length)
    var base = 0
    var m = 0
    while (m < cb.length) {
      val cents = cb(m)
      val scores = new Array[Double](cents.length)
      val row = new Array[Any](cents.length)
      if (PqEncodeExpr.subspaceScores(e, base, cents, norms(m), isFloat, scores)) {
        var j = 0
        while (j < cents.length) { row(j) = scores(j); j += 1 }
      }
      out(m) = new GenericArrayData(row)
      base += cents(0).length
      m += 1
    }
    new GenericArrayData(out)
  }
}

object expressions {
  /** Column API for [[CosineSimilarity]]; float and double arrays are
    * both read natively (no per-row cast allocation). */
  def cosine_similarity(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarity(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def squared_l2(a: Column, b: Column): Column =
    GraftColumnBridge.column(SquaredL2(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** `n` = shingle width in tokens (1 = token-set MinHash; 3 = the
    * standard order-sensitive web-dedup unit). Shingling happens
    * inside the expression — pass raw tokens, not shingle strings. */
  def minhash_signature(tokens: Column, n: Int = 1, k: Int = 64, seed: Int = 42): Column =
    GraftColumnBridge.column(MinHashSignature(GraftColumnBridge.expression(tokens), n, k, seed))

  def simhash64(tokens: Column, seed: Int = 42): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(tokens), seed))

  /** Fused char-4-gram SimHash; see [[SimHashCharGrams]].
    * Value-identical to `simhash64(transform(sequence(1,
    * greatest(length(c) - 3, 0)), i -> substring(c, i, 4)))`. */
  def simhash_char4(c: Column, seed: Int = 42): Column =
    GraftColumnBridge.column(SimHashCharGrams(GraftColumnBridge.expression(c), seed))

  def hyperplane_bucket(emb: Column, planes: Int = 8, seed: Int = 0): Column =
    GraftColumnBridge.column(HyperplaneBucket(GraftColumnBridge.expression(emb), planes, seed))

  /** Top-`np` IVF probe cells (1-based, cosine DESC / index ASC) for
    * `emb` against a literal centroid matrix — one codegen'd pass;
    * see [[IvfProbeCellsExpr]]. */
  def ivf_probe_cells(emb: Column, cents: Array[Array[Double]], np: Int): Column =
    GraftColumnBridge.column(IvfProbeCellsExpr(GraftColumnBridge.expression(emb), cents, np))

  def codepoint_rolling_hash(c: Column): Column =
    GraftColumnBridge.column(CodepointRollingHash(GraftColumnBridge.expression(c)))

  /** Bucket id = count of `cuts` entries ≤ value (cuts ascending,
    * distinct). Used by [[graft.operators.Scale.zorderWrite]] to turn
    * quantile cutpoints into grid coordinates without the interpreted
    * higher-order `aggregate` lambda (measured ~0.5 s/pass at sf0.1;
    * the binary search codegens to O(log b) per row). */
  def quantile_bucket(c: Column, cuts: Array[Double]): Column =
    GraftColumnBridge.column(QuantileBucket(
      GraftColumnBridge.expression(c.cast("double")), cuts))

  /** Sequential multi-pattern scrub-with-count; see [[RegexScrub]]. */
  def regex_scrub(c: Column, patterns: Seq[(String, String)]): Column =
    GraftColumnBridge.column(RegexScrub(GraftColumnBridge.expression(c), patterns))

  /** Unicode canonical form for dedup keys; see [[NormalizeText]]. */
  def normalize_text(c: Column): Column =
    GraftColumnBridge.column(NormalizeText(GraftColumnBridge.expression(c)))

  /** Distinct n-gram rolling-hash fingerprints of a token array; see
    * [[GramFps]]. Value-identical to
    * `array_distinct(transform(sequence(...), i ->
    * codepoint_rolling_hash(concat_ws(" ", slice(toks, i, n)))))`. */
  def gram_fps(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(GramFps(GraftColumnBridge.expression(tokens), n))

  /** EVERY n-gram fingerprint of a token array IN POSITION ORDER
    * (element i = the gram starting at token i) — [[GramFps]] without
    * the distinct fold, for positional consumers (q196's span
    * evidence joins on posexplode of this). Value-identical to
    * `transform(sequence(1, m−n+1), i →
    * codepoint_rolling_hash(concat_ws(" ", slice(toks, i, n))))`. */
  def gram_fps_seq(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(GramFpsSeq(GraftColumnBridge.expression(tokens), n))

  /** All M product-quantization codes (1-based) in one fused pass;
    * see [[PqEncodeExpr]]. */
  def pq_codes(emb: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftColumnBridge.column(PqEncodeExpr(GraftColumnBridge.expression(emb), cb))

  /** All M per-query ADC lookup tables (array<array<double>>, outer =
    * subspace, inner = centroid) in one fused pass; see
    * [[PqAdcTableExpr]]. */
  def pq_adc_table(emb: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftColumnBridge.column(PqAdcTableExpr(GraftColumnBridge.expression(emb), cb))

  /** One-pass 37-slot char-bag histogram; see [[CharBagCounts]].
    * Value-identical to the 37-column
    * `length(c) − length(translate(c, ch, ""))` composition. */
  def char_bag(c: Column): Column =
    GraftColumnBridge.column(CharBagCounts(GraftColumnBridge.expression(c)))

  /** Fused L1 distance over two int arrays; see [[IntArrayL1]]. */
  def int_array_l1(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntArrayL1(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** One-pass PCA projection (optionally with the centered squared
    * norm as element 1); see [[PcaProjectExpr]]. Value-identical to
    * the per-coordinate aggregate/zip_with composition. */
  def pca_project(emb: Column, mean: Array[Double],
      comps: Array[Array[Double]], withNormSq: Boolean = false): Column =
    GraftColumnBridge.column(PcaProjectExpr(
      GraftColumnBridge.expression(emb), mean, comps, withNormSq))
}

/** Monotone bucket assignment against a small ascending DISTINCT
  * cutpoint array: result = #cuts ≤ v ∈ [0, cuts.length], via
  * `Arrays.binarySearch` (exact-match index + 1 equals the ≤-count
  * because the cuts are distinct). Null in → null out. */
case class QuantileBucket(child: Expression, cuts: Array[Double])
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantile_bucket requires a double argument, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      QuantileBucket.bucket(cuts, input.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cuts", cuts, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.QuantileBucket.bucket($ref, $c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object QuantileBucket {
  /** JVM-static (callable from codegen). */
  def bucket(cuts: Array[Double], v: Double): Long = {
    val idx = java.util.Arrays.binarySearch(cuts, v)
    (if (idx >= 0) idx + 1 else -idx - 1).toLong
  }
}

/** Codepoint-level polynomial rolling hash:
  * fold(codepoints, 0)((acc, cp) => (acc*31 + cp) mod 1e9+7) —
  * matches DuckDB's per-character `unicode()` fold exactly, including
  * non-ASCII text (Spark's `split(str, "")` mangles multi-byte chars
  * into U+FFFD replacement bytes, which collides distinct non-ASCII
  * documents; this iterates real codepoints). Null → null; empty → 0.
  * Fully codegen'd via a static helper. */
case class CodepointRollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"codepoint_rolling_hash requires a string argument, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      CodepointRollingHash.hash(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CodepointRollingHash.hash($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fused sequential scrub: applies each (pattern → replacement) in
  * order to the evolving string — pattern i both COUNTED and REPLACED
  * on the text as it stands after patterns 1..i−1, exactly the
  * semantics of the chained `regexp_replace`/`regexp_extract_all`
  * pair — but in ONE matcher pass per pattern instead of two, and
  * with no per-row match-array allocation (`regexp_extract_all`
  * materializes every match just to take its length; measured, the
  * counting passes cost as much as the replacing passes on the q73
  * shape). Returns struct(redacted string, n_matches long). Patterns
  * are compiled once per task via a reference object, not per row.
  * Replacements are appended literally (no `$`-group expansion), so
  * a replacement token can never inject group references. */
case class RegexScrub(child: Expression, patterns: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("redacted", StringType, nullable = true),
    StructField("n_matches", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"regex_scrub requires a string argument, got ${other.sql}")
  }

  @transient private lazy val compiled: RegexScrub.Compiled =
    RegexScrub.compile(patterns)

  override def nullSafeEval(input: Any): Any =
    RegexScrub.scrub(compiled, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("scrubPatterns", compiled,
      classOf[RegexScrub.Compiled].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.RegexScrub.scrub($ref, $c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RegexScrub {
  /** Task-lifetime compiled patterns (serializable via the pattern
    * strings; java.util.regex.Pattern is itself Serializable). */
  final class Compiled(val pats: Array[java.util.regex.Pattern],
                       val tags: Array[String]) extends Serializable

  def compile(patterns: Seq[(String, String)]): Compiled =
    new Compiled(
      patterns.map(p => java.util.regex.Pattern.compile(p._1)).toArray,
      patterns.map(_._2).toArray)

  /** JVM-static (callable from codegen): one find-loop per pattern on
    * the evolving string; counts are replacements actually performed. */
  def scrub(c: Compiled, input: UTF8String): InternalRow = {
    var cur = input.toString
    var n = 0L
    var i = 0
    while (i < c.pats.length) {
      val m = c.pats(i).matcher(cur)
      if (m.find()) {
        val sb = new java.lang.StringBuilder(cur.length)
        var last = 0
        do {
          n += 1
          sb.append(cur, last, m.start()).append(c.tags(i))
          last = m.end()
        } while (m.find())
        sb.append(cur, last, cur.length)
        cur = sb.toString
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(cur), n))
  }
}

/** Unicode CANONICAL FORM for dedup keys: NFC-normalize, strip
  * combining marks (NFD decompose → drop general-category Mn →
  * NFC recompose — café/café in decomposed form, résumé vs resume
  * collapse together), locale-free ROOT lowercase, collapse runs of
  * whitespace to one space, trim. The q123 canonicalization: two
  * documents differing only in Unicode encoding form, accents, case
  * or spacing hash to the same key, catching the near-duplicate
  * class that byte-exact dedup (q40/q41) misses while staying a
  * stateless map (no pairwise anything).
  *
  * Cross-engine note (provenance, honestly): DuckDB's
  * `strip_accents` is utf8proc's mark-stripping; on ASCII and on
  * Latin-1 accent classes the two pipelines agree (spec-pinned), but
  * exotic scripts may differ in corner cases — the registered
  * oracle's fixture corpus is ASCII, where both are exact. Null →
  * null; fully codegen'd via a static helper. */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"normalize_text requires a string argument, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    NormalizeText.canon(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeText.canon($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NormalizeText {
  import java.text.Normalizer

  /** JVM-static canonicalizer (callable from codegen). The mark strip
    * walks codepoints once over the NFD form — no regex for the mark
    * class (Character.getType is a table lookup). */
  def canon(s: UTF8String): UTF8String = {
    val nfd = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    var lastWasSpace = false
    var any = false
    while (i < nfd.length) {
      val cp = nfd.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK) {
        if (Character.isWhitespace(cp)) {
          if (any && !lastWasSpace) { sb.append(' '); lastWasSpace = true }
          // leading whitespace: drop (trim-left); trailing handled below
        } else {
          sb.appendCodePoint(Character.toLowerCase(cp))
          lastWasSpace = false
          any = true
        }
      }
      i += Character.charCount(cp)
    }
    // trim-right: the collapse above may have left one trailing space
    if (sb.length > 0 && sb.charAt(sb.length - 1) == ' ')
      sb.setLength(sb.length - 1)
    UTF8String.fromString(
      Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
  }
}

/** Distinct n-gram fingerprints of a token array in ONE fused pass —
  * the hot inner loop of the dup-gram family (q79/q122/q127/q129/
  * q143). Produces values BIT-IDENTICAL to the declarative
  * composition it replaces (`array_distinct(transform(sequence(1,
  * m−n+1), i → codepoint_rolling_hash(concat_ws(" ", slice(toks, i,
  * n)))))`, first-occurrence order included), so every oracle keeps
  * `fingerprintSql` unchanged. The composition's cost model is what
  * it fixes: Catalyst higher-order lambdas evaluate INTERPRETED, and
  * each window materializes a sliced array plus a concatenated gram
  * string before hashing — O(len·n) codepoint work and two
  * allocations per gram. This expression hashes each token's
  * codepoints ONCE (also recording 31^len mod p), then composes each
  * gram hash algebraically from the per-token pairs:
  * H(a ++ b) = H(a)·31^|b| + H(b) (mod p), with the single-space
  * separator folded in as one (·31 + 32) step — O(len + m·n)
  * multiply-adds total, no per-gram strings, and the codegen bridge
  * keeps the projection inside whole-stage codegen. Both factors stay
  * < p ≈ 2³⁰, so every product fits a Long with headroom. */
case class GramFps(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gram_fps requires array<string> tokens, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    GramFps.evalDistinct(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramFps.evalDistinct($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[GramFps]] without the distinct fold: EVERY gram fingerprint in
  * position order (element i = the gram starting at token i), for
  * positional consumers — q196's verbatim-span evidence posexplodes
  * this and joins on (fp); positions must survive, so dedup is the
  * caller's (non-)choice. Same null-token (concat_ws skip) and
  * shorter-than-n (empty array) semantics as [[GramFps]]. */
case class GramFpsSeq(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gram_fps_seq requires array<string> tokens, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    GramFps.evalAll(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramFps.evalAll($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object GramFps {
  import CodepointRollingHash.Mod

  /** Per-token (hash, 31^len, isNull) precompute shared by both
    * composers. A null token contributes NOTHING — neither its hash
    * nor a separator — exactly concat_ws's skip-null semantics, so
    * the bit-identity contract with the declarative composition holds
    * on EVERY array<string> input, nullable or not (split() itself
    * never yields nulls). */
  private def tokenHashes(arr: ArrayData, m: Int): (Array[Long], Array[Long], Array[Boolean]) = {
    val h = new Array[Long](m)
    val p = new Array[Long](m)
    val nul = new Array[Boolean](m)
    var j = 0
    while (j < m) {
      if (arr.isNullAt(j)) { nul(j) = true; h(j) = 0L; p(j) = 1L }
      else {
        val str = arr.getUTF8String(j).toString
        var acc = 0L
        var pw = 1L
        var i = 0
        while (i < str.length) {
          val cp = str.codePointAt(i)
          acc = (acc * 31L + cp) % Mod
          pw = (pw * 31L) % Mod
          i += Character.charCount(cp)
        }
        h(j) = acc
        p(j) = pw
      }
      j += 1
    }
    (h, p, nul)
  }

  private def gramAt(h: Array[Long], p: Array[Long], nul: Array[Boolean],
      i0: Int, n: Int): Long = {
    var acc = 0L
    var started = false
    var k = i0
    while (k < i0 + n) {
      if (!nul(k)) {
        if (started) acc = (acc * 31L + 32L) % Mod // the single-space separator
        acc = (acc * p(k) + h(k)) % Mod
        started = true
      }
      k += 1
    }
    acc
  }

  /** JVM-static DISTINCT gram-fingerprint fold (callable from
    * codegen). Named `evalDistinct`, not `eval`, which would collide
    * with the case class's inherited `Expression.eval`. */
  def evalDistinct(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val (h, p, nul) = tokenHashes(arr, m)
    val seen = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var i0 = 0
    val last = m - n
    while (i0 <= last) {
      val acc = gramAt(h, p, nul, i0, n)
      if (seen.add(acc)) out += acc
      i0 += 1
    }
    new GenericArrayData(out.result())
  }

  /** JVM-static ORDERED gram-fingerprint fold (callable from codegen). */
  def evalAll(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val (h, p, nul) = tokenHashes(arr, m)
    val out = new Array[Long](m - n + 1)
    var i0 = 0
    while (i0 <= m - n) {
      out(i0) = gramAt(h, p, nul, i0, n)
      i0 += 1
    }
    new GenericArrayData(out)
  }
}

object CodepointRollingHash {
  final val Mod = 1000000007L

  /** JVM-static fold over real codepoints (callable from codegen). */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }
}
