package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import scala.util.hashing.MurmurHash3

/** HyperLogLog distinct-count sketch as a TypedImperativeAggregate
  * (SURVEY §7.4 extension tier; Flajolet et al. 2007, with the
  * small-range linear-counting correction of HLL++).
  *
  * Why not approx_count_distinct: that returns only the estimate.
  * This exposes the SKETCH ITSELF (dense register array) as the
  * aggregation buffer, which is what a 100 TB pipeline needs —
  * sketches are mergeable across partitions/days/tables, so daily
  * per-key sketches can be stored and re-aggregated without
  * re-scanning raw data (the map-side combine IS a sketch merge).
  * [[HllSketchBytes]] / [[HllUnionDistinct]] realize the
  * store/merge halves of that lifecycle as SQL-callable aggregates;
  * the register representation is shared, so union-of-stored equals
  * one-pass-direct BIT-exactly (register max is associative,
  * commutative, idempotent — the q96 theorem).
  *
  * p=11 → 2048 registers ≈ 2 KB buffer, standard error ≈ 2.3%.
  */
case class HllDistinct(
    child: Expression,
    precision: Int = 11,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with CodegenFallback {

  private val m = 1 << precision

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllSketch.addValue(buf, v, precision)
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllSketch.mergeInto(a, b)

  override def eval(buf: Array[Byte]): Any =
    java.lang.Long.valueOf(HllSketch.estimate(buf, precision))

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllDistinct = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllDistinct = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** The STORE half of the sketch lifecycle: identical update/merge to
  * [[HllDistinct]], but eval returns the raw register array (binary)
  * for persisting — one row per group in a sketch table. */
case class HllSketchBytes(
    child: Expression,
    precision: Int = 11,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](1 << precision)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllSketch.addValue(buf, v, precision)
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllSketch.mergeInto(a, b)

  // clone: the buffer is mutable aggregate state and must not escape
  override def eval(buf: Array[Byte]): Any = buf.clone()

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllSketchBytes = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchBytes = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** The MERGE half: aggregates a BINARY column of stored register
  * arrays (what [[HllSketchBytes]] emitted) back into one sketch and
  * returns the distinct estimate — answering a distinct-count query
  * from stored sketches without touching raw data. Mis-sized inputs
  * fail loudly (a silent truncating merge would corrupt estimates). */
case class HllUnionDistinct(
    child: Expression,
    precision: Int = 11,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with CodegenFallback {

  private val m = 1 << precision

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val sk = v.asInstanceOf[Array[Byte]]
      require(sk.length == m,
        s"hll_union_distinct(precision=$precision) expects $m-byte sketches, got ${sk.length}")
      HllSketch.mergeInto(buf, sk)
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllSketch.mergeInto(a, b)

  override def eval(buf: Array[Byte]): Any =
    java.lang.Long.valueOf(HllSketch.estimate(buf, precision))

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllUnionDistinct = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllUnionDistinct = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object HllSketch {

  /** Hash native representations — no per-row toString boxing in the
    * hot aggregate path. fmix64 is a bijective
    * avalanche, standard for integer-keyed HLL; byte strings get the
    * two-seed murmur combination. */
  private def hashOf(v: Any): Long = v match {
    case l: java.lang.Long => MinHashUtil.fmix64(l ^ 0x5ca1ab1eca11ab1eL)
    case i: java.lang.Integer => MinHashUtil.fmix64(i.toLong ^ 0x5ca1ab1eca11ab1eL)
    case s: org.apache.spark.unsafe.types.UTF8String =>
      val b = s.getBytes
      val h1 = MurmurHash3.bytesHash(b, 0x5ca1ab1e).toLong & 0xffffffffL
      val h2 = MurmurHash3.bytesHash(b, 0xca11ab1e).toLong & 0xffffffffL
      (h1 << 32) | h2
    case d: java.lang.Double =>
      MinHashUtil.fmix64(java.lang.Double.doubleToLongBits(d) ^ 0x5ca1ab1eca11ab1eL)
    case other =>
      val h1 = MurmurHash3.stringHash(other.toString, 0x5ca1ab1e).toLong & 0xffffffffL
      val h2 = MurmurHash3.stringHash(other.toString, 0xca11ab1e).toLong & 0xffffffffL
      (h1 << 32) | h2
  }

  /** Fold one value into the register array. */
  private[functions] def addValue(buf: Array[Byte], v: Any, precision: Int): Unit = {
    val h = hashOf(v)
    val idx = (h >>> (64 - precision)).toInt
    val rest = h << precision
    // rho = position of leftmost 1-bit in the remaining w bits,
    // range 1..w+1 (all-zero suffix records w+1 per Flajolet)
    val rank = (if (rest == 0) 64 - precision + 1
      else java.lang.Long.numberOfLeadingZeros(rest) + 1)
      .min(64 - precision + 1).toByte
    if (rank > buf(idx)) buf(idx) = rank
  }

  /** Elementwise register max — the HLL union (associative,
    * commutative, idempotent). */
  private[functions] def mergeInto(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  /** HLL estimate with the small-range linear-counting correction. */
  private[functions] def estimate(buf: Array[Byte], precision: Int): Long = {
    val m = 1 << precision
    val alpha = precision match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      invSum += 1.0 / (1L << buf(i))
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    var est = alpha * m * m / invSum
    if (est <= 2.5 * m && zeros > 0) est = m * math.log(m.toDouble / zeros) // linear counting
    math.round(est)
  }

  /** Column API: hll_distinct(col) → approximate distinct count. */
  def hll_distinct(c: Column, precision: Int = 11): Column =
    GraftColumnBridge.column(
      HllDistinct(GraftColumnBridge.expression(c), precision).toAggregateExpression())

  /** Column API: hll_sketch(col) → the 2^precision-byte register
    * array, for storing (the q96 build side). */
  def hll_sketch(c: Column, precision: Int = 11): Column =
    GraftColumnBridge.column(
      HllSketchBytes(GraftColumnBridge.expression(c), precision).toAggregateExpression())

  /** Column API: hll_union_distinct(sketchCol) → distinct estimate
    * from stored sketches (the q96 query side). */
  def hll_union_distinct(c: Column, precision: Int = 11): Column =
    GraftColumnBridge.column(
      HllUnionDistinct(GraftColumnBridge.expression(c), precision).toAggregateExpression())
}
