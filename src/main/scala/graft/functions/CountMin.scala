package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a mergeable
  * TypedImperativeAggregate + a point-query scalar expression —
  * the POINT-FREQUENCY member of the sketch family (q19 HLL answers
  * "how many distinct", q56 GK "what quantile", q57 Misra–Gries
  * "which items are frequent"; CMS answers "how often does THIS item
  * occur" for any item, in O(depth·width) space).
  *
  * Structure: a depth×width table of counters; each update increments
  * one bucket per row (depth independent hash functions); a point
  * query takes the MIN over the item's depth buckets. Two properties
  * drive the q88 validation:
  *   1. overestimate-only (a THEOREM — holds for any data and any
  *      hashes): every bucket an item maps to counts at least all of
  *      that item's occurrences, so min ≥ true count;
  *   2. the error is bounded by colliding mass: est ≤ true + εn with
  *      ε ≈ e/width at depth ln(1/δ) — probabilistic over the hash
  *      draw, so the validated query pins a DETERMINISTIC empirical
  *      bound (fixed seeds + fixed data ⇒ fixed estimates) the way
  *      q19 pins HLL's ±5%.
  *
  * Why this shape for 100 TB: merge is pointwise addition (the
  * combine IS the merge — map-side partials ship one fixed-size
  * table per group, never per-item state), the sketch size is
  * independent of cardinality, and stored per-day/per-source tables
  * re-aggregate by addition without rescanning raw data — the
  * standard "how often did THIS url/ngram/user appear" primitive at
  * corpus scale.
  *
  * Hashing: row r uses murmur32(bytes, seed = Seed + r) — one shared
  * static helper ([[CountMin.bucket]]) used by BOTH the aggregate's
  * update and [[CountMinQuery]]'s probe, so the two sides can never
  * drift. Output struct: (n long, table array<long> row-major). */
case class CountMinSketchAgg(
    child: Expression,
    width: Int = CountMin.DefaultWidth,
    depth: Int = CountMin.DefaultDepth,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with CodegenFallback {
  require(width >= 2, "width must be at least 2")
  require(depth >= 1, "depth must be at least 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = CountMin.schema

  /** Flat buffer: depth*width counters, then one slot for n. */
  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v match {
        case u: UTF8String => u
        case other => UTF8String.fromString(other.toString)
      }
      var r = 0
      while (r < depth) {
        buf(r * width + CountMin.bucket(s, r, width)) += 1L
        r += 1
      }
      buf(depth * width) += 1L
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val table = new Array[Any](depth * width)
    var i = 0
    while (i < depth * width) { table(i) = java.lang.Long.valueOf(buf(i)); i += 1 }
    InternalRow(java.lang.Long.valueOf(buf(depth * width)), new GenericArrayData(table))
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** Point query over a CMS table column: min over the item's Depth
  * buckets. NULL item or NULL table → NULL (a sketch never saw a NULL
  * key — update skips them — so there is nothing to estimate). */
case class CountMinQuery(left: Expression, right: Expression, width: Int,
    depth: Int = CountMin.DefaultDepth)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(table: Any, item: Any): Any = {
    val arr = table.asInstanceOf[ArrayData]
    // a probe against a table built at different dimensions would read
    // the wrong buckets (or out of bounds) and silently estimate
    // garbage — fail loudly instead
    require(arr.numElements() == depth * width,
      s"cms_query width=$width depth=$depth does not match the sketch table " +
        s"(${arr.numElements()} cells != $depth * $width)")
    val s = item match {
      case u: UTF8String => u
      case other => UTF8String.fromString(other.toString)
    }
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = arr.getLong(r * width + CountMin.bucket(s, r, width))
      if (c < best) best = c
      r += 1
    }
    best
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CountMin {
  /** ε ≈ e/1024 ≈ 0.27% of stream length per estimate (error per
    * estimate ~ e·n/width). */
  val DefaultWidth = 1024
  /** δ ≈ e^-4 ≈ 1.8% failure probability per estimate. Rows are
    * seeded by index, so a depth-d table's rows are a prefix of a
    * depth-d′>d table's, and estimates are monotone nonincreasing in
    * depth (SketchSpec pins this as a theorem). */
  val DefaultDepth = 4
  private val Seed = 0x5eed

  val schema: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("table", ArrayType(LongType, containsNull = false), nullable = false)))

  /** Row-r bucket for an item — THE hash both sides share. */
  def bucket(item: UTF8String, row: Int, width: Int): Int = {
    val h = MinHashUtil.tokenHash(item, Seed + row) // murmur32 & 0xffffffff
    (h % width).toInt
  }

  /** Column API: cms_sketch(col, width, depth) → struct(n, table). */
  def cms_sketch(c: Column, width: Int = DefaultWidth, depth: Int = DefaultDepth): Column =
    GraftColumnBridge.column(
      CountMinSketchAgg(GraftColumnBridge.expression(c), width, depth).toAggregateExpression())

  /** Column API: cms_query(tableCol, itemCol, width, depth) → est count. */
  def cms_query(table: Column, item: Column, width: Int = DefaultWidth,
                depth: Int = DefaultDepth): Column =
    GraftColumnBridge.column(CountMinQuery(
      GraftColumnBridge.expression(table), GraftColumnBridge.expression(item), width, depth))
}
