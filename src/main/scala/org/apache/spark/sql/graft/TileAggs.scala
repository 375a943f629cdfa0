package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Raw Catalyst tile aggregates for the bitset BFS (`graft.algo.BitsetBfs`):
  * `private[sql]` access (Column ↔ Expression wrapping), so they live in an
  * `org.apache.spark.sql` subpackage — plain shims over the public Apache
  * Spark source, nothing else.
  *
  * Why raw [[TypedImperativeAggregate]] and not a typed
  * `expressions.Aggregator` + `udaf(...)`: a ScalaAggregator round-trips
  * EVERY input row through its input ExpressionEncoder — an interpreted
  * deserialize (external tuple/Seq allocation, per-element copy or boxing)
  * measured at ~1 μs/row. The message aggregate consumes Σ deg(frontier)
  * raw rows per superstep (tens of millions at the bench's 2M-vertex leg,
  * unbounded at scale), so the decode dominated the superstep after the
  * tile rewrite collapsed the shuffle itself. These implementations read
  * the Catalyst `InternalRow`/`ArrayData` directly — no encoder, no
  * per-element boxing; the buffer stays a primitive `long[]` between rows
  * (ObjectHashAggregateExec object buffer), exactly like Spark's own
  * ApproximatePercentile/HyperLogLogPlusPlus.
  */
object TileAggs {
  /** `agg(tileBitCount(tile, mc))` → `array<long>` of 64·mc per-pivot-bit
    * counts, cell j·64 + b = Σ over rows of bit b of tile element pos·mc + j.
    */
  def tileBitCount(tile: Column, maskCols: Int): Column =
    ExpressionUtils.column(
      TileBitCountAgg(ExpressionUtils.expression(tile), maskCols).toAggregateExpression())

  /** `groupBy(chunk).agg(tileOrCols(pos, m0..m{mc-1}))` → `array<long>`
    * tile of chunkSize·mc elements, element pos·mc + j = bitwise OR of mask
    * column j over rows. The mask columns are DIRECT children read UNBOXED
    * off the input row via their bound ordinals: the per-arc message
    * projection then materializes no `array(...)` (UnsafeArrayData header +
    * element copy per arc row) and the update boxes nothing — a plain
    * `getInt` + maskCols × `getLong`. Measured against an array-child form
    * of the same aggregate (BASELINE.md): the ordinal reads won 0.5–1.6 %,
    * a boxed-eval variant lost 1–2 % (`masks(j).eval` allocates a
    * `java.lang.Long` per mask per arc).
    */
  def tileOrCols(pos: Column, masks: Seq[Column], chunkSize: Int): Column =
    ExpressionUtils.column(
      TileOrColsAgg(ExpressionUtils.expression(pos),
        masks.map(ExpressionUtils.expression), chunkSize)
        .toAggregateExpression())

  /** Serialized partial-tile format, chosen per buffer by population:
    * `[int nnz][(int idx, long val) × nnz]` when sparse pays,
    * `[-1][raw long × len]` otherwise. Mid-BFS a map task's partial tile for
    * a remote chunk holds only the bits of ITS arcs into that chunk —
    * ~(arcs/tasks)/(n/chunkSize) messages against 64·chunkSize·maskCols
    * bits, well under 1% dense — while partial-agg output is ∝ map tasks ×
    * populated chunks. Dense 8·len-byte partials made that term the
    * non-scaling shuffle-byte bulk of the peak supersteps; sparse encoding
    * makes partial bytes ∝ bits actually set. The break-even (12·nnz <
    * 8·len) keeps genuinely dense tiles (late supersteps, the merged reduce
    * side of few-task runs) in the flat raw form.
    */
  def toBytes(buf: Array[Long]): Array[Byte] = {
    var nnz = 0
    var i = 0
    while (i < buf.length) { if (buf(i) != 0L) nnz += 1; i += 1 }
    if (12L * nnz < 8L * buf.length) {
      val bb = ByteBuffer.allocate(4 + 12 * nnz)
      bb.putInt(nnz)
      i = 0
      while (i < buf.length) {
        if (buf(i) != 0L) { bb.putInt(i); bb.putLong(buf(i)) }
        i += 1
      }
      bb.array()
    } else {
      val bb = ByteBuffer.allocate(4 + buf.length * 8)
      bb.putInt(-1)
      bb.asLongBuffer().put(buf)
      bb.array()
    }
  }
  def fromBytes(bytes: Array[Byte], len: Int): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val nnz = bb.getInt()
    val out = new Array[Long](len)
    if (nnz < 0) {
      bb.asLongBuffer().get(out)
    } else {
      var k = 0
      while (k < nnz) { out(bb.getInt()) = bb.getLong(); k += 1 }
    }
    out
  }
}

/** OR each (pos, m0..) message row into a dense chunkSize·maskCols tile —
  * the map-side-combining message aggregate whose output volume is bounded
  * by populated CHUNKS per task, never input rows (see BitsetBfs scaladoc).
  * Mask children are read unboxed via bound ordinals — see
  * [[TileAggs.tileOrCols]]. At update time the planner has
  * bound the children to input ordinals ([[BoundReference]]), and `update`
  * reads primitives straight off the row; a child that is not bound (never
  * the case under ObjectHashAggregateExec) is refused with
  * `IllegalStateException`.
  */
case class TileOrColsAgg(
    pos: Expression,
    masks: Seq[Expression],
    chunkSize: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val maskCols = masks.size
  override def children: Seq[Expression] = pos +: masks
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "tile_or_cols"

  // Resolved on the executor at first update, AFTER binding (the bound copy
  // is produced by withNewChildrenInternal post-deserialization).
  @transient private lazy val boundOrds: Array[Int] = (pos +: masks).map {
    case b: BoundReference => b.ordinal
    case e =>
      throw new IllegalStateException(s"tile_or_cols: child $e is not bound to an input ordinal")
  }.toArray

  override def createAggregationBuffer(): Array[Long] = new Array[Long](chunkSize * maskCols)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val ords = boundOrds
    // null guard: one bitmap-word test per row (~1 cycle vs the DRAM RMW
    // below) — a null pos would otherwise unbox to 0 and silently corrupt
    // chunk slot 0 (round-4 advice). Fields other than (pos, masks) in the
    // agg input row (the chunk key) are never null in any caller.
    if (input.anyNull)
      throw new IllegalStateException("tile_or_cols: null input field")
    val base = input.getInt(ords(0)) * maskCols
    var j = 0
    while (j < maskCols) { buf(base + j) |= input.getLong(ords(j + 1)); j += 1 }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
  override def serialize(buf: Array[Long]): Array[Byte] = TileAggs.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    TileAggs.fromBytes(bytes, chunkSize * maskCols)

  override def withNewMutableAggBufferOffset(n: Int): TileOrColsAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TileOrColsAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TileOrColsAgg =
    copy(pos = newChildren.head, masks = newChildren.tail)
}

/** Count set bits of tile rows into 64·maskCols per-pivot-bit cells by
  * iterating each element's SET bits only (`m &= m−1`): total work is
  * Σ visited (pivot, vertex) pairs over n/64-row tile frames.
  */
case class TileBitCountAgg(
    tile: Expression,
    maskCols: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(tile)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "tile_bit_count"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64 * maskCols)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val arr = tile.eval(input).asInstanceOf[ArrayData]
    val len = arr.numElements()
    var i = 0
    while (i < len) {
      var m = arr.getLong(i)
      if (m != 0L) {
        val cell = (i % maskCols) * 64
        while (m != 0L) {
          buf(cell + java.lang.Long.numberOfTrailingZeros(m)) += 1L
          m &= m - 1
        }
      }
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)
  override def serialize(buf: Array[Long]): Array[Byte] = TileAggs.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    TileAggs.fromBytes(bytes, 64 * maskCols)

  override def withNewMutableAggBufferOffset(n: Int): TileBitCountAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TileBitCountAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TileBitCountAgg =
    copy(tile = newChildren(0))
}
