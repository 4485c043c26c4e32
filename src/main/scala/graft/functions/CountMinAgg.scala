package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Count-Min Sketch frequency aggregation as a
  * `TypedImperativeAggregate` (the mutable-buffer custom-aggregate API
  * — complements the typed `Aggregator` in TopKAggregator and the
  * scalar expressions): sub-linear memory frequency estimates with
  * mergeable partials, the sketch used for heavy-hitter detection over
  * corpora too large to groupBy exactly.
  *
  * Buffer = Spark's own `util.sketch.CountMinSketch` (public sketch
  * library, deterministic for a fixed seed); output = the serialized
  * sketch (query it with `CountMinAgg.estimate`). eps=0.1%, δ=1% —
  * ~5 KB of state regardless of input size.
  */
case class CountMinAgg(child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMinSketch] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_countmin"

  override def createAggregationBuffer(): CountMinSketch =
    CountMinSketch.create(0.001, 0.01, 42)

  override def update(buf: CountMinSketch, input: InternalRow): CountMinSketch = {
    val v = child.eval(input)
    if (v != null) buf.addString(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: CountMinSketch, other: CountMinSketch): CountMinSketch =
    buf.mergeInPlace(other)

  override def eval(buf: CountMinSketch): Any = serialize(buf)

  override def serialize(buf: CountMinSketch): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    buf.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
}

object CountMinAgg {
  /** Column API: aggregate a string column into a serialized sketch.
    * Pure — built directly over the aggregate expression; SQL users
    * reach the same aggregate as `graft_countmin` via
    * GraftExtensions. */
  def sketch(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      CountMinAgg(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c))
        .toAggregateExpression())

  /** Deserialize a sketch produced by [[sketch]] (broadcast it and
    * probe with [[CountMinEstimate]] for distributed lookups). */
  def readSketch(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** Driver-side estimate from a serialized sketch. */
  def estimate(bytes: Array[Byte], item: String): Long =
    readSketch(bytes).estimateCount(item)
}
