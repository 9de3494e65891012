package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `cms_sketch(value, depth, width)` → array<long> (row-major
  * depth×width): the Count-Min register table as a Catalyst AGGREGATE —
  * the sum-merge sketch class next to [[HllSketchAgg]]'s max-merge:
  * `groupBy(host).agg(cms_sketch(token, 4, 64))` keeps one counter array
  * per group per task and merges by element-wise +, so per-host frequency
  * profiles ship as one array row per group.
  *
  * Arithmetic (pinned against a direct per-value definition in
  * CmsSketchAggSpec, and by the `q_cms*` DuckDB oracles):
  * Kirsch–Mitzenmacher row hashes h_i = (h1 + i·h2) mod width over the two
  * shared 60-bit md5 hashes. Counter-addition commutes and the hashes are
  * data-derived, so the aggregate is bit-deterministic under any
  * partitioning. [[graft.ops.CorpusSignals.cmsEstimate]] probes the array.
  */
case class CmsSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(depth >= 1 && width >= 2, "cms_sketch: need >= 1 row, >= 2 buckets")
  require(depth <= 7, "cms_sketch: h1 + i*h2 must stay under 2^63: depth <= 7")

  override def children: Seq[Expression] = Seq(child)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_sketch expects string, got ${child.dataType}")

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      val h1 = HllSketchAgg.hash60(s)
      val h2 = HllSketchAgg.hash60(
        UTF8String.concat(CmsSketchAgg.Tilde, s))
      var i = 0
      while (i < depth) {
        buffer(i * width + ((h1 + i * h2) % width).toInt) += 1L
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(storageFormat: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(storageFormat)
    Array.fill(depth * width)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketchAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "cms_sketch"
}

object CmsSketchAgg {
  private[functions] val Tilde = UTF8String.fromString("~ ")

  /** Register `cms_sketch(value, depth, width)` as a session aggregate. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cms_sketch",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "cms_sketch(value, depth, width)")
        val args = exprs.tail.map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"cms_sketch: depth/width must be integer literals, got $other")
        }
        CmsSketchAgg(exprs.head, args(0), args(1)).toAggregateExpression()
      },
      "built-in")
}
