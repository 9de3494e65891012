package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `hll_sketch(value, m)` → array<long>: the HLL register vector as a real
  * Catalyst AGGREGATE function (the `TypedImperativeAggregate` pattern of
  * Spark's own approx_count_distinct / bloom_filter_agg), completing the
  * custom-surface set next to the Expression (`multi_match`) and
  * Generator (`extract_items`).
  *
  * Arithmetic (pinned against a direct per-value definition in
  * HllSketchAggSpec, and by the `q_hll*` DuckDB oracles): 60-bit md5 hash,
  * bucket = h mod m, rho = W − bitlen(h >> log2 m) + 1 (W+1 for a zero
  * remainder), register = max rho. Register-max is commutative/associative
  * and the hash is data-derived, so the aggregate is bit-deterministic
  * under ANY partitioning — safe for the repo's reproducibility contract.
  *
  * Shape: `groupBy(host).agg(hll_sketch(url, 64))` keeps ONE m-long buffer
  * per group per task and merges buffers on the reduce side — the exchange
  * carries one array row per group, and the sketch composes with any other
  * aggregate in the same pass. [[graft.ops.CorpusSignals.hllSummary]] and
  * [[graft.ops.CorpusSignals.hllEstimate]] read the array.
  */
case class HllSketchAgg(
    child: Expression,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(m >= 2 && (m & (m - 1)) == 0, "hll_sketch: m must be a power of two")

  private val logm = java.lang.Integer.numberOfTrailingZeros(m)
  private val W = 60 - logm

  override def children: Seq[Expression] = Seq(child)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_sketch expects string, got ${child.dataType}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](m)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = HllSketchAgg.hash60(v.asInstanceOf[UTF8String])
      val bucket = (h % m).toInt // h ≥ 0: 60-bit value
      val w = h >>> logm
      val rho =
        if (w == 0L) (W + 1).toLong
        else W.toLong - (64 - java.lang.Long.numberOfLeadingZeros(w)) + 1L
      if (rho > buffer(bucket)) buffer(bucket) = rho
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(m * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(storageFormat: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(storageFormat)
    Array.fill(m)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllSketchAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "hll_sketch"
}

object HllSketchAgg {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The shared 60-bit hash: the first 15 hex chars of md5 as a long —
    * byte-for-byte the JVM twin of the Column-side
    * [[graft.ops.TextDedup.portableHash]] (`('0x' || substr(md5(x), 1,
    * 15))::BIGINT`): first 60 bits of the digest, big-endian.
    */
  def hash60(v: UTF8String): Long = {
    val d = digest.get()
    d.reset()
    val out = d.digest(v.getBytes)
    (((out(0) & 0xffL) << 56) | ((out(1) & 0xffL) << 48) |
      ((out(2) & 0xffL) << 40) | ((out(3) & 0xffL) << 32) |
      ((out(4) & 0xffL) << 24) | ((out(5) & 0xffL) << 16) |
      ((out(6) & 0xffL) << 8) | (out(7) & 0xffL)) >>> 4
  }

  /** Register `hll_sketch(value, m)` as a session aggregate function. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hll_sketch",
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "hll_sketch(value, m)")
        val m = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"hll_sketch: m must be an integer literal, got $other")
        }
        HllSketchAgg(exprs.head, m).toAggregateExpression()
      },
      "built-in")
}
