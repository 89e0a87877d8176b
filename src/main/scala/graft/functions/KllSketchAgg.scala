package org.apache.spark.sql.graft

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.KolmogorovSmirnov
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType, DoubleType}

/** Native Catalyst KLL quantile-sketch aggregate over a double column.
  *
  * Why custom (SURVEY.md §4): `percentile_approx` cannot persist a mergeable
  * sketch across runs, and the drift rule (north rule) needs the *baseline
  * snapshot's* sketch stored and later KS-compared against the current
  * snapshot's sketch. KLL buffers are associative/commutative, so partial
  * aggregation, AQE re-partitioning, and cross-run merges are all sound.
  *
  * Mirrors the implementation shape of Spark's own
  * `org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg`:
  * a mutable DataSketches buffer, serialized only at shuffle/exchange
  * boundaries, emitted as `BinaryType` (the portable sketch image).
  */
case class KllSketchAgg(
    child: Expression,
    k: Int = 200,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch]
  with ImplicitCastInputTypes
  with UnaryLike[Expression] {

  override def prettyName: String = "kll_sketch_agg"
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buffer: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KllDoublesSketch): Any = buffer.toByteArray

  override def serialize(buffer: KllDoublesSketch): Array[Byte] = buffer.toByteArray

  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
}

object KllSketchAgg {

  /** Column API: `df.agg(kll_sketch_agg($"dur_ms"))` → binary sketch image. */
  def kll_sketch_agg(c: Column, k: Int = 200): Column =
    ExpressionUtils.column(
      KllSketchAgg(ExpressionUtils.expression(c), k).toAggregateExpression())

  /** Deserialize a persisted sketch image. */
  def fromBytes(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  /** Kolmogorov–Smirnov distance between two sketch images (0 when either
    * side is empty — an empty partition cannot evidence drift). */
  def ksDelta(a: Array[Byte], b: Array[Byte]): Double = {
    val sa = fromBytes(a); val sb = fromBytes(b)
    if (sa.isEmpty || sb.isEmpty) 0.0
    else KolmogorovSmirnov.computeKSDelta(sa, sb)
  }

  def quantile(bytes: Array[Byte], q: Double): Double = {
    val s = fromBytes(bytes)
    if (s.isEmpty) Double.NaN
    else s.getQuantile(q, org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE)
  }
}
