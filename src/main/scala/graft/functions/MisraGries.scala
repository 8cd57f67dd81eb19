package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch as a native
  * `TypedImperativeAggregate` — the third custom-Catalyst tier in the
  * engine (scalar expressions: `DotProductDouble`; whole-operator
  * plans: `TopKPlan`; aggregation functions: this).
  *
  * The buffer holds at most `capacity` (item, count) counters; an
  * arriving item either increments its counter, claims a free slot, or
  * — when the buffer is full — debits every counter by the smallest
  * involved weight, evicting zeros (the classic decrement step,
  * generalized to weighted merge). Spark runs it with map-side partial
  * aggregation: each partition folds its rows into one buffer, buffers
  * merge pairwise on the reducer, and only `capacity` counters ever
  * cross the wire — O(capacity) memory at ANY input size, one shuffle
  * of P buffers.
  *
  * Guarantee (order-independent): any item with true frequency
  * > N/(capacity+1) survives in the final buffer, and each surviving
  * count is a lower bound within N/(capacity+1) of truth. Which
  * EXTRA items survive depends on merge order — so the sketch alone
  * is not deterministic, and [[HeavyHitters.heavyHitters]] always
  * exact-verifies the candidate set with a second keyed count pass
  * (same pattern as LSH-then-verify): the end-to-end result is exact
  * and engine-independent.
  */
case class MisraGriesAgg(child: Expression, capacity: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

  require(capacity > 0, "capacity must be positive")

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("lb", LongType))))
  override def prettyName: String = "graft_misra_gries"

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  private def add(buf: mutable.HashMap[UTF8String, Long],
                  item: UTF8String, weight: Long): Unit = {
    buf.get(item) match {
      case Some(c) => buf.update(item, c + weight)
      case None if buf.size < capacity => buf.update(item, weight)
      case None =>
        // weighted decrement: debit min(weight, smallest counter) from
        // everyone incl. the newcomer; repeat while it still has mass
        var w = weight
        while (w > 0) {
          val minC = buf.values.min
          val d = math.min(w, minC)
          val dead = mutable.ArrayBuffer.empty[UTF8String]
          buf.mapValuesInPlace((_, c) => c - d)
          buf.foreach { case (k, c) => if (c == 0L) dead += k }
          dead.foreach(buf.remove)
          w -= d
          if (w > 0 && buf.size < capacity) { buf.update(item, w); w = 0 }
        }
    }
  }

  override def update(buf: mutable.HashMap[UTF8String, Long],
                      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String].copy(), 1L)
    buf
  }

  override def merge(b1: mutable.HashMap[UTF8String, Long],
                     b2: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    b2.foreach { case (k, c) => add(b1, k, c) }
    b1
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any =
    new GenericArrayData(buf.toSeq.sortBy(-_._2).map { case (k, c) =>
      InternalRow(k, c)
    }.toArray[Any])

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, c) =>
      val b = k.getBytes
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)
}

object MisraGries {
  val FuncName = "graft_misra_gries"

  /** Sketch column: array<struct<item,lb>> of ≤ capacity candidates.
    * Built as the aggregate expression itself (the wrapping the
    * analyzer adds for a SQL call), so it works in any session.
    */
  def sketch(c: Column, capacity: Int): Column =
    GraftSqlBridge.column(
      MisraGriesAgg(GraftSqlBridge.expression(c), capacity).toAggregateExpression())
}

/** Exact heavy hitters at scale: Misra–Gries candidates (one shuffle
  * of bounded buffers) → broadcast the ≤ capacity candidates → exact
  * count of candidates only (the groupBy touches just matching rows)
  * → threshold against the true total. Output is EXACT — the sketch
  * only bounds which items get counted, and its superset guarantee
  * (capacity ≥ 2/phi ⇒ every item with freq ≥ phi·N survives) makes
  * the final result independent of merge order, hence
  * oracle-checkable against a plain GROUP BY/HAVING.
  */
object HeavyHitters {

  /** @param phi minimum frequency share (e.g. 0.01 = 1% of rows).
    *             Bounded below: capacity = 2/phi counters per buffer,
    *             and the decrement step is O(capacity) per overflowing
    *             row — a phi under 1e-4 (> 20k counters) wants a
    *             different sketch (spacesaving with a heap, CMS), not
    *             a bigger Misra–Gries buffer.
    */
  def heavyHitters(df: DataFrame, itemCol: String, phi: Double): DataFrame = {
    require(phi >= 1e-4 && phi <= 1, "phi must be in [1e-4, 1]")
    val capacity = math.max(1, math.ceil(2.0 / phi)).toInt
    val items = df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    val cand = items
      .agg(MisraGries.sketch(col("item"), capacity).as("sk"))
      .select(explode(col("sk")).as("c"))
      .select(col("c.item").as("item"))
    val total = items.agg(count(lit(1)).as("n_total"))
    items.join(broadcast(cand), Seq("item"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(total))
      .filter(col("cnt") >= col("n_total") * phi)
      .select(col("item"), col("cnt"))
  }
}
