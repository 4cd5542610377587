package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Space-Saving summary: item → (est_count, max_err). `max_err` is the
  * count the item may be over-credited by (the evicted minimum it
  * inherited); `est - err ≤ true ≤ est` per update stream.
  */
final class HeavyHittersBuffer(val capacity: Int) {
  val counts = new mutable.HashMap[String, (Long, Long)]

  def update(item: String): Unit = counts.get(item) match {
    case Some((c, e)) => counts.update(item, (c + 1L, e))
    case None if counts.size < capacity => counts.update(item, (1L, 0L))
    case None =>
      // evict the minimum-count entry (deterministic: smallest count,
      // then smallest item) and inherit its count as the new item's
      // error bound — the classic Space-Saving step
      var minItem: String = null
      var minC = Long.MaxValue
      counts.foreach { case (i, (c, _)) =>
        if (c < minC || (c == minC && (minItem == null || i < minItem))) { minItem = i; minC = c }
      }
      counts.remove(minItem)
      counts.update(item, (minC + 1L, minC))
  }

  /** Mergeable-summaries combine: sum counts/errors over the union
    * (absent side contributes zero), then truncate back to capacity
    * keeping the largest counts (dropping only entries that cannot be
    * heavy hitters given the retained mass). Associative up to the
    * summary guarantee; exact (err 0, no truncation) whenever per-group
    * cardinality stays within capacity.
    */
  def merge(other: HeavyHittersBuffer): Unit = {
    other.counts.foreach { case (i, (c2, e2)) =>
      counts.get(i) match {
        case Some((c1, e1)) => counts.update(i, (c1 + c2, e1 + e2))
        case None => counts.update(i, (c2, e2))
      }
    }
    if (counts.size > capacity) {
      val kept = counts.toArray.sortBy { case (i, (c, _)) => (-c, i) }.take(capacity)
      counts.clear()
      kept.foreach { case (i, ce) => counts.update(i, ce) }
    }
  }

  /** Top-k rows, deterministically ordered by (count desc, item asc). */
  def topK(k: Int): Array[(String, Long, Long)] =
    counts.toArray.sortBy { case (i, (c, _)) => (-c, i) }.take(k)
      .map { case (i, (c, e)) => (i, c, e) }
}

/** Approximate group-wise heavy hitters (Space-Saving / Misra-Gries
  * family) as a native `TypedImperativeAggregate` — the way to get
  * per-group top-k item counts at 100 TB WITHOUT a full
  * (group, item)-keyed aggregation: the summary is `capacity`-bounded
  * per group per partition, partial-aggregates map-side like any
  * aggregate, and only summaries cross the shuffle.
  *
  * Guarantees (standard Space-Saving, preserved by the merge): every
  * item with true count > n/capacity is present in the summary, and
  * `est - max_err ≤ true ≤ est`. With per-group cardinality ≤ capacity
  * the summary is EXACT (`max_err` 0) — which is the regime the oracle
  * checks; the approximate regime is spec-tested.
  *
  * Eviction scans the summary for its minimum (O(capacity), only on
  * overflow of a full summary); size capacity for the expected per-group
  * tail, not the stream.
  */
case class HeavyHittersAgg(
    child: Expression,
    capacity: Int,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[HeavyHittersBuffer] with UnaryLike[Expression] {

  require(capacity > 0 && k > 0 && k <= capacity, "need 0 < k <= capacity")

  override def createAggregationBuffer(): HeavyHittersBuffer =
    new HeavyHittersBuffer(capacity)

  override def update(buf: HeavyHittersBuffer, input: InternalRow): HeavyHittersBuffer = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: HeavyHittersBuffer, other: HeavyHittersBuffer): HeavyHittersBuffer = {
    buf.merge(other)
    buf
  }

  override def eval(buf: HeavyHittersBuffer): Any = {
    val rows: Array[Any] = buf.topK(k).map { case (item, c, e) =>
      InternalRow(UTF8String.fromString(item), c, e)
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: HeavyHittersBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (i, (c, e)) =>
      out.writeUTF(i); out.writeLong(c); out.writeLong(e)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): HeavyHittersBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new HeavyHittersBuffer(capacity)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val item = in.readUTF()
      val c = in.readLong()
      val e = in.readLong()
      buf.counts.update(item, (c, e))
      i += 1
    }
    buf
  }

  override def dataType: DataType = HeavyHittersAgg.resultType
  override def nullable: Boolean = false
  override def prettyName: String = "heavy_hitters"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"heavy_hitters requires a STRING item column, got ${child.dataType.catalogString}")

  override def withNewMutableAggBufferOffset(offset: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): HeavyHittersAgg =
    copy(child = newChild)
}

object HeavyHittersAgg {

  val resultType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType),
      StructField("est_count", LongType),
      StructField("max_err", LongType))),
    containsNull = false)

  /** Aggregate column: top-`k` items of a group by approximate count
    * (`capacity`-bounded Space-Saving summary), ordered (count desc,
    * item asc).
    */
  def heavyHitters(item: Column, capacity: Int, k: Int): Column =
    Bridge.column(
      HeavyHittersAgg(Bridge.expression(item), capacity, k).toAggregateExpression())
}
