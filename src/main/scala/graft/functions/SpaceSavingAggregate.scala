package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-memory heavy-hitter state for [[SpaceSavingAgg]]: at most
  * `capacity` (key → count, overestimation-error) counters plus the
  * eviction floor — the largest count any evicted key ever held, which
  * upper-bounds the true count of every key ABSENT from the summary.
  *
  * Invariants (the SpaceSaving guarantees, property-tested in
  * SpaceSavingSpec):
  *   - `cnt(k) ≥ true(k)` for every tracked key (never undercounts),
  *   - `cnt(k) − err(k) ≤ true(k)` (the error column bounds the
  *     overcount),
  *   - any key with `true(k) > floor` is tracked.
  * While the stream's distinct-key count stays ≤ capacity the floor is
  * 0, nothing is ever evicted, and the summary is EXACT with err = 0 —
  * the regime the hashed oracle contract pins (the sketch_cms
  * never-undercounts pattern).
  */
final class SpaceSavingBuffer(val capacity: Int) {
  val counters = new java.util.HashMap[java.lang.Long, Array[Long]]()
  var floor: Long = 0L

  def add(key: Long): Unit = {
    val e = counters.get(key)
    if (e != null) e(0) += 1L
    else if (counters.size < capacity) counters.put(key, Array(1L, 0L))
    else {
      // classic SpaceSaving replacement: the min-count counter hands its
      // count to the newcomer as an overestimate (err = that count)
      val (mk, mc) = minEntry()
      counters.remove(mk)
      if (mc > floor) floor = mc
      counters.put(key, Array(mc + 1L, mc))
    }
  }

  /** Deterministic min: smallest count, tie → smallest key (HashMap
    * iteration order must never leak into results). */
  private def minEntry(): (Long, Long) = {
    var mk = Long.MaxValue; var mc = Long.MaxValue
    val it = counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); val c = e.getValue()(0); val k = e.getKey.longValue()
      if (c < mc || (c == mc && k < mk)) { mk = k; mc = c }
    }
    (mk, mc)
  }

  def addEntry(key: Long, cnt: Long, err: Long): Unit = {
    val e = counters.get(key)
    if (e != null) { e(0) += cnt; e(1) += err }
    else counters.put(key, Array(cnt, err))
  }

  /** Evict smallest counters until ≤ capacity, raising the floor. */
  def shrink(): Unit =
    while (counters.size > capacity) {
      val (mk, mc) = minEntry()
      counters.remove(mk)
      if (mc > floor) floor = mc
    }

  /** Entries sorted (cnt desc, err asc, key asc) — the deterministic
    * presentation order shared with the oracle's ORDER BY. */
  def sorted(): Array[(Long, Long, Long)] = {
    val out = new Array[(Long, Long, Long)](counters.size)
    var i = 0
    val it = counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(i) = (e.getKey.longValue(), e.getValue()(0), e.getValue()(1))
      i += 1
    }
    java.util.Arrays.sort(out, Ordering.by[(Long, Long, Long), (Long, Long, Long)] {
      case (k, c, er) => (-c, er, k)
    })
    out
  }
}

object SpaceSavingBuffer {
  /** Wire format of the aggregate's partial exchange: capacity, floor,
    * n, then sorted (key, cnt, err) triples — sorted so identical
    * summaries are byte-identical regardless of HashMap history. */
  def toBytes(b: SpaceSavingBuffer): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 8 + 4 + b.counters.size * 24)
    buf.putInt(b.capacity); buf.putLong(b.floor); buf.putInt(b.counters.size)
    b.sorted().foreach { case (k, c, e) =>
      buf.putLong(k); buf.putLong(c); buf.putLong(e)
    }
    buf.array()
  }

  def fromBytes(bytes: Array[Byte]): SpaceSavingBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new SpaceSavingBuffer(buf.getInt())
    b.floor = buf.getLong()
    val n = buf.getInt()
    var i = 0
    while (i < n) {
      b.addEntry(buf.getLong(), buf.getLong(), buf.getLong())
      i += 1
    }
    b
  }
}

/** SpaceSaving heavy hitters (Metwally, Agrawal & El Abbadi, ICDT 2005)
  * as a native Catalyst [[TypedImperativeAggregate]] — the suite's
  * custom-AGGREGATE capability next to its custom scalar codegen
  * Expressions: fixed memory per partial (≤ `capacity` counters), full
  * map-side partial aggregation, and a guarantee-preserving MERGE
  * (mergeable summaries, Agarwal et al., PODS 2012): counts and errors
  * add for shared keys; a key absent from the other partial gains that
  * partial's eviction floor on BOTH count and error (its true mass
  * there is ≤ the floor), floors add, then the union shrinks back to
  * capacity. In the exact regime (distinct ≤ capacity everywhere) all
  * floors are 0 and the merge is plain addition — bit-deterministic
  * under ANY partitioning.
  *
  * At 100 TB this is the top-k path when the key domain (user ids,
  * URLs) makes exact groupBy the widest shuffle in the pipeline: each
  * task carries a constant-size summary instead of one row per key,
  * and the answer arrives in one treeAggregate-shaped pass. The
  * ε = 1/capacity overcount bound is property-tested, not hash-gated
  * (the sketch_cms precedent: probabilistic/adversarial tails stay out
  * of the correctness gate).
  *
  * Output: top `outK` counters as array<struct<key, cnt, err>> in
  * (cnt desc, err asc, key asc) order.
  */
case class SpaceSavingAgg(
    child: Expression,
    capacity: Int,
    outK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingBuffer] with UnaryLike[Expression] {

  require(capacity > 0 && outK > 0 && outK <= capacity)

  override def createAggregationBuffer(): SpaceSavingBuffer =
    new SpaceSavingBuffer(capacity)

  override def update(b: SpaceSavingBuffer, input: InternalRow): SpaceSavingBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Long])
    b
  }

  override def merge(b: SpaceSavingBuffer, o: SpaceSavingBuffer): SpaceSavingBuffer = {
    val f1 = b.floor; val f2 = o.floor
    // keys only in b: their mass in o's stream is ≤ f2
    if (f2 > 0) {
      val it = b.counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (!o.counters.containsKey(e.getKey)) {
          e.getValue()(0) += f2; e.getValue()(1) += f2
        }
      }
    }
    val it2 = o.counters.entrySet().iterator()
    while (it2.hasNext) {
      val e = it2.next()
      if (b.counters.containsKey(e.getKey))
        b.addEntry(e.getKey.longValue(), e.getValue()(0), e.getValue()(1))
      else
        b.addEntry(e.getKey.longValue(), e.getValue()(0) + f1, e.getValue()(1) + f1)
    }
    b.floor = f1 + f2
    b.shrink()
    b
  }

  override def eval(b: SpaceSavingBuffer): Any = {
    val top = b.sorted().take(outK)
    new GenericArrayData(top.map { case (k, c, e) =>
      InternalRow(k, c, e)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(b: SpaceSavingBuffer): Array[Byte] =
    SpaceSavingBuffer.toBytes(b)

  override def deserialize(bytes: Array[Byte]): SpaceSavingBuffer =
    SpaceSavingBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SpaceSavingAgg =
    copy(child = newChild)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("err", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "space_saving"
}

object SpaceSavingAgg {
  /** Heavy hitters of a BIGINT key column: top `k` of ≤ `capacity`
    * bounded-memory counters. */
  def heavyHitters(key: Column, capacity: Int, k: Int): Column =
    GraftColumnBridge.column(
      SpaceSavingAgg(GraftColumnBridge.expression(key), capacity, k)
        .toAggregateExpression())
}
