package graft.expr.kernels

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k aggregate over long values: returns the k largest as
  * a descending array<long>. The custom-AGGREGATE rung of the
  * extension ladder (scalar rung: LongDot/MinHashSig).
  *
  * Why not built-ins? `collect_list` + sort + slice carries EVERY value
  * through the shuffle (unbounded buffers); window row_number + filter
  * shuffles every row and sorts whole partitions. This aggregate's
  * state is a k-bounded min-heap, merged map-side like any partial
  * aggregate: the shuffle moves at most k longs per (group, map task)
  * regardless of data size — the right shape for "top-k per key" over
  * 100 TB with many groups. Deterministic: the result is the k largest
  * VALUES (a multiset property), independent of partitioning and merge
  * order. */
case class TopKLongs(child: Expression, k: Int,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Long]]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  require(k > 0, "k must be positive")

  // ints/shorts upcast at analysis time; a string column is rejected
  // there instead of a mid-job ClassCastException in update().
  // (AbstractDataType is private[sql], so the return type is inferred.)
  override def inputTypes = Seq(LongType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_top_k"

  override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Long] =
    new java.util.PriorityQueue[java.lang.Long](k + 1)

  private def offer(buf: java.util.PriorityQueue[java.lang.Long], v: Long): Unit = {
    if (buf.size < k) buf.offer(v)
    else if (buf.peek() < v) { buf.poll(); buf.offer(v) }
  }

  override def update(buf: java.util.PriorityQueue[java.lang.Long],
                      input: InternalRow): java.util.PriorityQueue[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: java.util.PriorityQueue[java.lang.Long],
                     b2: java.util.PriorityQueue[java.lang.Long]): java.util.PriorityQueue[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) offer(b1, it.next())
    b1
  }

  override def eval(buf: java.util.PriorityQueue[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    var i = buf.size - 1
    val q = new java.util.PriorityQueue[java.lang.Long](buf)
    while (i >= 0) { arr(i) = q.poll(); i -= 1 } // heap pops ascending → fill backwards
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.PriorityQueue[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.offer(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKLongs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKLongs =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): TopKLongs =
    copy(child = newChild)
}

/** Bounded top-k ROWS per group: the k best (score, id, payload)
  * triples in exactly the total order of
  * `row_number().over(partitionBy(g).orderBy(score.desc, id))` —
  * score DESC NULLS LAST, then id ASC NULLS FIRST — returned as
  * array<struct<rank, score, id, payload>> in rank order, rank =
  * position + 1. Same state discipline as [[TopKLongs]]: a k-bounded
  * heap with the worst kept row on top, merged map-side, so the
  * shuffle moves at most k rows per (group, map task) and nothing
  * sorts the candidate rows. The heap holds primitive longs with null
  * flags (no object per row), and a row that cannot enter it is
  * rejected before its payload is read. Rows that tie on (score, id)
  * are interchangeable to the window too; among them the first
  * offered is kept. */
case class TopKRows(score: Expression, id: Expression, payload: Expression,
                    k: Int, mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKRows.Heap] with ImplicitCastInputTypes {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, id, payload)
  override def inputTypes = Seq(LongType, LongType, LongType)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("score", LongType), StructField("id", LongType),
    StructField("payload", LongType))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_top_k_rows"

  override def createAggregationBuffer(): TopKRows.Heap = new TopKRows.Heap(k)

  override def update(buf: TopKRows.Heap, input: InternalRow): TopKRows.Heap = {
    val s = score.eval(input); val i = id.eval(input)
    val flags = (if (s == null) TopKRows.ScoreNull else 0) | (if (i == null) TopKRows.IdNull else 0)
    val sv = if (s == null) 0L else s.asInstanceOf[Long]
    val iv = if (i == null) 0L else i.asInstanceOf[Long]
    if (buf.admits(sv, iv, flags)) {
      val p = payload.eval(input)
      if (p == null) buf.add(sv, iv, 0L, flags | TopKRows.PayloadNull)
      else buf.add(sv, iv, p.asInstanceOf[Long], flags)
    }
    buf
  }

  override def merge(b1: TopKRows.Heap, b2: TopKRows.Heap): TopKRows.Heap = {
    b1.mergeFrom(b2); b1
  }

  override def eval(buf: TopKRows.Heap): Any = new GenericArrayData(buf.ranked())

  override def serialize(buf: TopKRows.Heap): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): TopKRows.Heap = TopKRows.Heap.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(offset: Int): TopKRows =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKRows =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKRows =
    copy(score = c(0), id = c(1), payload = c(2))
}

object TopKRows {
  val ScoreNull = 1
  val IdNull = 2
  val PayloadNull = 4

  /** True when row a ranks strictly before row b: higher score first,
    * NULL scores last, then lower id first with NULL ids first. */
  def ahead(sa: Long, ia: Long, fa: Int, sb: Long, ib: Long, fb: Int): Boolean = {
    val naS = (fa & ScoreNull) != 0; val nbS = (fb & ScoreNull) != 0
    if (naS != nbS) nbS
    else if (!naS && sa != sb) sa > sb
    else {
      val naI = (fa & IdNull) != 0; val nbI = (fb & IdNull) != 0
      if (naI != nbI) naI else !naI && ia < ib
    }
  }

  /** A k-bounded binary heap of (score, id, payload) rows in parallel
    * primitive arrays, the WORST kept row at index 0. */
  final class Heap(k: Int) {
    private val score = new Array[Long](k)
    private val id = new Array[Long](k)
    private val pay = new Array[Long](k)
    private val flags = new Array[Int](k)
    private var size = 0

    private def aheadAt(a: Int, b: Int): Boolean =
      ahead(score(a), id(a), flags(a), score(b), id(b), flags(b))

    private def swap(a: Int, b: Int): Unit = {
      val s = score(a); score(a) = score(b); score(b) = s
      val i = id(a); id(a) = id(b); id(b) = i
      val p = pay(a); pay(a) = pay(b); pay(b) = p
      val f = flags(a); flags(a) = flags(b); flags(b) = f
    }

    /** Whether a row with this (score, id) enters the heap. */
    def admits(s: Long, i: Long, f: Int): Boolean =
      size < k || ahead(s, i, f, score(0), id(0), flags(0))

    /** Insert a row [[admits]] accepted, evicting the worst when full. */
    def add(s: Long, i: Long, p: Long, f: Int): Unit = {
      val at = if (size < k) { size += 1; size - 1 } else 0
      score(at) = s; id(at) = i; pay(at) = p; flags(at) = f
      if (at > 0) {
        var j = at
        while (j > 0 && aheadAt((j - 1) / 2, j)) { swap((j - 1) / 2, j); j = (j - 1) / 2 }
      } else {
        var j = 0
        var done = false
        while (!done) {
          var worst = j
          val l = 2 * j + 1; val r = l + 1
          if (l < size && aheadAt(worst, l)) worst = l
          if (r < size && aheadAt(worst, r)) worst = r
          if (worst == j) done = true else { swap(j, worst); j = worst }
        }
      }
    }

    def mergeFrom(o: Heap): Unit = {
      var j = 0
      while (j < o.size) {
        if (admits(o.score(j), o.id(j), o.flags(j)))
          add(o.score(j), o.id(j), o.pay(j), o.flags(j))
        j += 1
      }
    }

    /** The kept rows best first, as (rank, score, id, payload) rows. */
    def ranked(): Array[Any] = {
      val order = (0 until size).sortWith(aheadAt)
      def v(x: Long, f: Int, bit: Int): Any = if ((f & bit) != 0) null else x
      order.zipWithIndex.map { case (j, r) =>
        InternalRow(r + 1L, v(score(j), flags(j), ScoreNull), v(id(j), flags(j), IdNull),
          v(pay(j), flags(j), PayloadNull)): Any
      }.toArray
    }

    /** Rows in heap order, so [[Heap.fromBytes]] restores a valid heap. */
    def toBytes: Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 + size * 25)
      b.putInt(size)
      var j = 0
      while (j < size) {
        b.put(flags(j).toByte).putLong(score(j)).putLong(id(j)).putLong(pay(j)); j += 1
      }
      b.array()
    }
  }

  object Heap {
    def fromBytes(k: Int, bytes: Array[Byte]): Heap = {
      val b = java.nio.ByteBuffer.wrap(bytes)
      val h = new Heap(k)
      h.size = b.getInt()
      var j = 0
      while (j < h.size) {
        h.flags(j) = b.get().toInt; h.score(j) = b.getLong(); h.id(j) = b.getLong()
        h.pay(j) = b.getLong(); j += 1
      }
      h
    }
  }
}
