package graft.plans

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k aggregate over (score, id) long pairs — the
  * aggregation form of the `row_number() OVER (PARTITION BY g ORDER BY
  * score DESC, id ASC) <= k` idiom (r16, guide §2.3/§2.4): the window
  * form sorts every candidate row of every group (map-side for
  * WindowGroupLimit, again reduce-side for the Window) and its
  * rank-limit pushdown still ships k rows per map PARTITION per group;
  * this aggregate keeps a bounded k-entry buffer per group, partial-
  * aggregates map-side (O(n log k) heap updates instead of an O(n log
  * n) sort), merges in O(k), and ships exactly one k-bounded buffer
  * per (map partition, group). At corpus scale the brute/LSH/IVF
  * candidate streams feeding these top-ks are unbounded per query, so
  * the per-group state bound — k pairs, never the candidate count — is
  * the structural point, not just the removed sorts.
  *
  * ORDER CONTRACT: returns the k best pairs by (score DESC, id ASC) as
  * an array of structs in exactly that order, so `posexplode` index + 1
  * IS the row_number the window form assigned. The (score, id) pair is
  * a total order (callers pass a unique id), so the result is
  * deterministic and merge-order-independent — the same argument that
  * makes row_number deterministic under a total ordering.
  *
  * DUPLICATES COLLAPSE: the buffer is a set, so rows of one group that
  * repeat the same (score, id) pair count once, where the window form
  * would rank each copy. An id unique within its group is the caller's
  * contract; a caller that cannot guarantee it deduplicates first.
  *
  * NULL scores sort LAST (among themselves by id ASC) — encoded as
  * Long.MinValue, which no caller's score can reach (callers pass
  * micro-unit scores bounded far inside the long range); null ids never
  * occur at the call sites (join keys) and are rejected loudly.
  *
  * Buffer layout (shuffle format): [int32 k][int32 n][n × (int64 score,
  * int64 id) in rank order].
  */
case class TopKPairsAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Long, Long)]] {

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", LongType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "topk_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"topk_pairs requires k >= 1, got $k")
    else if (score.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_pairs requires a bigint score, got ${score.dataType.simpleString}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_pairs requires a bigint id, got ${id.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  // rank order: score DESC, id ASC — the TreeSet's head is the BEST
  // pair, its last() the worst kept (the eviction candidate).
  // Compared explicitly, NOT via Ordering.by(-s, i): negation overflows
  // at Long.MinValue (the null-score encoding), which would sort nulls
  // FIRST instead of the window form's NULLS LAST.
  private val ord: Ordering[(Long, Long)] = new Ordering[(Long, Long)] {
    def compare(a: (Long, Long), b: (Long, Long)): Int = {
      val c = java.lang.Long.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  override def createAggregationBuffer(): java.util.TreeSet[(Long, Long)] =
    new java.util.TreeSet[(Long, Long)](ord)

  private def add(buf: java.util.TreeSet[(Long, Long)], p: (Long, Long)): Unit = {
    if (buf.size < k) { buf.add(p); () }
    else if (ord.lt(p, buf.last())) {
      buf.add(p)
      if (buf.size > k) { buf.pollLast(); () }
    }
  }

  override def update(buf: java.util.TreeSet[(Long, Long)],
                      input: InternalRow): java.util.TreeSet[(Long, Long)] = {
    val i = id.eval(input)
    require(i != null, "topk_pairs: null id")
    val s = score.eval(input)
    // null score ⇒ sorts last (the window form's DESC NULLS LAST)
    add(buf, (if (s == null) Long.MinValue else s.asInstanceOf[Long],
      i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: java.util.TreeSet[(Long, Long)],
                     other: java.util.TreeSet[(Long, Long)]): java.util.TreeSet[(Long, Long)] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[(Long, Long)]): Any = {
    val rows = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) {
      val (s, d) = it.next()
      rows(i) = InternalRow(s, d)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: java.util.TreeSet[(Long, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buf.size)
    bb.putInt(k).putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val (s, i) = it.next(); bb.putLong(s).putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Long, Long)] = {
    require(bytes.length >= 8, s"not a topk_pairs buffer: ${bytes.length} bytes")
    val bb = ByteBuffer.wrap(bytes)
    val kk = bb.getInt
    val n = bb.getInt
    require(kk == k && n >= 0 && bytes.length == 8 + 16L * n,
      s"not a topk_pairs buffer: header k=$kk n=$n for ${bytes.length} bytes")
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add((bb.getLong, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairsAgg =
    copy(score = newChildren(0), id = newChildren(1))
}
