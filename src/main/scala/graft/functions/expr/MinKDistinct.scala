package graft.functions.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded distinct min-k aggregate: the k smallest DISTINCT long values
  * of the group, as an ascending array — value-identical to
  * `slice(array_sort(collect_set(x)), 1, k)` with O(k) state instead of
  * O(distinct-values-per-group) state.
  *
  * Why an aggregate and not the collect_set formulation: the KMV sketch
  * ([[graft.operators.Dedup.kmvSketch]]) folds each scan partition's
  * shingle hashes to its k minima. With collect_set the partial buffer
  * holds EVERY distinct hash of the partition — per-group state and the
  * phase-1 exchange both scale with partition cardinality, exactly the
  * unbounded-buffer class guide §5 warns about — and the slice-to-k only
  * runs after the final merge. This aggregate maintains the bound during
  * accumulation: the buffer is a capped sorted set, a value larger than
  * the current k-th minimum is dropped on arrival, and what crosses the
  * network is ≤ k longs per group. Merge is min-k over the union — the
  * same associativity the KMV estimator's correctness already rests on.
  *
  * Determinism: the result is a pure function of the group's value SET
  * (order-free), so partitioning cannot move it — the property that lets
  * the SQL oracle replay sketches built on scan partitions.
  *
  * `kExpr` is any constant INT or BIGINT expression in [1, [[MinKDistinct
  * .maxK]]]; anything else fails analysis with a type-check message. */
case class MinKDistinct(child: Expression, kExpr: Expression,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue

  override def checkInputDataTypes(): TypeCheckResult = {
    import TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
    if (child.dataType != LongType)
      TypeCheckFailure(s"graft_min_k expects BIGINT, got ${child.dataType}")
    else MinKDistinct.kError("graft_min_k", kExpr, MinKDistinct.maxK)
      .fold[TypeCheckResult](TypeCheckSuccess)(TypeCheckFailure)
  }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit =
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last()) { if (buf.add(v)) { buf.pollLast(); () } }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
                     b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) add(b1, it.next().longValue())
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next().longValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, kExpr)
  override def prettyName: String = "graft_min_k"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinKDistinct =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object MinKDistinct {
  /** Largest k whose serialized buffer (4 + 8k bytes) fits one array. */
  val maxK: Long = (Int.MaxValue - 4) / 8

  /** Why `kExpr`, the k argument of the bounded aggregate `fn`, is not a
    * constant INT or BIGINT in [1, max] — None when it is. Shared by
    * `graft_min_k` and `graft_top_k` so both reject a bad k alike. */
  def kError(fn: String, kExpr: Expression, max: Long): Option[String] =
    if (!kExpr.foldable) Some(s"$fn: k must be a constant, got ${kExpr.sql}")
    else kExpr.dataType match {
      case ByteType | ShortType | IntegerType | LongType => kExpr.eval() match {
        case v: Number if v.longValue >= 1 && v.longValue <= max => None
        case v => Some(s"$fn: k must be in [1, $max], got $v")
      }
      case t => Some(s"$fn: k must be INT or BIGINT, got ${t.sql}")
    }
}
