package graft.plans

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Native bounded top-k aggregate: `graft_top_k(value, k)` keeps the k
  * SMALLEST values of an orderable column (atomic or struct — encode
  * "score DESC, id ASC" as `struct(-score, id)`) and returns them as an
  * ascending array.
  *
  * WHY (the 100 TB argument): the standard per-group top-k —
  * `row_number() OVER (PARTITION BY g ORDER BY s) <= k` — shuffles EVERY
  * row to its group's reducer and sorts the whole group before discarding
  * all but k rows. This aggregate runs as ObjectHashAggregate with a
  * partial (map-side) phase: each map task keeps at most k values per
  * group in a bounded heap, so the shuffle carries ≤ k rows per (task,
  * group) instead of the full corpus, and no sort of the full group ever
  * happens. Same reduction Spark itself applies to GLOBAL top-k via
  * TakeOrderedAndProject — this is the grouped version Spark lacks.
  * Parity with the window form is pinned by TopKAggregateSpec; the q232
  * oracle replays it with a row_number window in DuckDB.
  *
  * The heap buffer is O(k) per group per task; serialize/merge ship the
  * heap as length-prefixed UnsafeRow bytes. Reference behavior this
  * accelerates: per-table top-k retrieval (ai-optimizer
  * embed/vector_store.py similarity_search top-k per store).
  */
case class BoundedTopK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[Any]] {

  require(k > 0, s"graft_top_k: k must be positive, got $k")

  @transient private lazy val ord: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)
  // max-heap: root is the LARGEST kept value, evicted first when full
  @transient private lazy val revOrd =
    new java.util.Comparator[Any] {
      override def compare(a: Any, b: Any): Int = ord.compare(b, a)
    }

  override def createAggregationBuffer(): java.util.PriorityQueue[Any] =
    new java.util.PriorityQueue[Any](k + 1, revOrd)

  private def offer(buf: java.util.PriorityQueue[Any], v: Any): Unit = {
    if (buf.size < k) { buf.offer(v); () }
    else if (ord.compare(v, buf.peek()) < 0) { buf.poll(); buf.offer(v); () }
  }

  override def update(buf: java.util.PriorityQueue[Any],
                      input: InternalRow): java.util.PriorityQueue[Any] = {
    val v = child.eval(input)
    if (v != null) offer(buf, InternalRow.copyValue(v))
    buf
  }

  override def merge(buf: java.util.PriorityQueue[Any],
                     other: java.util.PriorityQueue[Any]): java.util.PriorityQueue[Any] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next())
    buf
  }

  override def eval(buf: java.util.PriorityQueue[Any]): Any = {
    val arr = buf.toArray
    java.util.Arrays.sort(arr, ord.asInstanceOf[java.util.Comparator[Any]])
    new GenericArrayData(arr)
  }

  @transient private lazy val proj =
    UnsafeProjection.create(Array(child.dataType))
  @transient private lazy val oneField = new UnsafeRow(1)
  @transient private lazy val rowHolder = new Array[Any](1)

  override def serialize(buf: java.util.PriorityQueue[Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val it = buf.iterator()
    while (it.hasNext) {
      rowHolder(0) = it.next()
      val ur = proj(InternalRow.fromSeq(rowHolder.toIndexedSeq))
      out.writeInt(ur.getSizeInBytes)
      out.write(ur.getBytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Any] = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    while (bb.remaining() > 0) {
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      oneField.pointTo(arr, len)
      val v = oneField.get(0, child.dataType)
      buf.offer(InternalRow.copyValue(v))
    }
    buf
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)
  override def prettyName: String = "graft_top_k"
  override def withNewMutableAggBufferOffset(o: Int): BoundedTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedTopK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

object TopKAggregate {

  /** Per-group top-k rows without a window sort: groups by `groupCols`,
    * keeps the k rows whose `orderAsc` tuple is smallest (encode DESC
    * keys by negation; the tuple MUST be total — include a unique
    * tie-break — so the trailing `payload` fields never influence the
    * ordering), explodes the per-group array back to rows. Every
    * `orderAsc`/`payload` column must be aliased (struct field names come
    * from the aliases and survive into the output). */
  def topKRows(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
               orderAsc: Seq[org.apache.spark.sql.Column],
               payload: Seq[org.apache.spark.sql.Column],
               k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val packed = struct((orderAsc ++ payload): _*)
    df.groupBy(groupCols.map(col): _*)
      .agg(call_function("graft_top_k", packed, lit(k)).as("_topk"))
      .select(groupCols.map(col) :+ explode(col("_topk")).as("_e"): _*)
      .select(groupCols.map(col) :+ col("_e.*"): _*)
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_top_k" -> (args => BoundedTopK(args(0),
      args(1).eval(null).asInstanceOf[Int])))
}
