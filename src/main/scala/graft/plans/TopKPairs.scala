package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-K buffer: a fixed-size binary heap of (score, id) long
  * pairs ordered best = (score desc, id asc), with the WORST kept entry
  * at the root so a stream element is admitted or rejected in O(1)
  * against the root and O(log k) on admission. Total order per group is
  * guaranteed by the unique id tiebreak, so the heap's survivors are
  * exactly the rank window's `row_number <= k` rows under
  * ORDER BY score DESC, id ASC — without ever holding (or sorting) more
  * than k entries per group per task.
  */
final class TopKPairsBuf(val k: Int) {
  val scores = new Array[Long](k)
  val ids = new Array[Long](k)
  var size = 0

  /** (s1,i1) strictly worse than (s2,i2) under (score desc, id asc). */
  @inline private def worse(s1: Long, i1: Long, s2: Long, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)

  private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); scores(a) = scores(b); scores(b) = ts
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && worse(scores(i), ids(i), scores((i - 1) / 2), ids((i - 1) / 2))) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var w = i
      if (l < size && worse(scores(l), ids(l), scores(w), ids(w))) w = l
      if (r < size && worse(scores(r), ids(r), scores(w), ids(w))) w = r
      if (w == i) done = true else { swap(i, w); i = w }
    }
  }

  def insert(s: Long, i: Long): Unit =
    if (size < k) {
      scores(size) = s; ids(size) = i; size += 1; siftUp(size - 1)
    } else if (worse(scores(0), ids(0), s, i)) {
      scores(0) = s; ids(0) = i; siftDown(0)
    }

  /** Indices of kept entries, best-first (score desc, id asc). */
  def rankedIndices: Array[Int] =
    Array.range(0, size).sortWith { (a, b) =>
      scores(a) > scores(b) || (scores(a) == scores(b) && ids(a) < ids(b))
    }
}

/** Native partial top-K aggregate over a (score: long, id: long) stream:
  * `graft_topk_pairs(score, id, k)` keeps each group's k best pairs
  * under (score desc, id asc) in a bounded per-task heap, merges heaps
  * across tasks, and returns them as a best-first
  * `array<struct<score: long, id: long>>`.
  *
  * This exists for the output floor of the flat-PQ ANN scorer
  * (SimilarityOps.pqTopK): ranking a probes·n pair stream through
  * `row_number().over(partitionBy(a_id).orderBy(...)) <= k` makes Spark
  * materialize and LOCALLY SORT the full stream per task before the
  * map-side WindowGroupLimit can prune it — measured as the dominant
  * 5th-decade term at 20M vectors (docs/SCALE.md round 17; 300M-row
  * local sorts per task). As a TypedImperativeAggregate the partial
  * (map-side) aggregation admits-or-rejects each pair in O(1)
  * against the heap root, holds at most groups·k entries per task, and
  * shuffles one k-entry buffer per (task, group) — no sort, no spill,
  * no stream materialization. Semantics are EXACTLY the rank window's:
  * the unique-id tiebreak makes the per-group order total, so survivors
  * and their order are identical (property-asserted against the window
  * form in TopKPairsSpec, oracle-asserted by the unchanged sim_pq_topk
  * DuckDB replay).
  *
  * Null inputs are ignored (the SQL aggregate convention); the pair
  * stream it serves is join output over non-null keys, so this is
  * defensive only.
  */
case class TopKPairs(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKPairsBuf] {

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = TopKPairs.resultType
  override def prettyName: String = "graft_topk_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"graft_topk_pairs k must be >= 1, got $k")
    else if (score.dataType != LongType || id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk_pairs expects (bigint, bigint, k), got " +
          s"(${score.dataType.simpleString}, ${id.dataType.simpleString})")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): TopKPairsBuf = new TopKPairsBuf(k)

  override def update(buf: TopKPairsBuf, input: InternalRow): TopKPairsBuf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Long], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKPairsBuf, other: TopKPairsBuf): TopKPairsBuf = {
    var i = 0
    while (i < other.size) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKPairsBuf): Any =
    new GenericArrayData(buf.rankedIndices.map { i =>
      new GenericInternalRow(Array[Any](buf.scores(i), buf.ids(i)))
    })

  override def serialize(buf: TopKPairsBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairsBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKPairsBuf(k)
    var i = 0
    while (i < n) { buf.insert(bb.getLong, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): TopKPairs =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKPairs =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKPairs {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("score", LongType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  val info = new ExpressionInfo(classOf[TopKPairs].getName, "graft_topk_pairs")

  /** Registry builder: k must be a foldable int literal — it sizes the
    * aggregation buffer, which exists before any row is seen. */
  val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 3, "graft_topk_pairs expects 3 arguments")
    val k = children(2) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_topk_pairs k must be an int literal, got $other")
    }
    TopKPairs(children.head, children(1), k)
  }
}
