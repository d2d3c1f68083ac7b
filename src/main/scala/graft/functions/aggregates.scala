package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: the k smallest (score, id) pairs in
  * lexicographic order, kept as a binary MAX-heap over primitive arrays —
  * eviction compares against the current maximum in O(1), inserts are
  * O(log k), and partial state serializes at 16 bytes per kept entry.
  */
final class TopKIdsBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  /** A caller value riding with each entry ([[BlockScanner]]: the
    * entry's position in its block).
    */
  val tags = new Array[Int](k)
  var size = 0

  // SQLOrderingUtil.compareDoubles: Spark's OWN sort comparator — a total
  // order with NaN greater than everything AND -0.0 == 0.0. Raw `>` would
  // strand a NaN inserted while size < k (not greater and not smaller
  // than any later score, so never evicted); java.lang.Double.compare
  // would order -0.0 < 0.0 where a window `ORDER BY score` ties them and
  // falls through to the id tie-break — either divergence lets the heap
  // select different ids than the window-rank path on the same scores.
  @inline private def gt(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(s1, s2)
    c > 0 || (c == 0 && i1 > i2)
  }

  def insert(s: Double, id: Long): Unit = insert(s, id, 0)

  def insert(s: Double, id: Long, tag: Int): Unit = {
    if (size < k) {
      var i = size
      scores(i) = s; ids(i) = id; tags(i) = tag
      size += 1
      // sift up
      while (i > 0) {
        val p = (i - 1) >> 1
        if (gt(scores(i), ids(i), scores(p), ids(p))) {
          val ts = scores(i); scores(i) = scores(p); scores(p) = ts
          val ti = ids(i); ids(i) = ids(p); ids(p) = ti
          val tt = tags(i); tags(i) = tags(p); tags(p) = tt
          i = p
        } else return
      }
    } else if (gt(scores(0), ids(0), s, id)) {
      // replace the root (current max) and sift down
      scores(0) = s; ids(0) = id; tags(0) = tag
      var i = 0
      while (true) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < size && gt(scores(l), ids(l), scores(m), ids(m))) m = l
        if (r < size && gt(scores(r), ids(r), scores(m), ids(m))) m = r
        if (m == i) return
        val ts = scores(i); scores(i) = scores(m); scores(m) = ts
        val ti = ids(i); ids(i) = ids(m); ids(m) = ti
        val tt = tags(i); tags(i) = tags(m); tags(m) = tt
        i = m
      }
    }
  }

  /** Slot indices sorted ascending by (score, id). */
  def sortedOrder(): Array[Int] = {
    val idx = Array.range(0, size)
    idx.sortWith { (x, y) =>
      val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(scores(x), scores(y))
      c < 0 || (c == 0 && ids(x) < ids(y))
    }
  }

  /** ids sorted ascending by (score, id) — deterministic output order. */
  def sortedIds(): Array[Long] = sortedOrder().map(ids(_))

  /** (score, id) pairs sorted ascending by (score, id). */
  def sortedPairs(): Array[(Double, Long)] =
    sortedOrder().map(i => (scores(i), ids(i)))
}

/** Block-scan top-k, the one candidate path of [[graft.operators.Knn]]:
  * for ONE test series, score every entry of a train BLOCK —
  * `array<struct<train_id, train_series, payload...>>` — and return the
  * k nearest as `array<struct<dist, train_id, payload...>>`, sorted by
  * the [[TopKIdsBuffer]] total order over (dist, train_id). `rank` is
  * the 1-based position in that array.
  *
  * Same answer as the pair formulation it replaces (a per-pair distance
  * expression + `row_number` over (dist, train_id); AggregatesSpec pins
  * it): the scores come from the same [[Kernels]] (in-place forms,
  * bit-identical), NaN sorts last and -0.0 ties 0.0 (Spark's own double
  * order), a null train series or null entry is skipped (a null
  * distance), a null test series yields null (no neighbors), a null
  * train_id orders first, and `excludeZero` drops `dist == 0.0` exactly
  * as the SQL predicate `dist != 0.0` does. train_id must be integral:
  * the heap orders ids as longs, and the output keeps the input type.
  *
  * The block is read IN PLACE: one view per entry, no decoded copy of
  * the block and no state that outlives the call, so nothing can be
  * fooled by a reused row buffer. Output values own their memory
  * (non-primitive payloads are copied), because on the partitioned path
  * the block row can sit in a buffer that is reused for the next row.
  */
case class BlockTopK(
    left: Expression,  // test series: array<double>
    right: Expression, // block: array<struct<train_id, train_series, payload...>>
    k: Int,
    kind: String,      // a Knn distance, or the "lb_keogh" ranker
    param: Int,        // band (dtw) or radius (fastdtw)
    excludeZero: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(k >= 1, "k must be >= 1")

  private val kindCode: Int = BlockScanner.kinds.indexOf(kind)
  require(kindCode >= 0, s"unknown block-scan kernel: $kind")

  private def entryFields: Seq[StructField] = right.dataType match {
    case ArrayType(StructType(fs), _) => fs.toSeq
    case _ => Nil
  }

  override def prettyName: String = "graft_block_topk"
  override def dataType: DataType = ArrayType(StructType(
    StructField("dist", DoubleType, nullable = false) +: entryFields.patch(1, Nil, 1)),
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, entryFields.map(_.dataType)) match {
      case (ArrayType(DoubleType, _),
          Seq(ByteType | ShortType | IntegerType | LongType, ArrayType(DoubleType, _), _*)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName needs (array<double>, " +
        "array<struct<integral id, array<double>, ...>>), got " +
        s"(${left.dataType}, ${right.dataType})")
    }
  }

  @transient private lazy val scanner =
    new BlockScanner(k, kindCode, param, excludeZero, entryFields.map(_.dataType).toArray)

  override def nullSafeEval(test: Any, block: Any): Any =
    scanner.scan(test.asInstanceOf[ArrayData], block.asInstanceOf[ArrayData])

  // real codegen, not CodegenFallback: a fallback inside a whole-stage
  // project materializes its input row, copying the whole block once per
  // test row
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("blockScanner", scanner, classOf[BlockScanner].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.scan($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BlockTopK =
    copy(left = newLeft, right = newRight)
}

object BlockScanner {
  val kinds: Seq[String] =
    Seq("euclidean", "sqdist", "manhattan", "cosine", "dtw", "fastdtw", "lb_keogh")
}

/** The scan body of [[BlockTopK]], shared by its interpreted and
  * generated forms. Holds configuration only.
  */
final class BlockScanner(k: Int, kind: Int, param: Int, excludeZero: Boolean,
    fieldTypes: Array[DataType]) extends Serializable {
  private val nf = fieldTypes.length

  // ids order as longs; a null id orders first, like NULLS FIRST in the
  // ascending (dist, train_id) sort it replaces
  private def idKey(e: InternalRow): Long =
    if (e.isNullAt(0)) Long.MinValue
    else fieldTypes(0) match {
      case LongType    => e.getLong(0)
      case IntegerType => e.getInt(0).toLong
      case ShortType   => e.getShort(0).toLong
      case _           => e.getByte(0).toLong
    }

  def scan(test: ArrayData, block: ArrayData): ArrayData = {
    val a = test.toDoubleArray()
    val na = if (kind == 3) Kernels.norm(a) else 0.0
    val buf = new TopKIdsBuffer(k)
    val n = block.numElements()
    var i = 0
    while (i < n) {
      if (!block.isNullAt(i)) {
        val e = block.getStruct(i, nf)
        if (!e.isNullAt(1)) {
          val s = e.getArray(1)
          val d = (kind: @annotation.switch) match {
            case 0 => Kernels.euclidean(a, s)
            case 1 => Kernels.sqdist(a, s)
            case 2 => Kernels.manhattan(a, s)
            case 3 => 1.0 - Kernels.cosine(a, na, s)
            case 4 => Kernels.dtw(a, s, param)
            case 5 => Kernels.fastdtw(a, s.toDoubleArray(), param)
            case _ => Kernels.lbKeogh(a, s)
          }
          if (!(excludeZero && d == 0.0)) buf.insert(d, idKey(e), i)
        }
      }
      i += 1
    }
    val order = buf.sortedOrder()
    val out = new Array[Any](order.length)
    var j = 0
    while (j < order.length) {
      val e = block.getStruct(buf.tags(order(j)), nf)
      val vals = new Array[Any](nf)
      vals(0) = buf.scores(order(j))
      vals(1) = if (e.isNullAt(0)) null else e.get(0, fieldTypes(0))
      var f = 2
      while (f < nf) {
        vals(f) = if (e.isNullAt(f)) null else InternalRow.copyValue(e.get(f, fieldTypes(f)))
        f += 1
      }
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native bounded top-k-by-score aggregate: collects the ids of the k
  * smallest (score, id) pairs per group as array<long>.
  *
  * The reference's two-phase heap (`heapq.nsmallest` per partition then
  * after the shuffle, `Team11-Project.py:180`/`:195`) as a Catalyst
  * `TypedImperativeAggregate` — no Scala tuple boxing and no Kryo buffer
  * encoding per row, with partial state serialized as packed primitives.
  * The typed Dataset `Aggregator` [[graft.operators.BoundedTopKByScore]]
  * keeps the same semantics and is the reference AggregatesSpec checks
  * it against.
  * Used by the KNN prune cascade to merge per-block candidate lists
  * when the train side spans several blocks.
  */
case class BoundedTopKIdsAgg(
    scoreChild: Expression,
    idChild: Expression,
    k: Int,
    emitPairs: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKIdsBuffer] with ImplicitCastInputTypes {
  require(k >= 1, "k must be >= 1")

  override def prettyName: String =
    if (emitPairs) "graft_topk_pairs" else "graft_topk_ids"
  override def children: Seq[Expression] = Seq(scoreChild, idChild)
  // analysis-time coercion: an INT id or FLOAT score would otherwise
  // pass analysis and ClassCastException per task at execution
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (emitPairs)
      ArrayType(StructType(Seq(
        StructField("score", DoubleType, nullable = false),
        StructField("id", LongType, nullable = false))), containsNull = false)
    else ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): TopKIdsBuffer = new TopKIdsBuffer(k)

  override def update(buf: TopKIdsBuffer, input: InternalRow): TopKIdsBuffer = {
    val s = scoreChild.eval(input)
    val id = idChild.eval(input)
    if (s != null && id != null)
      buf.insert(s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKIdsBuffer, other: TopKIdsBuffer): TopKIdsBuffer = {
    var i = 0
    while (i < other.size) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKIdsBuffer): Any =
    if (emitPairs)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        buf.sortedPairs().map { case (s, id) =>
          InternalRow(s, id): Any
        })
    else ArrayData.toArrayData(buf.sortedIds())

  override def serialize(buf: TopKIdsBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKIdsBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKIdsBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopKIdsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopKIdsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedTopKIdsAgg =
    copy(scoreChild = newChildren(0), idChild = newChildren(1))
}

