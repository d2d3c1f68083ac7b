package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k of (score, id): the ids of the k smallest (score, id)
  * pairs per group, as a typed Dataset `Aggregator` — the typed twin of
  * the reference's two-phase heap (`heapq.nsmallest` per partition at
  * `Team11-Project.py:180`/`:361`, then again after the shuffle at
  * `:195`/`:377`). Spark executes `reduce` as the partial (map-side)
  * phase and `merge` as the final phase, so the partial/merge structure
  * matches the reference's exactly — but declaratively.
  *
  * No engine path runs it: it is the typed reference that AggregatesSpec
  * checks the native `graft_topk_ids` aggregate
  * ([[graft.functions.BoundedTopKIdsAgg]]) against.
  *
  * Buffer is a sorted array bounded at k (k is small: reference sweeps
  * 5..70), so partial state is O(k) regardless of partition size.
  */
class BoundedTopKByScore(k: Int)
    extends Aggregator[(Long, Long, Double), Array[(Double, Long)], Array[Long]] {

  private val ord = Ordering.Tuple2[Double, Long]

  override def zero: Array[(Double, Long)] = Array.empty

  private def insert(buf: Array[(Double, Long)], v: (Double, Long)): Array[(Double, Long)] =
    if (buf.length < k) (buf :+ v).sorted(ord)
    else if (ord.lt(v, buf(buf.length - 1))) { buf(buf.length - 1) = v; buf.sorted(ord) }
    else buf

  override def reduce(buf: Array[(Double, Long)], row: (Long, Long, Double)): Array[(Double, Long)] =
    insert(buf, (row._3, row._2))

  override def merge(a: Array[(Double, Long)], b: Array[(Double, Long)]): Array[(Double, Long)] =
    (a ++ b).sorted(ord).take(k)

  override def finish(buf: Array[(Double, Long)]): Array[Long] = buf.map(_._2)

  override def bufferEncoder: Encoder[Array[(Double, Long)]] =
    Encoders.kryo[Array[(Double, Long)]]
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

class TopKAggregator(k: Int)
    extends Aggregator[(Double, Double), Array[(Double, Double)], Array[(Double, Double)]] {

  private val ord = Ordering.Tuple2[Double, Double]

  override def zero: Array[(Double, Double)] = Array.empty

  private def insert(buf: Array[(Double, Double)], v: (Double, Double)): Array[(Double, Double)] = {
    if (buf.length < k) (buf :+ v).sorted(ord)
    else if (ord.lt(v, buf(buf.length - 1))) (buf.dropRight(1) :+ v).sorted(ord)
    else buf
  }

  override def reduce(buf: Array[(Double, Double)], v: (Double, Double)): Array[(Double, Double)] =
    insert(buf, v)

  override def merge(a: Array[(Double, Double)], b: Array[(Double, Double)]): Array[(Double, Double)] =
    (a ++ b).sorted(ord).take(k)

  override def finish(buf: Array[(Double, Double)]): Array[(Double, Double)] = buf

  override def bufferEncoder: Encoder[Array[(Double, Double)]] =
    Encoders.kryo[Array[(Double, Double)]]
  override def outputEncoder: Encoder[Array[(Double, Double)]] =
    Encoders.kryo[Array[(Double, Double)]]
}
