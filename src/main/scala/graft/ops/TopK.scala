package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/**
 * Top-k rows per group as a typed `Aggregator` with a k-bounded ordered
 * buffer — partial-aggregation capable, so a hot group's rows collapse to
 * k map-side BEFORE the exchange and the reducers merge k-sized buffers.
 *
 * WHEN TO USE (measured, README "Skew stress", 2M rows / 20%-hot group): the
 * window-rank form (`row_number().over(partitionBy(group))` +
 * `filter(rank <= k)`) is ~3× FASTER here (0.4 s vs 1.1 s) — the udaf
 * per-row decode dominates while a 400k-row single-task sort is still
 * milliseconds. The aggregator's advantage is STRUCTURAL, not
 * throughput: memory per group is O(k) with no full-group sort buffer —
 * no spill, no single task owning a 10⁸-row viral group's sort — so it is
 * the shape that stays up at extreme skew / tight executor memory, and
 * the window is the right default everywhere else (same honest trade
 * recorded for [[Dedup.exactDedup]]'s three formulations).
 *
 * Ordering: (orderVal desc, payload asc) — deterministic under ties.
 * The buffer holds (orderVal, payload) LONG pairs: project the ranking
 * value and the row id into longs (the [[graft.functions.Kit.cents]]
 * convention), then join payload ids back for wide rows.
 */
object TopK {

  /** k-bounded buffer: flat [ord0, pay0, ord1, pay1, ...], kept sorted
    * (ord desc, payload asc), `len` longs used. Fixed capacity 2k — no
    * per-row allocation; the hot path (a row that doesn't make the cut of
    * a full buffer) is a single comparison against the current minimum. */
  final class Buf(var len: Int, var items: Array[Long]) extends Serializable

  private def better(o1: Long, p1: Long, o2: Long, p2: Long): Boolean =
    o1 > o2 || (o1 == o2 && p1 < p2)

  final class TopKAgg(k: Int) extends Aggregator[(Long, Long), Buf, Seq[(Long, Long)]] {
    override def zero: Buf = new Buf(0, new Array[Long](2 * k))

    override def reduce(b: Buf, a: (Long, Long)): Buf = {
      val ord = a._1; val pay = a._2
      if (b.len == 2 * k &&
          !better(ord, pay, b.items(b.len - 2), b.items(b.len - 1))) return b
      // position by linear scan from the tail (k is small; rows that get
      // here are already rare once the buffer is warm)
      var pos = b.len
      while (pos >= 2 &&
          better(ord, pay, b.items(pos - 2), b.items(pos - 1))) pos -= 2
      val newLen = math.min(b.len + 2, 2 * k)
      // shift worse entries right, dropping the overflow
      val toMove = newLen - 2 - pos
      if (toMove > 0) System.arraycopy(b.items, pos, b.items, pos + 2, toMove)
      if (pos < newLen) { b.items(pos) = ord; b.items(pos + 1) = pay }
      b.len = newLen
      b
    }

    override def merge(x: Buf, y: Buf): Buf = {
      val merged = new Array[Long](2 * k)
      var i = 0; var j = 0; var o = 0
      while (o < 2 * k && (i < x.len || j < y.len)) {
        val takeX = j >= y.len || (i < x.len &&
          better(x.items(i), x.items(i + 1), y.items(j), y.items(j + 1)))
        if (takeX) { merged(o) = x.items(i); merged(o + 1) = x.items(i + 1); i += 2 }
        else { merged(o) = y.items(j); merged(o + 1) = y.items(j + 1); j += 2 }
        o += 2
      }
      x.items = merged; x.len = o
      x
    }

    override def finish(b: Buf): Seq[(Long, Long)] =
      (0 until b.len by 2).map(i => (b.items(i), b.items(i + 1)))

    override def bufferEncoder: Encoder[Buf] = Encoders.javaSerialization[Buf]
    override def outputEncoder: Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /**
   * Top-k per group over (orderVal: long, payload: long) projections.
   * Output: (group, ord, payload, rank) rows, rank 1..k by
   * (ord desc, payload asc).
   */
  def topKPerGroup(df: DataFrame, groupCol: String, orderCol: Column,
      payloadCol: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val agg = udaf(new TopKAgg(k))
    df.select(col(groupCol).as("group"), orderCol.cast("long").as("__o"),
        payloadCol.cast("long").as("__p"))
      .groupBy(col("group"))
      .agg(agg(col("__o"), col("__p")).as("__top"))
      .select(col("group"), posexplode(col("__top")).as(Seq("__i", "__t")))
      .select(col("group"), col("__t._1").as("ord"),
        col("__t._2").as("payload"), (col("__i") + 1).cast("int").as("rank"))
  }

  /** IEEE-754 total-order bijection double↔long (Lucene's sortable-bits
    * trick, an involution): signed-long comparison of the mapped value
    * equals double comparison, with NaN above +Inf — matching Spark's sort
    * semantics. Lets the k-bounded long-pair buffer rank DOUBLE order
    * values (cosines, scores) exactly, no precision loss. */
  private def sortableBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7FFFFFFFFFFFFFFFL)
  }
  private def fromSortableBits(l: Long): Double =
    java.lang.Double.longBitsToDouble(l ^ ((l >> 63) & 0x7FFFFFFFFFFFFFFFL))

  /** [[TopKAgg]] over a DOUBLE order value: converts through
    * [[sortableBits]] on the way in and back on the way out, so ordering is
    * exact double ordering and the emitted `ord` is the bit-identical
    * input double. */
  final class TopKDoubleAgg(k: Int)
      extends Aggregator[(Double, Long), Buf, Seq[(Double, Long)]] {
    private val inner = new TopKAgg(k)
    override def zero: Buf = inner.zero
    override def reduce(b: Buf, a: (Double, Long)): Buf =
      inner.reduce(b, (sortableBits(a._1), a._2))
    override def merge(x: Buf, y: Buf): Buf = inner.merge(x, y)
    override def finish(b: Buf): Seq[(Double, Long)] =
      inner.finish(b).map { case (o, p) => (fromSortableBits(o), p) }
    override def bufferEncoder: Encoder[Buf] = Encoders.javaSerialization[Buf]
    override def outputEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /**
   * Top-k per group ranked by a DOUBLE order value (desc; payload asc on
   * ties) — the shape for exact cosine/score rankings where the window form
   * would sort a corpus-sized partition in one task
   * ([[graft.ops.Similarity.bruteForceTopK]]'s hazard: one query × 10⁹
   * scored corpus rows = one straggler sort). The k-bounded buffer
   * collapses each group to k rows MAP-SIDE before the exchange; memory is
   * O(k) per group regardless of group size.
   *
   * Output: (group, ord: double, payload: long, rank: int).
   */
  def topKPerGroupByDouble(df: DataFrame, groupCol: String, orderCol: Column,
      payloadCol: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val agg = udaf(new TopKDoubleAgg(k))
    df.select(col(groupCol).as("group"), orderCol.cast("double").as("__o"),
        payloadCol.cast("long").as("__p"))
      .groupBy(col("group"))
      .agg(agg(col("__o"), col("__p")).as("__top"))
      .select(col("group"), posexplode(col("__top")).as(Seq("__i", "__t")))
      .select(col("group"), col("__t._1").as("ord"),
        col("__t._2").as("payload"), (col("__i") + 1).cast("int").as("rank"))
  }
}
