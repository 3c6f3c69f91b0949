package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HilbertSpec extends SparkSpec {
  import spark.implicits._

  test("order-6 walk is a bijection and every step is Manhattan-distance 1") {
    val order = 6
    val n = 1 << order
    val cells = for { x <- 0 until n; y <- 0 until n }
      yield (HilbertIndex2.compute(x, y, order), (x, y))
    // bijection onto [0, 4^order)
    assert(cells.map(_._1).sorted == (0L until (n.toLong * n)).toSeq)
    // THE Hilbert property: consecutive d-values are adjacent cells —
    // z-order does not have this (its quadrant seams jump)
    val walk = cells.sortBy(_._1).map(_._2)
    walk.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent step ($x1,$y1)->($x2,$y2)")
    }
  }

  test("hand-traced order-2 anchor values (x-first orientation)") {
    assert(HilbertIndex2.compute(0, 0, 2) == 0L)
    assert(HilbertIndex2.compute(1, 0, 2) == 1L)
    assert(HilbertIndex2.compute(1, 1, 2) == 2L)
    assert(HilbertIndex2.compute(0, 1, 2) == 3L)
    assert(HilbertIndex2.compute(0, 2, 2) == 4L)
  }

  test("codegen path equals the kernel; out-of-range coordinates are masked") {
    val rnd = new scala.util.Random(29)
    val pts = (1 to 500).map(_ =>
      (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val got = pts.toDF("x", "y").repartition(7)
      .select($"x", $"y", HilbertKit.hilbert2($"x", $"y").as("d"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, d) =>
      assert(d == HilbertIndex2.compute(x, y, 16))
    }
    // masking: adding multiples of 2^16 to either coordinate is identity
    assert(HilbertIndex2.compute(5 + (1L << 16), 9, 16) ==
      HilbertIndex2.compute(5, 9, 16))
    // SQL surface
    val viaSql = spark.sql("SELECT graft_hilbert2(3L, 3L, 2)").collect()(0).getLong(0)
    assert(viaSql == 10L)
  }
}
