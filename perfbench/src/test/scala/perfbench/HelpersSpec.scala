package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail percentile is the highest with ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.beyond(100, 90.0) == 10)
    assert(Stats.beyond(99, 90.0) == 9)
  }

  test("percentiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("interval unions merge overlaps and clip to the outer interval") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((3L, 3L), (5L, 4L))) == 0)
    assert(Stats.coveredWithin((10L, 20L), Seq((0L, 12L), (18L, 30L))) == 4)
  }

  test("span self time is duration minus what its children cover") {
    import Trace.Span
    val parent = Span(0, -1, 0, "op", 0, 100, 0)
    val a = Span(1, 0, 0, "a", 10, 40, 0)
    val b = Span(2, 0, 0, "b", 30, 60, 0)
    val grandchild = Span(3, 1, 0, "c", 15, 20, 0)
    val self = Trace.selfTimes(Seq(parent, a, b, grandchild)).map { case (s, t) => s.name -> t }.toMap
    assert(self("op") == 50) // children cover 10..60
    assert(self("a") == 25)
    assert(self("b") == 30)
    assert(self("c") == 5)
  }

  test("spans are recorded only inside a traced operation, with their parent") {
    val tr = new Trace
    tr.span("untraced")(())
    tr.beginOp(7, traced = true)
    tr.span("outer")(tr.span("inner")(()))
    tr.endOp()
    tr.span("after")(())
    val byName = tr.spans.map(s => s.name -> s).toMap
    assert(byName.keySet == Set("outer", "inner"))
    assert(byName("inner").parent == byName("outer").id)
    assert(tr.spans.forall(_.op == 7))
  }

  test("fingerprints ignore row and column order but not values") {
    val ab = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val ba = StructType(Seq(StructField("b", StringType), StructField("a", IntegerType)))
    val h = Fingerprint.of(ab, Seq(Row(1, "x"), Row(2, null)))
    assert(h == Fingerprint.of(ab, Seq(Row(2, null), Row(1, "x"))))
    assert(h == Fingerprint.of(ba, Seq(Row("x", 1), Row(null, 2))))
    assert(h != Fingerprint.of(ab, Seq(Row(1, "x"), Row(2, "y"))))
    assert(Fingerprint.render(-0.0) == Fingerprint.render(0.0))
  }

  test("generated polygons are closed, seeded, and their envelopes count windows") {
    val p = PolyGen.polygon(3, 17)
    assert(p.xs.head == p.xs.last && p.ys.head == p.ys.last)
    assert(p.xs.length >= 6 && p.xs.length <= 13)
    assert(PolyGen.wkb(p).sameElements(PolyGen.wkb(PolyGen.polygon(3, 17))))
    val g = graft.geom.Wkb.read(PolyGen.wkb(p))
    assert(g.toString.nonEmpty)
    val env = PolyGen.envelopes(3, 2000)
    val w = (-20.0, -10.0, 40.0, 30.0)
    val brute = (0 until 2000).count { i =>
      val q = PolyGen.polygon(3, i)
      q.xmax >= w._1 && q.xmin <= w._3 && q.ymax >= w._2 && q.ymin <= w._4
    }
    assert(env.countIntersecting(w) == brute)
    assert(PolyGen.windows(9, 5, strata = 4) == PolyGen.windows(9, 5, strata = 4))
    assert(PolyGen.windows(9, 5, strata = 4) != PolyGen.windows(10, 5, strata = 4))
    // each block of `strata` windows takes one area from every slice of the log range
    val sizes = PolyGen.windows(9, 40, strata = 20).map(w => math.log(w._3 - w._1))
    sizes.grouped(20).foreach { b =>
      val (lo, hi) = (math.log(math.sqrt(1e-8 * 360 * 170)), math.log(math.sqrt(0.1 * 360 * 170)))
      assert(b.map(s => ((s - lo) / (hi - lo) * 20).toInt.min(19)).sorted == (0 until 20))
    }
  }
}
