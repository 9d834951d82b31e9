package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded small polygons in lon/lat, the geo workloads' input.
  *
  * Row `i` of seed `s` depends only on (s, i), so executors build rows
  * in parallel and the driver recomputes any envelope on its own. WKB is
  * written here, not through the program's codec, so the checks stay
  * independent of the code they time.
  */
object PolyGen {
  val Extent: (Double, Double, Double, Double) = (-180.0, -85.0, 180.0, 85.0)

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("category", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("geometry", BinaryType, nullable = false)))

  final case class Poly(xs: Array[Double], ys: Array[Double]) {
    def xmin: Double = xs.min
    def ymin: Double = ys.min
    def xmax: Double = xs.max
    def ymax: Double = ys.max
  }

  private def rng(seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)

  /** Polygon `i`: 5-12 vertices around a uniform centre, radius
    * log-uniform in [0.001, 0.05] degrees; the ring is closed.
    */
  def polygon(seed: Long, i: Long): Poly = {
    val r = rng(seed, i)
    val radius = math.exp(math.log(0.001) + r.nextDouble() * math.log(50.0))
    val (x0, y0, x1, y1) = Extent
    val cx = x0 + radius + r.nextDouble() * (x1 - x0 - 2 * radius)
    val cy = y0 + radius + r.nextDouble() * (y1 - y0 - 2 * radius)
    val k = 5 + r.nextInt(8)
    val angles = Array.fill(k)(r.nextDouble() * 2 * math.Pi).sorted
    val xs = new Array[Double](k + 1)
    val ys = new Array[Double](k + 1)
    var j = 0
    while (j < k) {
      val rr = radius * (0.5 + 0.5 * r.nextDouble())
      xs(j) = cx + rr * math.cos(angles(j))
      ys(j) = cy + rr * math.sin(angles(j))
      j += 1
    }
    xs(k) = xs(0); ys(k) = ys(0)
    Poly(xs, ys)
  }

  /** ISO WKB, little-endian, one-ring polygon. */
  def wkb(p: Poly): Array[Byte] = {
    val n = p.xs.length
    val b = ByteBuffer.allocate(1 + 4 + 4 + 4 + 16 * n).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(3).putInt(1).putInt(n)
    var j = 0
    while (j < n) { b.putDouble(p.xs(j)).putDouble(p.ys(j)); j += 1 }
    b.array()
  }

  def row(seed: Long, i: Long): Row = {
    val p = polygon(seed, i)
    Row(i, s"feature_$i", (i % 16).toInt, ((i * 7919) % 100000) / 100.0, wkb(p))
  }

  /** Raw bytes of row `i`: its WKB plus its attribute values. */
  def rawBytes(seed: Long, i: Long): Long = {
    val p = polygon(seed, i)
    (9 + 4 + 16 * p.xs.length) + 8 + s"feature_$i".length + 4 + 8
  }

  def frame(spark: SparkSession, seed: Long, rows: Long, slices: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.range(0, rows, 1, slices).map(i => row(seed, i)),
      Schema)

  /** Envelopes of rows [0, rows), as four parallel arrays. */
  final class Envelopes(val xmin: Array[Double], val ymin: Array[Double],
      val xmax: Array[Double], val ymax: Array[Double]) {
    def size: Int = xmin.length

    /** Rows whose envelope meets the closed window. */
    def countIntersecting(w: (Double, Double, Double, Double)): Long = {
      val (a, b, c, d) = w
      var n = 0L
      var i = 0
      while (i < size) {
        if (xmax(i) >= a && xmin(i) <= c && ymax(i) >= b && ymin(i) <= d) n += 1
        i += 1
      }
      n
    }

    def union: (Double, Double, Double, Double) =
      (xmin.min, ymin.min, xmax.max, ymax.max)
  }

  def envelopes(seed: Long, rows: Int): Envelopes = {
    val e = new Envelopes(new Array(rows), new Array(rows), new Array(rows),
      new Array(rows))
    (0 until rows).foreach { i =>
      val p = polygon(seed, i)
      e.xmin(i) = p.xmin; e.ymin(i) = p.ymin
      e.xmax(i) = p.xmax; e.ymax(i) = p.ymax
    }
    e
  }

  /** Seeded query windows: square in degrees, area log-uniform from
    * about a point to `maxFrac` of the extent, anywhere inside it. Areas
    * are stratified: each block of `strata` consecutive windows takes one
    * area from each of `strata` equal slices of the log range, in seeded
    * order, so a short run's mix of sizes does not hinge on the seed.
    */
  def windows(seed: Long, count: Int, strata: Int, maxFrac: Double = 0.1)
      : IndexedSeq[(Double, Double, Double, Double)] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val (x0, y0, x1, y1) = Extent
    val area = (x1 - x0) * (y1 - y0)
    val minFrac = 1e-8
    (0 until count).grouped(strata).flatMap { block =>
      val order = new scala.util.Random(r.nextLong()).shuffle((0 until strata).toIndexedSeq)
      block.indices.map { j =>
        val u = (order(j) + r.nextDouble()) / strata
        val frac = math.exp(math.log(minFrac) + u * (math.log(maxFrac) - math.log(minFrac)))
        val side = math.min(math.sqrt(frac * area), y1 - y0)
        val x = x0 + r.nextDouble() * (x1 - x0 - side)
        val y = y0 + r.nextDouble() * (y1 - y0 - side)
        (x, y, x + side, y + side)
      }
    }.toIndexedSeq
  }
}
