package graft.table

import org.apache.spark.sql.{DataFrame, Encoders}
import graft.geom.SpatialKey

/** The one scan behind [[GeoTable.bounds]] and [[GeoTable.sortHilbert]].
  * Per input partition it keeps the envelope bounds, the count of rows
  * with an envelope and a seeded reservoir of their midpoints. The
  * collected parts merge into the bounds, and the reservoir gives the
  * split keys of the sort's range layout: the sample `RangePartitioner`
  * would otherwise take in a second scan of the same rows.
  */
private[table] object HilbertSketch {

  /** Reservoir seed; partition i draws from `Seed + i`. */
  private val Seed = 42L

  /** Spark's double order for `min`/`max` (`SQLOrderingUtil`): -0.0 ties
    * 0.0 and NaN ranks above every other value.
    */
  private def lt(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) < 0

  /** Running min/max of xmin, ymin (slots 0-1) and xmax, ymax (slots
    * 2-3). Nulls never reach a slot, and a value only replaces a strictly
    * smaller (larger) one, so the first of two tied values stays — the
    * fold Spark's `Least`/`Greatest` make.
    */
  final class Extent extends Serializable {
    val v = new Array[Double](4)
    val seen = new Array[Boolean](4)
    def add(i: Int, x: Double): Unit =
      if (!seen(i) || (if (i < 2) lt(x, v(i)) else lt(v(i), x))) {
        v(i) = x; seen(i) = true
      }
    def merge(o: Extent): Unit = for (i <- 0 until 4 if o.seen(i)) add(i, o.v(i))
    def bounds: Option[(Double, Double, Double, Double)] =
      if (seen.forall(identity)) Some((v(0), v(1), v(2), v(3))) else None
  }

  /** One input partition: its extent, its rows with an envelope (each
    * offered its midpoint to the reservoir), and the kept midpoints.
    */
  final case class Part(extent: Extent, offered: Long,
      xs: Array[Double], ys: Array[Double])

  final case class Sketch(parts: Seq[Part]) {
    /** Merged bounds; None when no row had a (complete) envelope. */
    def bounds: Option[(Double, Double, Double, Double)] = {
      val e = new Extent
      parts.foreach(p => e.merge(p.extent))
      e.bounds
    }

    /** The world envelope stands in for the bounds of an empty or
      * all-null table.
      */
    def boundsOrWorld: (Double, Double, Double, Double) =
      bounds.getOrElse((-180.0, -90.0, 180.0, 90.0))

    /** Up to n-1 ascending, distinct Hilbert split keys over
      * [[boundsOrWorld]], chosen like `RangePartitioner.determineBounds`:
      * each sampled key weighs (midpoints its partition offered) / (kept),
      * and a split closes every 1/n of the total weight.
      */
    def splits(n: Int): Array[Long] = {
      val (x0, y0, x1, y1) = boundsOrWorld
      val cands = parts.flatMap { p =>
        val w = p.offered.toDouble / math.max(1, p.xs.length)
        p.xs.indices.map(i =>
          (SpatialKey.hilbert(p.xs(i), p.ys(i), x0, y0, x1, y1), w))
      }.sortBy(_._1)
      val step = cands.map(_._2).sum / n
      val out = scala.collection.mutable.ArrayBuilder.make[Long]
      var cum = 0.0
      var target = step
      var taken = 0
      var last = Long.MinValue
      val it = cands.iterator
      while (it.hasNext && taken < n - 1) {
        val (k, w) = it.next()
        cum += w
        if (cum >= target && (taken == 0 || k > last)) {
          out += k; last = k; taken += 1; target += step
        }
      }
      out.result()
    }
  }

  /** Run the sketch over `proj`, whose four double columns are each
    * row's envelope xmin, ymin, xmax, ymax: the covering fields or the
    * `st_envelope` fields, so a geometry is decoded at most once per row
    * and only in `proj`'s own projection. A row with a null field offers
    * its other fields to the bounds but no midpoint to the reservoir.
    * The reservoir is sized for `outPartitions` splits like
    * `RangePartitioner`'s sample — 20 keys per output partition, at
    * most 1e6, oversampled 3x across the input partitions; 0 keeps no
    * midpoints (bounds only).
    */
  def run(proj: DataFrame, outPartitions: Int): Sketch = {
    val rdd = proj.queryExecution.toRdd
    val total = math.min(20.0 * outPartitions, 1e6)
    val k = if (outPartitions <= 0) 0
      else math.ceil(3.0 * total / math.max(1, rdd.getNumPartitions)).toInt
    val parts = rdd.mapPartitionsWithIndex { (idx, rows) =>
      val ext = new Extent
      val xs = new Array[Double](k)
      val ys = new Array[Double](k)
      val rnd = new java.util.SplittableRandom(Seed + idx)
      var offered = 0L
      def offer(x: Double, y: Double): Unit = {
        if (offered < k) { xs(offered.toInt) = x; ys(offered.toInt) = y }
        else if (k > 0) {
          val j = rnd.nextLong(offered + 1)
          if (j < k) { xs(j.toInt) = x; ys(j.toInt) = y }
        }
        offered += 1
      }
      rows.foreach { r =>
        var complete = true
        var i = 0
        while (i < 4) {
          if (r.isNullAt(i)) complete = false else ext.add(i, r.getDouble(i))
          i += 1
        }
        if (complete)
          offer((r.getDouble(0) + r.getDouble(2)) / 2,
            (r.getDouble(1) + r.getDouble(3)) / 2)
      }
      val kept = math.min(offered, k.toLong).toInt
      Iterator(Part(ext, offered, xs.take(kept), ys.take(kept)))
    }
    Sketch(graft.util.CollectCapped(
      proj.sparkSession.createDataset(parts)(Encoders.javaSerialization[Part]),
      math.max(1, rdd.getNumPartitions),
      "Hilbert sort sketch (one summary per input partition)").toSeq)
  }
}
