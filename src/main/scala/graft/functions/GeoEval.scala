package graft.functions

import graft.geom._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Row-level evaluation kernels of the geo functions. Kept as an
  * `object` so codegen can call them as static methods
  * (`graft.functions.GeoEval.stX(...)`); [[Kernel.kernel]] builds the
  * call. Parameters and results are Catalyst's internal types.
  */
object GeoEval {

  // point constructors / accessors
  def stPoint(x: Double, y: Double): Array[Byte] = Wkb.write(Point(x, y))

  /** Axis-aligned rectangle polygon (CCW shell), built numerically —
    * the fast path for envelope geometries; no text parse involved. */
  def stMakeEnvelope(xmin: Double, ymin: Double, xmax: Double,
      ymax: Double): Array[Byte] =
    Wkb.write(Polygon(Array(CoordSeq.of(
      (xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)))))

  def stX(wkb: Array[Byte]): Double = Wkb.read(wkb) match {
    case Point(x, _) => x
    case g => Ops.centroid(g).x
  }

  def stY(wkb: Array[Byte]): Double = Wkb.read(wkb) match {
    case Point(_, y) => y
    case g => Ops.centroid(g).y
  }

  /** The one envelope decoder: (xmin, ymin, xmax, ymax), NaNs if empty. */
  def stEnvelope(wkb: Array[Byte]): InternalRow = {
    val (x0, y0, x1, y1) = Wkb.read(wkb).envelope
    new GenericInternalRow(Array[Any](x0, y0, x1, y1))
  }

  /** Whether envelope `env` (an [[stEnvelope]] row) meets the closed
    * box, in Spark's double order: `xmax >= bxmin`, `xmin <= bxmax`,
    * `ymax >= bymin`, `ymin <= bymax`, with NaN above every double.
    */
  def envelopeInBox(env: InternalRow, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Boolean = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    compareDoubles(env.getDouble(2), xmin) >= 0 &&
      compareDoubles(env.getDouble(0), xmax) <= 0 &&
      compareDoubles(env.getDouble(3), ymin) >= 0 &&
      compareDoubles(env.getDouble(1), ymax) <= 0
  }

  def stCentroid(wkb: Array[Byte]): Array[Byte] =
    Wkb.write(Ops.centroid(Wkb.read(wkb)))

  def stDistance(a: Array[Byte], b: Array[Byte]): Double =
    Ops.distance(Wkb.read(a), Wkb.read(b))

  def stIntersects(a: Array[Byte], b: Array[Byte]): Boolean =
    Ops.intersects(Wkb.read(a), Wkb.read(b))

  def stContains(a: Array[Byte], b: Array[Byte]): Boolean =
    Ops.contains(Wkb.read(a), Wkb.read(b))

  // codecs
  def stAsText(wkb: Array[Byte]): UTF8String =
    UTF8String.fromString(Wkt.print(Wkb.read(wkb)))

  def stGeomFromText(s: UTF8String): Array[Byte] =
    Wkb.write(Wkt.parse(s.toString))

  /** null on parse failure (TRY_CAST semantics for --skip-invalid). */
  def tryGeomFromText(s: UTF8String): Array[Byte] =
    Wkt.parseOpt(s.toString).map(Wkb.write).orNull

  def stAsGeoJson(wkb: Array[Byte], precision: Int): UTF8String =
    UTF8String.fromString(GeoJson.print(Wkb.read(wkb), precision))

  def stGeomFromGeoJson(s: UTF8String): Array[Byte] =
    Wkb.write(GeoJson.parse(s.toString))

  def stGeometryType(wkb: Array[Byte]): UTF8String =
    UTF8String.fromString(Wkb.typeName(wkb)) // header-only, O(1) per row

  def stIsValid(wkb: Array[Byte]): Boolean = Ops.isValid(Wkb.read(wkb))

  def stNPoints(wkb: Array[Byte]): Int = Wkb.read(wkb).numPoints

  def stIsEmpty(wkb: Array[Byte]): Boolean = Wkb.read(wkb).isEmpty

  def stReducePrecision(wkb: Array[Byte], grid: Double): Array[Byte] =
    Wkb.write(Ops.reducePrecision(Wkb.read(wkb), grid))

  def stTransform(wkb: Array[Byte], from: UTF8String, to: UTF8String): Array[Byte] =
    Wkb.write(Proj.transformGeom(Wkb.read(wkb), from.toString, to.toString))

  // spatial keys
  def hilbertXY(x: Double, y: Double, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Long =
    SpatialKey.hilbert(x, y, xmin, ymin, xmax, ymax)

  /** Count of `splits` (ascending, distinct) below `key`. */
  def bucketOf(splits: Array[Long], key: Long): Int = {
    val i = java.util.Arrays.binarySearch(splits, key)
    if (i >= 0) i else -i - 1
  }

  def mortonXY(x: Double, y: Double, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Long =
    SpatialKey.morton(x, y, xmin, ymin, xmax, ymax)

  def quadkeyLonLat(lon: Double, lat: Double, zoom: Int): UTF8String =
    UTF8String.fromString(SpatialKey.quadkey(lon, lat, zoom))

  /** H3 cell hex string of (lat, lng) — the reference's
    * `h3_latlng_to_cell_string(lat, lng, res)` surface
    * (`core/add_h3_column.py:80-84`).
    */
  def h3LatLng(lat: Double, lng: Double, res: Int): UTF8String =
    UTF8String.fromString(H3.latLngToCellString(lat, lng, res))

  def h3LatLngId(lat: Double, lng: Double, res: Int): Long =
    H3.latLngToCell(lat, lng, res)

  /** H3 cell of a geometry: centroid rule, like the reference
    * (`ST_Centroid` then lat/lng, `core/add_h3_column.py:81-83`).
    */
  def h3Geom(wkb: Array[Byte], res: Int): UTF8String = {
    val c = Ops.centroid(Wkb.read(wkb))
    UTF8String.fromString(H3.latLngToCellString(c.y, c.x, res))
  }

  /** true/false when the geometry is polygonal (all exterior rings CCW /
    * not), null otherwise — validate's orientation-vs-data probe.
    */
  def exteriorsCcw(wkb: Array[Byte]): java.lang.Boolean =
    Orientation.exteriorsCcw(Wkb.read(wkb)) match {
      case Some(b) => java.lang.Boolean.valueOf(b)
      case None => null
    }
}
