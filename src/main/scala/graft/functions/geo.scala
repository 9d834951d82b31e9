package graft.functions

import graft.geom.{Geom, Wkb}
import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, GetStructField}
import org.apache.spark.sql.functions.lit
import GeoExpressions._

/** Column-facing geo function surface (the `ST_*` set of SURVEY §2.8),
  * plus SQL registration so `spark.sql("... st_x(geom) ...")` works.
  * The bounds functions and the geometry keys are field reads of one
  * [[StEnvelope]]: each is a plain expression over the same envelope,
  * so a projection that uses several of them decodes the WKB once.
  */
object geo {
  import GraftBridge.{column => col, expression => ex}

  /** Field `i` (in [[StEnvelope.Fields]] order) of `g`'s envelope. */
  private def envField(g: Expression, i: Int): Expression =
    GetStructField(StEnvelope(g), i, Some(StEnvelope.Fields(i)))

  /** Envelope midpoint, the anchor of the quadkey and Hilbert keys
    * (reference `core/add_quadkey_column.py` midpoint-of-bbox rule). A
    * point's midpoint is the point itself; past |8.9e307| it overflows
    * to ±Infinity, which both keys clamp to the point's own edge cell.
    */
  private def midpoint(g: Column): (Column, Column) =
    ((st_xmin(g) + st_xmax(g)) / 2.0, (st_ymin(g) + st_ymax(g)) / 2.0)

  def st_point(x: Column, y: Column): Column = col(StPoint(ex(x), ex(y)))
  def st_x(g: Column): Column = col(StX(ex(g)))
  def st_y(g: Column): Column = col(StY(ex(g)))
  def st_xmin(g: Column): Column = col(envField(ex(g), 0))
  def st_ymin(g: Column): Column = col(envField(ex(g), 1))
  def st_xmax(g: Column): Column = col(envField(ex(g), 2))
  def st_ymax(g: Column): Column = col(envField(ex(g), 3))
  def st_centroid(g: Column): Column = col(StCentroid(ex(g)))
  def st_astext(g: Column): Column = col(StAsText(ex(g)))
  def st_geomfromtext(s: Column): Column = col(StGeomFromText(ex(s)))
  def try_geomfromtext(s: Column): Column = col(TryGeomFromText(ex(s)))
  def st_asgeojson(g: Column, precision: Int = -1): Column =
    col(StAsGeoJson(ex(g), precision))
  def st_geomfromgeojson(s: Column): Column = col(StGeomFromGeoJson(ex(s)))
  def st_geometrytype(g: Column): Column = col(StGeometryType(ex(g)))
  def st_isvalid(g: Column): Column = col(StIsValid(ex(g)))
  def st_isempty(g: Column): Column = col(StIsEmpty(ex(g)))
  def st_npoints(g: Column): Column = col(StNPoints(ex(g)))
  def st_reduceprecision(g: Column, grid: Double): Column =
    col(StReducePrecision(ex(g), grid))
  def st_transform(g: Column, from: String, to: String): Column =
    col(StTransform(ex(g), from, to))
  def st_distance(a: Column, b: Column): Column = col(StDistance(ex(a), ex(b)))
  def st_intersects(a: Column, b: Column): Column = col(StIntersects(ex(a), ex(b)))
  def st_contains(a: Column, b: Column): Column = col(StContains(ex(a), ex(b)))
  def hilbert_index(g: Column, xmin: Double, ymin: Double, xmax: Double,
      ymax: Double): Column = {
    val (x, y) = midpoint(g)
    hilbert_xy(x, y, xmin, ymin, xmax, ymax)
  }
  def hilbert_bucket(key: Column, splits: Array[Long]): Column =
    col(HilbertBucket(ex(key), splits))
  def hilbert_xy(x: Column, y: Column, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Column =
    col(HilbertIndexXY(ex(x), ex(y), xmin, ymin, xmax, ymax))
  def morton_xy(x: Column, y: Column, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Column =
    col(MortonIndexXY(ex(x), ex(y), xmin, ymin, xmax, ymax))
  def quadkey(lon: Column, lat: Column, zoom: Int): Column =
    col(QuadkeyLonLat(ex(lon), ex(lat), zoom))
  def quadkey_geom(g: Column, zoom: Int): Column = {
    val (x, y) = midpoint(g)
    quadkey(x, y, zoom)
  }
  def h3_latlng_to_cell_string(lat: Column, lng: Column, res: Int): Column =
    col(H3LatLng(ex(lat), ex(lng), res))
  def h3_geom(g: Column, res: Int): Column = col(H3Geom(ex(g), res))
  def st_exteriors_ccw(g: Column): Column = col(StExteriorsCcw(ex(g)))

  /** Constant-geometry helpers (spatial-filter literals: inline WKT /
    * GeoJSON / envelope — reference `core/extract.py:286-449`).
    */
  def geom_lit(g: Geom): Column = lit(Wkb.write(g))
  def wkt_lit(wkt: String): Column = geom_lit(graft.geom.Wkt.parse(wkt))
  def geojson_lit(json: String): Column = geom_lit(graft.geom.GeoJson.parse(json))
  def st_makeenvelope(xmin: Double, ymin: Double, xmax: Double,
      ymax: Double): Column =
    lit(GeoEval.stMakeEnvelope(xmin, ymin, xmax, ymax)) // one shell builder

  /** Column form: numeric envelope construction per row (codegen'd). */
  def st_makeenvelope(xmin: Column, ymin: Column, xmax: Column,
      ymax: Column): Column =
    col(StMakeEnvelope(ex(xmin.cast("double")), ex(ymin.cast("double")),
      ex(xmax.cast("double")), ex(ymax.cast("double"))))

  /** Register SQL names (st_x, st_intersects, ...) on a session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String, b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "built-in")
    one("st_point", es => StPoint(es(0), es(1)))
    one("st_x", es => StX(es.head))
    one("st_y", es => StY(es.head))
    one("st_xmin", es => envField(es.head, 0))
    one("st_ymin", es => envField(es.head, 1))
    one("st_xmax", es => envField(es.head, 2))
    one("st_ymax", es => envField(es.head, 3))
    one("st_centroid", es => StCentroid(es.head))
    one("st_astext", es => StAsText(es.head))
    one("st_geomfromtext", es => StGeomFromText(es.head))
    one("st_geomfromgeojson", es => StGeomFromGeoJson(es.head))
    // optional 2nd arg = precision; dropping a supplied precision
    // silently (the old `-1` hardcode) returned full-precision output
    // for `st_asgeojson(g, 6)` with no diagnostic
    one("st_asgeojson", es => StAsGeoJson(es.head,
      if (es.length > 1) es(1).eval().asInstanceOf[Number].intValue else -1))
    one("st_geometrytype", es => StGeometryType(es.head))
    one("st_isvalid", es => StIsValid(es.head))
    one("st_isempty", es => StIsEmpty(es.head))
    one("st_npoints", es => StNPoints(es.head))
    one("st_makeenvelope", es => StMakeEnvelope(es(0), es(1), es(2), es(3)))
    one("st_distance", es => StDistance(es(0), es(1)))
    one("st_intersects", es => StIntersects(es(0), es(1)))
    one("st_contains", es => StContains(es(0), es(1)))
    one("h3_latlng_to_cell_string", es =>
      H3LatLng(es(0), es(1), es(2).eval().asInstanceOf[Number].intValue))
  }
}
