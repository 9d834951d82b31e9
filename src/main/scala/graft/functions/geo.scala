package graft.functions

import graft.geom.{Geom, Wkb}
import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, GetStructField, Literal}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import GeoExpressions._

/** Column-facing geo function surface (the `ST_*` set of SURVEY §2.8),
  * plus SQL registration so `spark.sql("... st_x(geom) ...")` works.
  * Each function is one [[GeoEval]] kernel ([[GeoExpressions]] says how
  * one is declared). The bounds functions and the geometry keys are
  * field reads of one [[GeoExpressions.envelope]]: each is a plain
  * expression over the same envelope, so a projection that uses several
  * of them decodes the WKB once.
  */
object geo {
  import GraftBridge.{column => col, expression => ex}
  import Kernel.{kernel, ref, refType}

  /** [[GeoEval]]`.method` over `args` (see [[Kernel.kernel]]). */
  private def call(method: String, dataType: DataType, args: Seq[Expression],
      inputTypes: Seq[DataType], nullableResult: Boolean = false): Column =
    col(kernel(GeoEval, method, dataType, args, inputTypes, nullableResult))

  /** A kernel of one geometry (WKB) column. */
  private def ofGeom(method: String, dataType: DataType, g: Column): Column =
    call(method, dataType, Seq(ex(g)), Seq(BinaryType))

  /** Field `i` (in [[StEnvelope.Fields]] order) of `g`'s envelope. */
  private def envField(g: Expression, i: Int): Expression =
    GetStructField(envelope(g), i, Some(StEnvelope.Fields(i)))

  /** Envelope midpoint, the anchor of the quadkey and Hilbert keys
    * (reference `core/add_quadkey_column.py` midpoint-of-bbox rule). A
    * point's midpoint is the point itself; past |8.9e307| it overflows
    * to ±Infinity, which both keys clamp to the point's own edge cell.
    */
  private def midpoint(g: Column): (Column, Column) =
    ((st_xmin(g) + st_xmax(g)) / 2.0, (st_ymin(g) + st_ymax(g)) / 2.0)

  /** Fixed bounds as kernel arguments: [[ParamLiteral]]s, so they never
    * appear in generated source.
    */
  private def bounds(xmin: Double, ymin: Double, xmax: Double,
      ymax: Double): Seq[Expression] =
    Seq(xmin, ymin, xmax, ymax).map(ParamLiteral(_))

  private val xy = Seq(DoubleType, DoubleType)
  private val fourDoubles = xy ++ xy

  def st_point(x: Column, y: Column): Column =
    call("stPoint", BinaryType, Seq(ex(x), ex(y)), xy)
  def st_x(g: Column): Column = ofGeom("stX", DoubleType, g)
  def st_y(g: Column): Column = ofGeom("stY", DoubleType, g)
  def st_xmin(g: Column): Column = col(envField(ex(g), 0))
  def st_ymin(g: Column): Column = col(envField(ex(g), 1))
  def st_xmax(g: Column): Column = col(envField(ex(g), 2))
  def st_ymax(g: Column): Column = col(envField(ex(g), 3))
  def st_centroid(g: Column): Column = ofGeom("stCentroid", BinaryType, g)
  def st_astext(g: Column): Column = ofGeom("stAsText", StringType, g)
  def st_geomfromtext(s: Column): Column =
    call("stGeomFromText", BinaryType, Seq(ex(s)), Seq(StringType))
  /** TRY_CAST(wkt AS GEOMETRY): null (not error) on malformed input. */
  def try_geomfromtext(s: Column): Column =
    call("tryGeomFromText", BinaryType, Seq(ex(s)), Seq(StringType),
      nullableResult = true)
  def st_asgeojson(g: Column, precision: Int = -1): Column =
    call("stAsGeoJson", StringType, Seq(ex(g), Literal(precision)),
      Seq(BinaryType, IntegerType))
  def st_geomfromgeojson(s: Column): Column =
    call("stGeomFromGeoJson", BinaryType, Seq(ex(s)), Seq(StringType))
  def st_geometrytype(g: Column): Column = ofGeom("stGeometryType", StringType, g)
  def st_isvalid(g: Column): Column = ofGeom("stIsValid", BooleanType, g)
  def st_isempty(g: Column): Column = ofGeom("stIsEmpty", BooleanType, g)
  def st_npoints(g: Column): Column = ofGeom("stNPoints", IntegerType, g)
  def st_reduceprecision(g: Column, grid: Double): Column =
    call("stReducePrecision", BinaryType, Seq(ex(g), ParamLiteral(grid)),
      Seq(BinaryType, DoubleType))
  /** ST_Transform(geom, from, to) with CRS fixed at plan time
    * (reference reprojects whole files: `core/reproject.py:94-180`).
    */
  def st_transform(g: Column, from: String, to: String): Column =
    call("stTransform", BinaryType, Seq(ex(g), Literal(from), Literal(to)),
      Seq(BinaryType, StringType, StringType))
  def st_distance(a: Column, b: Column): Column =
    call("stDistance", DoubleType, Seq(ex(a), ex(b)), Seq(BinaryType, BinaryType))
  def st_intersects(a: Column, b: Column): Column = col(StIntersects(ex(a), ex(b)))
  def st_contains(a: Column, b: Column): Column =
    call("stContains", BooleanType, Seq(ex(a), ex(b)), Seq(BinaryType, BinaryType))
  def hilbert_index(g: Column, xmin: Double, ymin: Double, xmax: Double,
      ymax: Double): Column = {
    val (x, y) = midpoint(g)
    hilbert_xy(x, y, xmin, ymin, xmax, ymax)
  }
  /** Output partition of a Hilbert key under ascending split keys: the
    * number of splits below the key, so partition i holds the keys in
    * (splits(i-1), splits(i)] — `RangePartitioner`'s placement rule. A
    * null key goes to partition 0, where ASC NULLS FIRST sorts it. Feeds
    * the shuffle of [[graft.table.GeoTable.sortHilbert]].
    */
  def hilbert_bucket(key: Column, splits: Array[Long]): Column =
    col(Coalesce(Seq(kernel(GeoEval, "bucketOf", IntegerType,
      Seq(ref(splits), ex(key)), Seq(refType(splits), LongType)), Literal(0))))
  /** Hilbert index of x/y columns over bounds fixed at plan time — phase
    * 2 of the reference's two-phase hilbert sort
    * (`core/hilbert_order.py:80-113`); a geometry's key is this over its
    * envelope midpoint.
    */
  def hilbert_xy(x: Column, y: Column, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Column =
    call("hilbertXY", LongType, Seq(ex(x), ex(y)) ++ bounds(xmin, ymin, xmax, ymax),
      xy ++ fourDoubles)
  def morton_xy(x: Column, y: Column, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Column =
    call("mortonXY", LongType, Seq(ex(x), ex(y)) ++ bounds(xmin, ymin, xmax, ymax),
      xy ++ fourDoubles)
  /** Quadkey from lon/lat at fixed zoom (reference registers exactly this
    * as its one UDF, `core/add_quadkey_column.py:171-235`); a geometry's
    * quadkey is this over its envelope midpoint.
    */
  def quadkey(lon: Column, lat: Column, zoom: Int): Column =
    call("quadkeyLonLat", StringType, Seq(ex(lon), ex(lat), Literal(zoom)),
      xy :+ IntegerType)
  def quadkey_geom(g: Column, zoom: Int): Column = {
    val (x, y) = midpoint(g)
    quadkey(x, y, zoom)
  }
  /** H3 cell string from (lat, lng) at a fixed resolution — the exact
    * shape the reference registers (`h3_latlng_to_cell_string`,
    * `core/add_h3_column.py:80-84`).
    */
  def h3_latlng_to_cell_string(lat: Column, lng: Column, res: Int): Column =
    call("h3LatLng", StringType, Seq(ex(lat), ex(lng), Literal(res)),
      xy :+ IntegerType)
  /** H3 cell string of a geometry (centroid rule). */
  def h3_geom(g: Column, res: Int): Column =
    call("h3Geom", StringType, Seq(ex(g), Literal(res)), Seq(BinaryType, IntegerType))
  /** Exterior-ring orientation probe: true = all CCW, null = not
    * polygonal (validate orientation check).
    */
  def st_exteriors_ccw(g: Column): Column =
    call("exteriorsCcw", BooleanType, Seq(ex(g)), Seq(BinaryType),
      nullableResult = true)

  /** Whether `g`'s envelope meets the closed box, compared in Spark's
    * double order (NaN above every double) like the four plain
    * comparisons `GeoTable.filterBbox` builds over a covering, so an
    * empty geometry's NaN envelope never matches. One predicate over one
    * envelope: a Filter has no subexpression elimination, and four field
    * comparisons would decode the WKB once each.
    */
  private[graft] def envelope_in_box(g: Column, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Column =
    call("envelopeInBox", BooleanType,
      envelope(ex(g)) +: bounds(xmin, ymin, xmax, ymax),
      StEnvelope.Type +: fourDoubles)

  /** Constant-geometry helpers (spatial-filter literals: inline WKT /
    * GeoJSON / envelope — reference `core/extract.py:286-449`).
    */
  def geom_lit(g: Geom): Column = lit(Wkb.write(g))
  def wkt_lit(wkt: String): Column = geom_lit(graft.geom.Wkt.parse(wkt))
  def geojson_lit(json: String): Column = geom_lit(graft.geom.GeoJson.parse(json))
  def st_makeenvelope(xmin: Double, ymin: Double, xmax: Double,
      ymax: Double): Column =
    lit(GeoEval.stMakeEnvelope(xmin, ymin, xmax, ymax)) // one shell builder

  /** Column form: numeric envelope construction per row (codegen'd) —
    * replaces the string-concat + WKT-parse anti-pattern for rectangle
    * construction.
    */
  def st_makeenvelope(xmin: Column, ymin: Column, xmax: Column,
      ymax: Column): Column =
    call("stMakeEnvelope", BinaryType,
      Seq(xmin, ymin, xmax, ymax).map(c => ex(c.cast("double"))), fourDoubles)

  /** Register SQL names (st_x, st_intersects, ...) on a session; each
    * is its Column wrapper above.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String, b: Seq[Column] => Column): Unit =
      reg.createOrReplaceTempFunction(name, es => ex(b(es.map(col))), "built-in")
    def intArg(cs: Seq[Column], i: Int): Int =
      ex(cs(i)).eval().asInstanceOf[Number].intValue
    one("st_point", c => st_point(c(0), c(1)))
    one("st_x", c => st_x(c.head))
    one("st_y", c => st_y(c.head))
    one("st_xmin", c => st_xmin(c.head))
    one("st_ymin", c => st_ymin(c.head))
    one("st_xmax", c => st_xmax(c.head))
    one("st_ymax", c => st_ymax(c.head))
    one("st_centroid", c => st_centroid(c.head))
    one("st_astext", c => st_astext(c.head))
    one("st_geomfromtext", c => st_geomfromtext(c.head))
    one("st_geomfromgeojson", c => st_geomfromgeojson(c.head))
    // optional 2nd arg = precision; dropping a supplied precision
    // silently (the old `-1` hardcode) returned full-precision output
    // for `st_asgeojson(g, 6)` with no diagnostic
    one("st_asgeojson", c =>
      st_asgeojson(c.head, if (c.length > 1) intArg(c, 1) else -1))
    one("st_geometrytype", c => st_geometrytype(c.head))
    one("st_isvalid", c => st_isvalid(c.head))
    one("st_isempty", c => st_isempty(c.head))
    one("st_npoints", c => st_npoints(c.head))
    // no cast here: the kernel's input types cast the arguments
    one("st_makeenvelope", c =>
      call("stMakeEnvelope", BinaryType, c.map(ex), fourDoubles))
    one("st_distance", c => st_distance(c(0), c(1)))
    one("st_intersects", c => st_intersects(c(0), c(1)))
    one("st_contains", c => st_contains(c(0), c(1)))
    one("h3_latlng_to_cell_string", c =>
      h3_latlng_to_cell_string(c(0), c(1), intArg(c, 2)))
  }
}
