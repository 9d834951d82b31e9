package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions for the ST_* surface (SURVEY §2.8). All are
  * codegen-enabled via static calls into [[GeoEval]], keeping geometry
  * work inside whole-stage codegen (no Scala-closure UDF overhead).
  * Everything derived from a geometry's envelope (the `st_xmin` family,
  * the midpoint quadkey and Hilbert keys, the sort sketch, the bbox
  * filter) is built over [[StEnvelope]]; there is no second envelope
  * decoder.
  *
  * No data-dependent constant appears in generated source. A bbox
  * window, key bounds read from the data or a precision grid travels in
  * the generated class's `references` array ([[ParamLiteral.field]]),
  * and the source names only the field that holds it. Spark's codegen
  * cache is keyed by source text, so a request that differs from the
  * last only in such values reuses its compiled class instead of paying
  * a fresh compile, and NaN or ±∞ values need no Java spelling. Plan
  * shape (a zoom level, an H3 resolution, a digit count) may stay
  * inline: it is the same from request to request.
  */
object GeoExpressions {
  private val E = "graft.functions.GeoEval"

  /** Four fixed bounds as trailing Java call arguments: loads from one
    * `double[]` field of the generated class, never the values' text.
    */
  private def boundsRefs(ctx: CodegenContext,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double): String = {
    val b = ParamLiteral.field(ctx, "bounds", Array(xmin, ymin, xmax, ymax), "double[]")
    s"$b[0], $b[1], $b[2], $b[3]"
  }

  abstract class GeoUnary extends UnaryExpression with Serializable
      with ImplicitCastInputTypes {
    override def nullIntolerant: Boolean = true
    /** expected child type: WKB binary for geometry inputs, string for
      * the text parsers. Without the declaration a wrong-typed SQL
      * argument passed analysis and failed per-row at execution —
      * ClassCastException interpreted, or silent widening in codegen.
      */
    def inputType: DataType = BinaryType
    override def inputTypes: Seq[DataType] = Seq(inputType)
    /** name of the GeoEval method; child codegen value is its single arg */
    def evalMethod: String
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.$evalMethod($c)")
  }

  case class StX(child: Expression) extends GeoUnary {
    def evalMethod = "stX"
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stX(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StX = copy(c)
  }

  case class StY(child: Expression) extends GeoUnary {
    def evalMethod = "stY"
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stY(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StY = copy(c)
  }

  /** The geometry's envelope as `struct<xmin, ymin, xmax, ymax>`, one
    * WKB decode per row; null for a null geometry, NaN fields for an
    * empty one. The bounds functions, the envelope-midpoint keys, the
    * Hilbert sort sketch and the bbox filter all read its fields, and a
    * projection's subexpression elimination evaluates it once per row
    * however many of them the projection holds.
    */
  case class StEnvelope(child: Expression) extends GeoUnary {
    def evalMethod = "stEnvelope"
    override def dataType: DataType = StEnvelope.Type
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stEnvelope(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StEnvelope = copy(c)
  }

  object StEnvelope {
    val Fields: Seq[String] = Seq("xmin", "ymin", "xmax", "ymax")
    val Type: StructType =
      StructType(Fields.map(StructField(_, DoubleType, nullable = false)))
  }

  /** Whether the envelope struct `child` (an [[StEnvelope]]) meets the
    * closed box `(xmin, ymin, xmax, ymax)`, compared in Spark's double
    * order (NaN above every double) like the four plain comparisons
    * `GeoTable.filterBbox` builds over a covering, so an empty
    * geometry's NaN envelope never matches. One predicate over one
    * envelope: a Filter has no subexpression elimination, and four field
    * comparisons would decode the WKB once each.
    */
  case class EnvelopeInBox(child: Expression, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double) extends UnaryExpression with Predicate {
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.envelopeInBox(v.asInstanceOf[InternalRow], xmin, ymin, xmax, ymax)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bounds = boundsRefs(ctx, xmin, ymin, xmax, ymax)
      defineCodeGen(ctx, ev, c => s"$E.envelopeInBox($c, $bounds)")
    }
    override protected def withNewChildInternal(c: Expression): EnvelopeInBox =
      copy(child = c)
  }

  case class StCentroid(child: Expression) extends GeoUnary {
    def evalMethod = "stCentroid"
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stCentroid(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StCentroid = copy(c)
  }

  case class StAsText(child: Expression) extends GeoUnary {
    def evalMethod = "stAsText"
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stAsText(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StAsText = copy(c)
  }

  case class StGeomFromText(child: Expression) extends GeoUnary {
    override def inputType: DataType = StringType
    def evalMethod = "stGeomFromText"
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stGeomFromText(v.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): StGeomFromText = copy(c)
  }

  /** TRY_CAST(wkt AS GEOMETRY): null (not error) on malformed input. */
  case class TryGeomFromText(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.tryGeomFromText(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val res = nullSafeCodeGen(ctx, ev, c =>
        s"""
           |${ev.value} = $E.tryGeomFromText($c);
           |if (${ev.value} == null) { ${ev.isNull} = true; }
         """.stripMargin)
      res
    }
    override protected def withNewChildInternal(c: Expression): TryGeomFromText = copy(c)
  }

  case class StGeomFromGeoJson(child: Expression) extends GeoUnary {
    override def inputType: DataType = StringType
    def evalMethod = "stGeomFromGeoJson"
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stGeomFromGeoJson(v.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): StGeomFromGeoJson = copy(c)
  }

  case class StAsGeoJson(child: Expression, precision: Int) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stAsGeoJson(v.asInstanceOf[Array[Byte]], precision)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.stAsGeoJson($c, $precision)")
    override protected def withNewChildInternal(c: Expression): StAsGeoJson =
      copy(child = c)
  }

  case class StGeometryType(child: Expression) extends GeoUnary {
    def evalMethod = "stGeometryType"
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stGeometryType(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StGeometryType = copy(c)
  }

  case class StIsValid(child: Expression) extends GeoUnary {
    def evalMethod = "stIsValid"
    override def dataType: DataType = BooleanType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stIsValid(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StIsValid = copy(c)
  }

  case class StIsEmpty(child: Expression) extends GeoUnary {
    def evalMethod = "stIsEmpty"
    override def dataType: DataType = BooleanType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stIsEmpty(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StIsEmpty = copy(c)
  }

  case class StNPoints(child: Expression) extends GeoUnary {
    def evalMethod = "stNPoints"
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stNPoints(v.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): StNPoints = copy(c)
  }

  case class StReducePrecision(child: Expression, grid: Double)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stReducePrecision(v.asInstanceOf[Array[Byte]], grid)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val g = ParamLiteral.field(ctx, "grid", grid, "double")
      defineCodeGen(ctx, ev, c => s"$E.stReducePrecision($c, $g)")
    }
    override protected def withNewChildInternal(c: Expression): StReducePrecision =
      copy(child = c)
  }

  /** ST_Transform(geom, from, to) with CRS fixed at plan time
    * (reference reprojects whole files: `core/reproject.py:94-180`).
    */
  case class StTransform(child: Expression, from: String, to: String)
      extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    private lazy val fromU = UTF8String.fromString(from)
    private lazy val toU = UTF8String.fromString(to)
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.stTransform(v.asInstanceOf[Array[Byte]], fromU, toU)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val f = ctx.addReferenceObj("fromCrs", fromU)
      val t = ctx.addReferenceObj("toCrs", toU)
      defineCodeGen(ctx, ev, c => s"$E.stTransform($c, $f, $t)")
    }
    override protected def withNewChildInternal(c: Expression): StTransform =
      copy(child = c)
  }

  case class StPoint(left: Expression, right: Expression) extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(x: Any, y: Any): Any =
      GeoEval.stPoint(x.asInstanceOf[Double], y.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (x, y) => s"$E.stPoint($x, $y)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** Envelope polygon from four numeric bounds — replaces the
    * string-concat + WKT-parse anti-pattern for rectangle construction
    * (text codecs belong at the edges, not inside hot filters).
    */
  case class StMakeEnvelope(first: Expression, second: Expression,
      third: Expression, fourth: Expression) extends QuaternaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(DoubleType, DoubleType, DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
      GeoEval.stMakeEnvelope(a.asInstanceOf[Double], b.asInstanceOf[Double],
        c.asInstanceOf[Double], d.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b, c, d) => s"$E.stMakeEnvelope($a, $b, $c, $d)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression,
        t: Expression, q: Expression): StMakeEnvelope = copy(f, s, t, q)
  }

  case class StDistance(left: Expression, right: Expression)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GeoEval.stDistance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$E.stDistance($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  case class StIntersects(left: Expression, right: Expression)
      extends BinaryExpression with Predicate with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GeoEval.stIntersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$E.stIntersects($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  case class StContains(left: Expression, right: Expression)
      extends BinaryExpression with Predicate with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      GeoEval.stContains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$E.stContains($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** Output partition of a Hilbert key under ascending split keys: the
    * number of splits below the key, so partition i holds the keys in
    * (splits(i-1), splits(i)] — `RangePartitioner`'s placement rule. A
    * null key goes to partition 0, where ASC NULLS FIRST sorts it. Feeds
    * the shuffle of [[graft.table.GeoTable.sortHilbert]].
    */
  case class HilbertBucket(child: Expression, splits: Array[Long])
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = {
      val k = child.eval(input)
      if (k == null) 0 else GeoEval.bucketOf(splits, k.asInstanceOf[Long])
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("splits", splits, "long[]")
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        |${c.code}
        |int ${ev.value} = ${c.isNull} ? 0 : $E.bucketOf($ref, ${c.value});
        """.stripMargin, isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): HilbertBucket =
      copy(child = c)
  }

  /** Hilbert index of x/y columns over bounds fixed at plan time — phase
    * 2 of the reference's two-phase hilbert sort
    * (`core/hilbert_order.py:80-113`); a geometry's key is this over its
    * [[StEnvelope]] midpoint.
    */
  case class HilbertIndexXY(left: Expression, right: Expression,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override protected def nullSafeEval(x: Any, y: Any): Any =
      GeoEval.hilbertXY(x.asInstanceOf[Double], y.asInstanceOf[Double],
        xmin, ymin, xmax, ymax)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bounds = boundsRefs(ctx, xmin, ymin, xmax, ymax)
      defineCodeGen(ctx, ev, (x, y) => s"$E.hilbertXY($x, $y, $bounds)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  case class MortonIndexXY(left: Expression, right: Expression,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override protected def nullSafeEval(x: Any, y: Any): Any =
      GeoEval.mortonXY(x.asInstanceOf[Double], y.asInstanceOf[Double],
        xmin, ymin, xmax, ymax)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bounds = boundsRefs(ctx, xmin, ymin, xmax, ymax)
      defineCodeGen(ctx, ev, (x, y) => s"$E.mortonXY($x, $y, $bounds)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** Quadkey from lon/lat at fixed zoom (reference registers exactly this
    * as its one UDF, `core/add_quadkey_column.py:171-235`); a geometry's
    * quadkey is this over its [[StEnvelope]] midpoint.
    */
  case class QuadkeyLonLat(left: Expression, right: Expression, zoom: Int)
      extends BinaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override protected def nullSafeEval(lon: Any, lat: Any): Any =
      GeoEval.quadkeyLonLat(lon.asInstanceOf[Double], lat.asInstanceOf[Double], zoom)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (lon, lat) => s"$E.quadkeyLonLat($lon, $lat, $zoom)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** H3 cell string from (lat, lng) at a fixed resolution — the exact
    * shape the reference registers (`h3_latlng_to_cell_string`,
    * `core/add_h3_column.py:80-84`).
    */
  case class H3LatLng(left: Expression, right: Expression, res: Int)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def nullIntolerant: Boolean = true
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def dataType: DataType = StringType
    override protected def nullSafeEval(lat: Any, lng: Any): Any =
      GeoEval.h3LatLng(lat.asInstanceOf[Double], lng.asInstanceOf[Double], res)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (lat, lng) => s"$E.h3LatLng($lat, $lng, $res)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** Exterior-ring orientation probe: true = all CCW, null = not
    * polygonal (validate orientation check).
    */
  case class StExteriorsCcw(child: Expression) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.exteriorsCcw(v.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"""
           |Object r = $E.exteriorsCcw($c);
           |if (r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ((Boolean) r).booleanValue(); }
         """.stripMargin)
    override protected def withNewChildInternal(c: Expression): StExteriorsCcw =
      copy(c)
  }

  /** H3 cell string of a geometry (centroid rule). */
  case class H3Geom(child: Expression, res: Int) extends UnaryExpression
      with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override protected def nullSafeEval(v: Any): Any =
      GeoEval.h3Geom(v.asInstanceOf[Array[Byte]], res)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$E.h3Geom($c, $res)")
    override protected def withNewChildInternal(c: Expression): H3Geom =
      copy(child = c)
  }
}
