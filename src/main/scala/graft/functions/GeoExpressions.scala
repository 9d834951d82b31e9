package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import Kernel.kernel

/** Catalyst expressions for the ST_* surface (SURVEY §2.8).
  *
  * How a kernel is declared: each `ST_*` function is one
  * [[Kernel.kernel]] call of a [[GeoEval]] method, built in its Column
  * wrapper in [[geo]]; [[geo.register]] builds the SQL names from the
  * same wrappers. Generated code calls the method directly, so geometry
  * work stays inside whole-stage codegen.
  *
  * Everything derived from a geometry's envelope (the `st_xmin` family,
  * the midpoint quadkey and Hilbert keys, the sort sketch, the bbox
  * filter) is built over [[envelope]]; there is no second envelope
  * decoder.
  *
  * No data-dependent constant appears in generated source. A bbox
  * window, key bounds read from the data or a precision grid is a
  * [[ParamLiteral]] argument, which travels in the generated class's
  * `references` array, and the source names only the field that holds
  * it. Spark's codegen cache is keyed by source text, so a request that
  * differs from the last only in such values reuses its compiled class
  * instead of paying a fresh compile, and NaN or ±∞ values need no Java
  * spelling. Plan shape (a zoom level, an H3 resolution, a digit count)
  * is a plain literal: it is the same from request to request.
  *
  * No expression class remains here. [[StIntersects]], which
  * `BboxPushdownRule` matches, is an extractor over its kernel call.
  */
object GeoExpressions {

  /** The geometry's envelope as `struct<xmin, ymin, xmax, ymax>`, one
    * WKB decode per row; null for a null geometry, NaN fields for an
    * empty one. The bounds functions, the envelope-midpoint keys, the
    * Hilbert sort sketch and the bbox filter all read its fields, and a
    * projection's subexpression elimination evaluates it once per row
    * however many of them the projection holds.
    */
  def envelope(g: Expression): Expression =
    kernel(GeoEval, "stEnvelope", StEnvelope.Type, Seq(g), Seq(BinaryType))

  object StEnvelope {
    val Fields: Seq[String] = Seq("xmin", "ymin", "xmax", "ymax")
    val Type: StructType =
      StructType(Fields.map(StructField(_, DoubleType, nullable = false)))
  }

  /** `st_intersects(a, b)`, built and matched by name: the bbox
    * pushdown rule finds it among a filter's conjuncts with
    * `case StIntersects(a, b)`.
    */
  object StIntersects {
    def apply(a: Expression, b: Expression): Expression =
      kernel(GeoEval, "stIntersects", BooleanType, Seq(a, b),
        Seq(BinaryType, BinaryType))

    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case s: StaticInvoke if s.staticObject == GeoEval.getClass &&
          s.functionName == "stIntersects" =>
        Some((s.arguments(0), s.arguments(1)))
      case _ => None
    }
  }
}
