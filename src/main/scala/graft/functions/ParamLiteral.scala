package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** A non-null primitive [[Literal]] whose generated code reads its value
  * from the compiled class's `references` array instead of spelling it in
  * the Java source. Two plans that differ only in such values generate
  * the same source and so share one compiled class in Spark's codegen
  * cache: a bbox request with a new window reuses the stage the last
  * window compiled.
  *
  * It is a `Literal` (not a new leaf expression) because everything
  * outside codegen must keep seeing a literal: `translateFilter` matches
  * `Literal(v, t)` to build the Parquet `PushedFilters` that drive
  * row-group pruning, and the optimizer folds and compares it as one.
  * The only override is [[doGenCode]]. The constructor keeps `Literal`'s
  * two public arguments so Catalyst's reflective `makeCopy` rebuilds a
  * `ParamLiteral`.
  */
class ParamLiteral(v: Any, t: DataType) extends Literal(v, t) {
  require(v != null && CodeGenerator.isPrimitiveType(t),
    s"ParamLiteral holds a non-null primitive, not $v: $t")

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode.forNonNullValue(JavaCode.global(
      ParamLiteral.field(ctx, "param", value, CodeGenerator.javaType(dataType)),
      dataType))
}

object ParamLiteral {
  def apply(d: Double): Literal = new ParamLiteral(d, DoubleType)

  /** The bound `b` of `field >= b` that keeps the rows of
    * `field >= lo` for a field of type `t`: `lo` itself, or, for a FLOAT
    * field, the least float ≥ `lo`. A float field compared with a double
    * is widened, and `UnwrapCastInBinaryComparison` then rewrites the
    * comparison into a plain float `Literal` that is spelled into the
    * generated Java; comparing in the field's own type keeps the bound a
    * parameter. NaN and ±∞ map to themselves.
    */
  def atLeast(lo: Double, t: DataType): Literal = t match {
    case FloatType =>
      val f = lo.toFloat
      new ParamLiteral(if (f < lo) Math.nextUp(f) else f, FloatType)
    case _ => apply(lo)
  }

  /** As [[atLeast]] for `field <= hi`: for a FLOAT field, the greatest
    * float ≤ `hi`.
    */
  def atMost(hi: Double, t: DataType): Literal = t match {
    case FloatType =>
      val f = hi.toFloat
      new ParamLiteral(if (f > hi) Math.nextDown(f) else f, FloatType)
    case _ => apply(hi)
  }

  /** Name of a field of the generated class of Java type `javaType`
    * that holds `v`. The value travels in `references` and the field is
    * set once when the class is initialised, so the source names the
    * field, never the value. The field is a plain member (not a slot of
    * Spark's compacted state arrays), so a row reads it with one load.
    */
  def field(ctx: CodegenContext, name: String, v: Any, javaType: String): String = {
    val ref = ctx.addReferenceObj(name, v, CodeGenerator.boxedType(javaType))
    val read = if (CodeGenerator.isPrimitiveType(javaType)) s"$ref.${javaType}Value()" else ref
    ctx.addMutableState(javaType, name, f => s"$f = $read;", forceInline = true)
  }
}
