package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType
import graft.functions.GeoExpressions.StIntersects
import graft.functions.ParamLiteral
import graft.geom.Wkb
import graft.meta.GeoMeta

/** Catalyst optimizer rule: when a filter contains
  * `st_intersects(geometryCol, <literal geometry>)` and the relation also
  * carries a bbox covering struct (xmin/ymin/xmax/ymax), AND in the
  * equivalent bbox-overlap conjuncts on the struct fields.
  *
  * `bboxOverlap` is implied by `intersects`, so semantics are unchanged —
  * but the added conjuncts are plain comparisons on scalar struct fields,
  * which Spark pushes into the Parquet scan (`PushedFilters`) for
  * row-group min/max pruning. This systematizes the reference's manual
  * bbox fast path (`core/extract.py:568-579`, the documented 10-100x
  * win) as a plan rewrite: users write the precise predicate, the
  * optimizer gets the pruning. The envelope values are [[ParamLiteral]]s,
  * so a query with a new polygon still pushes the four comparisons and
  * reuses the stage the last polygon compiled.
  */
object BboxPushdownRule extends Rule[LogicalPlan] {

  private def isBboxStruct(a: Attribute): Boolean = a.dataType match {
    case s: StructType =>
      Seq("xmin", "ymin", "xmax", "ymax").forall(f => s.fieldNames.contains(f))
    case _ => false
  }

  private def pairOf(a: Attribute): Option[String] =
    if (a.metadata.contains(GeoMeta.GeoPairKey))
      Some(a.metadata.getString(GeoMeta.GeoPairKey))
    else None

  /** Does the covering `b` describe the SAME ROW as geometry `g`
    * everywhere in `plan`? The pair id identifies (table, column), not
    * row alignment — joining two reads of the same file puts same-id
    * attributes from DIFFERENT rows in one scope. Alignment holds iff
    * the two attributes ride the same side of every Join on their way
    * up: unary nodes (Project/Filter/Aggregate/Generate/Window/Sort)
    * compute all outputs from one input row, Union is checked per-child
    * by ordinal, and a Join splits alignment unless both attributes
    * come from one side. Outer-join null-filling is safe: a null-filled
    * side nulls `g` and `b` together, and a null `g` already fails the
    * st_intersects conjunct this rule fires on.
    */
  private def aligned(plan: LogicalPlan, g: Attribute, b: Attribute): Boolean =
    plan match {
      // Expand (cube/rollup/grouping sets) is unary but NOT
      // slot-aligned: each projection null-fills individual output
      // slots, so a grouping set that keeps g while nulling b would
      // turn the appended bbox conjunct null and silently drop
      // subtotal rows the original filter keeps
      case _: org.apache.spark.sql.catalyst.plans.logical.Expand => false
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        if (j.left.outputSet.contains(g) && j.left.outputSet.contains(b))
          aligned(j.left, g, b)
        else if (j.right.outputSet.contains(g) && j.right.outputSet.contains(b))
          aligned(j.right, g, b)
        else false
      case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
        // each child has its own attribute ids at the same ordinals
        val gi = u.output.indexWhere(_.exprId == g.exprId)
        val bi = u.output.indexWhere(_.exprId == b.exprId)
        gi >= 0 && bi >= 0 &&
          u.children.forall(c => aligned(c, c.output(gi), c.output(bi)))
      case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if !(p.child.outputSet.contains(g) && p.child.outputSet.contains(b)) =>
        // an Alias changes the exprId but preserves row identity — map
        // each attribute through the projection list and KEEP DESCENDING.
        // Stopping here (old behavior: "unary ⇒ aligned") was unsound: a
        // Project that re-aliases the covering above a self-join hid the
        // cross-side misalignment below it, so the rule could AND in a
        // conjunct describing the other join side's rows.
        def resolve(a: Attribute): Option[Attribute] =
          if (p.child.outputSet.contains(a)) Some(a)
          else p.projectList.collectFirst {
            case al @ Alias(under: Attribute, _) if al.exprId == a.exprId =>
              under
          }
        (resolve(g), resolve(b)) match {
          case (Some(g2), Some(b2)) => aligned(p.child, g2, b2)
          case _ => false // computed/unknown provenance — refuse
        }
      case _ =>
        plan.children.find(c =>
          c.outputSet.contains(g) && c.outputSet.contains(b)) match {
          case Some(c) => aligned(c, g, b)
          case None =>
            // both attributes surface at this node. A leaf relation is
            // within-row by construction. A non-Project unary node that
            // mints one of the ids (Aggregate alias, Generate, Window
            // expr) computes outputs from one input row, but the input
            // row may itself combine misaligned sides — accept only when
            // the subtree is join-free. Multi-child nodes are out of
            // pattern — refuse.
            plan.children.isEmpty ||
              (plan.children.size == 1 && !plan.exists(
                _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]))
        }
    }

  /** The bbox covering attribute for the FILTERED geometry `g`, or None
    * when no covering can soundly be tied to it.
    *
    *  - Pair-metadata path (GeoTable-produced plans): candidates are the
    *    bbox-shaped attributes sharing `g`'s pair id; each must also be
    *    row-ALIGNED with `g` (see [[aligned]] — same side of every
    *    Join), and exactly one may survive. This prunes join-free plans
    *    and post-join filters alike: a filter stranded above an outer
    *    join still gets the cheap scalar conjuncts, and a filter
    *    Catalyst pushed below the join resolves within its side.
    *  - Fallback (plain spark.read plans with no metadata): the old
    *    one-binary-column heuristic — `g` must be the plan's only
    *    BinaryType attribute, covering found by conventional name. No
    *    ids means alignment can't be verified, so this path stays
    *    join-free (join one side's lone geometry with the other side's
    *    "bbox" column and the heuristic would pair across rows).
    */
  private def bboxFor(child: LogicalPlan, g: Attribute): Option[Attribute] =
    pairOf(g) match {
      case Some(id) =>
        child.output.filter(a => isBboxStruct(a) && pairOf(a).contains(id))
          .filter(b => aligned(child, g, b)) match {
          case Seq(one) => Some(one)
          case _ => None
        }
      case None =>
        if (child.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]))
          None
        else {
          val binaryAttrs = child.output.filter(_.dataType ==
            org.apache.spark.sql.types.BinaryType)
          if (binaryAttrs.length == 1 && binaryAttrs.head.semanticEquals(g))
            child.output.find(a =>
              GeoMeta.BboxNameCandidates.contains(a.name) && isBboxStruct(a))
          else None
        }
    }

  /** envelope of the literal geometry, if it parses */
  private def literalEnvelope(e: Expression): Option[(Double, Double, Double, Double)] =
    e match {
      case Literal(bytes: Array[Byte], org.apache.spark.sql.types.BinaryType) =>
        Wkb.readOpt(bytes).map(_.envelope).filterNot(_._1.isNaN)
      case _ => None
    }

  private def field(b: Attribute, name: String): Expression =
    GetStructField(b, b.dataType.asInstanceOf[StructType].fieldIndex(name), Some(name))

  // the bound in the covering field's own type: the plan is analyzed, so
  // a double bound on a FLOAT field would not be widened for it
  private def atLeast(f: Expression, lo: Double): Expression =
    GreaterThanOrEqual(f, ParamLiteral.atLeast(lo, f.dataType))
  private def atMost(f: Expression, hi: Double): Expression =
    LessThanOrEqual(f, ParamLiteral.atMost(hi, f.dataType))

  /** already has a bbox conjunct? (idempotence guard) */
  private def touchesBbox(cond: Expression, b: Attribute): Boolean =
    cond.exists {
      case g: GetStructField => g.child.semanticEquals(b)
      case _ => false
    }

  /** top-level AND conjuncts of a predicate */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      var added: Seq[Expression] = Nil
      // ONLY top-level conjuncts: an st_intersects nested under OR/NOT
      // does not imply the bbox overlap for every surviving row — ANDing
      // it on there silently dropped rows. st_intersects is symmetric:
      // the literal may sit in either argument position (the reference
      // emits both orders). Each conjunct resolves its OWN covering via
      // bboxFor, so a post-join filter touching both sides' geometries
      // prunes both coverings (pair-metadata plans; the name-based
      // fallback stays join-free — see bboxFor).
      conjuncts(cond).foreach {
        case StIntersects(a, c) =>
          val geomAttr = Seq(a, c).collectFirst {
            case at: Attribute
                if at.dataType == org.apache.spark.sql.types.BinaryType => at
          }
          for {
            g <- geomAttr
            b <- bboxFor(child, g)
            if !touchesBbox(cond, b) && !added.exists(_.exists {
              case gs: GetStructField => gs.child.semanticEquals(b)
              case _ => false
            })
            (x0, y0, x1, y1) <- literalEnvelope(c).orElse(literalEnvelope(a))
          } added ++= Seq(
            atLeast(field(b, "xmax"), x0), atMost(field(b, "xmin"), x1),
            atLeast(field(b, "ymax"), y0), atMost(field(b, "ymin"), y1))
        case _ => ()
      }
      if (added.isEmpty) f
      else Filter(added.foldLeft(cond)((acc, c) => And(acc, c)), child)
  }
}

/** Session extension registration:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => BboxPushdownRule)
  }
}

object GraftExtensions {
  /** Attach to an existing session (experimental-methods hook). */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(BboxPushdownRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BboxPushdownRule
  }
}
