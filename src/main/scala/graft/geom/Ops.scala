package graft.geom

import scala.collection.mutable.ArrayBuffer

/** Planar computational geometry: the predicate/measure surface the
  * reference gets from DuckDB spatial (`ST_Intersects`, `ST_Distance`,
  * `ST_Centroid`, `ST_IsValid`, envelope accessors — SURVEY §2.8).
  * All routines are exact-arithmetic-free (double precision, standard
  * orientation tests), matching the reference's tolerance posture.
  */
object Ops {

  // ---- envelope ---------------------------------------------------------

  def envelopesOverlap(a: Geom, b: Geom): Boolean = {
    val (ax0, ay0, ax1, ay1) = a.envelope
    val (bx0, by0, bx1, by1) = b.envelope
    !(ax0 > bx1 || bx0 > ax1 || ay0 > by1 || by0 > ay1)
  }

  // ---- centroid ---------------------------------------------------------

  /** Area-weighted centroid for polygons, length-weighted for lines,
    * mean for points — highest-dimension parts win in collections
    * (PostGIS/DuckDB `ST_Centroid` semantics).
    */
  def centroid(g: Geom): Point = {
    // accumulate per dimension
    var aSum = 0.0; var aCx = 0.0; var aCy = 0.0 // area
    var lSum = 0.0; var lCx = 0.0; var lCy = 0.0 // length
    var pN = 0; var pCx = 0.0; var pCy = 0.0 // points

    def addRing(r: CoordSeq, sign: Double): Unit = {
      // local shoelace sums first: the ring's own winding must not
      // decide whether it adds or subtracts — WKB imposes no winding
      // rule, and a hole wound like its shell would otherwise ADD area.
      // `sign` (+1 shell, -1 hole) is applied against the ring's |area|:
      // for valid CCW-shell/CW-hole data this is bit-identical to the
      // raw signed sums (GEOS ring-position semantics either way).
      var rs = 0.0; var rcx = 0.0; var rcy = 0.0
      var i = 0
      while (i < r.size - 1) {
        val x0 = r.xs(i); val y0 = r.ys(i)
        val x1 = r.xs(i + 1); val y1 = r.ys(i + 1)
        val cross = x0 * y1 - x1 * y0
        rs += cross
        rcx += (x0 + x1) * cross
        rcy += (y0 + y1) * cross
        i += 1
      }
      val f = if (rs == 0.0) 0.0 else sign * math.signum(rs)
      aSum += f * rs
      aCx += f * rcx
      aCy += f * rcy
    }
    def addLine(cs: CoordSeq): Unit = {
      var i = 0
      while (i < cs.size - 1) {
        val x0 = cs.xs(i); val y0 = cs.ys(i)
        val x1 = cs.xs(i + 1); val y1 = cs.ys(i + 1)
        val len = math.hypot(x1 - x0, y1 - y0)
        lSum += len
        lCx += len * (x0 + x1) / 2; lCy += len * (y0 + y1) / 2
        i += 1
      }
    }
    def visit(g: Geom): Unit = g match {
      case p: Point if !p.isEmpty => pN += 1; pCx += p.x; pCy += p.y
      case _: Point => ()
      case LineString(cs) => addLine(cs)
      case Polygon(rings) =>
        if (rings.nonEmpty) {
          addRing(rings(0), 1.0) // ring 0 = shell, always adds |area|
          var i = 1
          while (i < rings.length) { addRing(rings(i), -1.0); i += 1 }
        }
      case MultiPoint(ps) => ps.foreach(visit)
      case MultiLineString(ls) => ls.foreach(visit)
      case MultiPolygon(ps) => ps.foreach(visit)
      case GeometryCollection(gs) => gs.foreach(visit)
    }
    visit(g)
    if (math.abs(aSum) > 1e-300) Point(aCx / (3 * aSum), aCy / (3 * aSum))
    else if (lSum > 0) Point(lCx / lSum, lCy / lSum)
    else if (pN > 0) Point(pCx / pN, pCy / pN)
    else Point(Double.NaN, Double.NaN)
  }

  // ---- primitives -------------------------------------------------------

  /** >0 counter-clockwise, <0 clockwise, 0 collinear. */
  @inline private def orient(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double): Double =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  @inline private def onSegment(px: Double, py: Double, qx: Double, qy: Double,
      rx: Double, ry: Double): Boolean =
    math.min(px, rx) <= qx && qx <= math.max(px, rx) &&
      math.min(py, ry) <= qy && qy <= math.max(py, ry)

  /** Segment (p1,p2) intersects segment (p3,p4), touching included. */
  def segIntersects(x1: Double, y1: Double, x2: Double, y2: Double,
      x3: Double, y3: Double, x4: Double, y4: Double): Boolean = {
    val d1 = orient(x3, y3, x4, y4, x1, y1)
    val d2 = orient(x3, y3, x4, y4, x2, y2)
    val d3 = orient(x1, y1, x2, y2, x3, y3)
    val d4 = orient(x1, y1, x2, y2, x4, y4)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) return true
    if (d1 == 0 && onSegment(x3, y3, x1, y1, x4, y4)) return true
    if (d2 == 0 && onSegment(x3, y3, x2, y2, x4, y4)) return true
    if (d3 == 0 && onSegment(x1, y1, x3, y3, x2, y2)) return true
    if (d4 == 0 && onSegment(x1, y1, x4, y4, x2, y2)) return true
    false
  }

  def pointSegDistance(px: Double, py: Double, x1: Double, y1: Double,
      x2: Double, y2: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    val len2 = dx * dx + dy * dy
    if (len2 == 0) return math.hypot(px - x1, py - y1)
    var t = ((px - x1) * dx + (py - y1) * dy) / len2
    if (t < 0) t = 0 else if (t > 1) t = 1
    math.hypot(px - (x1 + t * dx), py - (y1 + t * dy))
  }

  def segSegDistance(x1: Double, y1: Double, x2: Double, y2: Double,
      x3: Double, y3: Double, x4: Double, y4: Double): Double = {
    if (segIntersects(x1, y1, x2, y2, x3, y3, x4, y4)) 0.0
    else math.min(
      math.min(pointSegDistance(x1, y1, x3, y3, x4, y4),
        pointSegDistance(x2, y2, x3, y3, x4, y4)),
      math.min(pointSegDistance(x3, y3, x1, y1, x2, y2),
        pointSegDistance(x4, y4, x1, y1, x2, y2)))
  }

  /** Point-in-ring by ray casting; boundary counts as inside. */
  def pointInRing(px: Double, py: Double, r: CoordSeq): Boolean = {
    var inside = false
    var i = 0
    val n = r.size
    while (i < n - 1) {
      val x1 = r.xs(i); val y1 = r.ys(i)
      val x2 = r.xs(i + 1); val y2 = r.ys(i + 1)
      // boundary test
      if (orient(x1, y1, x2, y2, px, py) == 0 &&
          onSegment(x1, y1, px, py, x2, y2)) return true
      if ((y1 > py) != (y2 > py)) {
        val xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        if (px < xint) inside = !inside
      }
      i += 1
    }
    inside
  }

  /** Point in polygon: inside shell and not strictly inside any hole
    * (hole boundary still counts as in the polygon).
    */
  def pointInPolygon(px: Double, py: Double, poly: Polygon): Boolean = {
    if (poly.isEmpty || !pointInRing(px, py, poly.shell)) return false
    var i = 1
    while (i < poly.rings.length) {
      val hole = poly.rings(i)
      if (pointInRing(px, py, hole)) {
        // on the hole boundary => still inside polygon
        return onRingBoundary(px, py, hole)
      }
      i += 1
    }
    true
  }

  private def onRingBoundary(px: Double, py: Double, r: CoordSeq): Boolean = {
    var i = 0
    while (i < r.size - 1) {
      val x1 = r.xs(i); val y1 = r.ys(i)
      val x2 = r.xs(i + 1); val y2 = r.ys(i + 1)
      if (orient(x1, y1, x2, y2, px, py) == 0 &&
          onSegment(x1, y1, px, py, x2, y2)) return true
      i += 1
    }
    false
  }

  // ---- decomposition ----------------------------------------------------

  private final case class Parts(points: ArrayBuffer[Point],
      lines: ArrayBuffer[CoordSeq], polys: ArrayBuffer[Polygon])

  private def decompose(g: Geom): Parts = {
    val p = Parts(ArrayBuffer.empty, ArrayBuffer.empty, ArrayBuffer.empty)
    def visit(g: Geom): Unit = g match {
      case pt: Point => if (!pt.isEmpty) p.points += pt
      case LineString(cs) => if (cs.size > 0) p.lines += cs
      case pl: Polygon => if (!pl.isEmpty) p.polys += pl
      case MultiPoint(ps) => ps.foreach(visit)
      case MultiLineString(ls) => ls.foreach(visit)
      case MultiPolygon(ps) => ps.foreach(visit)
      case GeometryCollection(gs) => gs.foreach(visit)
    }
    visit(g)
    p
  }

  private def lineLineIntersects(a: CoordSeq, b: CoordSeq): Boolean = {
    var i = 0
    while (i < a.size - 1) {
      var j = 0
      while (j < b.size - 1) {
        if (segIntersects(a.xs(i), a.ys(i), a.xs(i + 1), a.ys(i + 1),
            b.xs(j), b.ys(j), b.xs(j + 1), b.ys(j + 1))) return true
        j += 1
      }
      i += 1
    }
    // single-point "lines"
    if (a.size == 1 && b.size >= 1) return pointOnLine(a.xs(0), a.ys(0), b)
    if (b.size == 1 && a.size >= 1) return pointOnLine(b.xs(0), b.ys(0), a)
    false
  }

  private def pointOnLine(px: Double, py: Double, l: CoordSeq): Boolean = {
    if (l.size == 1) return px == l.xs(0) && py == l.ys(0)
    var i = 0
    while (i < l.size - 1) {
      if (pointSegDistance(px, py, l.xs(i), l.ys(i), l.xs(i + 1), l.ys(i + 1)) == 0)
        return true
      i += 1
    }
    false
  }

  private def linePolyIntersects(l: CoordSeq, p: Polygon): Boolean = {
    // any vertex inside, or any edge crossing the shell/holes
    var i = 0
    while (i < l.size) {
      if (pointInPolygon(l.xs(i), l.ys(i), p)) return true
      i += 1
    }
    p.rings.exists(r => lineLineIntersects(l, r))
  }

  private def polyPolyIntersects(a: Polygon, b: Polygon): Boolean = {
    // edge intersection between any rings
    if (a.rings.exists(ra => b.rings.exists(rb => lineLineIntersects(ra, rb))))
      return true
    // containment: a vertex of one strictly inside the other
    (a.shell.size > 0 && pointInPolygon(a.shell.xs(0), a.shell.ys(0), b)) ||
    (b.shell.size > 0 && pointInPolygon(b.shell.xs(0), b.shell.ys(0), a))
  }

  // ---- predicates -------------------------------------------------------

  /** DE-9IM "intersects" (boundary contact counts) over any pair of
    * geometry types, via decomposition into points/lines/polygons.
    * Envelope pre-test mirrors the reference's bbox fast path
    * (`core/extract.py:568-579`).
    */
  def intersects(a: Geom, b: Geom): Boolean = {
    if (a.isEmpty || b.isEmpty) return false
    if (!envelopesOverlap(a, b)) return false
    val pa = decompose(a); val pb = decompose(b)

    // point vs *
    for (p <- pa.points) {
      if (pb.points.exists(q => q.x == p.x && q.y == p.y)) return true
      if (pb.lines.exists(l => pointOnLine(p.x, p.y, l))) return true
      if (pb.polys.exists(pl => pointInPolygon(p.x, p.y, pl))) return true
    }
    for (p <- pb.points) {
      if (pa.lines.exists(l => pointOnLine(p.x, p.y, l))) return true
      if (pa.polys.exists(pl => pointInPolygon(p.x, p.y, pl))) return true
    }
    // line vs line / poly
    for (l <- pa.lines) {
      if (pb.lines.exists(m => lineLineIntersects(l, m))) return true
      if (pb.polys.exists(pl => linePolyIntersects(l, pl))) return true
    }
    for (l <- pb.lines) {
      if (pa.polys.exists(pl => linePolyIntersects(l, pl))) return true
    }
    // poly vs poly
    pa.polys.exists(p1 => pb.polys.exists(p2 => polyPolyIntersects(p1, p2)))
  }

  /** Segments properly cross: intersection strictly interior to both
    * (touching an endpoint or collinear overlap is NOT a proper cross).
    */
  @inline private def properCross(x1: Double, y1: Double, x2: Double,
      y2: Double, x3: Double, y3: Double, x4: Double, y4: Double): Boolean = {
    val d1 = orient(x3, y3, x4, y4, x1, y1)
    val d2 = orient(x3, y3, x4, y4, x2, y2)
    val d3 = orient(x1, y1, x2, y2, x3, y3)
    val d4 = orient(x1, y1, x2, y2, x4, y4)
    ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
      ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
  }

  /** `a` contains `b`: every vertex of b inside a, no edge of b
    * properly crossing a ring of a, every edge midpoint of b inside a
    * (catches collinear passes through concave notches that cross no
    * edge properly), and no hole of a whose interior b's interior
    * overlaps (probed at a strict-interior point of the hole). A
    * structurally non-empty b that contributes zero coordinates (e.g.
    * a MultiPoint of empty points) is NOT contained — the vacuous
    * all-vertices-pass must not read as true.
    *
    * Boundary semantics are DELIBERATELY closed-set (ST_Covers-like on
    * boundary-only intersections): a point or edge of b lying ON a's
    * boundary counts as contained. q17's oracle equates st_contains on
    * an envelope with the inclusive >=/<= range filter, and GeomSpec
    * pins boundary-point containment — flipping to DE-9IM ST_Contains
    * (interior-intersection required) would break that contract; if
    * you change this, change the q17 predicate AND its oracle together.
    * Still an approximation of full DE-9IM relate (documented limit),
    * but exact for the concave/hole cases a vertex-only test got wrong.
    */
  def contains(a: Geom, b: Geom): Boolean = {
    if (a.isEmpty || b.isEmpty) return false
    val pa = decompose(a)
    if (pa.polys.isEmpty) return false
    var any = false
    var all = true
    b.foreachCoord { (x, y) =>
      any = true
      if (all && !pa.polys.exists(p => pointInPolygon(x, y, p))) all = false
    }
    if (!any || !all) return false
    val pb = decompose(b)
    val bSegs = pb.lines ++ pb.polys.flatMap(_.rings)
    val aRings = pa.polys.flatMap(_.rings)
    var k = 0
    while (k < bSegs.length) {
      val l = bSegs(k)
      var i = 0
      while (i < l.size - 1) {
        val x1 = l.xs(i); val y1 = l.ys(i)
        val x2 = l.xs(i + 1); val y2 = l.ys(i + 1)
        var r = 0
        while (r < aRings.length) {
          val rr = aRings(r)
          var j = 0
          while (j < rr.size - 1) {
            if (properCross(x1, y1, x2, y2, rr.xs(j), rr.ys(j),
                rr.xs(j + 1), rr.ys(j + 1))) return false
            j += 1
          }
          r += 1
        }
        val mx = (x1 + x2) / 2; val my = (y1 + y2) / 2
        if (!pa.polys.exists(p => pointInPolygon(mx, my, p))) return false
        i += 1
      }
      k += 1
    }
    // A hole of a whose INTERIOR b's interior overlaps means b covers
    // ground a excludes. Probe a strict-interior point of the hole
    // (vertex tests alone miss b EXACTLY filling the hole — every hole
    // vertex then lies ON b's boundary). pointInPolygon(probe, bp) is
    // already hole-aware on b's side, so a donut-in-donut containment
    // (b's own hole covering a's hole) correctly passes.
    if (pb.polys.nonEmpty) {
      var pi = 0
      while (pi < pa.polys.length) {
        val p = pa.polys(pi)
        var hi = 1
        while (hi < p.rings.length) {
          val h = p.rings(hi)
          interiorPoint(h) match {
            case Some((hx, hy)) =>
              if (pb.polys.exists(bp => pointInPolygon(hx, hy, bp) &&
                  !bp.rings.exists(r => onRingBoundary(hx, hy, r))))
                return false
            case None => // degenerate hole (no measurable interior)
          }
          hi += 1
        }
        pi += 1
      }
    }
    true
  }

  /** A point strictly inside ring `h` (not on its boundary), or None
    * for degenerate rings. Tries the shoelace centroid, then the vertex
    * mean, then perpendicular nudges off each edge midpoint — enough
    * for any ring with nonzero area.
    */
  private def interiorPoint(h: CoordSeq): Option[(Double, Double)] = {
    if (h.size < 4) return None
    @inline def strictIn(x: Double, y: Double): Boolean =
      pointInRing(x, y, h) && !onRingBoundary(x, y, h)
    // shoelace centroid
    var a2 = 0.0; var cx = 0.0; var cy = 0.0
    var i = 0
    while (i < h.size - 1) {
      val cr = h.xs(i) * h.ys(i + 1) - h.xs(i + 1) * h.ys(i)
      a2 += cr
      cx += (h.xs(i) + h.xs(i + 1)) * cr
      cy += (h.ys(i) + h.ys(i + 1)) * cr
      i += 1
    }
    if (a2 != 0.0) {
      val px = cx / (3.0 * a2); val py = cy / (3.0 * a2)
      if (strictIn(px, py)) return Some((px, py))
    }
    // vertex mean
    var sx = 0.0; var sy = 0.0
    i = 0
    while (i < h.size - 1) { sx += h.xs(i); sy += h.ys(i); i += 1 }
    val mx = sx / (h.size - 1); val my = sy / (h.size - 1)
    if (strictIn(mx, my)) return Some((mx, my))
    // perpendicular nudges off edge midpoints (concave slivers)
    i = 0
    while (i < h.size - 1) {
      val ex = h.xs(i + 1) - h.xs(i); val ey = h.ys(i + 1) - h.ys(i)
      val len = math.hypot(ex, ey)
      if (len > 0) {
        val midx = (h.xs(i) + h.xs(i + 1)) / 2
        val midy = (h.ys(i) + h.ys(i + 1)) / 2
        val d = len * 1e-6
        val c1x = midx - ey / len * d; val c1y = midy + ex / len * d
        if (strictIn(c1x, c1y)) return Some((c1x, c1y))
        val c2x = midx + ey / len * d; val c2y = midy - ex / len * d
        if (strictIn(c2x, c2y)) return Some((c2x, c2y))
      }
      i += 1
    }
    None
  }

  /** Euclidean distance between nearest points (0 when intersecting). */
  def distance(a: Geom, b: Geom): Double = {
    if (a.isEmpty || b.isEmpty) return Double.NaN
    if (intersects(a, b)) return 0.0
    val pa = decompose(a); val pb = decompose(b)
    var best = Double.PositiveInfinity
    @inline def upd(d: Double): Unit = if (d < best) best = d

    def ringSegs(p: Parts): Seq[CoordSeq] =
      (p.lines ++ p.polys.flatMap(_.rings)).toSeq

    val aSegs = ringSegs(pa); val bSegs = ringSegs(pb)
    for (p <- pa.points; q <- pb.points) upd(math.hypot(p.x - q.x, p.y - q.y))
    for (p <- pa.points; l <- bSegs) upd(pointLineDistance(p.x, p.y, l))
    for (q <- pb.points; l <- aSegs) upd(pointLineDistance(q.x, q.y, l))
    for (la <- aSegs; lb <- bSegs) {
      var i = 0
      while (i < la.size - 1) {
        var j = 0
        while (j < lb.size - 1) {
          upd(segSegDistance(la.xs(i), la.ys(i), la.xs(i + 1), la.ys(i + 1),
            lb.xs(j), lb.ys(j), lb.xs(j + 1), lb.ys(j + 1)))
          j += 1
        }
        i += 1
      }
      if (la.size == 1) upd(pointLineDistance(la.xs(0), la.ys(0), lb))
      if (lb.size == 1) upd(pointLineDistance(lb.xs(0), lb.ys(0), la))
    }
    if (best.isInfinite) Double.NaN else best
  }

  private def pointLineDistance(px: Double, py: Double, l: CoordSeq): Double = {
    if (l.size == 1) return math.hypot(px - l.xs(0), py - l.ys(0))
    var best = Double.PositiveInfinity
    var i = 0
    while (i < l.size - 1) {
      val d = pointSegDistance(px, py, l.xs(i), l.ys(i), l.xs(i + 1), l.ys(i + 1))
      if (d < best) best = d
      i += 1
    }
    best
  }

  // ---- validity ---------------------------------------------------------

  /** Basic structural validity (cf. reference validate's ST_IsValid use,
    * `core/validate.py:507-703`): rings closed with >= 4 points, finite
    * coordinates, no self-intersection of the shell (O(n^2) test).
    */
  def isValid(g: Geom): Boolean = g match {
    case p: Point => p.isEmpty || (finite(p.x) && finite(p.y))
    case LineString(cs) =>
      cs.size != 1 && allFinite(cs)
    case Polygon(rings) =>
      rings.forall { r =>
        r.size >= 4 && allFinite(r) &&
          r.xs(0) == r.xs(r.size - 1) && r.ys(0) == r.ys(r.size - 1) &&
          !ringSelfIntersects(r)
      }
    case MultiPoint(ps) => ps.forall(isValid)
    case MultiLineString(ls) => ls.forall(isValid)
    case MultiPolygon(ps) => ps.forall(isValid)
    case GeometryCollection(gs) => gs.forall(isValid)
  }

  @inline private def finite(d: Double) = !d.isNaN && !d.isInfinite
  private def allFinite(cs: CoordSeq): Boolean = {
    var i = 0
    while (i < cs.size) {
      if (!finite(cs.xs(i)) || !finite(cs.ys(i))) return false
      i += 1
    }
    true
  }

  private def ringSelfIntersects(r: CoordSeq): Boolean = {
    val n = r.size - 1 // closed
    // adjacent segments share an endpoint legitimately, but must not
    // double back over each other: a spike like (0 0,2 0,1 0,0 0) is
    // collinear at the shared vertex with both neighbors on the SAME
    // side — self-intersecting even though no non-adjacent pair
    // crosses. (A straight-through collinear vertex has the neighbors
    // on opposite sides: valid, just redundant.) Includes the pair
    // wrapping through the closing vertex.
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val ax = r.xs(i); val ay = r.ys(i)
      val bx = r.xs(j); val by = r.ys(j) // shared vertex
      val cx = r.xs((j + 1) % n); val cy = r.ys((j + 1) % n)
      if (orient(ax, ay, bx, by, cx, cy) == 0 &&
          (ax - bx) * (cx - bx) + (ay - by) * (cy - by) > 0) return true
      i += 1
    }
    i = 0
    while (i < n) {
      var j = i + 2
      while (j < n) {
        // non-adjacent pairs; (0, n-1) share the closing vertex and got
        // the spike check above
        if (!(i == 0 && j == n - 1)) {
          if (segIntersects(r.xs(i), r.ys(i), r.xs(i + 1), r.ys(i + 1),
              r.xs(j), r.ys(j), r.xs(j + 1), r.ys(j + 1))) return true
        }
        j += 1
      }
      i += 1
    }
    false
  }

  /** Round coordinates to a grid (DuckDB `ST_ReducePrecision` used by the
    * GeoJSON sink, reference `core/geojson_stream.py:172`).
    */
  def reducePrecision(g: Geom, gridSize: Double): Geom =
    if (gridSize <= 0) g
    else g.mapCoords((x, y) =>
      (math.rint(x / gridSize) * gridSize, math.rint(y / gridSize) * gridSize))
}
