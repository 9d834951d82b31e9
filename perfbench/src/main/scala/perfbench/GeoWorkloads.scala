package perfbench

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer
import graft.geom.Wkb
import graft.meta.Footer
import graft.table.GeoTable

/** The GeoParquet workloads: the flagship file-to-file chain and the
  * bbox extract requests against its output.
  */
object GeoWorkloads {
  val Zoom = 13
  /** Quadkey prefix of the partitioned layout: up to 4^3 directories
    * (4^2 at the smoke-test size, to keep 100+ rows per partition).
    */
  def partitionChars(ctx: Ctx): Int = if (ctx.tiny) 2 else 3

  /** geo_etl rows: half the reference's published 400 K-row chain size,
    * so that three set-ups and several passes fit one run.
    */
  def etlRows(ctx: Ctx): Int = if (ctx.tiny) 4000 else 200000

  /** geo_extract rows: the first 50 K of the same polygons. */
  def extractRows(ctx: Ctx): Int = if (ctx.tiny) 4000 else 50000

  private def writeInput(ctx: Ctx, dir: Path, n: Int): String = {
    val in = dir.resolve("input").toString
    GeoTable.fromDataFrame(PolyGen.frame(ctx.spark, ctx.seed, n, 8), "geometry")
      .write(in)
    in
  }

  /** read → addBbox → addQuadkey → sortHilbert → write, spans around
    * each public call.
    */
  private def chain(ctx: Ctx, in: String, out: String): Unit = {
    val tr = ctx.trace
    val t = tr.span("table.read")(GeoTable.read(ctx.spark, in))
    val b = tr.span("functions.add_bbox")(t.addBbox())
    val q = tr.span("functions.add_quadkey")(b.addQuadkey(Zoom))
    val s = tr.span("table.sort_hilbert")(q.sortHilbert())
    tr.span("table.write")(s.write(out))
  }

  // ---- geo_etl -----------------------------------------------------------

  def etl(ctx: Ctx, rep: Report): Unit = {
    val n = etlRows(ctx)
    val in = ctx.setup(rep, 3)(dir => writeInput(ctx, dir, n)).resolve("input").toString
    val outs = ctx.work.resolve("etl-out")
    Ctx.deleteTree(outs)
    // two untimed passes: the first loads and generates code, the second
    // lets the JIT finish what the first started
    rep.phase("warmup")((1 to 2).foreach { k =>
      chain(ctx, in, outs.resolve(s"warmup-$k").toString)
      Ctx.deleteTree(outs.resolve(s"warmup-$k"))
    })

    var last: Option[Path] = None
    val untraced = ArrayBuffer[Double]()
    val traced = ArrayBuffer[Double]()
    var totals = SparkCounters.Zero
    var footerPassS = 0.0
    val minOps = 4
    val measured = rep.phase("measure")(ctx.loop(minOps, collectBetween = true) { (i, tracedOp) =>
      val out = outs.resolve(s"pass-$i")
      val w0 = System.currentTimeMillis()
      ctx.trace.beginOp(i, tracedOp)
      val done = ctx.withCounters(tracedOp) {
        rep.op(ctx.trace.span("op")(chain(ctx, in, out.toString)))
      }
      if (tracedOp && done.isDefined) {
        totals = totals + ctx.counters.window(w0, System.currentTimeMillis())
        // the write call's wall time no Spark job covers: the driver-side
        // footer rewrite and commit
        val w = ctx.trace.spans.filter(s => s.op == i && s.name == "table.write").last
        val jobs = ctx.counters.window(w.wallStartMs, w.wallStartMs + w.duration / 1000000)
        footerPassS += w.duration / 1e9 - jobs.jobBusyMs / 1e3
      }
      done.foreach { _ =>
        val ms = rep.latenciesMs.last
        if (tracedOp) traced += ms else untraced += ms
        last.foreach(Ctx.deleteTree)
        last = Some(out)
      }
    })
    ctx.trace.endOp()

    val inBytes = (0L until n).map(PolyGen.rawBytes(ctx.seed, _)).sum
    last.foreach { out =>
      rep.phase("checks")(checkEtl(ctx, rep, out, n))
      rep.layer("table.out_bytes_per_in_byte", Ctx.treeBytes(out).toDouble / inBytes, "ratio")
    }
    Timing.e2e(rep, untraced.toSeq, measured)
    rep.stamps("rows") = n
    rep.stamps("input_raw_bytes") = inBytes

    if (ctx.traced) {
      val k = math.max(1, traced.size)
      Timing.engine(rep, totals, k)
      Timing.overhead(rep, untraced.toSeq, traced.toSeq)
      rep.layer("table.write_s", ctx.trace.totalSeconds("table.write") / k, "s")
      rep.layer("meta.footer_pass_s", footerPassS / k, "s")
      rep.phase("step_costs")(stepCosts(ctx, rep, in))
      rep.layer("geom.wkb_decode_ns_per_row", wkbDecodeNs(ctx), "ns")
    }
  }

  /** Each step's cost as step-through-noop minus read-through-noop. */
  private def stepCosts(ctx: Ctx, rep: Report, in: String): Unit = {
    def best(f: GeoTable => GeoTable): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      ctx.noop(f(GeoTable.read(ctx.spark, in)).df)
      (System.nanoTime() - t0) / 1e9
    }.min
    val read = best(identity)
    rep.layer("functions.add_bbox_s", best(_.addBbox()) - read, "s")
    rep.layer("functions.add_quadkey_s", best(_.addQuadkey(Zoom)) - read, "s")
    rep.layer("table.sort_hilbert_s", best(_.sortHilbert()) - read, "s")
  }

  /** Single-thread `Wkb.read` cost over a sample of the inputs. */
  def wkbDecodeNs(ctx: Ctx): Double = {
    val sample = (0L until 20000L).map(i => PolyGen.wkb(PolyGen.polygon(ctx.seed, i))).toArray
    val reps = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      var sink = 0
      sample.foreach(b => sink += Wkb.read(b).hashCode & 1)
      if (sink < 0) println(sink)
      (System.nanoTime() - t0).toDouble / sample.length
    }
    Stats.median(reps)
  }

  /** Row count, `geo` footers, covering and extent against the
    * generator's own values, and the reference's spatial-order gate.
    */
  private def checkEtl(ctx: Ctx, rep: Report, out: Path, n: Int): Unit = {
    val got = ctx.spark.read.parquet(out.toString).count()
    rep.check(got == n, s"geo_etl: output has $got rows, input $n")
    val geos = Ctx.partFiles(out).map(f => Footer.read(new org.apache.hadoop.fs.Path(f.toUri)))
      .map(_.geo.flatMap(_.primary))
    rep.check(geos.nonEmpty && geos.forall(_.isDefined),
      "geo_etl: an output file has no geo footer for its primary column")
    if (geos.nonEmpty && geos.forall(_.isDefined)) {
      val gs = geos.flatten
      rep.check(gs.forall(_.coveringBbox.contains("bbox")),
        s"geo_etl: coverings ${gs.map(_.coveringBbox).distinct}")
      // each file's footer bbox covers its own rows; together, the extent
      val bs = gs.flatMap(_.bbox)
      val got = (bs.map(_._1).min, bs.map(_._2).min, bs.map(_._3).max, bs.map(_._4).max)
      val want = PolyGen.envelopes(ctx.seed, n).union
      rep.check(bs.size == gs.size && got == want,
        s"geo_etl: footer bboxes span $got, generated extent is $want")
    }
    val ratio = spatialOrderRatio(ctx, out)
    rep.stamps("spatial_order_ratio") = ratio
    rep.check(ratio < 0.5, s"geo_etl: spatial-order ratio $ratio >= 0.5")
  }

  /** Mean distance between consecutive rows over mean distance between
    * random rows (first 100 000 rows in file order, 100 x 100 pairs).
    */
  def spatialOrderRatio(ctx: Ctx, out: Path): Double = {
    val pts = Ctx.partFiles(out).iterator.flatMap { f =>
      ctx.spark.read.parquet(f.toString)
        .select((col("bbox.xmin") + col("bbox.xmax")) / 2, (col("bbox.ymin") + col("bbox.ymax")) / 2)
        .collect().iterator.map(r => (r.getDouble(0), r.getDouble(1)))
    }.take(100000).toArray
    def dist(a: (Double, Double), b: (Double, Double)) = math.hypot(a._1 - b._1, a._2 - b._2)
    val consec = pts.sliding(2).map(p => dist(p(0), p(1))).sum / (pts.length - 1)
    val r = new java.util.SplittableRandom(ctx.seed)
    val a = Array.fill(100)(pts(r.nextInt(pts.length)))
    val b = Array.fill(100)(pts(r.nextInt(pts.length)))
    val rnd = (for (x <- a; y <- b if x != y) yield dist(x, y))
    consec / (rnd.sum / rnd.length)
  }

  // ---- geo_extract -------------------------------------------------------

  /** Requests one run sends at least; p75 then has 15 samples beyond.
    * Each window goes to both layouts in turn, and the first
    * `MinRequests / 2` windows hold one area from each size stratum.
    */
  val MinRequests = 60

  def extract(ctx: Ctx, rep: Report): Unit = {
    val n = extractRows(ctx)
    def writeLayouts(dir: Path, rows: Int, chars: Int): Unit = {
      val in = writeInput(ctx, dir, rows)
      chain(ctx, in, dir.resolve("hilbert").toString)
      GeoTable.read(ctx.spark, in).addBbox()
        .partitionByQuadkey(Zoom, chars, dir.resolve("quadkey").toString)
    }
    // the writers' first, cold pass on a small input, outside set-up time
    rep.phase("warmup") {
      val d = ctx.work.resolve("warm-layouts")
      writeLayouts(d, 4000, 2)
      Ctx.deleteTree(d)
    }
    val dir = ctx.setup(rep, 3)(writeLayouts(_, n, partitionChars(ctx)))
    val layouts = Seq("hilbert", "quadkey").map(l => dir.resolve(l).toString)
    val fileCount = layouts.map(l => Ctx.partFiles(Paths.get(l)).size)
    val env = PolyGen.envelopes(ctx.seed, n)
    val windows = PolyGen.windows(ctx.seed, 2048, strata = MinRequests / 2)
    val plans = new PlanMetrics
    ctx.spark.listenerManager.register(plans)
    var totals = SparkCounters.Zero

    def request(i: Int, tracedOp: Boolean): Option[ScanCounts] = {
      val w = windows(i / 2 % windows.size)
      val path = layouts(i % 2)
      ctx.trace.beginOp(i, tracedOp)
      plans.clear()
      val w0 = System.currentTimeMillis()
      val ok = rep.op(ctx.trace.span("op") {
        val t = ctx.trace.span("table.read")(GeoTable.read(ctx.spark, path))
        val f = ctx.trace.span("table.filter_bbox")(t.filterBbox(w._1, w._2, w._3, w._4))
        ctx.noop(f.df)
      })
      ok.map { _ =>
        if (tracedOp) {
          // the footer calls read planning makes, timed on their own
          ctx.trace.span("meta.footer")(Footer.firstPartFile(path).map(Footer.read(_)))
          totals = totals + ctx.counters.window(w0, System.currentTimeMillis())
        }
        val c = plans.next()
        val want = env.countIntersecting(w)
        rep.check(c.rowsReturned == want,
          s"geo_extract: window $w on ${layouts(i % 2)} returned ${c.rowsReturned} rows, want $want")
        c
      }
    }

    // warm both layouts on windows outside the measured sequence
    rep.phase("warmup")((0 until 6).foreach(i => request(2 * windows.size - 1 - i, tracedOp = false)))
    rep.attempted = 0; rep.failed = 0; rep.latenciesMs.clear()

    val untraced = ArrayBuffer[Double]()
    val traced = ArrayBuffer[Double]()
    val scans = ArrayBuffer[(ScanCounts, Int)]()
    val byLayout = scala.collection.mutable.Map[Int, ArrayBuffer[Double]]()
    val measured = rep.phase("measure")(ctx.loop(
        minOps = if (ctx.tiny) 10 else MinRequests * (if (ctx.traced) 2 else 1)) { (i, tracedOp) =>
        ctx.withCounters(tracedOp)(request(i, tracedOp)).foreach { c =>
          val ms = rep.latenciesMs.last
          if (tracedOp) { traced += ms; scans += c -> fileCount(i % 2) } else untraced += ms
          byLayout.getOrElseUpdate(i % 2, ArrayBuffer()) += ms
        }
    })
    ctx.trace.endOp()
    ctx.spark.listenerManager.unregister(plans)
    Timing.e2e(rep, untraced.toSeq, measured)
    rep.stamps("rows") = n
    rep.stamps("files_per_layout") = fileCount
    rep.stamps("p50_ms_per_layout") = byLayout.toSeq.sortBy(_._1).map(l => Stats.median(l._2.toSeq))
    rep.layer("table.out_bytes_per_in_byte",
      layouts.map(l => Ctx.treeBytes(Paths.get(l))).sum.toDouble /
        (2 * (0L until n).map(PolyGen.rawBytes(ctx.seed, _)).sum), "ratio")

    if (ctx.traced) {
      val k = math.max(1, traced.size)
      Timing.engine(rep, totals, k)
      Timing.overhead(rep, untraced.toSeq, traced.toSeq)
      rep.layer("table.read_plan_ms", ctx.trace.totalSeconds("table.read") * 1e3 / k, "ms")
      rep.layer("meta.footer_read_ms", ctx.trace.totalSeconds("meta.footer") * 1e3 / k, "ms")
      val returned = scans.map(_._1.rowsReturned).sum
      rep.layer("scan.rows_decoded_per_row_returned",
        scans.map(_._1.rowsDecoded).sum.toDouble / math.max(1L, returned), "ratio")
      rep.layer("scan.files_read_frac",
        scans.map { case (c, files) => c.filesRead.toDouble / files }.sum / math.max(1, scans.size), "ratio")
      rep.layer("geom.wkb_decode_ns_per_row", wkbDecodeNs(ctx), "ns")
    }
  }
}
