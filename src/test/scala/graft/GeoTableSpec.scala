package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.meta.{Footer, GeoMeta}
import graft.table.GeoTable
import graft.checks.Checks
import graft.SparkTestSession.{generatedSources, jobsDuring, withConf}

class GeoTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic scattered points with ids (lon/lat over the globe). */
  private def pointsTable(n: Int): GeoTable = {
    val df = spark.range(n).toDF("id")
      .withColumn("lon", (col("id") * 37 % 360 - 180 + (col("id") % 8) * 0.125))
      .withColumn("lat", (col("id") * 91 % 180 - 90 + (col("id") % 4) * 0.25))
      .withColumn("name", concat(lit("pt"), col("id")))
      .withColumn("geometry", geo.st_point(col("lon"), col("lat")))
      .drop("lon", "lat")
    GeoTable.fromDataFrame(df, "geometry")
  }

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/out"
  }

  test("firstPartFile: early-exit descent agrees with the full listing's " +
      "head on hive layouts; None on missing paths; file passthrough") {
    // nested hive layout (the partition writers' shape) with multiple
    // key directories, so the sorted descent has real branches to order
    val dir = tmpDir("firstpart")
    val df = spark.range(40).toDF("id")
      .withColumn("k", col("id") % 7)
      .withColumn("geometry", geo.st_point(col("id") * 1.0, col("id") * 1.0))
    df.write.partitionBy("k").parquet(dir)
    val all = Footer.partFiles(dir)
    assert(all.size >= 7)
    assert(Footer.firstPartFile(dir) == all.headOption,
      "sorted descent must pick the same file as the full listing's head")
    // a direct file path passes through
    assert(Footer.firstPartFile(all.head.toString).contains(all.head))
    // a missing local path is None, not an exception
    assert(Footer.firstPartFile(dir + "/nope").isEmpty)
    // _ / . prefixed files are skipped exactly like partFiles
    val marker = new java.io.File(dir, "_SUCCESS")
    assert(marker.exists() || marker.createNewFile())
    assert(Footer.firstPartFile(dir) == all.headOption)
  }

  test("one walk: partFiles, partFileStatuses and firstPartFile agree in " +
      "full-path order and never list staging parts") {
    import java.nio.file.{Files, Paths}
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFileSystem].getName)
    val root = Files.createTempDirectory("graft_walk")
    val rows = spark.range(0, 5).toDF("id").withColumn("v", col("id") * 2)
    rows.coalesce(1).write.parquet(root.resolve("src").toString)
    val src = Paths.get(Footer.partFiles(root.resolve("src").toString).head.toUri)
    def put(tree: java.nio.file.Path, rel: String): Unit = {
      val t = tree.resolve(rel)
      Files.createDirectories(t.getParent)
      Files.copy(src, t)
    }
    // name order would visit `k=a/` first; full-path order puts
    // `k=a.b/y` first, because '.' sorts before '/'
    val probe = root.resolve("probe")
    Seq("k=a/x.parquet", "k=a.b/y.parquet", "k=b/part-0.parquet").foreach(put(probe, _))
    val hive = root.resolve("hive")
    rows.withColumn("k", col("id") % 3).write.partitionBy("k").parquet(hive.toString)
    val h3 = root.resolve("h3")
    rows.withColumn("__h3", concat(lit("84"), col("id") % 2))
      .write.partitionBy("__h3").parquet(h3.toString)
    // staging parts, which Spark's listing never reads
    Seq(probe, hive, h3).foreach { t =>
      put(t, "_temporary/0/task_1/part-9.parquet")
      put(t, ".hive-staging_x/part-8.parquet")
    }
    val conf = spark.sessionState.newHadoopConf()
    for (t <- Seq(probe, hive, h3).map(_.toString) :+ s"graftfs://$h3") {
      val all = Footer.partFiles(t, conf)
      val names = all.map(_.toString)
      assert(all.nonEmpty && names == names.sorted, s"$t: $names")
      assert(!names.exists(n => n.contains("/_temporary/") || n.contains("/.hive-staging")),
        s"$t: $names")
      assert(Footer.partFileStatuses(t, conf).map(_.map(_.getPath)).contains(all), t)
      assert(Footer.firstPartFile(t, conf) == all.headOption, t)
      assert(Footer.rowCount(t, conf) == spark.read.parquet(t).count(), t)
    }
    assert(Footer.partFiles(probe.toString, conf)
      .map(p => probe.relativize(Paths.get(p.toUri)).toString) ==
      Seq("k=a.b/y.parquet", "k=a/x.parquet", "k=b/part-0.parquet"))
    // symlinks: a directory reached by two routes is walked twice, as
    // Spark's listing walks it; a link back to an ancestor is cut
    Files.createSymbolicLink(probe.resolve("k=c"), probe.resolve("k=b"))
    assert(Footer.partFiles(probe.toString, conf).size == 4)
    assert(GeoTable.listedRead(spark, probe.toString, mergeSchema = false)
      .map(_.df.count()).contains(spark.read.parquet(probe.toString).count()))
    Files.createSymbolicLink(probe.resolve("k=b/loop"), probe)
    assert(Footer.partFiles(probe.toString, conf).size == 4)
    assert(Footer.partFileStatuses(probe.toString, conf).map(_.size).contains(4))
    assert(Footer.firstPartFile(probe.toString, conf).isDefined)
  }

  test("writeGeoMetadata parallel pool: per-file failure propagates " +
      "loudly, never a silent partial footer pass") {
    val dir = tmpDir("parfooter")
    val t = pointsTable(60)
    t.write(s"$dir/d") // single part
    // add a second "part file" that is not parquet — the rewrite of that
    // file must fail the WHOLE call (Future.get propagation), not skip
    val junk = new java.io.File(s"$dir/d/part-junk.parquet")
    java.nio.file.Files.write(junk.toPath, Array.fill(64)(0x42.toByte))
    intercept[Exception] {
      Footer.writeGeoMetadata(s"$dir/d", t.meta.copy(primaryColumn = "geometry"))
    }
  }

  test("write + read round-trips GeoParquet footer metadata") {
    val out = tmpDir("meta")
    pointsTable(200).addBbox().write(out)
    // footer must carry `geo` with covering + per-file bbox
    val info = Footer.read(Footer.partFiles(out).head)
    val gm = info.geo.getOrElse(fail("no geo key written"))
    assert(gm.primaryColumn == "geometry")
    assert(gm.primary.get.coveringBbox.contains("bbox"))
    assert(gm.primary.get.bbox.isDefined)
    val (x0, y0, x1, y1) = gm.primary.get.bbox.get
    assert(x0 >= -180 && x1 <= 180 && y0 >= -90 && y1 <= 90 && x0 < x1 && y0 < y1)
    // read back: geometry column auto-detected from metadata
    val t = GeoTable.read(spark, out)
    assert(t.geometryColumn.contains("geometry"))
    assert(t.count() == 200)
    assert(t.meta.primary.get.coveringBbox.contains("bbox"))
  }

  test("bbox filter uses struct fast path and matches slow path") {
    val t = pointsTable(500)
    val withBbox = t.addBbox()
    val fast = withBbox.filterBbox(-60, -30, 60, 30).count()
    val slow = t.filterBbox(-60, -30, 60, 30).count() // no bbox col -> envelope path
    assert(fast == slow && fast > 0)
  }

  test("selectColumns keeps geometry implicitly, excludes explicitly") {
    val t = pointsTable(10).addBbox()
    val kept = t.selectColumns(include = Seq("id"))
    assert(kept.df.columns.toSet == Set("id", "geometry", "bbox"))
    val noGeom = t.selectColumns(include = Seq("id"), exclude = Seq("geometry", "bbox"))
    assert(noGeom.df.columns.toSet == Set("id"))
    assert(noGeom.geometryColumn.isEmpty)
    intercept[IllegalArgumentException](t.selectColumns(include = Seq("nope")))
  }

  test("sortHilbert improves spatial order below the 0.5 gate") {
    // shuffled points are spatially random; hilbert sort must fix that
    val t = pointsTable(2000)
    val before = t.checkSpatialOrder()
    val sorted = t.sortHilbert()
    val after = sorted.checkSpatialOrder()
    assert(after < 0.5, s"hilbert-sorted ratio $after should pass the <0.5 gate")
    assert(after < before, s"sort must improve ratio ($before -> $after)")
  }

  /** The bounds aggregate and global `orderBy` that sortHilbert made
    * before it became one sketch job plus one shuffle: the reference
    * behavior the sketch must reproduce exactly.
    */
  private def aggBounds(t: GeoTable): (Double, Double, Double, Double) = {
    val g = col("geometry")
    val r = t.meta.primary.flatMap(_.coveringBbox).filter(t.df.columns.contains) match {
      case Some(b) => t.df.agg(min(col(s"$b.xmin")), min(col(s"$b.ymin")),
        max(col(s"$b.xmax")), max(col(s"$b.ymax"))).head()
      case None => t.df.agg(min(geo.st_xmin(g)), min(geo.st_ymin(g)),
        max(geo.st_xmax(g)), max(geo.st_ymax(g))).head()
    }
    if (r.isNullAt(0)) (-180.0, -90.0, 180.0, 90.0)
    else (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  private def bits(b: (Double, Double, Double, Double)): Seq[Long] =
    b.productIterator.map(v =>
      java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])).toSeq

  /** `body` with AQE's shuffle-partition coalescing set to `on`. */
  private def coalescing[T](on: Boolean)(body: => T): T =
    withConf("spark.sql.adaptive.coalescePartitions.enabled", on.toString)(body)

  /** Hilbert keys of `df` in row order, over fixed bounds. */
  private def keySeq(df: org.apache.spark.sql.DataFrame,
      b: (Double, Double, Double, Double)): Seq[Option[Long]] =
    df.select(geo.hilbert_index(col("geometry"), b._1, b._2, b._3, b._4))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq

  /** id, geometry: scattered polygons and points, each geometry repeated
    * (duplicate keys), every 13th row a null geometry, and — when
    * `empties` — every 17th row an empty polygon (a NaN envelope).
    */
  private def sortFixture(n: Int, empties: Boolean): GeoTable = {
    val x = col("id") % 97 * 3.7 - 179
    val y = col("id") % 89 * 1.9 - 85
    val poly = geo.st_geomfromtext(concat(lit("POLYGON (("),
      x, lit(" "), y, lit(", "), x + 0.5, lit(" "), y, lit(", "),
      x + 0.5, lit(" "), y + 0.25, lit(", "), x, lit(" "), y, lit("))")))
    val base = when(col("id") % 2 === 0, geo.st_point(x, y)).otherwise(poly)
    val withEmpty =
      if (empties) when(col("id") % 17 === 0,
        geo.st_geomfromtext(lit("POLYGON EMPTY"))).otherwise(base)
      else base
    val df = spark.range(n).toDF("id").withColumn("geometry",
      when(col("id") % 13 === 0, lit(null).cast("binary")).otherwise(withEmpty))
    GeoTable.fromDataFrame(df, "geometry")
  }

  test("sortHilbert reproduces the bounds aggregate + orderBy key " +
      "sequence; bounds() is bit-identical to the aggregate") {
    val stored = tmpDir("hilbert_equiv")
    sortFixture(600, empties = false).addBbox().write(stored)
    val fromFile = GeoTable.read(spark, stored)
    assert(fromFile.meta.primary.flatMap(_.coveringBbox).contains("bbox"))
    val tables = Seq(
      "geometry" -> sortFixture(3000, empties = false),
      "geometry+empty" -> sortFixture(3000, empties = true),
      "bbox" -> sortFixture(3000, empties = false).addBbox(),
      "bbox+empty" -> sortFixture(3000, empties = true).addBbox(),
      "file bbox" -> fromFile,
      "0 rows" -> sortFixture(100, empties = false).filterWhere("id < 0"),
      "1 row" -> sortFixture(100, empties = false).filterWhere("id = 5"),
      "all null" -> sortFixture(100, empties = false).filterWhere("id % 13 = 0"))
    // with coalescing off the shuffle keeps all its partitions, so the
    // key sequence also checks that each row went to its split's partition
    for (coalesce <- Seq(true, false); (name, t) <- tables) coalescing(coalesce) {
      val b = aggBounds(t)
      assert(bits(t.bounds()) == bits(b), s"$name: bounds ${t.bounds()} vs $b")
      val want = keySeq(t.df.orderBy(
        geo.hilbert_index(col("geometry"), b._1, b._2, b._3, b._4)), b)
      val sorted = t.sortHilbert()
      assert(keySeq(sorted.df, b) == want, s"$name (coalesce=$coalesce)")
      assert(sorted.df.columns.toSeq == t.df.columns.toSeq)
      assert(sorted.df.select("id").as[Long].collect().sorted.toSeq ==
        t.df.select("id").as[Long].collect().sorted.toSeq, name)
    }
    // NaN ranks above every double: one empty geometry makes max NaN,
    // never min
    val nanB = sortFixture(3000, empties = true).bounds()
    assert(nanB._3.isNaN && nanB._4.isNaN && !nanB._1.isNaN && !nanB._2.isNaN)
    // the diagnostic dataBounds reads the same sketch, None without envelopes
    val g = sortFixture(3000, empties = false)
    assert(g.dataBounds.map(bits).contains(bits(aggBounds(g))))
    assert(sortFixture(100, empties = false).filterWhere("id % 13 = 0")
      .dataBounds.isEmpty)
  }

  test("sortHilbert plan: one sketch job, no range exchange") {
    val t = sortFixture(2000, empties = false).addBbox()
    val (sorted, jobs) = jobsDuring(t.sortHilbert())
    assert(jobs == 1, s"sortHilbert ran $jobs jobs")
    val plan = sorted.df.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("shufflepartitionidpassthrough"), plan)
    // with coalescing off, the splits spread the rows over every shuffle
    // partition (a placement that sent all rows to one partition would
    // still sort correctly, so the order pins alone cannot see it)
    val sizes = coalescing(on = false)(t.sortHilbert().df
      .groupBy(spark_partition_id()).count().collect().map(_.getLong(1)))
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(sizes.length == n && sizes.max <= 2 * 2000 / n, sizes.toSeq)
  }

  test("bbox filter drops null and empty geometries on both paths") {
    val df = Seq(Some("POLYGON EMPTY"), Some("POINT EMPTY"), Some("POINT (1 1)"),
        Some("POINT (50 50)"), None).toDF("wkt")
      .select(col("wkt"), geo.st_geomfromtext(col("wkt")).as("geometry"))
    val t = GeoTable.fromDataFrame(df, "geometry")
    for ((name, tt) <- Seq("envelope" -> t, "covering" -> t.addBbox()))
      assert(tt.filterBbox(0, 0, 10, 10).df.select("wkt").as[String]
        .collect().toSeq == Seq("POINT (1 1)"), name)
  }

  test("bbox filter: envelope and covering paths keep the same rows") {
    // closed box edges, -0.0 against a 0.0 edge, a box inside a polygon,
    // and misses on each side
    val wkts = Seq("POINT (10 10)", "POINT (0 0)", "POINT (-0.0 3)",
      "POINT (10.000001 5)", "POINT (5 -1e-9)", "LINESTRING (11 0, 12 12)",
      "LINESTRING (-3 -3, 0 0)", "POLYGON ((-5 -5, 20 -5, 20 20, -5 20, -5 -5))",
      "MULTIPOINT ((-1 -1), (11 11))", "POINT EMPTY")
    val df = wkts.toDF("wkt")
      .select(col("wkt"), geo.st_geomfromtext(col("wkt")).as("geometry"))
    val t = GeoTable.fromDataFrame(df, "geometry")
    val want = Seq("POINT (10 10)", "POINT (0 0)", "POINT (-0.0 3)",
      "LINESTRING (-3 -3, 0 0)", "POLYGON ((-5 -5, 20 -5, 20 20, -5 20, -5 -5))",
      "MULTIPOINT ((-1 -1), (11 11))")
    def kept(tt: GeoTable, x1: Double, y1: Double): Seq[String] =
      tt.filterBbox(0, 0, x1, y1).df.select("wkt").as[String].collect().toSeq
    assert(kept(t, 10, 10) == want)
    assert(kept(t.addBbox(), 10, 10) == want)
    // a NaN box edge sits above every double in Spark's order on both paths
    assert(kept(t, Double.NaN, Double.NaN) == kept(t.addBbox(), Double.NaN, Double.NaN))
  }

  test("envelope kernel: bounds, quadkey and Hilbert key equal the " +
      "per-geometry envelope reference bit for bit") {
    val wkts = Seq(None, Some("POINT EMPTY"), Some("POLYGON EMPTY"),
      Some("GEOMETRYCOLLECTION EMPTY"), Some("POINT (0 0)"),
      Some("POINT (-0.0 12.5)"), Some("POINT (-179.99 -85.1)"),
      Some("POINT (1e300 -1e300)"), Some("POINT (1.7e308 -1.7e308)"),
      Some("POINT (33.3333333333 44.4444444444)"),
      Some("LINESTRING (0 0, 3 7.25)"),
      Some("POLYGON ((10 10, 20 10, 20 25, 10 25, 10 10))"),
      Some("POLYGON ((-0.1 -0.2, 0.3 -0.2, 0.3 0.1, -0.1 -0.2))"),
      Some("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((40 -30, 41 -30, 41 -29, 40 -30)))"),
      Some("GEOMETRYCOLLECTION (POINT (5 5), LINESTRING (-20 3, -17 9), " +
        "POLYGON ((60 60, 61 60, 61 61, 60 60)))"))
    val b = (-30.0, -40.0, 70.0, 65.0)
    val g = col("geometry")
    val rows = wkts.toDF("wkt").select(geo.st_geomfromtext(col("wkt")).as("geometry"))
      .select(g, geo.st_xmin(g), geo.st_ymin(g), geo.st_xmax(g), geo.st_ymax(g),
        geo.quadkey_geom(g, 13), geo.hilbert_index(g, b._1, b._2, b._3, b._4))
      .collect()
    assert(rows.length == wkts.length)
    def raw(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    for (r <- rows) {
      val got = (1 to 6).map(i => if (r.isNullAt(i)) None else Some(r.get(i) match {
        case d: Double => raw(d)
        case v => v
      }))
      val want: Seq[Option[Any]] = Option(r.getAs[Array[Byte]](0)) match {
        case None => Seq.fill(6)(None)
        case Some(wkb) =>
          val geom = graft.geom.Wkb.read(wkb)
          val (x0, y0, x1, y1) = geom.envelope
          val (mx, my) = ((x0 + x1) / 2, (y0 + y1) / 2)
          // the removed per-geometry Hilbert kernel keyed a point by itself
          val (hx, hy) = geom match {
            case graft.geom.Point(x, y) => (x, y)
            case _ => (mx, my)
          }
          Seq(raw(x0), raw(y0), raw(x1), raw(y1),
            graft.geom.SpatialKey.quadkey(mx, my, 13),
            graft.geom.SpatialKey.hilbert(hx, hy, b._1, b._2, b._3, b._4)).map(Some(_))
      }
      assert(got == want, Option(r.getAs[Array[Byte]](0)).map(graft.geom.Wkb.read))
    }
    // the SQL names resolve to the same fields
    wkts.toDF("wkt").createOrReplaceTempView("envelope_kernel_wkts")
    val sql = spark.sql("SELECT st_xmin(g), st_ymin(g), st_xmax(g), st_ymax(g) " +
      "FROM (SELECT st_geomfromtext(wkt) AS g FROM envelope_kernel_wkts)").collect()
    assert(sql.map(r => (0 until 4).map(i =>
        if (r.isNullAt(i)) None else Some(raw(r.getDouble(i))))).toSeq ==
      rows.map(r => (1 to 4).map(i =>
        if (r.isNullAt(i)) None else Some(raw(r.getDouble(i))))).toSeq)
  }

  /** Calls into `GeoEval` in the generated code of `df`'s physical plan,
    * by method name.
    */
  private def geoEvalCalls(df: => org.apache.spark.sql.DataFrame): Map[String, Int] = {
    val code = generatedSources(df).mkString
    assert(!code.contains("Wkb.read("), code)
    "GeoEval\\.(\\w+)\\(".r.findAllMatchIn(code).map(_.group(1)).toSeq
      .groupBy(identity).map { case (m, calls) => m -> calls.size }
  }

  test("geo_etl chain, sort sketch and bbox filter decode each WKB once per row") {
    val in = tmpDir("one_decode")
    // empty geometries make the sort bounds NaN, which the key stage
    // must still compile
    sortFixture(2000, empties = true).write(in)
    val t = GeoTable.read(spark, in).addBbox().addQuadkey()
    // GeoEval methods that never decode a WKB
    val decodeFree = Set("hilbertXY", "quadkeyLonLat", "bucketOf", "envelopeInBox")
    for ((name, df) <- Seq("chain" -> (() => t.sortHilbert().df),
        "sketch" -> (() => t.sketchInput),
        "sketch without covering" -> (() => GeoTable.read(spark, in).sketchInput),
        "bbox filter without covering" ->
          (() => GeoTable.read(spark, in).filterBbox(-10, -10, 10, 10).df))) {
      val calls = geoEvalCalls(df())
      assert(calls.get("stEnvelope").contains(1), s"$name: $calls")
      assert((calls.keySet - "stEnvelope").subsetOf(decodeFree), s"$name: $calls")
    }
  }

  /** The Parquet `PushedFilters` of each file scan in `df`'s plan. */
  private def pushedFilters(df: org.apache.spark.sql.DataFrame): Seq[String] =
    withConf("spark.sql.adaptive.enabled", "false") {
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("PushedFilters", "")
      }
    }

  /** Two bbox windows whose digits are unlikely in generated Java. */
  private val W1 = (-12.3456, -23.4567, 34.5678, 45.6789)
  private val W2 = (-1.9876, -2.8765, 3.7654, 4.6543)

  /** The four covering comparisons a window `w` pushes to Parquet. */
  private def bboxPushed(w: (Double, Double, Double, Double)): Seq[String] =
    Seq(s"GreaterThanOrEqual(bbox.xmax,${w._1})", s"LessThanOrEqual(bbox.xmin,${w._3})",
      s"GreaterThanOrEqual(bbox.ymax,${w._2})", s"LessThanOrEqual(bbox.ymin,${w._4})")

  test("filterBbox: a new window reuses the generated code; the covering " +
      "comparisons still push down") {
    val covered = tmpDir("param_covered")
    pointsTable(2000).addBbox().write(covered)
    val hive = tmpDir("param_hive")
    pointsTable(2000).addBbox().partitionByQuadkey(4, 1, hive)
    val uncovered = tmpDir("param_uncovered")
    sortFixture(2000, empties = true).write(uncovered)
    for ((name, path) <- Seq("covered" -> covered, "hive" -> hive,
        "uncovered" -> uncovered)) {
      val t = GeoTable.read(spark, path)
      def filtered(w: (Double, Double, Double, Double)) =
        t.filterBbox(w._1, w._2, w._3, w._4).df
      val src1 = generatedSources(filtered(W1))
      val src2 = generatedSources(filtered(W2))
      assert(src1.nonEmpty, name)
      assert(src1 == src2, s"$name: the window changed the generated code")
      val digits = Seq(W1, W2).flatMap(_.productIterator)
        .map(d => math.abs(d.asInstanceOf[Double]).toString)
      for (d <- digits) assert(!src1.mkString.contains(d), s"$name: $d in the source")
      if (name != "uncovered") {
        val pushed = pushedFilters(filtered(W1))
        assert(pushed.size == 1, s"$name: $pushed")
        for (c <- bboxPushed(W1))
          assert(pushed.head.contains(c), s"$name: $c not in ${pushed.head}")
      }
      // the rows follow the window, not the first compiled one
      for (w <- Seq(W1, W2))
        assert(filtered(w).count() == t.df.filter(
          col("geometry").isNotNull &&
            geo.st_xmax(col("geometry")) >= w._1 && geo.st_xmin(col("geometry")) <= w._3 &&
            geo.st_ymax(col("geometry")) >= w._2 && geo.st_ymin(col("geometry")) <= w._4)
          .count(), s"$name: $w")
    }
  }

  test("BboxPushdownRule: an st_intersects query with a new polygon reuses " +
      "the generated code and pushes the four comparisons") {
    graft.plans.GraftExtensions.install(spark)
    val covered = tmpDir("param_rule")
    pointsTable(2000).addBbox().write(covered)
    def query(w: (Double, Double, Double, Double)) = spark.read.parquet(covered)
      .filter(geo.st_intersects(col("geometry"), geo.st_makeenvelope(w._1, w._2, w._3, w._4)))
    val src1 = generatedSources(query(W1))
    assert(src1.nonEmpty && src1 == generatedSources(query(W2)))
    val pushed = pushedFilters(query(W1))
    for (c <- bboxPushed(W1))
      assert(pushed.exists(_.contains(c)), s"$c not in $pushed")
    for (w <- Seq(W1, W2))
      assert(query(w).count() == GeoTable.read(spark, covered).filterBbox(w._1, w._2, w._3, w._4)
        .df.count(), s"$w")
  }

  /** Closed edges, -0.0, coordinates just off the box, empty and null. */
  private def edgeTable: GeoTable = {
    val wkts = Seq(Some("POINT (10 10)"), Some("POINT (0 0)"), Some("POINT (-0.0 3)"),
      Some("POINT (3 -0.0)"), Some("POINT (10.000001 5)"), Some("POINT (5 -1e-9)"),
      Some("LINESTRING (11 0, 12 12)"), Some("LINESTRING (-3 -3, 0 0)"),
      Some("POLYGON ((-5 -5, 20 -5, 20 20, -5 20, -5 -5))"),
      Some("MULTIPOINT ((-1 -1), (11 11))"), Some("POINT EMPTY"),
      Some("POLYGON EMPTY"), None)
    GeoTable.fromDataFrame(wkts.toDF("wkt")
      .select(col("wkt"), geo.st_geomfromtext(col("wkt")).as("geometry")), "geometry")
  }

  /** `t` with its covering written as FLOAT fields (spec-legal; other
    * writers produce it) under a fresh directory.
    */
  private def writeFloatCovered(t: GeoTable, name: String): String = {
    val path = tmpDir(name)
    val c = t.addBbox()
    c.copy(df = c.df.withColumn("bbox", col("bbox")
      .cast("struct<xmin:float,ymin:float,xmax:float,ymax:float>")
      .as("bbox", c.df.schema("bbox").metadata))).write(path)
    path
  }

  test("filterBbox keeps the rows of plain-Literal comparisons on the edge " +
      "table: closed edges, -0.0, NaN and infinite box edges, empty and null") {
    val t = edgeTable
    // read back from Parquet, so the filters run in generated code rather
    // than folded over a local relation
    val covered = tmpDir("edge_covered")
    t.addBbox().write(covered)
    val uncovered = tmpDir("edge_uncovered")
    t.write(uncovered)
    val ref = GeoTable.read(spark, covered).df
    val inf = Double.PositiveInfinity
    for (w <- Seq((0.0, 0.0, 10.0, 10.0), (-0.0, -0.0, 10.0, 10.0), (0.0, 0.0, 0.0, 3.0),
        (0.0, 0.0, Double.NaN, Double.NaN), (Double.NaN, Double.NaN, 10.0, 10.0),
        (-inf, -inf, inf, inf), (inf, inf, -inf, -inf))) {
      val want = ref.filter(col("bbox.xmax") >= lit(w._1) && col("bbox.xmin") <= lit(w._3) &&
          col("bbox.ymax") >= lit(w._2) && col("bbox.ymin") <= lit(w._4))
        .select("wkt").as[String].collect().toSeq.sorted
      for (path <- Seq(covered, uncovered))
        assert(GeoTable.read(spark, path).filterBbox(w._1, w._2, w._3, w._4).df
          .select("wkt").as[String].collect().toSeq.sorted == want, s"$path $w")
    }
  }

  test("filterBbox on a FLOAT covering: a new window reuses the generated " +
      "code; the four comparisons still push down") {
    val path = writeFloatCovered(pointsTable(2000), "float_param")
    val t = GeoTable.read(spark, path)
    assert(t.df.schema("bbox").dataType.sql ==
      "STRUCT<xmin: FLOAT, ymin: FLOAT, xmax: FLOAT, ymax: FLOAT>")
    def filtered(w: (Double, Double, Double, Double)) =
      t.filterBbox(w._1, w._2, w._3, w._4).df
    val src1 = generatedSources(filtered(W1))
    assert(src1.nonEmpty && src1 == generatedSources(filtered(W2)),
      "the window changed the generated code")
    for (d <- Seq(W1, W2).flatMap(_.productIterator).map(_.asInstanceOf[Double]);
        s <- Seq(math.abs(d).toString, math.abs(d.toFloat).toString))
      assert(!src1.mkString.contains(s), s"$s in the source")
    val pushed = pushedFilters(filtered(W1))
    assert(pushed.size == 1, pushed)
    def f(l: org.apache.spark.sql.catalyst.expressions.Literal) = l.value.toString
    import graft.functions.ParamLiteral.{atLeast, atMost}
    import org.apache.spark.sql.types.FloatType
    for (c <- Seq(s"GreaterThanOrEqual(bbox.xmax,${f(atLeast(W1._1, FloatType))})",
        s"LessThanOrEqual(bbox.xmin,${f(atMost(W1._3, FloatType))})",
        s"GreaterThanOrEqual(bbox.ymax,${f(atLeast(W1._2, FloatType))})",
        s"LessThanOrEqual(bbox.ymin,${f(atMost(W1._4, FloatType))})"))
      assert(pushed.head.contains(c), s"$c not in ${pushed.head}")
    // the st_intersects rule compares in the field's type as well
    graft.plans.GraftExtensions.install(spark)
    def query(w: (Double, Double, Double, Double)) = spark.read.parquet(path)
      .filter(geo.st_intersects(col("geometry"), geo.st_makeenvelope(w._1, w._2, w._3, w._4)))
    val rule1 = generatedSources(query(W1))
    assert(rule1.nonEmpty && rule1 == generatedSources(query(W2)))
    assert(pushedFilters(query(W1)).exists(_.contains("GreaterThanOrEqual(bbox.xmax,")))
    for (w <- Seq(W1, W2))
      assert(query(w).count() == filtered(w).count(), s"$w")
  }

  test("filterBbox on a FLOAT covering keeps the rows of the plain double " +
      "comparison: window edges a float cannot hold, -0.0, NaN and ±∞") {
    val path = writeFloatCovered(edgeTable, "float_edge")
    // the reference: the widened double comparison evaluated as written
    // (the rule that would narrow it to float literals excluded)
    def want(w: (Double, Double, Double, Double)): Seq[String] =
      withConf("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.UnwrapCastInBinaryComparison") {
        spark.read.parquet(path).filter(
          col("bbox.xmax").cast("double") >= lit(w._1) &&
            col("bbox.xmin").cast("double") <= lit(w._3) &&
            col("bbox.ymax").cast("double") >= lit(w._2) &&
            col("bbox.ymin").cast("double") <= lit(w._4))
          .select("wkt").as[String].collect().toSeq.sorted
      }
    val inf = Double.PositiveInfinity
    val windows = Seq((0.1, 0.1, 9.9999999, 9.9999999), (10.0000001, -1e-50, 20.0, 20.0),
      (0.0, 0.0, 10.0000009, 10.0), (-1e-50, -1e-50, 1e-50, 3.0000001),
      (-0.0, -0.0, 10.0, 10.0), (0.0, 0.0, Double.NaN, Double.NaN),
      (Double.NaN, Double.NaN, 10.0, 10.0), (-inf, -inf, inf, inf), (inf, inf, -inf, -inf),
      (-1e300, -1e300, 1e300, 1e300), (1e300, 1e300, -1e300, -1e300))
    // the windows must cut through float rounding, not only whole rows
    assert(windows.map(want).distinct.size > 5)
    for (w <- windows)
      assert(GeoTable.read(spark, path).filterBbox(w._1, w._2, w._3, w._4).df
        .select("wkt").as[String].collect().toSeq.sorted == want(w), s"$w")
  }

  test("key bounds and precision grids at NaN and ±Infinity stay in " +
      "whole-stage codegen and equal eval") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.GraftBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    // the kernel over literal inputs, evaluated without codegen
    def evalLit(f: Seq[Column] => Column, vs: Any*): Any =
      expression(f(vs.map(v => column(Literal(v))))).eval()
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    val xy = spark.range(60).select((col("id") * 7 % 23 - 11.5).as("x"),
      (col("id") * 5 % 19 - 9.25).as("y"))
    val pts = xy.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    for (b <- Seq((nan, nan, nan, nan), (-inf, -inf, inf, inf), (0.0, nan, inf, 10.0),
        (-10.0, -10.0, nan, -inf), (inf, inf, -inf, -inf))) {
      for ((name, key, kernel) <- Seq(
          ("hilbertXY", geo.hilbert_xy _, (x: Double, y: Double) => evalLit(
            c => geo.hilbert_xy(c(0), c(1), b._1, b._2, b._3, b._4), x, y)),
          ("mortonXY", geo.morton_xy _, (x: Double, y: Double) => evalLit(
            c => geo.morton_xy(c(0), c(1), b._1, b._2, b._3, b._4), x, y)))) {
        val df = xy.select(key(col("x"), col("y"), b._1, b._2, b._3, b._4))
        assert(generatedSources(df).mkString.contains(s"GeoEval.$name("), s"$name $b")
        val got = df.collect().map(_.getLong(0)).toSeq
        assert(got == pts.map { case (x, y) => kernel(x, y) }.toSeq, s"$name $b")
      }
    }
    val wkb = xy.select(geo.st_point(col("x"), col("y")).as("g"))
    val geoms = wkb.collect().map(_.getAs[Array[Byte]](0))
    for (grid <- Seq(nan, inf, -inf, 0.5)) {
      val df = wkb.select(geo.st_reduceprecision(col("g"), grid))
      assert(generatedSources(df).mkString.contains("GeoEval.stReducePrecision("), s"$grid")
      val got = df.collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq
      assert(got == geoms.map(g => evalLit(c => geo.st_reduceprecision(c(0), grid), g)
        .asInstanceOf[Array[Byte]].toSeq).toSeq, s"$grid")
    }
  }

  test("quadkey: CRS gate + sort") {
    val t = pointsTable(100)
    val q = t.addQuadkey(zoom = 5)
    val keys = q.df.select("quadkey").collect().map(_.getString(0))
    assert(keys.forall(k => k.length == 5 && k.forall(c => c >= '0' && c <= '3')))
    // projected CRS must refuse quadkey (reference gate)
    val projected = t.copy(meta = t.meta.copy(columns = Map("geometry" ->
      graft.meta.GeoColumnMeta(crs = Some(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree("""{"id":{"authority":"EPSG","code":3857}}"""))))))
    intercept[IllegalArgumentException](projected.addQuadkey())
  }

  test("bbox filter CRS-mismatch warning fires in both directions") {
    val t = pointsTable(10)
    // geographic table + degree bbox: no mismatch
    assert(t.bboxCrsMismatch(-10, -10, 10, 10).isEmpty)
    // geographic table + projected-magnitude bbox: warn
    assert(t.bboxCrsMismatch(-1.1e6, -1e6, 1e6, 1e6)
      .exists(_.contains("outside lon/lat bounds")))
    val projected = t.copy(meta = t.meta.copy(columns = Map("geometry" ->
      graft.meta.GeoColumnMeta(crs = Some(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree("""{"id":{"authority":"EPSG","code":3857}}"""))))))
    // projected table + degree bbox: warn
    assert(projected.bboxCrsMismatch(-10, -10, 10, 10)
      .exists(_.contains("looks like lon/lat degrees")))
    // projected table + projected bbox: no mismatch
    assert(projected.bboxCrsMismatch(-1.1e6, -1e6, 1e6, 1e6).isEmpty)
    // and the filter itself still selects correctly either way
    assert(t.filterBbox(-10, -10, 10, 10).count() > 0)
  }

  test("CRS-mismatch warning on the reference 5070 fixture carries data bounds") {
    // real projected data (EPSG:5070 Albers, reference fixture): a
    // degree-shaped bbox must diagnose the mismatch, and the warning
    // path must be able to report the actual data bounds like the
    // reference's _warn_if_crs_mismatch (core/extract.py:222-247)
    val t = GeoTable.readNativeGeo(spark,
      "/root/reference/tests/data/fields_pgo_5070_snappy.parquet")
    assert(!t.isGeographicCrs)
    assert(t.bboxCrsMismatch(-10, -10, 10, 10)
      .exists(_.contains("looks like lon/lat degrees")))
    val b = t.dataBounds
    assert(b.isDefined)
    // Albers CONUS coordinates are in meters — magnitudes far outside
    // degree range prove the bounds came from the projected data
    assert(math.abs(b.get._1) > 1000 || math.abs(b.get._3) > 1000)
    // no mismatch for a bbox in the data's own CRS
    assert(t.bboxCrsMismatch(b.get._1, b.get._2, b.get._3, b.get._4).isEmpty)
  }

  test("enrich join CRS-consistency gate fires on mismatched sides") {
    val t = pointsTable(10)
    def projected(g: GeoTable) = g.copy(meta = g.meta.copy(columns =
      Map("geometry" -> graft.meta.GeoColumnMeta(crs = Some(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree("""{"id":{"authority":"EPSG","code":3857}}"""))))))
    // same family (both geographic): no warning
    assert(t.enrichCrsMismatch(pointsTable(5)).isEmpty)
    // geographic table vs projected boundaries: warn
    assert(t.enrichCrsMismatch(projected(pointsTable(5)))
      .exists(_.contains("geographic vs projected")))
    // projected vs geographic: warn (other direction)
    assert(projected(t).enrichCrsMismatch(pointsTable(5))
      .exists(_.contains("geographic vs projected")))
    // both projected, same CRS: no warning
    assert(projected(t).enrichCrsMismatch(projected(pointsTable(5))).isEmpty)
    // and the GeoTable-typed enrich entry still joins (warn, don't fail)
    val bounds = pointsTable(5)
    val enriched = t.enrichSpatial(bounds, Seq.empty)
    assert(enriched.df.count() >= t.df.count())
  }

  test("reproject round-trips through webmercator") {
    val t = pointsTable(50)
    val back = t.reproject("EPSG:4326", "EPSG:3857")
      .reproject("EPSG:3857", "EPSG:4326")
    val orig = t.df.select(geo.st_x(col("geometry"))).as[Double].collect()
    val rt = back.df.select(geo.st_x(col("geometry"))).as[Double].collect()
    orig.zip(rt).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("partitioned write: hive layout + guardrails") {
    val out = tmpDir("part")
    val t = pointsTable(2000)
    t.addQuadkey(zoom = 2).partitionByString("quadkey", None, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("__part=")))
    // read back through partition discovery
    val readBack = spark.read.parquet(out)
    assert(readBack.count() == 2000)
    // guardrail: partitioning 2000 rows by id would make 2000 partitions
    // of 1 row each -> must refuse
    intercept[IllegalArgumentException] {
      t.partitionByString("name", None, tmpDir("bad"))
    }
  }

  test("validate passes on our own output and flags corrupted metadata") {
    val out = tmpDir("validate")
    pointsTable(100).addBbox().write(out)
    val findings = Checks.validate(spark, out)
    assert(findings.isEmpty, s"unexpected findings: $findings")
    assert(Checks.checkBboxStructure(out) == "optimal")
    // corrupt the declared bbox -> validation must flag containment
    val p = Footer.partFiles(out).head
    val gm = Footer.read(p).geo.get
    val corrupted = gm.copy(columns = gm.columns.map { case (n, c) =>
      n -> c.copy(bbox = Some((0.0, 0.0, 1.0, 1.0)))
    })
    Footer.withKeyValueMetadata(p,
      Map(GeoMeta.FooterKey -> GeoMeta.toJson(corrupted)))
    val bad = Checks.validate(spark, out)
    assert(bad.exists(_.check == "bbox"), s"expected bbox finding, got $bad")
  }

  test("inspect + row count are footer-only") {
    val out = tmpDir("inspect")
    pointsTable(300).addBbox().write(out)
    val s = Checks.inspect(out)
    assert(s.rowCount == 300 && s.hasGeoMetadata && s.numRowGroups >= 1)
    assert(Footer.rowCount(out) == 300)
  }

  test("geojson features + csv ingestion") {
    val t = pointsTable(5)
    val features = t.toGeoJsonFeatures(precision = 6).as[String].collect()
    assert(features.length == 5)
    features.foreach { f =>
      assert(f.contains("\"type\":\"Feature\"") && f.contains("\"Point\""))
    }
    // csv with WKT + invalid row skipping
    val csv = java.nio.file.Files.createTempFile("pts", ".csv")
    java.nio.file.Files.writeString(csv,
      "id,wkt\n1,POINT (1 2)\n2,GARBAGE\n3,POINT (3 4)\n")
    val fromCsv = GeoTable.fromCsv(spark, csv.toString,
      wktColumn = Some("wkt"), skipInvalid = true)
    assert(fromCsv.count() == 2)
    // strict mode: the malformed row must error once the geometry column
    // is actually materialized (count() alone prunes it away — lazy plan)
    val strict = GeoTable.fromCsv(spark, csv.toString, wktColumn = Some("wkt"))
    intercept[Exception](strict.df.select("geometry").collect())
  }

  test("spatial enrich join + hierarchical admin partition") {
    val t = pointsTable(1000)
    // boundary table: 4 quadrant polygons with region/zone attributes
    val cells = Seq(
      ("west", "sw", "POLYGON ((-180 -90, 0 -90, 0 0, -180 0, -180 -90))"),
      ("west", "nw", "POLYGON ((-180 0, 0 0, 0 90, -180 90, -180 0))"),
      ("east", "se", "POLYGON ((0 -90, 180 -90, 180 0, 0 0, 0 -90))"),
      ("east", "ne", "POLYGON ((0 0, 180 0, 180 90, 0 90, 0 0))"))
    import spark.implicits._
    val boundaries = cells.toDF("region", "zone", "wkt")
      .withColumn("bgeom", geo.st_geomfromtext(col("wkt"))).drop("wkt")

    val enriched = t.enrichSpatial(boundaries, "bgeom", Seq("region", "zone"))
    assert(enriched.df.columns.contains("region"))
    // every point lands in at least one quadrant (boundaries cover globe)
    assert(enriched.df.filter(col("region").isNull).count() == 0)

    val out = tmpDir("admin")
    t.partitionByAdmin(boundaries, "bgeom", Seq("region", "zone"), out)
    val level1 = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(level1.toSet == Set("region=west", "region=east"))
    val level2 = new java.io.File(s"$out/region=west").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(level2.toSet.subsetOf(Set("zone=sw", "zone=nw")))
    // boundary-edge points may match two cells; count must be >= input
    assert(spark.read.parquet(out).count() >= 1000)

    // split by existing code column
    val out2 = tmpDir("split")
    enriched.splitByCountry("region", out2)
    assert(new java.io.File(out2).listFiles().map(_.getName)
      .count(_.startsWith("region=")) == 2)
  }

  test("file type detection") {
    val out = tmpDir("ftype")
    pointsTable(50).addBbox().write(out)
    val p = graft.meta.Footer.partFiles(out).head
    assert(graft.meta.Footer.detectFileType(p) == "geoparquet")
    val plain = tmpDir("plainpq")
    spark.range(10).toDF("id").write.parquet(plain)
    assert(graft.meta.Footer.detectFileType(
      graft.meta.Footer.partFiles(plain).head) == "plain")
  }

  test("csv and geojson sinks") {
    val t = pointsTable(20)
    val csvOut = tmpDir("csvsink")
    t.writeCsv(csvOut)
    val back = spark.read.option("header", "true").csv(csvOut)
    assert(back.count() == 20)
    assert(back.columns.contains("wkt"))
    assert(back.select("wkt").head().getString(0).startsWith("POINT ("))
    val gjOut = tmpDir("gjsink")
    t.writeGeoJsonSeq(gjOut, precision = 3)
    val lines = spark.read.text(gjOut)
    assert(lines.count() == 20)
    val fc = t.limit(3).toFeatureCollection()
    assert(fc.startsWith("""{"type":"FeatureCollection"""") && fc.endsWith("]}"))
  }

  test("writeFeatureCollection streams parts, byte-identical to driver path") {
    val t = pointsTable(50)
    val out = tmpDir("fcsink") + "/fc.json"
    t.writeFeatureCollection(out, precision = 6)
    val streamed = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(streamed == t.toFeatureCollection(precision = 6))
    // the ndjson staging directory is cleaned up
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(out + ".parts.tmp")))
  }

  test("single-file sinks round-trip through a FileSystem URI (upload path)") {
    // an explicit file:// URI takes uploadIfRemote's write-local-then-
    // FileSystem-copy branch — the same code path an s3a:// dest would
    // take with cloud jars on the classpath
    val t = pointsTable(12)
    val base = tmpDir("uriupload")
    t.writeGeoPackage(s"file://$base/out.gpkg")
    assert(GeoTable.fromGeoPackage(spark, s"$base/out.gpkg").df.count() == 12)
    t.writeShapefile(s"file://$base/out.shp")
    assert(graft.sources.Shapefile.read(s"$base/out.shp").geoms.size == 12)
    assert(java.nio.file.Files.exists( // sibling .dbf uploaded too
      java.nio.file.Paths.get(s"$base/out.dbf")))
    t.writeFlatGeobuf(s"file://$base/out.fgb")
    assert(graft.sources.FlatGeobuf.read(s"$base/out.fgb").geoms.size == 12)
  }

  test("custom FileSystem scheme: uploadIfRemote + distributed write " +
      "dispatch beyond file://") {
    // register the cloud-store test double under its own scheme — the
    // same wiring an s3a/gs/abfs connector jar provides for real stores
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFileSystem].getName)
    val base = tmpDir("graftfs")
    // single-file sink through uploadIfRemote's write-local-then-copy
    val t = pointsTable(12)
    t.writeGeoPackage(s"graftfs://$base/out.gpkg")
    assert(GeoTable.fromGeoPackage(spark, s"$base/out.gpkg").df.count() == 12)
    // distributed write: Spark's committer against the custom scheme
    t.df.write.mode("overwrite").parquet(s"graftfs://$base/pq")
    assert(spark.read.parquet(s"$base/pq").count() == 12)
    // and a GeoTable write (footer rewrite included) round-trips
    t.write(s"graftfs://$base/geo")
    val back = GeoTable.read(spark, s"graftfs://$base/geo")
    assert(back.df.count() == 12 && back.meta.primary.nonEmpty)
  }

  test("prefilled-index read planning fires through a NON-local scheme " +
      "(r16 #6) with schema parity and the foreign-file guard") {
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFileSystem].getName)
    val base = tmpDir("graftfs_fast")
    val df = spark.range(0, 40).toDF("id")
      .withColumn("cell", concat(lit("8a2a"), format_string("%x", col("id"))))
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    df.write.partitionBy("cell").parquet(s"graftfs://$base/h3")
    val conf = spark.sessionState.newHadoopConf()
    // the listing resolves through the scheme's OWN FileSystem
    val st = graft.meta.Footer.partFileStatuses(s"graftfs://$base/h3", conf)
    assert(st.exists(_.nonEmpty), "FS-backed listing must fire")
    assert(st.get.forall(_.getPath.toUri.getScheme == "graftfs"))
    // end-to-end: fast read == stock read (schema, rows, pruning value)
    val fast = GeoTable.listedRead(spark, s"graftfs://$base/h3",
      mergeSchema = false).map(_.df)
    assert(fast.isDefined, "fast path must build the prefilled index")
    val stock = spark.read.parquet(s"graftfs://$base/h3")
    assert(fast.get.schema == stock.schema,
      s"${fast.get.schema.sql} != ${stock.schema.sql}")
    assert(fast.get.count() == 40 &&
      fast.get.filter(col("cell") === "8a2a1f").count() ==
        stock.filter(col("cell") === "8a2a1f").count())
    // foreign non-hidden file through the scheme: decline (stock keeps
    // those rows), same rule as the local walk
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/h3/cell=8a2a1f/000000_0"), "x")
    assert(graft.meta.Footer.partFileStatuses(
      s"graftfs://$base/h3", conf).isEmpty)
  }

  test("check/fix pipeline composes") {
    val outRaw = tmpDir("fixsrc")
    // write WITHOUT bbox and unsorted
    pointsTable(500).write(outRaw)
    val outFixed = tmpDir("fixdst")
    val applied = Checks.fix(spark, outRaw, outFixed)
    assert(applied.contains("add_bbox") && applied.contains("sort_hilbert"))
    val t = GeoTable.read(spark, outFixed)
    assert(t.checkSpatialOrder() < 0.5)
    assert(Checks.checkBboxStructure(outFixed) == "optimal")
  }

  test("reproject recomputes the bbox covering column in the new CRS") {
    val out = tmpDir("reproj_bbox")
    pointsTable(200).addBbox().write(out)
    val t = GeoTable.read(spark, out).reproject("EPSG:4326", "EPSG:3857")
    // the covering fast path must now carry METER values — a filter in
    // meters has to find the same rows the precise predicate finds
    val viaBbox = t.filterBbox(-7e6, -4e6, 7e6, 4e6).count()
    val precise = t.df.filter(
      geo.st_x(col("geometry")).between(-7e6, 7e6) &&
        geo.st_y(col("geometry")).between(-4e6, 4e6)).count()
    assert(viaBbox == precise && viaBbox > 0, s"$viaBbox vs $precise")
    // and the declared dataset bbox was invalidated (write recomputes)
    assert(t.meta.primary.get.bbox.isEmpty)
  }

  test("filterBbox falls back to the slow path when the covering column " +
      "was projected away") {
    val out = tmpDir("cov_dropped")
    pointsTable(100).addBbox().write(out)
    val t = GeoTable.read(spark, out).selectColumns(exclude = Seq("bbox"))
    val n = t.filterBbox(-60, -30, 60, 30).count() // must not throw
    val want = t.df.filter(geo.st_x(col("geometry")).between(-60, 60) &&
      geo.st_y(col("geometry")).between(-30, 30)).count()
    assert(n == want)
  }

  test("partitionByFlat: sanitized-name collisions keep BOTH partitions") {
    val out = tmpDir("flat_collide")
    val df = spark.range(40).toDF("id")
      .withColumn("k", when(col("id") % 2 === 0, "a b").otherwise("a_b"))
      .withColumn("geometry", geo.st_point(col("id").cast("double"), lit(0.0)))
    GeoTable.fromDataFrame(df, "geometry")
      .partitionByFlat(col("k"), out, force = true)
    val back = spark.read.parquet(out + "/*.parquet")
    assert(back.count() == 40, "a colliding partition silently vanished")
    val files = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.length >= 2, files.mkString(","))
  }

  test("sortQuadkey never drops a user's pre-existing quadkey column") {
    val t = pointsTable(50).addQuadkey(6)
    assert(t.sortQuadkey(6).df.columns.contains("quadkey"))
    // while a quadkey the method itself added is still dropped
    assert(!pointsTable(50).sortQuadkey(6).df.columns.contains("quadkey"))
  }

  test("empty tables: bounds/sortHilbert/checkSpatialOrder stay total") {
    val empty = pointsTable(100).filterWhere("id < 0")
    assert(empty.bounds() == (-180.0, -90.0, 180.0, 90.0))
    assert(empty.sortHilbert().count() == 0) // no NPE
    val one = pointsTable(1)
    assert(one.checkSpatialOrder().isNaN) // < 2 rows: no signal, no NPE
  }

  test("bboxFromStats reads FLOAT covering statistics") {
    val out = tmpDir("float_bbox")
    spark.range(100).toDF("id")
      .withColumn("bbox", struct(
        (col("id") % 10).cast("float").as("xmin"),
        (col("id") % 5).cast("float").as("ymin"),
        (col("id") % 10 + 1).cast("float").as("xmax"),
        (col("id") % 5 + 1).cast("float").as("ymax")))
      .write.parquet(out)
    val bb = Footer.bboxFromStats(out, "bbox")
    assert(bb.contains((0.0, 0.0, 10.0, 5.0)), bb.toString)
  }

  // ---- round-12 table sweep regressions ---------------------------------

  test("reproject on a footer-less table records the new CRS (quadkey " +
      "gate must reject meter coordinates)") {
    val df = spark.range(1, 50).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), col("id").cast("double")))
    // footer-less: GeoMeta() with an empty columns map
    val t = GeoTable(df, graft.meta.GeoMeta(), Some("geometry"))
    val projected = t.reproject("EPSG:4326", "EPSG:3857")
    assert(!projected.isGeographicCrs,
      "projected table must not classify as geographic")
    val e = intercept[IllegalArgumentException](projected.addQuadkey())
    assert(e.getMessage.contains("geographic"))
  }

  test("addBbox on a footer-less table records the covering in metadata") {
    val df = spark.range(1, 20).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    val t = GeoTable(df, graft.meta.GeoMeta(), Some("geometry")).addBbox()
    assert(t.meta.primary.flatMap(_.coveringBbox).contains("bbox"))
    // and it survives a write/read round trip
    val out = java.nio.file.Files.createTempDirectory("graft_cov").toString + "/d"
    t.write(out)
    val back = GeoTable.read(spark, out)
    assert(back.meta.primary.flatMap(_.coveringBbox).contains("bbox"))
  }

  test("writing after the covering column was excluded drops the stale " +
      "covering from the footer") {
    val df = spark.range(1, 20).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    val t = GeoTable.fromDataFrame(df, "geometry").addBbox()
    val out = java.nio.file.Files.createTempDirectory("graft_nocov").toString + "/d"
    t.selectColumns(exclude = Seq("bbox")).write(out)
    val back = GeoTable.read(spark, out)
    assert(back.meta.primary.flatMap(_.coveringBbox).isEmpty,
      "footer must not advertise a covering for a column absent from the schema")
  }

  test("filterBbox ignores a payload column that is merely NAMED bounds") {
    val df = spark.range(1, 20).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
      .withColumn("bounds", concat(lit("row-"), col("id"))) // a string!
    val t = GeoTable(df, graft.meta.GeoMeta(), Some("geometry"))
    // must take the slow path, not throw on bounds.xmax extraction
    assert(t.filterBbox(0, 0, 5, 2).df.count() == 5)
  }

  test("stats() on a table with only geometry+struct columns stays total") {
    val df = spark.range(1, 9).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    val t = GeoTable.fromDataFrame(df, "geometry").addBbox()
      .selectColumns(exclude = Seq("id"))
    val r = t.stats().collect()
    assert(r.length == 1 && r.head.getLong(0) == 8L)
  }

  test("certainlyStringPartitionSpec: fires only where stock inference " +
      "would answer string; schema parity with spark.read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_psfast").toString
    val df = spark.range(0, 60).toDF("id")
      .withColumn("cell", concat(lit("8a2a"), format_string("%x", col("id"))))
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
    df.write.partitionBy("cell").parquet(s"$dir/h3")
    // lettered hex values: fast path fires AND matches the stock reader
    val fast = GeoTable.listedRead(spark, s"$dir/h3", false).map(_.df).get
    val stock = spark.read.parquet(s"$dir/h3")
    assert(fast.schema == stock.schema,
      s"fast ${fast.schema.sql} != stock ${stock.schema.sql}")
    assert(fast.count() == 60 &&
      fast.filter(col("cell") === "8a2a1f").count() ==
        stock.filter(col("cell") === "8a2a1f").count())
    // all-digit values (quadkey shape): provably-string does NOT hold,
    // the spec must decline so stock int inference runs
    val dfq = spark.range(0, 20).toDF("id")
      .withColumn("qk", (col("id") % 4).cast("string"))
    dfq.write.partitionBy("qk").parquet(s"$dir/qk")
    val st = graft.meta.Footer.partFileStatuses(s"$dir/qk").get
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/qk")
    val q = root.getFileSystem(conf).makeQualified(root)
    val qualified = st.map(s => new org.apache.hadoop.fs.FileStatus(
      s.getLen, false, 1, s.getBlockSize, s.getModificationTime,
      root.getFileSystem(conf).makeQualified(s.getPath))).toArray
    assert(GeoTable.certainlyStringPartitionSpec(q, qualified).isEmpty)
    // and the full fast read still agrees with stock (int-typed qk)
    val fastQ = GeoTable.listedRead(spark, s"$dir/qk", false).map(_.df).get
    assert(fastQ.schema == spark.read.parquet(s"$dir/qk").schema)
    // escaped KEY name (ADVICE r16): stock parsePartitions unescapes
    // 'a%20b' to column 'a b'; the fast spec must decline rather than
    // produce a differently-named partition column
    val escDir = java.nio.file.Files.createTempDirectory("graft_esckey")
    val sub = escDir.resolve("a%20b=xy")
    java.nio.file.Files.createDirectories(sub)
    val one = spark.range(0, 3).toDF("id")
    one.write.mode("overwrite").parquet(sub.toString)
    // drop the nested _SUCCESS so the layout is a clean hive dir
    java.nio.file.Files.deleteIfExists(sub.resolve("_SUCCESS"))
    val escSt = graft.meta.Footer.partFileStatuses(escDir.toString).get
    val escRoot = new org.apache.hadoop.fs.Path(escDir.toString)
    val escQ = escRoot.getFileSystem(conf).makeQualified(escRoot)
    val escStatuses = escSt.map(s => new org.apache.hadoop.fs.FileStatus(
      s.getLen, false, 1, s.getBlockSize, s.getModificationTime,
      escRoot.getFileSystem(conf).makeQualified(s.getPath))).toArray
    assert(GeoTable.certainlyStringPartitionSpec(escQ, escStatuses).isEmpty,
      "escaped key names must defer to stock inference")
    // and end-to-end the fast read still matches stock ('a b' column)
    val fastE = GeoTable.listedRead(spark, escDir.toString, false).map(_.df).get
    assert(fastE.schema == spark.read.parquet(escDir.toString).schema)
  }

  test("partFileStatuses declines trees holding non-hidden non-parquet " +
      "data files (ADVICE r16: stock reads them; a partial listing " +
      "would drop rows) but prunes hidden subtrees") {
    import graft.meta.Footer
    val dir = java.nio.file.Files.createTempDirectory("graft_foreign")
    val sub = dir.resolve("k=a")
    java.nio.file.Files.createDirectories(sub)
    spark.range(0, 5).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(sub.toString)
    java.nio.file.Files.deleteIfExists(sub.resolve("_SUCCESS"))
    assert(Footer.partFileStatuses(dir.toString).exists(_.nonEmpty))
    // hidden staging subtree with junk inside: still fast-path eligible
    val hid = dir.resolve("_temporary/x")
    java.nio.file.Files.createDirectories(hid)
    java.nio.file.Files.writeString(hid.resolve("junk.txt"), "x")
    assert(Footer.partFileStatuses(dir.toString).exists(_.nonEmpty),
      "hidden subtrees must not count as foreign")
    // a parquet DATA file without the .parquet suffix (Hive writes
    // these): the fast path must decline so the stock reader, which
    // includes every non-hidden file, keeps those rows
    val bare = sub.resolve("000000_0")
    val src = {
      val s = java.nio.file.Files.list(sub)
      try {
        val it = s.iterator()
        var found: java.nio.file.Path = null
        while (it.hasNext && found == null) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) found = p
        }
        found
      } finally s.close()
    }
    java.nio.file.Files.copy(src, bare)
    assert(Footer.partFileStatuses(dir.toString).isEmpty,
      "a non-hidden non-.parquet data file must force the stock reader")
    // and GeoTable.read sees ALL rows via the stock fallback
    assert(GeoTable.read(spark, dir.toString).df.count() == 10)
    // `_`-prefixed PARTITION dirs (graft's own spatial writers:
    // `__h3=84…`) are NOT hidden under Spark's rule (contains '=') —
    // the walk must descend them or every __h3 layout silently loses
    // the fast path (caught live by the DirScale slow-FS row)
    val hdir = java.nio.file.Files.createTempDirectory("graft_h3hive")
    val hsub = hdir.resolve("__h3=84019adffffffff")
    java.nio.file.Files.createDirectories(hsub)
    spark.range(0, 7).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(hsub.toString)
    java.nio.file.Files.deleteIfExists(hsub.resolve("_SUCCESS"))
    val hst = Footer.partFileStatuses(hdir.toString)
    assert(hst.exists(_.nonEmpty),
      "__h3= partition dirs must be walked, not pruned as hidden")
    val fastH = GeoTable.listedRead(spark, hdir.toString, false).map(_.df)
    assert(fastH.isDefined &&
      fastH.get.schema == spark.read.parquet(hdir.toString).schema &&
      fastH.get.count() == 7)
    // foreign file at the ROOT level (not in a subdir) declines too
    val dir2 = java.nio.file.Files.createTempDirectory("graft_foreign2")
    spark.range(0, 4).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(dir2.resolve("d").toString)
    val d2 = dir2.resolve("d")
    java.nio.file.Files.deleteIfExists(d2.resolve("_SUCCESS"))
    java.nio.file.Files.writeString(d2.resolve("README"), "not parquet")
    assert(Footer.partFileStatuses(d2.toString).isEmpty)
  }

  test("read degrades deterministically on a partially-footered dataset " +
      "(ADVICE r15: failed writeGeoMetadata pass)") {
    import graft.meta.{Footer, GeoMeta}
    import org.apache.hadoop.conf.Configuration
    // plain parquet write (no graft footers), then footers applied to
    // all parts EXCEPT the lexically-first — the state a partial
    // writeGeoMetadata failure leaves behind. The O(depth) first pick
    // then sees an un-footered file; read must scan on and still find
    // the geo metadata instead of silently degrading to heuristics.
    val df = spark.range(1, 41).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(2.0)))
      .repartitionByRange(3, col("id"))
    val out = java.nio.file.Files.createTempDirectory("graft_partial")
      .toString + "/d"
    df.write.parquet(out)
    val conf = new Configuration()
    val parts = Footer.partFiles(out, conf)
    assume(parts.length >= 2, "fixture needs multiple parts")
    val geo = GeoMeta(primaryColumn = "geometry",
      columns = Map("geometry" -> graft.meta.GeoColumnMeta()))
    parts.tail.foreach { p =>
      Footer.withKeyValueMetadata(p,
        Map(GeoMeta.FooterKey -> GeoMeta.toJson(geo)), conf)
    }
    assert(Footer.read(parts.head, conf).geo.isEmpty,
      "fixture must leave the first part un-footered")
    val t = GeoTable.read(spark, out)
    assert(t.meta.primaryColumn == "geometry")
    assert(t.geometryColumn.contains("geometry"))
    assert(t.df.count() == 40)
  }

  test("addBboxMetadata preserves each part's own per-file bbox") {
    import graft.meta.{Footer, GeoMeta}
    import org.apache.hadoop.conf.Configuration
    val df = spark.range(1, 41).toDF("id")
      .withColumn("geometry", graft.functions.geo.st_point(
        col("id").cast("double"), lit(1.0)))
      .repartitionByRange(2, col("id"))
    val out = java.nio.file.Files.createTempDirectory("graft_pf").toString + "/d"
    GeoTable.fromDataFrame(df, "geometry").addBbox().write(out)
    val conf = new Configuration()
    val parts = Footer.partFiles(out, conf)
    assume(parts.length >= 2, "fixture needs multiple parts")
    val before = parts.map(p => p.toString ->
      Footer.read(p, conf).geo.get.primary.get.bbox).toMap
    assert(before.values.toSet.size > 1, "per-file bboxes must differ")
    // strip the covering declaration from every part (keep its own bbox)
    parts.foreach { p =>
      val g = Footer.read(p, conf).geo.get
      val pc = g.primary.get.copy(coveringBbox = None)
      Footer.withKeyValueMetadata(p, Map(GeoMeta.FooterKey -> GeoMeta.toJson(
        g.copy(columns = g.columns.updated(g.primaryColumn, pc)))), conf)
    }
    GeoTable.addBboxMetadata(out)
    parts.foreach { p =>
      val g = Footer.read(p, conf).geo.get
      assert(g.primary.flatMap(_.coveringBbox).contains("bbox"))
      assert(g.primary.get.bbox == before(p.toString),
        s"per-file bbox of $p must survive the metadata-only rewrite")
    }
  }

  // ---- read planning from one footer ------------------------------------

  test("read planning runs no Spark job: local, hive quadkey and a " +
      "non-local scheme; a listed dataset opens one footer") {
    val local = tmpDir("plan_local")
    GeoTable.fromDataFrame(pointsTable(400).df.repartition(4), "geometry")
      .addBbox().write(local)
    assert(Footer.partFiles(local).size > 1, "fixture needs several files")
    val quadkey = tmpDir("plan_qk")
    pointsTable(2000).addBbox().partitionByQuadkey(4, 1, quadkey)
    assert(Footer.partFiles(quadkey).map(_.getParent).distinct.size > 1)
    // a plain hive layout under the graftfs:// scheme, as in the
    // non-local planning test above
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFileSystem].getName)
    val base = tmpDir("plan_graftfs")
    spark.range(0, 40).toDF("id")
      .withColumn("cell", concat(lit("8a2a"), format_string("%x", col("id"))))
      .withColumn("geometry", geo.st_point(col("id").cast("double"), lit(1.0)))
      .write.partitionBy("cell").parquet(s"graftfs://$base/h3")
    GeoTable.fromDataFrame(pointsTable(90).df.repartition(3), "geometry")
      .addBbox().write(s"graftfs://$base/geo")
    for (path <- Seq(local, quadkey, s"graftfs://$base/h3", s"graftfs://$base/geo")) {
      assert(GeoTable.listedRead(spark, path, mergeSchema = false).isDefined, path)
      val (t, jobs) = jobsDuring(GeoTable.read(spark, path))
      assert(jobs == 0, s"read planning of $path ran $jobs Spark jobs")
      assert(t.df.schema == spark.read.parquet(path).schema, path)
    }
    assert(GeoTable.read(spark, quadkey).partitioning.isDefined)
    // one footer: the first part in path order, opened once
    val geoDir = s"$base/geo"
    val before = GraftTestFileSystem.opensUnder(geoDir).size
    val t = GeoTable.read(spark, s"graftfs://$geoDir")
    val opens = GraftTestFileSystem.opensUnder(geoDir).drop(before)
    assert(opens == Seq(Footer.partFiles(geoDir).head.toUri.getPath), opens)
    assert(t.meta.primary.flatMap(_.coveringBbox).contains("bbox"))
    assert(t.df.count() == 90)
    // mergeSchema keeps Spark's distributed merge
    assert(jobsDuring(GeoTable.read(spark, local, mergeSchema = true))._2 > 0)
  }

  test("read planning: footer schema equals stock inference over a type " +
      "zoo, per converter flag, with and without Spark's row metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zoo")
    def zoo(n: Int) = spark.range(0, n).toDF("id").selectExpr("id",
      "cast(id as decimal(9,2)) as d9", "cast(id as decimal(18,4)) as d18",
      "cast(id as decimal(38,10)) as d38",
      "cast(cast(id as string) as binary) as bin",
      "named_struct('a', id, 'b', named_struct('c', cast(id as string))) as st",
      "array(id, id + 1) as arr", "map(cast(id as string), id) as m",
      "timestamp_seconds(id) as ts",
      "cast(timestamp_seconds(id) as timestamp_ntz) as ntz")
    val sparkDir = dir.resolve("spark").toString
    zoo(8).repartition(2).write.parquet(sparkDir)
    val int96Dir = dir.resolve("int96").toString
    withConf("spark.sql.parquet.outputTimestampType", "INT96")(
      zoo(8).repartition(2).write.parquet(int96Dir))
    // no Spark row metadata: only the Parquet schema speaks
    val rawDir = dir.resolve("raw")
    java.nio.file.Files.createDirectories(rawDir)
    val rawSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message zoo {
        |  required int64 id;
        |  optional binary bin;
        |  optional binary s (STRING);
        |  optional int96 t96;
        |  optional int64 ts_utc (TIMESTAMP(MICROS,true));
        |  optional int64 ts_local (TIMESTAMP(MICROS,false));
        |  optional int32 d9 (DECIMAL(9,2));
        |  optional fixed_len_byte_array(16) d38 (DECIMAL(38,10));
        |  optional group st { optional int32 a; optional group b { optional binary c (STRING); } }
        |  optional group arr (LIST) { repeated group list { optional int64 element; } }
        |  optional group m (MAP) { repeated group key_value { required binary key (STRING); optional int64 value; } }
        |}""".stripMargin)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(rawDir.resolve("part-0.parquet").toUri))
      .withType(rawSchema).build()
    try {
      val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(rawSchema)
      (0L until 5L).foreach { i =>
        writer.write(groups.newGroup().append("id", i).append("bin", s"b$i").append("s", s"s$i"))
      }
    } finally writer.close()
    // two schemas in one directory: the first file in path order decides
    val mixedDir = dir.resolve("mixed")
    java.nio.file.Files.createDirectories(mixedDir)
    Seq("part-a" -> spark.range(3).toDF("id"),
        "part-b" -> spark.range(3).toDF("id").withColumn("x", lit(1.5))).foreach {
      case (name, df) =>
        val tmp = dir.resolve(name).toString
        df.coalesce(1).write.parquet(tmp)
        java.nio.file.Files.copy(java.nio.file.Paths.get(Footer.partFiles(tmp).head.toUri),
          mixedDir.resolve(s"$name.parquet"))
    }
    // the defaults first, then each flag flipped on its own
    val flips = Seq("spark.sql.parquet.binaryAsString" -> "false",
      "spark.sql.parquet.binaryAsString" -> "true",
      "spark.sql.parquet.int96AsTimestamp" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
    for (path <- Seq(sparkDir, int96Dir, rawDir.toString, mixedDir.toString);
         flags <- flips) withConf(flags._1, flags._2) {
      val stock = scala.util.Try(spark.read.parquet(path).schema)
      val fast = scala.util.Try(GeoTable.read(spark, path).df.schema)
      stock match {
        case scala.util.Success(s) =>
          assert(GeoTable.listedRead(spark, path, mergeSchema = false).isDefined)
          assert(fast == stock, s"$path $flags: ${fast.map(_.sql)} != ${s.sql}")
        case scala.util.Failure(e) =>
          // INT96 without int96AsTimestamp: the stock error, via the fallback
          assert(fast.failed.toOption.map(_.getClass).contains(e.getClass),
            s"$path $flags: $fast")
      }
    }
    // the flags reached the converter: each one changes the raw file's schema
    val raw = rawDir.toString
    def rawType(flags: (String, String), c: String) =
      withConf(flags._1, flags._2)(GeoTable.read(spark, raw).df.schema(c).dataType.typeName)
    assert(rawType(flips(0), "bin") == "binary")
    assert(rawType(flips(1), "bin") == "string")
    assert(rawType(flips(0), "t96") == "timestamp")
    assert(rawType(flips(0), "ts_local") == "timestamp_ntz")
    assert(rawType(flips(3), "ts_local") == "timestamp")
    assert(scala.util.Try(rawType(flips(2), "t96")).isFailure)
    assert(GeoTable.read(spark, mixedDir.toString).df.columns.toSeq == Seq("id"))
    assert(GeoTable.read(spark, raw).df.count() == 5)
  }

  test("writeGeoMetadata: one open per part, footers and rows equal to " +
      "the three-reader pass it replaces") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration()
    /** The replaced pass, spelled out: a stats read for the bbox, a
      * second reader for schema and key-values, and a third for the
      * chunk-by-chunk byte copy with each chunk's bloom filter and page
      * indexes.
      */
    def threeReaderPass(p: Path, gm: GeoMeta, bboxCol: Option[String],
        extra: Map[String, String]): Unit = {
      val m = bboxCol.fold(gm) { b =>
        val bb = Footer.bboxFromStats(p.toString, b, conf)
        gm.copy(columns = gm.columns.map { case (n, c) => n -> c.copy(bbox = bb) })
      }
      val in = HadoopInputFile.fromPath(p, conf)
      val r = ParquetFileReader.open(in)
      val (schema, kv) =
        try (r.getFooter.getFileMetaData.getSchema,
          r.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap)
        finally r.close()
      val tmp = new Path(p.getParent, s".${p.getName}.ref")
      val w = new ParquetFileWriter(HadoopOutputFile.fromPath(tmp, conf), schema,
        ParquetFileWriter.Mode.CREATE, 128L * 1024 * 1024, 8 * 1024 * 1024)
      w.start()
      val c = ParquetFileReader.open(in)
      val stream = in.newStream()
      try c.getRowGroups.asScala.foreach { b =>
        w.startBlock(b.getRowCount)
        b.getColumns.asScala.foreach(ch => w.appendColumnChunk(
          schema.getColumnDescription(ch.getPath.toArray), stream, ch,
          c.readBloomFilter(ch), c.readColumnIndex(ch), c.readOffsetIndex(ch)))
        w.endBlock()
      } finally { stream.close(); c.close() }
      w.end((kv ++ extra + (GeoMeta.FooterKey -> GeoMeta.toJson(m))).asJava)
      val fs = p.getFileSystem(conf)
      fs.delete(p, false)
      assert(fs.rename(tmp, p))
    }
    def schemaOf(p: Path) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    def bytesOf(p: Path) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.toUri))
    val points = pointsTable(300).df.repartition(3)
    val floatBbox = points.withColumn("bbox", struct(
      (col("id") % 10).cast("float").as("xmin"), (col("id") % 5).cast("float").as("ymin"),
      (col("id") % 10 + 1).cast("float").as("xmax"), (col("id") % 5 + 1).cast("float").as("ymax")))
    val tables = Seq(
      "covered" -> (GeoTable.fromDataFrame(points, "geometry").addBbox().df, Some("bbox")),
      "float" -> (floatBbox, Some("bbox")),
      "uncovered" -> (points, None))
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFileSystem].getName)
    for ((name, (df, bboxCol)) <- tables) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_pass_$name")
      val (mine, ref) = (dir.resolve("mine").toString, dir.resolve("ref").toString)
      // through the scheme: no checksum sidecars to go stale on rewrite
      df.write.parquet(s"graftfs://$mine")
      df.write.parquet(ref)
      val gm = GeoMeta(primaryColumn = "geometry",
        columns = Map("geometry" -> graft.meta.GeoColumnMeta(coveringBbox = bboxCol)))
      val extra = Map("graft:test" -> name)
      val before = GraftTestFileSystem.opensUnder(mine).size
      Footer.writeGeoMetadata(s"graftfs://$mine", gm, bboxCol, conf, extra)
      val mineParts = Footer.partFiles(mine)
      assert(GraftTestFileSystem.opensUnder(mine).drop(before).sorted ==
        mineParts.map(_.toUri.getPath), s"$name: each part opened once")
      val refParts = Footer.partFiles(ref)
      refParts.foreach(threeReaderPass(_, gm, bboxCol, extra))
      assert(mineParts.size == refParts.size && mineParts.size > 1)
      mineParts.zip(refParts).foreach { case (a, b) =>
        val (fa, fb) = (Footer.read(a, conf), Footer.read(b, conf))
        assert(fa.keyValueMeta == fb.keyValueMeta, name)
        assert(fa.keyValueMeta("graft:test") == name)
        assert(fa.geo.flatMap(_.primary).flatMap(_.bbox).isDefined == bboxCol.isDefined, name)
        assert(schemaOf(a) == schemaOf(b), name)
        assert(java.util.Arrays.equals(bytesOf(a), bytesOf(b)), s"$name: $a bytes")
      }
      val back = spark.read.parquet(mine)
      assert(back.count() == df.count() && back.exceptAll(df).isEmpty &&
        df.exceptAll(back).isEmpty, name)
    }
  }

  test("footer rewrites keep every chunk's column and offset indexes") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration()
    // per chunk of every part: column index?, offset index?, page count
    def indexes(path: String): Seq[(Boolean, Boolean, Int)] =
      Footer.partFiles(path, conf).flatMap { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try r.getRowGroups.asScala.toSeq.flatMap(_.getColumns.asScala.map { c =>
          val oi = r.readOffsetIndex(c)
          (r.readColumnIndex(c) != null, oi != null,
            if (oi == null) 0 else oi.getPageCount)
        }) finally r.close()
      }
    def kv(path: String) = Footer.partFiles(path, conf)
      .map(Footer.read(_, conf).keyValueMeta)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("id", "name", "geometry").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1).toSeq
    val t = pointsTable(2000).addBbox()
    withConf("parquet.page.row.count.limit", "200") {
      val stock = tmpDir("idx_stock")
      t.df.write.mode("overwrite").parquet(stock)
      val want = indexes(stock)
      assert(want.nonEmpty && want.forall { case (ci, oi, n) => ci && oi && n > 1 },
        s"the stock write has page indexes: $want")

      val written = tmpDir("idx_write")
      t.write(written)
      assert(indexes(written) == want)
      assert(rows(spark.read.parquet(written)) == rows(t.df))
      val stockKv = kv(stock)
      assert(kv(written).zip(stockKv).forall { case (w, s) =>
        w - GeoMeta.FooterKey == s && w.contains(GeoMeta.FooterKey) })

      val parts = tmpDir("idx_quadkey")
      t.partitionByQuadkey(4, 1, parts, force = true)
      val partIdx = indexes(parts)
      assert(partIdx.nonEmpty && partIdx.forall { case (ci, oi, _) => ci && oi }, partIdx)
      assert(rows(spark.read.parquet(parts)) == rows(t.df))

      val before = kv(written)
      GeoTable.setGeoParquetVersion(written, "2.0")
      assert(indexes(written) == want)
      assert(kv(written).zip(before).forall { case (a, b) =>
        a - GeoMeta.FooterKey == b - GeoMeta.FooterKey &&
          GeoMeta.fromJson(a(GeoMeta.FooterKey)).version == "2.0.0" })
    }
  }
}
