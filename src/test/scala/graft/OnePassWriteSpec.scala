package graft

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.functions.geo
import graft.meta.{Footer, GeoColumnMeta, GeoMeta, SpatialPartitioning}
import graft.table.GeoTable
import graft.SparkTestSession.withConf

/** `GeoTable`'s writers attach `geo` (and `graft:partitioning`) in the
  * Spark write itself: the footers equal those of a plain Spark write
  * followed by the `Footer.writeGeoMetadata` pass the writers used to
  * make, no writer opens its output again, and the files keep their
  * page indexes while geometry and covering columns skip the dictionary.
  */
class OnePassWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/out"
  }

  /** Closed edges, -0.0, coordinates just off a box, empty and null. */
  private def edgeTable: GeoTable = {
    val wkts = Seq(Some("POINT (10 10)"), Some("POINT (0 0)"), Some("POINT (-0.0 3)"),
      Some("POINT (3 -0.0)"), Some("POINT (10.000001 5)"), Some("POINT (5 -1e-9)"),
      Some("LINESTRING (11 0, 12 12)"), Some("LINESTRING (-3 -3, 0 0)"),
      Some("POLYGON ((-5 -5, 20 -5, 20 20, -5 20, -5 -5))"),
      Some("MULTIPOINT ((-1 -1), (11 11))"), Some("POINT EMPTY"),
      Some("POLYGON EMPTY"), None)
    GeoTable.fromDataFrame(wkts.toDF("wkt").repartition(2)
      .select(col("wkt"), geo.st_geomfromtext(col("wkt")).as("geometry")), "geometry")
  }

  /** A DOUBLE covering written as given, so its corners hold ±∞, ±0.0,
    * NaN and nulls that no envelope produces.
    */
  private def rawCovering: GeoTable = {
    val inf = Double.PositiveInfinity
    val nan = Double.NaN
    val rows = Seq[(Option[Double], Option[Double], Option[Double], Option[Double])](
      (Some(-inf), Some(0.0), Some(inf), Some(0.0)), (Some(-0.0), Some(-0.0), Some(-0.0), Some(-0.0)),
      (Some(0.0), Some(0.0), Some(0.0), Some(0.0)), (Some(nan), Some(1.0), Some(2.0), Some(nan)),
      (None, Some(2.0), None, Some(3.0)), (Some(1.0), Some(-1.0), Some(1.5), Some(-0.5)),
      (Some(-2.0), Some(nan), Some(nan), Some(4.0)), (Some(3.0), Some(-inf), Some(4.0), Some(inf)),
      (Some(-0.0), Some(5.0), Some(0.0), Some(6.0)))
    val df = rows.toDF("xmin", "ymin", "xmax", "ymax").coalesce(1)
      .select(monotonically_increasing_id().as("id"),
        geo.st_point(coalesce(col("xmin"), lit(0.0)), lit(0.0)).as("geometry"),
        struct(col("xmin"), col("ymin"), col("xmax"), col("ymax")).as("bbox"))
    GeoTable(df, GeoMeta(primaryColumn = "geometry",
      columns = Map("geometry" -> GeoColumnMeta(coveringBbox = Some("bbox")))), Some("geometry"))
  }

  private def floatCovered(t: GeoTable): GeoTable = {
    val c = t.addBbox()
    c.copy(df = c.df.withColumn("bbox", col("bbox")
      .cast("struct<xmin:float,ymin:float,xmax:float,ymax:float>")
      .as("bbox", c.df.schema("bbox").metadata)))
  }

  /** Each part file in walk order: its directory under `root`, key-value
    * footer and row count.
    */
  private def footers(root: String): Seq[(String, Map[String, String], Long)] =
    Footer.partFiles(root).map { p =>
      val info = Footer.read(p)
      (p.getParent.toUri.getPath.stripPrefix(new java.io.File(root).getAbsolutePath),
        info.keyValueMeta, info.rowCount)
    }

  /** `t` written by `write`, against the same rows written by `plain`
    * (a stock Spark write) and then footered by `Footer.writeGeoMetadata`
    * with `t`'s template and the one-pass files' `graft:partitioning`.
    */
  private def assertTwoPassFooters(name: String, t: GeoTable,
      write: String => Unit, plain: String => Unit): Seq[Map[String, String]] = {
    val (one, two) = (tmpDir(s"one_$name"), tmpDir(s"two_$name"))
    write(one)
    plain(two)
    val gm = t.geoTemplate.get
    val bboxCol = gm.primary.flatMap(_.coveringBbox)
    val partitioning = footers(one).head._2.get(SpatialPartitioning.FooterKey)
    Footer.writeGeoMetadata(two, gm, bboxCol,
      extra = partitioning.map(SpatialPartitioning.FooterKey -> _).toMap)
    val (a, b) = (footers(one), footers(two))
    assert(a.size == b.size && a.nonEmpty, name)
    a.zip(b).foreach { case (x, y) => assert(x == y, name) }
    // and each file's bbox is the one its own row-group statistics span
    for (c <- bboxCol; p <- Footer.partFiles(one))
      assert(Footer.read(p).geo.flatMap(_.primary).flatMap(_.bbox) ==
        Footer.bboxFromStats(p.toString, c), s"$name $p")
    a.map(_._2)
  }

  test("one-pass footers equal a Spark write plus the footer pass: edge, " +
      "FLOAT-covered, uncovered and ±∞/±0.0/NaN/null coverings, in one or many " +
      "row groups") {
    val tables = Seq("covered" -> edgeTable.addBbox(), "float" -> floatCovered(edgeTable),
      "uncovered" -> edgeTable, "raw" -> rawCovering)
    val bboxes = for ((name, t) <- tables; groupRows <- Seq("1000000", "3")) yield {
      // small row groups put NaN in some groups and not in others
      withConf("parquet.block.row.count.limit", groupRows) {
        assertTwoPassFooters(s"${name}_$groupRows", t, t.write(_),
          t.df.write.mode("overwrite").option("compression", "zstd").parquet(_))
      }.map(kv => GeoMeta.fromJson(kv(GeoMeta.FooterKey)).primary.flatMap(_.bbox))
    }
    // a file declares a bbox only where every corner has a statistic: both
    // kinds of file occur
    assert(bboxes.flatten.exists(_.isDefined) && bboxes.flatten.exists(_.isEmpty))
  }

  test("one-pass footers equal the footer pass on a partitionByQuadkey layout, " +
      "graft:partitioning included") {
    val df = spark.range(600).select(col("id"),
      geo.st_point((col("id") * 37 % 360 - 180).cast("double"),
        (col("id") * 91 % 170 - 85).cast("double")).as("geometry"))
    val t = GeoTable.fromDataFrame(df, "geometry").addBbox()
    val kv = assertTwoPassFooters("quadkey", t,
      t.partitionByQuadkey(4, 1, _, force = true),
      t.addQuadkey(4).df.withColumn("__qk", substring(col("quadkey"), 1, 1))
        .repartition(col("__qk")).write.partitionBy("__qk").mode("overwrite").parquet(_))
    assert(kv.size > 1 && kv.forall(_.contains(SpatialPartitioning.FooterKey)))
  }

  /** Per column chunk of every part: (path, has column index, has offset
    * index, uses a dictionary, encodings, compressed size).
    */
  private def chunks(root: String): Seq[(String, Boolean, Boolean, Boolean, String, Long)] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Footer.partFiles(root, conf).flatMap { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getRowGroups.asScala.toSeq.flatMap(_.getColumns.asScala.map { c =>
        (c.getPath.toDotString, r.readColumnIndex(c) != null, r.readOffsetIndex(c) != null,
          c.hasDictionaryPage || c.getEncodings.asScala.exists(_.usesDictionary),
          c.getEncodings.asScala.map(_.name).toSeq.sorted.mkString(","), c.getTotalSize)
      }) finally r.close()
    }
  }

  /** 2000 rows over 10 distinct points: repetitive geometry, which a
    * dictionary would encode.
    */
  private def repetitive: GeoTable = {
    val df = spark.range(2000).select(col("id"), (col("id") % 7).cast("string").as("region"),
      concat(lit("pt"), col("id") % 10).as("name"),
      geo.st_point((col("id") % 10).cast("double"), (col("id") % 10 * 2).cast("double"))
        .as("geometry"))
    GeoTable.fromDataFrame(df, "geometry").addBbox()
  }

  test("every writer keeps page indexes; geometry and covering columns have " +
      "no dictionary, every other column is encoded as a stock Spark write") {
    val t = repetitive
    val geoCols = Set("geometry", "bbox.xmin", "bbox.ymin", "bbox.xmax", "bbox.ymax")
    val boundaries = Seq(("w", "POLYGON ((-1 -1, 5 -1, 5 30, -1 30, -1 -1))"),
        ("e", "POLYGON ((5 -1, 11 -1, 11 30, 5 30, 5 -1))")).toDF("side", "wkt")
      .select(col("side"), geo.st_geomfromtext(col("wkt")).as("bgeom"))
    val writers = Seq[(String, String => Unit)](
      "write" -> (t.write(_)),
      "string" -> (t.partitionByString("region", None, _, force = true)),
      "flat" -> (t.partitionByFlat(col("region"), _, force = true)),
      "quadkey" -> (t.partitionByQuadkey(6, 2, _, force = true)),
      "h3" -> (t.partitionByH3(2, _, force = true)),
      "kdtree" -> (t.partitionByKdtree(2, _)),
      "admin" -> (t.partitionByAdmin(boundaries, "bgeom", Seq("side"), _)),
      "country" -> (t.splitByCountry("region", _)))
    for ((name, w) <- writers) {
      val out = tmpDir(s"layout_$name")
      w(out)
      val cs = chunks(out)
      assert(cs.nonEmpty && cs.forall(c => c._2 && c._3), s"$name: page indexes $cs")
      assert(cs.filter(c => geoCols(c._1)).map(_._1).toSet == geoCols, name)
      assert(cs.filter(c => geoCols(c._1)).forall(!_._4), s"$name: dictionary $cs")
      assert(cs.exists(c => c._1 == "name" && c._4), s"$name: name lost its dictionary")
    }
    // the same rows through a stock write: other columns byte-for-byte sized
    // and encoded alike, while the geometry's dictionary is gone
    val (mine, stock) = (tmpDir("layout_mine"), tmpDir("layout_stock"))
    t.write(mine)
    t.df.write.option("compression", "zstd").parquet(stock)
    val (a, b) = (chunks(mine), chunks(stock))
    assert(a.map(_._1) == b.map(_._1))
    assert(a.filterNot(c => geoCols(c._1)) == b.filterNot(c => geoCols(c._1)))
    assert(b.exists(c => c._1 == "geometry" && c._4), "the stock write used no dictionary")
  }

  test("no writer opens its output after the Spark write") {
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFileSystem].getName)
    val t = repetitive
    for ((name, w) <- Seq[(String, String => Unit)](
        "write" -> (t.write(_)),
        "quadkey" -> (t.partitionByQuadkey(6, 2, _, force = true)),
        "flat" -> (t.partitionByFlat(col("region"), _, force = true)))) {
      val out = tmpDir(s"opens_$name")
      w(s"graftfs://$out")
      assert(Footer.partFiles(out).nonEmpty, name)
      assert(GraftTestFileSystem.opensUnder(out).isEmpty, name)
      assert(Footer.partFiles(out).forall(p => Footer.read(p).geo.isDefined), name)
    }
  }

  test("a table without a geometry column writes plain Parquet") {
    val t = GeoTable(spark.range(10).toDF("id"), GeoMeta(), None)
    val out = tmpDir("plain")
    t.write(out)
    assert(Footer.partFiles(out).forall(p =>
      !Footer.read(p).keyValueMeta.contains(GeoMeta.FooterKey)))
    assert(spark.read.parquet(out).count() == 10)
  }
}
