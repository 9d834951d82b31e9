package graft.table

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{geo, ParamLiteral}
import graft.functions.GeoExpressions.StEnvelope
import graft.geom.{GeoJson, Proj, Wkt}
import graft.meta.{Footer, GeoColumnMeta, GeoMeta}

/** Fluent geospatial table: a lazy DataFrame + GeoParquet metadata,
  * mirroring the reference's `Table` API (`api/table.py:377-1810`)
  * method-for-method, but with one crucial structural upgrade: chained
  * operations compose ONE Catalyst plan executed once at write/action
  * (the reference re-materializes through DuckDB between every call —
  * its own docs measure the in-memory chain 5x faster than files,
  * `docs/getting-started/cli-vs-python.md:174-180`; Spark's lazy model
  * gets that for free and distributes it).
  *
  * All operations return a new GeoTable (immutability contract,
  * `api/table.py:387`).
  */
final case class GeoTable(
    df: DataFrame,
    meta: GeoMeta,
    geometryColumn: Option[String],
    /** Spatial-partitioning descriptor restored from the
      * `graft:partitioning` footer of a Hive dataset written by
      * [[partitionByQuadkey]]/[[partitionByH3]]/[[partitionByKdtree]];
      * lets [[filterBbox]] prune directories, not just row groups.
      */
    partitioning: Option[graft.meta.SpatialPartitioning] = None) {

  private def spark: SparkSession = df.sparkSession

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[GeoTable])

  private def geomCol: String = geometryColumn.getOrElse(
    throw new IllegalStateException("no geometry column on this table"))

  /** CRS string if the metadata pins one; defaults to OGC:CRS84/EPSG:4326
    * like the reference (`core/common.py:1313`).
    */
  def crsOrDefault: String =
    meta.primary.flatMap(_.crs).map(_.toString).getOrElse("EPSG:4326")

  def isGeographicCrs: Boolean =
    meta.primary.flatMap(_.crs).forall(c => Proj.isGeographic(c.toString))

  // ---- extract (project / filter / limit; SURVEY §2.2) -----------------

  /** Column selection with the reference's resolution rules: keep
    * geometry (and bbox covering column) unless explicitly excluded,
    * preserve original column order, error on unknown columns
    * (`core/extract.py:484-551`).
    */
  def selectColumns(include: Seq[String] = Seq.empty,
      exclude: Seq[String] = Seq.empty): GeoTable = {
    val all = df.columns.toSeq
    val unknown = (include ++ exclude).filterNot(all.contains)
    require(unknown.isEmpty, s"unknown columns: ${unknown.mkString(", ")}")
    val implicitKeep = geometryColumn.toSeq ++
      meta.primary.flatMap(_.coveringBbox).toSeq
    val kept =
      if (include.nonEmpty) all.filter(c => include.contains(c) ||
        (implicitKeep.contains(c) && !exclude.contains(c)))
      else all.filterNot(exclude.contains)
    val dropGeom = geometryColumn.exists(g => !kept.contains(g))
    copy(df = df.select(kept.map(col): _*),
      geometryColumn = if (dropGeom) None else geometryColumn)
  }

  /** CRS-mismatch diagnosis for a bbox filter (reference
    * `core/extract.py:104-247` _warn_if_crs_mismatch): Some(message)
    * when the filter's units don't match the table CRS — a degree-sized
    * bbox against a projected table, or projected magnitudes against a
    * lon/lat table — either of which silently selects nothing. Pure so
    * GeoTableSpec can pin both directions; [[filterBbox]] warns on it.
    */
  private[graft] def bboxCrsMismatch(xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Option[String] = {
    val looksGeographic =
      xmin >= -180 && xmax <= 180 && ymin >= -90 && ymax <= 90
    if (!isGeographicCrs && looksGeographic)
      Some(s"bbox ($xmin,$ymin,$xmax,$ymax) looks like lon/lat degrees " +
        s"but the table CRS is $crsOrDefault — reproject the filter or the table")
    else if (isGeographicCrs && !looksGeographic)
      Some(s"bbox ($xmin,$ymin,$xmax,$ymax) is outside lon/lat bounds " +
        "but the table CRS is geographic — did you pass projected coordinates?")
    else None
  }

  /** Actual data bounds, mirroring the reference's `_get_data_bounds`
    * (`core/extract.py:200-221`). Prefers the declared metadata bbox
    * (O(1), footer-only); falls back to the [[bounds]] sketch — a FULL
    * SCAN, so this is for explicit diagnostic calls, and [[filterBbox]]'s
    * warning path deliberately uses only the footer bbox (at 100 TB a
    * scan to decorate a log line is wrong). Returns None on any failure
    * — bounds are decoration, never load-bearing.
    */
  private[graft] def dataBounds: Option[(Double, Double, Double, Double)] =
    meta.primary.flatMap(_.bbox).orElse {
      try sketch(0).bounds catch { case _: Exception => None }
    }

  /** bbox spatial filter (`core/extract.py:568-579`): an overlap test
    * of each row's envelope against the closed box. With a covering it
    * is four plain comparisons on the struct's fields, so Parquet min/max
    * pruning applies; without one it is `geo.envelope_in_box` over
    * the geometry's envelope, one WKB decode per row. Both compare in
    * Spark's double order, so a null or empty (NaN-envelope) geometry
    * never matches on either path.
    *
    * The window never enters generated source, so every window on one
    * layout shares one compiled stage. The covering comparisons take it
    * as [[ParamLiteral]]s: a `Literal` subclass rather than a new leaf
    * expression, because Spark builds the Parquet `PushedFilters` (and
    * so row-group pruning) only from comparisons against a `Literal`.
    * Each bound takes its covering field's type ([[ParamLiteral.atLeast]]),
    * so a FLOAT covering is not widened into a spelled float literal.
    * `geo.envelope_in_box` takes it as [[ParamLiteral]] arguments too,
    * read from fields of the generated class.
    */
  def filterBbox(xmin: Double, ymin: Double, xmax: Double, ymax: Double): GeoTable = {
    // warn rather than fail, like the reference (`_warn_if_crs_mismatch`,
    // core/extract.py:222-247): degree-shaped bbox against projected data
    // gets the data bounds + the 0-results hint so the user can see how
    // far off their filter is. Bounds come from the DECLARED footer bbox
    // only — the reference scans for them, but a full-table aggregation
    // ahead of the actual filter doubles the query cost at scale
    bboxCrsMismatch(xmin, ymin, xmax, ymax).foreach { m =>
      val detail =
        if (isGeographicCrs) ""
        else meta.primary.flatMap(_.bbox).map { case (x0, y0, x1, y1) =>
          f"; data bounds: xmin=$x0%.2f, ymin=$y0%.2f, xmax=$x1%.2f, ymax=$y1%.2f"
        }.getOrElse("")
      log.warn(m + detail +
        "; if you get 0 results, use coordinates in the table's CRS")
    }
    // the covering named in meta may have been projected away
    // (selectColumns exclude) — fall back to the envelope rather than
    // resolve a missing column. Both lookups also require the covering
    // SHAPE (struct with xmin/ymin/xmax/ymax): a payload column that
    // merely happens to be NAMED "bounds" would otherwise throw on
    // field extraction (string) or silently mis-filter (odd struct).
    def bboxShaped(name: String): Boolean =
      df.schema(name).dataType match {
        case s: org.apache.spark.sql.types.StructType =>
          StEnvelope.Fields.forall(s.fieldNames.contains)
        case _ => false
      }
    val bboxCol = meta.primary.flatMap(_.coveringBbox)
      .filter(df.columns.contains).filter(bboxShaped)
      .orElse(GeoMeta.BboxNameCandidates.find(c =>
        df.columns.contains(c) && bboxShaped(c)))
    val pred = bboxCol match {
      case Some(b) =>
        // each bound in its field's own type (a FLOAT covering is legal)
        val fields = df.schema(b).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        def atLeast(f: String, lo: Double): Column = col(s"$b.$f") >=
          GraftBridge.column(ParamLiteral.atLeast(lo, fields(f).dataType))
        def atMost(f: String, hi: Double): Column = col(s"$b.$f") <=
          GraftBridge.column(ParamLiteral.atMost(hi, fields(f).dataType))
        atLeast("xmax", xmin) && atMost("xmin", xmax) &&
          atLeast("ymax", ymin) && atMost("ymin", ymax)
      case None =>
        geo.envelope_in_box(col(geomCol), xmin, ymin, xmax, ymax)
    }
    // Hive dataset written by our spatial partitioners: AND in the
    // partition-column covering conjunct so the scan gets
    // PartitionFilters (directory pruning), not just row-group pruning.
    // Sound for non-point geometries: the covering is computed over the
    // query box expanded by the dataset's recorded anchor reach — see
    // SpatialPartitioning's scaladoc.
    val partPred = partitioning.flatMap(sp =>
      graft.meta.SpatialPartitioning.predicate(sp, df, xmin, ymin, xmax, ymax))
    copy(df = df.filter(partPred.map(pred && _).getOrElse(pred)))
  }

  /** Precise geometry-intersects filter; WKT/GeoJSON literal input
    * (`core/extract.py:286-449,581-584`).
    */
  def filterIntersectsWkt(wkt: String): GeoTable =
    copy(df = df.filter(geo.st_intersects(col(geomCol), geo.wkt_lit(wkt))))

  def filterIntersectsGeoJson(json: String): GeoTable =
    copy(df = df.filter(geo.st_intersects(col(geomCol), geo.geojson_lit(json))))

  /** Raw SQL WHERE passthrough gated by [[WhereGate]]: the reference's
    * keyword refusal (`core/extract.py:49-101`) as a parity pre-check,
    * then an expression-AST allowlist — unknown node classes and
    * non-allowlisted functions (reflect/java_method and whatever escape
    * hatch ships next) are rejected by default instead of per-regex.
    */
  def filterWhere(where: String): GeoTable = {
    WhereGate.validate(df.sparkSession, where)
    copy(df = df.filter(expr(where)))
  }

  def limit(n: Int): GeoTable = copy(df = df.limit(n))
  def head(n: Int): Array[org.apache.spark.sql.Row] = df.head(n)
  def tail(n: Int): Array[org.apache.spark.sql.Row] = df.tail(n)
  def count(): Long = df.count()

  // ---- column adders (SURVEY §2.6) --------------------------------------

  /** Add the bbox struct column + covering metadata
    * (`core/add_bbox_column.py`). Replaces an existing one.
    */
  def addBbox(bboxCol: String = "bbox"): GeoTable = {
    val g = col(geomCol)
    val d0 = (if (df.columns.contains(bboxCol)) df.drop(bboxCol) else df)
      .withColumn(bboxCol, struct(
        geo.st_xmin(g).as("xmin"), geo.st_ymin(g).as("ymin"),
        geo.st_xmax(g).as("xmax"), geo.st_ymax(g).as("ymax")))
    val d = GeoTable.tagGeoPair(d0, geomCol, bboxCol)
    // updated, not map-over: a footer-less table has an EMPTY columns
    // map, and mapping over it silently skipped recording the covering —
    // files we then wrote never advertised the bbox fast path. Keyed by
    // geomCol for the same footer-less reason as reproject.
    val newMeta = meta.copy(primaryColumn = geomCol,
      columns = meta.columns.updated(geomCol,
        meta.columns.getOrElse(geomCol,
          meta.primary.getOrElse(GeoColumnMeta()))
          .copy(coveringBbox = Some(bboxCol))))
    copy(df = d, meta = newMeta)
  }

  /** Add quadkey column (`core/add_quadkey_column.py`); requires a
    * geographic CRS exactly like the reference's gate (lines 78-143).
    */
  def addQuadkey(zoom: Int = 13, quadkeyCol: String = "quadkey"): GeoTable = {
    require(zoom >= 0 && zoom <= 23, s"zoom $zoom out of range 0-23")
    require(isGeographicCrs,
      "quadkey requires a geographic CRS (reference gate); reproject first")
    copy(df = df.withColumn(quadkeyCol, geo.quadkey_geom(col(geomCol), zoom)))
  }

  /** Add H3 cell column (`core/add_h3_column.py:24-111`): centroid of the
    * geometry → `h3_latlng_to_cell_string(lat, lng, res)`, default
    * resolution 9, default column name `h3_cell`, CRS gate like quadkey.
    */
  def addH3(resolution: Int = 9, h3Col: String = "h3_cell"): GeoTable = {
    require(resolution >= 0 && resolution <= 15,
      s"H3 resolution must be between 0 and 15, got $resolution")
    require(isGeographicCrs,
      "h3 requires a geographic CRS (reference gate); reproject first")
    copy(df = df.withColumn(h3Col, geo.h3_geom(col(geomCol), resolution)))
  }

  /** Add KD-tree cell column (`core/add_kdtree_column.py`). The split
    * sample is bounded (`sampleRows`), and the assignment pass reuses the
    * codegen'd centroid expressions — the only non-codegen step is the
    * tiny tree walk over two doubles.
    */
  def addKdtree(iterations: Int = 4, cellCol: String = "kdtree_cell",
      sampleRows: Int = 100000, seed: Long = 42L): GeoTable =
    addKdtreeWithTree(iterations, cellCol, sampleRows, seed)._1

  /** [[addKdtree]] plus the built split tree — the partition writer
    * records the tree in the footer so reads can prune leaf rectangles.
    */
  private[table] def addKdtreeWithTree(iterations: Int = 4,
      cellCol: String = "kdtree_cell", sampleRows: Int = 100000,
      seed: Long = 42L): (GeoTable, graft.ops.KdTree.Node) = {
    val cen = geo.st_centroid(col(geomCol))
    val pts = df.select(geo.st_x(cen).as("__x"), geo.st_y(cen).as("__y"))
    val tree = graft.ops.KdTree.build(pts, "__x", "__y", iterations,
      sampleRows, seed)
    (copy(df = graft.ops.KdTree.withCell(
      df.withColumn("__cx", geo.st_x(cen)).withColumn("__cy", geo.st_y(cen)),
      "__cx", "__cy", tree, cellCol).drop("__cx", "__cy")), tree)
  }

  // ---- sorts (SURVEY §2.6) ----------------------------------------------

  /** Each row's envelope as four columns xmin, ymin, xmax, ymax: the
    * fields of the covering struct `covering` when given, else the
    * fields of `st_envelope(geometry)`, which a projection's
    * subexpression elimination evaluates once per row.
    */
  private def envelopeColumns(covering: Option[String]): Seq[Column] =
    covering match {
      case Some(b) => StEnvelope.Fields.map(f => col(s"$b.$f"))
      case None =>
        val g = col(geomCol)
        Seq(geo.st_xmin(g), geo.st_ymin(g), geo.st_xmax(g), geo.st_ymax(g))
    }

  /** The four doubles [[bounds]] and the sort sketch read: the covering
    * bbox fields when the table has them, else the geometry envelope.
    */
  private[graft] def sketchInput: DataFrame =
    df.select(envelopeColumns(meta.primary.flatMap(_.coveringBbox)
      .filter(df.columns.contains)).map(_.cast("double")): _*)

  /** One scan of [[sketchInput]], sized to pick `outPartitions` Hilbert
    * splits (0: bounds only).
    */
  private def sketch(outPartitions: Int): HilbertSketch.Sketch =
    HilbertSketch.run(sketchInput, outPartitions)

  /** Dataset bounds (`core/common.py:3493-3573`) in one job: min/max of
    * the covering bbox fields when the table has them, else of the
    * `st_envelope` fields (each WKB decoded once), with Spark `min`/`max`
    * semantics — nulls skipped, NaN above every double. An empty (or
    * all-null-geometry) table reads as the world envelope, which keeps
    * the callers (sortHilbert, enrichSpatial, fix) total.
    */
  def bounds(): (Double, Double, Double, Double) = sketch(0).boundsOrWorld

  /** Two-phase Hilbert sort (`core/hilbert_order.py`: bounds, then order
    * by curve index) as one scan plus one shuffle. The scan is the
    * [[bounds]] job, which also keeps a seeded sample of envelope
    * midpoints; that sample then gives n-1 split keys for the n shuffle
    * partitions, the way `RangePartitioner` would pick them after a
    * sampling scan of its own. Each row's key is projected once, the
    * shuffle sends the row straight to its split's partition, and each
    * partition sorts by key (nulls first) — partition order times
    * in-partition order is the global key order, so the part files come
    * out Hilbert-ordered. AQE coalesces the shuffle as it does an
    * `orderBy`'s, so a small table still writes one file. The splits are
    * fixed for the shuffle partition count set when this is called.
    */
  def sortHilbert(): GeoTable = {
    val n = GraftBridge.numShufflePartitions(spark)
    val s = sketch(n)
    val (x0, y0, x1, y1) = s.boundsOrWorld
    val key = col(GeoTable.HilbertKeyCol)
    val keyed = df.withColumn(GeoTable.HilbertKeyCol,
      geo.hilbert_index(col(geomCol), x0, y0, x1, y1))
    val splits = s.splits(n)
    copy(df = GraftBridge.repartitionByPartitionId(keyed, GeoTable.HilbertKeyCol)(
        geo.hilbert_bucket(_, splits))
      .sortWithinPartitions(key.asc_nulls_first)
      .drop(GeoTable.HilbertKeyCol))
  }

  /** Quadkey sort: ensure key column, string sort (Z-order), optional
    * drop (`core/sort_quadkey.py:30-83,236-255`).
    */
  def sortQuadkey(zoom: Int = 13, keepColumn: Boolean = false): GeoTable = {
    // drop only a quadkey column THIS method added: keepColumn=false
    // must never delete a user's pre-existing input column
    val hadQuadkey = df.columns.contains("quadkey")
    val t = if (hadQuadkey) this else addQuadkey(zoom)
    val sorted = t.df.orderBy(col("quadkey"))
    copy(df = if (keepColumn || hadQuadkey) sorted else sorted.drop("quadkey"))
  }

  /** Multi-column sort, one direction for all columns
    * (`core/sort_by_column.py:63-79`).
    */
  def sortBy(columns: Seq[String], descending: Boolean = false): GeoTable = {
    val unknown = columns.filterNot(df.columns.contains)
    require(unknown.isEmpty, s"unknown sort columns: ${unknown.mkString(", ")}")
    val cs = columns.map(c => if (descending) col(c).desc else col(c).asc)
    copy(df = df.orderBy(cs: _*))
  }

  // ---- reprojection (SURVEY §2.9) ---------------------------------------

  def reproject(fromCrs: String, toCrs: String): GeoTable = {
    require(Proj.supported(fromCrs) && Proj.supported(toCrs),
      s"unsupported CRS pair $fromCrs -> $toCrs")
    // carry the new CRS in the footer metadata (the reference rewrites
    // PROJJSON on reproject, `core/reproject.py:150-156`) so downstream
    // CRS gates (quadkey/H3) see the projected system
    // the declared dataset bbox is in the OLD CRS — drop it (write()
    // recomputes); same for a covering bbox COLUMN, which would
    // otherwise keep old-CRS values while meta still advertises it and
    // filterBbox's fast path compares new-CRS filter bounds against it
    // updated with a DEFAULT entry when the footer had none (plain
    // parquet read): silently keeping the old meta left the projected
    // table classified geographic, so quadkey/H3 gates passed on meter
    // coordinates and produced garbage cells with no error. Keyed by
    // the ACTUAL geometry column (a footer-less GeoMeta defaults
    // primaryColumn to "geometry" even when the heuristics found
    // another name, and geoTemplate keys its meta.columns check on
    // geomCol).
    val pc0 = meta.columns.getOrElse(geomCol,
      meta.primary.getOrElse(GeoColumnMeta()))
    val newMeta = meta.copy(primaryColumn = geomCol,
      columns = meta.columns.updated(geomCol,
        pc0.copy(crs = Some(GeoMeta.crsNode(toCrs)), bbox = None)))
    val projected = copy(
      df = df.withColumn(geomCol, geo.st_transform(col(geomCol), fromCrs, toCrs)),
      meta = newMeta)
    meta.primary.flatMap(_.coveringBbox) match {
      case Some(bcol) if df.columns.contains(bcol) =>
        projected.addBbox(bcol) // recompute in the new CRS
      case _ => projected
    }
  }

  // ---- analytics / checks ----------------------------------------------

  /** Per-column stats in one aggregate job (`core/inspect_utils.py:717-797`). */
  def stats(): DataFrame = {
    val aggs = df.schema.fields.filterNot(_.name == geometryColumn.orNull)
      .filterNot(_.dataType.typeName == "struct").flatMap { f =>
        Seq(
          org.apache.spark.sql.functions.count(when(col(f.name).isNull, 1)).as(s"${f.name}__nulls"),
          min(col(f.name)).cast("string").as(s"${f.name}__min"),
          max(col(f.name)).cast("string").as(s"${f.name}__max"),
          approx_count_distinct(col(f.name)).as(s"${f.name}__approx_distinct"))
      }
    // no stat-able columns (geometry + structs only): one row count,
    // not aggs.head on an empty array
    if (aggs.isEmpty)
      df.agg(org.apache.spark.sql.functions.count(lit(1)).as("rows"))
    else df.agg(aggs.head, aggs.tail: _*)
  }

  /** Geometry-type profile (`core/common.py:1989-2042`). */
  def geometryTypes(): Seq[String] =
    graft.util.CollectCapped(
      df.select(geo.st_geometrytype(col(geomCol)).as("t")).distinct(), 64,
      "geometry-type profile").map(_.getString(0)).sorted.toSeq

  /** Spatial-order ratio: avg consecutive distance / avg sampled-pair
    * distance, pass < 0.5 (`core/check_spatial_order.py`).
    */
  def checkSpatialOrder(sampleLimit: Int = 100000, seed: Long = 42L): Double = {
    import org.apache.spark.sql.expressions.Window
    val pts = df.select(geo.st_x(col(geomCol)).as("x"),
        geo.st_y(col(geomCol)).as("y"))
      .limit(sampleLimit)
      .withColumn("i", monotonically_increasing_id())
    // the ≤ sampleLimit-row sample is single-partition by construction
    // (GlobalLimit); pmod(i,1) — always 0, but not foldable — keeps the
    // deliberate single partition off WindowExec's no-partition warning
    val w = Window.partitionBy(pmod(col("i"), lit(1))).orderBy("i")
    val consecRow = pts
      .withColumn("px", lag(col("x"), 1).over(w))
      .withColumn("py", lag(col("y"), 1).over(w))
      .filter(col("px").isNotNull)
      .agg(avg(sqrt(pow(col("x") - col("px"), 2) + pow(col("y") - col("py"), 2))))
      .head()
    // < 2 rows: no consecutive pairs, order is trivially "sorted" —
    // NaN (no signal) beats an NPE out of Checks.fix on a 1-row file
    if (consecRow.isNullAt(0)) return Double.NaN
    val consec = consecRow.getDouble(0)
    val sampleA = pts.orderBy(rand(seed)).limit(100)
      .select(col("x").as("ax"), col("y").as("ay"))
    val sampleB = pts.orderBy(rand(seed + 1)).limit(100)
      .select(col("x").as("bx"), col("y").as("by"))
    val rndRow = sampleA.crossJoin(sampleB)
      .filter(col("ax") =!= col("bx") || col("ay") =!= col("by"))
      .agg(avg(sqrt(pow(col("ax") - col("bx"), 2) + pow(col("ay") - col("by"), 2))))
      .head()
    if (rndRow.isNullAt(0)) return Double.NaN
    val rnd = rndRow.getDouble(0)
    if (rnd == 0) Double.NaN else consec / rnd
  }

  // ---- partitioned writes (SURVEY §2.7) ---------------------------------

  /** Pre-flight partition analysis with the reference's guardrails
    * (`core/partition_common.py:85-164`): max 10000 partitions, avg >=
    * 100 rows, imbalance max/median <= 1000.
    */
  def analyzePartitionKey(keyExpr: Column): PartitionAnalysis = {
    val hist = df.groupBy(keyExpr.as("k")).count()
    val s = hist.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n"),
      min(col("count")).as("mn"),
      max(col("count")).as("mx"),
      avg(col("count")).as("av"),
      expr("percentile(count, 0.5)").as("md")).head()
    PartitionAnalysis(s.getLong(0), s.getLong(1), s.getLong(2),
      s.getDouble(3), s.getDouble(4))
  }

  /** Hive-partitioned write by a string column (optionally a prefix of
    * it), with guardrails (`core/partition_by_string.py`).
    */
  def partitionByString(column: String, chars: Option[Int], outPath: String,
      force: Boolean = false): Unit = {
    val key = chars.map(n => substring(col(column), 1, n))
      .getOrElse(col(column))
    val analysis = analyzePartitionKey(key)
    if (!force) analysis.requireSane()
    writeGeoParquet(df.withColumn("__part", key).repartition(col("__part")),
      outPath, Seq("__part"))
  }

  /** Flat-layout partitioned write — the reference's DEFAULT naming
    * (`core/partition_common.py:621-643`, hive=False): one
    * `<value>.parquet` (or `<prefix>_<value>.parquet`) per key directly
    * in the output directory, no `key=value` folders. Implemented as a
    * hive-partitioned staging write (one shuffle, one file per key since
    * a key never splits across repartition buckets) followed by
    * per-partition renames — O(#partitions) FS metadata ops, bounded by
    * the ≤10000-partition guardrail.
    */
  def partitionByFlat(keyExpr: Column, outPath: String,
      filenamePrefix: Option[String] = None, force: Boolean = false): Unit = {
    val analysis = analyzePartitionKey(keyExpr)
    if (!force) analysis.requireSane()
    val conf = spark.sparkContext.hadoopConfiguration
    val outP = new Path(outPath)
    val fs = outP.getFileSystem(conf)
    val staging = new Path(outPath + ".__staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    writeGeoParquet(df.withColumn("__pk", keyExpr).repartition(col("__pk")),
      staging.toString, Seq("__pk"))
    if (fs.exists(outP)) fs.delete(outP, true)
    fs.mkdirs(outP)
    // sanitized names may COLLIDE ("a b" and "a_b" both map to "a_b");
    // a collision would make the second rename fail/overwrite and the
    // staging delete below would then silently drop a whole partition —
    // disambiguate with a counter, and treat a failed rename as fatal
    val used = scala.collection.mutable.HashMap[String, Int]()
    fs.listStatus(staging).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("__pk=")).foreach { d =>
      val value = java.net.URLDecoder.decode(
        d.getPath.getName.substring(5), "UTF-8")
      val safe0 = value.replaceAll("[^A-Za-z0-9._-]", "_")
      val n = used.getOrElse(safe0, 0)
      used(safe0) = n + 1
      val safe = if (n == 0) safe0 else s"$safe0.key$n"
      val parts = fs.listStatus(d.getPath)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      parts.zipWithIndex.foreach { case (p, i) =>
        // distinctive multi-part marker: a plain _N suffix would be
        // ambiguous with key values that end in _<digits> on readback
        val suffix = if (parts.length == 1) "" else s".part$i"
        val fname = filenamePrefix match {
          case Some(pre) => s"${pre}_$safe$suffix.parquet"
          case None => s"$safe$suffix.parquet"
        }
        if (!fs.rename(p.getPath, new Path(outP, fname)))
          throw new java.io.IOException(
            s"rename ${p.getPath} -> $outP/$fname failed")
      }
    }
    fs.delete(staging, true)
  }

  /** Partition by quadkey prefix (`core/partition_by_quadkey.py`).
    * When this call computes the key itself (no pre-existing `quadkey`
    * column whose anchor rule we can't know), it also records a
    * [[graft.meta.SpatialPartitioning]] footer so a later
    * [[filterBbox]] over the dataset prunes partition DIRECTORIES.
    */
  def partitionByQuadkey(zoom: Int, prefixChars: Int, outPath: String,
      force: Boolean = false): Unit = {
    val hadKey = df.columns.contains("quadkey")
    val t = if (hadKey) this else addQuadkey(zoom)
    val key = substring(col("quadkey"), 1, prefixChars)
    val analysis = t.analyzePartitionKey(key)
    if (!force) analysis.requireSane()
    val sp = if (hadKey) None else {
      val (rw, rh) = midpointReach() // quadkey_geom anchors at envelope midpoint
      Some(graft.meta.SpatialPartitioning("quadkey", "__qk",
        level = math.min(zoom, prefixChars), maxHalfW = rw, maxHalfH = rh))
    }
    writeGeoParquet(t.df.withColumn("__qk", key).repartition(col("__qk")),
      outPath, Seq("__qk"), partitioning = sp)
  }

  /** Partition by H3 cell (`core/partition_by_h3.py:98-215`): ensure the
    * cell column, guardrail-check the histogram, hash-partition on the
    * cell so each output file holds exactly one cell's rows.
    */
  def partitionByH3(resolution: Int, outPath: String,
      h3Col: String = "h3_cell", force: Boolean = false): Unit = {
    val hadKey = df.columns.contains(h3Col)
    val t = if (hadKey) this else addH3(resolution, h3Col)
    val analysis = t.analyzePartitionKey(col(h3Col))
    if (!force) analysis.requireSane()
    val sp = if (hadKey) None else {
      val (rw, rh) = centroidReach() // h3Geom anchors at the centroid
      Some(graft.meta.SpatialPartitioning("h3", "__h3",
        resolution = resolution, maxHalfW = rw, maxHalfH = rh))
    }
    writeGeoParquet(t.df.withColumn("__h3", col(h3Col)).repartition(col("__h3")),
      outPath, Seq("__h3"), partitioning = sp)
  }

  /** Partition by KD-tree cell — balanced output files
    * (`core/partition_by_kdtree.py`).
    */
  def partitionByKdtree(iterations: Int, outPath: String): Unit = {
    val (t, tree) = addKdtreeWithTree(iterations)
    val (rw, rh) = centroidReach() // kd cells anchor at the centroid
    writeGeoParquet(t.df.repartition(col("kdtree_cell")), outPath, Seq("kdtree_cell"),
      partitioning = Some(graft.meta.SpatialPartitioning(
        "kdtree", "kdtree_cell", splits = Some(tree),
        maxHalfW = rw, maxHalfH = rh)))
  }

  /** Spatial enrich join against a boundary table (the reference's
    * admin-division join, `core/add_admin_divisions_multi.py:72-151`):
    * LEFT JOIN boundaries ON bbox-overlap pre-filter AND precise
    * ST_Contains, with two-phase extent pruning — boundaries are first
    * filtered to the input's bounds (`core/partition_admin_hierarchical
    * .py:93-145`) and broadcast.
    *
    * `boundaries` must carry a WKB geometry column plus the attribute
    * columns to attach (e.g. country_code, subdivision_code).
    */
  /** CRS-consistency diagnosis for the enrich join: Some(message) when
    * the boundary table's declared CRS does not match this table's — a
    * degrees-vs-meters join passes the bbox pre-filter for nothing and
    * silently attaches NULLs everywhere. Same warn-don't-fail contract
    * as [[bboxCrsMismatch]]; pure so GeoTableSpec can pin both
    * directions. Geographic systems (EPSG:4326 / OGC:CRS84) are treated
    * as one family; projected systems must match by name.
    */
  private[graft] def enrichCrsMismatch(boundaries: GeoTable): Option[String] = {
    val (tg, bg) = (isGeographicCrs, boundaries.isGeographicCrs)
    if (tg != bg)
      Some(s"CRS mismatch: table is ${crsOrDefault} but boundaries are " +
        s"${boundaries.crsOrDefault} (geographic vs projected) — the " +
        "enrich join will attach nothing; reproject one side first")
    else if (!tg && crsOrDefault != boundaries.crsOrDefault)
      Some(s"CRS mismatch: table is ${crsOrDefault} but boundaries are " +
        s"${boundaries.crsOrDefault} — reproject one side first")
    else None
  }

  /** [[enrichSpatial]] with the boundary side as a GeoTable: runs the
    * CRS-consistency gate (warn, don't fail — reference behavior) and
    * resolves the geometry column from the boundary footer. */
  def enrichSpatial(boundaries: GeoTable, attach: Seq[String]): GeoTable = {
    enrichCrsMismatch(boundaries).foreach(log.warn(_))
    val bcol = boundaries.geometryColumn.getOrElse(
      throw new IllegalArgumentException("boundary table has no geometry column"))
    enrichSpatial(boundaries.df, bcol, attach)
  }

  def enrichSpatial(boundaries: DataFrame, boundaryGeomCol: String,
      attach: Seq[String]): GeoTable = {
    val (x0, y0, x1, y1) = bounds()
    val bg = col(boundaryGeomCol)
    val pruned = boundaries
      .withColumn("__bx0", geo.st_xmin(bg))
      .withColumn("__by0", geo.st_ymin(bg))
      .withColumn("__bx1", geo.st_xmax(bg))
      .withColumn("__by1", geo.st_ymax(bg))
      .filter(col("__bx1") >= x0 && col("__bx0") <= x1 &&
        col("__by1") >= y0 && col("__by0") <= y1)
      .select((attach.map(col) :+ bg.as("__bgeom") :+
        col("__bx0") :+ col("__by0") :+ col("__bx1") :+ col("__by1")): _*)
    val px = geo.st_x(col(geomCol)); val py = geo.st_y(col(geomCol))
    val joined = df.join(broadcast(pruned),
      // cheap range pre-filter ordered before the precise predicate
      px >= col("__bx0") && px <= col("__bx1") &&
        py >= col("__by0") && py <= col("__by1") &&
        geo.st_contains(col("__bgeom"), col(geomCol)),
      "left")
      .drop("__bgeom", "__bx0", "__by0", "__bx1", "__by1")
    copy(df = joined)
  }

  /** Hierarchical admin partition (`core/partition_admin_hierarchical
    * .py:287-612`): enrich, then nested Hive dirs level1=…/level2=….
    */
  def partitionByAdmin(boundaries: DataFrame, boundaryGeomCol: String,
      levels: Seq[String], outPath: String): Unit = {
    val t = enrichSpatial(boundaries, boundaryGeomCol, levels)
    writeGeoParquet(t.df.repartition(levels.map(col): _*), outPath, levels)
  }

  /** Split by an existing country-code column
    * (`core/split_by_country.py:99-193`).
    */
  def splitByCountry(codeColumn: String, outPath: String): Unit = {
    require(df.columns.contains(codeColumn), s"no column $codeColumn")
    writeGeoParquet(df.repartition(col(codeColumn)), outPath, Seq(codeColumn))
  }

  // ---- write ------------------------------------------------------------

  /** Write GeoParquet in one pass ([[writeGeoParquet]]): each file's
    * footer declares `geo`, with that file's own bbox when the table has
    * a covering column.
    *
    * Physical-write surface mirrors the reference's shared options
    * (`cli/decorators.py:50-360`): codec (ZSTD default), codec level
    * (ZSTD default 15 like `core/common.py:1763-1766`), row-group byte
    * target (~128MB default, reference targets ~130MB), max records per
    * file.
    */
  def write(path: String, compression: String = "zstd",
      maxRecordsPerFile: Long = 0L,
      compressionLevel: Option[Int] = None,
      rowGroupBytes: Option[Long] = None): Unit = {
    val level = compressionLevel.map { lvl =>
      val key = compression.toLowerCase match {
        case "zstd" => "parquet.compression.codec.zstd.level"
        case "gzip" => "parquet.compression.codec.gzip.level"
        case "brotli" => "parquet.compression.codec.brotli.level"
        case c => throw new IllegalArgumentException(s"no level option for $c")
      }
      key -> lvl.toString
    }
    writeGeoParquet(df, path, options = Map("compression" -> compression) ++
      Option.when(maxRecordsPerFile > 0)("maxRecordsPerFile" -> maxRecordsPerFile.toString) ++
      rowGroupBytes.map(b => "parquet.block.size" -> b.toString) ++ level)
  }

  /** Max distance from each row's partition-key ANCHOR point to its
    * envelope edge, per axis — the reach [[filterBbox]] must expand a
    * query box by before partition pruning can be sound for non-point
    * geometries (see [[graft.meta.SpatialPartitioning]]). One bounded
    * aggregation; null/empty tables read as reach 0.
    */
  private def anchorReach(anchorX: Column, anchorY: Column): (Double, Double) = {
    val g = col(geomCol)
    val r = df.agg(
      max(greatest(anchorX - geo.st_xmin(g), geo.st_xmax(g) - anchorX)),
      max(greatest(anchorY - geo.st_ymin(g), geo.st_ymax(g) - anchorY))).head()
    (if (r.isNullAt(0)) 0.0 else math.max(0.0, r.getDouble(0)),
      if (r.isNullAt(1)) 0.0 else math.max(0.0, r.getDouble(1)))
  }

  private def midpointReach(): (Double, Double) = {
    val g = col(geomCol)
    anchorReach((geo.st_xmin(g) + geo.st_xmax(g)) / 2,
      (geo.st_ymin(g) + geo.st_ymax(g)) / 2)
  }

  private def centroidReach(): (Double, Double) = {
    val c = geo.st_centroid(col(geomCol))
    anchorReach(geo.st_x(c), geo.st_y(c))
  }

  /** The `geo` metadata every file of a write declares before its own
    * bbox: the table's, keyed by its geometry column, with the covering
    * only when its column rides in the written schema (after
    * `selectColumns(exclude = bbox)` stale metadata would declare covering
    * paths into a missing column, invalid GeoParquet that spec validators
    * reject). None without a geometry column: a plain Parquet write.
    */
  private[graft] def geoTemplate: Option[GeoMeta] = geometryColumn.map { g =>
    val gm0 =
      if (meta.columns.contains(g)) meta.copy(primaryColumn = g)
      else GeoMeta(version = "1.1.0", primaryColumn = g,
        columns = Map(g -> GeoColumnMeta(
          coveringBbox = meta.primary.flatMap(_.coveringBbox))))
    val bboxCol = gm0.primary.flatMap(_.coveringBbox).filter(df.columns.contains)
    gm0.copy(columns = gm0.columns.updated(gm0.primaryColumn,
      gm0.columns.getOrElse(gm0.primaryColumn, GeoColumnMeta())
        .copy(coveringBbox = bboxCol)))
  }

  /** The one Parquet write of every writer ([[write]], the
    * `partitionBy*` writers, [[splitByCountry]]): `out` written by Spark
    * to `path` (overwrite), hive-partitioned by `partitionBy`, through
    * [[GeoParquetFormat]]. Its write support puts [[geoTemplate]], with
    * each file's covering bbox folded from the rows it writes, and
    * `partitioning` in the footer Spark writes, so no writer reads back
    * and rewrites its files. Each writer keeps its codec: `options` as
    * given, else Spark's default.
    *
    * The geometry columns `geo` declares and the four fields of the
    * covering are written without a dictionary (parquet's per-column
    * `parquet.enable.dictionary#<path>`): unique WKB blobs and bbox
    * doubles always fall back to PLAIN, after hashing the whole first
    * page and re-encoding it. Repetitive geometry loses the dictionary's
    * saving (200 K rows of 10 distinct points: 12.7 → 17.8 KB; 1000
    * distinct: +3 %; all unique: unchanged).
    */
  private def writeGeoParquet(out: DataFrame, path: String,
      partitionBy: Seq[String] = Nil, options: Map[String, String] = Map.empty,
      partitioning: Option[graft.meta.SpatialPartitioning] = None): Unit = {
    val footer = geoTemplate.toSeq.flatMap { gm =>
      val plain = gm.columns.keys.filter(out.columns.contains) ++
        gm.primary.flatMap(_.coveringBbox).toSeq.flatMap(b =>
          GeoParquetFormat.Corners.map(c => s"$b.$c"))
      (GeoParquetFormat.GeoOption -> GeoMeta.toJson(gm)) +:
        (partitioning.toSeq.map(sp => GeoParquetFormat.PartitioningOption ->
          graft.meta.SpatialPartitioning.toJson(sp)) ++
        plain.map(p => s"${ParquetOutputFormat.ENABLE_DICTIONARY}#$p" -> "false"))
    }
    val w = out.write.format(classOf[GeoParquetFormat].getName).mode("overwrite")
      .options(options ++ footer)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).save(path)
  }

  /** CSV sink (`core/format_writers.py:245-354`): geometry as WKT column,
    * complex-typed columns dropped (reference drops them for GDAL sinks).
    */
  def writeCsv(path: String, delimiter: String = ","): Unit = {
    val scalarCols = df.columns
      .filterNot(_ == geometryColumn.orNull)
      .filter(c => df.schema(c).dataType.typeName != "struct" &&
        !df.schema(c).dataType.typeName.startsWith("array"))
    val out = geometryColumn match {
      case Some(g) =>
        df.select((scalarCols.map(col) :+ geo.st_astext(col(g)).as("wkt")): _*)
      case None => df.select(scalarCols.map(col): _*)
    }
    out.write.mode("overwrite").option("header", "true")
      .option("delimiter", delimiter).csv(path)
  }

  /** Newline-delimited GeoJSON sink (`core/geojson_stream.py` ndjson
    * framing); one Feature per line, distributed text write.
    */
  def writeGeoJsonSeq(path: String, precision: Int = -1): Unit =
    toGeoJsonFeatures(precision).write.mode("overwrite").text(path)

  /** Shapefile sink (`core/format_writers.py:42-243` GDAL path) —
    * driver-side assembly like the FeatureCollection export: the format
    * is a single non-splittable ≤2 GB file, for boundary-scale outputs.
    * Point/Polygon geometries; scalar attributes become dbf fields.
    */
  def writeShapefile(path: String): Unit = {
    import graft.sources.Shapefile
    val scalarCols = df.columns.filterNot(_ == geomCol)
      .filter(c => Seq("string", "long", "integer", "double", "boolean")
        .contains(df.schema(c).dataType.typeName))
    val fields = scalarCols.map { c =>
      df.schema(c).dataType.typeName match {
        case "long" | "integer" => Shapefile.DbfField(c.take(10), 'N', 18, 0)
        case "double" => Shapefile.DbfField(c.take(10), 'N', 18, 6)
        case "boolean" => Shapefile.DbfField(c.take(10), 'L', 1, 0)
        case _ => Shapefile.DbfField(c.take(10), 'C', 64, 0)
      }
    }.toSeq
    val rows = graft.util.CollectCapped(
      df.select((scalarCols.map(col) :+ col(geomCol)): _*),
      GeoTable.SingleFileSinkMaxRows, "single-file boundary-format sink")
    val geoms = rows.map { r =>
      val wkb = r.getAs[Array[Byte]](scalarCols.length)
      // a clear error beats an NPE inside Wkb.read: this sink's encoder
      // has no null-shape support — filter nulls or use the gpkg sink
      require(wkb != null,
        s"null geometry cannot be written by this sink (column $geomCol); " +
          "filter null geometries out or use writeGeoPackage")
      graft.geom.Wkb.read(wkb)
    }.toSeq
    val recs = rows.map(r => scalarCols.indices.map(r.get).toSeq).toSeq
    GeoTable.uploadIfRemote(df.sparkSession, path)(
      Shapefile.write(_, geoms, fields, recs))
  }

  /** GeoPackage sink (`core/format_writers.py:42-243` GDAL path) —
    * driver-side assembly like the Shapefile sink: the format is one
    * non-splittable SQLite file, for boundary-scale outputs. Read back
    * with [[GeoTable.fromGeoPackage]].
    */
  def writeGeoPackage(path: String, tableName: String = "features",
      srsId: Int = 4326): Unit = {
    // "fid" is the sink's INTEGER PRIMARY KEY rowid alias; an incoming
    // attribute of that name (e.g. a round-tripped GPKG) would collide
    val scalarCols = df.columns.filterNot(_ == geomCol)
      .filterNot(_.equalsIgnoreCase("fid"))
      .filter(c => Seq("string", "long", "integer", "double", "boolean")
        .contains(df.schema(c).dataType.typeName))
    val rows = graft.util.CollectCapped(
      df.select((scalarCols.map(col) :+ col(geomCol)): _*),
      GeoTable.SingleFileSinkMaxRows, "single-file boundary-format sink")
    // null WKB rows stay null Geoms — GeoPackage stores them as SQL NULL
    val geoms = rows.map { r =>
      val wkb = r.getAs[Array[Byte]](scalarCols.length)
      if (wkb == null) null else graft.geom.Wkb.read(wkb)
    }.toSeq
    val recs = rows.map(r => scalarCols.indices.map(r.get).toSeq).toSeq
    GeoTable.uploadIfRemote(df.sparkSession, path)(
      graft.sources.GeoPackage.write(_, tableName, "geom", srsId,
        scalarCols.toSeq, recs, geoms))
  }

  /** FlatGeobuf sink (`core/convert.py:42-108` lists .fgb among the
    * GDAL ingest formats) — driver-side assembly like the Shapefile and
    * GeoPackage sinks. Read back with [[GeoTable.fromFlatGeobuf]].
    */
  def writeFlatGeobuf(path: String, name: String = "features"): Unit = {
    import graft.sources.FlatGeobuf
    val scalarCols = df.columns.filterNot(_ == geomCol)
      .filter(c => Seq("string", "long", "integer", "double", "boolean")
        .contains(df.schema(c).dataType.typeName))
    val columns = scalarCols.map { c =>
      df.schema(c).dataType.typeName match {
        case "long" | "integer" => (c, FlatGeobuf.CtLong)
        case "double" => (c, FlatGeobuf.CtDouble)
        case "boolean" => (c, FlatGeobuf.CtBool)
        case _ => (c, FlatGeobuf.CtString)
      }
    }.toSeq
    val rows = graft.util.CollectCapped(
      df.select((scalarCols.map(col) :+ col(geomCol)): _*),
      GeoTable.SingleFileSinkMaxRows, "single-file boundary-format sink")
    val geoms = rows.map { r =>
      val wkb = r.getAs[Array[Byte]](scalarCols.length)
      // a clear error beats an NPE inside Wkb.read: this sink's encoder
      // has no null-shape support — filter nulls or use the gpkg sink
      require(wkb != null,
        s"null geometry cannot be written by this sink (column $geomCol); " +
          "filter null geometries out or use writeGeoPackage")
      graft.geom.Wkb.read(wkb)
    }.toSeq
    val recs = rows.map(r => scalarCols.indices.map { i =>
      r.get(i) match {
        case x: java.lang.Integer => x.longValue
        case x => x
      }
    }.toSeq).toSeq
    GeoTable.uploadIfRemote(df.sparkSession, path)(
      FlatGeobuf.write(_, columns, recs, geoms, name))
  }

  /** Single FeatureCollection document (driver-side assembly — for
    * boundary-scale outputs, like the reference's non-streaming mode).
    * For data-scale outputs use [[writeFeatureCollection]], which never
    * materializes the features on the driver.
    */
  def toFeatureCollection(precision: Int = -1): String =
    graft.util.CollectCapped(toGeoJsonFeatures(precision),
      GeoTable.SingleFileSinkMaxRows, "in-memory FeatureCollection")
      .map(_.getString(0))
      .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  /** Single-FILE FeatureCollection sink without driver materialization:
    * the features render as ndjson part-files in ONE distributed text
    * job (all CPU-heavy work — WKB decode, JSON render — stays on
    * executors), then the driver streams the parts into the framed
    * document with an O(1)-memory byte copy. Byte-identical to writing
    * [[toFeatureCollection]]'s string (part-file order = partition
    * order = collect order); only the assembly is streamed.
    */
  def writeFeatureCollection(path: String, precision: Int = -1): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val tmp = path + ".parts.tmp"
    toGeoJsonFeatures(precision).write.mode("overwrite").text(tmp)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    val parts = fs.listStatus(tmpPath).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try {
      out.write("""{"type":"FeatureCollection","features":[""".getBytes(utf8))
      var first = true
      parts.foreach { part =>
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(part), utf8))
        try {
          var line = in.readLine()
          while (line != null) {
            if (!first) out.write(','.toInt)
            first = false
            out.write(line.getBytes(utf8))
            line = in.readLine()
          }
        } finally in.close()
      }
      out.write("]}".getBytes(utf8))
    } finally out.close()
    fs.delete(tmpPath, true)
  }

  /** GeoJSON Feature export (`core/geojson_stream.py`): one JSON Feature
    * per row, geometry + all scalar properties, optional precision.
    */
  def toGeoJsonFeatures(precision: Int = -1): DataFrame = {
    val props = df.columns.filterNot(_ == geomCol)
      .filterNot(c => df.schema(c).dataType.typeName == "struct")
    df.select(concat(
      lit("""{"type":"Feature","geometry":"""),
      geo.st_asgeojson(col(geomCol), precision),
      lit(""","properties":"""),
      to_json(struct(props.map(col): _*)),
      lit("}")).as("feature"))
  }
}

/** Guardrail result for partitioned writes (reference limits). */
final case class PartitionAnalysis(nPartitions: Long, minRows: Long,
    maxRows: Long, avgRows: Double, medianRows: Double) {
  def imbalance: Double = if (medianRows > 0) maxRows / medianRows else 0.0
  def requireSane(): Unit = {
    require(nPartitions <= 10000,
      s"refusing to write $nPartitions partitions (max 10000)")
    require(avgRows >= 100,
      f"average partition has $avgRows%.1f rows (min 100)")
    require(imbalance <= 1000,
      f"partition imbalance $imbalance%.1f exceeds 1000x median")
  }
}

object GeoTable {
  /** Helper column of [[GeoTable.sortHilbert]], dropped before it returns. */
  private val HilbertKeyCol = "__hilbert_key"

  /** Collect bound for the driver-assembled single-file sinks (shapefile/
    * GeoPackage/FlatGeobuf/in-memory FeatureCollection): these formats are
    * one non-splittable file BY DESIGN (shapefile caps at 2 GB), for
    * boundary-scale outputs. Data-scale exports use the distributed
    * parquet/ndjson/writeFeatureCollection paths instead. */
  val SingleFileSinkMaxRows = 20000000L

  /** Write-local-then-upload for the single-file sinks (the reference's
    * `upload_if_remote` / `remote_write_context`,
    * `core/common.py:413-519`, re-expressed over Hadoop FileSystem):
    * `body` writes to a LOCAL filesystem path; when `dest` carries a
    * URI scheme the write lands in a temp file first and is then copied
    * through `dest`'s Hadoop FileSystem — s3a://, gs://, abfs:// work
    * unchanged when those connector jars are on the classpath, and an
    * explicit file:// URI exercises the same copy path against the
    * local FS (how the test covers it without cloud jars). Scheme-less
    * plain paths keep the direct local write.
    */
  def uploadIfRemote(spark: SparkSession, dest: String)
      (body: String => Unit): Unit = {
    val scheme = try new java.net.URI(dest).getScheme catch {
      case _: Exception => null
    }
    if (scheme == null) body(dest)
    else {
      val destPath = new org.apache.hadoop.fs.Path(dest)
      val tmpDir = java.nio.file.Files.createTempDirectory("graft_upload")
      try {
        body(tmpDir.resolve(destPath.getName).toString)
        val fs = destPath.getFileSystem(spark.sessionState.newHadoopConf())
        // upload every file the sink produced — single-file formats may
        // emit siblings next to the named file (shapefile's .dbf)
        val produced = java.nio.file.Files.list(tmpDir)
        try produced.iterator().forEachRemaining { f =>
          fs.copyFromLocalFile(true, true,
            new org.apache.hadoop.fs.Path(f.toString),
            new org.apache.hadoop.fs.Path(destPath.getParent,
              f.getFileName.toString))
        } finally produced.close()
      } finally {
        val leftovers = java.nio.file.Files.list(tmpDir)
        try leftovers.iterator().forEachRemaining(f =>
          java.nio.file.Files.deleteIfExists(f))
        finally leftovers.close()
        java.nio.file.Files.deleteIfExists(tmpDir)
      }
    }
  }

  /** `publish upload` core (reference `cli/main.py:4206-4297`): copy an
    * EXISTING local file or directory tree to `dest` through dest's
    * Hadoop FileSystem — the standalone-upload sibling of
    * [[uploadIfRemote]] (which wraps a write). s3a://, gs://, abfs://
    * work when the connector jars are on the classpath; a file:// dest
    * exercises the same copy path locally (how CliSpec covers it).
    * Directories copy recursively preserving relative structure;
    * `pattern` is a glob over the file name or the source-relative path
    * (reference `--pattern`). Returns the copied file count.
    */
  def uploadTree(spark: SparkSession, src: String, dest: String,
      pattern: Option[String] = None): Int = {
    import scala.jdk.CollectionConverters._
    val srcPath = java.nio.file.Paths.get(src)
    require(java.nio.file.Files.exists(srcPath), s"source not found: $src")
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sessionState.newHadoopConf())
    val matcher = pattern.map(p => java.nio.file.FileSystems.getDefault
      .getPathMatcher(s"glob:$p"))
    def keep(f: java.nio.file.Path): Boolean = matcher.forall(m =>
      m.matches(f.getFileName) || m.matches(srcPath.relativize(f)))
    if (java.nio.file.Files.isRegularFile(srcPath)) {
      fs.copyFromLocalFile(false, true,
        new org.apache.hadoop.fs.Path(srcPath.toString), destPath)
      1
    } else {
      val walk = java.nio.file.Files.walk(srcPath)
      try {
        val files = walk.iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) && keep(f))
          .toSeq
        files.foreach { f =>
          // Hadoop Path resolves "a/b" children segment-by-segment
          val rel = srcPath.relativize(f).iterator().asScala
            .map(_.toString).toSeq
          val target = rel.foldLeft(destPath)(new org.apache.hadoop.fs.Path(_, _))
          fs.copyFromLocalFile(false, true,
            new org.apache.hadoop.fs.Path(f.toString), target)
        }
        files.size
      } finally walk.close()
    }
  }

  /** `add bbox-metadata` (reference `core/add_bbox_metadata.py`):
    * in-place footer update for a dataset that already HAS a bbox
    * struct column but no covering metadata — attaches the
    * `covering.bbox` paths to the `geo` key of every part file without
    * touching data. Returns the covering column name; no-op (still
    * returning it) when covering already exists; fails loudly when no
    * bbox column is present ("use `add bbox` instead", like the
    * reference).
    */
  /** In-place GeoParquet version conversion (reference `convert
    * --geoparquet-version`, `core/convert.py:1011-1102` +
    * `GEOPARQUET_VERSIONS`, `core/common.py:56-66`) — a footer-only
    * rewrite: row-group pages are byte-copied, never re-encoded, so the
    * cost is O(footer), not O(data).
    *
    *  - "1.0" / "1.1": strip every native geo logical type (Spark can
    *    then read the file directly) and stamp `geo.version`.
    *  - "2.0": annotate the primary geometry column with the native
    *    Parquet GEOMETRY (or GEOGRAPHY, when `geo.edges` = spherical)
    *    logical type — inlining the metadata CRS per spec — and stamp
    *    `geo.version` 2.0.0.
    *  - "parquet-geo-only": native logical type, `geo` key dropped.
    */
  def setGeoParquetVersion(path: String, version: String): Unit = {
    val conf = graft.meta.Footer.newConf() // session-aware fs settings
    val parts = Footer.partFiles(path, conf)
    require(parts.nonEmpty, s"no parquet files at $path")
    val metaVersion = version match {
      case "1.0" => "1.0.0"
      case "1.1" => "1.1.0"
      case "2.0" => "2.0.0"
      case "parquet-geo-only" => ""
      case other => throw new IllegalArgumentException(
        s"unknown geoparquet version '$other' " +
          "(expected 1.0, 1.1, 2.0 or parquet-geo-only)")
    }
    import scala.jdk.CollectionConverters._
    // one in-place copy per file: its plan sets both the schema and the
    // key-value metadata of the target version
    parts.foreach(p => Footer.rewriteInPlace(p, conf) { footer =>
      val fm = footer.getFileMetaData
      val kv = fm.getKeyValueMetaData.asScala.toMap
      val geoMeta = kv.get(GeoMeta.FooterKey).map(GeoMeta.fromJson).getOrElse(
        throw new IllegalArgumentException(s"$p has no `geo` metadata"))
      val stamped = GeoMeta.FooterKey ->
        GeoMeta.toJson(geoMeta.copy(version = metaVersion))
      version match {
        case "1.0" | "1.1" => (Footer.withoutNativeGeo(fm.getSchema), kv + stamped)
        case "2.0" | "parquet-geo-only" =>
          val pc = geoMeta.primary.getOrElse(
            throw new IllegalArgumentException(
              s"$p: primary column ${geoMeta.primaryColumn} missing " +
                "from `geo` metadata"))
          val crs = pc.crs.filterNot(_.isNull).map(_.toString)
          val alg = pc.edges.filter(_ == "spherical").map(_ => "SPHERICAL")
          (Footer.withNativeGeo(fm.getSchema, geoMeta.primaryColumn, crs, alg),
            if (version == "2.0") kv + stamped else kv - GeoMeta.FooterKey)
      }
    })
  }

  def addBboxMetadata(path: String): String = {
    val conf = graft.meta.Footer.newConf() // session-aware fs settings
    val parts = Footer.partFiles(path, conf)
    require(parts.nonEmpty, s"no parquet files at $path")
    val info = Footer.read(parts.head, conf)
    val geoMeta = info.geo.getOrElse(
      throw new IllegalArgumentException(s"$path has no `geo` metadata"))
    geoMeta.primary.flatMap(_.coveringBbox) match {
      case Some(existing) => existing // already covered — reference no-op
      case None =>
        val bboxCol = GeoMeta.BboxNameCandidates.find { cand =>
          info.schemaInfo.exists(f => f.name == cand && !f.primitive &&
            Seq("xmin", "ymin", "xmax", "ymax")
              .forall(f.groupFields.map(_._1).contains))
        }.getOrElse(throw new IllegalArgumentException(
          s"$path has no bbox struct column — use `add bbox` to add " +
            "both the column and the metadata"))
        // update each part's OWN metadata: stamping parts.head's JSON
        // onto every file would clobber per-file keys (notably the
        // per-file bbox a partitioned write declares) — a reader doing
        // file-level bbox pruning would then skip files whose true
        // extent the head's bbox doesn't cover. updated (not map) so a
        // missing primary-column entry still gets the covering recorded.
        parts.foreach { p =>
          val partGeo = Footer.read(p, conf).geo.getOrElse(geoMeta)
          val pc = partGeo.columns
            .getOrElse(partGeo.primaryColumn, GeoColumnMeta())
          val updated = partGeo.copy(columns = partGeo.columns.updated(
            partGeo.primaryColumn, pc.copy(coveringBbox = Some(bboxCol))))
          Footer.withKeyValueMetadata(p,
            Map(GeoMeta.FooterKey -> GeoMeta.toJson(updated)), conf)
        }
        bboxCol
    }
  }

  /** Deep nullable-ification, mirroring Spark's private
    * `StructType.asNullable` that stock DataSource resolution applies to
    * file-sourced data schemas (files may appear/disappear between
    * planning and execution, so parquet `required` never survives into
    * the relation schema).
    */
  private def deepNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = deepNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = deepNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = deepNullable(m.keyType),
        valueType = deepNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** A dataset planned from our own listing: the stock parquet relation
    * over the pre-listed files, those files in path order, and the
    * key-value metadata of the first one's footer.
    */
  private[graft] final case class Listed(df: DataFrame, files: Seq[Path],
      footerKv: Map[String, String])

  /** Plan a parquet read over a PRE-LISTED file index. Spark's own read
    * path re-lists the tree through Hadoop's local FS, which without the
    * native library stats each file via an `ls` subprocess — 17-19 s of
    * driver stall at 10⁴ hive directories (tools/DirScale) for a listing
    * the NIO walk produces in 0.26 s. Hand Spark the NIO listing instead:
    * prefill a FileStatusCache under the qualified root and build the
    * InMemoryFileIndex from it (cache hit ⇒ no FS walk; partition
    * inference runs over the cached statuses as usual).
    *
    * The footer of the first file in path order — the file stock
    * `inferSchema` picks at mergeSchema=false — is read once, here on the
    * driver: it yields both the data schema (converted exactly as
    * `mergeSchemasInParallel` converts it, without that method's Spark
    * job) and the key-value metadata [[read]] takes `geo` from. At
    * mergeSchema=true the schema still comes from Spark's distributed
    * merge, which needs every footer.
    *
    * The relation IS the one `spark.read.parquet` resolves to, so
    * pushdown, pruning and partition discovery are untouched. None
    * (unlistable path, foreign files, empty dir, or any failure) tells
    * the caller to use the stock reader, which then raises the stock
    * errors.
    */
  private[graft] def listedRead(spark: SparkSession, path: String,
      mergeSchema: Boolean): Option[Listed] =
    try {
      import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
      import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
      // session conf first: it carries fs.<scheme>.impl registrations
      // the non-local listing path (VERDICT r16 #6) resolves through
      val conf = spark.sessionState.newHadoopConf()
      Footer.partFileStatuses(path, conf).filter(_.nonEmpty).flatMap { st =>
        val root = new Path(path)
        val fs = root.getFileSystem(conf)
        val qualified = fs.makeQualified(root)
        val statuses = st.map(s => new org.apache.hadoop.fs.FileStatus(
          s.getLen, false, s.getReplication, s.getBlockSize,
          s.getModificationTime, fs.makeQualified(s.getPath))).toArray
        val cache = FileStatusCache.getOrCreate(spark)
        cache.putLeafFiles(qualified, statuses)
        val opts = Map("mergeSchema" -> mergeSchema.toString,
          "basePath" -> qualified.toString)
        val index = new InMemoryFileIndex(spark, Seq(qualified), opts,
          userSpecifiedSchema = None, fileStatusCache = cache,
          userSpecifiedPartitionSpec =
            certainlyStringPartitionSpec(qualified, statuses))
        val head = statuses.head
        val footer = ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(head, conf),
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val fmt = new ParquetFileFormat
        val dataSchema =
          if (mergeSchema) fmt.inferSchema(spark, opts, statuses.toIndexedSeq)
          else Some(GraftBridge.parquetSchemaFromFooter(spark,
            new org.apache.parquet.hadoop.Footer(head.getPath, footer)))
        dataSchema.map { ds =>
          import scala.jdk.CollectionConverters._
          // stock DataSource resolution forces the data schema nullable
          // (files may appear/disappear); mirror it for schema parity
          val df = spark.baseRelationToDataFrame(HadoopFsRelation(index,
            index.partitionSpec().partitionColumns,
            deepNullable(ds).asInstanceOf[org.apache.spark.sql.types.StructType],
            bucketSpec = None, fmt, opts)(spark))
          Listed(df, statuses.toSeq.map(_.getPath),
            footer.getFileMetaData.getKeyValueMetaData.asScala.toMap)
        }
      }
    } catch { case _: Throwable => None }

  /** Pre-built partition spec for hive layouts whose every partition
    * value is PROVABLY a string under Spark's own inference rules —
    * Spark's `parsePartitions` discovers a value's type by try-cast
    * (Integer → Long → Decimal → Date → Timestamp), each failure an
    * explicitly-constructed exception with a filled stack trace; a
    * 3×10⁴-directory H3 layout (hex values: every cast fails) pays
    * ~150k exceptions ≈ 2-3 s of driver time inferring "string" 30k
    * times. A value that contains a letter can never be numeric, a
    * date, or a timestamp — the ONLY lettered shapes Spark's chain can
    * accept are scientific-notation decimals (`1e5`), the hive null
    * marker, and escaped (`%`) sequences, all of which (plus any
    * non-lettered value, mixed key sequences, or files at the root)
    * return None here → the stock inference runs and semantics are
    * untouched. So this is a pure fast path: it fires only when its
    * answer is PROVABLY the answer stock inference would produce.
    */
  private[graft] def certainlyStringPartitionSpec(
      qualifiedBase: org.apache.hadoop.fs.Path,
      statuses: Array[org.apache.hadoop.fs.FileStatus])
      : Option[org.apache.spark.sql.execution.datasources.PartitionSpec] = {
    import org.apache.spark.sql.execution.datasources.{PartitionPath, PartitionSpec}
    val baseStr = qualifiedBase.toString
    val dirs = statuses.map(_.getPath.getParent).distinct
    val letter = java.util.regex.Pattern.compile("[A-Za-z]")
    val sciNum = java.util.regex.Pattern.compile("^[0-9]+[eE][+-]?[0-9]+$")
    def certainlyString(v: String): Boolean =
      v.nonEmpty && !v.contains('%') && v != "__HIVE_DEFAULT_PARTITION__" &&
        letter.matcher(v).find() && !sciNum.matcher(v).matches() &&
        !v.equalsIgnoreCase("true") && !v.equalsIgnoreCase("false") &&
        !v.equalsIgnoreCase("nan") && !v.equalsIgnoreCase("infinity")
    val parsed = dirs.map { d =>
      val s = d.toString
      if (!s.startsWith(baseStr)) return None
      val rel = s.substring(baseStr.length).stripPrefix("/")
      if (rel.isEmpty) return None // files at the root: not a hive layout
      val kvs = rel.split('/').map { seg =>
        val i = seg.indexOf('=')
        if (i <= 0 || i == seg.length - 1) return None
        // '%' in the KEY too (ADVICE r16): stock parsePartitions
        // unescapes key names ('a%20b' → 'a b'); our verbatim key would
        // produce a different partition-column name, so escaped keys
        // must defer to stock inference just like escaped values
        if (seg.substring(0, i).contains('%')) return None
        (seg.substring(0, i), seg.substring(i + 1))
      }
      if (!kvs.forall(kv => certainlyString(kv._2))) return None
      (d, kvs)
    }
    val keys = parsed.head._2.map(_._1).toSeq
    if (!parsed.forall(_._2.map(_._1).toSeq == keys)) return None
    val schema = org.apache.spark.sql.types.StructType(keys.map(k =>
      org.apache.spark.sql.types.StructField(k,
        org.apache.spark.sql.types.StringType, nullable = true)))
    Some(PartitionSpec(schema, parsed.toIndexedSeq.map { case (d, kvs) =>
      PartitionPath(org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        kvs.toIndexedSeq.map(kv =>
          org.apache.spark.unsafe.types.UTF8String.fromString(kv._2))), d)
    }))
  }

  /** Read GeoParquet: data via Spark (Hive partition discovery / globs /
    * mergeSchema native), `geo` metadata and the `graft:partitioning`
    * key from the first part file's footer, geometry column from
    * metadata then name heuristics. On a dataset [[listedRead]] can
    * list, one listing and one footer read plan the whole read, and at
    * mergeSchema=false no Spark job runs.
    */
  def read(spark: SparkSession, path: String,
      mergeSchema: Boolean = false): GeoTable = {
    val listed = listedRead(spark, path, mergeSchema)
    val df0 = listed.map(_.df).getOrElse(
      spark.read.option("mergeSchema", mergeSchema.toString).parquet(path))
    // without our listing, firstPartFile: the same walk's first part as
    // partFiles().headOption, but it stops there, so read planning stays
    // O(depth), not O(files), on wide hive layouts.
    // Degradation contract: one footer assumes every part
    // carries identical graft footers — true for completed writes (each
    // file gets its footer as it is written), violated only by a
    // conversion (`addBboxMetadata`, `setGeoParquetVersion`) or a
    // `Footer.writeGeoMetadata` pass over foreign files that FAILED
    // partway. If the first footer carries NO graft keys, scan a bounded
    // prefix of the listing for one that does, so a partially-footered
    // dataset reads its metadata deterministically.
    def graftKeyed(kv: Map[String, String]): Boolean =
      kv.contains(GeoMeta.FooterKey) ||
        kv.contains(graft.meta.SpatialPartitioning.FooterKey)
    val (firstKv, files) = listed match {
      case Some(l) => (Some(l.footerKv), () => l.files)
      case None => (Footer.firstPartFile(path).map(p => Footer.read(p).keyValueMeta),
        () => Footer.partFiles(path))
    }
    val kv = firstKv.map { kv0 =>
      if (graftKeyed(kv0)) kv0
      else
        (try files().iterator.take(16)
            .map(p => Footer.read(p).keyValueMeta).find(graftKeyed)
          catch { case _: Throwable => None })
          .getOrElse(kv0)
    }
    val geoMeta = kv.flatMap(_.get(GeoMeta.FooterKey)).map(GeoMeta.fromJson)
    val partitioning = kv
      .flatMap(_.get(graft.meta.SpatialPartitioning.FooterKey))
      .flatMap(graft.meta.SpatialPartitioning.fromJsonOpt)
    val geomCol = geoMeta.map(_.primaryColumn)
      .filter(df0.columns.contains)
      .orElse(GeoMeta.GeometryNameCandidates.find(df0.columns.contains))
    // files WE wrote restore the geometry<->bbox pair metadata from the
    // parquet schema automatically; files the reference wrote declare the
    // covering only in the geo footer — lift it into attribute metadata
    // so BboxPushdownRule can prune post-join plans on them too
    val df = (for {
      gm <- geoMeta; g <- geomCol
      // the footer's covering describes the PRIMARY column; if the data
      // lost that column and a name-candidate stood in for it, pairing
      // the stand-in with the primary's bbox would bless a covering that
      // describes different geometry
      if g == gm.primaryColumn
      b <- gm.columns.get(gm.primaryColumn).flatMap(_.coveringBbox)
      if !df0.schema.fields.find(_.name == g)
        .exists(_.metadata.contains(GeoMeta.GeoPairKey))
    } yield tagGeoPair(df0, g, b)).getOrElse(df0)
    GeoTable(df, geoMeta.getOrElse(GeoMeta()), geomCol, partitioning)
  }

  /** Stamp `geomCol` and `bboxCol` with one shared [[GeoMeta.GeoPairKey]]
    * id (existing field metadata preserved). No-op when either column is
    * absent. One extra Project — no data movement.
    */
  private[graft] def tagGeoPair(df: DataFrame, geomCol: String,
      bboxCol: String): DataFrame = {
    if (!df.columns.contains(geomCol) || !df.columns.contains(bboxCol)) df
    else {
      val id = java.util.UUID.randomUUID().toString
      def tagged(c: String) = col(c).as(c,
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(df.schema(c).metadata)
          .putString(GeoMeta.GeoPairKey, id).build())
      df.select(df.columns.map { c =>
        if (c == geomCol || c == bboxCol) tagged(c) else col(c)
      }.toIndexedSeq: _*)
    }
  }

  /** Read a FLAT-layout partition directory, recovering the partition
    * value from each filename into `columnName` (reference
    * `core/partition_reader.py` filename parity) — one distributed read
    * with a derived column, no per-file jobs.
    *
    * Multi-part files carry the distinctive `.partN` marker (see
    * `partitionByFlat`), so a key value that legitimately ends in
    * `_<digits>` (e.g. `a_1.parquet` for key "a_1") round-trips intact.
    * Note the recovered value is the SANITIZED key (non `[A-Za-z0-9._-]`
    * chars became `_` at write time) — same as the reference's
    * filename-derived partition values.
    */
  def readFlat(spark: SparkSession, path: String, columnName: String,
      filenamePrefix: Option[String] = None): GeoTable = {
    val t = read(spark, path)
    val pattern = filenamePrefix match {
      case Some(p) =>
        java.util.regex.Pattern.quote(p) + "_(.+?)(\\.part[0-9]+)?\\.parquet$"
      case None => "([^/]+?)(\\.part[0-9]+)?\\.parquet$"
    }
    t.copy(df = t.df.withColumn(columnName,
      regexp_extract(input_file_name(), pattern, 1)))
  }

  /** Read a GeoParquet-2 / parquet-geo-only file whose native
    * GEOMETRY/GEOGRAPHY logical types Spark's reader rejects: stage a
    * footer-rewritten copy (row groups byte-copied, annotation
    * stripped — see Footer.stripNativeGeoTypes) and read that. The
    * stage step is O(file bytes) copy with no page decode.
    */
  def readNativeGeo(spark: SparkSession, path: String): GeoTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    // Staging location: every EXECUTOR must be able to read it, so on a
    // multi-node cluster set spark.graft.stagingDir to a shared
    // filesystem path (HDFS/S3); the default driver-local tempdir only
    // works in local mode (scheme made explicit so a cluster whose
    // defaultFS is HDFS doesn't resolve the local path against HDFS).
    // deleteOnExit bounds the leak either way.
    val stagingRoot = spark.conf.getOption("spark.graft.stagingDir")
      .map(new Path(_))
      .getOrElse(new Path("file://" +
        java.nio.file.Files.createTempDirectory("graft_nativegeo")))
    val tmpDir = stagingRoot.suffix(
      "/graft_nativegeo_" + java.util.UUID.randomUUID().toString)
    tmpDir.getFileSystem(conf).deleteOnExit(tmpDir)
    val tmp = new Path(tmpDir, "staged.parquet")
    val parts = Footer.partFiles(path, conf)
    parts match {
      case Seq(single) => Footer.stripNativeGeoTypes(single, tmp, conf)
      case many =>
        many.zipWithIndex.foreach { case (p, i) =>
          Footer.stripNativeGeoTypes(p,
            new Path(tmp.getParent, f"part-$i%05d.parquet"), conf)
        }
    }
    val t = read(spark, tmp.getParent.toString)
    // parquet-geo-only files carry the CRS in the GEOMETRY/GEOGRAPHY
    // logical type, not a geo footer (reference _get_crs_from_file
    // fallback, core/extract.py:149-195). Stripping the native type for
    // Spark's reader loses it, so lift it out of the ORIGINAL footer into
    // the table metadata — otherwise a projected pgo file silently
    // classifies as geographic and every CRS gate (bbox mismatch warning,
    // quadkey/H3 refusal) misfires.
    val typeCrs: Map[String, com.fasterxml.jackson.databind.JsonNode] =
      Footer.read(parts.head, conf)
      .schemaInfo.flatMap { f =>
        f.geoCrs.flatMap { c =>
          try Some(f.name -> new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(if (c.trim.startsWith("{")) c else "\"" + c + "\""))
          catch { case _: Exception => None }
        }
      }.toMap
    if (typeCrs.isEmpty) t
    else {
      // a pure pgo file has no geo footer at all, so the column map may
      // be empty — insert an entry rather than only updating existing ones
      val cols = typeCrs.foldLeft(t.meta.columns) { case (m, (n, crs)) =>
        val cur = m.getOrElse(n, GeoColumnMeta())
        if (cur.crs.isDefined) m else m.updated(n, cur.copy(crs = Some(crs)))
      }
      // the default GeoMeta points primary at "geometry"; a pgo file whose
      // native-typed column has another name would leave meta.primary (and
      // with it every CRS gate) looking at a nonexistent entry — aim the
      // primary at the actual native geometry column when no footer chose
      val primary =
        if (cols.contains(t.meta.primaryColumn)) t.meta.primaryColumn
        else t.geometryColumn.filter(cols.contains)
          .orElse(typeCrs.keys.headOption)
          .getOrElse(t.meta.primaryColumn)
      t.copy(meta = t.meta.copy(columns = cols, primaryColumn = primary),
        geometryColumn = t.geometryColumn.orElse(Some(primary)))
    }
  }

  /** Wrap an arbitrary DataFrame whose `geometryCol` holds WKB. */
  def fromDataFrame(df: DataFrame, geometryCol: String): GeoTable = {
    require(df.columns.contains(geometryCol), s"no column $geometryCol")
    GeoTable(df,
      GeoMeta(primaryColumn = geometryCol,
        columns = Map(geometryCol -> GeoColumnMeta())),
      Some(geometryCol))
  }

  /** CSV with WKT column or lon/lat columns (`core/convert.py:104-463`),
    * including TRY_CAST-style skip-invalid.
    */
  def fromCsv(spark: SparkSession, path: String,
      wktColumn: Option[String] = None,
      lonLatColumns: Option[(String, String)] = None,
      delimiter: String = ",", skipInvalid: Boolean = false): GeoTable = {
    val raw = spark.read.option("header", "true").option("delimiter", delimiter)
      .option("inferSchema", "true").csv(path)
    val (df, gcol) = (wktColumn, lonLatColumns) match {
      case (Some(w), _) =>
        val parsed = raw.withColumn("geometry",
          if (skipInvalid) geo.try_geomfromtext(col(w))
          else geo.st_geomfromtext(col(w))).drop(w)
        (if (skipInvalid) parsed.filter(col("geometry").isNotNull) else parsed,
          "geometry")
      case (None, Some((lonC, latC))) =>
        (raw.withColumn("geometry",
          geo.st_point(col(lonC).cast("double"), col(latC).cast("double"))),
          "geometry")
      case _ => throw new IllegalArgumentException(
        "need wktColumn or lonLatColumns")
    }
    fromDataFrame(df, gcol)
  }

  /** GeoJSON FeatureCollection file → table (reference GDAL path for
    * GeoJSON; pure-Scala here). Driver-side parse of the collection
    * structure, distributed afterwards — intended for boundary-size
    * files (the reference reads whole files into memory here too).
    */
  def fromGeoJsonFile(spark: SparkSession, path: String): GeoTable = {
    val src = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    fromGeoJsonString(spark, src)
  }

  /** ESRI Shapefile → table (reference GDAL path, `core/convert.py:42-108`;
    * pure-JVM parser in graft.sources.Shapefile). Driver-side parse —
    * the format caps at 2 GB and isn't splittable — then distributed.
    */
  def fromShapefile(spark: SparkSession, path: String): GeoTable = {
    import org.apache.spark.sql.types._
    val c = graft.sources.Shapefile.read(path)
    val attrTypes: Seq[StructField] = c.fields.map { f =>
      f.kind match {
        case 'N' if f.decimals == 0 => StructField(f.name, LongType)
        case 'N' | 'F' => StructField(f.name, DoubleType)
        case 'L' => StructField(f.name, BooleanType)
        case _ => StructField(f.name, StringType)
      }
    }
    val schema = StructType(attrTypes :+ StructField("geometry", BinaryType))
    // Shapefile.read enforces records.size == geoms.size (a count
    // mismatch is corruption and fails loudly THERE), so only SHORT
    // records — a dbf row narrower than its field list — need null
    // padding here to keep every Row's arity matching the schema
    val nullAttrs: Seq[Any] = attrTypes.map(_ => null)
    val rows = c.geoms.zip(c.records).map {
      case (g, attrs) =>
        val vals = (attrs ++ nullAttrs)
          .take(attrTypes.length).zip(attrTypes).map {
          case (v: java.lang.Double, StructField(_, LongType, _, _)) =>
            java.lang.Long.valueOf(v.longValue)
          case (v: java.lang.Long, StructField(_, DoubleType, _, _)) =>
            java.lang.Double.valueOf(v.doubleValue)
          case (v, _) => v
        }
        org.apache.spark.sql.Row.fromSeq(vals :+
          Option(g).map(x => graft.geom.Wkb.write(x)).orNull)
    }
    fromDataFrame(spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema), "geometry")
  }

  /** Distributed newline-delimited GeoJSON reader (one Feature — or bare
    * geometry — per line): `spark.read.text` + JSON path extraction +
    * the codegen GeoJSON codec, so data-scale ndjson files parse in
    * parallel; the FeatureCollection path below stays for boundary-size
    * documents (reference `core/geojson_stream.py` framing).
    */
  def fromGeoJsonSeq(spark: SparkSession, path: String): GeoTable = {
    val raw = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
    val df = raw.select(
      geo.st_geomfromgeojson(coalesce(
        get_json_object(col("value"), "$.geometry"), col("value")))
        .as("geometry"),
      coalesce(get_json_object(col("value"), "$.properties"), lit("{}"))
        .as("properties_json"))
    fromDataFrame(df, "geometry")
  }

  /** GeoPackage → table (reference GDAL path, `core/convert.py:42-108`;
    * pure-JVM SQLite-subset parser in graft.sources.GeoPackage).
    * Driver-side parse, then distributed.
    */
  /** FlatGeobuf source: driver-side flatbuffers parse, rows distributed
    * immediately (same shape as the Shapefile/GeoPackage paths).
    */
  def fromFlatGeobuf(spark: SparkSession, path: String): GeoTable = {
    import org.apache.spark.sql.types._
    import graft.sources.FlatGeobuf
    val c = FlatGeobuf.read(path)
    val fields = c.columns.map { case (name, ct) =>
      StructField(name, ct match {
        case FlatGeobuf.CtBool => BooleanType
        case FlatGeobuf.CtInt | FlatGeobuf.CtLong => LongType
        case FlatGeobuf.CtDouble => DoubleType
        case _ => StringType
      })
    }
    val schema = StructType(fields :+ StructField("geometry", BinaryType))
    val rows = c.rows.zip(c.geoms).map { case (attrs, g) =>
      // NULL stored geometries are spec-legal and stay null WKB
      org.apache.spark.sql.Row.fromSeq(attrs :+
        (if (g == null) null else graft.geom.Wkb.write(g)))
    }
    fromDataFrame(spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema), "geometry")
  }

  def fromGeoPackage(spark: SparkSession, path: String,
      tableName: Option[String] = None): GeoTable = {
    import org.apache.spark.sql.types._
    val c = graft.sources.GeoPackage.read(path, tableName)
    // infer column types from the first non-null value per column
    val fields = c.columns.zipWithIndex.map { case (name, i) =>
      val sample = c.rows.iterator.map(_(i)).find(_ != null)
      val dt = sample match {
        case Some(_: java.lang.Long) | Some(_: Long) => LongType
        case Some(_: java.lang.Double) | Some(_: Double) => DoubleType
        case Some(_: Array[Byte]) => BinaryType
        case _ => StringType
      }
      StructField(name, dt)
    }
    val schema = StructType(fields :+ StructField("geometry", BinaryType))
    val rows = c.rows.zip(c.geoms).map { case (attrs, g) =>
      // NULL stored geometries are spec-legal and stay null WKB
      org.apache.spark.sql.Row.fromSeq(attrs :+
        (if (g == null) null else graft.geom.Wkb.write(g)))
    }
    fromDataFrame(spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema), "geometry")
  }

  def fromGeoJsonString(spark: SparkSession, json: String): GeoTable = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val features = Option(root.get("features"))
      .map(_.elements().asScala.toSeq)
      .getOrElse(Seq(root))
    val rows = features.map { f =>
      val g = GeoJson.parse(mapper.writeValueAsString(
        Option(f.get("geometry")).getOrElse(f)))
      val props = Option(f.get("properties"))
        .map(mapper.writeValueAsString).getOrElse("{}")
      (graft.geom.Wkb.write(g), props)
    }
    import spark.implicits._
    fromDataFrame(
      rows.toDF("geometry", "properties_json"), "geometry")
  }
}
