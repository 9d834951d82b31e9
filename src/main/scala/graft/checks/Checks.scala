package graft.checks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.meta.{Footer, GeoMeta}
import graft.table.GeoTable

/** Read-only inspection / check / validate suite (SURVEY §2.10 —
  * reference `core/inspect.py`, `core/check_parquet_structure.py`,
  * `core/validate.py`). Footer-only wherever the reference is
  * footer-only; small aggregate jobs for the data-dependent checks.
  */
object Checks {

  final case class Finding(level: String, check: String, message: String)

  final case class InspectSummary(
      path: String,
      fileSizeBytes: Long,
      rowCount: Long,
      numRowGroups: Int,
      columns: Seq[String],
      hasGeoMetadata: Boolean,
      geoVersion: Option[String],
      primaryColumn: Option[String],
      declaredBbox: Option[(Double, Double, Double, Double)],
      declaredGeometryTypes: Seq[String])

  /** Footer-only summary — no Spark job (reference `core/inspect.py:64-186`). */
  def inspect(path: String): InspectSummary = {
    val conf = Footer.newConf()
    val parts = Footer.partFiles(path, conf)
    // parallel footer fan-out (ADVICE r16): serial per-part reads made
    // inspect an O(files) driver stall on wide hive layouts
    val infos = Footer.readMany(parts, conf)
    val geo = infos.headOption.flatMap(_.geo)
    val fs = new Path(path).getFileSystem(conf)
    val size = parts.map(p => fs.getFileStatus(p).getLen).sum
    InspectSummary(
      path = path,
      fileSizeBytes = size,
      rowCount = infos.map(_.rowCount).sum,
      numRowGroups = infos.map(_.numRowGroups).sum,
      columns = infos.headOption.map(_.schemaFields).getOrElse(Seq.empty),
      hasGeoMetadata = geo.isDefined,
      geoVersion = geo.map(_.version),
      primaryColumn = geo.map(_.primaryColumn),
      declaredBbox = geo.flatMap(_.primary).flatMap(_.bbox),
      declaredGeometryTypes = geo.flatMap(_.primary).map(_.geometryTypes)
        .getOrElse(Seq.empty))
  }

  /** Row-group sizing assessment vs the ~130MB target the reference
    * recommends (`core/check_parquet_structure.py:14-209`).
    */
  def checkRowGroups(path: String,
      targetBytes: Long = 130L * 1024 * 1024): Seq[Finding] =
    checkRowGroups(Footer.partFiles(path, Footer.newConf()), targetBytes)

  /** Same, over an explicit part list (the [[dispatchFiles]] surface). */
  def checkRowGroups(parts: Seq[Path], targetBytes: Long): Seq[Finding] = {
    val conf = Footer.newConf()
    parts.flatMap { p =>
      val info = Footer.read(p, conf)
      info.rowGroups.zipWithIndex.flatMap { case (rg, i) =>
        val sz = rg.compressedSize
        if (sz > targetBytes * 2)
          Seq(Finding("warn", "row_groups",
            s"${p.getName} rg$i is ${sz / 1024 / 1024}MB (> 2x ${targetBytes / 1024 / 1024}MB target)"))
        else if (info.numRowGroups > 1 && sz < targetBytes / 10)
          Seq(Finding("info", "row_groups",
            s"${p.getName} rg$i is small (${sz / 1024 / 1024}MB)"))
        else Nil
      }
    }
  }

  /** Compression codec check; recommends ZSTD like the reference
    * (`core/check_parquet_structure.py:444-506`).
    */
  def checkCompression(path: String): Seq[Finding] =
    checkCompression(Footer.partFiles(path, Footer.newConf()))

  /** Same, over an explicit part list (the [[dispatchFiles]] surface). */
  def checkCompression(parts: Seq[Path]): Seq[Finding] = {
    val conf = Footer.newConf()
    val codecs = parts.flatMap { p =>
      Footer.read(p, conf).rowGroups.flatMap(_.columns.values.map(_.codec))
    }.distinct
    if (codecs.forall(c => c == "ZSTD")) Seq.empty
    else Seq(Finding("info", "compression",
      s"codecs ${codecs.mkString(",")} — ZSTD recommended"))
  }

  /** bbox structure status: optimal (struct column + covering metadata) /
    * suboptimal / missing (`core/common.py:3254-3400`).
    */
  def checkBboxStructure(path: String): String = {
    val conf = Footer.newConf()
    val info = Footer.firstPartFile(path, conf).map(p => Footer.read(p, conf))
    val hasBboxCol = info.exists(_.schemaFields.exists(
      GeoMeta.BboxNameCandidates.contains))
    val hasCovering = info.flatMap(_.geo).flatMap(_.primary)
      .flatMap(_.coveringBbox).isDefined
    (hasBboxCol, hasCovering) match {
      case (true, true) => "optimal"
      case (true, false) => "suboptimal_missing_covering"
      case (false, _) => "missing"
    }
  }

  /** Known geometry type names ("Point Z" variants included) — spec's
    * geometry_types vocabulary (reference `core/validate.py:237-267`).
    */
  private val ValidGeometryTypes: Set[String] = {
    val base = Set("Point", "LineString", "Polygon", "MultiPoint",
      "MultiLineString", "MultiPolygon", "GeometryCollection")
    base ++ base.map(_ + " Z")
  }

  /** Coordinate bounds for the CRSs the engine knows authoritative
    * extents for (reference resolves any CRS via pyproj,
    * `core/validate.py:2022-2092`). Dispatches on the parsed EPSG id
    * (PROJJSON `id.code`), never on substrings of the document — a CRS
    * that merely *mentions* a code in remarks must not match.
    */
  private def crsBounds(crs: String): Option[(Double, Double, Double, Double)] =
    try graft.geom.Proj.boundsForEpsg(graft.geom.Proj.parseEpsg(crs))
    catch { case _: Exception =>
      if (graft.geom.Proj.isGeographic(crs)) Some((-180.0, -90.0, 180.0, 90.0))
      else None
    }

  /** EPSG id of a CRS value that may be a PROJJSON document, a
    * `srid:NNNN` reference, or a `projjson:key` footer reference
    * (resolved against `kv`) — the simplified identity the reference's
    * `_crs_equals` / `resolve_crs_reference` compare on
    * (`core/validate.py:2302-2320`, `core/duckdb_metadata.py:366-405`).
    */
  private def crsEpsg(crs: String, kv: Map[String, String]): Option[Int] = {
    val resolved =
      if (crs.startsWith("projjson:")) kv.get(crs.stripPrefix("projjson:"))
      else Some(crs)
    resolved.flatMap {
      case s if s.startsWith("srid:") => s.stripPrefix("srid:").toIntOption
      case s => try Some(graft.geom.Proj.parseEpsg(s))
        catch { case _: Exception => None }
    }
  }

  /** Native Parquet GEOMETRY/GEOGRAPHY column checks shared by the
    * geoparquet2 and parquet-geo-only flavors: GeospatialStatistics
    * presence/sanity (reference `core/validate.py:1342-1504`) and the
    * CRS reference-format compatibility warning
    * (`core/validate.py:1880-1969`).
    */
  private def nativeGeoFindings(info: Footer.FooterInfo,
      partInfos: Seq[Footer.FooterInfo]): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer[Finding]()
    info.schemaInfo.filter(_.nativeGeo).foreach { f =>
      val boxes = partInfos.flatMap(_.rowGroups
        .flatMap(_.columns.get(f.name).flatMap(_.geoBbox)))
      if (boxes.isEmpty)
        out += Finding("warn", "native_geo_stats",
          s"geometry column ${f.name} missing native geospatial " +
            "statistics (geo_bbox) — spatial filtering cannot prune")
      else if (boxes.exists { case (x0, y0, x1, y1) =>
          Seq(x0, y0, x1, y1).exists(v => math.abs(v) > 1e15) })
        out += Finding("info", "native_geo_stats",
          s"geospatial statistics of ${f.name} appear invalid " +
            "(implausible magnitude — possible stats parsing error)")
      f.geoCrs.filter(c => c.startsWith("projjson:") || c.startsWith("srid:"))
        .foreach { c =>
          out += Finding("warn", "crs",
            s"${f.name} uses CRS reference format '$c' — not widely " +
              "recognized; prefer inline PROJJSON")
        }
      // PGO-3 tail (`core/validate.py:1122-1181`): a CRS that is neither
      // inline PROJJSON, a srid:/projjson: reference, nor a plain
      // authority:code may not be recognized by other readers
      f.geoCrs.filterNot(c => c.trim.startsWith("{") ||
          c.startsWith("projjson:") || c.startsWith("srid:") ||
          // authority:code plus multi-colon OGC URNs
          // (urn:ogc:def:crs:EPSG::3857) — formats Proj.parseEpsg
          // itself accepts must not warn as unrecognized
          c.matches("(?i)[a-z]+(:[0-9a-z.]*)+"))
        .foreach { c =>
          out += Finding("warn", "crs",
            s"${f.name} CRS format '${c.take(80)}' may not be widely " +
              "recognized (expect inline PROJJSON or srid:NNNN)")
        }
      // PGO-4 (`core/validate.py:1183-1231`): GEOGRAPHY edge algorithm
      // must be a registered spec value
      val validAlgorithms =
        Set("spherical", "vincenty", "thomas", "andoyer", "karney")
      f.geoAlgorithm.filterNot(validAlgorithms).foreach { a =>
        out += Finding("error", "edges",
          s"${f.name} GEOGRAPHY algorithm '$a' not one of " +
            validAlgorithms.toSeq.sorted.mkString(", "))
      }
    }
    out.toSeq
  }

  /** Raw `geo` JSON shape checks the typed GeoMeta parser is too
    * forgiving to catch (it fills defaults): required keys present with
    * the required JSON types (reference checks 4/5/8,
    * `core/validate.py:152-221,237-266`) and optional `epoch` numeric
    * (check 13, `:390-411`).
    */
  private[graft] def rawShapeFindings(geoJson: String): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer[Finding]()
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(geoJson)
      catch { case _: Exception => return out.toSeq } // JSON error reported upstream
    if (!node.has("primary_column") || !node.get("primary_column").isTextual)
      out += Finding("error", "metadata",
        "`primary_column` missing or not a string")
    if (!node.has("columns") || !node.get("columns").isObject)
      out += Finding("error", "metadata", "`columns` missing or not an object")
    else {
      val cols = node.get("columns")
      cols.fieldNames().forEachRemaining { cn =>
        val c = cols.get(cn)
        if (!c.has("geometry_types"))
          out += Finding("error", "geometry_types",
            s"column $cn: required `geometry_types` key missing")
        else if (!c.get("geometry_types").isArray)
          out += Finding("error", "geometry_types",
            s"column $cn: `geometry_types` must be a JSON array")
        if (c.has("epoch") && !c.get("epoch").isNumber)
          out += Finding("error", "metadata",
            s"column $cn: `epoch` must be a number")
      }
    }
    out.toSeq
  }

  /** Check 1.1-8 (`core/validate.py:1059-1091`): extension should be
    * `.parquet`; `.geoparquet` and anything else — including NO
    * extension — warns, matching the reference's behavior for any
    * non-.parquet suffix. Directories (part datasets) are exempt via
    * the caller's isFile gate, never here: a dot-less name that reaches
    * this check is a real extensionless FILE.
    */
  private[graft] def extensionFindings(path: String): Seq[Finding] = {
    val name = path.stripSuffix("/").split('/').last
    if (name.toLowerCase.endsWith(".parquet")) Nil
    else if (name.toLowerCase.endsWith(".geoparquet"))
      Seq(Finding("warn", "extension",
        "file extension is .geoparquet — GeoParquet 1.1 recommends .parquet"))
    else
      Seq(Finding("warn", "extension",
        s"unusual file extension on $name (expected .parquet)"))
  }

  /** WKB geometry-type code → display name (codes may carry +1000/2000/
    * 3000 Z/M/ZM offsets; the base code mod 1000 names the type).
    */
  private val wkbTypeNames = Map(1 -> "point", 2 -> "linestring",
    3 -> "polygon", 4 -> "multipoint", 5 -> "multilinestring",
    6 -> "multipolygon", 7 -> "geometrycollection")

  /** Native GeospatialStatistics vs actual data (reference
    * `core/validate.py:1506-1616` native_geo_stats_contains_data and
    * `:1617-1700` native_geo_types_match): the footer-declared geo_bbox
    * must contain the data extent, and footer-declared geo type codes
    * must cover every geometry type present. Consumes an
    * ALREADY-COMPUTED data probe (types + extent) — adds zero scans.
    */
  private def nativeStatsVsData(partInfos: Seq[Footer.FooterInfo],
      geomCol: String, actualTypes: Seq[String],
      dataBbox: Option[(Double, Double, Double, Double)]): Seq[Finding] =
    nativeStatsVsData(
      partInfos.flatMap(_.rowGroups.flatMap(_.columns.get(geomCol))),
      actualTypes, dataBbox)

  /** Core comparison over already-extracted chunk stats (separated so
    * the spec can drive it with synthetic disagreeing stats — real v2
    * writers aren't available in this container to author a corrupt
    * fixture).
    */
  private[graft] def nativeStatsVsData(chunks: Seq[Footer.ColumnStats],
      actualTypes: Seq[String],
      dataBbox: Option[(Double, Double, Double, Double)]): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer[Finding]()
    val boxes = chunks.flatMap(_.geoBbox)
    if (boxes.nonEmpty) dataBbox.foreach { case (dx0, dy0, dx1, dy1) =>
      val sx0 = boxes.map(_._1).min; val sy0 = boxes.map(_._2).min
      val sx1 = boxes.map(_._3).max; val sy1 = boxes.map(_._4).max
      val eps = 1e-9
      if (dx0 < sx0 - eps || dy0 < sy0 - eps ||
          dx1 > sx1 + eps || dy1 > sy1 + eps)
        out += Finding("error", "native_geo_stats",
          s"data extent ($dx0,$dy0,$dx1,$dy1) outside declared native " +
            s"geospatial statistics bbox ($sx0,$sy0,$sx1,$sy1)")
    }
    val declared = chunks.flatMap(_.geoTypes).flatten.toSet
    if (declared.nonEmpty && actualTypes.nonEmpty) {
      val declaredNames =
        declared.map(c => wkbTypeNames.getOrElse(c % 1000, s"type$c"))
      val undeclared = actualTypes.map(_.toLowerCase)
        .filterNot(declaredNames).distinct.sorted
      if (undeclared.nonEmpty)
        out += Finding("error", "native_geo_types",
          s"data contains geometry types ${undeclared.mkString(", ")} " +
            s"not declared in native geospatial statistics " +
            s"[${declaredNames.toSeq.sorted.mkString(", ")}]")
    }
    out.toSeq
  }

  /** GeoParquet spec validation (reference `core/validate.py:126-2328`):
    * metadata shape, physical parquet schema, covering structure,
    * declared-vs-actual data properties (encoding, geometry types,
    * orientation, bbox containment, coordinate range vs CRS), and
    * v2/native-type detection. Structural checks are footer-only; data
    * checks are a handful of aggregate jobs.
    */
  def validate(spark: SparkSession, path: String): Seq[Finding] = {
    val conf = Footer.newConf()
    val parts = Footer.partFiles(path, conf)
    if (parts.isEmpty) return Seq(Finding("error", "files", "no parquet files"))
    val info = Footer.read(parts.head, conf)
    val findings = scala.collection.mutable.ArrayBuffer[Finding]()
    // Each part's footer is read at most ONCE per validate() (the old
    // shape re-read the full fleet in four places — ~4x remote footer
    // opens on a many-part dataset) and a malformed non-head part
    // surfaces as a finding instead of an uncaught parse exception.
    // lazy: branches that never touch the fleet (plain parquet, single
    // file) keep paying only the head read.
    lazy val partInfoList: Seq[(Path, Either[String, Footer.FooterInfo])] =
      parts.map { p =>
        p -> (if (p == parts.head) Right(info)
        else try Right(Footer.read(p, conf))
        catch { case e: Exception => Left(String.valueOf(e.getMessage)) })
      }
    lazy val partInfos: Seq[Footer.FooterInfo] = {
      partInfoList.foreach {
        case (p, Left(err)) =>
          val f = Finding("error", "files",
            s"${p.getName}: footer unreadable: ${err.take(160)}")
          if (!findings.contains(f)) findings += f
        case _ => ()
      }
      partInfoList.flatMap(_._2.toOption)
    }
    /** a part's geo metadata, malformed JSON captured as a finding. */
    def partGeo(part: Path, i: Footer.FooterInfo): Option[GeoMeta] =
      try i.geo catch {
        case e: Exception =>
          val f = Finding("error", "metadata",
            s"${part.getName}: `geo` key is not valid JSON: ${e.getMessage}")
          if (!findings.contains(f)) findings += f
          None
      }
    val fileType = Footer.detectFileType(parts.head, conf)
    // extension applies to FILES only — a dataset directory named
    // "sf0.1" or "data.v2" contains a dot but is not an extension
    val hp = new Path(path)
    val isFile =
      try hp.getFileSystem(conf).getFileStatus(hp).isFile
      catch { case _: Exception => false }
    if (isFile) findings ++= extensionFindings(path)
    info.keyValueMeta.get("geo").foreach(findings ++= rawShapeFindings(_))

    val geoParsed: Either[String, Option[GeoMeta]] =
      try Right(info.geo)
      catch { case e: Exception => Left(e.getMessage) }

    geoParsed match {
      case Left(err) =>
        findings += Finding("error", "metadata", s"`geo` key is not valid JSON: $err")
      case Right(None) =>
        if (fileType == "parquet-geo-only") {
          findings += Finding("info", "metadata",
            "no `geo` footer key but native geo types present (GeoParquet 2 minimal)")
          findings ++= nativeGeoFindings(info, partInfos)
          // native stats vs data — one aggregate job over the staged
          // WKB read; an unreadable file SKIPS rather than fails (the
          // reference's CheckStatus.SKIPPED-on-exception contract)
          try {
            val t = GeoTable.readNativeGeo(spark, path)
            info.schemaInfo.find(_.nativeGeo)
              .map(_.name).foreach { gcName =>
                val gc = col(gcName)
                val r = t.df.agg(
                  collect_set(geo.st_geometrytype(gc)).as("types"),
                  min(geo.st_xmin(gc)), min(geo.st_ymin(gc)),
                  max(geo.st_xmax(gc)), max(geo.st_ymax(gc))).head()
                val bbox = if ((1 to 4).exists(r.isNullAt)) None
                  else Some((r.getDouble(1), r.getDouble(2),
                    r.getDouble(3), r.getDouble(4)))
                findings ++= nativeStatsVsData(partInfos, gcName,
                  r.getSeq[String](0), bbox)
              }
          } catch { case _: Exception => () }
        } else
          findings += Finding("error", "metadata", "no `geo` footer key")
      case Right(Some(g)) =>
        // ---- metadata shape (footer-only) ------------------------------
        if (g.version.isEmpty)
          findings += Finding("error", "metadata", "version missing")
        else if (!Seq("1.0", "1.1", "2.0").exists(g.version.startsWith))
          findings += Finding("warn", "metadata", s"unknown version ${g.version}")
        if (g.columns.isEmpty)
          findings += Finding("error", "metadata", "columns map is empty")
        if (!g.columns.contains(g.primaryColumn))
          findings += Finding("error", "metadata",
            s"primary_column ${g.primaryColumn} not in columns map")
        if (!info.schemaFields.contains(g.primaryColumn))
          findings += Finding("error", "metadata",
            s"primary_column ${g.primaryColumn} not in schema")
        g.primary.foreach { pc =>
          val nativeNames = Set("point", "linestring", "polygon", "multipoint",
            "multilinestring", "multipolygon", "geometry")
          if (pc.encoding != "WKB" && !nativeNames(pc.encoding.toLowerCase))
            findings += Finding("error", "metadata",
              s"unsupported encoding ${pc.encoding}")
          pc.geometryTypes.filterNot(ValidGeometryTypes.contains).foreach { t =>
            findings += Finding("error", "geometry_types",
              s"invalid geometry_types entry '$t'")
          }
          pc.orientation.foreach { o =>
            if (o != "counterclockwise")
              findings += Finding("error", "orientation",
                s"orientation must be 'counterclockwise', got '$o'")
          }
          pc.edges.foreach { e =>
            if (e != "planar" && e != "spherical")
              findings += Finding("error", "edges",
                s"edges must be 'planar' or 'spherical', got '$e'")
          }
          pc.crs.foreach { c =>
            if (!c.isObject && !c.isNull)
              findings += Finding("warn", "crs",
                "crs should be a PROJJSON object (or null for OGC:CRS84)")
          }
          // absent OR explicit-null crs both mean OGC:CRS84 per the spec
          // (geographic lon/lat) — a JSON null must not skip bounds checks
          val crsStr = pc.crs.filterNot(_.isNull).map(_.toString)
            .getOrElse("EPSG:4326")
          pc.bbox.foreach { case (x0, y0, x1, y1) =>
            if (x0 > x1 || y0 > y1)
              findings += Finding("error", "bbox",
                s"declared bbox corners inverted ($x0,$y0,$x1,$y1)")
            // extreme magnitudes mean a stats-parsing error upstream, not
            // coordinates (reference _is_bbox_valid, validate.py:1403-1430)
            if (Seq(x0, y0, x1, y1).exists(v => math.abs(v) > 1e15))
              findings += Finding("error", "bbox",
                s"declared bbox ($x0,$y0,$x1,$y1) has implausible magnitude")
            crsBounds(crsStr).foreach { case (bx0, by0, bx1, by1) =>
              if (x0 < bx0 || y0 < by0 || x1 > bx1 || y1 > by1)
                findings += Finding("error", "bbox",
                  s"declared bbox ($x0,$y0,$x1,$y1) outside CRS bounds")
            }
          }

          // ---- physical schema (footer-only) ---------------------------
          info.schemaInfo.find(_.name == g.primaryColumn).foreach { f =>
            if (pc.encoding == "WKB") {
              if (!f.primitive)
                findings += Finding("error", "schema",
                  s"${g.primaryColumn} must be a primitive BYTE_ARRAY, found group")
              else if (!f.primitiveType.contains("BINARY"))
                findings += Finding("error", "schema",
                  s"${g.primaryColumn} must be BYTE_ARRAY, found ${f.primitiveType.getOrElse("?")}")
            }
            if (f.repeated)
              findings += Finding("error", "schema",
                s"${g.primaryColumn} must not be repeated")
          }

          // ---- covering path grammar (footer-only; reference
          // `core/validate.py:819-1058` checks 1.1-1 .. 1.1-7) ------------
          pc.coveringRaw.foreach { cov =>
            if (!cov.isObject)
              findings += Finding("error", "covering",
                "covering must be an object")
            else Option(cov.get("bbox")).foreach { bb =>
              val need = Seq("xmin", "ymin", "xmax", "ymax")
              val missing = need.filterNot(k => bb.has(k))
              if (missing.nonEmpty)
                findings += Finding("error", "covering",
                  s"covering bbox missing required paths: ${missing.mkString(",")}")
              need.filter(bb.has).foreach { k =>
                val p = bb.get(k)
                if (!p.isArray || p.size != 2)
                  findings += Finding("error", "covering",
                    s"covering bbox $k must be a path array [column, field]")
              }
            }
          }
          // ---- covering structure (footer-only) ------------------------
          pc.coveringBbox.foreach { b =>
            if (!info.schemaFields.contains(b))
              findings += Finding("error", "covering",
                s"covering bbox column $b not at schema root")
            else info.schemaInfo.find(_.name == b).foreach { f =>
              if (f.primitive)
                findings += Finding("error", "covering",
                  s"covering bbox column $b must be a struct")
              else {
                val need = Seq("xmin", "ymin", "xmax", "ymax")
                val have = f.groupFields.toMap
                need.filterNot(have.contains).foreach { miss =>
                  findings += Finding("error", "covering",
                    s"covering bbox column $b missing field $miss")
                }
                have.filter { case (n, t) =>
                  need.contains(n) && t != "DOUBLE" && t != "FLOAT"
                }.foreach { case (n, t) =>
                  findings += Finding("error", "covering",
                    s"covering bbox field $b.$n must be FLOAT/DOUBLE, found $t")
                }
                // all four corners must share one physical type
                // (reference check 1.1-7)
                val tys = need.flatMap(have.get).distinct
                if (tys.length > 1)
                  findings += Finding("error", "covering",
                    s"covering bbox fields must all use the same type " +
                      s"(found ${tys.mkString(",")})")
              }
            }
            // row-group statistics on the bbox fields are what make the
            // covering usable for predicate pushdown at scale (reference
            // `core/validate.py:1342-1430`); their absence is a warning
            val missingStats = partInfos.exists { i =>
              i.rowGroups.exists { rg =>
                Seq("xmin", "ymin", "xmax", "ymax").exists { fldm =>
                  rg.columns.get(s"$b.$fldm")
                    .forall(cs => cs.min.isEmpty || cs.max.isEmpty)
                }
              }
            }
            if (missingStats)
              findings += Finding("warn", "covering",
                s"covering bbox column $b missing row-group min/max " +
                  "statistics — spatial filtering cannot prune row groups")
          }

          // ---- v2 / native-type consistency (footer-only) --------------
          if (g.version.startsWith("2") && fileType == "geoparquet")
            findings += Finding("warn", "v2",
              "metadata declares 2.x but schema has no native geo logical type")
          // NOTE: encoding "WKB" alongside the native logical type is
          // CONFORMANT 2.0 (the reference's own gpq2 fixtures declare
          // it — the native annotation describes the same WKB bytes);
          // only a non-WKB declaration disagrees with the pages
          if (fileType == "geoparquet2" && pc.encoding != "WKB")
            findings += Finding("warn", "v2",
              s"native geo logical type present but encoding declares " +
                s"'${pc.encoding}' — the native GEOMETRY/GEOGRAPHY " +
                "annotation describes WKB-encoded pages")
          if (fileType == "geoparquet2") {
            findings ++= nativeGeoFindings(info, partInfos)
            info.schemaInfo.find(_.name == g.primaryColumn).foreach { f =>
              val metaCrs = pc.crs.filterNot(_.isNull)
              // V2-2 (`core/validate.py:1737-1782`): a non-default
              // metadata CRS must be inline in the Parquet geo type.
              // An EXPLICIT default (CRS84/4326 PROJJSON, which common
              // writers materialize) is not "non-default" — same
              // whitelist as the asymmetric V2-3 case below.
              val nonDefaultMetaCrs = metaCrs.filterNot(m =>
                crsEpsg(m.toString, info.keyValueMeta).contains(4326) ||
                  m.toString.toUpperCase.contains("CRS84"))
              if (nonDefaultMetaCrs.isDefined && f.geoCrs.isEmpty)
                findings += Finding("error", "v2",
                  "non-default CRS must be inline in the Parquet geo " +
                    "type, not only in `geo` metadata")
              // V2-3 (`core/validate.py:1784-1825`): when both carry a
              // CRS, their EPSG identity must agree
              for {
                m <- metaCrs
                s <- f.geoCrs
                mId <- crsEpsg(m.toString, info.keyValueMeta)
                sId <- crsEpsg(s, info.keyValueMeta)
              } if (mId != sId)
                findings += Finding("error", "v2",
                  s"CRS mismatch: geo metadata declares EPSG:$mId but " +
                    s"Parquet geo type declares EPSG:$sId")
              // V2-3 asymmetric case (reference _crs_equals treats
              // one-sided CRS as a mismatch, `core/validate.py:2302-2310`):
              // the schema type pins a non-default CRS while the geo
              // metadata stays on the CRS84 default — readers that trust
              // only the metadata will misplace every coordinate
              if (metaCrs.isEmpty)
                f.geoCrs.filterNot(s =>
                  crsEpsg(s, info.keyValueMeta).contains(4326) ||
                    s.toUpperCase.contains("CRS84")).foreach { s =>
                  findings += Finding("error", "v2",
                    "Parquet geo type declares a non-default CRS " +
                      s"(${s.take(80)}) but geo metadata has none " +
                      "(defaults to OGC:CRS84)")
                }
              // V2-5 (`core/validate.py:1828-1877`): GEOGRAPHY edge
              // algorithm must match metadata edges (default planar)
              f.geoAlgorithm.foreach { alg =>
                val edges = pc.edges.getOrElse("planar")
                if (edges != alg)
                  findings += Finding("error", "v2",
                    s"edges '$edges' in metadata does not match " +
                      s"GEOGRAPHY algorithm '$alg' in the Parquet type")
              }
            }
          }

          // ---- data-dependent checks (Spark jobs) ----------------------
          if (info.schemaFields.contains(g.primaryColumn) &&
              info.schemaInfo.find(_.name == g.primaryColumn)
                .forall(f => f.primitive && f.primitiveType.contains("BINARY"))) {
            // Spark's parquet reader rejects GEOMETRY/GEOGRAPHY logical
            // types outright — v2 files go through the footer-strip
            // staged read (same WKB bytes, plain BINARY schema)
            val t =
              if (fileType == "geoparquet2") GeoTable.readNativeGeo(spark, path)
              else GeoTable.read(spark, path)
            // a file Spark cannot read at all (e.g. a codec this image
            // lacks) SKIPS the data checks rather than failing them —
            // the reference's CheckStatus.SKIPPED-on-exception contract
            val readable =
              try { graft.util.CollectCapped(t.df.limit(1), 1,
                "readability probe"); true }
              catch { case e: Exception =>
                findings += Finding("info", "data",
                  "data checks skipped — file unreadable by Spark: " +
                    String.valueOf(e.getMessage).take(160))
                false
              }
            if (readable) {
            // encoding matches data: a bounded sample must parse as WKB.
            // st_npoints, NOT st_geometrytype: the type name is now read
            // from the 5-byte header alone (O(1) per row), so it no
            // longer throws on a truncated body — this probe needs a
            // function that decodes every coordinate to certify the
            // bytes actually parse
            try graft.util.CollectCapped(
              t.df.select(geo.st_npoints(col(g.primaryColumn)))
                .limit(1000), 1000, "WKB-encoding sample")
            catch {
              case e: Exception =>
                findings += Finding("error", "encoding",
                  s"geometry bytes do not parse as WKB: ${e.getMessage}")
            }
            // ONE full pass for all data probes (types + orientation +
            // extent) — three separate jobs would each rescan the
            // dataset; at 100 TB the scan dominates, the extra
            // expressions don't
            val probe =
              try {
                val gc = col(g.primaryColumn)
                Some(t.df.agg(
                  collect_set(geo.st_geometrytype(gc)).as("types"),
                  sum(when(geo.st_exteriors_ccw(gc) === false, 1L)
                    .otherwise(0L)).as("bad_ccw"),
                  min(geo.st_xmin(gc)).as("dx0"), min(geo.st_ymin(gc)).as("dy0"),
                  max(geo.st_xmax(gc)).as("dx1"), max(geo.st_ymax(gc)).as("dy1"))
                  .head())
              } catch { case _: Exception => None }
            val actualTypes = probe.map(_.getSeq[String](0).sorted
              .map(s => s.head.toString + s.tail.toLowerCase)).getOrElse(Seq.empty)
            val declared = pc.geometryTypes
            if (declared.nonEmpty && actualTypes.nonEmpty &&
                !actualTypes.forall(a => declared.exists(_.equalsIgnoreCase(a))))
              findings += Finding("error", "geometry_types",
                s"actual $actualTypes not covered by declared $declared")
            // orientation vs data (only when declared)
            if (pc.orientation.contains("counterclockwise") &&
                actualTypes.exists(_.toLowerCase.contains("polygon"))) {
              val bad = probe.map(_.getLong(1)).getOrElse(0L)
              if (bad > 0)
                findings += Finding("error", "orientation",
                  s"$bad geometries have clockwise exterior rings but orientation declares counterclockwise")
            }
            // coordinate range vs CRS bounds
            crsBounds(crsStr).foreach { case (bx0, by0, bx1, by1) =>
              // min/max over an empty dataset (or an all-null geometry
              // column) aggregate to NULL — skip the range check rather
              // than throw on getDouble.
              probe.filterNot(r => (2 to 5).exists(r.isNullAt)).foreach { r =>
                val (dx0, dy0, dx1, dy1) =
                  (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
                val eps = 1e-9
                if (dx0 < bx0 - eps || dy0 < by0 - eps ||
                    dx1 > bx1 + eps || dy1 > by1 + eps)
                  findings += Finding("error", "crs_range",
                    s"data bbox ($dx0,$dy0,$dx1,$dy1) outside CRS bounds ($bx0,$by0,$bx1,$by1)")
              }
            }
            // geographic-looking coordinates under a projected CRS
            // (reference _detect_geographic_in_projected,
            // `core/validate.py:2156-2169`): a degree-ranged extent can
            // sit comfortably INSIDE projected meter bounds, so the range
            // check above never fires — this is the un-reprojected-data
            // failure mode and gets its own error. Gated on POSITIVE
            // knowledge that the CRS is projected (its registered bounds
            // are not the degree box) — "not recognizably geographic"
            // would flag valid data in any geographic CRS our EPSG
            // whitelist doesn't know (e.g. GDA94)
            val knownProjected = crsBounds(crsStr)
              .exists(_ != ((-180.0, -90.0, 180.0, 90.0)))
            if (knownProjected)
              probe.filterNot(r => (2 to 5).exists(r.isNullAt)).foreach { r =>
                val (dx0, dy0, dx1, dy1) =
                  (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
                if (dx0 >= -180 && dx1 <= 180 && dy0 >= -90 && dy1 <= 90)
                  findings += Finding("error", "crs_range",
                    f"coordinates look geographic ($dx0%.2f,$dy0%.2f - " +
                      f"$dx1%.2f,$dy1%.2f) but CRS is projected " +
                      s"(${crsStr.take(60)})")
              }
            // native GeospatialStatistics vs data (geoparquet2 files) —
            // reuses the one-pass probe above, zero extra jobs
            if (fileType == "geoparquet2") {
              val dataBbox = probe
                .filterNot(r => (2 to 5).exists(r.isNullAt))
                .map(r => (r.getDouble(2), r.getDouble(3),
                  r.getDouble(4), r.getDouble(5)))
              findings ++= nativeStatsVsData(partInfos, g.primaryColumn,
                actualTypes, dataBbox)
            }
            // per-file: each part's declared bbox must contain that
            // part's data (parts carry their own bbox — reference
            // partition semantics, `core/partition_common.py:657-706`).
            // ONE job for the whole dataset — per-file envelopes come
            // from a single aggregate grouped by input_file_name();
            // a sequential per-part job loop would run 10 000 jobs on
            // a 10 000-part dataset.
            // Keyed by full filesystem path, not basename — hive
            // layouts reuse basenames across key=value directories
            // (key=a/data.parquet vs key=b/data.parquet), and a
            // basename-keyed map silently collides.
            val declaredPartBbox = partInfoList.flatMap { case (part, ei) =>
              ei.toOption.flatMap(i => partGeo(part, i))
                .flatMap(_.primary).flatMap(_.bbox)
                .map(b => part.toUri.getPath -> b)
            }.toMap
            if (declaredPartBbox.nonEmpty) {
              // geoparquet2 goes through readNativeGeo's STAGED copies,
              // so input_file_name() returns temp paths — map the
              // deterministic staged names (staged.parquet /
              // part-%05d.parquet in partFiles order) back to the
              // originals, else every declared-bbox lookup missed and
              // the check silently never fired for v2 datasets
              val stagedToOrig: Map[String, String] =
                if (fileType != "geoparquet2") Map.empty
                else if (parts.length == 1)
                  Map("staged.parquet" -> parts.head.toUri.getPath)
                else parts.zipWithIndex.map { case (p, i) =>
                  f"part-$i%05d.parquet" -> p.toUri.getPath
                }.toMap
              val gc = col(g.primaryColumn)
              val perFile0 = t.df.select(input_file_name().as("__f"),
                  geo.st_xmin(gc).as("x0"), geo.st_ymin(gc).as("y0"),
                  geo.st_xmax(gc).as("x1"), geo.st_ymax(gc).as("y1"))
                .groupBy(col("__f"))
                .agg(min(col("x0")).as("dx0"), min(col("y0")).as("dy0"),
                  max(col("x1")).as("dx1"), max(col("y1")).as("dy1"))
              // a tripped bound must degrade THIS check, not abort the
              // whole validation: a >100k-part dataset gets an info
              // finding instead of per-file verdicts
              val perFile =
                try graft.util.CollectCapped(perFile0, 100000,
                  "per-file bbox rollup (one row per part file)")
                catch { case _: IllegalArgumentException =>
                  findings += Finding("info", "bbox",
                    "per-file bbox check skipped: more than 100000 part " +
                      "files — run it per partition directory instead")
                  Array.empty[org.apache.spark.sql.Row]
                }
              val eps = 1e-9
              perFile.filterNot(r => (1 to 4).exists(r.isNullAt)).foreach { r =>
                // input_file_name() is a percent-encoded URI; URI.getPath
                // both decodes and strips the scheme, matching
                // part.toUri.getPath above.
                val fname0 =
                  try new java.net.URI(r.getString(0)).getPath
                  catch { case _: Exception => r.getString(0) }
                val fname = stagedToOrig.getOrElse(
                  fname0.substring(fname0.lastIndexOf('/') + 1), fname0)
                declaredPartBbox.get(fname).foreach { case (x0, y0, x1, y1) =>
                  val (dx0, dy0, dx1, dy1) =
                    (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
                  if (dx0 < x0 - eps || dy0 < y0 - eps ||
                      dx1 > x1 + eps || dy1 > y1 + eps)
                    findings += Finding("error", "bbox",
                      s"$fname: data bbox ($dx0,$dy0,$dx1,$dy1) outside declared ($x0,$y0,$x1,$y1)")
                }
              }
            }
            } // readable
          }
        }
    }
    findings.toSeq
  }

  /** Composite check (reference `check all`,
    * `core/check_parquet_structure.py:508`): structure + compression +
    * bbox status + spatial order + spec validation in one report.
    */
  def checkAll(spark: SparkSession, path: String): Seq[Finding] = {
    val structural = checkRowGroups(path) ++ checkCompression(path)
    val bboxStatus = checkBboxStructure(path) match {
      case "optimal" => Nil
      case s => Seq(Finding("info", "bbox_structure", s))
    }
    val order = try {
      val t = GeoTable.read(spark, path)
      if (t.geometryColumn.isEmpty) Nil
      else {
        val r = t.checkSpatialOrder()
        if (r.isNaN || r < 0.5) Nil
        else Seq(Finding("warn", "spatial_order",
          f"ratio $r%.3f >= 0.5 — consider hilbert sort"))
      }
    } catch { case _: Exception => Nil }
    structural ++ bboxStatus ++ order ++ validate(spark, path)
  }

  /** Is this path a partitioned dataset (several part-files or hive
    * `key=value` folders)? (reference `core/partition_reader.py`
    * is_partition_path.)
    */
  def isPartitionPath(path: String): Boolean = {
    val conf = Footer.newConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p) || fs.getFileStatus(p).isFile) false
    else {
      val entries = fs.listStatus(p)
      val nParquet = entries.count(e =>
        e.isFile && e.getPath.getName.endsWith(".parquet"))
      val hiveDirs = entries.exists(e =>
        e.isDirectory && e.getPath.getName.contains("="))
      nParquet > 1 || hiveDirs
    }
  }

  /** Consolidation hint for single-file commands (reference
    * `core/partition_reader.py:144-167` require_single_file).
    */
  def requireSingleFile(path: String, commandName: String): Unit =
    if (isPartitionPath(path))
      throw new IllegalArgumentException(
        s"""Partitioned input detected: $path
           |The '$commandName' command requires a single parquet file as input.
           |To work with partitioned data, first consolidate using:
           |    graft extract "$path" consolidated.parquet
           |Then run this command on the consolidated file.""".stripMargin)

  /** Multi-file check dispatch (reference `core/partition_reader.py:
    * 170-220`): which part-files a check command runs over — first file
    * by default, all files, or a deterministic sample of N.
    */
  def dispatchFiles(path: String, mode: String = "first",
      sampleN: Int = 3): Seq[Path] = {
    require(sampleN > 0, s"sampleN must be positive, got $sampleN")
    val parts = Footer.partFiles(path, Footer.newConf())
    mode match {
      case "first" => parts.take(1)
      case "all" => parts
      case "sample" =>
        if (parts.size <= sampleN) parts
        else {
          val stride = parts.size / sampleN
          (0 until sampleN).map(i => parts(i * stride))
        }
      case m => throw new IllegalArgumentException(s"unknown dispatch mode $m")
    }
  }

  /** head/tail preview rows with WKB→WKT geometry preview (reference
    * `core/inspect.py:188-290`, hand-rolled WKB parser at
    * `core/inspect_utils.py:432-516` — ours goes through the real codec).
    */
  def preview(spark: SparkSession, path: String, n: Int = 5,
      fromTail: Boolean = false): Seq[String] = {
    val t = GeoTable.read(spark, path)
    val d = t.geometryColumn match {
      case Some(g) => t.df.withColumn(g,
        graft.functions.geo.st_astext(org.apache.spark.sql.functions.col(g)))
      case None => t.df
    }
    val rows = if (fromTail) d.tail(n) else d.head(n)
    val names = d.columns
    rows.toSeq.map { r =>
      names.zipWithIndex.map { case (c, i) => s"$c=${r.get(i)}" }.mkString(", ")
    }
  }

  /** check/fix pipeline (reference `core/check_fixes.py`): add bbox if
    * missing, sort hilbert if poorly ordered, rewrite with ZSTD — a
    * composition of our operators returning the fixed table.
    */
  def fix(spark: SparkSession, path: String, outPath: String): Seq[String] = {
    val applied = scala.collection.mutable.ArrayBuffer[String]()
    var t = GeoTable.read(spark, path)
    if (checkBboxStructure(path) != "optimal") {
      t = t.addBbox(); applied += "add_bbox"
    }
    val ratio = t.checkSpatialOrder()
    if (ratio.isNaN || ratio >= 0.5) {
      t = t.sortHilbert(); applied += "sort_hilbert"
    }
    t.write(outPath, compression = "zstd")
    applied += "rewrite_zstd"
    applied.toSeq
  }
}
