package graft.meta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageType
import scala.jdk.CollectionConverters._

/** Footer-only parquet utilities (reference `core/duckdb_metadata.py` /
  * `core/metadata_utils.py`): O(1) metadata reads with no data scan, and
  * the footer-rewrite write path that attaches the `geo` key by
  * byte-copying row groups (reference write strategies, SURVEY §4.3 —
  * `disk_rewrite.py` without ever decoding pages).
  */
object Footer {

  final case class RowGroupInfo(
      rowCount: Long,
      totalByteSize: Long,
      compressedSize: Long,
      columns: Map[String, ColumnStats])

  final case class ColumnStats(
      codec: String,
      compressedSize: Long,
      uncompressedSize: Long,
      nullCount: Option[Long],
      min: Option[Any],
      max: Option[Any],
      /** Native Parquet GeospatialStatistics xy bounds, when the chunk
        * carries them (GEOMETRY/GEOGRAPHY columns; reference
        * `core/validate.py:1430-1504` native_geo_stats).
        */
      geoBbox: Option[(Double, Double, Double, Double)] = None,
      /** Native GeospatialStatistics WKB type codes (1=Point …
        * 7=GeometryCollection, +1000/2000/3000 for Z/M/ZM), when the
        * chunk declares them (reference `core/validate.py:1617-1700`
        * native_geo_types_match).
        */
      geoTypes: Option[Set[Int]] = None)

  /** Physical shape of one top-level schema field (validate needs type /
    * repetition / child fields, not just names — reference
    * `core/validate.py:418-506` physical-schema checks).
    */
  final case class FieldInfo(
      name: String,
      primitive: Boolean,
      primitiveType: Option[String],
      repeated: Boolean,
      logicalType: Option[String],
      groupFields: Seq[(String, String)],
      /** Inline CRS of a native GEOMETRY/GEOGRAPHY logical type
        * (GeoParquet 2 carries CRS in the Parquet type itself —
        * reference `core/validate.py:1737-1782` check V2-2).
        */
      geoCrs: Option[String] = None,
      /** Edge algorithm of a GEOGRAPHY logical type (reference
        * `core/validate.py:1833-1877` check V2-5).
        */
      geoAlgorithm: Option[String] = None)

  final case class FooterInfo(
      rowCount: Long,
      numRowGroups: Int,
      keyValueMeta: Map[String, String],
      schemaFields: Seq[String],
      schemaInfo: Seq[FieldInfo],
      rowGroups: Seq[RowGroupInfo]) {
    def geo: Option[GeoMeta] =
      keyValueMeta.get(GeoMeta.FooterKey).map(GeoMeta.fromJson)
  }

  /** Default Hadoop conf for footer IO: the ACTIVE session's, when one
    * exists — a bare `new Configuration()` ignores every fs.* setting
    * the user put in Spark conf (s3a credentials, custom schemes), so
    * footer reads/writes against remote filesystems failed AFTER the
    * data was already written. Falls back to a plain Configuration in
    * session-less contexts (unit helpers).
    */
  private[graft] def newConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** NIO part-file listing WITH stat data (length, mtime) in one pass —
    * the listing Spark's InMemoryFileIndex needs, produced at NIO walk
    * speed (0.26 s at 3×10⁴ dirs where Spark's no-native-hadoop local
    * listing pays an `ls` per file, 17-19 s — DirScale r15). Local
    * scheme only; None tells the caller to use Spark's own listing.
    * walkFileTree supplies BasicFileAttributes to the visitor, so size
    * and mtime cost no extra stat; FOLLOW_LINKS + its built-in cycle
    * detection mirror the partFiles walk.
    */
  private[graft] def partFileStatuses(path: String,
      conf: Configuration = newConf()): Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
    val p = new Path(path)
    val uri = p.toUri
    // non-local schemes (round-17, VERDICT r16 #6): the same
    // per-first-level-directory parallel walk through the path's OWN
    // Hadoop FileSystem — any scheme with a connector jar present gets
    // the prefilled-index read planning; failures/missing paths return
    // None so the stock reader keeps raising canonical errors
    if (uri.getScheme != null && uri.getScheme != "file")
      return try fsPartFileStatuses(p, conf)
        catch { case _: Throwable => None }
    val base = java.nio.file.Paths.get(uri.getPath)
    if (!java.nio.file.Files.exists(base)) return None
    // an explicit FILE path is read as-is (the partFiles contract —
    // name filtering applies only to directory walks)
    if (java.nio.file.Files.isRegularFile(base))
      return Some(Seq(new org.apache.hadoop.fs.FileStatus(
        java.nio.file.Files.size(base), false, 1, 128L * 1024 * 1024,
        java.nio.file.Files.getLastModifiedTime(base).toMillis,
        new Path(base.toUri))))
    // Equivalence guard (ADVICE r16): Spark's stock listing includes
    // every non-hidden file REGARDLESS of extension (Hive writes valid
    // parquet parts without a .parquet suffix), so a tree containing a
    // non-hidden file that fails isPartFileName must NOT take the fast
    // path — a partial listing would silently drop those rows. Any such
    // "foreign" file aborts the walk and returns None (stock reader).
    // Hidden subtrees (`_`/`.`-prefixed dirs: _temporary staging,
    // .hive-staging) are pruned whole — stock discovery skips them too,
    // and their contents must neither be listed nor count as foreign.
    val foreign = new java.util.concurrent.atomic.AtomicBoolean(false)
    def walkOne(root: java.nio.file.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      java.nio.file.Files.walkFileTree(root,
        java.util.EnumSet.of(java.nio.file.FileVisitOption.FOLLOW_LINKS),
        Integer.MAX_VALUE,
        new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
          override def preVisitDirectory(d: java.nio.file.Path,
              attrs: java.nio.file.attribute.BasicFileAttributes)
              : java.nio.file.FileVisitResult =
            if (d != root && hiddenName(d.getFileName.toString))
              java.nio.file.FileVisitResult.SKIP_SUBTREE
            else if (foreign.get()) java.nio.file.FileVisitResult.TERMINATE
            else java.nio.file.FileVisitResult.CONTINUE
          override def visitFile(f: java.nio.file.Path,
              attrs: java.nio.file.attribute.BasicFileAttributes)
              : java.nio.file.FileVisitResult = {
            val name = f.getFileName.toString
            if (attrs.isRegularFile && isPartFileName(name)) {
              out += new org.apache.hadoop.fs.FileStatus(attrs.size(), false,
                1, 128L * 1024 * 1024, attrs.lastModifiedTime().toMillis,
                new Path(f.toUri))
              java.nio.file.FileVisitResult.CONTINUE
            } else if (attrs.isRegularFile && !hiddenName(name)) {
              foreign.set(true)
              java.nio.file.FileVisitResult.TERMINATE
            } else java.nio.file.FileVisitResult.CONTINUE
          }
          override def visitFileFailed(f: java.nio.file.Path,
              e: java.io.IOException): java.nio.file.FileVisitResult =
            java.nio.file.FileVisitResult.CONTINUE
        })
      out.result()
    }
    // wide hive layouts (10⁴-10⁵ key=value dirs) are stat-bound, not
    // CPU-bound: fan the per-subdirectory walks over a bounded pool
    // (same 32-thread discipline as writeGeoMetadata). The top level is
    // listed once; each first-level DIRECTORY walks independently;
    // first-level files are kept directly.
    val firstLevel = {
      val s = java.nio.file.Files.list(base)
      try {
        val it = s.iterator()
        val b = Seq.newBuilder[java.nio.file.Path]
        while (it.hasNext) b += it.next()
        b.result()
      } finally s.close()
    }
    val (dirs0, files) = firstLevel.partition(p =>
      java.nio.file.Files.isDirectory(p))
    val dirs = dirs0.filterNot(d => hiddenName(d.getFileName.toString))
    val fromDirs = fanOut(dirs, serialUpTo = 4)(walkOne).flatten
    val fromFiles = files.flatMap { f =>
      val name = f.getFileName.toString
      if (isPartFileName(name) && java.nio.file.Files.isRegularFile(f))
        Some(new org.apache.hadoop.fs.FileStatus(java.nio.file.Files.size(f),
          false, 1, 128L * 1024 * 1024,
          java.nio.file.Files.getLastModifiedTime(f).toMillis,
          new Path(f.toUri)))
      else {
        if (!hiddenName(name) && java.nio.file.Files.isRegularFile(f))
          foreign.set(true)
        None
      }
    }
    if (foreign.get()) None
    else Some((fromDirs ++ fromFiles).sortBy(_.getPath.toString))
  }

  /** [[partFileStatuses]] for non-local schemes: the identical listing
    * discipline (foreign non-hidden file ⇒ None, hidden subtrees
    * pruned, first-level directories fanned over the bounded pool) but
    * through the path's Hadoop FileSystem instead of NIO — a slow
    * per-status remote listing then costs wall/32, mirroring the local
    * win without assuming a walkable local mount.
    */
  private def fsPartFileStatuses(p: Path,
      conf: Configuration): Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
    val fs = p.getFileSystem(conf)
    val root =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    if (root.isFile) return Some(Seq(root))
    val foreign = new java.util.concurrent.atomic.AtomicBoolean(false)
    def walkOne(d: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      val stack = scala.collection.mutable.Stack[Path](d)
      while (stack.nonEmpty && !foreign.get()) {
        fs.listStatus(stack.pop()).foreach { s =>
          val name = s.getPath.getName
          if (s.isDirectory) {
            if (!hiddenName(name)) stack.push(s.getPath)
          } else if (isPartFileName(name)) out += s
          else if (!hiddenName(name)) foreign.set(true)
        }
      }
      out.result()
    }
    val first = fs.listStatus(p)
    val (dirs0, files) = first.partition(_.isDirectory)
    val dirs = dirs0.filterNot(d => hiddenName(d.getPath.getName)).toSeq
    val fromDirs = fanOut(dirs, serialUpTo = 4)(d => walkOne(d.getPath)).flatten
    val fromFiles = files.toSeq.filter { s =>
      val name = s.getPath.getName
      val part = isPartFileName(name)
      if (!part && !hiddenName(name)) foreign.set(true)
      part
    }
    if (foreign.get()) None
    else Some((fromDirs ++ fromFiles).sortBy(_.getPath.toString))
  }

  /** All parquet part-files under a path (single file or directory). */
  def partFiles(path: String, conf: Configuration = newConf()): Seq[Path] = {
    val p = new Path(path)
    // local-FS fast path via NIO: without the native-hadoop library
    // (this image, most dev machines) Hadoop's local listLocatedStatus
    // loads per-file permissions through an `ls` SUBPROCESS — ~18 ms per
    // file, which turned reading a 328-directory hive layout into a 6 s
    // driver stall ON EVERY GeoTable.read. NIO walks the same tree in
    // milliseconds; remote schemes keep the Hadoop listing.
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      val base = java.nio.file.Paths.get(uri.getPath)
      if (java.nio.file.Files.exists(base)) {
        if (java.nio.file.Files.isRegularFile(base)) return Seq(p)
        val out = Seq.newBuilder[Path]
        // FOLLOW_LINKS: the Hadoop listing this replaces traverses
        // symlinked partition directories (RawLocalFileSystem resolves
        // through File.listFiles); walk's own loop detection bounds
        // cycle risk
        val stream = java.nio.file.Files.walk(base,
          java.nio.file.FileVisitOption.FOLLOW_LINKS)
        try {
          stream.forEach { f =>
            val name = f.getFileName.toString
            if (name.endsWith(".parquet") && !name.startsWith("_") &&
                !name.startsWith(".") &&
                java.nio.file.Files.isRegularFile(f))
              out += new Path(f.toUri)
          }
        } finally stream.close()
        // recursive: hive layouts nest parts under key=value directories
        // (and basenames REUSE across them — callers must key per-file
        // state by full path, never by basename)
        return out.result().sortBy(_.toString)
      }
      // missing local path: fall through so the Hadoop FS raises the
      // canonical FileNotFoundException callers already handle
    }
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(p)
    else {
      val out = Seq.newBuilder[Path]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        val name = s.getPath.getName
        if (s.isFile && name.endsWith(".parquet") &&
            !name.startsWith("_") && !name.startsWith("."))
          out += s.getPath
      }
      out.result().sortBy(_.toString)
    }
  }

  private def isPartFileName(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** Spark's hidden-path rule (InMemoryFileIndex): `.`-prefixed always
    * hidden; `_`-prefixed hidden UNLESS the name contains `=` —
    * `_temporary`/`.hive-staging` are staging, but `__h3=84…` is a
    * partition directory (graft's own spatial partition writers use the
    * `__`-prefixed key form) and must be walked. One definition for the
    * NIO and FS walks, pinned by the `__h3=` parity test.
    */
  private def hiddenName(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** First part file in sorted-descent order, WITHOUT listing the whole
    * tree: read-planning consumers (`GeoTable.read`, inspect heads) only
    * need ONE footer for geo metadata + the `graft:partitioning` key —
    * walking a 100k-directory hive layout to take `.headOption` pays
    * O(files) twice (Spark's own FileIndex already lists once). This
    * descends directories in name-sorted order and stops at the first
    * match, so planning cost is O(depth × fanout-at-each-level), not
    * O(files). All part files of one dataset carry the same graft
    * footer, so ANY part is equivalent; sorted descent keeps the pick
    * deterministic (it matches `partFiles(...).headOption` except in
    * pathological names where '.' and '/' sort across a directory
    * boundary).
    */
  def firstPartFile(path: String, conf: Configuration = newConf()): Option[Path] = {
    val p = new Path(path)
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      val base = java.nio.file.Paths.get(uri.getPath)
      if (java.nio.file.Files.exists(base)) {
        if (java.nio.file.Files.isRegularFile(base)) return Some(p)
        // cycle guard: the descent follows symlinks (parity with the
        // FOLLOW_LINKS walk in partFiles), so a link cycle must be cut
        // by real-path dedup — Files.walk has this built in; a bare
        // recursion would overflow the stack instead of erroring
        val seen = scala.collection.mutable.HashSet[java.nio.file.Path]()
        def descend(d: java.nio.file.Path): Option[Path] = {
          val real =
            try d.toRealPath()
            catch { case _: java.io.IOException => d.toAbsolutePath }
          if (!seen.add(real)) return None
          val entries = {
            val s = java.nio.file.Files.list(d)
            try s.iterator().asScala.toArray.sortBy(_.getFileName.toString)
            finally s.close()
          }
          entries.iterator.flatMap { e =>
            // FOLLOW_LINKS parity with the partFiles walk: isDirectory/
            // isRegularFile resolve symlinks by default
            if (java.nio.file.Files.isDirectory(e)) descend(e)
            else if (isPartFileName(e.getFileName.toString) &&
                java.nio.file.Files.isRegularFile(e)) Some(new Path(e.toUri))
            else None
          }.nextOption()
        }
        return descend(base)
      }
      return None
    }
    val fs = p.getFileSystem(conf)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    if (st.isFile) Some(p)
    else {
      def descend(d: Path): Option[Path] = {
        val entries = fs.listStatus(d).sortBy(_.getPath.getName)
        entries.iterator.flatMap { s =>
          if (s.isDirectory) descend(s.getPath)
          else if (s.isFile && isPartFileName(s.getPath.getName))
            Some(s.getPath)
          else None
        }.nextOption()
      }
      descend(p)
    }
  }

  def read(path: Path, conf: Configuration = newConf()): FooterInfo = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try info(reader.getFooter) finally reader.close()
  }

  /** [[FooterInfo]] of a footer already read. */
  private def info(meta: ParquetMetadata): FooterInfo = {
    val fm = meta.getFileMetaData
    val groups = meta.getBlocks.asScala.toSeq.map { b =>
      val cols = b.getColumns.asScala.toSeq.map { c =>
        val stats = Option(c.getStatistics)
        c.getPath.toDotString -> ColumnStats(
          codec = c.getCodec.name(),
          compressedSize = c.getTotalSize,
          uncompressedSize = c.getTotalUncompressedSize,
          nullCount = stats.filter(_.isNumNullsSet).map(_.getNumNulls),
          min = stats.filter(s => s.hasNonNullValue).map(_.genericGetMin),
          max = stats.filter(s => s.hasNonNullValue).map(_.genericGetMax),
          geoBbox = Option(c.getGeospatialStatistics)
            .flatMap(gs => Option(gs.getBoundingBox))
            .filter(_.isXYValid)
            .map(b => (b.getXMin, b.getYMin, b.getXMax, b.getYMax)),
          geoTypes = Option(c.getGeospatialStatistics)
            .flatMap(gs => Option(gs.getGeospatialTypes))
            .flatMap(gt => Option(gt.getTypes))
            .map(_.asScala.map(_.toInt).toSet)
            .filter(_.nonEmpty))
      }.toMap
      RowGroupInfo(b.getRowCount, b.getTotalByteSize, b.getCompressedSize, cols)
    }
    val fields = fm.getSchema.getFields.asScala.toSeq.map { f =>
      val prim = f.isPrimitive
      FieldInfo(
        name = f.getName,
        primitive = prim,
        primitiveType =
          if (prim) Some(f.asPrimitiveType().getPrimitiveTypeName.name())
          else None,
        repeated = f.isRepetition(
          org.apache.parquet.schema.Type.Repetition.REPEATED),
        logicalType =
          Option(f.getLogicalTypeAnnotation).map(_.getClass.getSimpleName),
        geoCrs = Option(f.getLogicalTypeAnnotation).flatMap {
          case g: org.apache.parquet.schema.LogicalTypeAnnotation.GeometryLogicalTypeAnnotation =>
            Option(g.getCrs).filter(_.nonEmpty)
          case g: org.apache.parquet.schema.LogicalTypeAnnotation.GeographyLogicalTypeAnnotation =>
            Option(g.getCrs).filter(_.nonEmpty)
          case _ => None
        },
        geoAlgorithm = Option(f.getLogicalTypeAnnotation).collect {
          case g: org.apache.parquet.schema.LogicalTypeAnnotation.GeographyLogicalTypeAnnotation =>
            Option(g.getAlgorithm).map(_.name().toLowerCase)
              .getOrElse("spherical")
        },
        groupFields =
          if (prim) Seq.empty
          else f.asGroupType().getFields.asScala.toSeq.map { c =>
            c.getName -> (if (c.isPrimitive)
              c.asPrimitiveType().getPrimitiveTypeName.name() else "GROUP")
          })
    }
    FooterInfo(
      rowCount = groups.map(_.rowCount).sum,
      numRowGroups = groups.size,
      keyValueMeta = fm.getKeyValueMetaData.asScala.toMap,
      schemaFields = fields.map(_.name),
      schemaInfo = fields,
      rowGroups = groups)
  }

  /** O(1) row count across all part files (no Spark job). */
  def rowCount(path: String, conf: Configuration = newConf()): Long =
    partFiles(path, conf).map(p => read(p, conf).rowCount).sum

  /** Dataset bbox from row-group statistics of bbox struct fields —
    * the reference's stats fast path (`core/duckdb_metadata.py:452-534`),
    * no data scan.
    */
  def bboxFromStats(path: String, bboxCol: String,
      conf: Configuration = newConf()): Option[(Double, Double, Double, Double)] =
    statsBbox(partFiles(path, conf).flatMap(p => read(p, conf).rowGroups), bboxCol)

  /** The bbox the `bboxCol` struct's min/max statistics span over
    * `groups`; None when any corner has no statistics.
    */
  private def statsBbox(groups: Seq[RowGroupInfo],
      bboxCol: String): Option[(Double, Double, Double, Double)] = {
    def agg(corner: String, isMin: Boolean): Option[Double] = {
      val vs = groups.flatMap { rg =>
        rg.columns.get(s"$bboxCol.$corner").flatMap(c => if (isMin) c.min else c.max)
          .collect {
            // FLOAT coverings are spec-legal (Checks accepts FLOAT or
            // DOUBLE fields) — a Double-only collect silently returned
            // None for them, stripping per-file bboxes downstream
            case d: java.lang.Double => d.doubleValue
            case f: java.lang.Float  => f.doubleValue
          }
      }
      if (vs.isEmpty) None else Some(if (isMin) vs.min else vs.max)
    }
    for {
      x0 <- agg("xmin", isMin = true); y0 <- agg("ymin", isMin = true)
      x1 <- agg("xmax", isMin = false); y1 <- agg("ymax", isMin = false)
    } yield (x0, y0, x1, y1)
  }

  /** GeoParquet flavor of a file (reference `detect_geoparquet_file_type`,
    * `core/common.py:127-195`):
    *  - "geoparquet": has the `geo` footer key (1.0/1.1 style)
    *  - "parquet-geo-only": native Parquet GEOMETRY/GEOGRAPHY logical
    *    types but no `geo` key (GeoParquet 2.0 minimal)
    *  - "geoparquet2": both
    *  - "plain": neither
    */
  def detectFileType(path: Path, conf: Configuration = newConf()): String = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val fm = reader.getFooter.getFileMetaData
      val hasGeoKey = fm.getKeyValueMetaData.containsKey(GeoMeta.FooterKey)
      val hasNativeGeo = fm.getSchema.getFields.asScala.exists { f =>
        f.isPrimitive && Option(f.asPrimitiveType().getLogicalTypeAnnotation)
          .exists { lt =>
            val n = lt.getClass.getSimpleName
            n.contains("Geometry") || n.contains("Geography")
          }
      }
      (hasGeoKey, hasNativeGeo) match {
        case (true, true) => "geoparquet2"
        case (true, false) => "geoparquet"
        case (false, true) => "parquet-geo-only"
        case (false, false) => "plain"
      }
    } finally reader.close()
  }

  /** Rewrite a parquet file in place, merging `extra` into its key-value
    * footer metadata. Row groups are byte-copied (appendFile), never
    * decoded — the disk-rewrite strategy of the reference without the
    * page decode.
    */
  def withKeyValueMetadata(path: Path, extra: Map[String, String],
      conf: Configuration = newConf()): Unit =
    mergeKeyValues(path, conf)(_ => extra)

  /** Rewrite `path` in place under its own schema, with `extra` (derived
    * from the same footer) merged into its key-value metadata: one
    * [[rewrite]] into a hidden temp file, then a delete-and-rename swap
    * (reference base.py temp+rename).
    */
  private def mergeKeyValues(path: Path, conf: Configuration)(
      extra: ParquetMetadata => Map[String, String]): Unit = {
    val tmp = new Path(path.getParent, s".${path.getName}.kvtmp")
    rewrite(path, tmp, conf) { footer =>
      val fm = footer.getFileMetaData
      (fm.getSchema, fm.getKeyValueMetaData.asScala.toMap ++ extra(footer))
    }
    val fs = path.getFileSystem(conf)
    fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"rename $tmp -> $path failed")
  }

  /** Make a GeoParquet-2 / parquet-geo-only file readable by Spark:
    * Spark's parquet reader rejects the GEOMETRY/GEOGRAPHY logical type
    * (`PARQUET_TYPE_ILLEGAL`), but the physical pages are ordinary
    * BINARY WKB — so byte-copy the row groups under a schema with the
    * annotation stripped and keep all key-value metadata. The reference
    * downgrades versions through GDAL/DuckDB rewrites
    * (`core/convert.py` geoparquet-version); this is the footer-only
    * equivalent.
    */
  def stripNativeGeoTypes(in: Path, out: Path,
      conf: Configuration = newConf()): Unit = {
    import org.apache.parquet.schema.{PrimitiveType, Type}
    rewrite(in, out, conf) { footer =>
      val fm = footer.getFileMetaData
      val schema = fm.getSchema
      val fields: java.util.List[Type] = schema.getFields
      val stripped = new MessageType(schema.getName,
        fields.asScala.map {
          case p: PrimitiveType if Option(p.getLogicalTypeAnnotation).exists { lt =>
              val n = lt.getClass.getSimpleName
              n.contains("Geometry") || n.contains("Geography")
            } =>
            new PrimitiveType(p.getRepetition, p.getPrimitiveTypeName, p.getName)
          case t => t
        }.asJava)
      (stripped, fm.getKeyValueMetaData.asScala.toMap)
    }
  }

  /** Inverse of [[stripNativeGeoTypes]] — upgrade a WKB GeoParquet file
    * to GeoParquet 2.0 / parquet-geo-only (reference `convert
    * --geoparquet-version`, `core/convert.py:552-683` +
    * `GEOPARQUET_VERSIONS` in `core/common.py:56-66`): byte-copy the
    * row groups under a schema where `geomCol`'s BINARY column carries
    * the native Parquet GEOMETRY (or GEOGRAPHY) logical type. The pages
    * are untouched — WKB is exactly what the native annotation
    * describes, which is why the reference's own 2.0 fixtures still
    * declare `encoding: "WKB"`.
    *
    * `crs` inlines a CRS string (PROJJSON or "EPSG:nnnn") into the
    * Parquet type — required by spec when the metadata CRS is
    * non-default (validate check V2-2). `kv` REPLACES the key-value
    * metadata wholesale (unlike [[withKeyValueMetadata]]'s union), so
    * the parquet-geo-only flavor can drop the `geo` key entirely.
    *
    * Native GeospatialStatistics are NOT synthesized: appendFile
    * copies the source chunks' metadata verbatim, and fabricating
    * per-chunk stats would require re-encoding every page. Readers fall
    * back to the `geo` bbox / a data probe (our validate marks the
    * native-stats checks SKIPPED, like the reference on GDAL-written
    * files without them).
    */
  def addNativeGeoTypes(in: Path, out: Path, geomCol: String,
      kv: Map[String, String],
      crs: Option[String] = None,
      geographyAlgorithm: Option[String] = None,
      conf: Configuration = newConf()): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
    rewrite(in, out, conf) { footer =>
      val schema = footer.getFileMetaData.getSchema
      val fields: java.util.List[Type] = schema.getFields
      var found = false
      val upgraded = new MessageType(schema.getName,
        fields.asScala.map {
          case p: PrimitiveType if p.getName == geomCol =>
            require(p.getPrimitiveTypeName ==
                PrimitiveType.PrimitiveTypeName.BINARY,
              s"geometry column $geomCol must be BINARY WKB, found " +
                p.getPrimitiveTypeName)
            found = true
            val ann = geographyAlgorithm match {
              case Some(alg) => LogicalTypeAnnotation.geographyType(
                crs.orNull,
                org.apache.parquet.column.schema.EdgeInterpolationAlgorithm
                  .valueOf(alg.toUpperCase))
              case None => LogicalTypeAnnotation.geometryType(crs.orNull)
            }
            org.apache.parquet.schema.Types
              .primitive(p.getPrimitiveTypeName, p.getRepetition)
              .as(ann).named(p.getName)
          case t => t
        }.asJava)
      require(found, s"geometry column $geomCol not found in schema")
      (upgraded, kv)
    }
  }

  /** Write `out` (replacing it) as the row groups of `in`, byte-copied
    * (never decoded), under the schema and whole key-value metadata
    * `plan` derives from `in`'s footer: the one copy behind
    * [[withKeyValueMetadata]], [[writeGeoMetadata]],
    * [[stripNativeGeoTypes]] and [[addNativeGeoTypes]]. One reader
    * supplies both the footer and the row groups, so `in` is opened once.
    */
  private def rewrite(in: Path, out: Path, conf: Configuration)(
      plan: ParquetMetadata => (MessageType, Map[String, String])): Unit = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(in, conf))
    try {
      val (schema, kv) = plan(reader.getFooter)
      val fs = out.getFileSystem(conf)
      if (fs.exists(out)) fs.delete(out, false)
      val writer = new ParquetFileWriter(
        HadoopOutputFile.fromPath(out, conf), schema,
        ParquetFileWriter.Mode.CREATE, 128L * 1024 * 1024, 8 * 1024 * 1024)
      writer.start()
      reader.appendTo(writer)
      writer.end(kv.asJava)
    } finally reader.close()
  }

  /** `f` over `items` in order, fanned over a pool of at most 32 threads
    * (each call an independent footer or listing round trip; serial, a
    * wide layout pays O(files) driver stalls). Up to `serialUpTo` items,
    * or on one core, it runs serially on the caller's thread. A failure
    * rethrows the task's ORIGINAL exception, unwrapped from
    * ExecutionException, exactly as the serial loop would throw it.
    */
  private def fanOut[A, B](items: Seq[A], serialUpTo: Int = 1)(f: A => B): Seq[B] = {
    val par = math.min(32, Runtime.getRuntime.availableProcessors)
    if (items.sizeIs <= serialUpTo || par <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(par, items.size))
      try {
        items.toVector.map { a =>
          pool.submit(new java.util.concurrent.Callable[B] {
            override def call(): B = f(a)
          })
        }.map { fut =>
          try fut.get()
          catch {
            case ee: java.util.concurrent.ExecutionException
              if ee.getCause != null => throw ee.getCause
          }
        }
      } finally pool.shutdownNow()
    }
  }

  /** Footer reads for a bounded list of parts, fanned out like
    * [[writeGeoMetadata]] (ADVICE r16 on `inspect --verbose`). Order
    * preserved; failures rethrow the ORIGINAL exception.
    */
  def readMany(paths: Seq[Path],
      conf: Configuration = newConf()): Seq[FooterInfo] =
    fanOut(paths)(read(_, conf))

  /** Attach GeoParquet metadata to every part file of a written dataset.
    * When `perFileBbox` is set, each part's `geo` carries its own bbox
    * recomputed from that file's row-group stats (reference strips the
    * global bbox per partition, `core/partition_common.py:657-706`).
    */
  def writeGeoMetadata(path: String, geo: GeoMeta,
      perFileBboxCol: Option[String] = None,
      conf: Configuration = newConf(),
      extra: Map[String, String] = Map.empty): Unit = {
    // one reader per part: its footer's row-group stats give the
    // per-file bbox, and the same reader feeds the byte copy
    def one(p: Path): Unit = mergeKeyValues(p, conf) { footer =>
      val m = perFileBboxCol match {
        case Some(bcol) =>
          val bb = statsBbox(info(footer).rowGroups, bcol)
          geo.copy(columns = geo.columns.map { case (n, c) =>
            if (n == geo.primaryColumn) n -> c.copy(bbox = bb) else n -> c
          })
        case None => geo
      }
      extra + (GeoMeta.FooterKey -> GeoMeta.toJson(m))
    }
    // dedupe by REAL path before fanning out: partFiles follows symlinks,
    // so one physical file reachable through two linked directories is
    // listed once per route — rewritten concurrently, its temp-write +
    // rename races against itself. One rewrite per physical file is
    // sufficient (every route sees the new footer) and safe.
    val files = {
      val seen = scala.collection.mutable.HashSet[String]()
      partFiles(path, conf).filter { p =>
        val key =
          try java.nio.file.Paths.get(p.toUri.getPath).toRealPath().toString
          catch { case _: Throwable => p.toString }
        seen.add(key)
      }
    }
    // per-file rewrites are independent (each is a read-footer +
    // byte-copy + rename of its OWN file) and the loop is the write
    // path's scale bottleneck: serial, it cost ~59 ms/file — a
    // 30k-partition H3 layout stalled ~30 min in the footer pass alone
    // (round-15 DirScale). The bounded pool turns that into wall/32,
    // and a failed file still fails the call with its own exception.
    fanOut(files)(one)
  }
}
