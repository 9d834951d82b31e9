package graft.cli

import org.apache.spark.sql.SparkSession
import graft.checks.Checks
import graft.table.GeoTable

/** gpio-compatible command surface (reference `cli/main.py`), thin over
  * GeoTable — every command composes the same lazy plan the fluent API
  * builds, executed once at the sink.
  *
  * Usage examples (sbt "runMain graft.cli.Main <cmd> ..."):
  *   extract in.parquet out.parquet --bbox -10,-10,10,10 --columns id,name --limit 100
  *   add bbox in.parquet out.parquet
  *   add quadkey in.parquet out.parquet --zoom 13
  *   add kdtree in.parquet out.parquet --iterations 6
  *   sort hilbert in.parquet out.parquet
  *   sort column in.parquet out.parquet --columns a,b --desc
  *   sort quadkey in.parquet out.parquet
  *   reproject in.parquet out.parquet --from EPSG:4326 --to EPSG:3857
  *   partition string in.parquet outdir --column type [--chars 2]
  *   partition quadkey in.parquet outdir --zoom 13 --partition-resolution 4
  *   partition kdtree in.parquet outdir --iterations 4
  *   convert in.csv out.parquet --wkt-column wkt [--skip-invalid]
  *   convert in.geojson out.parquet
  *   to geojson in.parquet outdir [--precision 6]
  *   to csv in.parquet outdir
  *   inspect in.parquet | check in.parquet | validate in.parquet
  *   stac-item in.parquet --id x --href s3://...
  */
object Main {

  /** Thrown (not sys.exit) on a FAIL benchmark regression so the gate
    * trips with exit 1 from main() without killing in-process callers.
    */
  final class BenchmarkRegression(msg: String) extends RuntimeException(msg)

  /** Thrown (not sys.exit) on a failed check gate — same exit-1 mapping
    * in main(), catchable by in-process callers (sys.exit killed the
    * forked test JVM mid-suite; see the r10d lesson).
    */
  final class CheckFailure(msg: String) extends RuntimeException(msg)

  /** Thrown (not sys.exit) on a usage/dispatch error — exit-2 mapping in
    * main(). Round-14 CLI dispatch fuzz found the last sys.exit inside
    * `run`: `die` killed the CALLING JVM (a forked test suite; on a
    * cluster, the driver) on any unknown subcommand or format instead of
    * refusing loudly like every other error path.
    */
  final class CliUsageError(msg: String) extends IllegalArgumentException(msg)

  /** Micro-unit char-entropy quality key (the q117 fixed-point
    * contract) — ONE definition so every keep-best-style command ranks
    * survivors identically.
    */
  private def entropyMicros(textCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    round(round(element_at(graft.functions.SketchExpressions
      .char_entropy(lower(coalesce(textCol, lit("")))), 2), 6) * 1e6)
      .cast("long")
  }

  private def opt(args: Seq[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }
  private def flag(args: Seq[String], name: String): Boolean =
    args.contains(s"--$name")

  /** Print a one-row recall self-report (n_ref, n_detectable,
    * recall_bound) from the *RecallReport operators — the cap's
    * production loss bound, surfaced to CLI users (round-17, VERDICT
    * r16 #5). One bounded row through the audited collect gate.
    */
  private def printRecallRow(report: org.apache.spark.sql.DataFrame): Unit =
    graft.util.CollectCapped(report, 1, "recall report row").foreach { r =>
      println(f"recall report: n_ref=${r.getLong(0)} " +
        f"n_detectable=${r.getLong(1)} recall_bound=${r.getDouble(2)}%.4f")
    }

  def main(argv: Array[String]): Unit = {
    if (argv.isEmpty) { println(usage); sys.exit(2) }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.geo.register(spark)
    try run(spark, argv.toSeq)
    catch {
      case e @ (_: BenchmarkRegression | _: CheckFailure) =>
        System.err.println(e.getMessage)
        spark.stop()
        sys.exit(1)
      case e: CliUsageError =>
        System.err.println(s"error: ${e.getMessage}")
        spark.stop()
        sys.exit(2)
    }
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args0: Seq[String]): Unit = {
    // BboxPushdownRule turns `extract --intersects` into covering
    // comparisons the Parquet scan can prune on (idempotent)
    graft.plans.GraftExtensions.install(spark)
    // --explain (reference CHANGELOG Unreleased: `--show-sql` on every
    // DuckDB-backed command): the Spark analogue prints the FORMATTED
    // optimized/physical plan of every action the command executes —
    // scans with PushedFilters/ReadSchema, exchanges, codegen spans —
    // via a QueryExecutionListener, so every command gets the flag
    // without per-command plumbing. The listener bus is asynchronous;
    // the finally drains it so plans land before the process exits.
    val explain = args0.contains("--explain")
    // --aws-profile (ref CHANGELOG Unreleased §Changed: the --profile →
    // --aws-profile rename): only the remote-touching commands accept
    // it — it selects the AWS credentials profile the s3a connector's
    // SDK default chain reads (`aws.profile` system property, the JVM
    // analogue of the reference's AWS_PROFILE env export). Local-only
    // commands reject it loudly, mirroring the reference's removal of
    // the flag from local operations.
    val awsProfile = opt(args0, "aws-profile")
    awsProfile.foreach { p =>
      val remoteCmds = Set("extract", "convert", "upload", "extract-arcgis")
      if (!args0.headOption.exists(remoteCmds.contains))
        die(s"--aws-profile is only accepted on remote-touching commands " +
          s"(${remoteCmds.toSeq.sorted.mkString(", ")}); " +
          s"'${args0.headOption.getOrElse("")}' is a local operation")
      System.setProperty("aws.profile", p)
    }
    val args = {
      val a = args0.filterNot(_ == "--explain")
      val i = a.indexOf("--aws-profile")
      if (i >= 0) a.patch(i, Nil, 2) else a
    }
    // plans are BUFFERED on the (asynchronous) listener-bus thread and
    // printed on the calling thread after the drain — event-time println
    // would race command output and escape Console.withOut redirection
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val explainListener =
      if (!explain) None
      else Some(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          plans.add(s"== graft --explain: $funcName ==\n" +
            qe.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    explainListener.foreach(spark.listenerManager.register)
    try runDispatch(spark, args)
    finally explainListener.foreach { l =>
      org.apache.spark.sql.GraftListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      spark.listenerManager.unregister(l)
      plans.forEach(p => println(p))
    }
  }

  private[graft] def runDispatch(spark: SparkSession, args: Seq[String]): Unit = {
    val cmd = args.head
    val rest = args.tail
    cmd match {
      case "extract" =>
        val Seq(in, out) = rest.take(2)
        var t = GeoTable.read(spark, in)
        opt(rest, "bbox").foreach { b =>
          val Array(x0, y0, x1, y1) = b.split(",").map(_.toDouble)
          t = t.filterBbox(x0, y0, x1, y1)
        }
        opt(rest, "intersects").foreach(w => t = t.filterIntersectsWkt(w))
        opt(rest, "columns").foreach(cs =>
          t = t.selectColumns(include = cs.split(",").toSeq))
        opt(rest, "exclude").foreach(cs =>
          t = t.selectColumns(exclude = cs.split(",").toSeq))
        opt(rest, "where").foreach(w => t = t.filterWhere(w))
        opt(rest, "limit").foreach(n => t = t.limit(n.toInt))
        t.write(out)

      // `graft set-version <path> <1.0|1.1|2.0|parquet-geo-only>` —
      // in-place GeoParquet version conversion of an EXISTING dataset
      // (the parquet-input face of the reference's `convert
      // --geoparquet-version`, `core/convert.py:1011-1102`): a
      // footer-only rewrite, pages byte-copied
      case "set-version" =>
        val Seq(path, v) = rest.take(2)
        GeoTable.setGeoParquetVersion(path, v)
        println(s"$path now geoparquet-version $v")

      // `graft add bbox-metadata <file>` — in-place covering metadata
      // for an existing bbox column (`cli/main.py:3030-3050`)
      case "add" if rest.headOption.contains("bbox-metadata") =>
        val covered = GeoTable.addBboxMetadata(rest(1))
        println(s"bbox covering metadata set for column '$covered'")

      case "add" =>
        val what = rest.head
        val Seq(in, out) = rest.tail.take(2)
        val t = GeoTable.read(spark, in)
        what match {
          case "bbox" => t.addBbox().write(out)
          case "quadkey" =>
            // progress message parity (ref CHANGELOG Unreleased §Added);
            // stderr so machine-readable stdout contracts stay clean
            Console.err.println("Adding quadkey column...")
            t.addQuadkey(opt(rest, "zoom").map(_.toInt).getOrElse(13)).write(out)
          case "kdtree" =>
            t.addKdtree(opt(rest, "iterations").map(_.toInt).getOrElse(4)).write(out)
          case "h3" =>
            Console.err.println("Adding H3 column...")
            t.addH3(opt(rest, "resolution").map(_.toInt).getOrElse(9),
              opt(rest, "h3-column").getOrElse("h3_cell")).write(out)
          case "admin-divisions" =>
            // reference downloads its boundary set; ours takes any
            // GeoParquet boundary table (--boundaries) and attaches the
            // requested columns via the broadcast enrich join
            val b = GeoTable.read(spark,
              opt(rest, "boundaries").getOrElse(die("--boundaries required")))
            val cols = opt(rest, "admin-columns").map(_.split(",").toSeq)
              .getOrElse(die("--admin-columns required"))
            t.enrichSpatial(b, cols).write(out)
          case other => die(s"unknown add target $other")
        }

      case "sort" =>
        val what = rest.head
        val Seq(in, out) = rest.tail.take(2)
        val t = GeoTable.read(spark, in)
        what match {
          case "hilbert" => t.sortHilbert().write(out)
          case "quadkey" =>
            t.sortQuadkey(opt(rest, "zoom").map(_.toInt).getOrElse(13),
              keepColumn = flag(rest, "keep-quadkey")).write(out)
          case "column" =>
            val cols = opt(rest, "columns").getOrElse(die("--columns required"))
            Console.err.println(s"Sorting by $cols...")
            t.sortBy(cols.split(",").toSeq, descending = flag(rest, "desc")).write(out)
          case other => die(s"unknown sort target $other")
        }

      case "reproject" =>
        val Seq(in, out) = rest.take(2)
        GeoTable.read(spark, in)
          .reproject(opt(rest, "from").getOrElse("EPSG:4326"),
            opt(rest, "to").getOrElse(die("--to required")))
          .write(out)

      case "partition" =>
        val what = rest.head
        val Seq(in, out) = rest.tail.take(2)
        val t = GeoTable.read(spark, in)
        val force = flag(rest, "force")
        what match {
          case "string" if flag(rest, "flat") =>
            // reference default layout: <value>.parquet, no key= folders
            val c = opt(rest, "column").getOrElse(die("--column required"))
            val key = opt(rest, "chars").map(_.toInt)
              .map(n => org.apache.spark.sql.functions.substring(
                org.apache.spark.sql.functions.col(c), 1, n))
              .getOrElse(org.apache.spark.sql.functions.col(c))
            t.partitionByFlat(key, out, opt(rest, "prefix"), force)
          case "string" =>
            t.partitionByString(
              opt(rest, "column").getOrElse(die("--column required")),
              opt(rest, "chars").map(_.toInt), out, force)
          case "quadkey" =>
            t.partitionByQuadkey(opt(rest, "zoom").map(_.toInt).getOrElse(13),
              opt(rest, "partition-resolution").map(_.toInt).getOrElse(4),
              out, force)
          case "kdtree" =>
            t.partitionByKdtree(opt(rest, "iterations").map(_.toInt).getOrElse(4), out)
          case "h3" =>
            t.partitionByH3(opt(rest, "resolution").map(_.toInt).getOrElse(9),
              out, force = force)
          case "admin" =>
            val b = GeoTable.read(spark,
              opt(rest, "boundaries").getOrElse(die("--boundaries required")))
            val levels = opt(rest, "levels").map(_.split(",").toSeq)
              .getOrElse(die("--levels required"))
            t.partitionByAdmin(b.df,
              b.geometryColumn.getOrElse(die("boundaries have no geometry")),
              levels, out)
          case "country" =>
            t.splitByCountry(
              opt(rest, "column").getOrElse(die("--column required")), out)
          case other => die(s"unknown partition target $other")
        }

      case "convert" =>
        val Seq(in, out) = rest.take(2)
        val t =
          if (in.endsWith(".geojson") || in.endsWith(".json"))
            GeoTable.fromGeoJsonFile(spark, in)
          else if (in.endsWith(".csv") || in.endsWith(".tsv"))
            GeoTable.fromCsv(spark, in,
              wktColumn = opt(rest, "wkt-column"),
              lonLatColumns = for {
                lon <- opt(rest, "lon-column"); lat <- opt(rest, "lat-column")
              } yield (lon, lat),
              delimiter = if (in.endsWith(".tsv")) "\t" else ",",
              skipInvalid = flag(rest, "skip-invalid"))
          else if (in.endsWith(".shp"))
            GeoTable.fromShapefile(spark, in)
          else if (in.endsWith(".gpkg"))
            GeoTable.fromGeoPackage(spark, in, opt(rest, "table"))
          else if (in.endsWith(".fgb"))
            GeoTable.fromFlatGeobuf(spark, in)
          else die(s"unsupported input format: $in")
        // CLI convert applies hilbert sort by default (reference
        // `core/convert.py:521-597`; --skip-hilbert opts out) and adds
        // a bbox covering column for 1.x outputs. For 2.0/parquet-geo-
        // only the bbox column is skipped (reference should_skip_bbox,
        // `core/convert.py:552-557` — native geo types make it
        // redundant) and the footer is upgraded post-write.
        val gpVersion = opt(rest, "geoparquet-version").getOrElse("1.1")
        val skipBbox = gpVersion == "2.0" || gpVersion == "parquet-geo-only"
        // --skip-hilbert skips ONLY the sort: 1.x outputs keep their
        // bbox covering column either way (only the native-geo-type
        // flavors make it redundant, reference should_skip_bbox)
        val withBbox = if (skipBbox) t else t.addBbox()
        val sorted =
          if (flag(rest, "skip-hilbert")) withBbox else withBbox.sortHilbert()
        sorted.write(out)
        if (gpVersion != "1.1") GeoTable.setGeoParquetVersion(out, gpVersion)

      case "to" =>
        val what = rest.head
        val Seq(in, out) = rest.tail.take(2)
        val t = GeoTable.read(spark, in)
        what match {
          case "geojson" =>
            t.writeGeoJsonSeq(out, opt(rest, "precision").map(_.toInt).getOrElse(-1))
          case "csv" => t.writeCsv(out)
          case "shapefile" => t.writeShapefile(out)
          case "gpkg" => t.writeGeoPackage(out,
            opt(rest, "table").getOrElse("features"))
          case "fgb" => t.writeFlatGeobuf(out)
          case "fc" => t.writeFeatureCollection(out,
            opt(rest, "precision").map(_.toInt).getOrElse(-1))
          case "jsonl" => graft.sources.Jsonl.write(t.df, out)
          case other => die(s"unknown output format $other")
        }

      //   from-jsonl in.jsonl out.parquet  (schema-inferring JSONL read;
      //   production pipelines pass --schema-from sample.parquet to skip
      //   the inference pass)
      case "from-jsonl" =>
        val Seq(in, out) = rest.take(2)
        val df = opt(rest, "schema-from") match {
          case Some(ref) => graft.sources.Jsonl.read(spark, in,
            spark.read.parquet(ref).schema)
          case None => graft.sources.Jsonl.read(spark, in)
        }
        df.write.mode("overwrite").parquet(out)

      //   gopher-gate in out [--text-column text] [--keep-only]
      //   (rule-based quality verdicts; --keep-only writes survivors)
      case "gopher-gate" =>
        import org.apache.spark.sql.functions.col
        val Seq(in, out) = rest.take(2)
        val txt = opt(rest, "text-column").getOrElse("text")
        val ruled = graft.ops.Gopher.withRules(spark.read.parquet(in), txt)
        val res = if (flag(rest, "keep-only"))
          ruled.filter(col("pass")).drop("r_wordcount", "r_meanlen",
            "r_alpha", "r_stop", "r_symbol", "pass")
        else ruled
        res.write.mode("overwrite").parquet(out)

      // ---- training-data pipeline commands (builder-prompt surface) ----
      //   dedup exact in out --text-column text --id-column doc_id
      //   dedup minhash in out [--threshold 0.8] [--bands 32] [--hashes 128]
      //   dedup simhash in out [--max-hamming 3]
      //   dedup ngram in out [--n 4] [--threshold 0.5] [--max-df 1000]
      //     [--report-recall refpairs.parquet]  (prints the df-cap's
      //     recall bound over the supplied (id_a, id_b) reference pairs;
      //     also on dedup phash/video — VERDICT r16 #5)
      //   dedup embedding in out [--vec-column embedding] [--bits 24] [--bands 4]
      //   dedup cluster in out            (pairs from minhash -> cluster ids)
      //   dedup cross base in out         (incremental: classify vs accepted corpus)
      //   dedup bloom base in out         (cross + broadcast Bloom prefilter)
      case "dedup" if rest.headOption.contains("cross") =>
        // dedup cross base incoming out: incremental ingestion — classify
        // the incoming batch against the accepted corpus + itself
        val Seq(basePath, in, out) = rest.tail.take(3)
        graft.ops.Dedup.crossDedup(
            spark.read.parquet(basePath), spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            opt(rest, "id-column").getOrElse("doc_id"))
          .write.mode("overwrite").parquet(out)

      case "dedup" if rest.headOption.contains("bloom") =>
        // dedup bloom base incoming out [--m-bits 262144] [--k 4]:
        // cross-corpus classification with a broadcast Bloom prefilter —
        // only bloom-positive rows pay the exact digest join
        val Seq(basePath, in, out) = rest.tail.take(3)
        graft.ops.Dedup.bloomCrossDedup(
            spark.read.parquet(basePath), spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            opt(rest, "id-column").getOrElse("doc_id"),
            mBits = opt(rest, "m-bits").map(_.toInt).getOrElse(1 << 18),
            k = opt(rest, "k").map(_.toInt).getOrElse(4))
          .write.mode("overwrite").parquet(out)

      case "dedup" if rest.headOption.contains("phash") =>
        // dedup phash in out [--payload-column payload] [--max-hamming 3]:
        // perceptual near-dup pairs over image payloads — imageio decode
        // + aHash partition-local, 4x16-bit pigeonhole band join (q175)
        val Seq(in, out) = rest.tail.take(2)
        val payloadCol = opt(rest, "payload-column").getOrElse("payload")
        val idCol = opt(rest, "id-column").getOrElse("doc_id")
        val maxHam = opt(rest, "max-hamming").map(_.toInt).getOrElse(3)
        val bandDf = opt(rest, "max-band-df").map(_.toInt).getOrElse(1000)
        val sig = graft.ops.Multimodal.withAHash(
            spark.read.parquet(in), payloadCol)
          .select(org.apache.spark.sql.functions.col(idCol),
            org.apache.spark.sql.functions.col("ahash_hi"),
            org.apache.spark.sql.functions.col("ahash_lo"))
        graft.ops.Multimodal.phashNearDups(sig, idCol,
            maxHamming = maxHam, maxBandDf = bandDf)
          .write.mode("overwrite").parquet(out)
        // --report-recall <ref-pairs.parquet>: the cap's recall bound
        // over a user-supplied reference pair set (id_a, id_b) — the
        // phashRecallReport self-report surfaced to gpio-style users
        // (round-17, VERDICT r16 #5)
        opt(rest, "report-recall").foreach { refPath =>
          printRecallRow(graft.ops.Multimodal.phashRecallReport(sig, idCol,
            spark.read.parquet(refPath), maxHam, bandDf))
        }

      //   audio-gate in out [--payload-column payload] [--keep-only]:
      //   decode audio payloads (JDK javax.sound, partition-local) and
      //   classify by the q179 rule ladder; --keep-only drops gated rows
      case "audio-gate" =>
        import org.apache.spark.sql.functions.col
        val Seq(in, out) = rest.take(2)
        val gated = graft.ops.Multimodal.withAudioGate(
          spark.read.parquet(in),
          opt(rest, "payload-column").getOrElse("payload"))
        val res = if (flag(rest, "keep-only"))
          gated.filter(col("reason") === "keep").drop("reason")
        else gated
        res.write.mode("overwrite").parquet(out)

      //   video-frames in out [--payload-column payload] [--id-column doc_id]
      //   [--every-n 2]: sample every Nth frame of GIF video payloads
      //   (hand-rolled LZW parser, ImageIO fallback) -> per-frame stats
      case "video-frames" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Multimodal.sampleGifFrameStats(spark.read.parquet(in),
            opt(rest, "payload-column").getOrElse("payload"),
            opt(rest, "id-column").getOrElse("doc_id"),
            everyN = opt(rest, "every-n").map(_.toInt).getOrElse(2))
          .write.mode("overwrite").parquet(out)

      //   nfc-normalize in out [--text-column text]: Unicode NFC
      //   canonical composition of the text column (codegen kernel) —
      //   run before any byte-level dedup/fingerprint stage
      case "nfc-normalize" =>
        import org.apache.spark.sql.functions.col
        val Seq(in, out) = rest.take(2)
        val txt = opt(rest, "text-column").getOrElse("text")
        spark.read.parquet(in)
          .withColumn(txt,
            graft.functions.SketchExpressions.nfc_normalize(col(txt)))
          .write.mode("overwrite").parquet(out)

      case "dedup" if rest.headOption.contains("audio") =>
        // dedup audio in out [--payload-column payload] [--id-column doc_id]:
        // acoustic keep-one dedup — decode + quantized energy-envelope
        // fingerprint partition-local, fingerprint groupBy/join (q182)
        val Seq(in, out) = rest.tail.take(2)
        val idCol = opt(rest, "id-column").getOrElse("doc_id")
        val sig = graft.ops.Multimodal.withAudioFingerprint(
            spark.read.parquet(in),
            opt(rest, "payload-column").getOrElse("payload"))
          .select(org.apache.spark.sql.functions.col(idCol),
            org.apache.spark.sql.functions.col("audio_fp"))
        graft.ops.Multimodal.audioDedup(sig, idCol)
          .write.mode("overwrite").parquet(out)

      case "dedup" if rest.headOption.contains("video") =>
        // dedup video in out [--payload-column payload] [--id-column
        // doc_id] [--min-shared 3]: video keep-one dedup — real
        // container decode + per-frame aHash partition-local, frame-hash
        // inverted-index join, connected-component clusters (q183)
        val Seq(in, out) = rest.tail.take(2)
        val idCol = opt(rest, "id-column").getOrElse("doc_id")
        val minShared = opt(rest, "min-shared").map(_.toInt).getOrElse(3)
        val maxPost = opt(rest, "max-postings").map(_.toInt).getOrElse(1000)
        val fh = graft.ops.Multimodal.withFrameHashes(
          spark.read.parquet(in),
          opt(rest, "payload-column").getOrElse("payload"), idCol)
        graft.ops.Multimodal.videoDedup(fh, "doc_id",
            minShared = minShared, maxPostings = maxPost)
          .write.mode("overwrite").parquet(out)
        // --report-recall <ref-pairs.parquet> (VERDICT r16 #5)
        opt(rest, "report-recall").foreach { refPath =>
          printRecallRow(graft.ops.Multimodal.videoRecallReport(fh, "doc_id",
            spark.read.parquet(refPath), minShared, maxPost))
        }

      //   scene-changes in out [--payload-column payload] [--id-column
      //   doc_id] [--threshold 1000]: per-video cut report from the real
      //   container decode — n_frames, n_cuts, first_cut, activity (q184)
      case "scene-changes" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Multimodal.sceneChangeStats(spark.read.parquet(in),
            opt(rest, "payload-column").getOrElse("payload"),
            opt(rest, "id-column").getOrElse("doc_id"),
            threshold = opt(rest, "threshold").map(_.toLong).getOrElse(1000L))
          .write.mode("overwrite").parquet(out)

      //   bpe-train in out [--rounds 64]  (learned merge table to parquet)
      case "bpe-train" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Bpe.trainMerges(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            opt(rest, "rounds").map(_.toInt).getOrElse(64))
          .write.mode("overwrite").parquet(out)

      //   scrub-blocks in out [--block-tokens 10]  (sub-document dedup +
      //   reconstruction report)
      case "scrub-blocks" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Dedup.scrubDuplicateBlocks(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            opt(rest, "id-column").getOrElse("doc_id"),
            blockTokens = opt(rest, "block-tokens").map(_.toInt).getOrElse(10))
          .write.mode("overwrite").parquet(out)

      //   strip-boilerplate in out [--block-tokens 10] [--min-df 3]
      //   (frequency-threshold block removal: blocks in >= min-df
      //   distinct docs stripped everywhere)
      case "strip-boilerplate" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Dedup.stripBoilerplateBlocks(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            opt(rest, "id-column").getOrElse("doc_id"),
            blockTokens = opt(rest, "block-tokens").map(_.toInt).getOrElse(10),
            minDf = opt(rest, "min-df").map(_.toInt).getOrElse(3))
          .write.mode("overwrite").parquet(out)

      //   pca in out [--dims 64] [--iters 24] [--abtt]  (PC1 projection
      //   scores; --abtt adds mean+PC1 removal residual stats)
      case "pca" =>
        val Seq(in, out) = rest.take(2)
        val df = spark.read.parquet(in)
        val vecCol = opt(rest, "vector-column").getOrElse("embedding")
        val idCol = opt(rest, "id-column").getOrElse("vec_id")
        val dims = opt(rest, "dims").map(_.toInt).getOrElse(64)
        val iters = opt(rest, "iters").map(_.toInt).getOrElse(24)
        (if (flag(rest, "abtt"))
          graft.ops.Pca.abttStats(df, vecCol, idCol, dims, iters)
        else graft.ops.Pca.pc1Scores(df, vecCol, idCol, dims, iters))
          .write.mode("overwrite").parquet(out)

      //   percentiles in out --group-column g --value-column v
      //     [--ps 50,90,99]: exact per-group ceil-rank percentiles via
      //     the histogram selector (one combinable aggregation + one
      //     per-group window over the domain-bounded histogram — the
      //     q124/q149/q171 machinery as a standalone report)
      case "percentiles" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val g = opt(rest, "group-column").getOrElse("lang")
        val v = opt(rest, "value-column")
          .getOrElse(die("percentiles requires --value-column"))
        val ps = opt(rest, "ps").getOrElse("50,90,99")
          .split(",").map(_.trim.toInt).toSeq
        val hist = spark.read.parquet(in)
          .groupBy(col(g), col(v)).agg(count(lit(1)).as("__c"))
        graft.ops.DistWindow.histCeilRanks(hist, col(g), col(v),
            col("__c"), ps, g, "p", "value_at", "n_rows")
          .select(col(g), col("p"), col("n_rows"), col("value_at"))
          .write.mode("overwrite").parquet(out)

      //   logreg-train in out [--dims 256] [--iters 3] [--label-lang en]
      //   (hashed-BoW quality-classifier weights to parquet)
      case "logreg-train" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val langVal = opt(rest, "label-lang").getOrElse("en")
        graft.ops.LogReg.train(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            when(col(opt(rest, "label-column").getOrElse("lang")) === langVal,
              1.0).otherwise(0.0),
            dims = opt(rest, "dims").map(_.toInt).getOrElse(256),
            iters = opt(rest, "iters").map(_.toInt).getOrElse(3))
          .write.mode("overwrite").parquet(out)

      //   nb-score in out [--dims 256] [--label-lang en]  (Naive Bayes
      //   quality classifier: one-aggregation train + zero-shuffle score)
      case "nb-score" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val langVal = opt(rest, "label-lang").getOrElse("en")
        graft.ops.NaiveBayes.trainScore(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            when(col(opt(rest, "label-column").getOrElse("lang")) === langVal,
              1.0).otherwise(0.0),
            opt(rest, "id-column").getOrElse("doc_id"),
            dims = opt(rest, "dims").map(_.toInt).getOrElse(256))
          .write.mode("overwrite").parquet(out)

      //   cms-topk in out [--width 1024] [--depth 4] [--top 20]
      //   (count-min sketch heavy hitters with exact certification)
      case "cms-topk" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Cms.heavyHitters(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            width = opt(rest, "width").map(_.toInt).getOrElse(1024),
            depth = opt(rest, "depth").map(_.toInt).getOrElse(4),
            topK = opt(rest, "top").map(_.toInt).getOrElse(20))
          .write.mode("overwrite").parquet(out)

      //   bm25 in out --terms w1,w2 [--k1 1.2] [--b 0.75] [--top 20]
      //   (Okapi BM25 relevance ranking against a query-term set)
      case "bm25" =>
        val Seq(in, out) = rest.take(2)
        val terms = opt(rest, "terms")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(die("bm25 requires --terms w1,w2,..."))
        graft.ops.Bm25.score(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            opt(rest, "id-column").getOrElse("doc_id"), terms,
            k1 = opt(rest, "k1").map(_.toDouble).getOrElse(1.2),
            b = opt(rest, "b").map(_.toDouble).getOrElse(0.75),
            topK = opt(rest, "top").map(_.toInt).getOrElse(20))
          .write.mode("overwrite").parquet(out)

      //   shard-manifest in out [--shards 16]  (deterministic shard
      //   assignment + per-shard manifest with order-independent sig)
      case "shard-manifest" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Shards.manifest(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            opt(rest, "id-column").getOrElse("doc_id"),
            nShards = opt(rest, "shards").map(_.toInt).getOrElse(16))
          .write.mode("overwrite").parquet(out)

      //   zipf-stats in out [--head 1000]  (rank-frequency slope/R2 +
      //   top-10 token mass: corpus-health drift alarms)
      case "zipf-stats" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Zipf.stats(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            headN = opt(rest, "head").map(_.toInt).getOrElse(1000))
          .write.mode("overwrite").parquet(out)

      //   embed-outliers in out [--dims 64] [--threshold 1.01]
      //   (diagonal-Mahalanobis OOD gate off the one-job moment triangle)
      case "embed-outliers" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Pca.mahaScores(spark.read.parquet(in),
            opt(rest, "vec-column").getOrElse("embedding"),
            opt(rest, "id-column").getOrElse("vec_id"),
            dims = opt(rest, "dims").map(_.toInt).getOrElse(64),
            threshold = opt(rest, "threshold").map(_.toDouble).getOrElse(1.01))
          .write.mode("overwrite").parquet(out)

      //   source-gate in out [--keep-lang en] [--short-chars 200]
      //   (domain-level keep/drop verdicts from integer-exact signals)
      case "source-gate" =>
        import org.apache.spark.sql.functions.{col, length, coalesce, lit}
        val Seq(in, out) = rest.take(2)
        val df = spark.read.parquet(in)
        val txt = opt(rest, "text-column").getOrElse("text")
        val charsCol =
          if (df.columns.contains("n_chars")) col("n_chars")
          else length(coalesce(col(txt), lit("")))
        graft.ops.SourceGate.gate(df,
            opt(rest, "source-column").getOrElse("source"), txt,
            opt(rest, "lang-column").getOrElse("lang"), charsCol,
            keepLang = opt(rest, "keep-lang").getOrElse("en"),
            shortChars = opt(rest, "short-chars").map(_.toInt).getOrElse(200))
          .write.mode("overwrite").parquet(out)

      //   term-drift a b out  (symmetric add-1 KL between two corpora's
      //   unigram distributions — the delivery drift alarm)
      case "term-drift" =>
        import org.apache.spark.sql.functions.{col, lit}
        val Seq(inA, inB, out) = rest.take(3)
        val txt = opt(rest, "text-column").getOrElse("text")
        val a = spark.read.parquet(inA).select(col(txt))
          .withColumn("__slice", lit(0))
        val b = spark.read.parquet(inB).select(col(txt))
          .withColumn("__slice", lit(1))
        graft.ops.Drift.termDrift(a.unionByName(b), txt, col("__slice"))
          .write.mode("overwrite").parquet(out)

      //   span-scrub in out [--window-tokens 8] [--min-df 2]  (exact-
      //   substring span removal: overlapping-window dedup at any offset)
      case "span-scrub" =>
        val Seq(in, out) = rest.take(2)
        graft.ops.Dedup.scrubRepeatedSpans(spark.read.parquet(in),
            opt(rest, "text-column").getOrElse("text"),
            opt(rest, "id-column").getOrElse("doc_id"),
            windowTokens = opt(rest, "window-tokens").map(_.toInt).getOrElse(8),
            minDf = opt(rest, "min-df").map(_.toInt).getOrElse(2))
          .write.mode("overwrite").parquet(out)

      //   hard-negatives corpus queries out [--k 5] [--dup-ceil 0.95]
      //   (contrastive-training negatives: top-k similar minus near-dups)
      case "hard-negatives" =>
        val Seq(corpus, queries, out) = rest.take(3)
        val vec = opt(rest, "vector-column").getOrElse("embedding")
        val id = opt(rest, "id-column").getOrElse("vec_id")
        graft.ops.Ann.hardNegatives(
            spark.read.parquet(corpus), spark.read.parquet(queries),
            vec, id, id, vec,
            k = opt(rest, "k").map(_.toInt).getOrElse(5),
            dupCeil = opt(rest, "dup-ceil").map(_.toDouble).getOrElse(0.95))
          .write.mode("overwrite").parquet(out)

      //   balance-chi2 in out [--row-column source] [--col-column lang]
      //   (contingency chi-square + Cramér's V corpus-balance report)
      case "balance-chi2" =>
        import org.apache.spark.sql.functions.col
        val Seq(in, out) = rest.take(2)
        graft.ops.Drift.balanceChi2(spark.read.parquet(in),
            col(opt(rest, "row-column").getOrElse("source")),
            col(opt(rest, "col-column").getOrElse("lang")))
          .write.mode("overwrite").parquet(out)

      //   hll-distinct in out [--group-column source] [--text-column text]
      //   (per-group HLL vocabulary estimate certified vs exact)
      case "hll-distinct" =>
        import org.apache.spark.sql.functions.{col, explode, filter, lower, split, lit}
        val Seq(in, out) = rest.take(2)
        val g = opt(rest, "group-column").getOrElse("source")
        val txt = opt(rest, "text-column").getOrElse("text")
        val terms = spark.read.parquet(in).select(col(g),
          explode(filter(split(lower(col(txt)), "\\s+"),
            t => t =!= lit(""))).as("term"))
        graft.ops.Hll.distinctPerGroup(terms, col(g), col("term"), g)
          .write.mode("overwrite").parquet(out)

      //   overlap a b out [--k 128]  (KMV sketch corpus-overlap report:
      //   est/exact union + jaccard between two parquet corpora)
      case "overlap" =>
        import org.apache.spark.sql.functions._
        val Seq(inA, inB, out) = rest.take(3)
        val txt = opt(rest, "text-column").getOrElse("text")
        val a = spark.read.parquet(inA).select(col(txt)).withColumn("__side", lit("a"))
        val b = spark.read.parquet(inB).select(col(txt)).withColumn("__side", lit("b"))
        graft.ops.Kmv.corpusOverlap(a.unionByName(b), col("__side"), txt,
            k = opt(rest, "k").map(_.toInt).getOrElse(128))
          .write.mode("overwrite").parquet(out)

      //   domain-cap in out [--k 1000]  (per-source quota: keep each
      //   source's best-k docs by char entropy — bounded-heap ranking,
      //   no source-serializing window)
      case "domain-cap" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val txt = opt(rest, "text-column").getOrElse("text")
        val src = opt(rest, "source-column").getOrElse("source")
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val k = opt(rest, "k").map(_.toInt).getOrElse(1000)
        val df = spark.read.parquet(in)
        val em = entropyMicros(col(txt))
        graft.ops.TopK.perGroup(df.withColumn("__em", em), Seq(src),
            Seq((col("__em"), true), (col(id), false)), k, "__rk")
          .drop("__em", "__rk")
          .write.mode("overwrite").parquet(out)

      //   embed-decontam corpus eval out [--threshold 0.3] [--report]
      //   (drop training vectors whose max cosine to the eval set
      //   crosses the contamination ceiling; --report keeps all rows
      //   with the max_sim_u annotation instead of filtering)
      case "embed-decontam" =>
        import org.apache.spark.sql.functions.col
        val Seq(corpus, eval_, out) = rest.take(3)
        val vec = opt(rest, "vector-column").getOrElse("embedding")
        val tauU = math.round(
          opt(rest, "threshold").map(_.toDouble).getOrElse(0.3) * 1e5)
        val scored = graft.ops.Ann.semanticDecontam(
          spark.read.parquet(corpus), spark.read.parquet(eval_), vec)
        // null max_sim_u (empty eval set / null embedding) means NO
        // measured contamination — keep the row; the bare < dropped the
        // ENTIRE corpus when the eval set was empty
        val result = if (flag(rest, "report")) scored
          else scored.filter(col("max_sim_u") < tauU ||
            col("max_sim_u").isNull).drop("max_sim_u")
        result.write.mode("overwrite").parquet(out)

      //   ks-drift a b out  (exact two-sample KS over token lengths
      //   between two corpora — the q120 drift alarm as a CLI stage)
      case "ks-drift" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val Seq(inA, inB, out) = rest.take(3)
        val text = opt(rest, "text-column").getOrElse("text")
        def lens(p: String, a: Boolean) = spark.read.parquet(p)
          .select(lit(a).as("a"),
            regexp_count(col(text), lit("\\S+"))
              .cast("long").as("len"))
        val base = lens(inA, a = true).union(lens(inB, a = false))
        val hist = base.groupBy(col("len"))
          .agg(sum(when(col("a"), 1L).otherwise(0L)).as("na"),
            sum(when(col("a"), 0L).otherwise(1L)).as("nb"))
        val w = Window.partitionBy(pmod(col("len"), lit(1)))
          .orderBy(col("len"))
        val cum = hist.withColumn("ca", sum(col("na")).over(w))
          .withColumn("cb", sum(col("nb")).over(w))
        val tot = base.agg(sum(when(col("a"), 1L).otherwise(0L)).as("ta"),
          sum(when(col("a"), 0L).otherwise(1L)).as("tb"))
        val d = cum.crossJoin(broadcast(tot))
          .withColumn("d", abs(col("ca") * col("tb") - col("cb") * col("ta")))
        val mx = d.agg(max(col("d")).as("m"))
        d.crossJoin(broadcast(mx)).filter(col("d") === col("m"))
          .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
            max(col("d")).as("__d"), min(col("len")).as("ks_at_len"))
          .select(col("n_a"), col("n_b"),
            round(col("__d").cast("double") / col("n_a") / col("n_b"), 6)
              .as("ks_stat"), col("ks_at_len"))
          .write.mode("overwrite").parquet(out)

      //   mix-plan in out [--budget-pct 50] [--cap-pct 30]  (per-source
      //   sampling plan under a token budget with a source cap — q121)
      case "mix-plan" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val text = opt(rest, "text-column").getOrElse("text")
        val src = opt(rest, "source-column").getOrElse("source")
        val budget = opt(rest, "budget-pct").map(_.toLong).getOrElse(50L)
        val cap = opt(rest, "cap-pct").map(_.toLong).getOrElse(30L)
        val avail = spark.read.parquet(in)
          .select(col(src).as("source"),
            regexp_count(col(text), lit("\\S+"))
              .cast("long").as("tok"))
          .groupBy(col("source")).agg(sum(col("tok")).as("avail_tokens"))
        val tot = avail.agg(sum(col("avail_tokens")).as("__t"))
        val w = avail.crossJoin(broadcast(tot))
          .withColumn("w", least(col("avail_tokens") * 100,
            col("__t") * cap))
        val sw = w.agg(sum(col("w")).as("__w"))
        w.crossJoin(broadcast(sw))
          .withColumn("target_tokens",
            round(col("__t").cast("double") * (budget / 100.0) * col("w")
              / col("__w")).cast("long"))
          .select(col("source"), col("avail_tokens"), col("target_tokens"),
            round(least(lit(1.0), col("target_tokens").cast("double")
              / col("avail_tokens")), 6).as("rate"),
            (col("target_tokens") > col("avail_tokens")).as("upsample"))
          .orderBy(col("source"))
          .write.mode("overwrite").parquet(out)

      //   oov-rate base delivery out  (per-source OOV vs base vocab — q133)
      case "oov-rate" =>
        import org.apache.spark.sql.functions._
        val Seq(inBase, inDel, out) = rest.take(3)
        val text = opt(rest, "text-column").getOrElse("text")
        val src = opt(rest, "source-column").getOrElse("source")
        def termsOf(p: String) = spark.read.parquet(p)
          .select(col(src).as("source"),
            explode(graft.functions.SketchExpressions
              .term_counts(coalesce(col(text), lit("")))).as("t"))
          .select(col("source"), col("t.term").as("term"),
            col("t.tf").as("tf"))
        val bv = termsOf(inBase).select(col("term").as("bterm")).distinct()
        termsOf(inDel).groupBy(col("source"), col("term"))
          .agg(sum(col("tf")).as("tf"))
          .join(bv, col("term") === col("bterm"), "left")
          .groupBy(col("source"))
          .agg(sum(col("tf")).as("n_tokens"),
            sum(when(col("bterm").isNull, col("tf")).otherwise(0L))
              .as("n_oov_tokens"),
            count(lit(1)).as("n_terms"),
            sum(when(col("bterm").isNull, 1L).otherwise(0L))
              .as("n_oov_terms"))
          .withColumn("oov_rate",
            round(col("n_oov_tokens").cast("double") / col("n_tokens"), 6))
          .orderBy(col("source"))
          .write.mode("overwrite").parquet(out)

      //   funnel in out --steps view,click,purchase [--horizon-days 7]
      //   (per-user ordered-sequence completion times)
      case "funnel" =>
        import org.apache.spark.sql.functions.{col, unix_micros}
        val Seq(in, out) = rest.take(2)
        val steps = opt(rest, "steps")
          .map(_.split(",").toSeq).getOrElse(Seq("view", "click", "purchase"))
        val horizon = opt(rest, "horizon-days").map(_.toLong).getOrElse(7L) *
          86400000000L
        val user = opt(rest, "user-column").getOrElse("user_id")
        val typ = opt(rest, "type-column").getOrElse("event_type")
        val ts = opt(rest, "ts-column").getOrElse("ts")
        val ev = spark.read.parquet(in)
          .withColumn("__us", unix_micros(col(ts).cast("timestamp")))
        graft.ops.Funnel.stageTimes(ev.select(col(user), col(typ),
            col("__us")), user, typ, "__us", steps, horizon)
          .write.mode("overwrite").parquet(out)

      case "retention" =>
        import org.apache.spark.sql.functions.{col, unix_timestamp}
        val Seq(in, out) = rest.take(2)
        val user = opt(rest, "user-column").getOrElse("user_id")
        val ts = opt(rest, "ts-column").getOrElse("ts")
        graft.ops.Behavior.retentionCohorts(spark.read.parquet(in), user,
            unix_timestamp(col(ts).cast("timestamp")))
          .orderBy("cohort_week", "week_offset")
          .write.mode("overwrite").parquet(out)

      case "transitions" =>
        import org.apache.spark.sql.functions.col
        val Seq(in, out) = rest.take(2)
        val user = opt(rest, "user-column").getOrElse("user_id")
        val typ = opt(rest, "type-column").getOrElse("event_type")
        val order = opt(rest, "order-columns").getOrElse("ts,event_id")
          .split(",").toSeq.map(c => col(c.trim))
        graft.ops.Behavior.markovTransitions(spark.read.parquet(in),
            user, typ, order)
          .orderBy("from_type", "to_type")
          .write.mode("overwrite").parquet(out)

      case "anomaly-report" =>
        val Seq(in, out) = rest.take(2)
        val typ = opt(rest, "type-column").getOrElse("event_type")
        val id = opt(rest, "id-column").getOrElse("event_id")
        val value = opt(rest, "value-column").getOrElse("value")
        graft.ops.Behavior.robustAnomalyReport(spark.read.parquet(in),
            typ, id, value)
          .orderBy(typ)
          .write.mode("overwrite").parquet(out)

      case "spans" =>
        val Seq(in, out) = rest.take(2)
        val text = opt(rest, "text-column").getOrElse("text")
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val k = opt(rest, "gram-tokens").map(_.toInt).getOrElse(8)
        val minSpan = opt(rest, "min-span").map(_.toInt).getOrElse(12)
        val dfCap = opt(rest, "df-cap").map(_.toInt).getOrElse(16)
        graft.ops.Spans.repeatedSpans(spark.read.parquet(in), text, id,
            k, minSpan, dfCap)
          .orderBy("doc_a", "doc_b")
          .write.mode("overwrite").parquet(out)

      case "compact" =>
        import org.apache.spark.sql.functions.{col, length, sum}
        val Seq(in, out) = rest.take(2)
        val target = opt(rest, "target-bytes").map(_.toLong)
          .getOrElse(128L * 1024 * 1024)
        val shard = opt(rest, "shard-column")
        import org.apache.spark.sql.functions.{abs, xxhash64, input_file_name}
        val df = spark.read.parquet(in)
        val text = opt(rest, "text-column").getOrElse("text")
        // shard ids must be numeric for the prefix-sum order; a string
        // shard key compacts in deterministic hash order
        val keyed = shard match {
          case Some(c) => df.withColumn("shard", abs(xxhash64(col(c))))
          case None => df.withColumn("shard",
            abs(xxhash64(input_file_name())))
        }
        val perShard = keyed.groupBy(col("shard"))
          .agg(sum(length(col(text)).cast("long")).as("bytes"))
        graft.ops.Shards.compactionPlan(perShard, "shard", "bytes", target)
          .orderBy(col("out_group"))
          .write.mode("overwrite").parquet(out)

      case "dedup" =>
        import graft.ops.Dedup
        val what = rest.head
        val Seq(in, out) = rest.tail.take(2)
        val df = spark.read.parquet(in)
        val text = opt(rest, "text-column").getOrElse("text")
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val result = what match {
          case "exact" => Dedup.exact(df, text, id)
          case "best" =>
            // survivor = highest char-entropy copy (micro-unit fixed
            // point, the q117 contract), not the first occurrence
            val em = entropyMicros(
              org.apache.spark.sql.functions.col(text))
            Dedup.exactBest(df.withColumn("__em", em), text, id, "__em")
              .drop("__em")
          case "minhash" => Dedup.minhashNearDups(df, text, id,
            numHashes = opt(rest, "hashes").map(_.toInt).getOrElse(128),
            bands = opt(rest, "bands").map(_.toInt).getOrElse(32),
            threshold = opt(rest, "threshold").map(_.toDouble).getOrElse(0.8))
          case "simhash" => Dedup.simhashNearDups(df, text, id,
            maxHamming = opt(rest, "max-hamming").map(_.toInt).getOrElse(3))
          case "ngram" => Dedup.ngramJaccardNearDups(df, text, id,
            n = opt(rest, "n").map(_.toInt).getOrElse(4),
            threshold = opt(rest, "threshold").map(_.toDouble).getOrElse(0.5),
            maxDf = opt(rest, "max-df").map(_.toInt).getOrElse(1000))
          case "embedding" => Dedup.embeddingNearDups(df,
            opt(rest, "vec-column").getOrElse("embedding"),
            opt(rest, "id-column").getOrElse("vec_id"),
            threshold = opt(rest, "threshold").map(_.toDouble).getOrElse(0.9),
            bits = opt(rest, "bits").map(_.toInt).getOrElse(24),
            bands = opt(rest, "bands").map(_.toInt).getOrElse(4))
          case "cluster" => Dedup.connectedComponents(
            Dedup.minhashNearDups(df, text, id,
              numHashes = opt(rest, "hashes").map(_.toInt).getOrElse(128),
              bands = opt(rest, "bands").map(_.toInt).getOrElse(32),
              threshold = opt(rest, "threshold").map(_.toDouble).getOrElse(0.8)))
          case other => die(s"unknown dedup mode $other")
        }
        result.write.mode("overwrite").parquet(out)
        // --report-recall <ref-pairs.parquet> (VERDICT r16 #5): only the
        // df-capped ngram mode has a computable recall identity; asking
        // for it on another mode is a loud error, not a silent ignore
        opt(rest, "report-recall").foreach { refPath =>
          if (what != "ngram")
            die(s"--report-recall is supported for the ngram mode " +
              s"(df-capped recall identity), not '$what'")
          printRecallRow(Dedup.ngramRecallReport(df, text, id,
            spark.read.parquet(refPath),
            n = opt(rest, "n").map(_.toInt).getOrElse(4),
            threshold = opt(rest, "threshold").map(_.toDouble).getOrElse(0.5),
            maxDf = opt(rest, "max-df").map(_.toInt).getOrElse(1000)))
        }

      //   split in out  (adds a deterministic train/validation/test column)
      case "split" =>
        val Seq(in, out) = rest.take(2)
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val df = spark.read.parquet(in)
        // md5-derived bucket in [0,100): 80/10/10 (mirrors q40)
        val nib = (i: Int) => org.apache.spark.sql.functions.expr(
          s"instr('0123456789abcdef', substr(md5(CAST($id AS STRING)), $i, 1)) - 1")
        val b = ((nib(1) * 4096 + nib(2) * 256 + nib(3) * 16 + nib(4)) % 100)
        df.withColumn("split",
          org.apache.spark.sql.functions.when(b < 80, "train")
            .when(b < 90, "validation").otherwise("test"))
          .write.mode("overwrite").parquet(out)

      //   strat-split in out [--strata lang,source] [--train-pct 80]
      //   [--val-pct 10]  (EXACT per-stratum proportions via the ranked
      //   q118 cut — the independent-draw `split` can starve a small
      //   stratum; this cannot)
      case "strat-split" =>
        val Seq(in, out) = rest.take(2)
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val strata = opt(rest, "strata").map(_.split(",").toSeq)
          .getOrElse(Seq("lang", "source"))
        graft.ops.Splits.stratified(spark.read.parquet(in), strata, id,
            trainPct = opt(rest, "train-pct").map(_.toInt).getOrElse(80),
            valPct = opt(rest, "val-pct").map(_.toInt).getOrElse(10))
          .write.mode("overwrite").parquet(out)

      //   vocab-coverage in out [--levels 80,90,95,99]  (smallest
      //   frequency-ranked vocabulary covering p% of token mass)
      case "vocab-coverage" =>
        val Seq(in, out) = rest.take(2)
        val text = opt(rest, "text-column").getOrElse("text")
        val levels = opt(rest, "levels")
          .map(_.split(",").toSeq.map(_.trim.toInt))
          .getOrElse(Seq(80, 90, 95, 99))
        graft.ops.Vocab.coverageCurve(spark.read.parquet(in), text, levels)
          .write.mode("overwrite").parquet(out)

      //   pack in out  (fixed token-capacity context-window assignment)
      case "pack" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val text = opt(rest, "text-column").getOrElse("text")
        val cap = opt(rest, "capacity").map(_.toLong).getOrElse(2048L)
        val df = spark.read.parquet(in)
          .withColumn("__ntok",
            regexp_count(col(text), lit("\\S+"))
              .cast("long"))
        graft.ops.Packing.packBySize(df, id, "__ntok", cap)
          .drop("__ntok")
          .write.mode("overwrite").parquet(out)

      //   shuffle in out  (deterministic seeded global shuffle; exact
      //   positions via the two-phase distributed rank — no global window)
      case "shuffle" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val seed = opt(rest, "seed").getOrElse("0")
        val df = spark.read.parquet(in)
          .withColumn("__skey",
            md5(concat(lit(s"$seed:"), col(id).cast("string"))))
        graft.ops.DistWindow.withGlobalRank(df,
            conv(substring(col("__skey"), 1, 2), 16, 10).cast("long"),
            Seq(col("__skey"), col(id)), "pos")
          .drop("__skey")
          .write.mode("overwrite").parquet(out)

      //   chunk in out  (overlapping token-window splitter; one row per chunk)
      case "chunk" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val text = opt(rest, "text-column").getOrElse("text")
        val sz = opt(rest, "size").map(_.toInt).getOrElse(64)
        val stride = opt(rest, "stride").map(_.toInt).getOrElse(48)
        require(stride > 0 && sz > stride, "need size > stride > 0")
        spark.read.parquet(in)
          .withColumn("__toks",
            filter(split(col(text), "\\s+"), t => t =!= ""))
          .withColumn("__nc", greatest(lit(1L),
            ceil((size(col("__toks")) - (sz - stride)).cast("double")
              / stride.toDouble)))
          .withColumn("chunk_id",
            explode(sequence(lit(0L), col("__nc") - 1)))
          .withColumn(text, array_join(
            slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"),
              lit(sz)), " "))
          .drop("__toks", "__nc")
          .write.mode("overwrite").parquet(out)

      //   blocklist in phrases.parquet out  (flag docs containing any
      //   banned phrase; the phrase table is broadcast — keep it bounded)
      case "blocklist" =>
        import org.apache.spark.sql.functions._
        val Seq(in, phrases, out) = rest.take(3)
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val text = opt(rest, "text-column").getOrElse("text")
        val ph = opt(rest, "phrase-column").getOrElse("phrase")
        // phrases get the SAME normalization as document text: a phrase
        // carrying a double space / tab / trailing newline could never
        // match the whitespace-squeezed __norm, silently passing banned
        // content through the gate
        val p = spark.read.parquet(phrases)
          .select(trim(regexp_replace(lower(col(ph)), "\\s+", " "))
            .as("__ph"))
          .filter(col("__ph") =!= "").distinct()
        spark.read.parquet(in)
          .withColumn("__norm", regexp_replace(lower(col(text)), "\\s+", " "))
          .join(broadcast(p), contains(col("__norm"), col("__ph")), "left")
          .groupBy(col(id))
          .agg(count(col("__ph")).as("n_banned"),
            min(col("__ph")).as("first_banned"))
          .write.mode("overwrite").parquet(out)

      //   project in out  (Rademacher random-projection reduction)
      case "project" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val vec = opt(rest, "vec-column").getOrElse("embedding")
        val dims = opt(rest, "dims").map(_.toInt).getOrElse(16)
        spark.read.parquet(in)
          .withColumn(s"${vec}_proj",
            graft.functions.SketchExpressions.rand_project(col(vec), dims))
          .write.mode("overwrite").parquet(out)

      //   winnow in out  (per-doc winnowing fingerprints + share counts)
      case "winnow" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val text = opt(rest, "text-column").getOrElse("text")
        val k = opt(rest, "shingle-words").map(_.toInt).getOrElse(3)
        val w = opt(rest, "window").map(_.toInt).getOrElse(4)
        // materialize once: fps feeds BOTH the share-count aggregate and
        // the join probe side — unchecked, the text scan + per-shingle
        // hashing kernel (the dominant cost) would execute twice (the
        // videoNearDups localCheckpoint rationale)
        val fps = spark.read.parquet(in)
          .select(col(id),
            explode(graft.functions.SketchExpressions.winnow(col(text), k, w))
              .as("fp"))
          .localCheckpoint(false)
        val shared = fps.groupBy(col("fp")).agg(count(lit(1)).as("__nd"))
          .filter(col("__nd") >= 2).select(col("fp").as("__sfp"))
        fps.join(shared, col("fp") === col("__sfp"), "left")
          .groupBy(col(id))
          .agg(count(lit(1)).as("n_fp"),
            sum(when(col("__sfp").isNotNull, 1L).otherwise(0L))
              .as("n_shared"))
          .write.mode("overwrite").parquet(out)

      //   decontaminate in eval out  (flag docs sharing shingles with eval)
      case "decontaminate" =>
        import org.apache.spark.sql.functions._
        val Seq(in, eval, out) = rest.take(3)
        val id = opt(rest, "id-column").getOrElse("doc_id")
        val text = opt(rest, "text-column").getOrElse("text")
        val k = opt(rest, "shingle-words").map(_.toInt).getOrElse(4)
        def sh(c: String) =
          graft.functions.SketchExpressions.word_shingles(col(c), k)
        val evalSh = spark.read.parquet(eval)
          .select(explode(sh(text)).as("__sh")).distinct()
        spark.read.parquet(in)
          .select(col(id), explode(sh(text)).as("__sh"))
          .join(broadcast(evalSh), Seq("__sh"))
          .groupBy(col(id)).agg(count(lit(1)).as("n_shared"))
          .write.mode("overwrite").parquet(out)

      //   pii-scrub in out  (redact emails/IPv4s/phones into tokens)
      case "pii-scrub" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val text = opt(rest, "text-column").getOrElse("text")
        spark.read.parquet(in)
          .withColumn(text,
            graft.functions.SketchExpressions.pii_redact(col(text)))
          .write.mode("overwrite").parquet(out)

      //   quality in out  (Gopher-style repetition metrics + flag)
      case "quality" =>
        import org.apache.spark.sql.functions._
        val Seq(in, out) = rest.take(2)
        val text = opt(rest, "text-column").getOrElse("text")
        val maxDup = opt(rest, "max-dup-word").map(_.toDouble).getOrElse(0.6)
        val maxBg = opt(rest, "max-top-bigram").map(_.toDouble).getOrElse(0.05)
        val st = graft.functions.SketchExpressions.rep_stats(col(text))
        val dw = lit(1.0) - col("__st")(1).cast("double") /
          col("__st")(0).cast("double")
        val tb = col("__st")(2).cast("double") /
          (col("__st")(0) - 1).cast("double")
        spark.read.parquet(in)
          .withColumn("__st", st)
          .withColumn("dup_word_frac", round(dw, 6))
          .withColumn("top_bigram_frac",
            when(col("__st")(0) >= 2, round(tb, 6)))
          .withColumn("flagged",
            dw > maxDup || (col("__st")(0) >= 2 && tb > maxBg))
          .drop("__st")
          .write.mode("overwrite").parquet(out)

      //   semdedup in out  (k-means blocked semantic near-dup pairs)
      case "semdedup" =>
        val Seq(in, out) = rest.take(2)
        val id = opt(rest, "id-column").getOrElse("vec_id")
        val vec = opt(rest, "vec-column").getOrElse("embedding")
        val k = opt(rest, "clusters").map(_.toInt).getOrElse(64)
        val thr = opt(rest, "threshold").map(_.toDouble).getOrElse(0.9)
        val df = spark.read.parquet(in)
        val (assigned, _) = graft.ops.KMeans.kmeans(df, vec, id, k,
          iters = opt(rest, "iterations").map(_.toInt).getOrElse(2))
        graft.ops.KMeans.semDedupPairs(assigned, vec, id, thr)
          .write.mode("overwrite").parquet(out)

      //   benchmark suite out.json [--rows N] [--baseline path]
      //   benchmark report baseline.json current.json
      // (reference `gpio benchmark` group, cli/main.py:4448-4643: the §6
      // operation matrix with regression thresholds warn>10% / fail>25%)
      case "benchmark" =>
        import graft.tools.BenchSuite
        rest.head match {
          case "suite" =>
            val out = rest.tail.head
            val rows = opt(rest, "rows").map(_.toInt).getOrElse(100000)
            val ops = BenchSuite.runMatrix(spark, rows)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(out), BenchSuite.toJson(ops))
            opt(rest, "baseline").foreach { b =>
              val base = BenchSuite.parseJson(
                java.nio.file.Files.readString(java.nio.file.Paths.get(b)))
              // a FAIL regression must trip the gate, matching
              // BenchSuite.main's standalone behavior — but via an
              // exception so in-process callers (tests) survive;
              // main() maps it to exit 1
              if (BenchSuite.report(BenchSuite.compare(ops, base.toMap)))
                throw new BenchmarkRegression(
                  "benchmark suite regression: FAIL threshold exceeded")
            }
          case "report" =>
            val Seq(baseline, current) = rest.tail.take(2)
            def load(p: String) = BenchSuite.parseJson(
              java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
            if (BenchSuite.report(
                BenchSuite.compare(load(current), load(baseline).toMap)))
              throw new BenchmarkRegression(
                "benchmark report regression: FAIL threshold exceeded")
          // benchmark compare <input> [--converters a,b] [--iterations n]
          //   [--no-warmup] [--output-json f] — reference `gpio benchmark
          //   compare` (converter race on one file; see
          //   BenchSuite.compareConverters for the backend→format mapping)
          case "compare" =>
            val in = rest.tail.head
            val fmts = opt(rest, "converters")
              .map(_.split(",").map(_.trim).toSeq)
              .getOrElse(Seq("geoparquet", "geojson", "csv", "flatgeobuf"))
            val res = BenchSuite.compareConverters(spark, in, fmts,
              opt(rest, "iterations").map(_.toInt).getOrElse(3),
              warmup = !flag(rest, "no-warmup"))
            opt(rest, "output-json").foreach { o =>
              java.nio.file.Files.writeString(java.nio.file.Paths.get(o),
                res.map { case (f, s, b) =>
                  s""""$f":{"sec":$s,"bytes":$b}""" }.mkString("{", ",", "}"))
            }
          case other => die(s"unknown benchmark mode $other")
        }

      //   pipeline in out  (full curation chain: quality gate -> PII
      //   scrub -> exact dedup -> minhash near-dup clusters ->
      //   decontaminate -> pack; one corpus read — see graft.ops.Pipeline).
      //   --bpe-rounds N switches packing to survivor-trained BPE token
      //   counts (the q80 composition: train on the cleaned corpus, pack
      //   by what the model will consume)
      case "pipeline" =>
        val Seq(in, out) = rest.take(2)
        val cfg = graft.ops.Pipeline.Config(
          minTokens = opt(rest, "min-tokens").map(_.toInt).getOrElse(5),
          maxDupWordFrac =
            opt(rest, "max-dup-word").map(_.toDouble).getOrElse(0.6),
          maxTopBigramFrac =
            opt(rest, "max-top-bigram").map(_.toDouble).getOrElse(0.05),
          nearDupThreshold =
            opt(rest, "threshold").map(_.toDouble).getOrElse(0.8),
          evalMod = opt(rest, "eval-mod").map(_.toLong).getOrElse(50L),
          packCapacity =
            opt(rest, "capacity").map(_.toLong).getOrElse(256L))
        val idC = opt(rest, "id-column").getOrElse("doc_id")
        val txtC = opt(rest, "text-column").getOrElse("text")
        val curated = opt(rest, "bpe-rounds") match {
          case Some(r) => graft.ops.Pipeline.curateBpePack(
            spark.read.parquet(in), idC, txtC, r.toInt, cfg)
          case None => graft.ops.Pipeline.curate(
            spark.read.parquet(in), idC, txtC, cfg)
        }
        curated.write.mode("overwrite").parquet(out)

      case "inspect" =>
        val s = Checks.inspect(rest.head)
        if (flag(rest, "json")) {
          def q(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
          println(s"""{"path":${q(s.path)},"size_bytes":${s.fileSizeBytes},""" +
            s""""rows":${s.rowCount},"row_groups":${s.numRowGroups},""" +
            s""""columns":[${s.columns.map(q).mkString(",")}],""" +
            s""""geoparquet":${s.hasGeoMetadata},""" +
            s""""version":${s.geoVersion.map(q).getOrElse("null")},""" +
            s""""primary_column":${s.primaryColumn.map(q).getOrElse("null")},""" +
            s""""bbox":${s.declaredBbox.map(b => s"[${b._1},${b._2},${b._3},${b._4}]").getOrElse("null")},""" +
            s""""geometry_types":[${s.declaredGeometryTypes.map(q).mkString(",")}]}""")
        } else {
          println(s"path: ${s.path}")
          println(s"size: ${s.fileSizeBytes} bytes  rows: ${s.rowCount}  rowGroups: ${s.numRowGroups}")
          println(s"columns: ${s.columns.mkString(", ")}")
          println(s"geoparquet: ${s.hasGeoMetadata}  version: ${s.geoVersion.getOrElse("-")}")
          println(s"primary: ${s.primaryColumn.getOrElse("-")}  bbox: ${s.declaredBbox.getOrElse("-")}")
          println(s"geometry types: ${s.declaredGeometryTypes.mkString(", ")}")
        }
        // --verbose (reference CHANGELOG Unreleased: `--verbose` on
        // inspect): per part-file rows/row-groups, the physical schema
        // with types, and the footer's key-value metadata keys — all
        // footer-only, still no Spark job
        if (flag(rest, "verbose")) {
          val conf = graft.meta.Footer.newConf()
          val parts = graft.meta.Footer.partFiles(rest.head, conf)
          if (parts.isEmpty)
            throw new CheckFailure(
              s"inspect --verbose: no parquet part files under ${rest.head}")
          // bounded per-part listing (ADVICE r16): a serial footer read
          // per part is a multi-minute stall on 3e4-directory layouts —
          // list the first N (default 20, --parts N) and summarize the
          // rest; the parallel-footer sum keeps the total row count
          // exact without serializing on the driver
          val cap = opt(rest, "parts").map(_.toInt).getOrElse(20)
          val shown = parts.take(cap)
          println(s"part files: ${parts.size}")
          val infos = graft.meta.Footer.readMany(shown, conf)
          shown.zip(infos).foreach { case (p, fi) =>
            println(s"  $p  rows=${fi.rowCount}  rowGroups=${fi.numRowGroups}")
          }
          if (parts.size > cap)
            println(s"  ... ${parts.size - cap} more part files " +
              s"(--parts N to list more)")
          val head = infos.head
          println("schema:")
          head.schemaInfo.foreach { f =>
            val t = f.primitiveType.orElse(f.logicalType)
              .getOrElse(if (f.primitive) "?" else
                f.groupFields.map { case (n, ty) => s"$n:$ty" }
                  .mkString("struct<", ",", ">"))
            println(s"  ${f.name}: $t${if (f.repeated) " (repeated)" else ""}")
          }
          println(s"footer keys: ${head.keyValueMeta.keys.toSeq.sorted.mkString(", ")}")
        }

      case "meta" =>
        // raw `geo` footer JSON (reference `inspect meta`); --stats adds
        // the per-column min/max/null profile
        val p = rest.head
        graft.meta.Footer.firstPartFile(p)
          .flatMap(f => graft.meta.Footer.read(f).geo) match {
          case Some(g) => println(graft.meta.GeoMeta.toJson(g))
          case None => println("{}")
        }
        if (flag(rest, "stats"))
          graft.util.CollectCapped(GeoTable.read(spark, p).stats(), 10000,
            "per-column stats rows").foreach(println)

      // granular check families (reference `check spatial|compression|
      // bbox|row-group|spec` subcommands); bare `check` runs the default
      // structural set; `check --all <path>` / `check <path> --all` runs
      // every family (matched AFTER the named families so their own
      // trailing flags can't hijack the dispatch)
      case "check" if rest.headOption.contains("spatial") =>
        val t = GeoTable.read(spark, rest(1))
        val r = t.checkSpatialOrder()
        println(f"spatial order ratio: $r%.3f (pass < 0.5)")
        // NaN (empty/unmeasurable) passes, consistent with checkAll;
        // failure raises the catchable gate exception (exit 1 in main)
        // instead of sys.exit, which killed in-process callers
        if (r >= 0.5)
          throw new CheckFailure(
            f"spatial order check FAILED: ratio $r%.3f >= 0.5")

      case "check" if rest.headOption.contains("compression") =>
        // --files first|all|sample picks which parts the check reads
        // (reference partition_reader dispatch); default all
        val fs = Checks.checkCompression(Checks.dispatchFiles(rest(1),
          opt(rest, "files").getOrElse("all"),
          opt(rest, "sample-n").map(_.toInt).getOrElse(3)))
        if (fs.isEmpty) println("compression ok (ZSTD)")
        else fs.foreach(f => println(s"[${f.level}] ${f.check}: ${f.message}"))

      case "check" if rest.headOption.contains("bbox") =>
        println(s"bbox structure: ${Checks.checkBboxStructure(rest(1))}")

      case "check" if rest.headOption.contains("row-group") =>
        val fs = Checks.checkRowGroups(Checks.dispatchFiles(rest(1),
          opt(rest, "files").getOrElse("all"),
          opt(rest, "sample-n").map(_.toInt).getOrElse(3)),
          130L * 1024 * 1024)
        if (fs.isEmpty) println("row groups ok")
        else fs.foreach(f => println(s"[${f.level}] ${f.check}: ${f.message}"))

      case "check" if rest.headOption.contains("spec") =>
        val fs = Checks.validate(spark, rest(1))
        if (fs.isEmpty) println("valid GeoParquet")
        else fs.foreach(f => println(s"[${f.level}] ${f.check}: ${f.message}"))

      // `graft check stac <file>` — the reference's `gpio check stac`
      // (`cli/main.py:4300-4331` -> `core/stac_check.py`)
      case "check" if rest.headOption.contains("stac") =>
        val (errs, warns) = graft.sources.Stac.checkFile(rest(1))
        if (errs.isEmpty) println("STAC validation passed")
        errs.foreach(e => println(s"[error] $e"))
        warns.foreach(w => println(s"[warn] $w"))
        if (errs.nonEmpty) die("STAC validation failed")

      case "check" if flag(rest, "all") =>
        // first non-flag argument is the dataset path ("check --all d"
        // and "check d --all" both work; rest.head was "--all" itself
        // in the flag-first form and went to Hadoop as a path)
        val fs = Checks.checkAll(spark,
          rest.find(!_.startsWith("--")).getOrElse(die("check --all: no path")))
        if (fs.isEmpty) println("all checks passed")
        else fs.foreach(f => println(s"[${f.level}] ${f.check}: ${f.message}"))

      case "check" =>
        val p = rest.head
        println(s"bbox structure: ${Checks.checkBboxStructure(p)}")
        (Checks.checkRowGroups(p) ++ Checks.checkCompression(p)).foreach { f =>
          println(s"[${f.level}] ${f.check}: ${f.message}")
        }
        val t = GeoTable.read(spark, p)
        if (t.geometryColumn.isDefined)
          println(f"spatial order ratio: ${t.checkSpatialOrder()}%.3f (pass < 0.5)")

      case "head" | "tail" =>
        // single-file command: partitioned input gets the reference's
        // consolidation hint (`core/partition_reader.py:144-167`)
        Checks.requireSingleFile(rest.head, cmd)
        Checks.preview(spark, rest.head,
          opt(rest, "n").map(_.toInt).getOrElse(5),
          fromTail = cmd == "tail").foreach(println)

      case "validate" =>
        val fs = Checks.validate(spark, rest.head)
        if (fs.isEmpty) println("valid GeoParquet")
        else fs.foreach(f => println(s"[${f.level}] ${f.check}: ${f.message}"))

      case "fix" =>
        val Seq(in, out) = rest.take(2)
        println("applied: " + Checks.fix(spark, in, out).mkString(", "))

      case "stac-item" =>
        val itemJson = graft.sources.Stac.item(rest.head,
          opt(rest, "id").getOrElse("item"),
          opt(rest, "href").getOrElse(rest.head))
        println(itemJson)
        // --verbose (reference CHANGELOG Unreleased: `--verbose` on
        // publish): run the validator over the item just emitted and
        // report to STDERR so the stdout JSON contract is untouched
        if (flag(rest, "verbose")) {
          val findings = graft.sources.Stac.validateItem(itemJson)
          // Console.err (not System.err) so in-process callers/tests can
          // redirect it; main() wires Console.err to the real stderr
          if (findings.isEmpty) Console.err.println("stac item: valid")
          else findings.foreach(f => Console.err.println(s"stac item: $f"))
        }

      // `graft extract-arcgis <serviceUrl> <out> [--where ...] [--bbox
      // x0,y0,x1,y1] [--fields a,b] [--page-size N] [--max-features N]`
      // — the reference's `gpio extract arcgis` (`cli/main.py:2175`);
      // a file: service URL replays a captured page offline
      case "extract-arcgis" =>
        val Seq(url, out) = rest.take(2)
        val q = graft.sources.ArcGis.Query(
          where = opt(rest, "where").getOrElse("1=1"),
          outFields = opt(rest, "fields").map(_.split(",").toSeq)
            .getOrElse(Seq("*")),
          bbox = opt(rest, "bbox").map { b =>
            val Array(x0, y0, x1, y1) = b.split(",").map(_.toDouble)
            (x0, y0, x1, y1)
          },
          pageSize = opt(rest, "page-size").map(_.toInt).getOrElse(1000),
          maxFeatures = opt(rest, "max-features").map(_.toInt))
        graft.sources.ArcGis.read(spark, url, q).write(out)

      // `graft upload <src> <dest> [--pattern glob]` — the reference's
      // `gpio publish upload` (`cli/main.py:4206-4297`): local file or
      // directory to object storage through dest's Hadoop FileSystem
      case "upload" =>
        val Seq(src, dest) = rest.take(2)
        val n = GeoTable.uploadTree(spark, src, dest, opt(rest, "pattern"))
        println(s"uploaded $n file(s) to $dest")

      case other => die(s"unknown command $other\n$usage")
    }
  }

  private def die(msg: String): Nothing =
    throw new CliUsageError(msg)

  private val usage =
    """usage: graft <command> [args]
      |commands: extract, add {bbox|quadkey|kdtree|h3|admin-divisions},
      |  sort {hilbert|quadkey|column}, head, tail, reproject,
      |  partition {string|quadkey|kdtree|h3|admin|country},
      |  convert (.geojson/.csv/.tsv/.shp/.gpkg/.fgb inputs),
      |  to {geojson|csv|shapefile|gpkg|fgb|fc|jsonl}, from-jsonl,
      |  gopher-gate [--keep-only],
      |  dedup {exact|minhash|simhash|ngram|embedding|cluster|cross|bloom|phash|audio|video},
      |  split, pack, shuffle, chunk, blocklist, project, winnow,
      |  percentiles --value-column v [--ps 50,90,99],
      |  bpe-train, logreg-train, nb-score, overlap, cms-topk,
      |  bm25 --terms w1,w2, shard-manifest, zipf-stats,
      |  embed-outliers, source-gate, term-drift, span-scrub,
      |  hard-negatives, balance-chi2, hll-distinct, domain-cap,
      |  embed-decontam, funnel --steps a,b,c, retention, transitions,
      |  anomaly-report, spans [--min-span N], compact [--target-bytes N],
      |  scrub-blocks,
      |  audio-gate [--keep-only], nfc-normalize, video-frames,
      |  scene-changes [--threshold N],
      |  strip-boilerplate, pca [--abtt],
      |  decontaminate, pii-scrub, quality, semdedup, pipeline,
      |  benchmark {suite|report}, inspect, meta [--stats],
      |  check [--all|spec|stac|...], validate, fix, stac-item,
      |  add bbox-metadata <file>, extract-arcgis <url> <out>,
      |  set-version <path> <1.0|1.1|2.0|parquet-geo-only>,
      |  upload <src> <dest> [--pattern glob]
      |global: --explain prints the formatted Spark plan of every action
      |        the command runs; --verbose adds footer/schema detail on
      |        inspect and validator output on stac-item""".stripMargin
}
