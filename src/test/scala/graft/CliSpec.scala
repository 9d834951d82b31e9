package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.cli.Main
import graft.functions.geo
import graft.table.GeoTable

/** CLI command chain — the reference's flagship quick-start pipeline
  * (convert -> add bbox -> sort hilbert -> extract -> inspect).
  */
class CliSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_cli_$name").toString

  test("flagship CLI chain: convert csv -> extract -> to geojson") {
    val dir = tmp("chain")
    // input CSV
    val csv = new StringBuilder("id,wkt\n")
    (0 until 200).foreach { i =>
      csv.append(s"$i,POINT (${i % 90} ${i % 45})\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      csv.toString)

    // convert applies hilbert + bbox by default (reference CLI semantic)
    Main.run(spark, Seq("convert", s"$dir/in.csv", s"$dir/a.parquet",
      "--wkt-column", "wkt"))
    val a = GeoTable.read(spark, s"$dir/a.parquet")
    assert(a.count() == 200)
    assert(a.meta.primary.get.coveringBbox.contains("bbox"))
    assert(a.checkSpatialOrder() < 0.5) // hilbert applied

    Main.run(spark, Seq("extract", s"$dir/a.parquet", s"$dir/b.parquet",
      "--bbox", "0,0,40,40", "--columns", "id", "--limit", "50"))
    val b = GeoTable.read(spark, s"$dir/b.parquet")
    assert(b.count() <= 50 && b.count() > 0)
    assert(b.df.columns.toSet == Set("id", "geometry", "bbox"))

    Main.run(spark, Seq("to", "geojson", s"$dir/b.parquet", s"$dir/gj",
      "--precision", "3"))
    assert(spark.read.text(s"$dir/gj").count() == b.count())

    Main.run(spark, Seq("add", "quadkey", s"$dir/a.parquet", s"$dir/q.parquet",
      "--zoom", "6"))
    val q = GeoTable.read(spark, s"$dir/q.parquet")
    assert(q.df.columns.contains("quadkey"))

    // --skip-hilbert skips ONLY the sort — the 1.x bbox covering stays
    Main.run(spark, Seq("convert", s"$dir/in.csv", s"$dir/nh.parquet",
      "--wkt-column", "wkt", "--skip-hilbert"))
    val nh = GeoTable.read(spark, s"$dir/nh.parquet")
    assert(nh.df.columns.contains("bbox") &&
      nh.meta.primary.get.coveringBbox.contains("bbox"),
      "--skip-hilbert must not drop the bbox covering")

    // convert straight to 2.0: no bbox column, native geo type footer
    Main.run(spark, Seq("convert", s"$dir/in.csv", s"$dir/v2.parquet",
      "--wkt-column", "wkt", "--geoparquet-version", "2.0"))
    val v2part = graft.meta.Footer.partFiles(s"$dir/v2.parquet",
      new org.apache.hadoop.conf.Configuration()).head
    assert(graft.meta.Footer.detectFileType(v2part) == "geoparquet2")
    val v2 = GeoTable.readNativeGeo(spark, s"$dir/v2.parquet")
    assert(v2.count() == 200 && !v2.df.columns.contains("bbox"))

    // in-place version conversion of an existing dataset
    Main.run(spark, Seq("set-version", s"$dir/v2.parquet", "1.1"))
    assert(graft.meta.Footer.detectFileType(v2part) == "geoparquet")
    assert(GeoTable.read(spark, s"$dir/v2.parquet").count() == 200)

    Main.run(spark, Seq("reproject", s"$dir/a.parquet", s"$dir/m.parquet",
      "--from", "EPSG:4326", "--to", "EPSG:3857"))
    val m = GeoTable.read(spark, s"$dir/m.parquet")
    val mx = m.df.select(max(geo.st_x(col("geometry")))).head().getDouble(0)
    assert(mx > 180.0) // meters now, not degrees
  }

  test("granular check subcommands and json inspect run clean") {
    val dir = tmp("checks")
    val df = spark.range(0, 300).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
    GeoTable.fromDataFrame(df, "geometry").addBbox().sortHilbert()
      .write(s"$dir/d.parquet", compression = "zstd")
    // each family individually (all should pass on this clean write)
    Main.run(spark, Seq("check", "spatial", s"$dir/d.parquet"))
    Main.run(spark, Seq("check", "compression", s"$dir/d.parquet"))
    Main.run(spark, Seq("check", "bbox", s"$dir/d.parquet"))
    Main.run(spark, Seq("check", "row-group", s"$dir/d.parquet"))
    Main.run(spark, Seq("check", "spec", s"$dir/d.parquet"))
    Main.run(spark, Seq("inspect", s"$dir/d.parquet", "--json"))
    Main.run(spark, Seq("meta", s"$dir/d.parquet"))
  }

  test("sortHilbert keeps AQE coalescing: the 300-row fixture writes no " +
      "more files than the global orderBy it replaced") {
    val dir = tmp("coalesce")
    val df = spark.range(0, 300).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
    val t = GeoTable.fromDataFrame(df, "geometry").addBbox()
    t.sortHilbert().write(s"$dir/sketch.parquet", compression = "zstd")
    val (x0, y0, x1, y1) = t.bounds()
    t.copy(df = t.df.orderBy(geo.hilbert_index(col("geometry"), x0, y0, x1, y1)))
      .write(s"$dir/orderby.parquet", compression = "zstd")
    def files(p: String): Int =
      graft.meta.Footer.partFiles(p, new org.apache.hadoop.conf.Configuration()).size
    assert(files(s"$dir/sketch.parquet") <= files(s"$dir/orderby.parquet"))
    assert(files(s"$dir/sketch.parquet") == 1)
  }

  test("--explain prints the formatted Spark plan of the staged action " +
      "(r15 #7)") {
    val dir = tmp("explain")
    val df = spark.range(0, 100).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
    GeoTable.fromDataFrame(df, "geometry").write(s"$dir/in.parquet")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Seq("extract", s"$dir/in.parquet",
        s"$dir/out.parquet", "--limit", "10", "--explain"))
    }
    val printed = out.toString
    assert(printed.contains("== graft --explain:"),
      s"no explain header in:\n$printed")
    assert(printed.contains("Physical Plan") ||
      printed.contains("WholeStageCodegen") || printed.contains("(1) "),
      s"no formatted plan body in:\n$printed")
    // the command itself still ran
    assert(spark.read.parquet(s"$dir/out.parquet").count() == 10)
    // and the listener is gone: a later command prints no plans
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      Main.run(spark, Seq("inspect", s"$dir/out.parquet"))
    }
    assert(!out2.toString.contains("== graft --explain:"),
      "explain listener leaked into a later command")
  }

  test("extract --intersects pushes the four covering comparisons to the " +
      "Parquet scan") {
    val dir = tmp("intersects")
    val df = spark.range(0, 100).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
    GeoTable.fromDataFrame(df, "geometry").addBbox().write(s"$dir/in.parquet")
    // a fresh session: the shared one may already carry the rule
    val session = spark.newSession()
    assert(!session.experimental.extraOptimizations
      .contains(graft.plans.BboxPushdownRule))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(session, Seq("extract", s"$dir/in.parquet", s"$dir/out.parquet",
        "--intersects", "POLYGON ((1.25 2.5, 30.75 2.5, 30.75 40.5, 1.25 40.5, 1.25 2.5))",
        "--explain"))
    }
    val pushed = out.toString.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    for (c <- Seq("GreaterThanOrEqual(bbox.xmax,1.25)", "LessThanOrEqual(bbox.xmin,30.75)",
        "GreaterThanOrEqual(bbox.ymax,2.5)", "LessThanOrEqual(bbox.ymin,40.5)"))
      assert(pushed.contains(c), s"$c not pushed:\n$out")
    val want = df.filter(col("id") % 90 >= 1.25 && col("id") % 90 <= 30.75 &&
      col("id") % 45 >= 2.5 && col("id") % 45 <= 40.5).count()
    assert(spark.read.parquet(s"$dir/out.parquet").count() == want)
  }

  test("--verbose on inspect adds footer detail; on stac-item runs the " +
      "validator (r15 #7)") {
    val dir = tmp("verbose")
    val df = spark.range(0, 50).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
    GeoTable.fromDataFrame(df, "geometry").addBbox()
      .write(s"$dir/d.parquet")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Seq("inspect", s"$dir/d.parquet", "--verbose"))
    }
    val printed = out.toString
    assert(printed.contains("part files:"), printed)
    assert(printed.contains("schema:"), printed)
    assert(printed.contains("footer keys:") && printed.contains("geo"),
      printed)
    // stac-item --verbose: stdout stays the bare item JSON, validator
    // findings go to stderr
    val o = new java.io.ByteArrayOutputStream()
    val e = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(o)) {
      Console.withErr(new java.io.PrintStream(e)) {
        Main.run(spark, Seq("stac-item", s"$dir/d.parquet",
          "--id", "x", "--verbose"))
      }
    }
    assert(o.toString.trim.startsWith("{"), o.toString)
    assert(e.toString.contains("stac item:"), e.toString)
  }

  test("progress messages on add h3/quadkey + sort column; --aws-profile " +
      "gated to remote commands (ref CHANGELOG Unreleased)") {
    val dir = tmp("progress")
    val df = spark.range(0, 30).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
    GeoTable.fromDataFrame(df, "geometry").write(s"$dir/in.parquet")
    def errOf(cmd: Seq[String]): String = {
      val e = new java.io.ByteArrayOutputStream()
      Console.withErr(new java.io.PrintStream(e)) { Main.run(spark, cmd) }
      e.toString
    }
    assert(errOf(Seq("add", "h3", s"$dir/in.parquet", s"$dir/h3.parquet",
      "--resolution", "5")).contains("Adding H3 column..."))
    assert(errOf(Seq("add", "quadkey", s"$dir/in.parquet",
      s"$dir/qk.parquet")).contains("Adding quadkey column..."))
    assert(errOf(Seq("sort", "column", s"$dir/in.parquet",
      s"$dir/s.parquet", "--columns", "id")).contains("Sorting by id..."))
    // --aws-profile on a local command: loud refusal (the reference
    // REMOVED the profile flag from local operations)
    val e = intercept[Exception] {
      Main.run(spark, Seq("add", "bbox", s"$dir/in.parquet",
        s"$dir/b.parquet", "--aws-profile", "prod"))
    }
    assert(e.getMessage.contains("aws-profile"), e.getMessage)
    // on a remote-touching command the flag parses, sets the SDK
    // property, and is stripped before dispatch (upload to file:// dest)
    System.clearProperty("aws.profile")
    Main.run(spark, Seq("upload", s"$dir/in.parquet",
      s"file://$dir/up/one.parquet", "--aws-profile", "prod"))
    assert(System.getProperty("aws.profile") == "prod")
    System.clearProperty("aws.profile")
  }

  test("dedup --report-recall prints the cap's recall bound row " +
      "(r16 #5)") {
    val dir = tmp("recall_cli")
    // near-dup corpus: 40 docs in 8 ngram classes, one token perturbed
    val docs = spark.range(0, 40).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        (0 to 11).map(j => concat(lit(s"tok$j"), col("doc_id") % 8)): _*))
    docs.write.parquet(s"$dir/docs.parquet")
    // reference pairs: same-class neighbors
    spark.range(0, 32).toDF("id_a")
      .withColumn("id_b", col("id_a") + 8)
      .write.parquet(s"$dir/refs.parquet")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Seq("dedup", "ngram", s"$dir/docs.parquet",
        s"$dir/pairs.parquet", "--report-recall", s"$dir/refs.parquet"))
    }
    val line = out.toString.linesIterator
      .find(_.startsWith("recall report:"))
    assert(line.isDefined, s"no recall report line in:\n$out")
    assert(line.get.contains("n_ref=32"), line.get)
    // uncapped corpus: every same-class pair shares all its grams ->
    // every reference pair detectable
    assert(line.get.contains("recall_bound=1.0000"), line.get)
    // non-capped modes refuse rather than silently ignore the flag
    val e = intercept[Exception] {
      Main.run(spark, Seq("dedup", "exact", s"$dir/docs.parquet",
        s"$dir/x.parquet", "--report-recall", s"$dir/refs.parquet"))
    }
    assert(e.getMessage.contains("report-recall"), e.getMessage)
  }

  test("inspect --verbose bounds the per-part listing and fails loud on " +
      "an empty tree (ADVICE r16)") {
    val dir = tmp("verbose_bound")
    val df = spark.range(0, 120).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
      .repartition(6)
    GeoTable.fromDataFrame(df, "geometry").write(s"$dir/many.parquet")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Seq("inspect", s"$dir/many.parquet", "--verbose",
        "--parts", "2"))
    }
    val printed = out.toString
    assert(printed.contains("part files: 6"), printed)
    assert(printed.contains("... 4 more part files"), printed)
    // only the capped 2 parts got per-file lines
    assert(printed.linesIterator.count(_.contains("rowGroups=")) == 2,
      printed)
    // empty tree: a readable gate failure, not NoSuchElementException
    val empty = tmp("verbose_empty")
    val err = intercept[Exception] {
      Main.run(spark, Seq("inspect", empty, "--verbose"))
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("no parquet part files"),
      s"${err.getClass}: ${err.getMessage}")
  }

  test("check dispatch hardening (r12): --all flag-first, spatial " +
      "failure raises CheckFailure, --files dispatch modes") {
    val dir = tmp("dispatch")
    val df = spark.range(0, 300).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
    GeoTable.fromDataFrame(df, "geometry").addBbox().sortHilbert()
      .write(s"$dir/d.parquet", compression = "zstd")
    // flag BEFORE the path used to send "--all" to Hadoop as the path
    Main.run(spark, Seq("check", "--all", s"$dir/d.parquet"))
    Main.run(spark, Seq("check", s"$dir/d.parquet", "--all"))
    // `check spec <path> --all` must run the SPEC family, not hijack
    Main.run(spark, Seq("check", "spec", s"$dir/d.parquet", "--all"))
    // a poorly-ordered dataset fails `check spatial` with the catchable
    // gate exception, not sys.exit (which killed the test JVM)
    val bad = tmp("unordered")
    val shuffled = spark.range(0, 4000).toDF("id")
      .withColumn("k", expr("hash(id)"))
      .orderBy(col("k"))
      .withColumn("geometry", geo.st_point(col("id") % 180 - 90,
        (col("id") * 7) % 90 - 45))
      .drop("k")
    GeoTable.fromDataFrame(shuffled, "geometry").write(s"$bad/u.parquet")
    intercept[Main.CheckFailure] {
      Main.run(spark, Seq("check", "spatial", s"$bad/u.parquet"))
    }
    // --files dispatch: sample/first/all all run; bad mode dies loudly
    Main.run(spark, Seq("check", "row-group", s"$dir/d.parquet",
      "--files", "sample", "--sample-n", "2"))
    Main.run(spark, Seq("check", "compression", s"$dir/d.parquet",
      "--files", "first"))
    assert(graft.checks.Checks.dispatchFiles(s"$dir/d.parquet", "first")
      .size == 1)
    intercept[IllegalArgumentException] {
      graft.checks.Checks.dispatchFiles(s"$dir/d.parquet", "sample", 0)
    }
  }

  test("blocklist phrases with messy whitespace still match (r12)") {
    val dir = tmp("bl")
    Seq((1L, "Click  HERE to win"), (2L, "plain text"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs.parquet")
    // phrase carries a double space + trailing newline — the document
    // text is whitespace-squeezed, so the phrase must be too
    Seq("click  here\n").toDF("phrase").write.parquet(s"$dir/ph.parquet")
    Main.run(spark, Seq("blocklist", s"$dir/docs.parquet",
      s"$dir/ph.parquet", s"$dir/out.parquet"))
    val out = spark.read.parquet(s"$dir/out.parquet").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L, s"normalized phrase must match: $out")
    assert(out(2L) == 0L)
  }

  test("dedup / split / to fc pipeline commands run end to end") {
    import spark.implicits._
    val dir = tmp("pipeline")
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), // exact dups
      (3L, base.replace("token7", "changed")), // near dup
      (4L, (100 to 140).map(i => s"word$i").mkString(" "))
    ).toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs.parquet")

    Main.run(spark, Seq("dedup", "exact", s"$dir/docs.parquet",
      s"$dir/exact.parquet"))
    assert(spark.read.parquet(s"$dir/exact.parquet").count() == 3)

    Main.run(spark, Seq("dedup", "minhash", s"$dir/docs.parquet",
      s"$dir/mh.parquet", "--threshold", "0.5"))
    val pairs = spark.read.parquet(s"$dir/mh.parquet")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))

    Main.run(spark, Seq("dedup", "cluster", s"$dir/docs.parquet",
      s"$dir/cl.parquet", "--threshold", "0.5"))
    val labels = spark.read.parquet(s"$dir/cl.parquet").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(2L) == 1L && labels(3L) == 1L)

    // incremental ingestion: docs 1-2 are the accepted corpus; the
    // incoming batch repeats doc 1's payload (dup_of_base), brings a new
    // payload twice (kept + dup_in_batch)
    docs.filter($"doc_id" <= 2).write.parquet(s"$dir/accepted.parquet")
    Seq((10L, base), (11L, "fresh payload"), (12L, "fresh payload"))
      .toDF("doc_id", "text").write.parquet(s"$dir/incoming.parquet")
    Main.run(spark, Seq("dedup", "cross", s"$dir/accepted.parquet",
      s"$dir/incoming.parquet", s"$dir/xd.parquet"))
    val statuses = spark.read.parquet(s"$dir/xd.parquet").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(statuses == Map(10L -> "dup_of_base", 11L -> "kept",
      12L -> "dup_in_batch"))

    // bloom variant of the same ingestion: statuses collapse to
    // {dup_of_base, new} (no within-batch pass) and every true dup
    // carries bloom_hit=true (no false negatives)
    Main.run(spark, Seq("dedup", "bloom", s"$dir/accepted.parquet",
      s"$dir/incoming.parquet", s"$dir/bd.parquet", "--m-bits", "4096"))
    val bd = spark.read.parquet(s"$dir/bd.parquet").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(bd(10L) == ((true, "dup_of_base")))
    assert(bd(11L)._2 == "new" && bd(12L)._2 == "new")

    // perceptual-hash near-dup over real PNG payloads: ids 0-9 across
    // 2 image classes (q175 fixture) — same-class pairs surface with
    // small hamming, cross-class pairs don't
    graft.ops.Multimodal.withSyntheticClassPng(
        spark.range(0, 10).toDF("doc_id"), "doc_id", classes = 2)
      .write.parquet(s"$dir/media.parquet")
    Main.run(spark, Seq("dedup", "phash", s"$dir/media.parquet",
      s"$dir/ph.parquet"))
    val ph = spark.read.parquet(s"$dir/ph.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ph.contains((0L, 2L)) && ph.contains((1L, 3L)), s"got $ph")
    assert(!ph.exists { case (a, b) => a % 2 != b % 2 }, s"cross-class: $ph")

    // BPE merge learning: the toy corpus' dominant token40-ish chars
    // produce a deterministic 4-round merge table
    Main.run(spark, Seq("bpe-train", s"$dir/docs.parquet",
      s"$dir/bpe.parquet", "--rounds", "4"))
    val bpe = spark.read.parquet(s"$dir/bpe.parquet")
    assert(bpe.count() == 4)
    assert(bpe.columns.toSeq ==
      Seq("merge_rank", "lhs", "rhs", "merged", "weight"))

    // sub-document scrub: docs 1-2 share the whole payload -> doc 2
    // (and 3, the near-dup differs within the block) lose blocks
    Main.run(spark, Seq("scrub-blocks", s"$dir/docs.parquet",
      s"$dir/scrub.parquet", "--block-tokens", "10"))
    val sc = spark.read.parquet(s"$dir/scrub.parquet")
    assert(sc.count() == 4)
    val scrub = sc.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scrub(1L)._2 == scrub(1L)._1)   // first copy keeps all blocks
    assert(scrub(2L)._2 == 0L)             // exact dup loses every block

    // classifier training on a labeled toy corpus: full weight table out
    docs.withColumn("lang",
        when($"doc_id" <= 2, "en").otherwise("fr"))
      .write.parquet(s"$dir/labeled.parquet")
    Main.run(spark, Seq("logreg-train", s"$dir/labeled.parquet",
      s"$dir/lr.parquet", "--dims", "64", "--iters", "2"))
    val lr = spark.read.parquet(s"$dir/lr.parquet")
    assert(lr.count() == 65)
    assert(lr.columns.toSeq == Seq("f", "weight_micro"))

    Main.run(spark, Seq("split", s"$dir/docs.parquet", s"$dir/sp.parquet"))
    val sp = spark.read.parquet(s"$dir/sp.parquet")
    assert(sp.columns.contains("split"))
    assert(sp.select("split").distinct().collect()
      .map(_.getString(0)).forall(Set("train", "validation", "test")))

    // single-file FeatureCollection through the CLI
    val pts = (0 until 20).map(i => (i.toLong, i.toDouble, (i % 10).toDouble))
      .toDF("id", "x", "y")
      .withColumn("geometry", graft.functions.geo.st_point(col("x"), col("y")))
    GeoTable.fromDataFrame(pts, "geometry").write(s"$dir/pts.parquet")
    Main.run(spark, Seq("to", "fc", s"$dir/pts.parquet", s"$dir/out.json",
      "--precision", "6"))
    val fc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out.json")))
    assert(fc.startsWith("""{"type":"FeatureCollection""""))
    assert(fc.endsWith("]}"))
  }

  test("training-pipeline commands: pack, decontaminate, pii-scrub, " +
      "quality, semdedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("pipeline2")
    val docs = (0L until 60L).map { i =>
      (i, (0 until 20).map(j => s"w${(i * 7 + j) % 40}").mkString(" ") +
        (if (i % 9 == 0) " mail me x@y.zz at 10.1.2.3" else ""))
    }.toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs.parquet")

    Main.run(spark, Seq("pack", s"$dir/docs.parquet", s"$dir/packed.parquet",
      "--capacity", "100"))
    val packed = spark.read.parquet(s"$dir/packed.parquet")
    assert(packed.columns.contains("pack_id"))
    // 60 docs x ~20-27 tokens at capacity 100 -> >1 pack, all docs kept
    assert(packed.count() == 60)
    assert(packed.select("pack_id").distinct().count() > 1)

    // eval set = first 3 docs; doc 0's shingles overlap doc 0 only (texts
    // are stride-disjoint), so decontamination flags exactly the overlap
    docs.filter($"doc_id" < 3).write.parquet(s"$dir/eval.parquet")
    Main.run(spark, Seq("decontaminate", s"$dir/docs.parquet",
      s"$dir/eval.parquet", s"$dir/decon.parquet"))
    val flagged = spark.read.parquet(s"$dir/decon.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged.contains(0L) && flagged.contains(1L) && flagged.contains(2L))

    Main.run(spark, Seq("pii-scrub", s"$dir/docs.parquet",
      s"$dir/scrubbed.parquet"))
    val scrubbed = spark.read.parquet(s"$dir/scrubbed.parquet")
    assert(scrubbed.filter($"text".contains("x@y.zz")).count() == 0)
    assert(scrubbed.filter($"text".contains("<EMAIL>")).count() == 7)

    Main.run(spark, Seq("quality", s"$dir/docs.parquet",
      s"$dir/quality.parquet"))
    val q = spark.read.parquet(s"$dir/quality.parquet")
    assert(q.columns.toSet.intersect(
      Set("dup_word_frac", "top_bigram_frac", "flagged")).size == 3)
    assert(q.count() == 60)

    val vecs = (0L until 30L).map { i =>
      val v = Array.fill(8)(0.01f); v((i % 4).toInt * 2) = 1f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    vecs.write.parquet(s"$dir/vecs.parquet")
    Main.run(spark, Seq("semdedup", s"$dir/vecs.parquet",
      s"$dir/sd.parquet", "--clusters", "4", "--threshold", "0.99"))
    val sd = spark.read.parquet(s"$dir/sd.parquet")
    // vectors sharing an axis are near-identical -> pairs exist, and
    // every reported pair really is same-cluster + above threshold
    assert(sd.count() > 0)
    assert(sd.filter($"cosine" < 0.99).count() == 0)
  }

  test("nb-score and overlap commands run end-to-end") {
    import spark.implicits._
    val dir = tmp("nbov")
    val docs = ((0 until 40).map(i => (i.toLong, s"good clean text $i", "en")) ++
      (40 until 80).map(i => (i.toLong, s"ruido basura $i", "es")))
      .toDF("doc_id", "text", "lang")
    docs.write.parquet(s"$dir/docs.parquet")
    Main.run(spark, Seq("nb-score", s"$dir/docs.parquet",
      s"$dir/scored.parquet", "--dims", "64"))
    val scored = spark.read.parquet(s"$dir/scored.parquet")
    assert(scored.count() == 80)
    assert(scored.filter($"pred_en").count() == 40)

    docs.filter($"doc_id" < 60).write.parquet(s"$dir/a.parquet")
    docs.filter($"doc_id" >= 20).write.parquet(s"$dir/b.parquet")
    Main.run(spark, Seq("overlap", s"$dir/a.parquet", s"$dir/b.parquet",
      s"$dir/ov.parquet", "--k", "32"))
    val ov = spark.read.parquet(s"$dir/ov.parquet").collect()(0)
    // 80 distinct texts, 40 shared (ids 20..59): exact jaccard 0.5
    assert(ov.getAs[Long]("exact_union") == 80)
    assert(math.abs(ov.getAs[Double]("exact_jaccard") - 0.5) < 1e-6)
    assert(ov.getAs[Long]("sketch_size") == 32)
  }

  test("strip-boilerplate and pca commands run end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("bppca")
    val boiler = (1 to 10).map(i => s"t$i").mkString(" ")
    (0L until 6L).map(i => (i, if (i < 3) s"$boiler tail$i" else s"rare text $i"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs.parquet")
    Main.run(spark, Seq("strip-boilerplate", s"$dir/docs.parquet",
      s"$dir/bp.parquet", "--block-tokens", "10", "--min-df", "3"))
    val bp = spark.read.parquet(s"$dir/bp.parquet")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((0L until 3L).forall(bp(_) == 1L)) // boiler block stripped
    assert((3L until 6L).forall(bp(_) == 1L))

    val rnd = new scala.util.Random(3)
    (0L until 50L).map { i =>
      val v = Array.fill(8)((rnd.nextFloat() - 0.5f) * 0.1f)
      v(2) = (if (i % 2 == 0) 1.0f else -1.0f) * (0.6f + rnd.nextFloat())
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .write.parquet(s"$dir/emb.parquet")
    Main.run(spark, Seq("pca", s"$dir/emb.parquet", s"$dir/pc.parquet",
      "--dims", "8", "--iters", "16"))
    val pc = spark.read.parquet(s"$dir/pc.parquet")
    assert(pc.count() == 50)
    assert(pc.columns.toSeq == Seq("vec_id", "pc1_fixed"))
    Main.run(spark, Seq("pca", s"$dir/emb.parquet", s"$dir/ab.parquet",
      "--dims", "8", "--iters", "16", "--abtt"))
    val ab = spark.read.parquet(s"$dir/ab.parquet")
    assert(ab.columns.toSeq == Seq("vec_id", "pc1_centered", "resid_norm2"))
    // removal shrinks the planted direction: residual energy well below
    // the centered projection energy for every vector
    assert(ab.filter($"resid_norm2".cast("double") >
      $"pc1_centered".cast("double") * $"pc1_centered".cast("double")
        / lit(1e12)).count() == 0)
  }

  test("training-prep commands: shuffle, chunk, blocklist, project, winnow") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("prep")
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = (0L until 40L).map { i =>
      val base = (0 until 30).map(j => s"w${(i * 11 + j) % 97}").mkString(" ")
      (i, if (i % 10 == 0) s"$base $shared" else base)
    }.toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs.parquet")

    Main.run(spark, Seq("shuffle", s"$dir/docs.parquet",
      s"$dir/shuffled.parquet", "--seed", "42"))
    val sh = spark.read.parquet(s"$dir/shuffled.parquet")
    assert(sh.columns.toSet == Set("doc_id", "text", "pos"))
    // exact permutation 1..n, and not the identity order
    assert(sh.select("pos").as[Long].collect().sorted.toSeq == (1L to 40L))
    assert(sh.orderBy("pos").select("doc_id").as[Long].collect().toSeq
      != (0L until 40L))

    Main.run(spark, Seq("chunk", s"$dir/docs.parquet",
      s"$dir/chunked.parquet", "--size", "16", "--stride", "12"))
    val ch = spark.read.parquet(s"$dir/chunked.parquet")
    assert(ch.columns.toSet == Set("doc_id", "text", "chunk_id"))
    // 30-36 tokens at size 16 / stride 12 -> ceil((n-4)/12) in {3, 4}
    val perDoc = ch.groupBy("doc_id").count()
    assert(perDoc.filter($"count" < 3 || $"count" > 4).count() == 0)
    // chunks cover the document: token multiset size >= original count
    val tokCount = ch.filter($"doc_id" === 0)
      .select(explode(split($"text", " "))).count()
    assert(tokCount >= 30)

    Seq("alpha beta gamma", "zzz qqq").toDF("phrase")
      .write.parquet(s"$dir/phrases.parquet")
    Main.run(spark, Seq("blocklist", s"$dir/docs.parquet",
      s"$dir/phrases.parquet", s"$dir/bl.parquet"))
    val bl = spark.read.parquet(s"$dir/bl.parquet")
    assert(bl.count() == 40) // left join: every doc reported
    assert(bl.filter($"n_banned" === 1).count() == 4) // docs 0,10,20,30
    assert(bl.filter($"n_banned" === 0).count() == 36)

    val vecs = (0L until 20L).map { i =>
      (i, Array.tabulate(64)(j => ((i + j) % 7).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    vecs.write.parquet(s"$dir/vecs.parquet")
    Main.run(spark, Seq("project", s"$dir/vecs.parquet",
      s"$dir/proj.parquet", "--dims", "8"))
    val pr = spark.read.parquet(s"$dir/proj.parquet")
    assert(pr.columns.contains("embedding_proj"))
    assert(pr.select(size($"embedding_proj")).as[Int].collect().forall(_ == 8))

    Main.run(spark, Seq("winnow", s"$dir/docs.parquet",
      s"$dir/winnow.parquet"))
    val wn = spark.read.parquet(s"$dir/winnow.parquet")
    assert(wn.columns.toSet == Set("doc_id", "n_fp", "n_shared"))
    // the four docs sharing the 6-word passage share >= 1 fingerprint
    val sharers = wn.filter($"n_shared" > 0)
      .select("doc_id").as[Long].collect().toSet
    assert(Set(0L, 10L, 20L, 30L).subsetOf(sharers))
  }

  test("cms-topk and bm25 commands: certified sketch + ranking end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("cmsbm25")
    val docs = (0L until 60L).map { i =>
      val tail = (0 until 20).map(j => s"w${(i * 13 + j) % 83}").mkString(" ")
      // "apple" rides in every doc, "banana" in every third
      (i, s"apple ${if (i % 3 == 0) "banana " else ""}$tail")
    }.toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs.parquet")

    Main.run(spark, Seq("cms-topk", s"$dir/docs.parquet",
      s"$dir/cms.parquet", "--width", "256", "--depth", "4", "--top", "10"))
    val cms = spark.read.parquet(s"$dir/cms.parquet")
    assert(cms.columns.toSet ==
      Set("term", "exact_cnt", "cms_est", "overcount"))
    assert(cms.count() == 10)
    // CMS never underestimates, and the unambiguous heaviest term is exact
    assert(cms.filter($"overcount" < 0).count() == 0)
    val apple = cms.filter($"term" === "apple").collect()(0)
    assert(apple.getAs[Long]("exact_cnt") == 60L)

    Main.run(spark, Seq("bm25", s"$dir/docs.parquet",
      s"$dir/bm25.parquet", "--terms", "banana,apple", "--top", "15"))
    val bm = spark.read.parquet(s"$dir/bm25.parquet")
    assert(bm.columns.toSet == Set("doc_id", "dl", "score"))
    assert(bm.count() == 15)
    // banana docs carry the rarer term -> they fill the top ranks
    val top = bm.orderBy($"score".desc).limit(15)
      .select("doc_id").as[Long].collect()
    assert(top.forall(_ % 3 == 0), s"non-banana doc in top-15: ${top.toSeq}")
  }

  test("shard-manifest, zipf-stats and embed-outliers commands end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("shardzipf")
    val docs = (0L until 80L).map { i =>
      (i, (0 until 30).map(j => s"tok${(i * 7 + j * j) % 50}").mkString(" "))
    }.toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs.parquet")

    Main.run(spark, Seq("shard-manifest", s"$dir/docs.parquet",
      s"$dir/manifest.parquet", "--shards", "4"))
    val man = spark.read.parquet(s"$dir/manifest.parquet")
    assert(man.columns.toSet == Set("shard", "n_docs", "min_doc_id",
      "max_doc_id", "n_tokens", "n_chars", "content_sig"))
    assert(man.agg(sum($"n_docs")).collect()(0).getLong(0) == 80L)
    assert(man.agg(sum($"n_tokens")).collect()(0).getLong(0) == 80L * 30)
    // signature is order-independent: reversed input, same manifest
    docs.orderBy($"doc_id".desc).write.parquet(s"$dir/docs_rev.parquet")
    Main.run(spark, Seq("shard-manifest", s"$dir/docs_rev.parquet",
      s"$dir/manifest_rev.parquet", "--shards", "4"))
    val again = spark.read.parquet(s"$dir/manifest_rev.parquet")
    assert(man.orderBy($"shard").collect().toSeq ==
      again.orderBy($"shard").collect().toSeq)

    Main.run(spark, Seq("zipf-stats", s"$dir/docs.parquet",
      s"$dir/zipf.parquet", "--head", "40"))
    val z = spark.read.parquet(s"$dir/zipf.parquet").collect()(0)
    assert(z.getAs[Long]("vocab_size") == 50L)
    assert(z.getAs[Long]("total_tokens") == 80L * 30)
    assert(z.getAs[Double]("zipf_slope") < 0.0) // frequency falls with rank
    val f10 = z.getAs[Double]("top10_frac")
    assert(f10 > 0.0 && f10 < 1.0)

    val vecs = (0L until 40L).map { i =>
      // one planted far-out vector among small-noise inliers
      val base = if (i == 7L) 3.0f else 0.0f
      (i, Array.tabulate(8)(j => base + ((i * 31 + j * 17) % 11).toFloat / 100f))
    }.toDF("vec_id", "embedding")
    vecs.write.parquet(s"$dir/vecs.parquet")
    Main.run(spark, Seq("embed-outliers", s"$dir/vecs.parquet",
      s"$dir/out.parquet", "--dims", "8", "--threshold", "2.0"))
    val out = spark.read.parquet(s"$dir/out.parquet")
    assert(out.count() == 40)
    val flagged = out.filter($"is_outlier").select("vec_id")
      .as[Long].collect().toSeq
    assert(flagged == Seq(7L), s"flagged=$flagged")
  }

  test("source-gate and term-drift commands run end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("gatedrift")
    // srcA: clean english; srcB: short non-english spam
    val docs = (0L until 60L).map { i =>
      if (i % 2 == 0)
        (i, "srcA", "en", "the quick brown fox jumps over the lazy dog " * 8)
      else (i, "srcB", "zh", "ad " * 3)
    }.toDF("doc_id", "source", "lang", "text")
    docs.write.parquet(s"$dir/docs.parquet")

    Main.run(spark, Seq("source-gate", s"$dir/docs.parquet",
      s"$dir/gate.parquet"))
    val g = spark.read.parquet(s"$dir/gate.parquet")
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(g == Map("srcA" -> true, "srcB" -> false), s"gate=$g")

    // drift between the clean and spam slices is large and symmetric>0
    docs.filter($"source" === "srcA").write.parquet(s"$dir/a.parquet")
    docs.filter($"source" === "srcB").write.parquet(s"$dir/b.parquet")
    Main.run(spark, Seq("term-drift", s"$dir/a.parquet", s"$dir/b.parquet",
      s"$dir/drift.parquet"))
    val d = spark.read.parquet(s"$dir/drift.parquet").collect()(0)
    assert(d.getAs[Double]("kl_ab") > 0.5 && d.getAs[Double]("kl_ba") > 0.5)
    // identical corpora drift to zero
    Main.run(spark, Seq("term-drift", s"$dir/a.parquet", s"$dir/a.parquet",
      s"$dir/drift0.parquet"))
    val d0 = spark.read.parquet(s"$dir/drift0.parquet").collect()(0)
    assert(d0.getAs[Double]("kl_ab") == 0.0 && d0.getAs[Double]("kl_ba") == 0.0)
  }

  test("span-scrub, hard-negatives, balance-chi2, hll-distinct commands") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("r7cli")
    val shared = (1 to 8).map(i => s"shared$i").mkString(" ")
    Seq((0L, "srcA", "en", s"$shared alpha beta"),
        (1L, "srcA", "en", s"pre1 pre2 $shared"),
        (2L, "srcB", "zh", "totally unique words only here now ok yes fine"))
      .toDF("doc_id", "source", "lang", "text")
      .write.parquet(s"$dir/docs.parquet")

    Main.run(spark, Seq("span-scrub", s"$dir/docs.parquet",
      s"$dir/scrub.parquet"))
    val sc = spark.read.parquet(s"$dir/scrub.parquet")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sc == Map(0L -> 8L, 1L -> 8L, 2L -> 0L), s"scrub=$sc")

    val vecs = (0 until 6).map(i =>
        (i.toLong, Array.tabulate(4)(j => (i * 4 + j + 1).toFloat)))
      .toDF("vec_id", "embedding")
    vecs.write.parquet(s"$dir/vecs.parquet")
    vecs.filter($"vec_id" === 0).write.parquet(s"$dir/q.parquet")
    Main.run(spark, Seq("hard-negatives", s"$dir/vecs.parquet",
      s"$dir/q.parquet", s"$dir/hn.parquet", "--k", "3",
      "--dup-ceil", "0.999"))
    val hn = spark.read.parquet(s"$dir/hn.parquet").collect()
    assert(hn.length == 3 && hn.forall(_.getDouble(3) < 0.999))

    Main.run(spark, Seq("balance-chi2", s"$dir/docs.parquet",
      s"$dir/chi.parquet"))
    val chi = spark.read.parquet(s"$dir/chi.parquet").collect()(0)
    // source and lang are perfectly associated here -> V = 1
    assert(chi.getAs[Long]("dof") == 1L)
    assert(math.abs(chi.getAs[Double]("cramers_v") - 1.0) < 1e-6)

    Main.run(spark, Seq("hll-distinct", s"$dir/docs.parquet",
      s"$dir/hll.parquet"))
    val hll = spark.read.parquet(s"$dir/hll.parquet")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hll("srcA") == 12L && hll("srcB") == 9L, s"hll=$hll")
  }

  test("domain-cap, embed-decontam and funnel commands run end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("r8cli")

    // domain-cap: srcA has 3 docs, cap at 2 — the LOWEST-entropy doc
    // ("aaaa...", entropy ~0) must be the one dropped
    Seq((0L, "srcA", "the quick brown fox jumps over the lazy dog now"),
        (1L, "srcA", "aaaa aaaa aaaa aaaa"),
        (2L, "srcA", "some other varied words with many letters here"),
        (3L, "srcB", "only one document in this source"))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/docs.parquet")
    Main.run(spark, Seq("domain-cap", s"$dir/docs.parquet",
      s"$dir/capped.parquet", "--k", "2"))
    val kept = spark.read.parquet(s"$dir/capped.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L), s"kept=$kept")

    // embed-decontam: vec 0 is a near-dup of the eval vector, vec 1 is
    // orthogonal — only vec 1 survives the default 0.3 ceiling
    Seq((0L, Array(1.0f, 0.01f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/corpus.parquet")
    Seq((9L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/eval.parquet")
    Main.run(spark, Seq("embed-decontam", s"$dir/corpus.parquet",
      s"$dir/eval.parquet", s"$dir/clean.parquet"))
    val clean = spark.read.parquet(s"$dir/clean.parquet")
    assert(clean.select("vec_id").as[Long].collect().toSeq == Seq(1L))
    assert(!clean.columns.contains("max_sim_u"))
    // EMPTY eval set: no measured contamination -> keep everything
    // (the bare `< tau` filter used to drop the whole corpus on null)
    Seq.empty[(Long, Array[Float])]
      .toDF("vec_id", "embedding").write.parquet(s"$dir/eval0.parquet")
    Main.run(spark, Seq("embed-decontam", s"$dir/corpus.parquet",
      s"$dir/eval0.parquet", s"$dir/clean0.parquet"))
    assert(spark.read.parquet(s"$dir/clean0.parquet").count() == 2,
      "empty eval set must keep the whole corpus")

    // funnel: one converting user, one who clicks before viewing
    Seq((1L, "view", "2026-01-01 00:00:00"),
        (1L, "click", "2026-01-02 00:00:00"),
        (1L, "purchase", "2026-01-03 00:00:00"),
        (2L, "click", "2026-01-01 00:00:00"),
        (2L, "view", "2026-01-02 00:00:00"))
      .toDF("user_id", "event_type", "ts")
      .withColumn("ts", to_timestamp($"ts"))
      .write.parquet(s"$dir/events.parquet")
    Main.run(spark, Seq("funnel", s"$dir/events.parquet",
      s"$dir/funnel.parquet"))
    val fr = spark.read.parquet(s"$dir/funnel.parquet")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(fr(1L)._3.isDefined, s"user 1 must complete: $fr")
    assert(fr(2L)._1.isDefined && fr(2L)._2.isEmpty,
      s"user 2 clicked before viewing: $fr")
  }

  test("dedup-best, strat-split, vocab-coverage, ks-drift, mix-plan and oov-rate commands") {
    import spark.implicits._
    val dir = tmp("r8bcli")

    // dedup best: two copies of the same normalized text — the
    // higher-entropy (punctuated) HIGHER id copy must survive
    Seq((0L, "srcA", "alpha beta gamma delta"),
        (1L, "srcA", "alpha beta; gamma delta!?"),
        (2L, "srcB", "another unrelated document text"))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/docs.parquet")
    Main.run(spark, Seq("dedup", "best", s"$dir/docs.parquet",
      s"$dir/best.parquet"))
    val best = spark.read.parquet(s"$dir/best.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(best == Set(1L, 2L), s"best=$best")

    // strat-split: exact 80/10/10 per stratum on a 20-doc stratum
    (0 until 20).map(i => (i.toLong, "en", "s1", "w"))
      .toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/strat_in.parquet")
    Main.run(spark, Seq("strat-split", s"$dir/strat_in.parquet",
      s"$dir/strat_out.parquet"))
    val bySplit = spark.read.parquet(s"$dir/strat_out.parquet")
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit == Map("train" -> 16L, "validation" -> 2L, "test" -> 2L),
      s"splits=$bySplit")

    // vocab-coverage: 'a' x9 + 'b' x1 -> 80% needs 1 term, 99% needs 2
    Seq((0L, "a a a a a a a a a b")).toDF("doc_id", "text")
      .write.parquet(s"$dir/vc_in.parquet")
    Main.run(spark, Seq("vocab-coverage", s"$dir/vc_in.parquet",
      s"$dir/vc_out.parquet", "--levels", "80,99"))
    val vc = spark.read.parquet(s"$dir/vc_out.parquet")
      .orderBy("coverage_pct")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(vc == Seq((80, 1L), (99, 2L)), s"vc=$vc")

    // ks-drift: a corpus against itself -> KS = 0
    Main.run(spark, Seq("ks-drift", s"$dir/docs.parquet",
      s"$dir/docs.parquet", s"$dir/ks.parquet"))
    assert(spark.read.parquet(s"$dir/ks.parquet")
      .head().getAs[Double]("ks_stat") == 0.0)

    // percentiles: values 1..10 in one group -> p50 = ceil(10*50/100)=5th
    // element = 5, p90 = 9, p100 = 10
    (1 to 10).map(i => ("g", i.toLong)).toDF("grp", "v")
      .write.parquet(s"$dir/pct_in.parquet")
    Main.run(spark, Seq("percentiles", s"$dir/pct_in.parquet",
      s"$dir/pct_out.parquet", "--group-column", "grp",
      "--value-column", "v", "--ps", "50,90,100"))
    val pct = spark.read.parquet(s"$dir/pct_out.parquet")
      .orderBy("p")
      .collect().map(r => (r.getInt(1), r.getLong(3))).toSeq
    assert(pct == Seq((50, 5L), (90, 9L), (100, 10L)), s"pct=$pct")

    // mix-plan: one dominant source capped at 30% of total weight; the
    // small sources upsample toward the 50% budget
    val plan = {
      Main.run(spark, Seq("mix-plan", s"$dir/docs.parquet",
        s"$dir/plan.parquet"))
      spark.read.parquet(s"$dir/plan.parquet")
    }
    val rows = plan.collect().map(r => r.getAs[String]("source") ->
      r.getAs[Long]("target_tokens")).toMap
    assert(rows.keySet == Set("srcA", "srcB"))
    assert(plan.agg(org.apache.spark.sql.functions.sum("target_tokens"))
      .head().getLong(0) > 0)

    // oov-rate: delivery introduces one unseen term out of four
    Seq((0L, "s1", "alpha beta gamma")).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/base.parquet")
    Seq((1L, "s1", "alpha beta gamma NEWTOKEN"))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/del.parquet")
    Main.run(spark, Seq("oov-rate", s"$dir/base.parquet",
      s"$dir/del.parquet", s"$dir/oov.parquet"))
    val oov = spark.read.parquet(s"$dir/oov.parquet").head()
    assert(oov.getAs[Long]("n_tokens") == 4 &&
      oov.getAs[Long]("n_oov_tokens") == 1 &&
      oov.getAs[Double]("oov_rate") == 0.25)
  }

  test("jsonl round-trip and gopher-gate commands") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("r8cli")
    val good = ("the a " + (1 to 60).map(i => s"word$i").mkString(" "))
    Seq((0L, "srcA", good),
        (1L, "srcA", "too short"),
        (2L, "srcB", good + " extra"))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/docs.parquet")

    Main.run(spark, Seq("to", "jsonl", s"$dir/docs.parquet", s"$dir/jl"))
    Main.run(spark, Seq("from-jsonl", s"$dir/jl", s"$dir/back.parquet",
      "--schema-from", s"$dir/docs.parquet"))
    val back = spark.read.parquet(s"$dir/back.parquet")
    assert(back.count() == 3)
    assert(back.orderBy("doc_id").select("text").as[String].collect()
      .toSeq == Seq(good, "too short", good + " extra"))

    Main.run(spark, Seq("gopher-gate", s"$dir/docs.parquet",
      s"$dir/gate.parquet", "--keep-only"))
    val kept = spark.read.parquet(s"$dir/gate.parquet")
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(0L, 2L))
    // non-keep mode emits verdict columns for every row
    Main.run(spark, Seq("gopher-gate", s"$dir/docs.parquet",
      s"$dir/gate2.parquet"))
    val ruled = spark.read.parquet(s"$dir/gate2.parquet")
    assert(ruled.count() == 3 && ruled.columns.contains("pass"))
    assert(ruled.filter($"doc_id" === 1L && !$"pass").count() == 1)
  }

  test("composed pipeline command: one curation chain, schema + funnel") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("pipeline3")
    // 80 docs: stride-disjoint word soup, one planted exact dup pair
    // (21 copies 20), one planted near-dup of 30 (one word changed), and
    // eval docs (ids 0, 50) whose text doc 60 shares a 4-word shingle with
    // disjoint 30-token ranges per doc: no accidental shingle overlap
    val mk = (i: Long) => (0 until 30).map(j => s"w${i * 31 + j}").mkString(" ")
    val docs = (0L until 80L).map { i =>
      val t = i match {
        case 21L => mk(20L)
        case 31L => mk(30L).replaceFirst("w[0-9]+ ", "changed ")
        case 60L => mk(0L) // verbatim copy of eval doc 0's text
        case _ => mk(i)
      }
      (i, t)
    }.toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs.parquet")
    Main.run(spark, Seq("pipeline", s"$dir/docs.parquet",
      s"$dir/out.parquet", "--capacity", "120"))
    val out = spark.read.parquet(s"$dir/out.parquet")
    // schema contract: exactly the curated projection
    assert(out.columns.toSeq.sorted == Seq("doc_id", "n_tokens", "pack_id"))
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // eval docs (0, 50) are held out; their dup/shingle-sharer 60 is
    // decontaminated; 21 loses exact dedup to 20; 31 loses near-dup to 30
    assert(!ids.contains(0L) && !ids.contains(50L))
    assert(!ids.contains(60L))
    assert(ids.contains(20L) && !ids.contains(21L))
    assert(ids.contains(30L) && !ids.contains(31L))
    assert(ids.size > 60) // the rest of the corpus survives
    // packing is doc_id-ordered at capacity 120 (30-token docs -> 4/pack)
    assert(out.select(countDistinct($"pack_id")).head().getLong(0) > 1)
  }

  test("pipeline --bpe-rounds packs by survivor-trained BPE tokens") {
    import spark.implicits._
    val dir = tmp("pipeline_bpe")
    // doc-unique words (no cross-doc 4-gram -> decontamination keeps
    // everything except the eval holdout) with a shared "word" prefix
    // for the BPE rounds to learn from
    // 30 words so the all-distinct-bigram fraction 1/29 clears the
    // 0.05 Gopher gate (20-word docs sit at 1/19 and get flagged)
    val docs = (0L until 60L)
      .map(i => (i, (0 until 30).map(j => s"word${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs.parquet")
    Main.run(spark, Seq("pipeline", s"$dir/docs.parquet",
      s"$dir/out.parquet", "--bpe-rounds", "4", "--capacity", "64"))
    val out = spark.read.parquet(s"$dir/out.parquet")
    assert(out.columns.toSeq.sorted == Seq("doc_id", "n_bpe_tokens", "pack_id"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    // 4 learned merges compress: every 30-word doc has fewer BPE tokens
    // than raw characters and at least as many as words
    rows.foreach { r =>
      val t = r.getAs[Long]("n_bpe_tokens")
      assert(t >= 30, s"doc ${r.getLong(0)}: $t tokens < word count")
    }
    // packing is monotone in doc_id at the configured capacity
    val byId = out.orderBy($"doc_id").select($"pack_id")
      .collect().map(_.getLong(0))
    assert(byId.sliding(2).forall(p => p(0) <= p(1)))
    assert(byId.distinct.length > 1)
  }

  test("benchmark suite + report: matrix runs, thresholds flag regressions") {
    val dir = tmp("bench")
    // run the operation matrix small and store the results
    Main.run(spark, Seq("benchmark", "suite", s"$dir/run1.json",
      "--rows", "2000"))
    val ops = graft.tools.BenchSuite.parseJson(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/run1.json")))
    // the full reference §6 matrix, every timing positive
    assert(ops.map(_._1).toSet == Set("read", "write", "add_bbox",
      "add_quadkey", "extract_bbox", "extract_columns", "sort_hilbert",
      "sort_column", "reproject", "to_geojson", "partition_quadkey",
      "chain_bbox_qk_hilbert"))
    assert(ops.forall(_._2 > 0))
    // doctored baseline: one op 10x faster than measured -> +900% FAIL,
    // one op slightly faster -> warn band, rest identical -> ok
    val doctored = ops.map {
      case ("read", v) => ("read", v / 10)
      case ("write", v) => ("write", v / 1.2)
      case o => o
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/baseline.json"),
      graft.tools.BenchSuite.toJson(doctored))
    val rows = graft.tools.BenchSuite.compare(ops, doctored.toMap)
    val byOp = rows.map(r => r._1 -> r._3).toMap
    assert(byOp("read") == "FAIL")
    assert(byOp("write") == "warn")
    assert(rows.count(_._3 == "ok") == 10)
    // report prints the table and signals the regression
    val out = new java.io.ByteArrayOutputStream()
    val regressed = Console.withOut(new java.io.PrintStream(out)) {
      graft.tools.BenchSuite.report(rows)
    }
    assert(regressed)
    val printed = out.toString
    assert(printed.contains("[suite] REGRESSION"))
    assert(printed.linesIterator.count(_.contains("vs baseline")) == 12)
    // the CLI report path over the two stored files agrees — and the
    // regression GATE trips (exception-based so in-process callers
    // survive; main() maps it to exit 1)
    intercept[Main.BenchmarkRegression](
      Main.run(spark, Seq("benchmark", "report", s"$dir/baseline.json",
        s"$dir/run1.json")))
    // a same-vs-same report is clean
    Main.run(spark, Seq("benchmark", "report", s"$dir/run1.json",
      s"$dir/run1.json"))
  }

  test("benchmark compare: per-format converter race on one input") {
    import spark.implicits._
    val dir = tmp("benchcmp")
    val pts = spark.range(0, 200).toDF("id")
      .withColumn("name", concat(lit("f"), $"id"))
      .withColumn("geometry",
        graft.functions.geo.st_point($"id" % 90, ($"id" % 60) - 30))
    GeoTable.fromDataFrame(pts, "geometry").write(s"$dir/in.parquet")
    Main.run(spark, Seq("benchmark", "compare", s"$dir/in.parquet",
      "--converters", "geoparquet,geojson,csv", "--iterations", "1",
      "--no-warmup", "--output-json", s"$dir/cmp.json"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/cmp.json")))
    // every requested converter reports a positive time and real bytes
    for (f <- Seq("geoparquet", "geojson", "csv")) {
      assert(node.get(f).get("sec").asDouble > 0, s"$f sec")
      assert(node.get(f).get("bytes").asLong > 0, s"$f bytes")
    }
    // unknown converter dies loudly rather than silently skipping
    intercept[Exception](Main.run(spark, Seq("benchmark", "compare",
      s"$dir/in.parquet", "--converters", "nope", "--iterations", "1")))
  }

  test("admin enrich and hierarchical admin partition via the CLI") {
    import spark.implicits._
    val dir = tmp("admin")
    val pts = spark.range(0, 400).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 160 - 80, col("id") % 80 - 40))
    GeoTable.fromDataFrame(pts, "geometry").write(s"$dir/pts.parquet")
    // boundary squares: 2 regions x 2 zones covering the data extent
    // edges at x.5 so integer-lattice points never sit on a shared
    // border (a border point legitimately matches both polygons)
    val bounds = Seq(
      ("west", "w1", -90.0, -50.0, 0.5, 50.0),
      ("east", "e1", 0.5, -50.0, 45.5, 50.0),
      ("east", "e2", 45.5, -50.0, 90.0, 50.0))
      .toDF("region", "zone", "x0", "y0", "x1", "y1")
      .withColumn("geometry", geo.st_makeenvelope(
        col("x0"), col("y0"), col("x1"), col("y1")))
      .drop("x0", "y0", "x1", "y1")
    GeoTable.fromDataFrame(bounds, "geometry").write(s"$dir/adm.parquet")

    Main.run(spark, Seq("add", "admin-divisions", s"$dir/pts.parquet",
      s"$dir/enriched.parquet", "--boundaries", s"$dir/adm.parquet",
      "--admin-columns", "region,zone"))
    val e = GeoTable.read(spark, s"$dir/enriched.parquet")
    assert(e.df.columns.contains("region") && e.df.columns.contains("zone"))
    assert(e.df.filter(col("region").isNotNull).count() > 0)

    Main.run(spark, Seq("partition", "admin", s"$dir/pts.parquet",
      s"$dir/byadmin", "--boundaries", s"$dir/adm.parquet",
      "--levels", "region,zone"))
    val dirs = new java.io.File(s"$dir/byadmin").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("region=")))
    val back = spark.read.parquet(s"$dir/byadmin")
    assert(back.count() == 400)
  }

  test("flat vs hive partition layouts and filename value recovery") {
    val dir = tmp("flat")
    val df = spark.range(0, 600).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
      .withColumn("grp", concat(lit("g"), col("id") % 3))
    GeoTable.fromDataFrame(df, "geometry").write(s"$dir/in.parquet")

    // hive layout: key=value folders
    Main.run(spark, Seq("partition", "string", s"$dir/in.parquet",
      s"$dir/hive", "--column", "grp", "--force"))
    val hiveDirs = new java.io.File(s"$dir/hive").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(hiveDirs == Set("__part=g0", "__part=g1", "__part=g2"))

    // flat layout (reference default): <value>.parquet directly
    Main.run(spark, Seq("partition", "string", s"$dir/in.parquet",
      s"$dir/flat", "--column", "grp", "--force", "--flat"))
    val flatFiles = new java.io.File(s"$dir/flat").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(flatFiles == Set("g0.parquet", "g1.parquet", "g2.parquet"))

    // filename value recovery on read
    val back = GeoTable.readFlat(spark, s"$dir/flat", "grp_from_name")
    assert(back.df.count() == 600)
    val recovered = back.df.groupBy("grp_from_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(recovered == Map("g0" -> 200L, "g1" -> 200L, "g2" -> 200L))

    // prefix naming variant
    val t = GeoTable.read(spark, s"$dir/in.parquet")
    t.partitionByFlat(col("grp"), s"$dir/flatp",
      filenamePrefix = Some("chunk"), force = true)
    val pf = new java.io.File(s"$dir/flatp").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(pf == Set("chunk_g0.parquet", "chunk_g1.parquet", "chunk_g2.parquet"))

    // single-file commands give the consolidation hint on partition input
    val e = intercept[IllegalArgumentException](
      Main.run(spark, Seq("head", s"$dir/flat")))
    assert(e.getMessage.contains("consolidate"))
  }

  test("flat partition round-trips key values that end in _<digits>") {
    val dir = java.nio.file.Files.createTempDirectory("graft_flatdig").toString
    val df = spark.range(0, 40).toDF("id")
      .withColumn("geometry", geo.st_point(col("id") % 90, col("id") % 45))
      .withColumn("grp", concat(lit("a_"), col("id") % 2)) // keys a_0, a_1
    GeoTable.fromDataFrame(df, "geometry")
      .partitionByFlat(col("grp"), s"$dir/flat", force = true)
    val files = new java.io.File(s"$dir/flat").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(files == Set("a_0.parquet", "a_1.parquet"))
    // a plain _N multi-part rule would mis-recover both keys as "a"
    val back = GeoTable.readFlat(spark, s"$dir/flat", "grp2")
    val rec = back.df.groupBy("grp2").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rec == Map("a_0" -> 20L, "a_1" -> 20L))
  }

  test("readFlat recovers values from the reference's real flat partition") {
    // reference tests/data/country_partition is GDAL/gpio's own flat
    // layout: one <Country>.parquet per key, no hive folders
    val src = "/root/reference/tests/data/country_partition"
    assert(graft.checks.Checks.isPartitionPath(src))
    val t = GeoTable.readFlat(spark, src, "country")
    val counts = t.df.groupBy("country").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet ==
      Set("El_Salvador", "Guatemala", "Honduras", "Nicaragua"))
    assert(counts.values.sum == 5020L)
    // geometry column and covering bbox survive the multi-file read
    assert(t.geometryColumn.contains("geometry"))
    assert(t.df.columns.contains("bbox"))
  }

  test("retention, transitions, anomaly-report and spans commands") {
    import spark.implicits._
    val dir = tmp("behavior")

    // three users: u1 active weeks 0 and 1, u2 week 0 only, u3 week 1
    def ts(week: Int, h: Int) =
      new java.sql.Timestamp((week * 604800L + h * 3600L) * 1000L)
    Seq((1L, 1L, "view", 0.5, ts(0, 1)), (2L, 1L, "click", 1.0, ts(1, 2)),
        (3L, 2L, "view", 2.0, ts(0, 3)), (4L, 3L, "view", 99.0, ts(1, 4)),
        (5L, 3L, "click", 1.5, ts(1, 5)), (6L, 3L, "view", 1.0, ts(1, 6)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.parquet(s"$dir/ev.parquet")

    Main.run(spark, Seq("retention", s"$dir/ev.parquet",
      s"$dir/ret.parquet"))
    val ret = spark.read.parquet(s"$dir/ret.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // cohort week 0 = {u1,u2}: both at offset 0, u1 back at offset 1
    assert(ret((0L, 0L)) == ((2L, 10000L)))
    assert(ret((0L, 1L)) == ((1L, 5000L)))
    // cohort week 1 = {u3}
    assert(ret((1L, 0L)) == ((1L, 10000L)))

    Main.run(spark, Seq("transitions", s"$dir/ev.parquet",
      s"$dir/tr.parquet"))
    val tr = spark.read.parquet(s"$dir/tr.parquet")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // view->click: u1 once, u3 once; click->view: u3 once
    assert(tr(("view", "click")) == ((2L, 10000L)))
    assert(tr(("click", "view")) == ((1L, 10000L)))

    Main.run(spark, Seq("anomaly-report", s"$dir/ev.parquet",
      s"$dir/an.parquet"))
    val an = spark.read.parquet(s"$dir/an.parquet")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    // views: values 0.5, 2.0, 99.0, 1.0 -> median 1.0, MAD 0.5,
    // only 99.0 beyond 3*MAD
    assert(an("view") == ((4L, 1000000L, 1L)))

    // spans: two docs share 12 consecutive tokens
    val shared = (0 until 12).map(i => s"s$i").mkString(" ")
    Seq((1L, s"a0 a1 a2 $shared z0 z1"), (2L, s"b0 $shared y0"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs.parquet")
    Main.run(spark, Seq("spans", s"$dir/docs.parquet",
      s"$dir/sp.parquet"))
    val sp = spark.read.parquet(s"$dir/sp.parquet").collect()
    assert(sp.length == 1 && sp.head.getLong(2) == 12L)

    // compact: two 60-byte sources; target 50 -> next-fit splits them
    // (the second shard's 60-byte prefix passes the boundary), target
    // 1000 -> one merged group of 120
    Seq(("s0", "x" * 60), ("s1", "y" * 60))
      .toDF("src", "text").write.parquet(s"$dir/shards.parquet")
    Main.run(spark, Seq("compact", s"$dir/shards.parquet",
      s"$dir/plan.parquet", "--shard-column", "src",
      "--target-bytes", "50"))
    val plan = spark.read.parquet(s"$dir/plan.parquet")
      .orderBy(col("out_group")).collect()
    assert(plan.length == 2 &&
      plan.map(_.getLong(2)).toSeq == Seq(60L, 60L), plan.mkString(";"))
    Main.run(spark, Seq("compact", s"$dir/shards.parquet",
      s"$dir/plan2.parquet", "--shard-column", "src",
      "--target-bytes", "1000"))
    val plan2 = spark.read.parquet(s"$dir/plan2.parquet").collect()
    assert(plan2.length == 1 && plan2.head.getLong(2) == 120L)
  }

  test("audio-gate, video-frames and nfc-normalize commands run end-to-end") {
    val dir = tmp("audio")
    import spark.implicits._
    graft.ops.Multimodal.withSyntheticWav(
        spark.range(0, 64).toDF("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$dir/media.parquet")
    Main.run(spark, Seq("audio-gate", s"$dir/media.parquet",
      s"$dir/gated.parquet"))
    val gated = spark.read.parquet(s"$dir/gated.parquet")
    assert(gated.columns.contains("reason") && gated.count() == 64)
    Main.run(spark, Seq("audio-gate", s"$dir/media.parquet",
      s"$dir/kept.parquet", "--keep-only"))
    val kept = spark.read.parquet(s"$dir/kept.parquet")
    assert(kept.count() ==
      gated.filter($"reason" === "keep").count())
    assert(!kept.columns.contains("reason"))

    graft.ops.Multimodal.withSyntheticGif(
        spark.range(0, 16).toDF("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$dir/vids.parquet")
    Main.run(spark, Seq("video-frames", s"$dir/vids.parquet",
      s"$dir/frames.parquet", "--every-n", "2"))
    val fr = spark.read.parquet(s"$dir/frames.parquet")
    assert(fr.columns.toSet ==
      Set("doc_id", "frame_idx", "n_frames", "sum_lum"))
    // 16 docs, 4 + id%5 frames sampled at stride 2
    val wantRows = (0L until 16L).map(id => ((4 + id % 5) + 1) / 2).sum
    assert(fr.count() == wantRows)

    graft.ops.Multimodal.withSyntheticClassWav(
        spark.range(0, 40).toDF("doc_id"), "doc_id", classes = 8)
      .write.mode("overwrite").parquet(s"$dir/clips.parquet")
    Main.run(spark, Seq("dedup", "audio", s"$dir/clips.parquet",
      s"$dir/aclusters.parquet"))
    val ac = spark.read.parquet(s"$dir/aclusters.parquet")
    assert(ac.columns.toSet == Set("doc_id", "cluster_id", "is_dup"))
    assert(ac.count() == 40)
    assert(ac.filter($"is_dup").count() > 0)

    Seq((1L, "déjà vu"), (2L, "plain")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    Main.run(spark, Seq("nfc-normalize", s"$dir/docs.parquet",
      s"$dir/norm.parquet"))
    val norm = spark.read.parquet(s"$dir/norm.parquet")
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(norm(0)._2 == "déjà vu" && norm(1)._2 == "plain")
  }

  test("dedup video and scene-changes commands run end-to-end") {
    val dir = tmp("video")
    import spark.implicits._
    graft.ops.Multimodal.withSyntheticClassGif(
        spark.range(0, 24).toDF("doc_id"), "doc_id", classes = 6)
      .write.mode("overwrite").parquet(s"$dir/cvids.parquet")
    Main.run(spark, Seq("dedup", "video", s"$dir/cvids.parquet",
      s"$dir/vclusters.parquet"))
    val vc = spark.read.parquet(s"$dir/vclusters.parquet")
    assert(vc.columns.toSet == Set("doc_id", "cluster_id", "is_dup"))
    assert(vc.count() == 24)
    assert(vc.filter($"is_dup").count() == 18) // 6 keepers, 18 dups

    graft.ops.Multimodal.withSyntheticSceneGif(
        spark.range(0, 12).toDF("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(s"$dir/svids.parquet")
    Main.run(spark, Seq("scene-changes", s"$dir/svids.parquet",
      s"$dir/cuts.parquet", "--threshold", "1000"))
    val cuts = spark.read.parquet(s"$dir/cuts.parquet")
    assert(cuts.columns.toSet ==
      Set("doc_id", "n_frames", "n_cuts", "first_cut", "activity"))
    assert(cuts.count() == 12)
    assert(cuts.filter($"n_cuts" === 1L).count() == 12)
  }

  test("upload command copies a file and a filtered tree via file://") {
    val dir = tmp("upload")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/one.parquet"), "data")
    // single file, explicit destination name
    Main.run(spark, Seq("upload", s"$dir/one.parquet",
      s"file://$dir/up/one.parquet"))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/up/one.parquet")) == "data")
    // directory tree with a --pattern filter; structure preserved
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/src/sub"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/src/a.parquet"), "a")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/src/skip.json"), "{}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/src/sub/b.parquet"), "b")
    Main.run(spark, Seq("upload", s"$dir/src",
      s"file://$dir/up2", "--pattern", "*.parquet"))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/up2/a.parquet")) == "a")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/up2/sub/b.parquet")) == "b")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/up2/skip.json")))
  }
  test("add bbox-metadata attaches covering in place, refuses without bbox") {
    import org.apache.spark.sql.functions._
    val dir = tmp("bboxmeta")
    // write WITH a bbox column, then strip the covering from the footer
    val df = spark.range(30).toDF("id")
      .withColumn("geometry", geo.st_point(
        col("id").cast("double") % 90, col("id").cast("double") % 45))
    GeoTable.fromDataFrame(df, "geometry").addBbox().write(s"$dir/a.parquet")
    val meta0 = GeoTable.read(spark, s"$dir/a.parquet").meta
    val stripped = meta0.copy(columns = meta0.columns.map { case (n, c) =>
      n -> c.copy(coveringBbox = None, coveringRaw = None) })
    graft.meta.Footer.writeGeoMetadata(s"$dir/a.parquet", stripped)
    assert(GeoTable.read(spark, s"$dir/a.parquet")
      .meta.primary.flatMap(_.coveringBbox).isEmpty)
    // the command restores it, in place
    Main.run(spark, Seq("add", "bbox-metadata", s"$dir/a.parquet"))
    val after = GeoTable.read(spark, s"$dir/a.parquet")
    assert(after.meta.primary.flatMap(_.coveringBbox).contains("bbox"))
    assert(after.count() == 30)
    // second run is the reference's no-op
    assert(GeoTable.addBboxMetadata(s"$dir/a.parquet") == "bbox")
    // a file without any bbox column refuses with the add-bbox hint
    GeoTable.fromDataFrame(df, "geometry").write(s"$dir/nb.parquet")
    val e = intercept[IllegalArgumentException](
      GeoTable.addBboxMetadata(s"$dir/nb.parquet"))
    assert(e.getMessage.contains("add bbox"))
  }
  test("extract-arcgis replays a captured service page from file:") {
    val dir = tmp("arcgiscli")
    val page = """{"type":"FeatureCollection","exceededTransferLimit":false,
      "features":[
        {"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]},
         "properties":{"oid":1}},
        {"type":"Feature","geometry":{"type":"Point","coordinates":[3,4]},
         "properties":{"oid":2}}]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/page.json"), page)
    Main.run(spark, Seq("extract-arcgis", s"file://$dir/page.json",
      s"$dir/out.parquet", "--page-size", "10"))
    val t = GeoTable.read(spark, s"$dir/out.parquet")
    assert(t.count() == 2)
    assert(t.df.columns.contains("oid"))
  }
}
