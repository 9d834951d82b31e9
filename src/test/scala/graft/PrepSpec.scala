package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SketchEval, SketchExpressions}
import graft.SparkTestSession.withConf
import org.apache.spark.unsafe.types.UTF8String

/** Training-prep surface: winnowing/random-projection kernel contracts
  * and the DistWindow global-rank equivalence (the q66/q69/q70
  * machinery; end-to-end values are oracle-certified by Verify).
  */
class PrepSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def winnowSet(s: String): Set[String] = {
    val ad = SketchEval.winnow(UTF8String.fromString(s), 3, 4)
    (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString).toSet
  }

  test("norm_text kernel is byte-equal to the regex chain on random unicode") {
    // every dedup oracle keeps the DuckDB regexp_replace chain while
    // the engine runs the one-pass scanner — this pins the equivalence
    // claim on adversarial inputs (Java regex character classes are
    // codepoint-based, the scanner is unit-based; collapse must absorb
    // the difference)
    def regexTwin(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    def kernel(s: String): String =
      SketchEval.normText(UTF8String.fromString(s)).toString
    val edges = Seq("", " ", "  a  B  ", "a\tb\nc", "héllo wörld",
      "aKb" /* Kelvin sign lowercases to k */,
      "İstanbul" /* dotted I lowercases to i + combining dot */,
      "a💩b" /* supplementary char = 2 UTF-16 units */,
      "ЖУРНАЛ 42", "ｆｕｌｌｗｉｄｔｈ", "áe" /* combining acute */,
      "123-456.789", "ALL CAPS!!!", "ß sharp s")
    edges.foreach(s => assert(kernel(s) == regexTwin(s), s"edge: ${s.take(30)}"))
    val alphabet = ("abcXYZ0189 \t\n.,;!?-_@#" + "éÜßЖ中" +
      "Kİ́" + new String(Character.toChars(0x1F4A9))).toCharArray
    val rnd = new scala.util.Random(20260813L)
    (1 to 500).foreach { i =>
      val s = new String(Array.fill(rnd.nextInt(60))(
        alphabet(rnd.nextInt(alphabet.length))))
      assert(kernel(s) == regexTwin(s), s"seed case $i: ${s.take(40)}")
    }
  }

  test("term_counts kernel matches split-based counting on random text") {
    def reference(s: String): Map[String, Long] =
      s.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    def kernel(s: String): Map[String, Long] = {
      val ad = SketchEval.termCounts(UTF8String.fromString(s))
      (0 until ad.numElements()).map { i =>
        val r = ad.getStruct(i, 2)
        r.getUTF8String(0).toString -> r.getLong(1)
      }.toMap
    }
    val rnd = new scala.util.Random(4242L)
    val words = Array("the", "cat", "Dog", "42", "über", "a-b", "")
    (1 to 300).foreach { i =>
      val s = Array.fill(rnd.nextInt(30))(words(rnd.nextInt(words.length)))
        .mkString(Seq(" ", "  ", "\t", "\n")(rnd.nextInt(4)))
      assert(kernel(s) == reference(s), s"case $i: ${s.take(40)}")
    }
  }

  test("gram_hash_seq matches the relational md5-slice chain on random text") {
    // the q140 span screen matches Spark kernel output against DuckDB's
    // array_to_string+md5 idiom — pin the equivalence on adversarial
    // tokenizations (unicode whitespace runs, leading/trailing space,
    // supplementary chars, sub-k texts)
    def reference(s: String, k: Int): Seq[Long] = {
      val toks = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.length < k) Seq.empty
      else (0 to toks.length - k).map { i =>
        val gram = toks.slice(i, i + k).mkString(" ")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(gram.getBytes("UTF-8"))
        val hex = md.map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }
    }
    def kernel(s: String, k: Int): Seq[Long] = {
      val ad = SketchEval.gramHashSeq(UTF8String.fromString(s), k)
      (0 until ad.numElements()).map(ad.getLong)
    }
    val edges = Seq("", " ", "a", "a b", "a b c",
      "  a \t b\nc  ", "héllo wörld ünïcode tëst",
      "a💩b c d e", "ЖУРНАЛ про 42 теста здесь")
    for (s <- edges; k <- Seq(2, 3, 8))
      assert(kernel(s, k) == reference(s, k), s"edge k=$k: ${s.take(30)}")
    val words = Array("the", "cat", "Dog", "42", "über", "a-b",
      new String(Character.toChars(0x1F4A9)))
    val rnd = new scala.util.Random(8140L)
    (1 to 300).foreach { i =>
      val s = Array.fill(rnd.nextInt(25))(words(rnd.nextInt(words.length)))
        .mkString(Seq(" ", "  ", "\t", "\n")(rnd.nextInt(4)))
      assert(kernel(s, 3) == reference(s, 3), s"case $i: ${s.take(40)}")
    }
  }

  test("text.register exposes the kernel surface to spark.sql") {
    graft.functions.text.register(spark)
    val r = spark.sql("""SELECT
        norm_text('  Héllo,  WORLD!! 42 ') AS nt,
        char_entropy('aaaa')[0] AS ent,
        simhash64('the quick brown fox') AS sh,
        size(word_shingles('a b c d', 3)) AS ws,
        size(gram_hash_seq('a b c d', 3)) AS gh,
        size(minhash_signature('a b c d e', 8, 2)) AS mh,
        jaccard_sim('a b c d', 'a b c d', 2) AS js,
        pii_redact('mail me at x@y.com now') AS pii
      """).head()
    assert(r.getString(0) == "h llo world 42")
    assert(r.getDouble(1) >= 0.0) // stats array head (printable count)
    assert(r.getLong(2) != 0L)
    assert(r.getInt(3) == 2 && r.getInt(4) == 2 && r.getInt(5) == 8)
    assert(r.getDouble(6) == 1.0)
    assert(r.getString(7).contains("<EMAIL>"))
    // SQL call compiles into the SAME codegen expression (no ScalaUDF)
    val plan = spark.sql("SELECT simhash64('x') AS s").queryExecution
      .executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
  }

  test("withRunningBeforeMulti equals two single-column passes") {
    import spark.implicits._
    val rnd = new scala.util.Random(161L)
    val df = (0 until 500).map(i =>
      (i.toLong, rnd.nextInt(100).toLong, rnd.nextInt(7).toLong))
      .toDF("k", "a", "b")
    val multi = graft.ops.Packing
      .withRunningBeforeMulti(df, "k", Seq("a" -> "ra", "b" -> "rb"),
        chunk = 64L)
      .select("k", "ra", "rb").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val s1 = graft.ops.Packing.withRunningBefore(df, "k", "a", "ra", 64L)
    val s2 = graft.ops.Packing.withRunningBefore(s1, "k", "b", "rb", 64L)
      .select("k", "ra", "rb").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(multi == s2)
    // and both equal the sequential definition
    val rows = df.orderBy("k").collect()
    var (ca, cb) = (0L, 0L)
    rows.foreach { r =>
      assert(multi(r.getLong(0)) == ((ca, cb)), s"at ${r.getLong(0)}")
      ca += r.getLong(1); cb += r.getLong(2)
    }
  }

  test("withRunningBefore[Multi] shuffle their input once: the totals " +
      "branch reuses the __bkt exchange, null keys dropped") {
    // a nullable key over an aggregated input, as the curation pipeline's
    // survivors: a null-key filter the join infers for one branch only
    // would split the two branches' plans below the exchange
    val src = spark.range(3000)
      .select(when(col("id") % 97 =!= 5, col("id") % 1000).as("k"),
        (col("id") % 13).as("a"), (col("id") % 5).as("b"))
      .groupBy("k").agg(sum("a").as("a"), sum("b").as("b"))
    // (the single form gets only the columns it reads, so the branches
    // differ in nothing but the inferred filter)
    val single = graft.ops.Packing.withRunningBefore(src.drop("b"), "k", "a", "ra", 64L)
    val multi = graft.ops.Packing.withRunningBeforeMulti(src, "k",
      Seq("a" -> "ra", "b" -> "rb"), 64L)
    for (df <- Seq(single, multi)) {
      val got = df.collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("ra")).toMap
      val plan = df.queryExecution.executedPlan.toString
      val bkt = plan.linesIterator.takeWhile(!_.contains("== Initial Plan =="))
        .filter(_.contains("Exchange hashpartitioning(__bkt")).toSeq
      assert(bkt.count(!_.contains("ReusedExchange")) == 1 &&
        bkt.count(_.contains("ReusedExchange")) == 1, plan)
      // the exclusive prefix sum over the non-null keys in key order
      val rows = src.filter(col("k").isNotNull).orderBy("k").collect()
      assert(got.size == rows.length)
      rows.foldLeft(0L) { (before, r) =>
        assert(got(r.getLong(0)) == before, s"at ${r.getLong(0)}")
        before + r.getLong(1)
      }
    }
  }

  test("winnow edge cases: empty, sub-shingle, sub-window texts") {
    assert(winnowSet("") === Set.empty)
    assert(winnowSet("one two") === Set.empty) // < k tokens
    // exactly one shingle -> one window over it
    assert(winnowSet("one two three").size === 1)
    // m=3 shingles < w=4 -> a single short window keeps only the min
    assert(winnowSet("a b c d e").size === 1)
  }

  test("winnow guarantee: docs sharing a >= k+w-1 word passage share a fingerprint") {
    val passage = "the quick brown fox jumps over" // 6 words = k+w-1
    val a = winnowSet(s"alpha beta $passage gamma delta epsilon")
    val b = winnowSet(s"zeta eta theta iota $passage kappa")
    assert(a.nonEmpty && b.nonEmpty && (a & b).nonEmpty)
    // and selection is genuinely a sample, not the full shingle set
    val long = (1 to 200).map(i => s"tok$i").mkString(" ")
    val m = 200 - 3 + 1
    assert(winnowSet(long).size < m / 2)
  }

  test("randProject values agree with the LSH signature signs") {
    val vec = Array.tabulate(64)(i => (math.sin(i + 1) * 3).toFloat)
    val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      vec.map(v => v: Any))
    val proj = graft.ops.Ann.signProjectAD(ad, 16)
    assert(proj.length === 16)
    val sig = graft.ops.Ann.lshSignature(vec, 16)
    (0 until 16).foreach { p =>
      assert((proj(p) >= 0) === (((sig >> p) & 1) === 1),
        s"plane $p sign mismatch")
    }
  }

  test("winnow kernel matches a straightforward reference implementation") {
    // independent re-derivation: tokenize -> shingle -> md5-16 -> sliding
    // window min -> distinct; random texts incl. whitespace runs, repeats
    def ref(s: String, k: Int, w: Int): Set[String] = {
      val toks = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val hs = toks.sliding(k).filter(_.length == k)
        .map { sh =>
          val md = java.security.MessageDigest.getInstance("MD5")
          md.digest(sh.mkString(" ").getBytes("UTF-8"))
            .take(8).map(b => f"$b%02x").mkString
        }.toVector
      if (hs.isEmpty) Set.empty
      else if (hs.length <= w) Set(hs.min)
      else hs.sliding(w).map(_.min).toSet
    }
    val rnd = new scala.util.Random(7)
    val words = Vector("a", "bb", "ccc", "the", "fox", "zz9", "Q", "amp")
    (1 to 200).foreach { _ =>
      val n = rnd.nextInt(30)
      val text = (0 until n).map(_ => words(rnd.nextInt(words.size)))
        .mkString(if (rnd.nextBoolean()) " " else "  ")
      val got = {
        val ad = SketchEval.winnow(UTF8String.fromString(text), 3, 4)
        (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString).toSet
      }
      assert(got === ref(text, 3, 4), s"text=[$text]")
    }
  }

  test("chunking covers every token and overlaps by exactly size-stride") {
    // the q68 formulation: size 64, stride 48, nc = max(1, ceil((n-16)/48))
    for (n <- Seq(0, 1, 15, 16, 17, 48, 63, 64, 65, 112, 113, 500)) {
      val nc = math.max(1, math.ceil((n - 16) / 48.0).toInt)
      val chunks = (0 until nc).map { i =>
        val start = i * 48 // 0-based
        (start, math.min(start + 64, n))
      }
      if (n > 0) {
        assert(chunks.last._2 === n, s"n=$n last chunk misses the end")
        val covered = chunks.flatMap { case (a, b) => a until b }.toSet
        assert(covered === (0 until n).toSet, s"n=$n coverage gap")
      }
      chunks.sliding(2).foreach {
        case Seq((a1, b1), (a2, _)) =>
          // full chunks overlap by exactly 16 tokens
          if (b1 - a1 == 64) assert(b1 - a2 === 16, s"n=$n overlap")
        case _ => ()
      }
    }
  }

  test("withGlobalRank equals the textbook global row_number") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
      .withColumn("skey", md5(concat(lit("t:"), $"id".cast("string"))))
    val got = graft.ops.DistWindow.withGlobalRank(df,
        conv(substring($"skey", 1, 2), 16, 10).cast("long"),
        Seq($"skey", $"id"), "pos")
      .select($"id", $"pos")
    val want = df.withColumn("pos",
        row_number().over(Window.orderBy($"skey", $"id")).cast("long"))
      .select($"id", $"pos")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // and it is a permutation: positions are exactly 1..n
    val ps = got.select($"pos").as[Long].collect().sorted
    assert(ps.toSeq === (1L to 1000L))
  }

  test("withGroupedRank equals the textbook per-group row_number") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"g${i % 7}", (i * 37 % 101).toLong))
      .toDF("id", "g", "score")
    val got = graft.ops.DistWindow.withGroupedRank(df, $"g",
        floor($"score" / 16L).cast("long"), Seq($"score", $"id"), "r")
      .select($"id", $"r")
    val want = df.withColumn("r",
        row_number().over(Window.partitionBy($"g").orderBy($"score", $"id"))
          .cast("long"))
      .select($"id", $"r")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("every SQL-registered kernel returns the same rows with and " +
      "without codegen") {
    import spark.implicits._
    graft.functions.text.register(spark)
    graft.functions.geo.register(spark)
    val g = "st_geomfromtext(wkt)"
    val calls = Seq(
      // text.register
      "norm_text(t)", "term_counts(t)", "bigram_counts(t)", "topgram_stats(t)",
      "rep_stats(t)", "char_entropy(t)", "nfc_normalize(t)", "pii_redact(t)",
      "simhash64(t)", "sorted_pairs(ids)", "word_shingles(t, 2)",
      "gram_hash_seq(t, 2)", "char_ngrams(t, 3)", "char_ngram_codes(t, 3)",
      "token_blocks(t, 2)", "window_digests(t, 2)", "lsh_signature(v, 8)",
      "rand_project(v, 4)", "token_hash_counts(t, 16)",
      "minhash_signature(t, 8, 2)", "jaccard_sim(t, t2, 2)",
      "span_stats(starts, 2, n)", "scrub_spans(t, starts, 2)",
      "winnow(t, 2, 3)", "md5_minhash_sigs(word_shingles(t, 2), 4)",
      "array_match_count(minhash_signature(t, 8, 2), minhash_signature(t2, 8, 2))",
      "sorted_intersect_count(sort_array(word_shingles(t, 1)), " +
        "sort_array(word_shingles(t2, 1)))",
      "lsh_probes(lsh_signature(v, 4), 4)",
      // geo.register
      "st_point(x, y)", s"st_x($g)", s"st_y($g)", s"st_xmin($g)", s"st_ymin($g)",
      s"st_xmax($g)", s"st_ymax($g)", s"st_centroid($g)", s"st_astext($g)",
      "st_geomfromgeojson(json)", s"st_asgeojson($g)", s"st_asgeojson($g, 3)",
      s"st_geometrytype($g)", s"st_isvalid($g)", s"st_isempty($g)",
      s"st_npoints($g)", "st_makeenvelope(x, y, x + 1, y + 1)",
      s"st_distance($g, st_point(x, y))", s"st_intersects($g, st_point(x, y))",
      s"st_contains($g, st_point(x, y))", "h3_latlng_to_cell_string(y, x, 5)")
    // the sweep calls every registered name: a new registration must
    // join it
    val registered = Seq("text", "geo").flatMap { f =>
      "one\\(\"([a-z0-9_]+)\"".r.findAllMatchIn(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
          s"src/main/scala/graft/functions/$f.scala")), "UTF-8")).map(_.group(1))
    }.toSet
    val called = registered.filter(n => calls.exists(_.contains(n + "(")))
    assert(registered.size > 40 && called == registered,
      s"not called: ${registered -- called}")

    // a null row, an edge row (empty text, id list and span list, zero
    // vector, empty geometry) and an ordinary row, read from Parquet so
    // the optimizer cannot fold the calls into the plan
    val dir = java.nio.file.Files.createTempDirectory("kernel-parity")
      .resolve("t").toString
    Seq(
      (None, None, None, None, None, None, None, None, None, None),
      (Some(""), Some(""), Some(Seq(0f, 0f, 0f, 0f)), Some(Seq.empty[Long]),
        Some(Seq.empty[Int]), Some(0), Some("POINT EMPTY"),
        Some("""{"type":"Point","coordinates":[0,0]}"""), Some(0.0), Some(0.0)),
      (Some("The quick brown fox, x@y.com; the quick dog"),
        Some("the quick brown cat"), Some(Seq(0.5f, -1f, 2f, 0.25f)),
        Some(Seq(7L, 3L, 11L)), Some(Seq(1, 3)), Some(8),
        Some("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))"),
        Some("""{"type":"LineString","coordinates":[[1,2],[3,4]]}"""),
        Some(1.5), Some(2.5))
    ).toDF("t", "t2", "v", "ids", "starts", "n", "wkt", "json", "x", "y")
      .write.parquet(dir)
    // bit-exact, NaN-safe, byte arrays by content
    def norm(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case b: Array[Byte] => b.toSeq
      case s: scala.collection.Seq[_] => s.map(norm)
      case r: org.apache.spark.sql.Row => r.toSeq.map(norm)
      case o => o
    }
    def rows(call: String) =
      spark.read.parquet(dir).selectExpr("x", call).orderBy("x").collect()
        .map(r => norm(r.get(1))).toSeq
    for (call <- calls) {
      val df = spark.read.parquet(dir).selectExpr(call)
      assert(!df.queryExecution.executedPlan.toString.contains("ScalaUDF"), call)
      assert(SparkTestSession.generatedSources(df).exists(_.contains("Eval.")),
        s"$call: no kernel call in generated code")
      val codegen = rows(call)
      val interpreted = withConf("spark.sql.codegen.wholeStage", "false") {
        withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(rows(call))
      }
      assert(codegen == interpreted, call)
      assert(codegen.head == null, s"$call: null row")
    }
  }
}
