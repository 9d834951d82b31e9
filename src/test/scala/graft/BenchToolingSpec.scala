package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench measurement tooling — the same-window DuckDB oracle worker the
  * spike adjudicator uses (round-11 verdict item 1). The worker shells
  * out to python3+duckdb, which this image carries for driver-side
  * oracle work; if either is absent the helper must degrade to None
  * (Bench then falls back to the snapshot oracle), never throw.
  */
class BenchToolingSpec extends AnyFunSuite {

  private def duckdbAvailable: Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", "import duckdb").start()
      p.waitFor(20, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0
    } catch { case _: Throwable => false }

  test("Prof timeline: driver gaps between jobs, stages that ran, call site " +
      "outside graft.util") {
    import graft.tools.Prof
    val details = "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "graft.util.CollectCapped$.apply(CollectCapped.scala:27)\n" +
      "graft.ops.Dedup$.unionFindLabels(Dedup.scala:880)\n" +
      "graft.ops.Dedup$.connectedComponents(Dedup.scala:860)"
    assert(Prof.callSite(details, "", "collect at CollectCapped.scala:27") ==
      "graft.ops.Dedup$.unionFindLabels(Dedup.scala:880)")
    // an AQE job's stage: the SQL execution's call site, else the name
    val aqe = "java.util.concurrent.CompletableFuture.run(CompletableFuture.java:1768)"
    assert(Prof.callSite(aqe, details, "x") ==
      "graft.ops.Dedup$.unionFindLabels(Dedup.scala:880)")
    assert(Prof.callSite(aqe, "", "count at X:1") == "count at X:1")
    val jobs = Seq(
      Prof.Job(7, 1010, 1030, Seq(Prof.Stage(3, 4, "a"), Prof.Stage(4, 2, "b"))),
      Prof.Job(8, 1050, 1060, Seq(Prof.Stage(5, 1, "c"))))
    val out = Prof.render("q", jobs, 1000, 1075).linesIterator.toSeq
    // gaps 10 + 20 before the jobs, 15 after the last: 45 of 75 ms
    assert(out.head == "q: wall 75 ms, 2 jobs, job time 30 ms, driver gap 45 ms " +
      "(after the last job 15 ms)", out.head)
    assert(out(2).split("\\s+").filter(_.nonEmpty).toSeq ==
      Seq("7", "10", "10", "20", "2", "6", "b"), out(2))
    assert(out(3).split("\\s+").filter(_.nonEmpty).toSeq ==
      Seq("8", "50", "20", "10", "1", "1", "c"), out(3))
  }

  test("timeOracleSameWindow times a real query against the sf tables") {
    assume(duckdbAvailable, "python3+duckdb not in this image")
    val t = Bench.timeOracleSameWindow("/root/testdata/sf0.001",
      "SELECT count(*) FROM documents WHERE lang = 'en'")
    assert(t.isDefined, "worker should return a timing")
    assert(t.get > 0.0 && t.get < 30.0)
  }

  test("timeOracleSameWindow returns None on broken SQL, never throws") {
    assume(duckdbAvailable, "python3+duckdb not in this image")
    assert(Bench.timeOracleSameWindow("/root/testdata/sf0.001",
      "SELECT FROM no_such_table WHERE").isEmpty)
  }

  // ---- snapshot parsing: the gate deciding whether an oracle comparison
  // ships at all -------------------------------------------------------

  test("parseSnapshot refuses a snapshot from a different scale factor") {
    val txt = """{"sf": "sf0.01", "times": {"q1_agg": 0.5}}"""
    assert(Bench.parseSnapshot(txt, "sf0.1").isEmpty,
      "a stale sf0.01 snapshot must never denominate an sf0.1 ratio")
    assert(Bench.parseSnapshot(txt, "sf0.01").contains(Map("q1_agg" -> 0.5)))
  }

  test("parseSnapshot accepts both indented and compact sf fields") {
    assert(Bench.parseSnapshot("""{"sf":"sf0.1","times":{"q2_x":1.25}}""",
      "sf0.1").contains(Map("q2_x" -> 1.25)))
  }

  test("parseSnapshot preserves timeout sentinels and refuses empty maps") {
    val m = Bench.parseSnapshot(
      """{"sf": "sf0.1", "times": {"q28_minhash": -1.0, "q1_agg": 2.0}}""",
      "sf0.1").get
    assert(m("q28_minhash") == -1.0 && m("q1_agg") == 2.0)
    assert(Bench.parseSnapshot("""{"sf": "sf0.1", "times": {}}""",
      "sf0.1").isEmpty, "right sf but zero queries must fall back to no-oracle")
  }

  test("parseSnapshot ignores non-query metadata fields") {
    // cap_sec/threads/runs must not parse as query entries
    val m = Bench.parseSnapshot(
      """{"sf": "sf0.1", "cap_sec": 30.0, "threads": 32, "runs": 2,
        | "times": {"q9_hist": 0.1}}""".stripMargin, "sf0.1").get
    assert(m == Map("q9_hist" -> 0.1))
  }

  // ---- adjudication candidate selection + weak set ----------------------

  test("adjudicationCandidates: >=1s AND >=2x, timeouts excluded") {
    val results = Seq("fast_ok" -> 0.4, "slow_2x" -> 2.0, "slow_fastoracle" -> 1.2,
      "slow_timeout" -> 9.0, "borderline" -> 1.0)
    val oracle = Map("fast_ok" -> 0.05, "slow_2x" -> 0.9,
      "slow_fastoracle" -> 1.0, "slow_timeout" -> -1.0, "borderline" -> 0.5)
    val cands = Bench.adjudicationCandidates(results, oracle).map(_._1)
    assert(cands == Seq("slow_2x", "borderline"),
      "sub-1s-with-trivial-oracle and oracle-timeout queries must never " +
        s"enter adjudication; got $cands")
  }

  test("adjudicationCandidates: oracle floor closes the sub-second blind spot") {
    // the round-14 q63 shape: 0.9 s in-suite vs a 0.39 s oracle = 2.3x —
    // under the old >=1s-only gate this never adjudicated; with the
    // oracle >= 0.2 s floor it must
    val results = Seq("q63_shape" -> 0.9, "job_floor" -> 0.45,
      "real_but_ok" -> 0.35)
    val oracle = Map("q63_shape" -> 0.39,
      // 75x ratio but the oracle answered from metadata — the Spark job
      // floor explains the whole gap, must stay excluded
      "job_floor" -> 0.006,
      // oracle did real work but Spark is under 2x — excluded
      "real_but_ok" -> 0.30)
    val cands = Bench.adjudicationCandidates(results, oracle).map(_._1)
    assert(cands == Seq("q63_shape"), s"got $cands")
  }

  test("weakAfterAdjudication prefers the same-window oracle denominator") {
    // solo 1.5 s vs snapshot 0.5 s = 3x (weak) BUT same-window 1.0 s = 1.5x
    val cleared = ("q_win", 3.0, 1.5, 0.5, Some(1.0))
    // solo 1.5 s vs snapshot 0.5 s = 3x, no same-window obtained -> weak
    val stillWeak = ("q_weak", 3.0, 1.5, 0.5, None)
    // solo dropped under 1 s AND the oracle is trivial -> never weak
    val fastNow = ("q_fast", 3.0, 0.4, 0.1, None)
    // sub-second solo but the oracle denominator is real work (>=0.2 s)
    // at >2x -> weak (the same two-sided gate as candidate selection)
    val subSecReal = ("q_subsec", 1.2, 0.9, 0.39, None)
    assert(Bench.weakAfterAdjudication(
      Seq(cleared, stillWeak, fastNow, subSecReal))
      == Seq("q_weak", "q_subsec"))
  }

  test("weak gate uses ONE oracle value on floor and ratio (r15 #2)") {
    // the q177 shape: snapshot 0.213 qualified it as a candidate, but the
    // same-window oracle dipped to 0.171 < floor — under the old split
    // the floor condition silently acquitted a 3.1x solo ratio. With
    // oracleDenominator = max(snapshot, same-window) the floor decision
    // can never be acquitted by a same-window dip once the snapshot
    // qualified the query.
    val q177shape = ("q_dip", 0.9, 0.53, 0.213, Some(0.171))
    assert(Bench.weakAfterAdjudication(Seq(q177shape)) == Seq("q_dip"),
      "a candidate qualified on the snapshot floor must not be " +
        "floor-acquitted by a same-window oracle dip")
    // property: for any snapshot >= oracleFloor (i.e. every query that
    // qualified as a candidate via the oracle floor), the weak gate's
    // floor condition holds regardless of the same-window reading —
    // candidate and weak gates agree on the did-real-work decision
    for (d <- Seq(0.2, 0.25, 1.0, 5.0); sw <- Seq(None, Some(0.01), Some(0.19), Some(3.0))) {
      assert(Bench.oracleDenominator(d, sw) >= 0.2,
        s"floor asymmetry reintroduced at d=$d sw=$sw")
    }
    // and the ratio uses the same denominator: solo 1.5 vs snapshot 0.5 /
    // same-window 1.0 -> den 1.0 -> ratio 1.5 -> cleared (not judged
    // against the 0.5 snapshot the floor decision used)
    assert(Bench.weakAfterAdjudication(
      Seq(("q_max", 3.0, 1.5, 0.5, Some(1.0)))).isEmpty)
  }

  test("splitWeakByExponent: measured <0.2 exponents suppress, absence convicts") {
    val exps = Map("q_floor" -> 0.045, "q_border" -> 0.2, "q_real" -> 0.51)
    val (still, supp) = Bench.splitWeakByExponent(
      Seq("q_floor", "q_border", "q_real", "q_unmeasured"), exps)
    assert(still == Seq("q_border", "q_real", "q_unmeasured"),
      "only a MEASURED exponent strictly below the bar may suppress; " +
        s"got $still")
    assert(supp == Seq("q_floor" -> 0.045))
  }

  test("splitWeakByWorkAsymmetry: marker AND exponent required, " +
      "either absence convicts (r16 #1)") {
    val markers = Map("q_work" -> 0.051, "q_markerOnly" -> 0.2)
    val exps = Map("q_work" -> 0.93, "q_expOnly" -> 0.95)
    val (still, supp) = Bench.splitWeakByWorkAsymmetry(
      Seq("q_work", "q_markerOnly", "q_expOnly", "q_neither"), markers, exps)
    assert(still == Seq("q_markerOnly", "q_expOnly", "q_neither"),
      "suppression requires BOTH a measured unit-cost marker and a " +
        s"measured x10 exponent; got $still")
    assert(supp == Seq("q_work" -> 0.051),
      "suppressed entries publish with their measured unit cost")
  }

  test("loadWorkMarkers parses the committed marker table") {
    val m = Bench.loadWorkMarkers()
    assert(m.contains("q188_image_resize"),
      "dev/work_asymmetry.json must carry the measured q188 marker")
    assert(m("q188_image_resize") > 0.0 && m("q188_image_resize") < 10.0,
      s"q188 unit cost outside a plausible ms/image range: $m")
    assert(!m.contains("_note"))
    assert(Bench.loadWorkMarkers("/nonexistent/path.json").isEmpty)
  }

  test("simulated loaded window: the q188 conviction closes with " +
      "measured evidence, weak_adjudicated empty (r16 #1)") {
    // the driver's r16 post-commit window shape: loadavg ~4.8 pushed
    // q188 solo to 1.041 s vs a 0.049 s formula-replay oracle = 21x —
    // convicted under the unweakened two-sided bar. The r16 verdict
    // predicted a payload-linear exponent (~1) that only the new
    // work-asymmetry category could suppress; MEASUREMENT said
    // otherwise: ScaleCurve --batch read 0.844 s -> 1.165 s across a
    // full x10 decade (exponent 0.140) — at sf0.1 the 8x8 decode→
    // resize→encode kernel is microseconds of CPU per image and the
    // ratio is Spark's job floor, so the PINNED floor policy clears it
    // with its exponent published. The work marker (measured unit
    // costs, dev/work_asymmetry.json) stays on file as the category's
    // evidence for payload tiers where the kernel dominates.
    val loaded = Seq(("q188_image_resize", 1.15, 1.041, 0.0369, Some(0.049)))
    val convicted = Bench.weakAfterAdjudication(loaded)
    assert(convicted == Seq("q188_image_resize"),
      "the loaded-window shape must still CONVICT under the unweakened " +
        "bar — suppression is a published category, not a loosened gate")
    val exps = Bench.loadExponents()
    assert(exps.get("q188_image_resize").exists(_ < 0.2),
      "q188's x10 exponent must be MEASURED below the floor bar " +
        s"(ScaleCurve --batch); got ${exps.get("q188_image_resize")}")
    val (afterFloor, floorSupp) = Bench.splitWeakByExponent(convicted, exps)
    assert(afterFloor.isEmpty &&
      floorSupp.map(_._1) == Seq("q188_image_resize"),
      "the floor split must clear q188 WITH its measured exponent")
    // the work marker exists as measured standby evidence, and the
    // category machinery still functions downstream of the floor split
    assert(Bench.loadWorkMarkers().contains("q188_image_resize"))
    val (weak, _) = Bench.splitWeakByWorkAsymmetry(
      afterFloor, Bench.loadWorkMarkers(), exps)
    assert(weak.isEmpty, s"weak_adjudicated must be empty; got $weak")
  }

  test("ScaleCurve.mergeExponents: merge-don't-clobber, note preserved " +
      "(r16 #3)") {
    val existing =
      """{
        |  "_note": "table note",
        |  "q47_ngram_jaccard": 0.053,
        |  "q63_ann_pq": 0.007
        |}""".stripMargin
    val merged = graft.tools.ScaleCurve.mergeExponents(existing,
      Seq("q63_ann_pq" -> 0.012, "q188_image_resize" -> 0.931))
    // prior entries not re-measured survive
    assert(merged.contains(""""q47_ngram_jaccard": 0.053"""))
    // re-measured entries are overwritten, not duplicated
    assert(merged.contains(""""q63_ann_pq": 0.012"""))
    assert(!merged.contains("0.007"))
    // new entries land, note survives, output stays loadable
    assert(merged.contains(""""q188_image_resize": 0.931"""))
    assert(merged.contains("table note"))
    val dir = java.nio.file.Files.createTempDirectory("graft_merge")
    val f = dir.resolve("exps.json")
    java.nio.file.Files.writeString(f, merged)
    val back = Bench.loadExponents(f.toString)
    assert(back == Map("q47_ngram_jaccard" -> 0.053, "q63_ann_pq" -> 0.012,
      "q188_image_resize" -> 0.931))
  }

  test("ScaleCurve.eligibleClass matches the adjudication gate's reach") {
    val bench = """{"metric":"total","queries":{"q1_a":0.9,"q2_b":0.3,
      "q3_c":0.85,"q4_d":0.4,"q5_e":2.0},"duckdb_sec":{"q1_a":0.05,
      "q2_b":0.25,"q4_d":0.1,"q5_e":-1.0},"sf":"x"}"""
      .replace("\n", "")
    val elig = graft.tools.ScaleCurve.eligibleClass(bench)
    // q1: in-suite >= 0.8 with a real oracle -> eligible
    // q2: oracle >= 0.2 -> eligible despite 0.3 s in-suite
    // q3: no oracle at all -> can never be convicted -> excluded
    // q4: sub-thresholds both -> excluded
    // q5: oracle timeout (-1) -> excluded (Spark wins by construction)
    assert(elig == Set("q1_a", "q2_b"), s"got $elig")
  }

  test("loadExponents parses the committed table and skips the note") {
    val m = Bench.loadExponents()
    assert(m.nonEmpty, "dev/scaling_exponents.json must exist and parse")
    assert(m.contains("q144_session_paths") && m("q144_session_paths") < 0.2,
      "q144's measured floor-artifact exponent must be in the table")
    assert(!m.contains("_note"))
    assert(m.values.forall(e => e > -1.0 && e < 1.5),
      s"exponents outside a plausible x10 range: $m")
    assert(Bench.loadExponents("/nonexistent/path.json").isEmpty)
  }

  // ---- stdout truncation: the driver tail-capture contract --------------

  test("fitCount keeps the emitted line inside the stdout budget") {
    val entries = (1 to 50).map(i => f""""q${i}%02d_x":0.123""")
    val headLen = 300
    val budget = 600
    val fit = Bench.fitCount(entries, headLen, budget)
    assert(fit > 0 && fit < entries.size)
    val body = entries.take(fit).mkString(",")
    // reserve (120) covers the queries_note suffix + closing braces
    assert(headLen + body.length + 120 <= budget + entries.head.length,
      s"fit=$fit body=${body.length}")
    assert(Bench.fitCount(entries, headLen = 700, budget = 600) == 0,
      "oversized head must yield zero entries, not a negative count")
    assert(Bench.fitCount(Seq.empty, 0, 600) == 0)
    assert(Bench.fitCount(entries, 0, 100000) == entries.size)
  }

  // ---- protocol-drift guard: Bench's embedded worker vs dev script ------

  test("embedded oracle worker agrees with dev/bench_oracle.py on tables") {
    val dev = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("dev/bench_oracle.py")), "UTF-8")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      assert(Bench.oracleWorkerPy.contains("\"" + t + "\""),
        s"embedded worker lost table $t")
      assert(dev.contains("\"" + t + "\""),
        s"dev/bench_oracle.py lost table $t")
    }
    // same timing protocol: both must cap and thread identically
    assert(Bench.oracleWorkerPy.contains("SET threads TO"))
    assert(dev.contains("SET threads TO"))
  }
}
