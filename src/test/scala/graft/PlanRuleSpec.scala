package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.geo
import graft.plans.GraftExtensions
import graft.table.GeoTable

class PlanRuleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writtenTable(): String = {
    val out = java.nio.file.Files.createTempDirectory("graft_rule").toString + "/d"
    val df = spark.range(2000).toDF("id")
      .withColumn("geometry", geo.st_point(
        col("id") * 37 % 360 - 180, col("id") * 91 % 180 - 90))
    GeoTable.fromDataFrame(df, "geometry").addBbox().write(out)
    out
  }

  test("bbox pushdown rule injects prunable conjuncts for st_intersects") {
    GraftExtensions.install(spark)
    val out = writtenTable()
    val df = spark.read.parquet(out)
      .filter(geo.st_intersects(col("geometry"), geo.st_makeenvelope(-60, -30, 60, 30)))

    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("bbox") && optimized.contains("xmax"),
      s"expected bbox conjuncts in optimized plan:\n$optimized")

    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.contains("bbox.xmax"),
      s"expected bbox pushed filters in scan:\n${physical.take(2000)}")

    // semantics unchanged: same rows as the plain precise predicate
    // (points: envelope test == intersects here)
    val expected = spark.read.parquet(out)
      .filter(col("bbox.xmax") >= -60 && col("bbox.xmin") <= 60 &&
        col("bbox.ymax") >= -30 && col("bbox.ymin") <= 30)
      .count()
    assert(df.count() == expected)
  }

  test("rule matches the literal in either st_intersects argument order") {
    GraftExtensions.install(spark)
    val out = writtenTable()
    // literal FIRST (the reference's other call-site order)
    val df = spark.read.parquet(out)
      .filter(geo.st_intersects(geo.st_makeenvelope(-60, -30, 60, 30), col("geometry")))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("bbox.xmax"),
      s"expected bbox pushed filters for literal-first order:\n${physical.take(2000)}")
    val expected = spark.read.parquet(out)
      .filter(geo.st_intersects(col("geometry"), geo.st_makeenvelope(-60, -30, 60, 30)))
      .count()
    assert(df.count() == expected)
  }

  test("rule is a no-op without a bbox column and is idempotent") {
    GraftExtensions.install(spark)
    val df = spark.range(100).toDF("id")
      .withColumn("geometry", geo.st_point(col("id").cast("double"), lit(0.0)))
      .filter(geo.st_intersects(col("geometry"), geo.st_makeenvelope(0, -1, 50, 1)))
    assert(df.count() == 51) // ids 0..50
    // idempotence: re-optimizing the optimized plan adds nothing
    val once = graft.plans.BboxPushdownRule(df.queryExecution.optimizedPlan)
    val twice = graft.plans.BboxPushdownRule(once)
    assert(once.toString == twice.toString)
  }

  test("rule must NOT fire on st_intersects under OR (bbox overlap is " +
      "not implied for every surviving row)") {
    GraftExtensions.install(spark)
    val out = writtenTable()
    // rows far outside the envelope but with id < 100 satisfy the OR;
    // the old rule ANDed the bbox conjuncts on and dropped them
    val df = spark.read.parquet(out).filter(
      geo.st_intersects(col("geometry"), geo.st_makeenvelope(-1, -1, 1, 1))
        || col("id") < 100)
    val want = spark.read.parquet(out).collect().count { r =>
      val id = r.getAs[Long]("id")
      val x = id * 37 % 360 - 180; val y = id * 91 % 180 - 90
      (x >= -1 && x <= 1 && y >= -1 && y <= 1) || id < 100
    }
    assert(df.count() == want, s"OR semantics: got ${df.count()}, want $want")
  }

  test("pair metadata prunes when the relation carries a second binary " +
      "column (old heuristic had to skip)") {
    GraftExtensions.install(spark)
    val out = java.nio.file.Files.createTempDirectory("graft_rule").toString + "/d"
    val df = spark.range(2000).toDF("id")
      .withColumn("geometry", geo.st_point(
        col("id") * 37 % 360 - 180, col("id") * 91 % 180 - 90))
      .withColumn("payload", expr("cast(cast(id as string) as binary)"))
    GeoTable.fromDataFrame(df, "geometry").addBbox().write(out)
    val filtered = spark.read.parquet(out)
      .filter(geo.st_intersects(col("geometry"), geo.st_makeenvelope(-60, -30, 60, 30)))
    val physical = filtered.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("bbox.xmax"),
      s"pair metadata should identify the covering despite the payload column:\n${physical.take(2000)}")
    val expected = spark.read.parquet(out)
      .filter(col("bbox.xmax") >= -60 && col("bbox.xmin") <= 60 &&
        col("bbox.ymax") >= -30 && col("bbox.ymin") <= 30).count()
    assert(filtered.count() == expected)
  }

  test("post-join filter on one side's geometry prunes that side's scan") {
    GraftExtensions.install(spark)
    val out1 = writtenTable()
    val out2 = writtenTable()
    val l = spark.read.parquet(out1)
    val r = spark.read.parquet(out2).select(col("id").as("rid"),
      col("geometry").as("geometry_r"), col("bbox").as("bbox_r"))
    val joined = l.join(r, col("id") === col("rid"))
      .filter(geo.st_intersects(col("geometry_r"), geo.st_makeenvelope(-60, -30, 60, 30)))
    val physical = joined.queryExecution.executedPlan.toString
    assert(physical.contains("bbox.xmax"),
      s"right side's scan should carry bbox pushed filters:\n${physical.take(3000)}")
    val expected = l.join(
      spark.read.parquet(out2).select(col("id").as("rid"),
        col("geometry").as("geometry_r"), col("bbox").as("bbox_r"))
        .filter(col("bbox_r.xmax") >= -60 && col("bbox_r.xmin") <= 60 &&
          col("bbox_r.ymax") >= -30 && col("bbox_r.ymin") <= 30),
      col("id") === col("rid")).count()
    assert(joined.count() == expected)
  }

  test("join where the filtered side dropped its bbox: the OTHER side's " +
      "same-id covering must not prune (row alignment, soundness)") {
    GraftExtensions.install(spark)
    val out = writtenTable()
    // left keeps geometry but drops its bbox; right keeps only its bbox,
    // row-shifted by one id. Both carry the SAME pair id (same file) — a
    // unique-id match above the join would prune left rows by right's
    // shifted envelope. right_outer keeps the filter ABOVE the join
    // (left is the null-producing side, so pushdown can't rescue us).
    val l = spark.read.parquet(out).select(col("id"), col("geometry"))
    val r = spark.read.parquet(out).select((col("id") + 1).as("rid"),
      col("bbox").as("b2"))
    val joined = l.join(r, col("id") === col("rid"), "right_outer")
      .filter(geo.st_intersects(col("geometry"), geo.st_makeenvelope(-60, -30, 60, 30)))
    // surviving rows: matched ids 1..1999 whose OWN geometry intersects
    val want = spark.read.parquet(out)
      .filter(col("id") >= 1 && col("id") <= 1999 &&
        col("bbox.xmax") >= -60 && col("bbox.xmin") <= 60 &&
        col("bbox.ymax") >= -30 && col("bbox.ymin") <= 30).count()
    assert(joined.count() == want, s"got ${joined.count()}, want $want")
  }

  test("covering re-aliased ABOVE a misaligned join must not prune " +
      "(Alias changes the exprId; the walk must map through the Project)") {
    GraftExtensions.install(spark)
    val out = writtenTable()
    // same pair id on both sides, right's covering row-shifted by one id;
    // a Project ABOVE the join re-aliases the covering (new exprId), so a
    // walk that stops at the first node where the child no longer holds
    // both attributes would declare them aligned and prune left rows by
    // right's shifted envelope. right_outer keeps the filter above the
    // join (left is the null-producing side).
    val l = spark.read.parquet(out).select(col("id"), col("geometry"))
    val r = spark.read.parquet(out).select((col("id") + 1).as("rid"),
      col("bbox"))
    val joined = l.join(r, col("id") === col("rid"), "right_outer")
      .select(col("id"), col("geometry"), col("bbox").as("b3"))
      .withColumn("tag", rand(7)) // strands the filter above the Project
      .filter(geo.st_intersects(col("geometry"), geo.st_makeenvelope(-60, -30, 60, 30)))
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(!optimized.contains(".xmax"),
      s"misaligned covering must not prune even when re-aliased above the join:\n$optimized")
    // surviving rows: matched ids 1..1999 whose OWN geometry intersects
    val want = spark.read.parquet(out)
      .filter(col("id") >= 1 && col("id") <= 1999 &&
        col("bbox.xmax") >= -60 && col("bbox.xmin") <= 60 &&
        col("bbox.ymax") >= -30 && col("bbox.ymin") <= 30).count()
    assert(joined.count() == want, s"got ${joined.count()}, want $want")
  }

  test("aligned covering re-aliased above a join STILL prunes (the walk " +
      "maps through the Project instead of refusing)") {
    GraftExtensions.install(spark)
    val out1 = writtenTable()
    val out2 = writtenTable()
    val l = spark.read.parquet(out1).select(col("id"), col("geometry"),
      col("bbox"))
    val r = spark.read.parquet(out2).select((col("id")).as("rid"))
    // left carries BOTH geometry and its own covering through the join;
    // re-aliasing the covering above the join must not lose the pruning.
    // rand() blocks predicate pushdown so the filter stays stranded above.
    val joined = l.join(r, col("id") === col("rid"), "left_outer")
      .select(col("id"), col("geometry"), col("bbox").as("b4"))
      .withColumn("tag", rand(7))
      .filter(geo.st_intersects(col("geometry"), geo.st_makeenvelope(-60, -30, 60, 30)))
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert("""b4#\d+\.xmax""".r.findFirstIn(optimized).isDefined ||
      """bbox#\d+\.xmax""".r.findFirstIn(optimized).isDefined,
      s"aligned re-aliased covering should still prune:\n$optimized")
    val want = spark.read.parquet(out1)
      .filter(col("bbox.xmax") >= -60 && col("bbox.xmin") <= 60 &&
        col("bbox.ymax") >= -30 && col("bbox.ymin") <= 30).count()
    assert(joined.count() == want, s"got ${joined.count()}, want $want")
  }

  test("self-join shares one pair id on both sides -> alignment walk " +
      "resolves the covering from the FILTERED geometry's own side") {
    GraftExtensions.install(spark)
    val out = writtenTable()
    val l = spark.read.parquet(out)
    val r = spark.read.parquet(out).select(col("id").as("rid"),
      col("geometry").as("g2"), col("bbox").as("b2"))
    // a non-deterministic projected column (sample tag) blocks predicate
    // pushdown, stranding the filter ABOVE the join where BOTH same-id
    // coverings are in scope — pruning with the OTHER side's covering
    // would silently drop rows. The alignment walk rejects bbox (left)
    // and accepts b2 (g2's own side), so the rule adds exactly the sound
    // covering's conjuncts at the stranded filter.
    val joined = l.join(r, col("id") === col("rid"), "left_outer")
      .withColumn("tag", rand(7))
      .filter(geo.st_intersects(col("g2"), geo.st_makeenvelope(-60, -30, 60, 30)))
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert("""b2#\d+\.xmax""".r.findFirstIn(optimized).isDefined,
      s"expected g2's own covering (b2) in the rewrite:\n$optimized")
    assert("""bbox#\d+\.xmax""".r.findFirstIn(optimized).isEmpty,
      s"left side's same-id covering must NOT prune g2's filter:\n$optimized")
    val want = l.join(r, col("id") === col("rid"), "left_outer")
      .filter(col("b2.xmax") >= -60 && col("b2.xmin") <= 60 &&
        col("b2.ymax") >= -30 && col("b2.ymin") <= 30).count()
    assert(joined.count() == want, s"got ${joined.count()}, want $want")
  }

  test("post-join filter on BOTH sides' geometries prunes both scans") {
    GraftExtensions.install(spark)
    val out1 = writtenTable()
    val out2 = writtenTable()
    val l = spark.read.parquet(out1)
    val r = spark.read.parquet(out2).select(col("id").as("rid"),
      col("geometry").as("g2"), col("bbox").as("b2"))
    val env = geo.st_makeenvelope(-60, -30, 60, 30)
    val joined = l.join(r, col("id") === col("rid"))
      .filter(geo.st_intersects(col("geometry"), env) &&
        geo.st_intersects(col("g2"), env))
    // inner join: Catalyst pushes each side's conjunct below the join,
    // each side's filter resolves its OWN covering -> both scans carry
    // bbox pushed filters
    val physical = joined.queryExecution.executedPlan.toString
    assert(physical.split("PushedFilters").count(_.contains("xmax")) >= 2,
      s"both scans should carry bbox pushed filters:\n${physical.take(3000)}")
    val want = l.filter(col("bbox.xmax") >= -60 && col("bbox.xmin") <= 60 &&
        col("bbox.ymax") >= -30 && col("bbox.ymin") <= 30)
      .join(r.filter(col("b2.xmax") >= -60 && col("b2.xmin") <= 60 &&
        col("b2.ymax") >= -30 && col("b2.ymin") <= 30),
        col("id") === col("rid")).count()
    assert(joined.count() == want, s"got ${joined.count()}, want $want")
  }

  test("filter stranded above a FULL OUTER join still gets both " +
      "coverings' scalar conjuncts (pair alignment across the join)") {
    GraftExtensions.install(spark)
    val out1 = writtenTable()
    val out2 = writtenTable()
    val l = spark.read.parquet(out1)
    val r = spark.read.parquet(out2).select(col("id").as("rid"),
      col("geometry").as("g2"), col("bbox").as("b2"))
    val env = geo.st_makeenvelope(-60, -30, 60, 30)
    // the rand() sample tag blocks predicate pushdown (non-deterministic
    // project field) and shields the full outer join from
    // EliminateOuterJoin, so the filter stays stranded above the join —
    // exactly the case the old join-free restriction left unrewritten
    val joined = l.join(r, col("id") === col("rid"), "full_outer")
      .withColumn("tag", rand(7))
      .filter(geo.st_intersects(col("geometry"), env) &&
        geo.st_intersects(col("g2"), env))
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.contains("FullOuter"),
      s"premise: the join must stay full outer for the stranded case:\n$optimized")
    assert("""bbox#\d+\.xmax""".r.findFirstIn(optimized).isDefined &&
      """b2#\d+\.xmax""".r.findFirstIn(optimized).isDefined,
      s"expected BOTH coverings' conjuncts above the full outer join:\n$optimized")
    val want = l.join(r, col("id") === col("rid"), "full_outer")
      .filter(geo.st_intersects(col("geometry"), env) &&
        geo.st_intersects(col("g2"), env) &&
        col("bbox.xmax") >= -60 && col("bbox.xmin") <= 60 &&
        col("bbox.ymax") >= -30 && col("bbox.ymin") <= 30 &&
        col("b2.xmax") >= -60 && col("b2.xmin") <= 60 &&
        col("b2.ymax") >= -30 && col("b2.ymin") <= 30).count()
    assert(joined.count() == want, s"got ${joined.count()}, want $want")
  }

  test("rule skips plans with two geometry-typed columns (the covering " +
      "may describe the OTHER one)") {
    GraftExtensions.install(spark)
    val out = writtenTable()
    // a second binary column rides along: the rule cannot know which
    // geometry the bbox struct covers, so it must not prune
    val df = spark.read.parquet(out)
      .withColumn("geometry2", geo.st_point(lit(100.0), lit(80.0)))
      .filter(geo.st_intersects(col("geometry2"),
        geo.st_makeenvelope(99, 79, 101, 81)))
    // every row's geometry2 intersects; pruning by the FIRST geometry's
    // bbox (the old behavior) would drop most rows
    assert(df.count() == 2000, s"got ${df.count()}")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("bbox.xmax"),
      s"rule must not add conjuncts for an uncovered geometry:\n$optimized")
  }

  test("rule must not prune through Expand (cube null-fills slots)") {
    GraftExtensions.install(spark)
    val out = writtenTable()
    val df = spark.read.parquet(out)
      .cube(col("geometry"), col("bbox")).count()
      .filter(geo.st_intersects(col("geometry"),
        geo.st_makeenvelope(-60, -30, 60, 30)))
    // grouping sets where bbox is null-filled but geometry kept would
    // have the appended conjunct silently drop subtotal rows
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!"""bbox#\d+\.xmax""".r.findFirstIn(optimized).isDefined,
      s"no bbox conjunct may be added above Expand:\n$optimized")
    val want = spark.read.parquet(out)
      .cube(col("geometry"), col("bbox")).count()
      .filter(geo.st_intersects(col("geometry"),
        geo.st_makeenvelope(-60, -30, 60, 30))).count()
    assert(df.count() == want)
  }

  /** Round-18 Par.spread probe pins (VERDICT r17 #7): spread decisions
    * must be identical to the r17 rdd-probe behavior on its supported
    * inputs — spread a 1-partition scan, leave a >= cores scan alone —
    * WITHOUT Dataset.rdd (which forces full physical planning and, under
    * AQE, materializes upstream stages). Non-scan-rooted and
    * checkpointed inputs are structural no-ops.
    */
  private def hasSpreadExchange(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }.nonEmpty

  test("Par.spread fires on a 1-partition scan-rooted input") {
    // spread only fires below defaultParallelism: a 1-core session has
    // nothing to spread to, so the pin has no subject there
    assume(spark.sparkContext.defaultParallelism > 1,
      "needs defaultParallelism >= 2")
    val out = java.nio.file.Files.createTempDirectory("graft_spread").toString + "/one"
    spark.range(1000).toDF("id").coalesce(1).write.parquet(out)
    val df = spark.read.parquet(out)
    assert(graft.ops.Par.plannedScanPartitions(df).contains(1))
    val spreadDf = graft.ops.Par.spread(df, col("id"))
    assert(hasSpreadExchange(spreadDf), "1-partition scan must be spread")
    // narrow ops above the scan keep it scan-rooted
    val narrow = df.filter(col("id") > 10).select(col("id"))
    assert(hasSpreadExchange(graft.ops.Par.spread(narrow, col("id"))))
    assert(spreadDf.count() == 1000)
  }

  test("Par.spread is a no-op on a many-partition scan, a shuffled " +
      "input, and a localCheckpoint'd input") {
    val cores = spark.sparkContext.defaultParallelism
    val out = java.nio.file.Files.createTempDirectory("graft_spread").toString + "/many"
    spark.range(20000).toDF("id")
      .withColumn("pad", md5(col("id").cast("string")))
      .write.parquet(out)
    // small files bin-pack into one split at the default 128m, so force
    // many planned splits the way a production-size scan would have them
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    val oldOpen = spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val many = spark.read.parquet(out)
      assert(graft.ops.Par.plannedScanPartitions(many).exists(_ >= cores))
      assert(!hasSpreadExchange(graft.ops.Par.spread(many, col("id"))),
        ">= cores scan must not be re-shuffled")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      spark.conf.set("spark.sql.files.openCostInBytes", oldOpen)
    }
    // aggregated input: upstream exchange — probing it under AQE would
    // materialize stages, so spread must refuse structurally
    val one = spark.read.parquet(out).groupBy(col("id")).count()
      .select(col("id"))
    assert(!graft.ops.Par.scanRooted(one.queryExecution.analyzed))
    val spreadAgg = graft.ops.Par.spread(one, col("id"))
    assert(spreadAgg eq one, "non-scan-rooted input must pass through")
    // checkpointed input (LogicalRDD leaf): RDD-level persistence the
    // storageLevel guard can't see (ADVICE r17) — structural no-op now
    val ck = spark.range(100).toDF("id").localCheckpoint(true)
    assert(graft.ops.Par.spread(ck, col("id")) eq ck)
  }
}
