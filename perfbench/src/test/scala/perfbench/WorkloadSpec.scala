package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Listener aggregation on real jobs, and every workload end to end at
  * the smoke-test size through its correctness checks.
  */
class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Ctx.deleteTree(work)
  }

  // one directory per run: the query layer caches table relations by path
  private def ctx(traced: Boolean, dir: String = "listener") =
    new Ctx(spark, seed = 5, seconds = 0.5, traced = traced, work = work.resolve(dir), tiny = true)

  test("listener totals cover exactly the jobs inside the window") {
    val c = ctx(traced = true)
    val sc = spark.sparkContext
    sc.parallelize(1 to 10, 2).count() // before the window: not counted
    Thread.sleep(20)
    val from = System.currentTimeMillis()
    c.withCounters(on = true) {
      sc.parallelize(1 to 100, 3).map(identity).count()
      sc.parallelize(1 to 100, 3).map(i => (i % 7, i)).reduceByKey(_ + _, 2).count()
    }
    val to = System.currentTimeMillis()
    val t = c.counters.window(from, to)
    assert(t.jobs == 2)
    assert(t.stages == 3)
    assert(t.tasks == 3 + 3 + 2)
    assert(t.shuffleWrite > 0 && t.shuffleRead == t.shuffleWrite)
    assert(t.stageBusyMs <= t.wallMs && t.driverGapS >= 0)
    // detached after the block: later jobs add nothing
    sc.parallelize(1 to 10, 2).count()
    assert(c.counters.window(from, System.currentTimeMillis()).jobs == 2)
    assert(c.counters.window(to + 1, System.currentTimeMillis()).jobs == 0)
  }

  private val expected = java.nio.file.Paths.get("expected.json").toAbsolutePath.toString

  for (w <- Main.Workloads; traced <- Seq(false, true))
    test(s"$w at smoke size passes its checks (traced=$traced)") {
      val rep = Main.run(ctx(traced, s"$w-$traced"), w, Some(expected))
      assert(rep.problems.isEmpty, rep.problems.mkString("\n"))
      assert(rep.correct && rep.failed == 0 && rep.attempted > 0)
      assert(Set("setup_s", "op_p50_ms", "op_tail_ms", "ops_per_s").subsetOf(rep.e2e.keySet))
      assert(rep.e2e.values.forall { case (v, _) => v > 0 })
      if (traced)
        assert(Set("spark.jobs", "spark.driver_gap_s", "jvm.gc_s", "trace.overhead_frac")
          .subsetOf(rep.layer.keySet))
    }
}
