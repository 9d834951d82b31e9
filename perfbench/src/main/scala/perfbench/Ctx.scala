package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One run's settings and the measurement tools every workload shares. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: Path, val tiny: Boolean) {

  val trace = new Trace
  val counters = new SparkCounters

  /** Attach the engine listener only around traced operations, so an
    * untraced operation in the same run pays nothing for it.
    */
  def withCounters[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      spark.sparkContext.addSparkListener(counters)
      try body
      finally {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
      }
    }

  /** Force a plan through Spark's `noop` sink. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Run the workload's set-up `times` times in fresh directories and
    * record the median as `setup_s`; the last directory is kept.
    */
  def setup(rep: Report, times: Int)(build: Path => Unit): Path = {
    val secs = rep.phase("setup")((1 to times).map { k =>
      val dir = work.resolve(s"setup-$k")
      Ctx.deleteTree(dir)
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      build(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (k < times) Ctx.deleteTree(dir)
      s
    })
    rep.e2e("setup_s", Stats.median(secs), "s")
    rep.stamps("setup_samples_s") = secs
    work.resolve(s"setup-$times")
  }

  /** Closed loop with one client: `op(i, tracedOp)` back to back until
    * `seconds` have passed and at least `minOps` ran. A traced run
    * alternates pairs of untraced and traced operations, so the two are
    * compared under the same conditions and each sees both parities of
    * `i` (geo_extract alternates layouts by parity).
    */
  def loop(minOps: Int, collectBetween: Boolean = false)(op: (Int, Boolean) => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < minOps || elapsed < seconds) {
      // long operations start from a collected heap, so one operation's
      // garbage is not charged to the next
      if (collectBetween) System.gc()
      op(i, traced && i / 2 % 2 == 1)
      i += 1
    }
    elapsed
  }
}

object Ctx {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Bytes of every regular file under `p`, hidden files excluded. */
  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_))
      .filter(f => !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
      .mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Data files under `p`, in path order. */
  def partFiles(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try {
      val b = Seq.newBuilder[Path]
      s.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sorted().forEach(f => b += f)
      b.result()
    } finally s.close()
  }
}
