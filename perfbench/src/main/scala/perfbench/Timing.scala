package perfbench

/** Turns a workload's samples into the reported metrics. */
object Timing {

  /** End-to-end figures of the untraced operations: median, the tail
    * percentile the sample supports, and completed operations per second
    * of operation time. A sample too small to support any percentile
    * reports its median as the tail: a maximum of a few would be noise.
    */
  def e2e(rep: Report, latMs: Seq[Double], measuredS: Double): Unit = {
    if (latMs.isEmpty) return
    rep.e2e("op_p50_ms", Stats.median(latMs), "ms")
    val p = Stats.tailPercentile(latMs.size).getOrElse(50.0)
    rep.e2e("op_tail_ms", Stats.percentile(latMs, p), "ms")
    rep.e2e("ops_per_s", latMs.size / (latMs.sum / 1e3), "1/s")
    rep.stamps("latencies_ms") = latMs
    rep.stamps("tail_percentile") = p
    rep.stamps("measured_s") = measuredS
  }

  /** Engine counters per traced operation. */
  def engine(rep: Report, t: SparkCounters.Totals, ops: Int): Unit = {
    rep.layer("spark.jobs", t.jobs.toDouble / ops, "count")
    rep.layer("spark.stages", t.stages.toDouble / ops, "count")
    rep.layer("spark.tasks", t.tasks.toDouble / ops, "count")
    rep.layer("spark.executor_cpu_s", t.cpuS / ops, "s")
    rep.layer("spark.executor_run_s", t.runS / ops, "s")
    rep.layer("spark.scan_bytes", t.scanBytes.toDouble / ops, "bytes")
    rep.layer("spark.shuffle_read_bytes", t.shuffleRead.toDouble / ops, "bytes")
    rep.layer("spark.shuffle_write_bytes", t.shuffleWrite.toDouble / ops, "bytes")
    rep.layer("spark.spill_bytes", t.spill.toDouble / ops, "bytes")
    rep.layer("spark.driver_gap_s", t.driverGapS / ops, "s")
  }

  /** Traced against untraced operations of the same run. */
  def overhead(rep: Report, untraced: Seq[Double], traced: Seq[Double]): Unit =
    if (untraced.nonEmpty && traced.nonEmpty)
      rep.layer("trace.overhead_frac", Stats.median(traced) / Stats.median(untraced) - 1, "ratio")
}
