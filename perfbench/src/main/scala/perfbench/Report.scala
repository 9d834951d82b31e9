package perfbench

import scala.collection.mutable

/** What one workload run produced: metrics by name with their unit,
  * operation accounting, correctness problems and free-form stamps.
  */
final class Report(val workload: String) {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val stamps = mutable.LinkedHashMap[String, Any]()
  val problems = mutable.ArrayBuffer[String]()
  /** Wall seconds of each phase of the run, for reading a slow run. */
  val phases = mutable.LinkedHashMap[String, Double]()
  var attempted = 0
  var failed = 0

  def e2e(name: String, value: Double, unit: String): Unit =
    e2e(name) = (value, unit)

  def layer(name: String, value: Double, unit: String): Unit =
    layer(name) = (value, unit)

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Record a failed correctness check. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def correct: Boolean = problems.isEmpty && attempted > failed

  /** Latencies (ms) of the successful operations, in order. */
  val latenciesMs = mutable.ArrayBuffer[Double]()

  /** Run one operation; a failure is counted and contributes no timing. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      latenciesMs += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        if (problems.size < 20) problems += s"operation failed: $e"
        None
    }
  }
}
