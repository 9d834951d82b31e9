package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree lint gate for driver materializations (round-11, VERDICT
  * r10 item 8): the "every collect is model-sized" 100 TB claim is
  * enforced structurally, not by review discipline. A raw `.collect()`
  * (or `collectAsList`) anywhere in `src/main` outside the one sanctioned
  * helper fails this suite — new code must route through
  * [[graft.util.CollectCapped]] and declare an explicit row bound plus a
  * label naming the model-sized artifact being materialized.
  */
class CollectAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val helper = Paths.get("src/main/scala/graft/util/CollectCapped.scala")

  private def scalaFiles: Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  /** `.collect()` with empty parens is the Spark action; Scala collection
    * `.collect {pf}` / `.collect(pf)` never parses as an empty call, so
    * the pattern has no false positives on plain-collections code.
    */
  private val raw = Seq(".collect()", ".collectAsList(", ".toLocalIterator(")

  /** Documented exemptions: call sites whose memory profile is bounded by
    * construction WITHOUT a row bound. toLocalIterator holds at most one
    * partition in flight — it's the streaming alternative to collect, not
    * a materialization — and PmTiles uses it to pump ndjson into a
    * subprocess stdin. */
  private val exempt = Set(
    ("sources/PmTiles.scala", ".toLocalIterator("))

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("no raw driver materialization outside CollectCapped") {
    val offenders = for {
      f <- scalaFiles if f != helper
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if !isComment(line)
      pat <- raw if line.contains(pat)
      if !exempt.exists { case (suffix, p2) =>
        f.toString.endsWith(suffix) && p2 == pat }
    } yield s"$f:${i + 1}: ${line.trim} [$pat]"
    assert(offenders.isEmpty,
      "raw collect outside graft.util.CollectCapped — declare a bound:\n" +
        offenders.mkString("\n"))
  }

  test("no eager sorted_pairs on execution paths — pair expansion must " +
      "stream through sorted_pairs_gen") {
    // round-15: explode(sorted_pairs(...)) materializes the full
    // O(cap^2) boxed triangle per bucket before the Generate consumes it
    // (found as an executor OOM at cap 10^4). Exec paths must use the
    // streaming generator; the eager array form stays ONLY as the
    // registered SQL function (functions/text.scala) and the kernel the
    // generator's spec checks equivalence against.
    val allowed = Set("functions/SketchExpressions.scala",
      "functions/text.scala")
    val offenders = for {
      f <- scalaFiles
      if !allowed.exists(s => f.toString.endsWith(s))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if !isComment(line)
      if line.contains("sorted_pairs(") && !line.contains("sorted_pairs_gen(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "eager sorted_pairs on an exec path — use sorted_pairs_gen:\n" +
        offenders.mkString("\n"))
  }

  test("the helper holds exactly one sanctioned collect and enforces its bound") {
    val codeLines = Files.readAllLines(helper).asScala.filterNot(isComment)
    assert(codeLines.map(l => raw.count(l.contains)).sum == 1,
      "CollectCapped must contain exactly one raw collect")
    // behavior: a violated bound fails loudly with the label
    val spark = SparkTestSession.spark
    val df = spark.range(10).toDF("x")
    val got = graft.util.CollectCapped(df, 10, "gate self-test")
    assert(got.length == 10)
    val e = intercept[IllegalArgumentException] {
      graft.util.CollectCapped(df, 9, "gate self-test")
    }
    assert(e.getMessage.contains("gate self-test") &&
      e.getMessage.contains("model-size bound"))
  }
}
