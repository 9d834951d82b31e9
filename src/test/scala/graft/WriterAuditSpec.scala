package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree lint gate for the GeoParquet write path: every `GeoTable`
  * writer writes through ONE helper, `writeGeoParquet`, whose Parquet
  * format puts `geo` in the footer as Spark writes each file. So in
  * `graft/table`:
  *  - no method but the helper writes Parquet (a `DataFrameWriter` that
  *    ends in `.parquet(`/`.save(`, or a parquet-mr file writer);
  *  - no writer, a method that writes Parquet or calls the helper, makes
  *    a footer pass over its output (`Footer.writeGeoMetadata`,
  *    `rewriteInPlace`, `withKeyValueMetadata`). The conversions
  *    (`setGeoParquetVersion`, `addBboxMetadata`) rewrite files they did
  *    not just write, and keep their rewrite.
  */
class WriterAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft/table")
  private val helper = "writeGeoParquet"

  private def scalaFiles: Seq[Path] =
    Files.list(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  private val defStart = "(?m)^\\s*(?:(?:private|protected)(?:\\[\\w+\\])?\\s+)?(?:override\\s+)?def\\s+(\\w+)".r
  /** `DataFrame.write` (not a `write(` call of some other object). */
  private val dfWriter = "\\.write\\b(?!\\s*\\()".r
  private val parquetSink = "\\.(parquet|save)\\(".r
  private val fileWriter = "\\bParquet(File)?Writer\\b".r
  private val footerPass = "\\b(writeGeoMetadata|rewriteInPlace|withKeyValueMetadata)\\(".r

  /** `(method, offence)` of each method in `src` that writes Parquet
    * outside the helper, or makes a footer pass although it writes.
    */
  private[graft] def offenders(src: String): Seq[(String, String)] = {
    val code = src.linesIterator.filterNot(isComment).mkString("\n")
    val starts = defStart.findAllMatchIn(code).toSeq
    starts.zip(starts.drop(1).map(_.start) :+ code.length).flatMap { case (m, end) =>
      val (name, body) = (m.group(1), code.substring(m.start, end))
      val writesParquet = (dfWriter.findFirstIn(body).isDefined &&
        parquetSink.findFirstIn(body).isDefined) || fileWriter.findFirstIn(body).isDefined
      val callsHelper = name != helper && body.contains(s"$helper(")
      val direct = if (writesParquet && name != helper) Seq(name -> "writes Parquet") else Nil
      val pass = if ((writesParquet || callsHelper) && footerPass.findFirstIn(body).isDefined)
        Seq(name -> "footer pass after its write") else Nil
      direct ++ pass
    }
  }

  test("the gate recognizes direct Parquet writes and footer passes") {
    val src =
      """object X {
        |  def write(path: String): Unit = {
        |    writeGeoParquet(df, path)
        |    Footer.writeGeoMetadata(path, gm)
        |  }
        |  def partitionByZ(out: String): Unit =
        |    df.repartition(col("z"))
        |      .write.partitionBy("z").mode("overwrite").parquet(out)
        |  private def splitBy(out: String): Unit = {
        |    var w = df.write.mode("overwrite")
        |    w.parquet(out)
        |    parts.foreach(p => Footer.rewriteInPlace(p, conf)(plan))
        |  }
        |  def raw(p: Path): Unit = new ParquetFileWriter(file, schema, mode, 1, 1).start()
        |  // df.write.parquet(out) in a comment is not code
        |  def setVersion(path: String): Unit =
        |    parts.foreach(p => Footer.rewriteInPlace(p, conf)(plan))
        |  def read(path: String): DataFrame = spark.read.parquet(path)
        |  def writeCsv(path: String): Unit = out.write.mode("overwrite").csv(path)
        |  def writeShape(path: String): Unit = Shapefile.write(path, geoms)
        |  private def writeGeoParquet(out: DataFrame, path: String): Unit =
        |    out.write.format(cls).mode("overwrite").save(path)
        |}""".stripMargin
    assert(offenders(src) == Seq(
      "write" -> "footer pass after its write",
      "partitionByZ" -> "writes Parquet",
      "splitBy" -> "writes Parquet", "splitBy" -> "footer pass after its write",
      "raw" -> "writes Parquet"))
  }

  test("graft/table writes Parquet only through the helper, and no writer " +
      "makes a footer pass") {
    val found = scalaFiles.flatMap { f =>
      offenders(new String(Files.readAllBytes(f), UTF_8)).map { case (m, why) => s"$f: $m $why" }
    }
    assert(found.isEmpty, "write GeoParquet through writeGeoParquet:\n" + found.mkString("\n"))
    val helperDefs = scalaFiles.map(f => new String(Files.readAllBytes(f), UTF_8))
      .map(s => s"def $helper\\(".r.findAllIn(s).size).sum
    assert(helperDefs == 1, "exactly one write helper")
  }
}
