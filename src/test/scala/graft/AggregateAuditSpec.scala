package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree lint gate for fixed-width long-vector aggregates: one
  * Catalyst class, `graft.ops.LongVectorAgg`, owns the buffer plumbing
  * of `TypedImperativeAggregate[Array[Long]]` (buffer creation, eval,
  * serialization, offsets), and each aggregate is a `LongFold` case
  * class with only its width, name, update and merge. Another class in
  * `src/main/scala` extending `TypedImperativeAggregate[Array[Long]]`
  * repeats that plumbing, and fails this suite.
  */
class AggregateAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def scalaFiles: Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** A declaration header extending the long-vector aggregate: up to the
    * class body, so a body-less class cannot borrow the next one's.
    */
  private val longVectorParent =
    "^[^{]*\\bextends\\s+TypedImperativeAggregate\\s*\\[\\s*Array\\s*\\[\\s*Long\\s*\\]\\s*\\]".r
  private val classDecl = "class ([A-Za-z0-9_]+)".r

  /** `(file, class name)` of each class in `src` that extends
    * `TypedImperativeAggregate[Array[Long]]`.
    */
  private[graft] def longVectorAggregates(f: String, src: String): Seq[(String, String)] = {
    val code = src.linesIterator.filterNot(isComment).mkString("\n")
    code.split("(?=\\bclass )").toSeq.flatMap { block =>
      classDecl.findPrefixMatchOf(block).map(_.group(1)).toSeq
        .filter(_ => longVectorParent.findPrefixMatchOf(block).isDefined)
        .map(name => (f, name))
    }
  }

  test("the gate recognizes a long-vector aggregate class") {
    val src =
      """object X {
        |  // case class Old(child: Expression) extends TypedImperativeAggregate[Array[Long]]
        |  case class GradAgg(
        |      child: Expression,
        |      mutableAggBufferOffset: Int = 0,
        |      inputAggBufferOffset: Int = 0)
        |    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
        |    override def createAggregationBuffer(): Array[Long] = new Array[Long](4)
        |  }
        |  case class Fold(dims: Int)
        |  case class Capped(child: Expression, cap: Int)
        |    extends TypedImperativeAggregate[Buffer] with UnaryLike[Expression] {
        |    def f(): Array[Long] = new Array[Long](cap)
        |  }
        |  final class Sums(children: Seq[Expression])
        |      extends TypedImperativeAggregate[ Array[ Long ] ]
        |}""".stripMargin
    assert(longVectorAggregates("X.scala", src) ==
      Seq(("X.scala", "GradAgg"), ("X.scala", "Sums")))
  }

  test("LongVectorAgg is the only TypedImperativeAggregate[Array[Long]] in " +
      "src/main — write a new one as a LongFold") {
    val found = scalaFiles.flatMap(f =>
      longVectorAggregates(f.toString, new String(Files.readAllBytes(f), UTF_8)))
    assert(found.map(_._2) == Seq("LongVectorAgg"),
      "classes extending TypedImperativeAggregate[Array[Long]] — declare " +
        "each as a graft.ops.LongFold over LongVectorAgg:\n" +
        found.map { case (f, n) => s"$f: $n" }.mkString("\n"))
  }
}
