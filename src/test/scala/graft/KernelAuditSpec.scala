package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree lint gate for kernel expressions: a kernel is a static
  * method on an eval object (`SketchEval`, `GeoEval`, `VectorEval`) plus
  * one `Kernel.kernel` call (a Spark `StaticInvoke`) in its Column
  * wrapper. A hand-written Catalyst class in `graft/functions` (a case
  * class, or an abstract base of them) whose codegen is a single
  * `defineCodeGen`/`nullSafeCodeGen` call into an eval object repeats
  * what `StaticInvoke` already does, and fails this suite.
  */
class KernelAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft/functions")

  private def scalaFiles: Seq[Path] =
    Files.list(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** The `doGenCode` of a case class body: from its `def` up to the
    * next member.
    */
  private val genCode = "def doGenCode[\\s\\S]*?(?=\\boverride\\b|$)".r
  private val codegenHelper = "\\b(defineCodeGen|nullSafeCodeGen)\\(".r
  /** A call into an eval object, by name or through a string constant
    * naming it (`s"$E.minhash(...)"`).
    */
  private val evalCall = "(\\$\\{?E\\}?|SketchEval|GeoEval|VectorEval)\\.[A-Za-z0-9_$]+\\(".r

  private val classDecl = "class ([A-Za-z0-9_]+)".r

  /** `(file, class name)` of each one-call kernel class in `src`: a case
    * class, or an abstract base whose subclasses inherit the call.
    */
  private[graft] def oneCallKernels(f: String, src: String): Seq[(String, String)] = {
    val code = src.linesIterator.filterNot(isComment).mkString("\n")
    code.split("(?=\\bclass )").toSeq.flatMap { block =>
      classDecl.findPrefixMatchOf(block).map(_.group(1)).toSeq.flatMap { name =>
        genCode.findFirstIn(block).filter { g =>
          codegenHelper.findAllIn(g).size == 1 && evalCall.findAllIn(g).size == 1
        }.map(_ => (f, name))
      }
    }
  }

  test("the gate recognizes a one-call kernel class") {
    val src =
      """object X {
        |  private val E = "graft.functions.SketchEval"
        |  case class RepStats(child: Expression)
        |      extends UnaryExpression with ImplicitCastInputTypes {
        |    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
        |      defineCodeGen(ctx, ev, c => s"$E.repStats($c)")
        |    override protected def withNewChildInternal(newChild: Expression) =
        |      copy(child = newChild)
        |  }
        |  abstract class GeoUnary extends UnaryExpression {
        |    def evalMethod: String
        |    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
        |      nullSafeCodeGen(ctx, ev, c => s"GeoEval.$evalMethod($c)")
        |  }
        |  case class Gen(child: Expression) extends UnaryExpression
        |      with Generator with CodegenFallback
        |  case class Bucket(child: Expression) extends UnaryExpression {
        |    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
        |      val c = child.genCode(ctx)
        |      ev.copy(code = code"${c.code} int ${ev.value} = ${c.isNull} ? 0 : GeoEval.bucketOf(${c.value});")
        |    }
        |  }
        |}""".stripMargin
    assert(oneCallKernels("X.scala", src) ==
      Seq(("X.scala", "RepStats"), ("X.scala", "GeoUnary")))
  }

  test("no one-call kernel expression class in graft/functions — build " +
      "a kernel with Kernel.kernel") {
    val files = scalaFiles
    assert(files.exists(_.toString.endsWith("SketchExpressions.scala")))
    val offenders = files.flatMap(f =>
      oneCallKernels(f.toString, new String(Files.readAllBytes(f), UTF_8)))
    assert(offenders.isEmpty,
      "expression classes whose codegen is one eval call — declare each " +
        "as a Kernel.kernel call in its Column wrapper:\n" +
        offenders.map { case (f, n) => s"$f: $n" }.mkString("\n"))
  }
}
