package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The main jar ships the engine and five entry points, not measurement
  * experiments: any other `main` (a one-off probe) and any session built
  * outside [[LocalSession]] fails here.
  */
class MainsSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(mainRoot),
      s"$mainRoot not found under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally walk.close()
  }

  private val ObjectDecl = """\bobject\s+(\w+)""".r
  private val MainDef = """\bdef\s+main\s*\(""".r

  test("only Bench, Verify, Demo, QueryProfile and PlanDump define a main") {
    val mains = for {
      (path, text) <- sources
      m <- MainDef.findAllMatchIn(text)
    } yield ObjectDecl.findAllMatchIn(text.substring(0, m.start)).toSeq
      .lastOption.fold(s"<no object> in $path")(_.group(1))
    assert(mains.sorted == Seq("Bench", "Demo", "PlanDump", "QueryProfile", "Verify"))
    val apps = sources.collect {
      case (p, t) if """\bextends\s+App\b""".r.findFirstIn(t).nonEmpty => p
    }
    assert(apps.isEmpty, s"`extends App` mains: $apps")
  }

  test("SparkSession.builder() appears only in LocalSession") {
    val Builder = """\bSparkSession\s*\.\s*builder\b""".r
    val builders = sources.flatMap { case (path, text) =>
      Builder.findAllMatchIn(text).map(_ => path.getFileName.toString)
    }
    assert(builders == Seq("LocalSession.scala"))
  }
}
