package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene the padding audit checks by hand — automated: no `???`
  * stubs anywhere in main sources (even comment-prose `???` trips stub
  * greps, so it is banned outright — round-8 verdict item 9), and one
  * session factory. */
class SourceAuditSpec extends AnyFunSuite {

  private def mainSources: Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    } finally s.close()
  }

  test("no ??? anywhere in main sources (code OR prose)") {
    val offenders = mainSources.flatMap { p =>
      java.nio.file.Files.readAllLines(p).toArray.zipWithIndex.collect {
        case (l: String, i) if l.contains("???") => s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty, s"??? found at: ${offenders.mkString(", ")}")
  }

  test("EngineSession.scala is the only file under src/main that builds a SparkSession") {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val builders = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
        .map(_.toString).toVector
    } finally s.close()
    assert(builders === Seq("src/main/scala/graft/EngineSession.scala"),
      "a main that builds its own session copies the posture: call EngineSession.local")
  }
}
