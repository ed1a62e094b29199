package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every main builds its session through [[Session]], and the program
  * has exactly its four entry points: Bench, Verify, GenScale and the
  * dev Harness. A new main or session builder must replace one. */
class SourceHygieneSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def filesWith(pattern: String): Seq[String] =
    sources.flatMap { case (p, text) =>
      Seq.fill(pattern.r.findAllMatchIn(text).size)(
        p.getFileName.toString.stripSuffix(".scala"))
    }.sorted

  test("exactly one SparkSession.builder() call") {
    assert(filesWith("""SparkSession\.builder\(\)""") === Seq("Session"))
  }

  test("exactly four mains: Bench, GenScale, Harness, Verify") {
    assert(filesWith("""def main\(""") ===
      Seq("Bench", "GenScale", "Harness", "Verify"))
  }
}
