package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the library jar's entry points. Every `main` under src/main ships
  * to users, so a new one-off dev tool has to be argued for here rather
  * than accumulate: measurements belong in Bench, plan and timing
  * inspection in Probe, and their results in the committed notes.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src", "main", "scala")

  /** Objects declaring a `def main(` line, named by the nearest preceding
    * `object` declaration in the same file.
    */
  private def mainObjects: Set[String] = {
    val objectDecl = """(?m)^\s*object\s+(\w+)""".r
    val mainDecl = """(?m)^\s*def main\(""".r
    val files = Files.walk(mainRoot)
    try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        mainDecl.findAllMatchIn(src).map { m =>
          objectDecl.findAllMatchIn(src.substring(0, m.start))
            .map(_.group(1)).toSeq.lastOption.getOrElse(s"<no object in $p>")
        }
      }.toSet
    finally files.close()
  }

  test("src/main entry points are exactly Bench, Verify, Probe and ClusterSmoke") {
    assert(Files.isDirectory(mainRoot), s"$mainRoot missing: run from the repo root")
    assert(mainObjects == Set("Bench", "Verify", "Probe", "ClusterSmoke"))
  }
}
