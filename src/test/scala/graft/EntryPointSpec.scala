package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level shape of the main tree: sessions are built in one place
  * ([[GraftSession]]) and the program has four entry points. Scratch
  * mains and hand-copied session builders drift from the settings the
  * tests and the benchmark run with; this keeps them from coming back.
  */
class EntryPointSpec extends AnyFunSuite {

  private lazy val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala/graft"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala/graft not found above the working directory"))

  // (file name, source with comments removed): doc comments may show
  // builder usage, code may not
  private lazy val sources: List[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.map { p =>
      p.getFileName.toString -> Files.readString(p)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
    }
    finally walk.close()
  }

  test("SparkSession.builder() is called only in GraftSession") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val sites = sources.flatMap { case (f, s) => builder.findAllMatchIn(s).map(_ => f) }
    assert(sites == List("GraftSession.scala"))
  }

  test("only Main, Bench, Verify and Explain define a main") {
    val obj = """\bobject\s+(\w+)""".r
    val mainDef = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val owners = sources.flatMap { case (f, s) =>
      mainDef.findAllMatchIn(s).map { m =>
        obj.findAllMatchIn(s.substring(0, m.end)).toList.lastOption.fold(f)(_.group(1))
      }
    }
    assert(owners.sorted == List("Bench", "Explain", "Main", "Verify"))
  }
}
