package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level shape of the main tree: sessions are built in one place
  * ([[GraftSession]]), the program has four entry points, and every main
  * source file is reachable from one of them. Scratch mains, hand-copied
  * session builders and code no run reaches drift from the settings the
  * tests and the benchmark run with; this keeps them from coming back.
  * The one exception is a closed list of three streaming operators that
  * only their specs run.
  */
class EntryPointSpec extends AnyFunSuite {

  private lazy val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala/graft"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala/graft not found above the working directory"))

  // (file name, source with comments removed) for every file under
  // src/main/scala: doc comments may show builder usage or cite a type,
  // code may not
  private lazy val sources: List[(String, String)] = {
    val walk = Files.walk(root.getParent)
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

  test("every main source file is reachable from an entry point or a registered class") {
    // roots: the four mains, plus the classes Spark and Hadoop load by
    // name from the resources (the twitch-irc source, the local FS)
    val resources = root.getParent.getParent.resolve("resources")
    val registered = Seq(
      "META-INF/services/org.apache.spark.sql.sources.DataSourceRegister",
      "core-site.xml").flatMap { f =>
      """\bgraft(?:\.\w+)+""".r.findAllIn(Files.readString(resources.resolve(f)))
        .map(_.split('.').last).toSeq
    }
    assert(registered.nonEmpty)
    val rootTypes = Set("Main", "Bench", "Verify", "Explain") ++ registered

    // a file reaches another when its code names a type the other declares
    val declares = """\b(?:class|object|trait)\s+(\w+)""".r
    val types = sources.map { case (f, s) =>
      f -> declares.findAllMatchIn(s).map(_.group(1)).toSet
    }
    val text = sources.toMap
    def names(code: String, t: Set[String]) =
      t.exists(n => s"\\b$n\\b".r.findFirstIn(code).nonEmpty)
    @annotation.tailrec
    def reach(seen: Set[String], frontier: Set[String]): Set[String] =
      if (frontier.isEmpty) seen
      else {
        val next = types.collect {
          case (f, t) if !seen(f) && frontier.exists(g => names(text(g), t)) => f
        }.toSet
        reach(seen ++ next, next)
      }
    val entries = types.collect { case (f, t) if (t & rootTypes).nonEmpty => f }.toSet
    val reached = reach(entries, entries)
    val unreached = types.map(_._1).filterNot(reached).sorted
    assert(unreached.isEmpty, s"main files no entry point reaches: $unreached")
  }
}
