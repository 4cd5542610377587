package graft.io

import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.Paths

import scala.jdk.CollectionConverters._
import scala.sys.process._

import graft.SparkTestBase
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.SparkSession

/** `core-site.xml` on the classpath sends every `file:` access to the
  * nio classes: through `FileSystem` (table writes, Spark's file
  * listing) and through `FileContext` (Spark's checkpoint manager), for
  * sessions built by [[graft.GraftSession]] and by a plain builder.
  */
class LocalFsWiringSpec extends SparkTestBase {

  test("a plain SparkSession.builder() session resolves file: to NioLocalFileSystem") {
    // a fresh JVM, as the benchmark harness or an embedding app starts one:
    // this JVM's session already exists and getOrCreate would return it
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx512m") ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), PlainSessionProbe.getClass.getName.stripSuffix("$"))
    val out = cmd.!!(ProcessLogger(_ => ()))
    assert(out.linesIterator.toList.last == classOf[NioLocalFileSystem].getName)
  }

  test("a GraftSession session resolves file: to NioLocalFileSystem") {
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(spark.sessionState.newHadoopConf()).getRawFileSystem.getClass ==
      classOf[NioRawLocalFileSystem])
  }

  test("the checkpoint manager's FileContext resolves file: to NioLocalFs") {
    val fc = FileContext.getFileContext(URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }
}

/** Builds a session the way the benchmark harness does and prints the
  * class `file:` resolves to.
  */
object PlainSessionProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try println(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass.getName)
    finally spark.stop()
  }
}
