package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-only strict mode: a whole-stage-codegen compile failure
    // aborts instead of silently running interpreted (catches e.g.
    // generated static calls that don't resolve)
    val strict =
      if (sys.env.contains("SPARK_GRAFT_STRICT_CODEGEN"))
        Map("spark.sql.codegen.fallback" -> "false")
      else Map.empty[String, String]
    val spark = GraftSession.create("graft-verify", extra = strict)
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated name prefixes); driver
    // always runs the full registry
    val subset = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
    val selected = subset match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None     => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      GraftSession.releaseCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
