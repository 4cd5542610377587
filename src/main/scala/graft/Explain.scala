package graft

import java.nio.file.{Files, Paths}

/** Writes `EXPLAIN.md`: the formatted physical plan of EVERY registry
  * query at the given scale factor — the plan-quality evidence
  * (pushdown, pruning, broadcast choices, exchange keys, codegen spans)
  * in one reviewable artifact. Regenerate with:
  * `sbt "runMain graft.Explain /root/testdata/sf0.001 EXPLAIN.md"`.
  */
object Explain {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("EXPLAIN.md")
    val spark = GraftSession.create("graft-explain", logLevel = "ERROR")
    val all = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# Physical plans (all registry queries)\n\n")
    sb.append(s"Generated by `graft.Explain` on `$sfDir`; formatted plans BEFORE\n")
    sb.append("adaptive execution (AQE re-plans exchanges at runtime — broadcast\n")
    sb.append("decisions below are the static ones, which AQE can only improve).\n")
    all.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n").append(plan).append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${all.size} plans)")
    spark.stop()
  }
}
