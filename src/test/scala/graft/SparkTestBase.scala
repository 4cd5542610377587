package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session (Spark's
  * getOrCreate) keeps the suite fast; every spec uses small hand-built
  * frames, never the driver fixtures.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Run `body` with `spark.sql.codegen.fallback=false` (a janino compile
    * failure becomes FATAL instead of a silent interpreted fallback),
    * restoring the PREVIOUS value afterwards — not a hardcoded default,
    * so a suite that intentionally runs under a different setting isn't
    * masked by an earlier strict-codegen test.
    */
  def withStrictCodegen[T](body: => T): T = {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkTestBase {
  // every spec runs with the production settings, guard rules included
  // (500+ specs double as a no-misfire sweep for the deployment guards,
  // warn mode unless a test opts into fail), pinned at 4 cores whatever
  // SPARK_GRAFT_CPUS says
  lazy val session: SparkSession =
    GraftSession.create("graft-tests", cores = 4, logLevel = "ERROR")
}
