package graft

import graft.functions.TextFunctions
import org.apache.spark.SparkConf
import org.apache.spark.storage.StorageLevel

/** [[GraftSession]]: the shared settings every entry point gets, the
  * local master only when none is set, and the between-query sweep.
  */
class GraftSessionSpec extends SparkTestBase {
  import spark.implicits._

  private val shared = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false")

  test("no master set: local[cores] with as many shuffle partitions") {
    val s = GraftSession.settings(new SparkConf(false), 6)
    assert(s == shared ++ Map(
      "spark.master" -> "local[6]", "spark.sql.shuffle.partitions" -> "6"))
  }

  test("a master that is already set is kept, with its own partition count") {
    val s = GraftSession.settings(new SparkConf(false).setMaster("spark://h:7077"), 6)
    assert(s == shared)
  }

  test("the session carries the shared settings and registers GraftExtensions") {
    shared.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // a fresh session gets its functions from the registered extensions
    // only (GraftFunctions.register on another session does not carry over)
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT md5_hash60('abc')").as[Long].head() ==
      TextFunctions.md5Hash60Local("abc"))
  }

  test("releaseCaches drops cached relations and persisted RDDs") {
    val df = Seq(1, 2, 3).toDF("x").filter($"x" > 1)
    df.cache().count()
    val rdd = spark.sparkContext.parallelize(1 to 10).persist()
    rdd.count()
    assert(df.storageLevel != StorageLevel.NONE)
    GraftSession.releaseCaches(spark)
    assert(df.storageLevel == StorageLevel.NONE)
    assert(rdd.getStorageLevel == StorageLevel.NONE)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }
}
