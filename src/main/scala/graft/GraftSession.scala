package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every entry point (`Main`,
  * `Bench`, `Verify`, `Explain`) and the test base share these settings
  * and add only what differs between them — an app name, a log level,
  * and `Verify`'s strict-codegen switch:
  *
  *  - UTC session time zone;
  *  - `InferFiltersFromGenerate` excluded (it duplicates interpreted
  *    generator inputs into inferred filters; README "Mind
  *    CodegenFallback");
  *  - [[GraftExtensions]] registered: the native SQL functions plus the
  *    deployment guards, priced the way a deployed session pays them;
  *  - UI off;
  *  - `local[SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
  *    partitions, unless a master is already set (e.g. by
  *    `spark-submit --master`), which is then kept with its defaults.
  */
object GraftSession {

  /** Local cores when no master is set: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The shared settings, given the configuration already in effect
    * (`spark.*` system properties, as `spark-submit` leaves them).
    */
  def settings(existing: SparkConf, cores: Int): Map[String, String] = {
    val shared = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
      "spark.sql.extensions" -> classOf[GraftExtensions].getName,
      "spark.ui.enabled" -> "false")
    if (existing.contains("spark.master")) shared
    else shared ++ Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString)
  }

  /** Build (or join) the session; `extra` settings win over the shared ones. */
  def create(
      appName: String,
      cores: Int = cpus,
      logLevel: String = "WARN",
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .config(settings(new SparkConf(), cores) ++ extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Drop every cached relation and every persisted RDD, blocking until
    * the blocks are gone. Operators persist multi-consumer intermediates
    * (TfIdf, NgramLm, Skew, loop RDDs, localCheckpoint blocks);
    * `clearCache()` alone leaves the raw RDD persists behind. Run between
    * queries so each one starts from a clean session: one leaked persist
    * once inflated 28 unrelated queries by 20-380% (BASELINE.md, round
    * 21), and hundreds of stale cache entries made late queries pay
    * plan-matching and eviction churn (q120: 2.7 s isolated vs 5.0 s late
    * in a polluted session).
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}
