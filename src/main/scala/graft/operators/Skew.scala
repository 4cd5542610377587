package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation helpers. Spark's AQE splits skewed SHUFFLE partitions
  * for joins, but a single hot GROUP BY key still funnels through one
  * reducer for the final aggregate. Two-phase salted aggregation bounds
  * any key's reducer fan-in to `saltBuckets` partial rows.
  */
object Skew {

  /** `groupBy(key).agg(sum(valueCol))` in two phases: (key, salt) partial
    * sums, then final sum per key. Adds one extra (tiny) shuffle over the
    * partials; worth it when key frequency is pathological (the classic
    * hot-key wordcount at web scale).
    */
  def saltedSum(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      resultCol: String,
      saltBuckets: Int = 64): DataFrame =
    df
      .withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(sum(col(valueCol)).alias("__partial"))
      .groupBy(keyCol)
      .agg(sum(col("__partial")).alias(resultCol))

  /** Salted count — the wordcount shape. */
  def saltedCount(df: DataFrame, keyCol: String, resultCol: String, saltBuckets: Int = 64): DataFrame =
    saltedSum(df.withColumn("__one", lit(1L)), keyCol, "__one", resultCol, saltBuckets)

  /** Hot-key-hardened LEFT equi-join for lookups whose build side is
    * UNIQUE per key (dimension/count tables — the LM's gram counts):
    * probe rows carrying one of the bounded `hotKeys` never enter the
    * join's shuffle at all. The probe splits on the broadcast hot-key
    * list; the hot slice joins the (≤ |hotKeys|-row, broadcast) hot
    * build rows map-side, the cold slice shuffle-joins the remainder —
    * whose key distribution is hot-free by construction. Row-for-row
    * equal to `probe.join(build, keys, "left")` (union order is
    * irrelevant to the aggregating/ranking consumers).
    *
    * vs AQE skew-join: AQE splits a skewed partition only past its
    * size thresholds and still sorts/ships the hot rows; this removes
    * them from the exchange entirely, at the cost of the probe being
    * referenced twice (its upstream EXCHANGE is reuse-deduped by
    * Catalyst — the classic hot/cold split trade).
    *
    * `hotKeys` must be BOUNDED (a top-K over the build side's counts —
    * driver-broadcastable) and deterministic (total-order ranked) for
    * reproducible plans; membership does not affect results.
    */
  /** Hash-repartition `df` up to the session's shuffle parallelism —
    * ONLY when its physical plan yields fewer partitions (a single
    * parquet file, a filtered slice, a one-shard crawl segment). The
    * scale guard is the r22 generalization of EditDistanceJoin.keyed's
    * unconditional repartition: a real corpus scan already has
    * thousands of splits and must NOT pay a payload-wide exchange just
    * to "add parallelism" (guide §2.4 — accidental repartitions), but a
    * narrow input in front of a CPU-heavy per-row kernel (shingle
    * hashing, SRP plane products) serializes the whole expansion onto a
    * handful of tasks. Row set unchanged; partitioning keys on the id,
    * never on a payload column.
    */
  def spreadIfNarrow(df: DataFrame, keyCol: String): DataFrame = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    if (df.rdd.getNumPartitions < p) df.repartition(p, col(keyCol)) else df
  }

  def hotColdLeftJoin(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      hotKeys: DataFrame): DataFrame = {
    require(keys.nonEmpty, "hotColdLeftJoin: no join keys")
    // the probe feeds BOTH branches — materialize it once (or chained
    // splits re-execute their upstream per branch, doubling per level;
    // measured 5x wall on the 3-level LM chain before this line
    // existed). One linear scalar-row materialization per split, never
    // the corpus text. r21: lazy PERSIST instead of the eager
    // checkpoint — measured best of the three materializations here
    // (q118 3.75 → 1.2 s): no blocking driver job per split level, both
    // branches read the cached blocks, and (unlike localCheckpoint's
    // stat-less LogicalRDD) the cached relation carries statistics, so
    // the planner can still auto-broadcast genuinely small sides of the
    // downstream joins. The CacheManager entry is session-scoped;
    // long-lived sessions clear between pipelines (graft.Bench/Verify
    // clear per query).
    val p = probe.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no .distinct() on the hot list (r22): every consumer is a
    // left-semi or left-anti probe or a semi prune of the build side —
    // all duplicate-insensitive — so deduplication buys nothing but an
    // extra aggregate exchange per split level (×3 on the LM chain);
    // SkewSpec pins row equality including duplicate hot-list entries
    val hk = hotKeys.select(keys.map(col): _*)
    val hot = p
      .join(broadcast(hk), keys, "left_semi")
      .join(broadcast(build.join(broadcast(hk), keys, "left_semi")), keys, "left")
    val cold = p
      .join(broadcast(hk), keys, "left_anti")
      .join(build, keys, "left")
    hot.unionByName(cold)
  }
}
