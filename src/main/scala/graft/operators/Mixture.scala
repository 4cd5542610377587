package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LEARNED mixture weights — the DoReMi-class step (Xie et al. 2023,
  * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
  * Pretraining", public arXiv 2305.10429) between the fixed-weight
  * mixture (q73) and temperature scaling (q94): instead of a
  * hand-written weight table, per-source weights are LEARNED from a
  * per-doc quality/loss signal by multiplicative-weights updates with
  * uniform smoothing — DoReMi's Group-DRO update re-expressed so every
  * cross-engine quantity is integer micros and the DuckDB oracle
  * replays the ENTIRE trainer bit-for-bit (the q145/q154 trainer
  * discipline, applied to the mixture optimizer). (Reference analogue:
  * none; training-data-pipeline extension.)
  *
  * Per round t over the per-source table (all micros, `q_i` = source
  * i's mean signal):
  *
  *   avg    = round(Σ w_i·q_i / Σ w_i)               (weighted mean)
  *   fac_i  = 1e6 + round(lr·(q_i - avg))            (multiplicative step)
  *   wr_i   = round(w_i·fac_i / 1e6)
  *   wn_i   = round(wr_i·1e6 / Σ wr)                 (renormalize)
  *   w_i    = round(wn_i·(1e6 - eps)/1e6) + round(eps/K)   (uniform smoothing)
  *
  * Sources above the weighted-average signal UP-weight, below
  * DOWN-weight; the `eps` mix-back is DoReMi's uniform smoothing — no
  * source starves to zero, so the mixture stays exploratory and the
  * weights stay a valid sampling distribution. Every sum is a LONG
  * (order-free), every division one fixed-order double op, every round
  * HALF_UP — Spark driver, DuckDB, and the in-spec twin produce
  * identical weights (prototyped bit-for-bit before this operator was
  * written). To learn from a LOSS signal (DoReMi's excess loss —
  * upweight the hard domains), pass the loss as the signal and a
  * positive `lr` upweights above-average-loss sources the same way.
  *
  * Scale shape: ONE corpus aggregate computes the per-source
  * `(n_docs, quality_micro)` table; the trainer runs driver-side over
  * the collected K rows (sources are config-scale by contract — a
  * mixture over millions of "sources" is a different operator); the
  * learned rates broadcast back onto the corpus and the sample is the
  * q73 scan-side hash predicate — the corpus never shuffles, and the
  * kept set is deterministic, nested in the budget, and
  * engine-portable.
  */
object Mixture {

  private val Micro = 1000000L

  private def roundHalfUp(x: Double): Long =
    new java.math.BigDecimal(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Per-source signal table: `(source, n_docs, quality_micro)` where
    * `quality_micro = round(1e6 · mean(positive))` — one aggregate over
    * the corpus, the only corpus-sized work in the learn phase. Null
    * sources are excluded (they cannot key a portable mixture).
    */
  def sourceQuality(
      docs: DataFrame,
      sourceCol: String,
      positive: Column): DataFrame =
    docs
      .filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).alias("source"))
      .agg(
        count(lit(1)).alias("n_docs"),
        round(sum(when(positive, 1L).otherwise(0L)).cast("double")
          * lit(1000000.0) / count(lit(1)).cast("double"))
          .cast("long").alias("quality_micro"))

  /** The multiplicative-weights trainer over a collected per-source
    * table — pure driver-side integer arithmetic (see the object
    * scaladoc for the exact update). Input pairs are
    * `(quality_micro)` keyed by position; returns the final
    * weight array in micros (same order).
    */
  private[operators] def trainWeights(
      quality: Array[Long],
      iters: Int,
      lr: Double,
      epsMicro: Long): Array[Long] = {
    val k = quality.length
    require(k >= 1, "trainWeights needs at least one source")
    require(lr >= 0.0 && lr < 1.0, s"lr must be in [0, 1), got $lr")
    require(epsMicro >= 0L && epsMicro < Micro,
      s"epsMicro must be in [0, 1e6), got $epsMicro")
    val epsPer = roundHalfUp(epsMicro.toDouble / k.toDouble)
    val keep = Micro - epsMicro
    var w = Array.fill(k)(roundHalfUp(1000000.0 / k.toDouble))
    var t = 0
    while (t < iters) {
      val s = w.sum
      val num = w.indices.map(i => w(i) * quality(i)).sum
      val avg = roundHalfUp(num.toDouble / s.toDouble)
      val wr = w.indices.map { i =>
        val fac = Micro + roundHalfUp(lr * (quality(i) - avg).toDouble)
        roundHalfUp(w(i).toDouble * fac.toDouble / 1000000.0)
      }.toArray
      val s2 = wr.sum
      require(s2 > 0L, s"mixture weights collapsed to zero at iteration $t")
      w = wr.map { v =>
        val wn = roundHalfUp(v.toDouble * 1000000.0 / s2.toDouble)
        roundHalfUp(wn.toDouble * keep.toDouble / 1000000.0) + epsPer
      }
      t += 1
    }
    w
  }

  /** The composed operator: learn per-source weights from the signal,
    * derive per-source keep-rates under a corpus-fraction budget
    * (`B = ⌊N·budget/1000⌋` docs; `n_target_i = round(B·w_i/1e6)`;
    * `rate_i = min(1000‰, ⌊n_target_i·1000/n_i⌋)` — q73's
    * availability-capped integer arithmetic), and emit the RESAMPLED
    * mixture: one row per kept doc carrying the learned table
    * (`n_docs, quality_micro, weight_micro, n_target, rate_pm`) so the
    * output hash-checks the trainer AND the exact membership. The keep
    * decision is the deterministic scan-side hash predicate — corpus
    * never shuffles; the learned rates broadcast.
    */
  /** The trainer + rate derivation over a COLLECTED per-source stats
    * table `(source, n_docs, quality_micro)` — the driver-side core
    * [[learnedMixture]] runs. Deterministic given the stats: they sort
    * source-ascending before the integer-micro trainer and the q73
    * rate arithmetic. Returns
    * `(source, n_docs, quality_micro, weight_micro, n_target,
    * rate_pm)` rows.
    */
  def learnedRatesLocal(
      stats: Seq[(String, Long, Long)],
      budgetPermille: Int,
      iters: Int = 30,
      lr: Double = 0.5,
      epsMicro: Long = 100000L): Seq[(String, Long, Long, Long, Long, Long)] = {
    require(budgetPermille >= 0 && budgetPermille <= 1000,
      "budget in [0, 1000] permille")
    val sorted = stats.sortBy(_._1) // deterministic driver-side order
    val w = trainWeights(sorted.map(_._3).toArray, iters, lr, epsMicro)
    val nTotal = sorted.map(_._2).sum
    val budget = nTotal * budgetPermille / 1000L // integer floor, both engines
    sorted.zipWithIndex.map { case ((src, n, q), i) =>
      val target = roundHalfUp(budget.toDouble * w(i).toDouble / 1000000.0)
      val ratePm = math.min(1000L, target * 1000L / n) // integer floor
      (src, n, q, w(i), target, ratePm)
    }
  }

  def learnedMixture(
      docs: DataFrame,
      keyCol: String,
      sourceCol: String,
      positive: Column,
      budgetPermille: Int,
      iters: Int = 30,
      lr: Double = 0.5,
      epsMicro: Long = 100000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // config-scale by contract: one row per source
    val stats = sourceQuality(docs, sourceCol, positive)
      .select("source", "n_docs", "quality_micro")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val rates = learnedRatesLocal(stats, budgetPermille, iters, lr, epsMicro)
      .toDF("source", "n_docs", "quality_micro", "weight_micro",
        "n_target", "rate_pm")
    docs
      .select(col(keyCol), col(sourceCol).alias("source"))
      .join(broadcast(rates), Seq("source"))
      .filter(Sampling.hashBucket(col(keyCol), 1000) < col("rate_pm"))
  }
}
