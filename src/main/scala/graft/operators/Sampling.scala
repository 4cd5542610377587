package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling — the reproducible alternative to
  * `Dataset.sample` for training-data curation. `sample()` draws from a
  * per-partition RNG, so results change with partitioning and re-runs;
  * curation needs samples that are (a) stable across re-runs and
  * cluster layouts, (b) consistent across engines (auditable by the
  * DuckDB oracle), and (c) cheap — a scan-side predicate, no shuffle.
  *
  * The keep-decision hashes the ROW KEY (md5-derived 60-bit int, the
  * project's cross-engine hash primitive) into [0, denom) and keeps
  * rows below the per-stratum threshold. Same key ⇒ same decision,
  * everywhere, forever — which also makes samples NESTED: the 10‰
  * sample is a subset of the 100‰ sample, the property you want when
  * growing a training mix.
  */
object Sampling {

  /** `hash(key) ∈ [0, denom)` — uniform, deterministic, engine-portable. */
  def hashBucket(key: Column, denom: Int): Column =
    TextFunctions.md5Hash60(key.cast("string")) % denom

  /** Stratified sample with a per-stratum keep-rate (in ‰). Strata
    * missing from `ratesPermille` keep `defaultPermille`. One scan, no
    * shuffle: the rate map compiles to a literal CASE chain.
    */
  def stratifiedSample(
      df: DataFrame,
      keyCol: String,
      stratumCol: String,
      ratesPermille: Map[String, Int],
      defaultPermille: Int = 0): DataFrame = {
    val rate = ratesPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (stratum, permille)) =>
        when(col(stratumCol) === stratum, lit(permille)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), 1000) < rate)
  }

  /** Mixture construction: sample each source at the rate that hits a
    * TARGET mixture (weights in ‰ of a corpus-fraction budget), capped
    * by availability — `rate_s = min(1, budget·w_s / n_s)`. The step
    * that turns "50% web, 30% books, 20% wiki" into per-source keep
    * rates when sources have wildly different sizes: oversubscribed
    * sources keep everything (capped at 1000‰), abundant ones sample
    * down.
    *
    * Scale shape: one aggregate computes per-source counts; the rate
    * table is a handful of rows, broadcast back; the keep decision is
    * the same deterministic scan-side hash predicate as
    * [[stratifiedSample]] — the corpus never shuffles, and the sample
    * is reproducible and nested in the budget. All rate arithmetic is
    * integer (exact and portable across engines); sources absent from
    * `weightsPermille` are dropped.
    */
  def mixtureSample(
      df: DataFrame,
      keyCol: String,
      sourceCol: String,
      weightsPermille: Seq[(String, Int)],
      budgetPermille: Int): DataFrame = {
    require(budgetPermille >= 0 && budgetPermille <= 1000, "budget in [0, 1000] permille")
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = weightsPermille.toDF(sourceCol, "w_pm")
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).alias("n_s"))
    val total = df.agg(count(lit(1)).alias("n_total"))
    // budget = n_total·budgetPm/1000 docs; rate_s = min(1000‰, budget·w_s/n_s).
    // Integer-exact: products stay < 2^53, and double-divide + truncate
    // equals floor for positives (mirrors the oracle's // division).
    val budget = ((col("n_total") * budgetPermille) / 1000).cast("long")
    val rates = counts
      .crossJoin(broadcast(total))
      .join(broadcast(wDf), Seq(sourceCol))
      .select(
        col(sourceCol),
        least(lit(1000L), ((budget * col("w_pm")) / col("n_s")).cast("long")).alias("rate_pm"))
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(hashBucket(col(keyCol), 1000) < col("rate_pm"))
  }

  /** Temperature-scaled, epoch-aware mixture sampling — the standard
    * training-loader shape for imbalanced source mixes (multilingual /
    * multi-domain pre-training): source sampling mass ∝ `n_s^alpha`
    * (alpha < 1 upsamples low-resource sources; alpha = 1 is natural
    * proportions), and a source whose target mass EXCEEDS its size is
    * repeated across epochs — each doc emits one row per full epoch
    * plus a fractional final epoch decided by the per-epoch seeded
    * md5 hash (same keyed-decision family as [[stratifiedSample]], so
    * the emitted multiset is deterministic across runs, partitionings,
    * and engines).
    *
    * `budgetPermille` is the emitted volume as ‰ of the corpus size
    * and MAY exceed 1000 (a multi-epoch budget). Per source:
    * `r_s = B·q_s / n_s` where `B = ⌊N·budget/1000⌋` and
    * `q_s = n_s^alpha / Σ n_s^alpha`; docs of source s appear in
    * epochs `0 .. ⌊r_s⌋`, the last kept iff
    * `hash(prefix:epoch:key) ‰ < ⌊frac(r_s)·1000⌋`.
    *
    * Determinism discipline (oracle-exact floating point): the rate
    * table is computed DRIVER-side from the collected per-source
    * counts (mixture-config-scale — one row per source) with a fixed
    * fold order (source-ascending left fold for `Σ n_s^alpha`), and
    * the default `alpha = 0.5` uses `sqrt`, which IEEE 754 requires
    * correctly rounded — so Spark and DuckDB produce bit-identical
    * rates. Other alphas go through `pow`, whose last-ulp behavior is
    * NOT portable across libm implementations; keep oracle-checked
    * configs on 0.5/1.0. Null sources are excluded (they cannot order
    * portably in the fold).
    *
    * Scale shape: one aggregate for the counts; the rate table
    * broadcasts back as a literal; the epoch fan-out is a row-local
    * bounded `sequence` explode and the keep decision is scan-side —
    * the corpus never shuffles.
    */
  def temperatureEpochSample(
      df: DataFrame,
      keyCol: String,
      sourceCol: String,
      budgetPermille: Int,
      alpha: Double = 0.5,
      seedPrefix: String = "epoch"): DataFrame = {
    require(budgetPermille >= 0, s"budgetPermille must be >= 0, got $budgetPermille")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0, 1], got $alpha")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(sourceCol).isNotNull)
    val counts = base.groupBy(sourceCol).agg(count(lit(1)).alias("n_s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      // code-point order, not UTF-16 code-unit order: the fold order
      // below must match the engines' binary collation for astral
      // source names (Bpe.codePointOrdering scaladoc)
      .sortBy(_._1)(Bpe.codePointOrdering)
    if (counts.isEmpty) return base.withColumn("epoch", lit(0L)).limit(0)
    val nTotal = counts.map(_._2).sum
    val budgetDocs = nTotal * budgetPermille / 1000
    def weight(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble)
      else if (alpha == 1.0) n.toDouble
      else math.pow(n.toDouble, alpha)
    // left fold in source-ascending order — the oracle's list_reduce
    // mirrors this exact summation order
    val sumW = counts.foldLeft(0.0) { case (acc, (_, n)) => acc + weight(n) }
    val rates = counts.map { case (s, n) =>
      val r = (budgetDocs * (weight(n) / sumW)) / n.toDouble
      val epochs = math.floor(r).toLong
      val fracPm = math.floor((r - epochs) * 1000).toLong
      (s, epochs, fracPm)
    }.toSeq
    val ratesDf = rates.toDF(sourceCol, "__graft_epochs", "__graft_frac_pm")
    val epochKey = TextFunctions.md5Hash60(concat(
      lit(s"$seedPrefix:"), col("epoch").cast("string"),
      lit(":"), col(keyCol).cast("string")))
    base.join(broadcast(ratesDf), Seq(sourceCol))
      .withColumn("epoch", explode(sequence(lit(0L), col("__graft_epochs"))))
      .filter(col("epoch") < col("__graft_epochs") || epochKey % 1000 < col("__graft_frac_pm"))
      .drop("__graft_epochs", "__graft_frac_pm")
  }

  /** Leakage-safe train/validation split: assignment is per near-dup
    * CLUSTER, not per document, so no near-duplicate pair ever straddles
    * the split — the eval-contamination failure a doc-level random split
    * commits whenever the corpus still contains near-dups (or several
    * revisions of the same page). Takes the `(id, cluster)` labeling
    * produced by `Components.connectedComponents` over any near-dup pair
    * generator; singletons are their own cluster, so unclustered docs
    * still split at the target rate.
    *
    * Deterministic and engine-portable (the same md5 permille arithmetic
    * as [[stratifiedSample]], keyed by `prefix:cluster`); scan-side
    * only — one hash per row, no shuffle beyond what the caller's
    * cluster join already did.
    */
  def leakageSafeSplit(
      assignments: DataFrame,
      idCol: String,
      clusterCol: String,
      valPermille: Int,
      prefix: String = "split"): DataFrame = {
    require(valPermille >= 0 && valPermille <= 1000, "valPermille in [0, 1000]")
    assignments.select(
      col(idCol),
      col(clusterCol),
      when(
        TextFunctions.seededHash60(prefix, col(clusterCol)) % 1000 < valPermille,
        lit("val")).otherwise(lit("train")).alias("split"))
  }

  /** Per-group document cap — the "domain caps" step of a pre-training
    * mix: keep at most `cap` rows per group (domain/source/language),
    * selected deterministically by the seeded md5 order (same
    * keep-decision family as [[stratifiedSample]], so the kept set is
    * stable across runs, partitionings, and engines). Equivalent to
    * `row_number() OVER (PARTITION BY group ORDER BY hash, id) <= cap`
    * over the whole corpus — but structured so only over-cap groups
    * pay for it:
    *
    *  - group sizes are ONE partial+final aggregate on the group key;
    *  - groups at or under the cap bypass everything via a broadcast
    *    anti-join — the bulk of a long-tailed corpus (most domains are
    *    small) is kept map-side with zero sort;
    *  - only the few over-cap groups hash-exchange and sort, each
    *    sorting its own slice under the window.
    *
    * A single group too large to sort at all (one 10B-row domain) is
    * the documented escalation: replace the window with a keep
    * threshold on the hash itself (`hk < cap/n · 2^60` — expected-cap
    * rather than exact-cap, no sort). The exact window is the oracle-
    * checkable default.
    */
  def capPerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      cap: Int,
      seed: Long = 42L): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val over = df.groupBy(groupCol).agg(count(lit(1)).alias("n"))
      .filter(col("n") > cap)
      .select(col(groupCol).alias("__graft_over_g"))
    // null-SAFE routing: a null group is a group like any other to the
    // window form (and the oracle) — plain equi-join routing would send
    // every null-group row down the under-cap branch uncapped
    val under = df.join(
      broadcast(over), df(groupCol) <=> col("__graft_over_g"), "left_anti")
    val hk = TextFunctions.seededHash60(seed, col(idCol))
    // internal temp columns carry a reserved prefix so an input that
    // already has an `hk`/`rn` column is never clobbered
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__graft_hk"), col(idCol))
    val capped = df.join(
      broadcast(over), df(groupCol) <=> col("__graft_over_g"), "left_semi")
      .withColumn("__graft_hk", hk)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= cap)
      .drop("__graft_hk", "__graft_rn")
    under.unionByName(capped)
  }

  /** Weighted sampling without replacement — Efraimidis–Spirakis A-ES
    * (public literature): each row draws a deterministic uniform
    * `u ∈ (0, 1]` from its seeded key hash and ranks by priority
    * `u^(1/w)`; the top `k` per group ARE a weight-proportional
    * without-replacement sample. The curation member the uniform/
    * stratified/temperature family lacks: "sample documents
    * proportional to quality/length score", reproducibly.
    *
    * Determinism & cross-engine parity: `u = (h + 1) / 2^60` from the
    * repo-wide seeded md5-60; the rank key is `ln(u)/w` (monotone in
    * `u^(1/w)` for `w > 0` — avoids `pow` entirely) rounded to integer
    * MICROS (the q101 fixed-point rule: both engines round the same
    * IEEE double into the same BIGINT), ties broken by id. Rows with
    * `w <= 0` or null weight/id carry no sampling mass and are
    * dropped (documented; a zero-weight row can never win A-ES).
    *
    * Scale shape: one scan-side projection (hash, one ln, one
    * division) + one `(group)`-keyed window cut — the same physical
    * shape as [[capPerGroup]]'s capped branch; k bounds the output per
    * group. Output: input columns + `pri_micro` (the auditable
    * priority) + `rank`.
    */
  def weightedSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: Long = 42L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // A-ES requires u in (0,1): a top-of-range hash (plus the
    // long->double rounding near 2^60 absorbing the +1) would give
    // u = 1.0 exactly -> pri_micro = 0, a weight-INDEPENDENT
    // guaranteed win for that row. Same clamp as NgramLm.scoreRatio;
    // mirrored in the q132 oracle.
    val u = least(
      (TextFunctions.seededHash60(seed, col(idCol)).cast("double") + lit(1.0)) /
        pow(lit(2.0), lit(60.0)),
      lit(1.0 - 1e-9))
    val priMicro = round(log(u) / col(weightCol).cast("double") * lit(1000000L))
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("pri_micro").desc, col(idCol).asc)
    df
      .filter(col(idCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol).cast("double") > 0.0)
      .withColumn("pri_micro", priMicro)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
