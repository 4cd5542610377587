package graft.operators

import graft.functions.expressions.{HashedBowExpr, PresenceDotExpr}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained linear quality classifier over hashed bag-of-words features
  * — the fastText/CCNet production pattern: distill an expensive
  * teacher signal (here the Gopher rule gate; in production often an
  * LLM labeler) into a cheap linear model, then apply that model at
  * corpus scale where the teacher is too slow. (Reference analogue:
  * none; training-data-pipeline extension.)
  *
  * Feature space (`width = dim + 17` weights):
  *   - `0 .. dim-1`   — presence of hashed tokens:
  *     `md5_hash60(token) % dim`, distinct per doc
  *     ([[HashedBowExpr]], one codegen scan);
  *   - `dim`          — the bias feature (every doc);
  *   - `dim+1 .. dim+16` — a log2 token-count bucket,
  *     `dim + 1 + min(floor(log2(n_tokens + 1)), 15)` — presence
  *     features cannot see document LENGTH, and length rules are a
  *     large share of what any quality teacher encodes, so the bucket
  *     makes them learnable. Computed via binary-string length
  *     (`length(bin(n+1)) - 1`), pure integer arithmetic in both
  *     engines — no libm `log2` ULP hazard at bucket boundaries.
  *
  * Training is FULL-BATCH gradient descent with a fixed iteration
  * budget, every cross-engine quantity in integer micros (the q101
  * fixed-point conventions) so the DuckDB oracle replays the ENTIRE
  * trainer bit-for-bit (the q100/q143 bar):
  *
  *   z_micro  = Σ w[f]                     (long; [[PresenceDotExpr]])
  *   m        = z_micro / 1e6              (double)
  *   p_micro  = round((0.5*(1 + m/(1+|m|))) * 1e6)   (long)
  *   e        = p_micro - y*1e6            (long)
  *   grad[f]  = Σ_docs∋f e                 (long — order-free sums)
  *   w[f]    -= round(grad[f]/N * lr)      (HALF_UP, both engines)
  *
  * The sigmoid is the RATIONAL fast-sigmoid `0.5*(1 + m/(1+|m|))` —
  * division/multiplication/abs are IEEE-deterministic in evaluation
  * order, where `exp()` would be at the mercy of two libm
  * implementations. Long sums make the gradient independent of
  * partitioning and row order (double accumulation would not be).
  *
  * Scale shape: the corpus text is touched ONCE — one native-codegen
  * scan builds the compact `(id, y, feats: array<int-range longs>)`
  * table, which is `localCheckpoint`ed; each of the `iters`
  * iterations then costs one scan of that integer table (margin via
  * [[PresenceDotExpr]] against the broadcast-literal weight array —
  * no join, no interpreted HOF) plus ONE exchange carrying
  * `(feature_id, partial-gradient)` rows, map-side-combined to
  * ≤ width rows per partition; the driver collects the width-row
  * gradient (bounded by contract: width = dim+17) and updates the
  * weight array. Nothing corpus-sized ever shuffles, in any
  * iteration. Applying the trained model is one codegen scan.
  */
object QualityClassifier {

  /** Number of length-bucket features (buckets 0..15). */
  val LenBuckets = 16

  private val Micro = 1000000L

  /** `round` on the exact double value, half away from zero — the
    * driver-side twin of Spark's `round()` and DuckDB's `round()`
    * (both BigDecimal-style HALF_UP). NOT `Math.round` (floor(x+.5),
    * which rounds -0.5 up and misrounds values a ULP below a half).
    */
  private[graft] def roundHalfUp(x: Double): Long =
    new java.math.BigDecimal(x)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .longValueExact()

  /** Bit-exact Scala twin of the in-plan margin→error chain the r20
    * trainer evaluated through Catalyst per iteration:
    *
    *   m       = z_micro / 1e6                      (double)
    *   p_micro = round((0.5·(1 + m/(1+|m|)))·1e6)   (long)
    *   e       = p_micro - y·1e6                    (long)
    *
    * Spark's `round()` on DoubleType is (interpreted AND codegen)
    * `java.math.BigDecimal.valueOf(x).setScale(0, HALF_UP).doubleValue()`
    * with NaN/Inf passthrough — `x` here is always finite, and the
    * arithmetic below reproduces the Catalyst expression's operand
    * order exactly, so the IEEE double (and hence the rounded micro)
    * is identical. Pinned by `TrainerParitySpec`.
    */
  private[graft] def errMicro(zMicro: Long, y: Long): Long = {
    val m = zMicro.toDouble / 1000000.0
    val x = (0.5 * (1.0 + m / (1.0 + math.abs(m)))) * 1000000.0
    val p = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    p.toLong - y * Micro
  }

  /** Sums `delta` into `acc` element-wise — the gradient combiner
    * (long adds commute and associate exactly, so tree combine order
    * cannot change the result).
    */
  private[graft] def addInto(acc: Array[Long], delta: Array[Long]): Array[Long] = {
    var i = 0
    while (i < acc.length) { acc(i) += delta(i); i += 1 }
    acc
  }

  /** The log2 token-count bucket feature id, `dim+1+min(len(bin(n+1))-1, 15)`. */
  private def lenBucketFeat(nTokens: Column, dim: Int): Column =
    lit(dim.toLong + 1L) +
      least(length(bin(coalesce(nTokens, lit(0L)) + lit(1L))) - lit(1), lit(15))
        .cast("long")

  /** Per-doc feature array + teacher label from the Gopher gate: one
    * native scan of `docs` producing
    * `(idCol, y: long 0/1, feats: array<long>)` — hashed-token
    * presence set ++ bias ++ length bucket. The teacher's rule
    * parameters are [[QualityPrune.gopherGate]]'s, applied through the
    * same shared rule definitions so teacher and gate cannot drift.
    */
  def gopherFeatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int,
      minTokens: Long = 50L,
      maxTokens: Long = 100000L,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      minStopHits: Long = 2L,
      maxEllipsisFrac: Double = 0.3,
      maxBulletFrac: Double = 0.9,
      maxSymbolRatio: Double = 0.1): DataFrame = {
    val g = graft.functions.expressions.GopherStatsExpr.gopherStats(col(textCol))
    val keep = QualityPrune
      .gopherRules(col("g").getField, minTokens, maxTokens, minMeanLen,
        maxMeanLen, minAlphaFrac, minStopHits, maxEllipsisFrac, maxBulletFrac,
        maxSymbolRatio)
      .map { case (_, rule) => coalesce(rule, lit(false)) }
      .reduce(_ && _)
    docs
      .select(
        col(idCol),
        HashedBowExpr.hashedBow(col(textCol), dim).as("bow"),
        g.as("g"))
      .select(
        col(idCol),
        when(keep, 1L).otherwise(0L).as("y"),
        concat(
          col("bow"),
          array(lit(dim.toLong)),
          array(lenBucketFeat(col("g.n_tokens"), dim))).as("feats"))
  }

  /** Fixed-budget full-batch GD over a `(featsCol: array<long>,
    * labelCol: long 0/1)` frame. Returns the `width`-long weight array
    * in micros.
    *
    * r21 optimization (guide §1.2 step 1 / §2.4): the r20 loop built a
    * fresh Catalyst plan per iteration (analyze + optimize + codegen
    * lookup), exploded every doc's feature array into one row per
    * occurrence, hash-aggregated them through a 32-partition exchange,
    * and collected — measured ~100-150 ms/iteration at sf0.1 against
    * ~5 ms of actual arithmetic. The loop now materializes the
    * `(feats, y)` projection ONCE as a persisted primitive RDD and
    * runs each iteration as one `treeAggregate` of the width-long
    * gradient array: no per-iteration planning, no explode row
    * blow-up, no exchange — per-partition partial gradients combine
    * in a tree exactly like MLlib's GD. Bit-identical by
    * construction: the per-row error chain is [[errMicro]] (the
    * Catalyst twin, spec-pinned), gradient entries are the same long
    * sums in a different (commutative) order, and the weight update
    * is byte-for-byte the r20 code. `TrainerParitySpec` pins the
    * whole-trainer equality against an in-spec replica of the r20
    * DataFrame loop.
    *
    * Scale shape is unchanged or better: the corpus-sized table is
    * scanned once per iteration either way; what the r20 version
    * shuffled (≤ width rows per map partition) the tree combine now
    * moves as one width-long array per partition, and the driver
    * still only ever sees width-long arrays.
    */
  def train(
      feats: DataFrame,
      featsCol: String,
      labelCol: String,
      width: Int,
      iters: Int = 40,
      lr: Double = 16.0): Array[Long] = {
    // rows with a NULL feature array or NULL label contribute nothing
    // to any gradient (the r20 explode/sum semantics) but DO count in n
    val rdd = feats.select(col(featsCol), col(labelCol))
      .queryExecution.toRdd
      .map { r =>
        val fa = if (r.isNullAt(0)) null else r.getArray(0).toLongArray()
        val ok = !r.isNullAt(1)
        val y = if (ok) r.getLong(1) else 0L
        (fa, y, ok)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rdd.count()
      val w = new Array[Long](width)
      if (n == 0L) return w
      var t = 0
      while (t < iters) {
        val wCur = w.clone()
        val grad = rdd.treeAggregate(new Array[Long](width))(
          seqOp = { (g, row) =>
            val (fa, y, ok) = row
            if (fa != null && ok) {
              // z = presence_dot(feats, w): Σ w[f] for in-range f
              var z = 0L
              var i = 0
              while (i < fa.length) {
                val f = fa(i)
                if (f >= 0L && f < width) z += wCur(f.toInt)
                i += 1
              }
              val e = errMicro(z, y)
              i = 0
              while (i < fa.length) {
                val f = fa(i)
                if (f >= 0L && f < width) g(f.toInt) += e
                i += 1
              }
            }
            g
          },
          combOp = addInto)
        var f = 0
        while (f < width) {
          if (grad(f) != 0L)
            w(f) -= roundHalfUp(grad(f).toDouble / n.toDouble * lr)
          f += 1
        }
        t += 1
      }
      w
    } finally rdd.unpersist(blocking = false)
  }

  /** Applies trained weights to a feature frame: adds
    * `score_micro` (the margin, micros) and `pred` (margin >= 0).
    * One codegen scan — the corpus-scale path once training is done.
    */
  def score(feats: DataFrame, featsCol: String, weights: Array[Long]): DataFrame = {
    val z = PresenceDotExpr.presenceDot(col(featsCol), typedLit(weights.toSeq))
    feats
      .withColumn("score_micro", z)
      .withColumn("pred", col("score_micro") >= 0L)
  }

  /** Persist trained weights as a tiny `(feat, w)` parquet — the
    * frozen-model artifact: train once on a curated batch, freeze, then
    * gate batch AND streaming corpora against the SAME weights. Width
    * is implied by the row count on load.
    */
  def saveWeights(
      spark: org.apache.spark.sql.SparkSession,
      weights: Array[Long],
      path: String): Unit = {
    import spark.implicits._
    weights.toSeq.zipWithIndex
      .map { case (w, f) => (f.toLong, w) }
      .toDF("feat", "w")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveWeights]] artifact (bounded by contract: width rows).
    * Validates the artifact shape before indexing — feature ids must be
    * exactly a permutation of `[0, rows.length)` (a duplicate, missing,
    * or out-of-range `feat` row would otherwise crash with a bare
    * ArrayIndexOutOfBounds or silently corrupt the weight vector).
    */
  def loadWeights(spark: org.apache.spark.sql.SparkSession, path: String): Array[Long] = {
    val rows = spark.read.parquet(path).select("feat", "w").collect()
    val w = new Array[Long](rows.length)
    val seen = new Array[Boolean](rows.length)
    rows.foreach { r =>
      val f = r.getLong(0)
      require(f >= 0L && f < rows.length,
        s"corrupt weights artifact at $path: feat id $f outside [0, ${rows.length})")
      require(!seen(f.toInt),
        s"corrupt weights artifact at $path: duplicate feat id $f")
      seen(f.toInt) = true
      w(f.toInt) = r.getLong(1)
    }
    w
  }

  /** The trained model as a streaming-composable row FILTER — the
    * enforcement form, [[QualityPrune.keepByGopher]]'s sibling with a
    * LEARNED gate: keeps rows whose margin is at least `cutoffMicro`
    * (0 = the decision boundary; raise it for precision, lower for
    * recall). A pure stateless projection+filter over each row (one
    * codegen scan: gopher-stats for the length bucket, `hashed_bow`,
    * `presence_dot` against the frozen weight literal), so it chains
    * in front of any streaming query exactly like the rule gate — no
    * state, no watermark, replay-safe. `dim` must match the
    * training-time dimension (`weights.length == dim + 17` is
    * enforced — a silently mismatched hash space would score noise).
    */
  def keepByScore(
      docs: DataFrame,
      textCol: String,
      weights: Array[Long],
      dim: Int,
      cutoffMicro: Long = 0L): DataFrame = {
    require(weights.length == dim + 1 + LenBuckets,
      s"weights width ${weights.length} != dim + 17 = ${dim + 1 + LenBuckets}")
    val g = graft.functions.expressions.GopherStatsExpr.gopherStats(col(textCol))
    val feats = concat(
      HashedBowExpr.hashedBow(col(textCol), dim),
      array(lit(dim.toLong)),
      array(lenBucketFeat(g.getField("n_tokens"), dim)))
    docs.filter(
      PresenceDotExpr.presenceDot(feats, typedLit(weights.toSeq)) >= cutoffMicro)
  }

  /** Cutoff calibration SWEEP over held-out scored rows — the table an
    * operator reads before picking a production threshold: per cutoff,
    * kept count and integer-micro precision/recall over a
    * `(labelCol: boolean, scoreCol: long micros)` frame (q151's shape,
    * shared by the text classifier and the embedding probe — any
    * margin-scored gate sweeps the same way). One aggregate over the
    * held-out scores; `cutoffsMicro` is config-scale by contract (the
    * cross join is a literal-array fan-out, never data×data). Ratios
    * are exact-integer micros via the one fixed-order double expression
    * both engines evaluate identically.
    */
  def cutoffSweep(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      cutoffsMicro: Seq[Long]): DataFrame = {
    require(cutoffsMicro.nonEmpty, "cutoffSweep needs at least one cutoff")
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .crossJoin(cutoffsMicro.toDF("cutoff_micro"))
      .groupBy("cutoff_micro")
      .agg(
        sum(when(col(scoreCol) >= col("cutoff_micro"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col(scoreCol) >= col("cutoff_micro") && col(labelCol), 1L)
          .otherwise(0L)).as("n_true_pos"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("precision_micro",
        when(col("n_kept") > 0L,
          round(col("n_true_pos").cast("double") * lit(1000000.0)
            / col("n_kept").cast("double")).cast("long")))
      .withColumn("recall_micro",
        when(col("n_pos") > 0L,
          round(col("n_true_pos").cast("double") * lit(1000000.0)
            / col("n_pos").cast("double")).cast("long")))
  }

  /** The FREEZE/REFUSE decision — the operator that CONSUMES the
    * held-out generalization signal instead of leaving it as a number a
    * human reads: appends to every sweep row the held-out accuracy
    * (`holdout_acc_micro`, from `correctCol` over the held-out scored
    * rows) and `freeze_ok` = accuracy ≥ `accFloorMicro`. A pipeline
    * freezes the weight artifact and gates with the selected cutoff
    * ONLY when `freeze_ok` — a probe that fits its train slice but
    * transfers at coin-flip accuracy (the q157 fixture) is refused
    * here, before it silently curates noise at corpus scale. One
    * scalar aggregate broadcast onto the config-scale sweep.
    */
  def markFreezeDecision(
      sweep: DataFrame,
      heldOutScored: DataFrame,
      correctCol: String,
      accFloorMicro: Long): DataFrame = {
    val acc = heldOutScored.agg(
      round(sum(when(col(correctCol), 1L).otherwise(0L)).cast("double")
        * lit(1000000.0) / count(lit(1)).cast("double"))
        .cast("long").as("holdout_acc_micro"))
    sweep
      .crossJoin(broadcast(acc))
      .withColumn("freeze_ok", col("holdout_acc_micro") >= lit(accFloorMicro))
  }

  /** Cutoff AUTO-SELECTION over a calibration sweep — closes the
    * train → calibrate → freeze → gate arc (q145 → q150 → q151): the
    * sweep says what each cutoff buys, this picks one, by the two
    * rules a pipeline otherwise hand-codes. Input: a sweep frame with
    * `(cutoff_micro, precision_micro, recall_micro)` (q151's shape;
    * distinct cutoffs, cutoffs-sized by contract — the single-partition
    * window here sorts a handful of rows, never data). Adds:
    *
    *  - `f1_micro` — harmonic mean of the micro P/R (null when
    *    undefined). One fixed-order double expression over exact
    *    integer operands, so both engines produce the identical IEEE
    *    value and the identical ranking;
    *  - `sel_max_f1` — true on the argmax-F1 row (ties → LOWER cutoff,
    *    the higher-recall side);
    *  - `sel_recall_floor` — true on the max-recall row among cutoffs
    *    with `precision_micro >= minPrecisionMicro` (ties → lower
    *    cutoff); all-false when no cutoff meets the floor — an honest
    *    "nothing qualifies", not a silent fallback.
    */
  def markSelectedCutoffs(
      sweep: DataFrame,
      minPrecisionMicro: Long = 900000L): DataFrame = {
    val p = col("precision_micro")
    val r = col("recall_micro")
    val f1d = when(p.isNotNull && r.isNotNull && (p + r) > 0L,
      lit(2.0) * (p * r).cast("double") / (p + r).cast("double"))
    val f1key = coalesce(f1d, lit(-1.0))
    val eligible = coalesce(p >= lit(minPrecisionMicro), lit(false))
    val wF1 = org.apache.spark.sql.expressions.Window
      .orderBy(f1key.desc, col("cutoff_micro").asc)
    val wFloor = org.apache.spark.sql.expressions.Window
      .orderBy(eligible.desc, r.desc_nulls_last, col("cutoff_micro").asc)
    sweep
      .withColumn("f1_micro", round(f1d).cast("long"))
      .withColumn("sel_max_f1", rank().over(wF1) === 1)
      .withColumn("sel_recall_floor", eligible && rank().over(wFloor) === 1)
  }

  /** Deployment CONSUMPTION of the freeze/refuse decision (round 20):
    * the [[markFreezeDecision]] arc completed — the calibration table
    * computed `freeze_ok`, but a pipeline that then freezes its gate
    * artifact UNCONDITIONALLY has learned nothing (the C4
    * frozen-artifact starvation rule, generalized). This operator
    * reads the decision IN-PLAN and routes deployment: when
    * `freeze_ok`, rows gate on `scoreCol >= ` the argmax-F1 selected
    * cutoff; when refused, the gate is OFF and every row passes
    * through — with `gate_applied` emitted so the pass-through is an
    * auditable decision, not silence.
    *
    * The calibration frame is cutoffs-sized by contract (≤ a handful
    * of rows), so the decision reduces to ONE broadcast row
    * (`min(freeze_ok)` — constant across rows by construction — and
    * the `sel_max_f1` row's cutoff); the scored corpus pays a scan,
    * never a shuffle. Output: every input row + `gate_applied` +
    * `kept`.
    */
  def gateIfFrozen(
      scored: DataFrame,
      calibration: DataFrame,
      scoreCol: String): DataFrame = {
    val dec = calibration.agg(
      min(col("freeze_ok")).as("__gate_freeze_ok"),
      min(when(col("sel_max_f1"), col("cutoff_micro"))).as("__gate_cutoff"),
      count(lit(1)).as("__gate_n"))
    // an EMPTY calibration frame must fail loudly (the freezeDecision
    // rule) — min() over zero rows is NULL, and `when(NULL, ...)` would
    // silently admit the whole corpus with no decision ever computed
    val ok = when(col("__gate_n") > 0L, col("__gate_freeze_ok"))
      .otherwise(raise_error(
        lit("gateIfFrozen: calibration frame is empty — no freeze decision"))
        .cast("boolean"))
    scored
      .crossJoin(broadcast(dec))
      .withColumn("gate_applied", ok)
      // fail-closed on a NULL score under a frozen gate (the
      // keepByGopher/keepByScore convention): without the coalesce a
      // null scoreCol row would emit kept = NULL — neither admitted
      // nor counted as dropped (ADVICE r20 latent #2)
      .withColumn("kept",
        when(col("gate_applied"),
          coalesce(col(scoreCol) >= col("__gate_cutoff"), lit(false)))
          .otherwise(lit(true)))
      .drop("__gate_freeze_ok", "__gate_cutoff", "__gate_n")
  }

  /** The driver-side form of the same consumption — for compositions
    * whose gate artifact already lives on the driver (the trained
    * weight array): read the calibration table's scalar decision,
    * loudly (a calibration frame with zero or conflicting `freeze_ok`
    * values is a caller bug, not a silent default). The collect is
    * cutoffs-sized by contract.
    */
  def freezeDecision(calibration: DataFrame): Boolean = {
    val vals = calibration.select(col("freeze_ok")).distinct().collect()
      .map(_.getBoolean(0)).toSeq
    require(vals.length == 1,
      s"freeze_ok must be one scalar decision, got ${vals.length} distinct values")
    vals.head
  }

  /** The composed distillation: featurize with the Gopher teacher,
    * train, score, and report per-doc agreement — the auditable form
    * (`label`/`pred`/`correct` per document, so a pipeline can measure
    * exactly where the student disagrees with the teacher before
    * trusting it at scale).
    */
  def distillGopher(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 256,
      iters: Int = 40,
      lr: Double = 16.0,
      minTokens: Long = 50L,
      maxTokens: Long = 100000L,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      minStopHits: Long = 2L,
      maxEllipsisFrac: Double = 0.3,
      maxBulletFrac: Double = 0.9,
      maxSymbolRatio: Double = 0.1): DataFrame = {
    val feats = gopherFeatures(docs, idCol, textCol, dim, minTokens, maxTokens,
      minMeanLen, maxMeanLen, minAlphaFrac, minStopHits, maxEllipsisFrac,
      maxBulletFrac, maxSymbolRatio)
      .localCheckpoint(false) // one corpus text scan, shared by train + score
    val w = train(feats, "feats", "y", dim + 1 + LenBuckets, iters, lr)
    score(feats, "feats", w)
      .select(
        col(idCol),
        (col("y") === 1L).as("label"),
        col("score_micro"),
        col("pred"),
        (col("pred") === (col("y") === 1L)).as("correct"))
  }
}
