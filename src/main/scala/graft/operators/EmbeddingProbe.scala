package graft.operators

import graft.functions.expressions.Int8Exprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained linear probe over EMBEDDING features — the
  * [[QualityClassifier]] pattern's production sibling for the regime
  * where text features saturate: a quality / domain / topic gate
  * learned in embedding space (the DCLM-style classifier), trained
  * once, frozen, and applied as one codegen scan per corpus pass.
  * (Reference analogue: none; training-data-pipeline extension.)
  *
  * Feature space (`width = dim + 1` weights): the vector's symmetric
  * max-abs int8 codes ([[Int8Exprs]], the SQ8 tier q136 established —
  * per vector `scale = max|x|/127`, `code_i = round(x_i/scale)`)
  * plus a constant bias code of 1 at index `dim`. Quantization is the
  * cross-engine determinism lever: codes are exact small integers both
  * engines derive identically (double divide + half-away-from-zero
  * round), where raw float features would put 40 GD iterations of
  * float dot products at the mercy of accumulation order.
  *
  * Training is the q145 trainer verbatim with WEIGHTED features
  * (grad contribution `e·code` instead of presence `e`), every
  * cross-engine quantity in integer micros:
  *
  *   z_micro  = Σ w[j]·code[j]            (long; [[Int8Exprs.dotCodes]])
  *   m        = z_micro / 1e6             (double)
  *   p_micro  = round((0.5·(1 + m/(1+|m|)))·1e6)   (long)
  *   e        = p_micro - y·1e6           (long)
  *   grad[j]  = Σ_docs e·code[j]          (long — order-free sums)
  *   w[j]    -= round(grad[j]/N · lr)     (HALF_UP, both engines)
  *
  * so the DuckDB oracle replays the ENTIRE trainer bit-for-bit
  * (q154). At the measured fixture the integer probe reaches the
  * float logistic-regression ceiling exactly (0.656 accuracy on the
  * label<5 split — prototyped before the operator was written).
  *
  * Scale shape: vectors are touched ONCE — one codegen scan quantizes
  * into the compact `(id, y, codes: array<tinyint>)` table
  * (dim+1 bytes per row vs 4·dim for the floats), which is
  * `localCheckpoint`ed; each iteration costs one codegen scan of that
  * table ([[Int8Exprs.int8Dot]] against the weight array riding in
  * the expression) plus ONE exchange of `(j, partial-gradient)` rows
  * map-side-combined to ≤ width rows per partition; the driver
  * collects the width-row gradient (bounded by contract) and updates
  * the weights. Raw vectors NEVER enter an exchange in any iteration
  * — the q136 discipline, plan-audited.
  */
object EmbeddingProbe {

  /** Per-row quantized feature codes + binary label: one native scan of
    * `embs` producing `(idCol, y: long 0/1, codes: array<tinyint>)` —
    * int8 codes ++ the bias code (1).
    */
  def features(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      positive: Column): DataFrame =
    embs.select(
      col(idCol),
      when(positive, 1L).otherwise(0L).as("y"),
      concat(
        Int8Exprs.int8Codes(col(vecCol)),
        array(lit(1.toByte))).as("codes"))

  /** Fixed-budget full-batch GD over a `(codesCol: array<tinyint>,
    * labelCol: long 0/1)` frame. Returns the `width`-long weight array
    * in micros. Mirrors [[QualityClassifier.train]]; see the object
    * scaladoc for the per-iteration cost shape.
    */
  def train(
      feats: DataFrame,
      codesCol: String,
      labelCol: String,
      width: Int,
      iters: Int = 40,
      lr: Double = 0.001): Array[Long] = {
    // r21: same restructure as [[QualityClassifier.train]] — one
    // persisted primitive RDD, one treeAggregate per iteration, no
    // per-iteration Catalyst plan / posexplode / exchange / collect.
    // Per-row math is [[QualityClassifier.errMicro]] (the Catalyst
    // twin) over the int8_dot margin; gradient entries are the same
    // long sums (`e·code[j]`) in a different commutative order.
    // Bit-equality vs the r20 DataFrame loop pinned by
    // `TrainerParitySpec`.
    val rdd = feats.select(col(codesCol), col(labelCol))
      .queryExecution.toRdd
      .map { r =>
        val ca = if (r.isNullAt(0)) null else r.getArray(0).toByteArray()
        val ok = !r.isNullAt(1)
        val y = if (ok) r.getLong(1) else 0L
        (ca, y, ok)
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
            val (ca, y, ok) = row
            if (ca != null && ok) {
              // z = int8_dot(codes, w): Σ codes[j]·w[j] over the
              // min(len, width) prefix — Int8Exprs.dotCodes verbatim
              val lim = math.min(ca.length, width)
              var z = 0L
              var j = 0
              while (j < lim) { z += ca(j).toLong * wCur(j); j += 1 }
              val e = QualityClassifier.errMicro(z, y)
              j = 0
              while (j < lim) { g(j) += e * ca(j).toLong; j += 1 }
            }
            g
          },
          combOp = QualityClassifier.addInto)
        var j = 0
        while (j < width) {
          if (grad(j) != 0L)
            w(j) -= QualityClassifier.roundHalfUp(
              grad(j).toDouble / n.toDouble * lr)
          j += 1
        }
        t += 1
      }
      w
    } finally rdd.unpersist(blocking = false)
  }

  /** Applies trained weights to a feature frame: adds `score_micro`
    * (the margin) and `pred`. One codegen scan.
    */
  def score(feats: DataFrame, codesCol: String, weights: Array[Long]): DataFrame =
    feats
      .withColumn("score_micro", Int8Exprs.int8Dot(col(codesCol), weights))
      .withColumn("pred", col("score_micro") >= 0L)

  /** The trained probe as a row FILTER over raw vectors — the
    * enforcement form ([[QualityClassifier.keepByScore]]'s embedding
    * sibling): quantize + dot + threshold fused into one stateless
    * codegen scan, so it chains in front of batch and streaming
    * ingests alike. `weights.length` must be `dim + 1` for the
    * training-time vector dimension.
    */
  def keepByScore(
      df: DataFrame,
      vecCol: String,
      weights: Array[Long],
      cutoffMicro: Long = 0L): DataFrame =
    df.filter(
      Int8Exprs.int8Dot(
        concat(Int8Exprs.int8Codes(col(vecCol)), array(lit(1.toByte))),
        weights) >= cutoffMicro)

  /** The composed probe: featurize, train, score, report per-row
    * agreement — q145's auditable output shape
    * (`label`/`score_micro`/`pred`/`correct` per row).
    */
  def probe(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      positive: Column,
      dim: Int,
      iters: Int = 40,
      lr: Double = 0.001): DataFrame = {
    val feats = features(embs, idCol, vecCol, positive)
      .localCheckpoint(false) // one vector scan, shared by train + score
    val w = train(feats, "codes", "y", dim + 1, iters, lr)
    score(feats, "codes", w)
      .select(
        col(idCol),
        (col("y") === 1L).as("label"),
        col("score_micro"),
        col("pred"),
        (col("pred") === (col("y") === 1L)).as("correct"))
  }
}
