package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `ARRAY<FLOAT>` embedding
  * column.
  *
  *  - `bruteForceTopK` — the exact baseline: one codegen'd projection
  *    computing cosine against a literal query vector, then a distributed
  *    top-K (`TakeOrderedAndProject` — per-partition heaps, no full
  *    sort). Linear scan, but embarrassingly parallel: at 100 TB it is
  *    one pass with no shuffle beyond the K-row driver merge.
  *
  *  - `lshTopK` — the scale path: random-hyperplane signatures bucket the
  *    corpus once (can be persisted/bucketed-on-write); a query probes
  *    only its own bucket ± multiprobe neighbors, turning the scan into a
  *    partition-pruned lookup.
  */
object Similarity {

  /** Scan-side cosine against a literal query vector. When every query
    * component is exactly float-representable (always true when the
    * query comes from a float embedding table), the projection runs on
    * the native codegen expressions ([[graft.functions.expressions.DotProductFloat]]
    * + [[graft.functions.expressions.Norm2Float]], query norm folded
    * driver-side in the same order) — bit-identical to the HOF form and
    * the DuckDB oracle, but fused into WholeStageCodegen instead of
    * interpreted HOF dispatch per row. Falls back to the HOF form for
    * general double queries.
    */
  def withCosine(emb: DataFrame, vecCol: String, query: Seq[Double]): DataFrame =
    if (query.nonEmpty && query.forall(d => d.toFloat.toDouble == d)) {
      var qn = 0.0
      query.foreach(d => qn += d * d)
      emb.withColumn(
        "cos",
        graft.functions.VectorFunctions.nanDiv(
          graft.functions.expressions.DotProductFloat.dotF(
            col(vecCol), typedlit(query.map(_.toFloat))),
          graft.functions.expressions.Norm2Float.norm2F(col(vecCol)) * lit(math.sqrt(qn))))
    } else
      emb.withColumn("cos", cosineSimilarity(col(vecCol), typedlit(query)))

  def bruteForceTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int): DataFrame =
    withCosine(emb, vecCol, query)
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)

  // --- int8 scalar quantization (SQ8) ---------------------------------------

  /** The int8 codes artifact: `(id, codes ARRAY<TINYINT>)` — 4× smaller
    * than float32, cosine-preserving up to quantization noise (uniform
    * per-vector scaling cancels in cosine, so no scale column is needed
    * for search; see [[graft.functions.expressions.Int8Exprs]]). The
    * middle rung of the storage ladder: float32 (exact) → SQ8 (4×, this)
    * → PQ ([[pqEncode]], ~dim×4/m ×). Persist partitioned like any
    * embedding table; [[int8TopKFromCodes]] is the read path.
    */
  def scalarQuantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(
      col(idCol),
      graft.functions.expressions.Int8Exprs.int8Codes(col(vecCol)).alias("codes"))

  /** Brute-force top-k by QUANTIZED cosine, fused: one codegen pass per
    * row quantizes the float vector and scores it against the
    * driver-quantized query — no code array materializes, the scan
    * reads only (id, vec), and the cut is a TakeOrdered of
    * (id, double). `cos` (exact float cosine from the SAME scan) rides
    * along so recall against the exact ranking is auditable row-by-row.
    */
  def int8TopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int): DataFrame = {
    val qc = graft.functions.expressions.Int8Exprs.quantizeLocal(query)
    withCosine(emb, vecCol, query.map(_.toDouble).toSeq)
      .select(
        col(idCol),
        graft.functions.expressions.Int8Exprs.int8Cos(col(vecCol), qc).alias("cos_q"),
        col("cos"))
      .orderBy(col("cos_q").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-SQ8 composed ANN (FAISS's `IVF<n>,SQ8` recipe): the coarse
    * quantizer routes the query to `nProbe` cells, and INSIDE the
    * probed cells scoring runs the fused int8 kernel — so the scan
    * touches ≈ `nProbe/nLists` of the corpus and pays small-integer
    * arithmetic per row instead of a float dot. With `rerank > 0` the
    * top `rerank` quantized candidates are re-scored with the exact
    * float cosine INSIDE the same plan: the candidate TakeOrdered
    * carries the vector column (≤ `rerank` rows — bounded by
    * construction), so the re-rank needs no second corpus pass and no
    * join. Zero shuffles end to end.
    */
  def ivfSq8TopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 2,
      rerank: Int = 0,
      seed: Long = 42L,
      trainSample: Int = 4096): DataFrame = {
    val centroids =
      trainCentroids(emb, idCol, vecCol, nLists, seed, trainSample)
    val probeCells =
      nearestCentroids(centroids, query.map(_.toDouble).toArray, nProbe)
    val qc = graft.functions.expressions.Int8Exprs.quantizeLocal(query)
    val scanned = emb.filter(
      graft.functions.expressions.NearestCellExpr
        .nearestCell(col(vecCol), centroids)
        .isInCollection(probeCells))
    if (rerank <= 0)
      scanned
        .select(col(idCol),
          graft.functions.expressions.Int8Exprs.int8Cos(col(vecCol), qc)
            .alias("cos_q"))
        .orderBy(col("cos_q").desc, col(idCol).asc)
        .limit(k)
    else {
      val cand = scanned
        .select(col(idCol), col(vecCol),
          graft.functions.expressions.Int8Exprs.int8Cos(col(vecCol), qc)
            .alias("cos_q"))
        .orderBy(col("cos_q").desc, col(idCol).asc)
        .limit(math.max(rerank, k))
      // the exact re-rank IS brute force over the bounded candidates —
      // one shared implementation keeps the cosine/tie-break identical
      // to the exact path (the spec's full-probe ≡ brute invariant)
      bruteForceTopK(cand, idCol, vecCol, query.map(_.toDouble).toSeq, k)
    }
  }

  /** [[int8TopK]] over a PERSISTED codes table (the artifact read path —
    * pure small-integer arithmetic, no float vector ever loaded).
    */
  def int8TopKFromCodes(
      codes: DataFrame,
      idCol: String,
      codesCol: String,
      query: Array[Float],
      k: Int): DataFrame = {
    val qc = graft.functions.expressions.Int8Exprs.quantizeLocal(query)
    codes
      .select(
        col(idCol),
        graft.functions.expressions.Int8Exprs.int8CosCodes(col(codesCol), qc)
          .alias("cos_q"))
      .orderBy(col("cos_q").desc, col(idCol).asc)
      .limit(k)
  }

  // --- binary (1-bit) quantization (BQ) --------------------------------------

  /** The binary-codes artifact: `(id, codes ARRAY<BIGINT>)` — sign
    * bits packed 64 per word, 32× smaller than float32. The coarsest
    * rung of the storage ladder (float32 → SQ8 → PQ → BQ); similarity
    * over the codes is HAMMING distance (XOR + popcount — see
    * [[graft.functions.expressions.BinaryQuantExprs]]), so BQ is the
    * candidate-generation tier: scan the codes, take the Hamming
    * top-`rerank`, re-rank the bounded survivors exactly. Persist
    * partitioned like any embedding table; [[bqTopKFromCodes]] is the
    * read path.
    */
  def binaryQuantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(
      col(idCol),
      graft.functions.expressions.BinaryQuantExprs.bqCodes(col(vecCol)).alias("codes"))

  /** Top-k by HAMMING distance between sign bits, fused: one codegen
    * pass per row packs the float vector on the fly and XOR/popcounts
    * it against the driver-packed query — no word array materializes,
    * and the cut is a TakeOrdered of (id, long). With `rerank = 0`
    * the exact float cosine rides along from the SAME scan so
    * sign-agreement vs true similarity is auditable row-by-row; with
    * `rerank > 0` the top `rerank` Hamming candidates re-rank by exact
    * cosine INSIDE the plan (the candidate TakeOrdered carries the
    * vector column, bounded by `rerank` — the [[ivfSq8TopK]] recipe,
    * no join, no second corpus pass), which is the production BQ
    * shape: 1-bit scan, exact tail.
    */
  def bqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      rerank: Int = 0): DataFrame = {
    val qw = graft.functions.expressions.BinaryQuantExprs.packLocal(query)
    if (rerank <= 0)
      withCosine(emb, vecCol, query.map(_.toDouble).toSeq)
        .select(
          col(idCol),
          graft.functions.expressions.BinaryQuantExprs
            .bqHamming(col(vecCol), qw).alias("ham"),
          col("cos"))
        .orderBy(col("ham").asc, col(idCol).asc)
        .limit(k)
    else {
      val cand = emb
        .select(col(idCol), col(vecCol),
          graft.functions.expressions.BinaryQuantExprs
            .bqHamming(col(vecCol), qw).alias("ham"))
        .orderBy(col("ham").asc, col(idCol).asc)
        .limit(math.max(rerank, k))
      bruteForceTopK(cand, idCol, vecCol, query.map(_.toDouble).toSeq, k)
    }
  }

  /** [[bqTopK]] with the candidate tier in SRP-EXPANDED sign space
    * (round 20): coordinate-sign BQ keys on whatever basis the
    * embedding shipped in — at low storage dimension its Hamming
    * ranking is noise-dominated (BASELINE.md round-19 BQ recall tables). Here each
    * vector first projects through `outDim` deterministic ±1
    * hyperplanes ([[graft.functions.expressions.SrpExpandExpr]], one
    * fused codegen pass, no md5 on the row path), so the candidate
    * tier gets `outDim` ANGLE-PRESERVING sign bits regardless of
    * storage dimension; the exact cosine re-rank stays on the
    * ORIGINAL floats. Same plan shape as [[bqTopK]]'s rerank arm: one
    * scan into a bounded TakeOrdered carrying the vector, no join, no
    * second corpus pass, zero exchanges.
    */
  def bqTopKExpanded(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      rerank: Int,
      outDim: Int,
      prefix: String = "rp"): DataFrame = {
    require(rerank >= k, s"rerank depth $rerank must be >= k = $k")
    val qx = graft.functions.expressions.SrpExpandExpr
      .expandLocal(query, outDim, prefix)
    val qw = graft.functions.expressions.BinaryQuantExprs.packLocal(qx)
    val cand = emb
      .select(col(idCol), col(vecCol),
        graft.functions.expressions.BinaryQuantExprs
          .bqHamming(
            graft.functions.expressions.SrpExpandExpr
              .srpExpand(col(vecCol), outDim, prefix),
            qw)
          .alias("ham"))
      .orderBy(col("ham").asc, col(idCol).asc)
      .limit(rerank)
    bruteForceTopK(cand, idCol, vecCol, query.map(_.toDouble).toSeq, k)
  }

  /** [[bqTopK]] over a PERSISTED binary-codes table (the artifact read
    * path — pure XOR/popcount, no float vector ever loaded; follow
    * with an exact re-rank join against the float table when recall
    * matters).
    */
  def bqTopKFromCodes(
      codes: DataFrame,
      idCol: String,
      codesCol: String,
      query: Array[Float],
      k: Int): DataFrame = {
    val qw = graft.functions.expressions.BinaryQuantExprs.packLocal(query)
    codes
      .select(
        col(idCol),
        graft.functions.expressions.BinaryQuantExprs
          .bqHammingCodes(col(codesCol), qw).alias("ham"))
      .orderBy(col("ham").asc, col(idCol).asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    * into `nLists` cells; a query probes only the `nProbe` cells whose
    * centroids are nearest, scanning ≈ `nProbe/nLists` of the data. The
    * index (cell assignments) is computed once and reusable — at 100 TB
    * you'd persist it partitioned by cell so a probe is a
    * partition-pruned scan.
    *
    * The quantizer is trained with Lloyd iterations on a driver-side
    * SAMPLE — the standard IVF recipe (FAISS trains on ~100k sampled
    * vectors regardless of corpus size): centroid quality needs a sample,
    * not the corpus, and a distributed fit would pay per-iteration job
    * scheduling for no recall gain. Assignment + probe stay distributed.
    *
    * Deterministic: fixed seed drives sampling and init, and final
    * scoring uses the same cosine expression as the exact path.
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 2,
      seed: Long = 42L,
      trainSample: Int = 4096): DataFrame = {
    val centroids = trainCentroids(emb, idCol, vecCol, nLists, seed, trainSample)

    // --- distributed assign + probe ---
    // the probe filter is the native codegen `nearest_cell` expression
    // (same assignment kernel as semanticDedup — no closure UDF on the
    // scan path) against the driver-computed probe-cell set
    val probeCells = nearestCentroids(centroids, query.toArray, nProbe)

    emb
      .filter(
        graft.functions.expressions.NearestCellExpr
          .nearestCell(col(vecCol), centroids)
          .isInCollection(probeCells))
      .transform(withCosine(_, vecCol, query))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch ANN: per-query top-`k` cosine neighbors for a whole QUERY SET
    * (a kNN JOIN `queries ⋈ corpus`), via shared-quantizer IVF probing —
    * the join-shaped sibling of [[ivfTopK]]'s single-probe path, for the
    * embedding-pipeline shapes where the "query" is itself a table
    * (link candidate pairs across corpora, retrieve n neighbors per
    * training doc, density estimation).
    *
    * Shape, and why it survives 100 TB:
    *
    *  - the corpus is assigned its cell ONCE in a fused native
    *    projection (`nearest_cell`), one scan of the corpus per join;
    *  - each query row expands to its `nProbe` probe cells with the
    *    native `nearest_cells` routing expression (the DISTRIBUTED twin
    *    of the driver-side routing in [[ivfTopK]] — query sets are NOT
    *    collected, so millions of queries are fine);
    *  - the equi-join on `cell` touches `≈ |Q|·nProbe/nLists` of the
    *    query×corpus cross product, never all pairs. Small query batches
    *    broadcast (corpus never shuffles); huge ones hash-partition both
    *    sides on the cell id — a scalar int key, never a vector;
    *  - cosine is scored inside the join projection (native float
    *    kernels) and only `(qid, id, cos)` triples enter the ranking
    *    exchange — embeddings never cross the second shuffle;
    *  - per-query top-k is a `row_number` window on the scalar triples,
    *    partitioned by query id (ties: higher cos first, then lower
    *    corpus id, matching [[bruteForceTopK]]).
    *
    * Column names of `queries` must not collide with the corpus side.
    * Recall follows the probed fraction exactly like [[ivfTopK]]
    * (q41/q82's measured story); a query's own vector always lands in a
    * probed cell (its nearest cell is probed first), so self-matches are
    * never lost.
    */
  def ivfKnnJoin(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 2,
      seed: Long = 42L,
      trainSample: Int = 4096): DataFrame = {
    require(k > 0 && nProbe > 0 && nProbe <= nLists,
      s"need 0 < nProbe <= nLists and k > 0, got k=$k nProbe=$nProbe nLists=$nLists")
    val centroids = trainCentroids(emb, idCol, vecCol, nLists, seed, trainSample)
    knnJoinWithCentroids(
      emb, idCol, vecCol, queries, qidCol, qvecCol, k, nProbe, centroids)
  }

  /** [[ivfKnnJoin]]'s join body over an already-trained quantizer —
    * exposed within the package so callers comparing probe settings
    * (e.g. the q85 recall twin at `nProbe = nLists`, which IS the exact
    * answer) train ONCE instead of per call.
    */
  private[graft] def knnJoinWithCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      nProbe: Int,
      centroids: Array[Array[Double]]): DataFrame = {
    require(k > 0 && nProbe > 0 && nProbe <= centroids.length,
      s"need 0 < nProbe <= nLists and k > 0, got k=$k nProbe=$nProbe nLists=${centroids.length}")
    require(qidCol != idCol && qvecCol != vecCol,
      s"query column names must differ from corpus ($qidCol/$idCol, $qvecCol/$vecCol)")

    val corpus = emb.select(
      col(idCol),
      col(vecCol),
      graft.functions.expressions.NearestCellExpr
        .nearestCell(col(vecCol), centroids).as("cell"))

    val probes = queries.select(
      col(qidCol),
      col(qvecCol),
      explode(
        graft.functions.expressions.NearestCellsExpr
          .nearestCells(col(qvecCol), centroids, nProbe)).as("cell"))

    val cos = nanDiv(
      graft.functions.expressions.DotProductFloat.dotF(col(qvecCol), col(vecCol)),
      graft.functions.expressions.Norm2Float.norm2F(col(qvecCol)) *
        graft.functions.expressions.Norm2Float.norm2F(col(vecCol)))

    // vectors are consumed HERE; only scalar triples reach the window
    val scored = probes
      .join(corpus, "cell")
      .select(col(qidCol), col(idCol), cos.as("cos"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("cos").desc, col(idCol).asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Cell count for [[semanticDedup]] that holds per-cell population —
    * and therefore per-cell pair work (n/nLists)²/2 — constant as the
    * corpus grows: `ceil(n / targetCellRows)`, capped at 2^16 because
    * centroids are sample-trained driver-side (16 rows per centroid ≈
    * 1M sample rows at the cap). Past the cap (n ≳ 67M rows at the
    * default cell size), raise `targetCellRows` (cells get bigger but
    * stay bounded) or use [[srpNearDup]], whose sketch-based candidate
    * generation needs no trained model.
    */
  def autoNLists(corpusSize: Long, targetCellRows: Int = 1024): Int = {
    require(targetCellRows > 0, s"targetCellRows must be positive, got $targetCellRows")
    math.min(1 << 16, math.max(1, math.ceil(corpusSize.toDouble / targetCellRows).toInt))
  }

  /** Driver-side budget for the k-means training collect and Lloyd fit:
    * the effective sample-row cap is the minimum of
    *
    *  - the REQUESTED rows (`trainSample` / the callers' `k·16` sizing);
    *  - a MEMORY bound `memBudgetBytes / (dim·8)` — rows are collected
    *    as doubles, so at dim 768 a naive 2²⁰-row sample would be ~6 GB
    *    of driver heap (the round-8 watch item this closes);
    *  - a FLOP bound `lloydFlopBudget / (8 iters · 3 flops · k · dim)` —
    *    assignment is the Lloyd cost center (8·rows·k·dim
    *    multiply-add-compare); the budget default assumes the
    *    parallelized assignment phase below and caps the fit at roughly
    *    a minute of a multicore driver.
    *
    * When a bound binds, the quantizer trains on fewer rows per
    * centroid (graceful quality degradation, loudly logged) instead of
    * melting the driver. REALISTIC CEILING (the autoNLists cap story):
    * at the 2¹⁶-cell cap and dim 768, the flop bound admits ~10⁵ sample
    * rows ≈ 1.6 rows/centroid — k-means needs ≥ ~16, so past n ≈ 67M
    * rows (where autoNLists saturates) raise `targetCellRows` to keep
    * k·dim·16 inside the budget, or use [[srpNearDup]], whose
    * sketch-based candidate generation needs no trained model.
    */
  private[graft] def boundedTrainRows(
      requested: Int,
      k: Int,
      dim: Int,
      memBudgetBytes: Long = 512L << 20,
      lloydFlopBudget: Double = 2e13): Int = {
    require(requested > 0 && k > 0 && dim > 0,
      s"boundedTrainRows: requested=$requested, k=$k, dim=$dim must be positive")
    val memRows = memBudgetBytes / (dim.toLong * 8L)
    val flopRows = (lloydFlopBudget / (8.0 * 3.0 * k.toDouble * dim)).toLong
    math.max(1, math.min(requested.toLong, math.min(memRows, flopRows)).toInt)
  }

  /** Coarse k-means quantizer trained with 8 Lloyd iterations on a
    * bounded driver-side sample — shared by [[ivfTopK]] and
    * [[semanticDedup]]. The standard IVF recipe (FAISS trains on ~100k
    * sampled vectors regardless of corpus size): centroid quality needs
    * a sample, not the corpus, and a distributed fit would pay
    * per-iteration job scheduling for no recall gain. The sample size
    * is capped by [[boundedTrainRows]] (driver memory + Lloyd flops).
    *
    * Deterministic and UNIFORM: ordering by `md5(id)` is a seedless
    * uniform shuffle — on corpora where embedding distribution
    * correlates with id (time- or topic-ordered ingestion), a
    * head-of-table sample would train centroids on one region only. The
    * id stays opaque (string key, no numeric cast) so any id type works.
    *
    * The assignment phase parallelizes across driver cores; results are
    * BIT-IDENTICAL to the sequential fold because each sample's argmin
    * is an independent pure computation (no cross-element FP
    * accumulation under threads) and the centroid-sum accumulation runs
    * sequentially in sample order afterwards.
    */
  private[graft] def trainCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      seed: Long,
      trainSample: Int): Array[Array[Double]] = {
    // dim probe before the collect so the budget can bound the sample —
    // null vectors are filtered out of the probe (a null sampled row
    // would make size() yield SQL NULL and getInt throw an opaque NPE)
    val dimRow = emb
      .filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).head(1)
    require(dimRow.nonEmpty, "trainCentroids: no non-null vectors in embedding table")
    val dimProbe = dimRow(0).getInt(0)
    val bounded = boundedTrainRows(trainSample, math.max(1, nLists), math.max(1, dimProbe))
    if (bounded < trainSample)
      System.err.println(
        s"[graft] trainCentroids: sample capped $trainSample -> $bounded rows " +
          s"(driver budget at k=$nLists, dim=$dimProbe); quantizer quality degrades " +
          s"gracefully - raise targetCellRows or switch to srpNearDup at this scale")
    val sample = collectTrainSample(emb, idCol, vecCol, bounded)
    require(sample.nonEmpty, "trainCentroids: empty embedding table")
    lloydFit(sample, nLists, seed)
  }

  /** The bounded, md5-uniform sample collect behind [[trainCentroids]]
    * (and, collected ONCE for all subspaces, [[trainProductQuantizer]]).
    */
  private def collectTrainSample(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      rows: Int): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val idKey = col(idCol).cast("string")
    emb
      // null vectors are excluded from training (they cannot contribute a
      // centroid direction); on corpora without nulls the sample — and
      // every downstream cell assignment — is unchanged
      .filter(col(vecCol).isNotNull)
      .select(col(vecCol))
      .orderBy(md5(idKey), idKey)
      .limit(rows)
      .as[Array[Float]]
      .collect()
      .map(_.map(_.toDouble))
  }

  /** In-memory Lloyd fit — 8 iterations, exact arithmetic of the
    * original sequential fold (argmin phase parallel and order-free,
    * accumulation sequential in sample order — see [[trainCentroids]]).
    */
  private[graft] def lloydFit(
      sample: Array[Array[Double]],
      nLists: Int,
      seed: Long): Array[Array[Double]] = {
    val dim = sample.head.length

    def sqdist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    val kEff = math.min(nLists, sample.length)
    var centroids = rnd.shuffle(sample.indices.toList).take(kEff)
      .map(sample(_).clone()).toArray
    val best = new Array[Int](sample.length)
    var iter = 0
    while (iter < 8) { // coarse quantizer: convergence not required
      // phase 1, PARALLEL: per-sample nearest centroid. Pure independent
      // argmin (ascending index, strict <) — thread scheduling cannot
      // change any result, so this is bit-identical to the serial loop.
      val cs = centroids
      java.util.stream.IntStream.range(0, sample.length).parallel().forEach { i =>
        val v = sample(i)
        var b = 0; var bd = Double.MaxValue; var c = 0
        while (c < kEff) { val d = sqdist(v, cs(c)); if (d < bd) { bd = d; b = c }; c += 1 }
        best(i) = b
      }
      // phase 2, SEQUENTIAL in sample order: centroid sums — FP addition
      // order is exactly the old single-threaded fold's, so centroids
      // (and every downstream cell assignment hash) are unchanged.
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Long](kEff)
      var i = 0
      while (i < sample.length) {
        val v = sample(i)
        val b = best(i)
        counts(b) += 1
        var j = 0
        while (j < dim) { sums(b)(j) += v(j); j += 1 }
        i += 1
      }
      centroids = Array.tabulate(kEff) { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(j => sums(c)(j) / counts(c))
      }
      iter += 1
    }
    centroids
  }

  /** SemDeDup-style semantic deduplication (cf. Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): a coarse k-means quantizer
    * partitions the corpus into `nLists` cells, near-dup candidate
    * pairs are compared only WITHIN a cell (cos ≥ threshold), connected
    * components over those pairs form semantic-dup groups, and one
    * representative per group survives (min id; compose the labeling
    * with [[Dedup.keepRepresentative]] for a quality-based policy).
    *
    * Output: `(id, cell, dup_group, kept)` for every input row —
    * singletons are their own group with `kept = 1`.
    *
    * Scale shape: this is the sub-quadratic tier for embedding dedup
    * when LSH recall curves are awkward (very high thresholds) —
    * compute is Σ_cells m_c²/2 ≈ n²/(2·nLists) dot products (vs n²/2
    * exact), one hash exchange on the cell id (vectors cross the wire
    * once), and the CC rounds run over the pair graph only. Grow
    * `nLists` with the corpus (n/nLists rows per cell ≈ constant) the
    * same way SRP bits grow with log2(n). A cell whose population
    * exceeds `maxCellRows` fails loud (quantizer collapse — raise
    * `nLists` or `trainSample`) instead of melting a task.
    *
    * Recall caveat (SemDeDup's documented trade): only pairs the
    * quantizer CO-LOCATES are compared. Near-identical vectors (the
    * high-threshold regime this targets) virtually always share a
    * cell; semantically distant pairs straddle cells — measured ≈ 0.36
    * pair recall at threshold 0.4 on the fixtures (the near-uniform
    * fixture regime, BASELINE.md round 14). For distant-pair completeness use
    * [[srpNearDup]] (recall tunable via bands) or the exact tier.
    *
    * Determinism: seeded sample-trained centroids (see
    * [[trainCentroids]]), ties in nearest-cell assignment break to the
    * lowest cell index, and the intra-cell loop emits `(min id, max
    * id)` pairs — reproducible end to end.
    *
    * `nLists = 0` (the default) auto-sizes the cell count from the
    * corpus — the same lesson as [[autoRowsPerBand]]: per-cell pair
    * work is (n/nLists)²/2, so a FIXED cell count is quadratic in
    * corpus size; [[autoNLists]] holds n/nLists ≈ `targetCellRows`
    * constant (linear total compute growth), and the training sample
    * is raised to ≥16 rows per centroid so the extra cells are
    * meaningful.
    *
    * Skew handling: k-means cells are NOT uniform (dense regions of
    * embedding space produce hot cells), so a cell is never one task —
    * each cell's pair loop runs as a block-nested-loop over
    * `ceil(m_cell / blockRows)` sub-blocks (the `embeddingNearDupBlocked`
    * trick, scoped per cell), so task time is bounded by `blockRows²`
    * dots no matter how skewed the quantizer gets, and a hot cell
    * parallelizes across the cluster instead of straggling.
    * `maxCellRows` still bounds total per-cell COMPUTE (m²/2 grows
    * quadratically in the hot cell even when perfectly parallelized) —
    * checked driver-side on the tiny cell-population aggregate before
    * any replication happens.
    */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int = 0,
      seed: Long = 42L,
      trainSample: Int = 4096,
      maxCellRows: Int = 100000,
      blockRows: Int = 512): DataFrame = {
    require(nLists >= 0, s"nLists must be >= 0 (0 = auto), got $nLists")
    require(blockRows > 0, s"blockRows must be positive, got $blockRows")
    require(maxCellRows > 0, s"maxCellRows must be positive, got $maxCellRows")
    val k = if (nLists > 0) nLists else autoNLists(emb.select(col(idCol)).count())
    val sampleRows = math.max(trainSample, math.min(k * 16, 1 << 20))
    val centroids = trainCentroids(emb, idCol, vecCol, k, seed, sampleRows)
    semanticDedupCore(
      assignCells(emb, idCol, vecCol, centroids), threshold, maxCellRows, blockRows,
      caller = "semanticDedup")
  }

  /** [[semanticDedup]] with a FROZEN, caller-supplied quantizer — no
    * training pass: the caller owns the centroids (trained once at
    * bootstrap and persisted, so every later batch lands in the same
    * cells), and this call only assigns cells and runs the intra-cell
    * dedup. Output contract is identical to
    * [[semanticDedup]].
    */
  def semanticDedupFrozen(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      maxCellRows: Int = 100000,
      blockRows: Int = 512): DataFrame = {
    require(centroids.nonEmpty, "semanticDedupFrozen: empty centroid model")
    require(blockRows > 0, s"blockRows must be positive, got $blockRows")
    require(maxCellRows > 0, s"maxCellRows must be positive, got $maxCellRows")
    semanticDedupCore(
      assignCells(emb, idCol, vecCol, centroids), threshold, maxCellRows, blockRows,
      caller = "semanticDedupFrozen", remedy = frozenRemedy)
  }

  /** Prototype-outlier report: every vector's cosine to its own cell's
    * CENTROID (its prototype), with a low-cosine outlier flag — the
    * embedding-space noise pruner (mislabeled scrapes, encoder garbage,
    * off-distribution fragments score far from every prototype; the
    * SemDeDup/CLIP-curation companion to [[semanticDedup]], which prunes
    * the opposite tail).
    *
    * Shape, and why it survives 100 TB: the quantizer is the bounded
    * driver-side sample fit shared with [[ivfTopK]] (FAISS recipe —
    * centroid quality needs a sample, not the corpus); scoring is then
    * ONE row-local projection — `nearest_cell` picks the prototype and a
    * CaseWhen chain over the k literal centroids computes the cosine, so
    * the plan is scan → project with ZERO exchanges and the centroid
    * matrix ships inside the plan, not as a join side.
    *
    * Bit-exactness: centroid literals are doubles (not
    * float-representable), so the cosine takes the HOF path — the same
    * ordered zip/fold arithmetic as the DuckDB oracle's `list_reduce`
    * form; with `nLists = 1` the 8-iteration Lloyd fit collapses to the
    * sequential sample-order mean, which the oracle reproduces with an
    * ordered element-wise `list_reduce` over the identical md5-ordered
    * bounded sample.
    *
    * Output: `(<idCol>, cell, cos_proto, is_outlier)` — one row per
    * input vector, `is_outlier = 1` iff `cos_proto < lowCos`.
    */
  def prototypeOutliers(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      lowCos: Double = -0.15,
      seed: Long = 42L,
      trainSample: Int = 4096): DataFrame = {
    require(nLists >= 1, s"nLists must be >= 1, got $nLists")
    val centroids = trainCentroids(emb, idCol, vecCol, nLists, seed, trainSample)
    val assigned = emb.select(
      col(idCol),
      col(vecCol).alias("__vec"),
      graft.functions.expressions.NearestCellExpr
        .nearestCell(col(vecCol), centroids).alias("__cell"))
    // CaseWhen over the k literal centroids: only the matching branch
    // evaluates, so each row pays exactly one cosine
    val cosProto = centroids.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, (c, i)) =>
        when(col("__cell") === lit(i),
          cosineSimilarity(col("__vec"), typedlit(c.toSeq))).otherwise(acc)
    }
    assigned
      .select(
        col(idCol),
        col("__cell").cast("long").alias("cell"),
        cosProto.alias("cos_proto"))
      .withColumn("is_outlier", (col("cos_proto") < lit(lowCos)).cast("long"))
  }

  /** Chunk→document embedding roll-up: element-wise MEAN of each
    * group's vectors (mean-pool chunk embeddings into one doc vector,
    * per-source centroids, per-cluster drift tracking), via the native
    * `vector_micro_sum` `TypedImperativeAggregate` — one
    * `(count, dim longs)` buffer per group per partition crosses the
    * shuffle instead of `rows × dim` exploded element rows, and the
    * fixed-point integer accumulation is bit-identical under any
    * partitioning (a distributed DOUBLE mean is neither).
    *
    * Output is the EXPLODED scalar form
    * `(<groupCol>, n_chunks, dim, micro_sum, mean_val)` — one row per
    * group per dimension (array columns don't survive the driver's
    * row-hash compare); [[meanPooledVectors]] is the array-shaped twin
    * for feeding the pooled vectors back into the ANN/dedup family.
    * Null vectors contribute to neither the count nor the sums;
    * all-null groups vanish (no dimensions to emit).
    */
  def meanPoolEmbeddings(
      emb: DataFrame,
      groupCol: String,
      vecCol: String): DataFrame =
    emb.groupBy(groupCol)
      .agg(graft.functions.expressions.VectorSumAgg
        .vectorMicroSum(col(vecCol)).alias("vs"))
      .select(
        col(groupCol),
        col("vs.n").alias("n_chunks"),
        posexplode(col("vs.micro")).as(Seq("dim", "micro_sum")))
      .select(
        col(groupCol),
        col("n_chunks"),
        col("dim").cast("long").alias("dim"),
        col("micro_sum"),
        ((col("micro_sum").cast("double") / col("n_chunks").cast("double"))
          / lit(1000000.0)).alias("mean_val"))

  /** [[meanPoolEmbeddings]]' array-shaped twin:
    * `(<groupCol>, n_chunks, pooled ARRAY<DOUBLE>)` — the pooled vector
    * ready for [[bruteForceTopK]]/[[semanticDedupFrozen]]-style reuse.
    */
  def meanPooledVectors(
      emb: DataFrame,
      groupCol: String,
      vecCol: String): DataFrame =
    emb.groupBy(groupCol)
      .agg(graft.functions.expressions.VectorSumAgg
        .vectorMicroSum(col(vecCol)).alias("vs"))
      .select(
        col(groupCol),
        col("vs.n").alias("n_chunks"),
        transform(col("vs.micro"), m =>
          (m.cast("double") / col("vs.n").cast("double")) / lit(1000000.0))
          .alias("pooled"))

  /** The hot-cell remedy for FROZEN-quantizer callers: they cannot raise
    * `nLists`/`trainSample` (the model is fixed) — the fix is refreshing
    * the persisted model.
    */
  private val frozenRemedy: String =
    "the frozen quantizer no longer fits the corpus — retrain and re-persist " +
      "the centroid model (the corpus has drifted or grown past the cell capacity), " +
      "or raise maxCellRows if the hot cell is genuinely acceptable."

  /** Post-training tail shared by [[semanticDedup]] and
    * [[semanticDedupFrozen]]: intra-cell block pairs → CC → min-id keep
    * over an already cell-assigned `(id, vec, nrm, cell)` frame.
    */
  private def semanticDedupCore(
      assigned: DataFrame,
      threshold: Double,
      maxCellRows: Int,
      blockRows: Int,
      caller: String,
      remedy: String = defaultRemedy): DataFrame = {
    val cellCounts = checkedCellCounts(assigned, maxCellRows, caller, remedy)
    val pairs = intraCellPairs(assigned, cellCounts, blockRows, threshold)

    val groups = Components.connectedComponents(
      pairs, "id_a", "id_b", assigned.select("id"), "id")
      .withColumnRenamed("cluster_id", "dup_group")
    assigned
      .select("id", "cell")
      .join(groups, Seq("id"))
      .select(
        col("id"),
        col("cell"),
        col("dup_group"),
        (col("id") === col("dup_group")).cast("long").alias("kept"))
  }

  /** `(id, vec, nrm, cell)` — every row labeled with its nearest
    * centroid (squared-euclidean, ties to the lowest cell index),
    * MATERIALIZED once: the assigned frame feeds several plan positions
    * (cell counts, block-pair joins, CC's vertex set, final labeling
    * joins) on different keys, so ReuseExchange can never dedup them —
    * without this the assignment scan (k dot products per row) runs
    * once per position; same rationale as the dedup family's
    * materialized shingle-set table.
    */
  private def assignCells(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    Dedup.requireNumericId(emb, idCol, "Similarity (cell assignment)")
    // assignment runs as the native codegen `nearest_cell` expression
    // (centroid matrix rides the generated class as one flat double[] —
    // not a per-row broadcast lookup, no UDF boundary)
    emb.select(
      col(idCol).cast("long").alias("id"),
      col(vecCol).alias("vec"),
      graft.functions.expressions.Norm2Float.norm2F(col(vecCol)).alias("nrm"),
      graft.functions.expressions.NearestCellExpr
        .nearestCell(col(vecCol), centroids).alias("cell"))
      .localCheckpoint(true)
  }

  /** Cell populations (≤ nLists rows) with the loud quantizer-collapse
    * check — runs on the driver over the tiny aggregate, BEFORE any
    * replication fan-out.
    */
  private val defaultRemedy: String =
    "the quantizer collapsed or nLists is too small for the corpus; raise " +
      "nLists (keep n/nLists bounded) or trainSample."

  private def checkedCellCounts(
      assigned: DataFrame,
      maxCellRows: Int,
      caller: String,
      remedy: String): DataFrame = {
    val cellCounts = assigned.groupBy("cell").agg(count(lit(1)).alias("m"))
    val hot = cellCounts.filter(col("m") > maxCellRows).limit(1).collect()
    if (hot.nonEmpty)
      throw new IllegalArgumentException(
        s"$caller: cell ${hot.head.getInt(0)} holds ${hot.head.getLong(1)} rows " +
          s"(> maxCellRows=$maxCellRows) — $remedy")
    cellCounts
  }

  private def dotFF(va: Array[Float], vb: Array[Float]): Double = {
    var s = 0.0
    var d = 0
    val len = math.min(va.length, vb.length)
    while (d < len) { s += va(d).toDouble * vb(d).toDouble; d += 1 }
    s
  }

  /** Intra-cell near-dup pairs `(id_a < id_b)` as a per-cell
    * block-nested-loop: each row joins its cell's block count
    * (broadcast — ≤ nLists rows), lands in block `pmod(hash(id), b)`,
    * and replicates to every (cell, blockPair) group containing its
    * block. Same upper-triangle/cross-block kernel as the exact blocked
    * tier, but scoped per cell, so task time is bounded by `blockRows²`
    * dots no matter how skewed the quantizer gets.
    */
  private def intraCellPairs(
      assigned: DataFrame,
      cellCounts: DataFrame,
      blockRows: Int,
      threshold: Double): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val withB = assigned
      .join(broadcast(cellCounts), Seq("cell"))
      .select(
        col("id"), col("vec"), col("nrm"), col("cell"),
        greatest(lit(1), ceil(col("m").cast("double") / blockRows)).cast("int").alias("b"))
      .withColumn("blk", pmod(hash(col("id")), col("b")).cast("int"))
    val replicated = withB
      .select(
        col("id"), col("vec"), col("nrm"), col("cell"), col("blk"),
        explode(sequence(lit(0), col("b") - 1)).alias("o"))
      .select(
        col("id"), col("vec"), col("nrm"), col("cell"),
        col("blk"),
        when(col("blk") <= col("o"), col("blk")).otherwise(col("o")).alias("lo"),
        when(col("blk") <= col("o"), col("o")).otherwise(col("blk")).alias("hi"))
    replicated
      .as[(Long, Array[Float], Double, Int, Int, Int, Int)]
      .groupByKey(r => (r._4, r._6, r._7))
      .flatMapGroups { (key: (Int, Int, Int), it: Iterator[(Long, Array[Float], Double, Int, Int, Int, Int)]) =>
        val (_, i, j) = key
        if (i == j) {
          val rows = it.map(r => (r._1, r._2, r._3)).toArray
          java.util.Arrays.sort(rows, Ordering.by((r: (Long, Array[Float], Double)) => r._1))
          rows.indices.iterator.flatMap { a =>
            val (ida, va, na) = rows(a)
            (a + 1 until rows.length).iterator.flatMap { b =>
              val (idb, vb, nb) = rows(b)
              val cos = dotFF(va, vb) / (na * nb)
              if (cos >= threshold || cos.isNaN) Iterator.single((ida, idb))
              else Iterator.empty
            }
          }
        } else {
          val (ai, bj) = it.toArray.partition(_._5 == i)
          ai.iterator.flatMap { case (ida, va, na, _, _, _, _) =>
            bj.iterator.flatMap { case (idb, vb, nb, _, _, _, _) =>
              val cos = dotFF(va, vb) / (na * nb)
              if (cos >= threshold || cos.isNaN)
                Iterator.single((math.min(ida, idb), math.max(ida, idb)))
              else Iterator.empty
            }
          }
        }
      }
      .toDF("id_a", "id_b")
  }

  /** Incremental semantic dedup — the production ingest shape (the
    * embedding twin of [[Dedup.incrementalExact]]): a NEW batch is
    * near-dup-checked against the existing corpus WITHOUT any
    * corpus×corpus comparison, then deduplicated within itself. The
    * quantizer trains on the corpus (the stable side); both sides are
    * cell-assigned with it; batch rows meet only the corpus rows of
    * their own cell (corpus blocked per cell, batch rows replicated to
    * their cell's blocks — batch×corpus per-block compare, never
    * corpus×corpus); survivors then run the intra-batch pair loop + CC
    * + keep-min.
    *
    * Output, one row per batch id:
    * `(id, cell, corpus_dup, dup_group, kept)` — `corpus_dup = 1` rows
    * are dropped by the corpus (dup_group = -1, kept = 0); among
    * survivors `dup_group` is the intra-batch component label and the
    * min-id member is kept.
    */
  def incrementalSemanticDedup(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int = 0,
      seed: Long = 42L,
      trainSample: Int = 4096,
      maxCellRows: Int = 100000,
      blockRows: Int = 512): DataFrame = {
    require(nLists >= 0, s"nLists must be >= 0 (0 = auto), got $nLists")
    require(blockRows > 0, s"blockRows must be positive, got $blockRows")
    require(maxCellRows > 0, s"maxCellRows must be positive, got $maxCellRows")
    val k = if (nLists > 0) nLists else autoNLists(corpus.select(col(idCol)).count())
    val sampleRows = math.max(trainSample, math.min(k * 16, 1 << 20))
    val centroids = trainCentroids(corpus, idCol, vecCol, k, seed, sampleRows)
    incrementalSemanticCore(
      batch, corpus, idCol, vecCol, centroids, threshold, maxCellRows, blockRows,
      caller = "incrementalSemanticDedup", remedy = defaultRemedy)
  }

  /** [[incrementalSemanticDedup]] with a FROZEN, caller-supplied
    * quantizer — the sustained-ingest shape: no per-batch Lloyd retrain,
    * no corpus sample collect; cells stay CONSISTENT with every batch
    * already merged under the same model (a retrained quantizer would
    * re-cell the corpus and silently change which pairs can meet).
    * Output contract is identical to [[incrementalSemanticDedup]].
    */
  def incrementalSemanticDedupFrozen(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      maxCellRows: Int = 100000,
      blockRows: Int = 512): DataFrame = {
    require(centroids.nonEmpty, "incrementalSemanticDedupFrozen: empty centroid model")
    require(blockRows > 0, s"blockRows must be positive, got $blockRows")
    require(maxCellRows > 0, s"maxCellRows must be positive, got $maxCellRows")
    incrementalSemanticCore(
      batch, corpus, idCol, vecCol, centroids, threshold, maxCellRows, blockRows,
      caller = "incrementalSemanticDedupFrozen", remedy = frozenRemedy)
  }

  private def incrementalSemanticCore(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      maxCellRows: Int,
      blockRows: Int,
      caller: String,
      remedy: String): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._

    val assignedC = assignCells(corpus, idCol, vecCol, centroids)
    val assignedB = assignCells(batch, idCol, vecCol, centroids)
    val cellCountsC = checkedCellCounts(assignedC, maxCellRows, s"$caller(corpus)", remedy)
    // the hit-detection task for (cell, blk) materializes EVERY batch
    // row of that cell (batch rows replicate to all of their cell's
    // blocks), so a hot batch cell must fail loud BEFORE the join —
    // the survivor-side check below runs too late to bound this
    checkedCellCounts(assignedB, maxCellRows, s"$caller(batch ingest)", remedy)

    // batch×corpus per-cell block compare: corpus rows land in their
    // cell's block; batch rows replicate to every block of their cell
    // (replication factor = that cell's block count, NOT the batch
    // size); each (cell, block) task scans batch×corpusBlock and emits
    // the batch ids with a corpus near-dup. The corpus side is pruned
    // to the cells the batch TOUCHES (broadcast semi-join on ≤ nLists
    // cell ids) — a small ingest batch must not shuffle the whole
    // corpus, only its own cells' members.
    val touchedCells = assignedB.select("cell").distinct()
    val corpusBlocked = assignedC
      .join(broadcast(touchedCells), Seq("cell"), "left_semi")
      .join(broadcast(cellCountsC), Seq("cell"))
      .select(
        col("id"), col("vec"), col("nrm"), col("cell"),
        pmod(hash(col("id")),
          greatest(lit(1), ceil(col("m").cast("double") / blockRows)).cast("int"))
          .cast("int").alias("blk"),
        lit(0).alias("side"))
    val batchReplicated = assignedB
      .join(broadcast(cellCountsC), Seq("cell"))
      .select(
        col("id"), col("vec"), col("nrm"), col("cell"),
        explode(sequence(lit(0),
          greatest(lit(1), ceil(col("m").cast("double") / blockRows)).cast("int") - 1))
          .alias("blk"),
        lit(1).alias("side"))
    val hitIds = corpusBlocked
      .unionByName(batchReplicated)
      .as[(Long, Array[Float], Double, Int, Int, Int)]
      .groupByKey(r => (r._4, r._5))
      .flatMapGroups { (_: (Int, Int), it: Iterator[(Long, Array[Float], Double, Int, Int, Int)]) =>
        val (corpusRows, batchRows) = it.toArray.partition(_._6 == 0)
        batchRows.iterator.flatMap { case (idb, vb, nb, _, _, _) =>
          val hit = corpusRows.exists { case (_, vc, nc, _, _, _) =>
            val cos = dotFF(vb, vc) / (nb * nc)
            cos >= threshold || cos.isNaN
          }
          if (hit) Iterator.single(idb) else Iterator.empty
        }
      }
      .toDF("id")
      .distinct()

    val survivors = assignedB.join(hitIds, Seq("id"), "left_anti").localCheckpoint(true)

    // intra-batch dedup among survivors: same cells (corpus-trained
    // quantizer), survivor-sized block counts
    val cellCountsB = checkedCellCounts(survivors, maxCellRows, s"$caller(batch)", remedy)
    val pairs = intraCellPairs(survivors, cellCountsB, blockRows, threshold)
    val groups = Components.connectedComponents(
      pairs, "id_a", "id_b", survivors.select("id"), "id")
      .withColumnRenamed("cluster_id", "dup_group")

    val survivorRows = survivors
      .select("id", "cell")
      .join(groups, Seq("id"))
      .select(
        col("id"),
        col("cell"),
        lit(0L).alias("corpus_dup"),
        col("dup_group"),
        (col("id") === col("dup_group")).cast("long").alias("kept"))
    val droppedRows = assignedB
      .join(hitIds, Seq("id"))
      .select(
        col("id"),
        col("cell"),
        lit(1L).alias("corpus_dup"),
        lit(-1L).alias("dup_group"),
        lit(0L).alias("kept"))
    survivorRows.unionByName(droppedRows)
  }

  /** Banded SRP-LSH near-duplicate pairs — the LSH-bucketed scale path
    * for embedding near-dup (vs `Dedup.embeddingNearDup`'s exact
    * all-pairs): signed-random-projection sketches (Charikar, STOC'02)
    * bucket the corpus per band, candidates are same-(band, bucket)
    * pairs, and survivors are verified with the exact cosine. Recall for
    * cosine ≥ t is `1 - (1 - p^r)^b` with `p = 1 - acos(t)/π`.
    *
    * The hyperplanes are RADEMACHER (±1 entries), derived from the
    * project's portable 60-bit md5 primitive — `sign(p, j) = +1 iff
    * md5Hash60("srp:p:j")` is even — so the DuckDB oracle reconstructs
    * the IDENTICAL matrix from scratch (no literal shipping) and ±1
    * multiplication is exact in IEEE-754, keeping the sketch bits
    * bit-identical across engines.
    *
    * Scale shape: sketching is one scan (signs precomputed driver-side,
    * applied by the native codegen `SrpBandBucketsExpr` — no per-row
    * hashing, no UDF boundary); the candidate join
    * shuffles by (band, bucket) so only bucket-mates meet; verification
    * joins vectors back by id with norms computed once per row and the
    * pair dot as the native codegen `DotProductFloat` expression (HOFs
    * are CodegenFallback — never on the O(pairs) path).
    */
  /** Bucket-granularity sizing for [[srpNearDup]]: candidate volume per
    * band is ~`2^r · (n/2^r)²/2 = n²/2^(r+1)`, so a FIXED `rowsPerBand`
    * is quadratic in corpus size — the bits must grow with `log2(n)` to
    * hold bucket population (and thus per-bucket pair work) constant.
    * Measured (BASELINE.md round-6 scaling exponents): at 10× corpus
    * with r=3 the sketch stage went superlinear (exponent 1.11) purely from candidate
    * fan-out; auto-sized bits restore ~linear scaling. Raising r lowers
    * per-band recall (p^r), so pair it with more bands when recall
    * matters: recall = 1-(1-p^r)^b.
    */
  def autoRowsPerBand(corpusSize: Long, targetBucketSize: Int = 64): Int = {
    val r = math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucketSize)) / math.log(2.0)).toInt
    math.min(62, math.max(1, r))
  }

  /** Bands needed to reach `targetRecall` for pairs at cosine exactly
    * `threshold`, with `rowsPerBand` bits per band: solve
    * `1-(1-p^r)^b >= recall` for `b`, `p = 1 - acos(t)/π` (Charikar's
    * SRP collision probability). Pairs above the threshold have higher
    * `p`, so this is the worst-case (boundary) recall.
    */
  def bandsForRecall(threshold: Double, rowsPerBand: Int, targetRecall: Double = 0.9): Int = {
    require(targetRecall > 0.0 && targetRecall < 1.0, s"targetRecall in (0,1), got $targetRecall")
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val pr = math.pow(p, rowsPerBand)
    if (pr >= 1.0) 1
    else if (pr <= 0.0) Int.MaxValue
    else math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-pr)).toInt)
  }

  /** `nBands = 0` / `rowsPerBand = 0` (the DEFAULTS) auto-size from the
    * corpus: `rowsPerBand = autoRowsPerBand(emb.count())` holds bucket
    * population — and therefore candidate volume — LINEAR in corpus size
    * (a fixed bit count is `n²/2^(r+1)`, quadratic; BASELINE.md round 6 measured
    * exponent 1.11 at 10× for fixed r=3 vs 0.24 auto-sized), and
    * `nBands = bandsForRecall(threshold, r)` then holds boundary recall
    * at 0.9 per `1-(1-p^r)^b`. The band count is capped at `maxBands`
    * (sketch cost and plan size are linear in `b·r·dim`); if the cap
    * binds — very large corpora at high thresholds — achieved recall is
    * `1-(1-p^r)^maxBands`: raise `maxBands`, or raise
    * `autoRowsPerBand`'s `targetBucketSize` via an explicit
    * `rowsPerBand`, rather than fixing bits below `log2(n)`.
    */
  def srpNearDup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBands: Int = 0,
      rowsPerBand: Int = 0,
      prefix: String = "srp",
      maxBands: Int = 128): DataFrame = {
    require(rowsPerBand >= 0 && rowsPerBand <= 62,
      s"rowsPerBand must be in [1, 62] (or 0 = auto-size from corpus count), got $rowsPerBand")
    require(nBands >= 0, s"nBands must be >= 1 (or 0 = size for recall 0.9), got $nBands")
    val rEff =
      if (rowsPerBand > 0) rowsPerBand
      else autoRowsPerBand(emb.count())
    val bEff =
      if (nBands > 0) nBands
      else math.min(maxBands, bandsForRecall(threshold, rEff))
    // Uniform dimensionality is assumed: the sketch truncates longer
    // vectors to the first row's dim (verification always uses the full
    // vectors, so emitted pairs stay exact — only candidate recall dips).
    val firstRow = emb.select(size(col(vecCol))).head(1)
    require(firstRow.nonEmpty, s"srpNearDup: input table has no rows (cannot infer $vecCol dimension)")
    val dim = firstRow(0).getInt(0)
    val nPlanes = bEff * rEff
    // flat [plane*dim + j] layout for the native sketch expression
    val signs: Array[Double] = Array.tabulate(nPlanes * dim) { pj =>
      if (graft.functions.TextFunctions.md5Hash60Local(s"$prefix:${pj / dim}:${pj % dim}") % 2 == 0)
        1.0
      else -1.0
    }
    // r22: spread a narrow input before the sketch pass (guide §2.6) —
    // the nPlanes·dim multiply-adds per row otherwise serialize onto a
    // single-file scan's lone task (measured: q56's whole sketch side
    // ran as 1 task of 606 ms at sf0.1); no-op on a multi-split corpus,
    // and the exchange keys on the id, never the vector
    val embS = Skew.spreadIfNarrow(emb, idCol)
    val sk = embS.select(
      col(idCol).alias("id"),
      posexplode(
        graft.functions.expressions.SrpBandBucketsExpr
          .srpBandBuckets(col(vecCol), signs, bEff, rEff, dim))
        .as(Seq("band", "bucket")))
    val cand = sk.alias("a")
      .join(
        sk.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").alias("id_a"), col("b.id").alias("id_b"))
      .distinct()
    val v = embS.select(
      col(idCol).alias("id"),
      col(vecCol).alias("vec"),
      graft.functions.expressions.Norm2Float.norm2F(col(vecCol)).alias("nrm"))
    cand
      .join(v.select(col("id").alias("id_a"), col("vec").alias("va"), col("nrm").alias("na")), Seq("id_a"))
      .join(v.select(col("id").alias("id_b"), col("vec").alias("vb"), col("nrm").alias("nb")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        graft.functions.VectorFunctions.nanDiv(
          graft.functions.expressions.DotProductFloat.dotF(col("va"), col("vb")),
          col("na") * col("nb")).alias("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Bucketed ANN: assigns every vector (and the query) a hyperplane
    * bucket; only bucket-mates are scored. `nPlanes` trades recall for
    * selectivity (bucket population ≈ N / 2^nPlanes).
    */
  def lshTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      nPlanes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val dim = query.size
    val planes = randomPlanes(nPlanes, dim, seed)
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (a, b) => a * b }.sum
      if (d >= 0) 1L << i else 0L
    }.sum

    emb
      .withColumn("bucket", hyperplaneBucket(col(vecCol), planes))
      .filter(col("bucket") === lit(qBucket))
      .transform(withCosine(_, vecCol, query))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  // ==== product quantization ================================================

  /** Product-quantization codebooks (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    * is split into `m` contiguous subspaces and each subspace gets its
    * own `nCodes`-centroid quantizer, trained with the same bounded
    * md5-uniform sample + Lloyd recipe as [[trainCentroids]].
    * `codebooks(s)(c)` is centroid `c` of subspace `s`.
    *
    * This is the MEMORY tier for corpus-scale embeddings: a
    * `dim`-float vector (dim·4 bytes) compresses to `m` byte codes —
    * 32× for dim=64, m=8 — so a 100 TB float corpus's code table fits
    * in ~3 TB, scannable fully in memory while exact vectors stay in
    * cold storage for an optional re-rank pass.
    */
  def trainProductQuantizer(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int = 8,
      nCodes: Int = 256,
      seed: Long = 42L,
      trainSample: Int = 4096): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(nCodes > 0 && nCodes <= 256, s"nCodes must fit a byte code, got $nCodes")
    val subDim = dim / m
    // ONE sample collect for all m subspaces (round-9 rework: the old
    // per-subspace `trainCentroids(sliced, ...)` paid m sort+limit+collect
    // jobs for the SAME md5-ordered rows — slicing the one collected
    // sample is bit-identical, because every subspace's training rows and
    // order were already identical and the per-subspace seeds still
    // differ). Row cap = the per-subspace Lloyd bound ∧ the full-vector
    // memory bound (the collect now holds full rows).
    val bounded = math.min(
      boundedTrainRows(trainSample, nCodes, subDim),
      boundedTrainRows(trainSample, 1, dim))
    if (bounded < trainSample)
      System.err.println(
        s"[graft] trainProductQuantizer: sample capped $trainSample -> $bounded rows " +
          s"(driver budget at nCodes=$nCodes, dim=$dim, m=$m)")
    val sample = collectTrainSample(emb, idCol, vecCol, bounded)
    require(sample.nonEmpty, "trainProductQuantizer: empty embedding table")
    Array.tabulate(m) { s =>
      val sliced = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      // seed varies by subspace so init draws differ
      lloydFit(sliced, nCodes, seed + s)
    }
  }

  /** `(id, code: Array[Byte])` — each vector encoded to its per-subspace
    * nearest-centroid indices. One scan, broadcast codebooks; the code
    * column is what a 100 TB deployment persists (and scans) instead of
    * the float vectors.
    */
  def pqEncode(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    // the encode scan is the native codegen `pq_encode` expression —
    // codebooks ride the generated class as one flat double[], no UDF
    // boundary on the whole-corpus pass
    emb.select(
      col(idCol).alias("id"),
      graft.functions.expressions.PqEncodeExpr
        .pqEncode(col(vecCol), codebooks).alias("code"))

  /** Asymmetric-distance top-K over PQ codes: the query stays EXACT and
    * each subspace's inner-product contribution against every centroid
    * is precomputed driver-side into a `m × nCodes` lookup table, so
    * scoring a row is `m` table lookups + adds — no float vectors are
    * read at query time. Returns `(id, score)` where score approximates
    * `dot(query, vec)` (the PQ reconstruction of it); re-rank the top
    * candidates against exact vectors when exact cosine order matters.
    *
    * Scale shape: identical to [[bruteForceTopK]] — one scan +
    * `TakeOrderedAndProject` — but over the 32×-smaller code table.
    */
  def pqTopK(
      codes: DataFrame,
      idCol: String,
      codeCol: String,
      codebooks: Array[Array[Array[Double]]],
      query: Seq[Double],
      k: Int): DataFrame = {
    codes
      .select(
        col(idCol),
        pqAdcScoreCol(col(codeCol), codebooks, query).alias("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-PQ composition — the realistic corpus-scale ANN tier (the full
    * recipe of Jégou et al., TPAMI 2011): coarse `nearest_cell` routing
    * prunes the scan to the query's `nProbe` cells, the pruned scan
    * reads ONLY the PQ byte codes through the asymmetric-distance LUT,
    * and the top `rerank` candidates re-rank against exact vectors for
    * the final cosine order.
    *
    * Scale shape: ONE corpus scan builds the index rows — `(id, cell,
    * code)`, an int + `m` bytes per row, both columns from native
    * codegen expressions in the same fused projection (float vectors
    * are read again only for the re-rank fetch). A query then (a)
    * routes driver-side over `nLists` centroids, (b) keeps the
    * ≈ `nProbe/nLists` of the CODE rows in the probed cells and scores
    * them at `m` byte-lookups per row into a `TakeOrderedAndProject` — per-partition
    * heaps, no sort, no shuffle, (c) re-ranks ≤ `rerank` rows fetched
    * by id through a BROADCAST join against the vector table. Nothing
    * shuffles at any step.
    *
    * `rerank = 0` defaults to `max(10·k, 100)` — the PQ score is an
    * 8-16×-compressed approximation, so the exact pass must see enough
    * candidates to absorb quantization rank noise; recall vs the exact
    * scan is pinned by q82's oracle at both gate scales.
    */
  def ivfPqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 2,
      m: Int = 8,
      nCodes: Int = 256,
      rerank: Int = 0,
      seed: Long = 42L,
      trainSample: Int = 4096): DataFrame = {
    require(k > 0 && nProbe > 0 && nProbe <= nLists,
      s"need 0 < nProbe <= nLists and k > 0, got k=$k nProbe=$nProbe nLists=$nLists")
    val rer = if (rerank > 0) rerank else math.max(10 * k, 100)
    val centroids = trainCentroids(emb, idCol, vecCol, nLists, seed, trainSample)
    val dim = centroids.head.length
    require(query.length == dim, s"query dim ${query.length} != corpus dim $dim")
    val codebooks = trainProductQuantizer(
      emb, idCol, vecCol, dim, m, nCodes, seed, trainSample)

    // cell + code in one fused projection
    val indexed = emb.select(
      col(idCol).alias("id"),
      graft.functions.expressions.NearestCellExpr
        .nearestCell(col(vecCol), centroids).alias("cell"),
      graft.functions.expressions.PqEncodeExpr
        .pqEncode(col(vecCol), codebooks).alias("code"))

    val probeCells = nearestCentroids(centroids, query.toArray, nProbe)

    val cand = indexed
      .filter(col("cell").isInCollection(probeCells))
      .select(col("id"), pqAdcScoreCol(col("code"), codebooks, query).alias("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(rer)

    emb
      .select(col(idCol).alias("id"), col(vecCol).alias("vec"))
      .join(broadcast(cand.select("id")), Seq("id"))
      .transform(withCosine(_, "vec", query))
      .select(col("id"), col("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Driver-side coarse routing: indices of the `n` centroids nearest to
    * `query` (squared euclidean; stable sort, so distance ties break to
    * the lowest cell index).
    */
  private def nearestCentroids(
      centroids: Array[Array[Double]],
      query: Array[Double],
      n: Int): Seq[Int] = {
    val dim = centroids.head.length
    def sqdist(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - query(i); s += d * d; i += 1 }
      s
    }
    centroids.zipWithIndex
      .map { case (c, i) => (i, sqdist(c)) }
      .sortBy(_._2).take(n).map(_._1).toSeq
  }

  /** The asymmetric-distance score column: each subspace's inner-product
    * contribution against every centroid precomputed driver-side into
    * the query LUT, applied by the native codegen `pq_adc_score`
    * expression (m table lookups + adds per row, no UDF boundary).
    */
  private[graft] def pqAdcScoreCol(
      code: Column,
      codebooks: Array[Array[Array[Double]]],
      query: Seq[Double]): Column = {
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    require(query.length == m * subDim,
      s"query dim ${query.length} != codebook dim ${m * subDim}")
    val lut: Array[Array[Double]] = Array.tabulate(m) { s =>
      val off = s * subDim
      codebooks(s).map { cc =>
        var d = 0.0; var j = 0
        while (j < subDim) { d += cc(j) * query(off + j); j += 1 }
        d
      }
    }
    graft.functions.expressions.PqAdcScoreExpr.pqAdcScore(code, lut)
  }
}
