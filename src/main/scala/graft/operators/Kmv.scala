package graft.operators

import graft.functions.TextFunctions
import graft.functions.expressions.KmvSketchAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketches (Bar-Yossef et al.,
  * public literature) — the distinct-counting member of the mergeable-
  * summary family, next to Count-Min frequencies (q124), Space-Saving
  * heavy hitters (q71) and the Bloom membership filter (q86).
  *
  * Why this exists when q40 already wraps Spark's built-in HLL:
  * `approx_count_distinct`'s estimate is ENGINE-SPECIFIC (q40's oracle
  * can only check an error bound the plan computes about itself). A
  * KMV sketch over the repo-wide md5-60 hash is engine-REPRODUCIBLE —
  * the k minima, the k-th order statistic, and therefore the estimate
  * `(k−1)·2^60 / h_(k)` come out bit-identical in DuckDB, so the gate
  * hash-checks the approximation itself (q126), the same standard the
  * Count-Min estimates meet.
  *
  * Scale shape: the sketch is a `TypedImperativeAggregate`
  * ([[KmvSketchAgg]]) — k longs of state per group per partition,
  * map-side partial aggregation, only sketches cross the shuffle —
  * counting distinct items per group at corpus scale WITHOUT
  * shuffling the distinct (group, item) universe the way
  * `count(DISTINCT …)`'s expand does. Sketch union = sketch of the
  * union (exact, associative), so per-batch sketches compose
  * streaming-side. NOT subtractable: an evicted minimum is
  * unrecoverable, so retirement of counted items means rebuild (the
  * same trade HLL makes; Count-Min is the subtractable one).
  */
object Kmv {

  /** The KMV estimator as a projection over the sketch array: fewer
    * than k minima ⇒ the sketch is the distinct set (exact count);
    * otherwise `(k−1) · 2^60 / h_(k)` rounded to a long. Every operand
    * is an exact integer cast to double, so the one IEEE division (and
    * its DuckDB mirror) is bit-deterministic; `greatest(…, 1)` guards
    * the measure-zero h=0 hash identically on both sides.
    */
  def estimateFromSketch(kmv: Column, k: Int): Column = {
    require(k >= 2, s"need k >= 2, got $k")
    when(size(kmv) < k, size(kmv).cast("long"))
      .otherwise(
        round(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
          greatest(element_at(kmv, k), lit(1L)).cast("double")).cast("long"))
  }

  /** Per-source distinct-TOKEN profile with the exact control beside
    * the estimate: `(source, n_exact, est_distinct, err_permille)`.
    * The exact side is the full `count(DISTINCT token)` — the very
    * (group, token)-universe shuffle the sketch exists to avoid; it is
    * computed as a SEPARATE aggregation joined back on the (tiny)
    * group keys so the sketch side's map-side partial plan stays
    * visible and auditable rather than being fused into the expand.
    */
  def distinctTokensPerSource(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      k: Int): DataFrame = {
    val toks = docs.select(
      col(sourceCol).alias("source"),
      explode(TextFunctions.tokens(col(textCol))).alias("tok"))
    val sk = toks.groupBy("source")
      .agg(KmvSketchAgg.kmvSketch(TextFunctions.md5Hash60(col("tok")), k).alias("kmv"))
      .select(col("source"), estimateFromSketch(col("kmv"), k).alias("est_distinct"))
    val exact = toks.groupBy("source")
      .agg(countDistinct(col("tok")).alias("n_exact"))
    exact.join(sk, Seq("source"))
      .select(
        col("source"), col("n_exact"), col("est_distinct"),
        round(lit(1000.0) * abs(col("est_distinct") - col("n_exact")) /
          col("n_exact").cast("double")).cast("long").alias("err_permille"))
  }

  /** Join-KEY overlap diagnostic — the pre-join cardinality probe a
    * planner (or an engineer sizing a 100 TB join) reads BEFORE paying
    * the join: distinct-key estimates for both sides, their union and
    * intersection, from two KMV sketches and their merge.
    *
    * Sketch algebra (all exact properties of KMV, not approximations
    * of approximations): union sketch = k smallest of the combined
    * minima — identical to the sketch OF the union — so
    * `est_union` applies the same estimator to the merged array, and
    * `est_intersect = max(est_a + est_b − est_union, 0)` by
    * inclusion–exclusion. Every ingredient is an integer order
    * statistic of the repo-wide md5-60 hash, so the DuckDB oracle
    * reproduces all three estimates bit-for-bit (q131) — the q126
    * standard.
    *
    * Scale shape: each side is ONE map-side-partial sketch aggregate
    * (k longs cross the shuffle per partition); the merge is an array
    * op on two k-arrays in a 1-row frame. The exact controls beside
    * the estimates (`count(DISTINCT)` per side + the distinct-key
    * semi-join) are exactly the key-universe shuffles the sketch path
    * replaces — kept in-query as controls, dropped in production use.
    *
    * Output (1 row): `est_a, n_exact_a, est_b, n_exact_b, est_union,
    * est_intersect, n_exact_intersect, containment_a_permille`
    * (estimated fraction of A's keys present in B, in permille —
    * `broadcast B` / `prune by B` decisions read this).
    */
  def keyOverlap(
      a: DataFrame,
      aKey: String,
      b: DataFrame,
      bKey: String,
      k: Int): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    def hashes(df: DataFrame, key: String): DataFrame =
      df.select(TextFunctions.md5Hash60(col(key).cast("string")).alias("h"))
        .na.drop(Seq("h"))
    val skA = hashes(a, aKey).agg(KmvSketchAgg.kmvSketch(col("h"), k).alias("kmv_a"))
    val skB = hashes(b, bKey).agg(KmvSketchAgg.kmvSketch(col("h"), k).alias("kmv_b"))
    val exA = a.select(col(aKey).cast("string").alias("ka")).na.drop(Seq("ka")).distinct()
    val exB = b.select(col(bKey).cast("string").alias("kb")).na.drop(Seq("kb")).distinct()
    val exACnt = exA.agg(count(lit(1)).alias("n_exact_a"))
    val exBCnt = exB.agg(count(lit(1)).alias("n_exact_b"))
    val exInt = exA
      .join(exB, col("ka") === col("kb"), "left_semi")
      .agg(count(lit(1)).alias("n_exact_intersect"))
    val estA = estimateFromSketch(col("kmv_a"), k)
    val estB = estimateFromSketch(col("kmv_b"), k)
    // merged minima: distinct union of the two sorted arrays, k
    // smallest — array_union dedupes but does not sort, so sort
    // explicitly before the cut
    val kmvU = slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))), 1, k)
    val estU = estimateFromSketch(kmvU, k)
    skA.crossJoin(skB)
      .crossJoin(broadcast(exACnt))
      .crossJoin(broadcast(exBCnt))
      .crossJoin(broadcast(exInt))
      .select(
        estA.alias("est_a"), col("n_exact_a"),
        estB.alias("est_b"), col("n_exact_b"),
        estU.alias("est_union"),
        // inclusion-exclusion, clamped into the feasible range
        // [0, min(est_a, est_b)]: estimator noise could otherwise
        // report an intersection LARGER than a side — and a
        // containment diagnostic above 1000 permille
        least(greatest(estA + estB - estU, lit(0L)), estA, estB)
          .alias("est_intersect"),
        col("n_exact_intersect"))
      .withColumn("containment_a_permille",
        when(col("est_a") > 0,
          round(lit(1000.0) * col("est_intersect") / col("est_a").cast("double"))
            .cast("long"))
          .otherwise(lit(0L)))
  }
}
