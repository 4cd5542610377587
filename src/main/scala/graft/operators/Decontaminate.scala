package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the standard pre-training hygiene step:
  * flag (or drop) training documents that share word n-grams with an
  * evaluation/benchmark set, so test data doesn't leak into training.
  * (Reference analogue: none; training-data-pipeline extension.)
  *
  * Mechanics: both sides reduce to per-doc SORTED DISTINCT 60-bit n-gram
  * hash sets in one scan-side pass (longs on the wire, no string
  * shuffle, no `.distinct()` shuffle — same discipline as the dedup
  * pipelines). The benchmark side collapses to its distinct hash
  * universe and BROADCASTS: benchmarks are a few thousand documents
  * against a 100 TB corpus, so the contamination check is a map-side
  * hash-join — one corpus scan, zero corpus shuffles before the final
  * per-doc count aggregation.
  */
object Decontaminate {

  /** `(doc_id, n_shared)` for every training doc sharing ≥ 1 distinct
    * n-gram with the benchmark set; `n_shared` counts distinct shared
    * n-gram hashes.
    */
  def overlaps(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    val hashes = (c: org.apache.spark.sql.Column) =>
      graft.functions.expressions.ShingleHashSetExpr.shingleHashSet(c, n)
    val benchHashes = benchmark
      .select(explode(hashes(col(textCol))).alias("h"))
      .distinct()
    val trainHashes = train
      .select(col(idCol).alias("doc_id"), explode(hashes(col(textCol))).alias("h"))
    trainHashes
      .join(broadcast(benchHashes), Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).alias("n_shared"))
  }

  /** Per-BENCHMARK-item contamination report — the view the EVAL owner
    * reads ([[overlaps]] is the train-side view): for every benchmark
    * doc, how many training docs share ≥ 1 of its n-grams
    * (`n_train_docs`), how many of ITS distinct grams occur anywhere in
    * training (`n_shared_grams`), and its total distinct gram count
    * (`n_grams`) — so `n_shared_grams / n_grams` is the item's leaked
    * fraction and `n_train_docs = 0` rows certify clean items (the
    * report is TOTAL over the benchmark).
    *
    * Scale shape: the per-item benchmark gram table (a few thousand
    * docs) broadcasts; the 100 TB training gram stream probes it
    * MAP-SIDE, so only actual matches — bounded by the contamination
    * volume, not the corpus — reach the per-item aggregate. The corpus
    * is never shuffled.
    */
  def report(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    val hashes = (c: org.apache.spark.sql.Column) =>
      graft.functions.expressions.ShingleHashSetExpr.shingleHashSet(c, n)
    // the benchmark hash sets feed TWO plan positions (the broadcast
    // gram table and the n_grams side of the final join) — materialize
    // the (doc_id, hs) scan once (same rationale as bloomClean)
    val bench = benchmark
      .select(col(idCol).alias("doc_id"), hashes(col(textCol)).alias("hs"))
      .localCheckpoint(true)
    val benchGrams = bench.select(col("doc_id"), explode(col("hs")).alias("h"))
    val matches = train
      .select(col(idCol).alias("tid"), explode(hashes(col(textCol))).alias("h"))
      .join(broadcast(benchGrams), Seq("h"))
    val agg = matches.groupBy("doc_id").agg(
      countDistinct(col("tid")).alias("n_train_docs"),
      countDistinct(col("h")).alias("n_shared_grams"))
    bench
      .select(col("doc_id"), size(col("hs")).cast("long").alias("n_grams"))
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_train_docs"), lit(0L)).alias("n_train_docs"),
        coalesce(col("n_shared_grams"), lit(0L)).alias("n_shared_grams"),
        col("n_grams"))
  }

  /** Training docs with every contaminated document removed — the
    * filter form (left anti on the overlap set).
    */
  def clean(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame =
    train.join(
      overlaps(train, benchmark, idCol, textCol, n)
        .select(col("doc_id").alias(idCol)),
      Seq(idCol), "left_anti")

  /** Span-level decontamination — instead of dropping a contaminated
    * document wholesale ([[clean]]), CUT only the tokens inside
    * benchmark-matching k-gram windows: a training doc that quotes one
    * benchmark item keeps its unique remainder instead of disappearing
    * (the ExactSubstr surgical recipe of Lee et al., ACL 2022, aimed at
    * eval-set leakage instead of cross-document duplication —
    * [[graft.operators.Dedup.duplicateSpans]]'s machinery with the
    * dup-detection aggregate replaced by the broadcast benchmark
    * membership probe).
    *
    * Scale shape: the benchmark hash universe broadcasts (same argument
    * as [[overlaps]]); ONE corpus scan builds position-ordered gram
    * hashes (native `shingle_hash60s`); matching gram START positions
    * gather per doc through one aggregate (one int per matching gram —
    * no covered-position amplification); the cut is the doc-local
    * `cut_covered_spans` interval union. The corpus text itself crosses
    * the wire exactly once (the final doc-keyed join); nothing explodes
    * through a shuffle.
    *
    * Emits `(doc_id, clean_text, n_kept, n_removed)` for EVERY training
    * doc (unmatched docs pass through uncut); null text behaves as the
    * empty document.
    */
  def scrubSpans(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val benchHashes = benchmark
      .select(explode(
        graft.functions.expressions.ShingleHashSetExpr
          .shingleHashSet(col(textCol), k)).alias("h"))
      .distinct()
    val base = train
      .select(
        col(idCol).alias("doc_id"),
        graft.functions.expressions.TokensExpr.tokens(col(textCol)).alias("t"),
        graft.functions.expressions.ShingleHash60sExpr
          .shingleHash60s(col(textCol), k).alias("hs"))
      .localCheckpoint(true)
    val starts = base
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
      .join(broadcast(benchHashes), Seq("h"))
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).alias("starts"))
    base
      .join(starts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("t"),
        graft.functions.expressions.CutCoveredSpansExpr.cutCoveredSpans(
          col("t"), coalesce(col("starts"), typedlit(Array.empty[Int])), k).alias("kept"))
      .select(
        col("doc_id"),
        concat_ws(" ", col("kept")).alias("clean_text"),
        size(col("kept")).cast("long").alias("n_kept"),
        (size(col("t")) - size(col("kept"))).cast("long").alias("n_removed"))
  }

  /** Bloom-filter variant of [[clean]] — the scale path when the
    * benchmark hash universe itself is too large to broadcast exactly
    * (e.g. decontaminating against a full eval SUITE of millions of
    * n-grams): build a Bloom filter over the benchmark hashes with
    * `DataFrameStatFunctions.bloomFilter` (distributed build, sketch to
    * the driver, broadcast once — `expectedItems`/`fpp` bound its size
    * independent of the corpus), probe it scan-side.
    *
    * One-sided error: false POSITIVES only, so the result is a SUBSET of
    * the exact [[clean]] output — decontamination stays sound (no
    * contaminated doc survives); at most `fpp` of clean docs are
    * over-dropped. That direction is the one a careful pipeline wants.
    */
  def cleanApprox(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val hashes = (c: org.apache.spark.sql.Column) =>
      graft.functions.expressions.ShingleHashSetExpr.shingleHashSet(c, n)
    val probe = bloomProbe(
      benchmark.select(explode(hashes(col(textCol))).alias("h")),
      expectedItems, fpp)
    val flagged = train
      .select(col(idCol), explode(hashes(col(textCol))).alias("h"))
      .filter(probe(col("h")))
      .select(idCol)
      .distinct()
    train.join(flagged, Seq(idCol), "left_anti")
  }

  /** Distributed Bloom build over a LongType `h` column + scan-side
    * probe via Spark's native `BloomFilterMightContain` (the expression
    * runtime-filter joins use): the serialized sketch rides the plan as
    * a binary literal and the probe stays inside whole-stage codegen —
    * a closure UDF here would box a Long per n-gram occurrence. Sketch
    * size is bound by `expectedItems`/`fpp`, independent of the corpus.
    */
  private def bloomProbe(
      hashes: DataFrame,
      expectedItems: Long,
      fpp: Double): org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val bloom = hashes.stat.bloomFilter("h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    h =>
      Bridge.column(new BloomFilterMightContain(
        Literal.create(bos.toByteArray, org.apache.spark.sql.types.BinaryType),
        Bridge.expression(h)))
  }

  /** Embedding-space (semantic) decontamination — the paraphrase-leak
    * counterpart of the n-gram family: a benchmark item rewritten in
    * different words shares no n-grams with its leak, but its embedding
    * still sits within cosine `threshold` of it. Flags every training
    * doc whose embedding is ≥ `threshold` cosine to ANY benchmark item.
    *
    * Mechanics (the [[Similarity]] frozen-quantizer cell recipe fused
    * with this file's broadcast discipline): the benchmark side — a few
    * thousand rows against a 100 TB corpus — replicates each item to
    * its `nProbe` nearest cells of the FROZEN coarse quantizer and
    * BROADCASTS; every corpus vector computes its single home cell
    * scan-side (native `nearest_cell` codegen, centroid matrix rides
    * the generated class) and probes the broadcast map-side. Only pairs
    * meeting the threshold reach any aggregate. The corpus is never
    * shuffled, and vectors never enter a partitioning key.
    *
    * `nProbe` is the recall knob: a corpus doc is compared to a
    * benchmark item only when the item's probe set covers the doc's
    * home cell. `nProbe = nLists` (or `nLists = 1`) probes everything —
    * EXACT, the oracle configuration (q77/q80 precedent); the measured
    * recall of clustered configurations is in BASELINE.md. Null-vector
    * rows on either side are excluded (a null embedding has no cell and
    * no cosine).
    */
  def semanticMatches(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      nProbe: Int): DataFrame = {
    require(centroids.nonEmpty, "semanticMatches: empty centroid model")
    require(nProbe > 0 && nProbe <= centroids.length,
      s"nProbe must be in [1, nLists=${centroids.length}], got $nProbe")
    val bench = benchmark
      .filter(col(vecCol).isNotNull)
      .select(
        col(idCol).alias("bench_id"),
        col(vecCol).alias("__bvec"),
        explode(graft.functions.expressions.NearestCellsExpr
          .nearestCells(col(vecCol), centroids, nProbe)).alias("__cell"))
    val corpus = train
      .filter(col(vecCol).isNotNull)
      .select(
        col(idCol).alias("doc_id"),
        col(vecCol).alias("__vec"),
        graft.functions.expressions.NearestCellExpr
          .nearestCell(col(vecCol), centroids).alias("__cell"))
    val cos = graft.functions.VectorFunctions.nanDiv(
      graft.functions.expressions.DotProductFloat.dotF(col("__vec"), col("__bvec")),
      graft.functions.expressions.Norm2Float.norm2F(col("__vec")) *
        graft.functions.expressions.Norm2Float.norm2F(col("__bvec")))
    corpus.join(broadcast(bench), Seq("__cell"))
      .select(col("doc_id"), col("bench_id"), cos.alias("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Per-BENCHMARK-item semantic contamination report ([[report]]'s
    * shape over embeddings): for every benchmark item, how many
    * training docs sit within cosine `threshold` (`n_train_docs`) and
    * the closest one's cosine (`max_cos`; `-2.0` — below any real
    * cosine — for certified-clean items, so the report stays total over
    * the benchmark and scalar-only for the gate).
    */
  def semanticReport(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      nProbe: Int): DataFrame = {
    val agg = semanticMatches(train, benchmark, idCol, vecCol, centroids, threshold, nProbe)
      .groupBy("bench_id")
      .agg(count(lit(1)).alias("n_train_docs"), max(col("cos")).alias("max_cos"))
    benchmark
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).alias("bench_id"))
      .join(agg, Seq("bench_id"), "left")
      .select(
        col("bench_id"),
        coalesce(col("n_train_docs"), lit(0L)).alias("n_train_docs"),
        coalesce(col("max_cos"), lit(-2.0)).alias("max_cos"))
  }

  /** Training-side view: `(doc_id, n_bench_hits, max_cos)` for every
    * training doc within `threshold` of at least one benchmark item —
    * the flag set [[semanticClean]] removes.
    */
  def semanticOverlaps(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      nProbe: Int): DataFrame =
    semanticMatches(train, benchmark, idCol, vecCol, centroids, threshold, nProbe)
      .groupBy("doc_id")
      .agg(count(lit(1)).alias("n_bench_hits"), max(col("cos")).alias("max_cos"))

  /** Training docs with every semantically contaminated doc removed —
    * [[clean]]'s filter form in embedding space.
    */
  def semanticClean(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      nProbe: Int): DataFrame =
    train.join(
      semanticOverlaps(train, benchmark, idCol, vecCol, centroids, threshold, nProbe)
        .select(col("doc_id").alias(idCol)),
      Seq(idCol), "left_anti")

  /** Bloom-PREFILTERED exact decontamination — [[clean]]'s rows
    * EXACTLY, at [[cleanApprox]]'s scan cost. The two-stage shape every
    * 100 TB membership pipeline converges on:
    *
    *  1. the Bloom sketch (built distributed over the benchmark's
    *     distinct gram hashes, a few MB regardless of corpus size)
    *     prunes the corpus gram stream MAP-SIDE: only grams the sketch
    *     might contain — true hits plus an `fpp` sliver of false
    *     positives — survive the scan;
    *  2. the surviving sliver exact-confirms against the true distinct
    *     hash universe (broadcast here; at a universe too big to
    *     broadcast this becomes a shuffled join of two SMALL sides,
    *     because stage 1 already discarded ≈ (1-fpp) of the corpus
    *     grams — the join never sees the full corpus either way).
    *
    * False positives die in stage 2, false negatives don't exist
    * (Bloom's one-sided error), so the kept set is byte-identical to
    * [[clean]]'s — which is exactly what the q86 oracle hash-checks.
    */
  def bloomClean(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val hashes = (c: org.apache.spark.sql.Column) =>
      graft.functions.expressions.ShingleHashSetExpr.shingleHashSet(c, n)
    val benchHashes = benchmark
      .select(explode(hashes(col(textCol))).alias("h"))
      .distinct()
      // materialized ONCE: the distinct hash universe feeds two actions
      // (the Bloom sketch build and the broadcast confirm join) — without
      // this the benchmark-side gram scan + distinct shuffle runs twice
      // per call (same rationale as the dedup family's materialized
      // shingle sets)
      .localCheckpoint(true)
    val probe = bloomProbe(benchHashes, expectedItems, fpp)
    val contaminated = train
      .select(col(idCol), explode(hashes(col(textCol))).alias("h"))
      .filter(probe(col("h")))
      .join(broadcast(benchHashes), Seq("h"))
      .select(idCol)
      .distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }
}
