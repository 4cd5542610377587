package graft.operators

import graft.functions.TextFunctions._
import graft.functions.expressions.{CutCoveredSpansExpr, DotProductFloat, ShingleHash60sExpr, SortedIntersectCountLong}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication for training-data pipelines, at 100 TB shapes:
  *
  *  - `exact`        — one hash aggregate on the content fingerprint.
  *  - `ngramJaccard` — exact n-gram Jaccard over an inverted shingle
  *                     index (explode → self-join on shingle → count),
  *                     the brute-force-correct baseline.
  *  - `minHashLsh`   — MinHash signatures + banded LSH bucketing; only
  *                     docs sharing a band key are compared, so the join
  *                     fans out per-bucket instead of per-shingle. The
  *                     scale path: candidate volume is tunable via
  *                     (k, bands) independent of corpus size.
  *  - `simHashPairs` — 60-bit SimHash fingerprints; near-dups = small
  *                     hamming distance, candidate-gen by exact match on
  *                     rotated bit-blocks.
  *
  * All hashing is md5-derived (`TextFunctions.md5Hash60`) so every stage
  * is reproducible across engines for the correctness oracle; swap
  * `xxhash64` in via `hashFn` when raw speed matters more than
  * portability.
  */
object Dedup {

  /** Exact dedup: canonical representative (min id) per distinct text.
    * One shuffle on the 128-bit fingerprint — never on the full text,
    * which matters when documents are megabytes.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).alias("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).alias("keep_id"), count(lit(1)).alias("dup_count"))

  /** Canonical-URL keep-best dedup — the FIRST dedup stage of a web
    * corpus (CommonCrawl-style: the same page arrives under many URL
    * spellings; group by `url_normalize` BEFORE any content
    * fingerprinting, keeping the best-scoring capture per canonical
    * URL). Composes the q142 native with [[keepRepresentative]]'s
    * argmax-with-min-id-tie-break; rows whose URL does not parse
    * (normalize ⇒ NULL) are dropped — an unparseable URL cannot key a
    * dedup group, and folding them into one giant NULL cluster would
    * manufacture exactly the hot key this family guards against.
    *
    * Output `(idCol, norm_url, scoreCol, kept)` — the audit form (every
    * capture with its winner flag), so a pipeline can count burden per
    * canonical URL before discarding. Scale shape: one native scan
    * projection (normalize + score are per-row), then one hash
    * aggregate on the canonical key and the winner broadcast-back —
    * only `(id, bounded-length url, score)` scalars ever cross an
    * exchange; the page CONTENT never moves.
    */
  def byCanonicalUrl(
      docs: DataFrame,
      idCol: String,
      urlCol: String,
      scoreCol: String): DataFrame = {
    requireNumericId(docs, idCol, "byCanonicalUrl")
    val members = docs
      .select(
        col(idCol),
        graft.functions.expressions.UrlExprs.urlNormalize(col(urlCol))
          .alias("norm_url"),
        col(scoreCol))
      .filter(col("norm_url").isNotNull)
    keepRepresentative(members, idCol, "norm_url", scoreCol)
  }

  /** Incremental exact dedup — the production shape: deduplicate a NEW
    * batch against the existing corpus without reprocessing the corpus.
    * Keeps each batch fingerprint's minimum-id doc (intra-batch dedup,
    * one hash aggregate), then removes fingerprints the corpus already
    * holds. Emits `(id, fp, batch_dup_count)` for the kept docs.
    *
    * Scale shape — the state side never shuffles: a direct
    * `batch ANTI corpus` must hash the CORPUS side (anti joins build
    * on the right), which at 100 TB means either an impossible
    * broadcast or shuffling every corpus fingerprint per trigger. The
    * two-step probe inverts it: the corpus fingerprint scan streams
    * MAP-SIDE against the broadcast (trigger-bounded by contract)
    * batch fingerprints, producing the matched set — bounded by the
    * batch — which then broadcasts back into the anti join. Corpus
    * cost per trigger is one scalar-column scan, zero exchanges,
    * regardless of layout (no bucketing prerequisite). The batch
    * aggregate feeds both steps, so it is materialized once.
    */
  def incrementalExact(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    incrementalExactOn(
      batch.select(col(idCol).alias("id"), md5(col(textCol)).alias("fp")),
      corpus.select(md5(col(textCol)).alias("fp")))

  /** [[incrementalExact]] keyed on an ARBITRARY precomputed column
    * instead of the content hash — the canonical-URL production case:
    * a new crawl dedups against the corpus by `url_normalize(url)`
    * BEFORE any content is even fetched/compared (q146's one-shot form,
    * made incremental). Null keys drop on both sides (an unparseable
    * URL cannot key a dedup, and a NULL-keyed corpus scan would
    * manufacture the hot key the family guards against). Same
    * state-side zero-exchange probe shape as the content-hash form.
    */
  def incrementalExactByKey(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      keyCol: String): DataFrame =
    incrementalExactOn(
      batch.select(col(idCol).alias("id"), col(keyCol).alias("fp"))
        .filter(col("fp").isNotNull),
      corpus.select(col(keyCol).alias("fp")).filter(col("fp").isNotNull))

  /** Shared probe core over `(id, fp)` / `(fp)` frames — see
    * [[incrementalExact]]'s scale-shape contract.
    */
  private def incrementalExactOn(
      batchKeyed: DataFrame,
      corpusFps: DataFrame): DataFrame = {
    val batchAgg = batchKeyed
      .groupBy("fp")
      .agg(min(col("id")).alias("id"), count(lit(1)).alias("batch_dup_count"))
      .localCheckpoint(true)
    val matched = corpusFps
      .join(broadcast(batchAgg.select("fp")), Seq("fp"), "left_semi")
      .distinct()
    batchAgg
      .join(broadcast(matched), Seq("fp"), "left_anti")
      .select("id", "fp", "batch_dup_count")
  }

  /** `(id, hs: sorted distinct 60-bit shingle hashes)` — the per-doc
    * shingle-set table every dedup pipeline starts from. Computed in one
    * scan-side pass: no explode, no `.distinct()` shuffle, and set sizes
    * are `size(hs)` (no groupBy). The inverted index, when needed, is a
    * plain `explode(hs)` — longs on the shuffle wire instead of ~50-char
    * shingle strings.
    */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    docs.select(
      col(idCol).alias("id"),
      graft.functions.expressions.ShingleHashSetExpr
        .shingleHashSet(col(textCol), n).alias("hs"))

  /** [[shingleSets]], materialized once. The set table appears in 3-4
    * positions of every dedup plan (prefix/index explode + both verify
    * joins), and those positions exchange on different keys, so
    * ReuseExchange can never dedup them — without materialization the
    * scan-side shingle hashing (the dominant cost for real KB-size
    * documents) runs once PER POSITION. `localCheckpoint` measured ~20%
    * faster than `persist` here (no InMemoryRelation/AQE re-analysis,
    * BASELINE.md round 5); blocks are freed by the ContextCleaner once the returned
    * plan is unreferenced.
    */
  // r22 MEASURED REJECTION (guide §1.1 — keep the empirical loop
  // honest): spreading a narrow input before the hashing pass
  // (Skew.spreadIfNarrow, the fix that bought q56's SRP sketch 1.56×)
  // was tried here and REVERTED — q18 gained only 7% while the guarded
  // variants regressed hard (A/B min-of-3 at local[32]: q34 0.54→1.10 s,
  // q119 0.82→1.22 s, q102 0.76→1.00 s): their post-checkpoint stages
  // are small aggregates/joins over the hot-pruned candidate set, and a
  // 32-partition checkpoint makes every one of them pay full-width task
  // overhead for near-empty partitions. The hashing pass here is
  // already cheap relative to the join work it feeds (unlike the SRP
  // plane products), so the single-split case keeps the fused scan.
  private def materializedShingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    shingleSets(docs, idCol, textCol, n).localCheckpoint(true)

  /** The incremental/streaming tiers key their state on LONG ids; a
    * non-numeric id would `cast("long")` to null SILENTLY (null join
    * keys match nothing — every batch row dropped with no error), and
    * a FRACTIONAL id would truncate (1.2 and 1.7 both become 1,
    * silently merging distinct documents). Only integral types are
    * safe, so fail loud at plan time on everything else: string- or
    * double-keyed corpora should map ids to longs upstream (e.g.
    * `monotonically_increasing_id` or a 60-bit hash).
    */
  private[graft] def requireNumericId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    require(
      dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType,
      s"$op: $idCol must be an integral type (cast to LONG id), got " +
        dt.catalogString)
  }

  /** Exact Jaccard of two sorted distinct hash arrays. The intersection
    * count is the native codegen `SortedIntersectCountLong` expression
    * (evaluated once per candidate pair — a UDF here would pay a per-pair
    * array copy at the boundary); the union/ratio arithmetic stays in
    * plain codegen'd column expressions. Two empty sets are defined as
    * Jaccard 1 (same convention as the previous UDF and the oracle).
    */
  private[graft] def jaccardSorted(a: Column, b: Column): Column = {
    val c = SortedIntersectCountLong.intersectCountF(a, b)
    val u = size(a).cast("long") + size(b).cast("long") - c
    when(u === 0L, lit(1.0)).otherwise(c.cast("double") / u.cast("double"))
  }

  /** Exact n-gram Jaccard near-duplicate pairs: J(A,B) ≥ threshold,
    * id_a < id_b. The self-join key is the shingle, so co-occurrence is
    * computed where the data lives; common-shingle skew is the known
    * hazard at scale — `maxShingleFreq` drops shingles shared by more
    * than that many docs (stop-shingles contribute almost no Jaccard
    * signal but quadratic join fan-out).
    */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleFreq: Option[Int] = None): DataFrame = {

    val sets = materializedShingleSets(docs, idCol, textCol, n)

    maxShingleFreq match {
      case Some(maxF) =>
        // hot-shingle variant: drop shingles shared by > maxF docs, then
        // brute-force over the filtered inverted index. Sizes must come
        // from the SAME filtered universe as the common counts — mixing
        // universes would systematically underestimate Jaccard for docs
        // containing dropped hot shingles.
        val ds = sets.select(col("id"), explode(col("hs")).alias("h"))
        val hot = ds.groupBy("h").agg(count(lit(1)).alias("f")).filter(col("f") > maxF)
        val flt = ds.join(broadcast(hot.select("h")), Seq("h"), "left_anti").select("id", "h")
        val sizes = flt.groupBy("id").agg(count(lit(1)).alias("sz"))
        val common = flt.toDF("id_a", "h")
          .join(flt.toDF("id_b", "h"), Seq("h"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).alias("common"))
        common
          .join(sizes.toDF("id_a", "sz_a"), Seq("id_a"))
          .join(sizes.toDF("id_b", "sz_b"), Seq("id_b"))
          .withColumn(
            "jaccard",
            col("common").cast("double") /
              (col("sz_a") + col("sz_b") - col("common")).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select("id_a", "id_b", "jaccard")

      case None =>
        // AllPairs prefix filtering: under any global total order on
        // shingles (here: the hash value, arrays pre-sorted), a pair with
        // J >= t shares its order-smallest common element inside BOTH
        // prefixes of length sz - ceil(t*sz) + 1 (were all >= ceil(t*sz)
        // common elements outside a doc's prefix, they'd have to fit in
        // its ceil(t*sz) - 1 suffix slots). Candidate-gen joins only
        // prefixes and verification computes the EXACT Jaccard from the
        // full arrays — identical output to the all-pairs join, lossless
        // by the standard AllPairs/PPJoin argument.
        //
        // PPJoin's frequency-ascending ordering (rare shingles first,
        // hot shingles pushed outside every prefix) was measured here:
        // on this corpus's near-uniform shingle frequencies it cut
        // candidates only ~28% while adding three shuffles (freq count,
        // freq join, re-sort) — net slower. On skew-heavy corpora
        // compose `maxShingleFreq` (the hot-shingle cutoff) instead.
        // sz - ceil(t*sz) + 1 == floor((1-t)*sz) + 1. The +1e-9 nudge
        // absorbs binary-representation error in (1-t): e.g. t=0.8 gives
        // (1-t)*5 == 0.9999999999999998, which would floor to 0 and drop
        // the second (required) prefix slot for every sz divisible by 5.
        // Over-long prefixes only add candidates (safe); short ones lose
        // qualifying pairs.
        val prefixLen = (size(col("hs")).cast("double") * (1.0 - threshold) + lit(1e-9))
          .cast("long") + lit(1L)
        val pf = sets.select(
          col("id"),
          size(col("hs")).cast("long").alias("sz"),
          explode(slice(col("hs"), lit(1), prefixLen.cast("int"))).alias("h"))
        // AllPairs length filter: J = |∩|/|∪| ≤ min(sz)/max(sz), so a
        // size-incompatible pair can never reach the threshold — prune
        // BEFORE the distinct (less pair-shuffle) and before the O(sz)
        // exact merge. The -1e-9 keeps the bound conservative under
        // double rounding (over-keeping is safe, over-pruning is not).
        val cand = pf.toDF("id_a", "sz_a", "h")
          .join(pf.toDF("id_b", "sz_b", "h"), Seq("h"))
          .filter(
            col("id_a") < col("id_b") &&
              least(col("sz_a"), col("sz_b")).cast("double") >=
                greatest(col("sz_a"), col("sz_b")).cast("double") * threshold - lit(1e-9))
          .select("id_a", "id_b")
          .distinct()
        cand
          .join(sets.toDF("id_a", "hs_a"), Seq("id_a"))
          .join(sets.toDF("id_b", "hs_b"), Seq("id_b"))
          .select(
            col("id_a"),
            col("id_b"),
            jaccardSorted(col("hs_a"), col("hs_b")).alias("jaccard"))
          .filter(col("jaccard") >= threshold)
    }
  }

  /** Exact n-gram CONTAINMENT near-duplicate pairs: C(A,B) =
    * |A∩B| / min(|A|,|B|) ≥ threshold, id_a < id_b — the asymmetric
    * complement to [[ngramJaccard]]. Jaccard misses the
    * subset-duplication shape entirely (a quote, a boilerplate wrapper,
    * a doc embedded in a much longer one drives |A∪B| up and J down);
    * containment is the standard measure for it (Broder 1997's
    * "containment", the resemblance/containment split).
    *
    * Candidate generation is ASYMMETRIC prefix filtering: Jaccard's
    * symmetric prefix join is unsound here (the common elements can sit
    * anywhere in the LARGER set — no length filter applies, that's the
    * point), so the smaller-or-equal side probes with its prefix of
    * length floor((1-t)·sz)+1 while the index side explodes its FULL
    * set. Soundness: if C ≥ t with |A| ≤ |B|, then A has ≥ ceil(t·|A|)
    * common elements, so at most floor((1-t)·|A|) elements of A precede
    * the order-smallest common one — which therefore lies in A's prefix,
    * and trivially in B's full index. Verification computes exact
    * containment from the full sorted arrays (native codegen intersect,
    * one evaluation per candidate pair).
    *
    * At scale the full-side index is the cost (corpus-shingle-count
    * rows on the wire, vs Jaccard's prefix-sized index) — that is
    * intrinsic to containment's asymmetry, and `maxShingleFreq` is the
    * lever that matters: stop-shingles shared by > maxF docs are
    * dropped from BOTH universes (sizes and counts stay consistent)
    * before the join, capping the per-shingle fan-out that would
    * otherwise go quadratic on boilerplate grams.
    */
  def ngramContainment(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.9,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"ngramContainment: threshold must be in (0, 1], got $threshold")

    val raw = materializedShingleSets(docs, idCol, textCol, n)
    // hot-shingle cutoff: rebuild the per-doc sets from the filtered
    // inverted index so sizes and intersections share one universe
    val sets = maxShingleFreq match {
      case None => raw
      case Some(maxF) =>
        val ds = raw.select(col("id"), explode(col("hs")).alias("h"))
        val hot = ds.groupBy("h").agg(count(lit(1)).alias("f")).filter(col("f") > maxF)
        ds.join(broadcast(hot.select("h")), Seq("h"), "left_anti")
          .groupBy("id")
          .agg(sort_array(collect_list(col("h"))).alias("hs"))
          .localCheckpoint(true)
    }

    // same prefix arithmetic as ngramJaccard (incl. the 1e-9 nudge for
    // binary-representation error in (1-t)); over-long prefixes only
    // add candidates
    val prefixLen = (size(col("hs")).cast("double") * (1.0 - threshold) + lit(1e-9))
      .cast("long") + lit(1L)
    val probe = sets.select(
      col("id").alias("id_p"),
      size(col("hs")).cast("long").alias("sz_p"),
      explode(slice(col("hs"), lit(1), prefixLen.cast("int"))).alias("h"))
    val index = sets.select(
      col("id").alias("id_f"),
      size(col("hs")).cast("long").alias("sz_f"),
      explode(col("hs")).alias("h"))
    val cand = probe
      .join(index, Seq("h"))
      // probe only from the smaller-or-equal side (ties probe both
      // directions; normalizing to id_a < id_b dedups them)
      .filter(col("id_p") =!= col("id_f") && col("sz_p") <= col("sz_f"))
      .select(
        least(col("id_p"), col("id_f")).alias("id_a"),
        greatest(col("id_p"), col("id_f")).alias("id_b"))
      .distinct()

    cand
      .join(sets.toDF("id_a", "hs_a"), Seq("id_a"))
      .join(sets.toDF("id_b", "hs_b"), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        containmentSorted(col("hs_a"), col("hs_b")).alias("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Exact containment of two sorted distinct hash arrays:
    * |∩| / min(|a|, |b|); two empty sets are containment 1 (the
    * [[jaccardSorted]] convention).
    */
  private def containmentSorted(a: Column, b: Column): Column = {
    val c = SortedIntersectCountLong.intersectCountF(a, b)
    val m = least(size(a), size(b)).cast("long")
    when(m === 0L, lit(1.0)).otherwise(c.cast("double") / m.cast("double"))
  }

  /** `(id, sig: Array[Long])` — one row per doc, with the md5 base-hash
    * pass materialized in its own projection so it runs once per shingle
    * regardless of k.
    */
  def minHashSignatureTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int): DataFrame =
    docs
      .select(col(idCol).alias("id"),
        graft.functions.expressions.ShingleModHashesExpr
          .shingleModHashes(col(textCol), n).alias("hs"))
      .select(col("id"), minHashFromHashes(col("hs"), k).alias("sig"))

  /** MinHash signatures, exploded to `(id, i, sig)` rows.
    *
    * Shape note: the explode fans out a LITERAL coefficient array and the
    * per-permutation min is computed above the Generate, rather than
    * posexploding a computed signature array. Exploding a computed array
    * makes `InferFiltersFromGenerate` synthesize a `size(expr) > 0`
    * filter with the whole expensive expression inlined (HOFs are
    * CodegenFallback → interpreted → ~k× redundant hashing); a literal
    * generator input constant-folds that filter away.
    */
  def minHashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16): DataFrame = {
    val coeffArr = array(minHashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("i"), lit(a).as("a"), lit(b).as("b"))
    }: _*)
    docs
      .select(col(idCol).alias("id"),
        graft.functions.expressions.ShingleModHashesExpr
          .shingleModHashes(col(textCol), n).alias("hs"))
      .select(col("id"), col("hs"), explode(coeffArr).alias("c"))
      .select(
        col("id"),
        col("c.i").alias("i"),
        array_min(transform(col("hs"), h => (col("c.a") * h + col("c.b")) % lit(MinHashPrime)))
          .alias("sig"))
  }

  /** `(id, band, key)` banded-LSH rows per doc — [[minHashLsh]]'s
    * bucketing stage as a standalone, PERSISTABLE table. At 100 TB this
    * is the near-dup index an ingest pipeline stores alongside the
    * corpus (each doc pays its `bands` rows once, at admission; store
    * bucketed by `(band, key)` and the candidate join is
    * co-partitioned). [[incrementalNearDup]] builds it for both the
    * batch and the corpus side.
    */
  def bandTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4): DataFrame = {
    require(bands > 0 && k % bands == 0, s"bands must divide k, got k=$k bands=$bands")
    val rows = k / bands
    // explode a literal band-index array (see minHashSignatures shape note)
    val bandIdx = array((0 until bands).map(b => lit(b)): _*)
    minHashSignatureTable(docs, idCol, textCol, n, k)
      .select(col("id"), col("sig"), explode(bandIdx).alias("band"))
      .select(
        col("id"),
        col("band"),
        md5(concat_ws("_", slice(col("sig"), col("band") * rows + 1, lit(rows)))).alias("key"))
  }

  /** MinHash + banded LSH near-dup pairs, verified with exact Jaccard.
    *
    * Stage 1 (candidate-gen) shuffles `(band, key) → ids` — each doc
    * contributes `bands` rows regardless of length. Stage 2 verifies
    * candidates with the exact shingle-set Jaccard, so the output has no
    * false positives (false negatives bounded by the (k, bands) collision
    * probability curve).
    */
  def minHashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {

    val buckets = bandTable(docs, idCol, textCol, n, k, bands)
    val cand = buckets.alias("x")
      .join(buckets.alias("y"), Seq("band", "key"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").alias("id_a"), col("y.id").alias("id_b"))
      .distinct()

    // exact verification of the candidate set only: fetch both docs'
    // shingle-hash sets (two joins on id — AQE broadcasts the tiny
    // candidate side) and intersect per pair in a tight loop. No inverted
    // index, no pair-row fan-out, no groupBy — the verify cost is
    // O(candidates × set size), independent of corpus shingle skew.
    val sets = materializedShingleSets(docs, idCol, textCol, n)
    cand
      .join(sets.toDF("id_a", "hs_a"), Seq("id_a"))
      .join(sets.toDF("id_b", "hs_b"), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        jaccardSorted(col("hs_a"), col("hs_b")).alias("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental NEAR-duplicate dedup — the text twin of
    * [[Similarity.incrementalSemanticDedup]], filling the remaining cell
    * of the (exact | near-dup) × (batch | incremental) matrix: a NEW
    * batch is near-dup-checked against the existing corpus WITHOUT any
    * corpus×corpus comparison, then near-dup-deduplicated within itself.
    *
    * Mechanics: MinHash band keys on BOTH sides ([[bandTable]], the
    * corpus side recomputed from its text on every call); candidates are
    * batch×corpus band-key collisions only, each verified with the exact
    * shingle-set Jaccard (no false positives — same verify kernel as
    * [[minHashLsh]]; false negatives bounded by the (k, bands) collision
    * curve). Batch docs with a verified corpus near-dup are dropped;
    * survivors run the intra-batch LSH + exact verify, connected
    * components over the verified pairs, and min-id keep — the same
    * output contract as the semantic tier.
    *
    * Output, one row per batch id:
    * `(id, corpus_dup, dup_group, kept)` — `corpus_dup = 1` rows are
    * dropped by the corpus (dup_group = -1, kept = 0); among survivors
    * `dup_group` is the intra-batch component label and the min-id
    * member is kept.
    */
  def incrementalNearDup(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    require(bands > 0 && k % bands == 0, s"bands must divide k, got k=$k bands=$bands")
    // batch side only: batch ids are cast to long for the state/output;
    // corpus ids are never cast here (they only key the candidate and
    // verify joins against themselves), so a string-keyed historical
    // corpus stays valid
    requireNumericId(batch, idCol, "incrementalNearDup (batch)")

    // the batch band table and shingle sets each feed TWO plan positions
    // (corpus check + intra-batch pass) on different keys — materialize
    // once (same rationale as materializedShingleSets)
    val bandB = bandTable(batch, idCol, textCol, n, k, bands).localCheckpoint(true)
    val setsB = materializedShingleSets(batch, idCol, textCol, n)

    // batch×corpus: band-key collisions, exact-Jaccard verified. The
    // corpus pays one band-key scan (MinHash over full text) per call,
    // then shuffles on (band, key) once — scalar band rows, never text,
    // never against itself. Materialized: feeds the candidate-id
    // semi-join below AND the verify join.
    val corpusBands = bandTable(corpus, idCol, textCol, n, k, bands)
    val candC = bandB.alias("x")
      .join(corpusBands.alias("y"), Seq("band", "key"))
      .select(col("x.id").alias("id_b"), col("y.id").alias("id_c"))
      .distinct()
      .localCheckpoint(true)

    // corpus shingle sets ONLY for the band-collision candidates (a
    // handful of ids per batch): computing them corpus-wide would
    // re-hash far more text to verify a few pairs. Single plan
    // position, so no materialization either — only candidates pay
    // the shingle-set verify. The candidate frame's lineage is a
    // localCheckpoint (no stats), so the semi-join needs the
    // explicit broadcast — without it the planner hash-exchanges
    // the ENTIRE corpus text on id to meet a handful of candidate
    // ids (the q115/q117 hint-class defect; the registry-wide text
    // sweep now fails on it)
    val candIds = candC.select(col("id_c").alias("id")).distinct()
    val setsC = shingleSets(
      corpus.join(
        broadcast(candIds.withColumnRenamed("id", idCol)),
        Seq(idCol), "left_semi"),
      idCol, textCol, n)
    val hits = candC
      .join(setsB.toDF("id_b", "hs_b"), Seq("id_b"))
      .join(setsC.toDF("id_c", "hs_c"), Seq("id_c"))
      .filter(jaccardSorted(col("hs_b"), col("hs_c")) >= threshold)
      .select(col("id_b").alias("id"))
      .distinct()

    val batchIds = batch.select(col(idCol).cast("long").alias("id"))
    val survivorIds = batchIds.join(hits, Seq("id"), "left_anti")

    // intra-batch near-dup among survivors: same bands, same verify
    val bandS = bandB.join(survivorIds, Seq("id"), "left_semi")
    val candB = bandS.alias("x")
      .join(bandS.alias("y"), Seq("band", "key"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").alias("id_a"), col("y.id").alias("id_b"))
      .distinct()
    val pairsB = candB
      .join(setsB.toDF("id_a", "hs_a"), Seq("id_a"))
      .join(setsB.toDF("id_b", "hs_b"), Seq("id_b"))
      .filter(jaccardSorted(col("hs_a"), col("hs_b")) >= threshold)
      .select("id_a", "id_b")
    val groups = Components.connectedComponents(pairsB, "id_a", "id_b", survivorIds, "id")
      .withColumnRenamed("cluster_id", "dup_group")

    survivorIds
      .join(groups, Seq("id"))
      .select(
        col("id"),
        lit(0L).alias("corpus_dup"),
        col("dup_group"),
        (col("id") === col("dup_group")).cast("long").alias("kept"))
      .unionByName(hits.select(
        col("id"),
        lit(1L).alias("corpus_dup"),
        lit(-1L).alias("dup_group"),
        lit(0L).alias("kept")))
  }

  /** SimHash fingerprints per doc (tight-loop twin of the columnar
    * `simHash60`, which folds a 60-wide counter through interpreted HOFs
    * per token — parity-tested, oracle-identical).
    */
  def simHashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).alias("id"),
      graft.functions.expressions.SimHash60Expr.simHash60(col(textCol)).alias("simhash"))

  /** SimHash near-dup pairs: hamming distance ≤ maxDistance. Candidate
    * generation by exact match on each of `blocks` bit-blocks (pigeonhole:
    * any pair within `blocks-1` bits agrees on ≥1 block), then exact
    * hamming verification — same two-stage shape as LSH.
    */
  def simHashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      blocks: Int = 4): DataFrame = {

    val fps = simHashFingerprints(docs, idCol, textCol)
    val blockWidth = 60 / blocks
    val blocked = fps.select(
      col("id"),
      col("simhash"),
      posexplode(
        transform(
          sequence(lit(0), lit(blocks - 1)),
          b =>
            call_function(
              "shiftright",
              col("simhash"),
              (b * blockWidth).cast("int")).bitwiseAND(lit((1L << blockWidth) - 1))))
        .as(Seq("block", "bkey")))

    blocked.alias("x")
      .join(blocked.alias("y"), Seq("block", "bkey"))
      .filter(col("x.id") < col("y.id"))
      .select(
        col("x.id").alias("id_a"),
        col("y.id").alias("id_b"),
        hammingDistance(col("x.simhash"), col("y.simhash")).alias("dist"))
      .distinct()
      .filter(col("dist") <= maxDistance)
  }

  /** Embedding-cosine near-dup pairs — exact all-pairs (use LSH buckets
    * for the 100 TB path, see `Similarity.lshTopK`).
    *
    * Norms are computed ONCE per row before the self-join (the naive
    * per-pair cosine evaluates three array folds per pair), and the pair
    * dot product runs as the native `DotProductFloat` expression:
    * higher-order functions are CodegenFallback, so on O(n²) pair volume
    * the interpreted per-element dispatch dominates, and a UDF would pay
    * per-row array conversion at the boundary — the expression's
    * generated loop reads the columnar `ArrayData` in place inside the
    * fused stage. Accumulation is left-to-right over element-wise double
    * casts — bit-identical to `VectorFunctions.dot` and the DuckDB
    * oracle's `list_reduce`.
    */
  def embeddingNearDup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxPairs: Long = 1000000000L): DataFrame = {
    // fail LOUD before planning an O(n²) self-join at corpus scale: the
    // exact tier is a deliberate choice, not a default anyone should
    // reach by accident at 100 TB
    val n = emb.count()
    val pairs = if (n < 2) 0L else n * (n - 1) / 2
    require(
      pairs <= maxPairs,
      s"embeddingNearDup is the exact all-pairs tier: $n rows = $pairs " +
        s"pairs > maxPairs=$maxPairs. Use embeddingNearDupBlocked (exact, " +
        s"distributed block pairs) or Similarity.srpNearDup (banded LSH, " +
        s"the 100 TB path), or raise maxPairs explicitly.")
    val v = emb.select(
      col(idCol).alias("id"),
      col(vecCol).alias("vec"),
      graft.functions.expressions.Norm2Float.norm2F(col(vecCol)).alias("nrm"))
    v.alias("a")
      .join(v.alias("b"), col("a.id") < col("b.id"))
      .select(
        col("a.id").alias("id_a"),
        col("b.id").alias("id_b"),
        graft.functions.VectorFunctions.nanDiv(
          DotProductFloat.dotF(col("a.vec"), col("b.vec")),
          col("a.nrm") * col("b.nrm")).alias("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Broadcast-block variant of [[embeddingNearDup]]: when the embedding
    * block fits in executor memory (the same admission rule as a
    * broadcast join), ship it once and score pairs in a tight loop —
    * no O(n²) join rows ever materialize, only the surviving pairs. At
    * 100 TB this is the inner kernel: LSH-bucket or id-range-block the
    * corpus first, then run this within each block.
    *
    * Arithmetic is identical to [[embeddingNearDup]] (left-to-right dot
    * fold, `dot / (norm_a * norm_b)`), so results match the same oracle
    * bit-for-bit.
    */
  def embeddingNearDupBlock(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxRows: Long = 1000000L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cnt = emb.count()
    require(
      cnt <= maxRows,
      s"embeddingNearDupBlock collects the block to the driver and is a " +
        s"per-block primitive: got $cnt rows > maxRows=$maxRows. For a full " +
        s"corpus use embeddingNearDupBlocked (exact, distributed block " +
        s"pairs) or Similarity.srpNearDup (banded LSH, the 100 TB path).")
    val block: Array[(Long, Array[Float], Double)] = emb
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
      .map { case (id, vec) =>
        var s = 0.0
        var i = 0
        while (i < vec.length) { s += vec(i).toDouble * vec(i).toDouble; i += 1 }
        (id, vec, math.sqrt(s))
      }
    val bc = spark.sparkContext.broadcast(block)
    val n = block.length
    spark.range(0, n.toLong)
      .mapPartitions { idxs =>
        val arr = bc.value
        idxs.flatMap { i0 =>
          val i = i0.toInt
          val (ida, va, na) = arr(i)
          (i + 1 until arr.length).iterator.flatMap { j =>
            val (idb, vb, nb) = arr(j)
            var s = 0.0
            var d = 0
            val len = math.min(va.length, vb.length)
            while (d < len) { s += va(d).toDouble * vb(d).toDouble; d += 1 }
            val cos = s / (na * nb)
            // NaN (zero-norm vectors: 0/0) passes, matching the SQL
            // filter semantics of the join variant and DuckDB, where
            // NaN orders above every value
            if (cos >= threshold || cos.isNaN) Iterator.single((ida, idb, cos))
            else Iterator.empty
          }
        }
      }
      .toDF("id_a", "id_b", "cos")
  }

  /** Corpus-level LINE deduplication — the C4/RefinedWeb hygiene step:
    * segment every document on `delim` (newline on real corpora; the
    * fixture's documents are single-line, so the registry query
    * exercises it at token granularity with `" "`), count each distinct
    * segment's occurrences CORPUS-WIDE, drop segments over the
    * frequency threshold from every document, and reassemble the
    * surviving segments in their original order. Removes boilerplate
    * (headers, nav text, cookie banners) that exact/near-dup document
    * dedup can't see because the surrounding documents differ.
    *
    * Scale shape: segment frequency is counted on 128-bit md5
    * fingerprints, so the corpus-wide shuffle carries (hash, count) —
    * never segment text; the hot-segment set meets the corpus in a
    * co-partitioned anti join on the hash; reassembly is one shuffle of
    * the kept segments by doc id with a per-doc (bounded) in-row sort —
    * `array_sort(collect_list(struct(pos, line)))` — not a global sort.
    * The relative threshold (`freq·100 <= nDocs·maxRelFreqPct`, integer
    * arithmetic, corpus size broadcast back as a one-row frame) keeps
    * the predicate meaningful as the corpus grows; [[lineDedupAbs]] is
    * the absolute-count form real pipelines use ("drop any line seen
    * more than k times").
    *
    * Emits `(doc_id, clean_text, n_kept)`; documents whose every
    * segment was dropped survive with `clean_text = ""`.
    */
  def lineDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      delim: String,
      maxRelFreqPct: Int): DataFrame =
    lineDedupCore(docs, idCol, textCol, delim,
      (f, nDocs) => f * 100L <= nDocs * maxRelFreqPct.toLong)

  /** [[lineDedup]] with an absolute occurrence cap (drop any segment
    * appearing more than `maxFreq` times corpus-wide).
    */
  def lineDedupAbs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      delim: String,
      maxFreq: Long): DataFrame =
    lineDedupCore(docs, idCol, textCol, delim, (f, _) => f <= maxFreq)

  private def lineDedupCore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      delim: String,
      keep: (Column, Column) => Column): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(delim)
    val base = docs.select(col(idCol).alias("doc_id"), col(textCol).alias("text"))
    // materialized once: the segmented frame feeds the frequency
    // aggregate AND the anti-join probe, whose exchanges differ (lh vs
    // doc_id), so ReuseExchange can never dedup them — lazy, the
    // corpus-wide split+md5 scan would run twice. A/B at sf0.1 (short
    // fixture docs): ~5-10% — the win grows with document size since
    // what's deduplicated is the segmentation scan itself; the cost is
    // corpus-sized executor block storage (memory+disk), the same
    // deliberate trade as the shingle-set table
    val lines = base
      .select(
        col("doc_id"),
        posexplode(split(col("text"), quoted)).as(Seq("pos", "line")))
      .withColumn("lh", unhex(md5(col("line")))) // 16-byte binary fp, not 32-char hex
      .localCheckpoint(true)
    val nDocs = base.agg(count(lit(1)).alias("n_docs"))
    val hot = lines
      .groupBy("lh")
      .agg(count(lit(1)).alias("f"))
      .crossJoin(nDocs) // one-row frame: broadcast, no collect
      .filter(!keep(col("f"), col("n_docs")))
      .select("lh")
    // the hot list is bounded by construction (a line must clear the
    // frequency threshold, so distinct hot lines ≤ occurrences /
    // threshold) — broadcast it EXPLICITLY: the `lines` side is a
    // checkpoint leaf with no stats, and an estimate-driven SMJ here
    // would shuffle every exploded line WITH its text on lh to meet a
    // boilerplate-sized list (the hint-class defect, line edition)
    val kept = lines.join(broadcast(hot), Seq("lh"), "left_anti")
    val rebuilt = kept
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("line")))).alias("a"))
      .select(
        col("doc_id"),
        concat_ws(delim, col("a.line")).alias("clean_text"),
        size(col("a")).alias("n_kept"))
    base
      .select("doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("clean_text"), lit("")).alias("clean_text"),
        coalesce(col("n_kept"), lit(0)).alias("n_kept"))
  }

  /** Exact all-pairs embedding near-dup as a fully distributed plan —
    * the scale-safe default entry point. Classic block-nested-loop on
    * Spark: rows are assigned to one of B blocks by `id % B` (B sized so
    * a block fits comfortably in a task), each row is replicated to
    * every block *pair* containing its block, and each of the B·(B+1)/2
    * pair-groups scores its candidate pairs in a tight loop inside one
    * task — O(n²) comparisons never materialize as join rows, only the
    * surviving pairs are emitted, and nothing is ever collected to the
    * driver.
    *
    * Cost model: shuffle volume is n·B vector rows (the unavoidable
    * block-nested-loop replication for *exact* all-pairs); compute is
    * n²/2 dot products spread over B·(B+1)/2 independent tasks. For a
    * corpus too big for that (the 100 TB path), use the sub-quadratic
    * candidate generators instead: [[Similarity.srpNearDup]] (banded
    * SRP-LSH) or [[minHashLsh]].
    *
    * `maxBlockRows = 0` (the default) auto-sizes B: the measured sweep
    * (BASELINE.md round 8; 20k×64f rows, 32 cores) is monotone in
    * PARALLELISM — B=40 ran 11.9× faster than B=1 because the n²/2
    * dots dwarf the replication shuffle until B is extreme — so auto
    * picks the smallest B giving ≥ ~4 block-pair tasks per core
    * (B ≈ √(8·defaultParallelism)), bumped so no block exceeds 100k
    * rows (per-task working set 2·rows·dim·4B). Pass an explicit
    * `maxBlockRows` only to pin the layout (e.g. tests, A/B runs).
    *
    * Arithmetic (left-to-right double dot fold over the shorter length,
    * `dot / (norm_a · norm_b)`, `>= threshold`) is bit-identical to
    * [[embeddingNearDup]] / [[embeddingNearDupBlock]], so all three
    * match the same DuckDB oracle.
    */
  def embeddingNearDupBlocked(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBlockRows: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    require(maxBlockRows >= 0, s"maxBlockRows must be >= 0 (0 = auto), got $maxBlockRows")
    val n = emb.select(col(idCol)).count()
    val b =
      if (maxBlockRows > 0) math.max(1, math.ceil(n.toDouble / maxBlockRows).toInt)
      else {
        // parallelism floor: B(B+1)/2 tasks ≈ 4 per core keeps every
        // core busy through stragglers; memory ceiling: ≤100k rows/block
        val byPar = math.ceil(math.sqrt(8.0 * spark.sparkContext.defaultParallelism)).toInt
        val byMem = math.ceil(n / 100000.0).toInt
        math.max(1, math.max(byPar, byMem))
      }
    // shuffle volume is n·B vector replicas and compute is n²/2 dots: a
    // block count this size means the corpus has outgrown the exact tier
    // — fail loud with the sub-quadratic pointer instead of melting
    require(
      b <= 4096,
      s"embeddingNearDupBlocked: $n rows at " +
        (if (maxBlockRows > 0) s"maxBlockRows=$maxBlockRows" else "auto block sizing") +
        s" = $b blocks (> 4096); shuffle volume n·B and n²/2 comparisons " +
        s"are past the exact tier's reach. Use Similarity.srpNearDup " +
        s"(banded LSH) or minHashLsh for candidate generation, or raise " +
        s"maxBlockRows if a block truly fits a task.")
    // norm before the explode so it's computed once per row, not per
    // replica. Blocks come from pmod(hash(id), B), not pmod(id, B):
    // strided id spaces (snowflake ids, multiples of 10^k) would collapse
    // raw residues into few blocks and break the fits-in-a-task sizing.
    val base = emb.select(
      col(idCol).cast("long").alias("id"),
      col(vecCol).alias("vec"),
      graft.functions.expressions.Norm2Float.norm2F(col(vecCol)).alias("nrm"),
      pmod(hash(col(idCol).cast("long")), lit(b)).cast("int").alias("blk"))
    // replicate each row to every block pair containing its block:
    // key(i,j) = i*B + j with i <= j, in LONG (i*B overflows Int once
    // B > ~46k, i.e. corpora past ~4.6e9 rows at the default block size);
    // the literal-array explode keeps the generator out of
    // InferFiltersFromGenerate's way
    val replicated = base
      .select(
        col("id"), col("vec"), col("nrm"), col("blk"),
        explode(lit((0 until b).toArray)).alias("o"))
      .select(
        col("id"), col("vec"), col("nrm"), col("blk"),
        when(col("blk") <= col("o"),
          col("blk").cast("long") * b + col("o"))
          .otherwise(col("o").cast("long") * b + col("blk"))
          .alias("pair_key"))
    replicated
      .as[(Long, Array[Float], Double, Int, Long)]
      .groupByKey(_._5)
      .flatMapGroups { (key: Long, it: Iterator[(Long, Array[Float], Double, Int, Long)]) =>
        val i = (key / b).toInt
        val j = (key % b).toInt
        def dot(va: Array[Float], vb: Array[Float]): Double = {
          var s = 0.0
          var d = 0
          val len = math.min(va.length, vb.length)
          while (d < len) { s += va(d).toDouble * vb(d).toDouble; d += 1 }
          s
        }
        if (i == j) {
          // intra-block: upper triangle in id order
          val rows = it.map(r => (r._1, r._2, r._3)).toArray.sortBy(_._1)
          rows.indices.iterator.flatMap { a =>
            val (ida, va, na) = rows(a)
            (a + 1 until rows.length).iterator.flatMap { c =>
              val (idb, vb, nb) = rows(c)
              val cos = dot(va, vb) / (na * nb)
              if (cos >= threshold || cos.isNaN) Iterator.single((ida, idb, cos))
              else Iterator.empty
            }
          }
        } else {
          // cross-block: full A×B, emit (min id, max id)
          val (ai, bj) = it.toArray.partition(_._4 == i)
          ai.iterator.flatMap { case (ida, va, na, _, _) =>
            bj.iterator.flatMap { case (idb, vb, nb, _, _) =>
              val cos = dot(va, vb) / (na * nb)
              if (cos >= threshold || cos.isNaN) {
                val lo = math.min(ida, idb)
                val hi = math.max(ida, idb)
                Iterator.single((lo, hi, cos))
              } else Iterator.empty
            }
          }
        }
      }
      .toDF("id_a", "id_b", "cos")
  }

  /** Cross-document duplicate-SPAN removal — the ExactSubstr hygiene
    * step (cf. Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022): a token is removed iff it lies inside
    * some `k`-token window whose content appears in ≥ `minDocs`
    * distinct documents. Finer-grained than [[lineDedup]] (which drops
    * whole segments): repeated boilerplate embedded mid-sentence is cut
    * while the unique remainder survives.
    *
    * Plan: one scan builds position-ordered 60-bit k-gram hashes per
    * doc straight off the raw text through the native
    * [[ShingleHash60sExpr]] kernel (md5-derived, so the oracle rebuilds
    * them and collisions — were any to occur — are identical on both
    * engines; short docs hash the whole text, the same rule as the
    * shingle oracles), with the `posexplode` index as the gram's token
    * start; the duplicate grams come from one distinct + count
    * aggregate on hash LONGS (text never shuffles); the duplicate
    * STARTS gather back per doc in one aggregate, and the cut is a
    * doc-local interval-union pass ([[CutCoveredSpansExpr]]) — no
    * per-covered-position row amplification, no positions anti-join,
    * no rebuild shuffle. Hot grams (corpus-wide boilerplate) skew the
    * dup-hash join — AQE's skew join handles the fan-out, and the
    * per-key payload is (id, pos) scalars only.
    *
    * Emits `(doc_id, clean_text, n_kept, n_removed)`; fully-boilerplate
    * documents survive with `clean_text = ""`; null text behaves as the
    * empty document (`n_tokens = 0`, never negative counts).
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      minDocs: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // tokens (rebuild) + gram hashes (dup detection) come from ONE scan
    // over the text — both sides of the pipeline reuse it on different
    // keys, so materialize once, as every dedup pipeline does; both
    // columns are native expressions so the scan stays fused (null text
    // → empty token array by the TokensExpr contract)
    val base = docs
      .select(
        col(idCol).alias("doc_id"),
        graft.functions.expressions.TokensExpr.tokens(col(textCol)).alias("t"),
        ShingleHash60sExpr.shingleHash60s(col(textCol), k).alias("hs"))
      .localCheckpoint(true)
    val grams = base.select(
      col("doc_id"),
      posexplode(col("hs")).as(Seq("pos", "h")))
    val dup = grams
      .select("doc_id", "h")
      .distinct()
      .groupBy("h")
      .agg(count(lit(1)).alias("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    // per-doc duplicate start positions — the k-wide windows stay
    // IMPLICIT (one int per dup gram through the shuffle; the union of
    // [pos, pos+k) intervals is computed doc-locally at cut time)
    val dupStarts = grams
      .join(dup, Seq("h"))
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).alias("starts"))
    base
      .join(dupStarts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("t"),
        CutCoveredSpansExpr.cutCoveredSpans(
          col("t"), coalesce(col("starts"), typedlit(Array.empty[Int])), k).alias("kept"))
      .select(
        col("doc_id"),
        concat_ws(" ", col("kept")).alias("clean_text"),
        size(col("kept")).cast("long").alias("n_kept"),
        (size(col("t")) - size(col("kept"))).cast("long").alias("n_removed"))
  }

  /** Representative selection per near-dup cluster — the retention
    * POLICY step after clustering: instead of "keep lowest id"
    * (adequate for exact dupes, arbitrary for near-dupes), keep the
    * highest-QUALITY member of each cluster (ties → lowest id), so a
    * truncated or boilerplate-padded variant never shadows the clean
    * copy it near-duplicates.
    *
    * Input is any `(id, cluster)` labeling ([[Components.connectedComponents]]
    * output, an LSH bucket id, an exact fingerprint) plus a per-doc
    * quality score (e.g. token count, q25's quality stats, a model
    * score). Output: one row per member with its cluster, score, and a
    * `kept` 0/1 flag — the caller filters `kept = 1` for the surviving
    * corpus or keeps the flag for retention accounting (q62 shape).
    *
    * Scale shape: winners come from ONE hash aggregate on the cluster
    * id over `(cluster, score, id)` triples — partial aggregation
    * combines map-side, text never shuffles — then a cluster-keyed join
    * marks members. No window (a window would sort every partition and
    * cannot pre-combine).
    */
  /** Per-domain boilerplate segment removal — the RefinedWeb/C4-style
    * intra-domain pass: a nav bar, footer, or cookie banner recurs
    * VERBATIM across one domain's pages but nowhere else, so
    * corpus-global frequency ([[lineDedup]]) under-fires on it while
    * a per-domain page-frequency rule nails it. A segment (paragraph,
    * line — whatever `delim` splits) is dropped from every document of
    * domain `d` when it appears on MORE than `maxPagePct`% of `d`'s
    * pages AND `d` has at least `minPages` pages (below the floor
    * there is no statistical basis to call anything boilerplate — a
    * 2-page domain's shared header is just as likely real content).
    * (Reference analogue: none; training-data-pipeline extension —
    * the stage between HTML extraction and URL-level dedup in a
    * CommonCrawl-class front door.)
    *
    * Counting is per-PAGE (distinct documents containing the segment),
    * not per-occurrence — a segment repeated 50× inside one page is
    * repetition ([[graft.operators.QualityPrune]]'s department), not
    * domain boilerplate.
    *
    * Plan (the [[duplicateSpans]] discipline, domain-scoped): one scan
    * splits each doc and checkpoints `(doc_id, domain, segs)`; every
    * frame past that scan carries SCALARS — `(doc_id, domain, pos,
    * 16-byte md5)` rows feed the distinct + per-(domain, hash) page
    * count, the page-count-vs-floor filter joins two already-aggregated
    * frames, hot hits gather back per doc as positions, and the cut is
    * the doc-local [[CutCoveredSpansExpr]] interval pass with k = 1.
    * Segment text never keys an exchange; the rebuild join is keyed by
    * the unique doc id (balanced by construction). Hot-domain skew in
    * the (domain, hash) aggregate is AQE's skew-join case — per-key
    * payload is scalar.
    *
    * Emits `(doc_id, domain, clean_text, n_kept, n_removed)`;
    * fully-boilerplate documents survive with `clean_text = ""`.
    */
  def domainBoilerplate(
      docs: DataFrame,
      idCol: String,
      domainCol: String,
      textCol: String,
      delim: String = "\n",
      maxPagePct: Int = 50,
      minPages: Long = 5L): DataFrame = {
    require(maxPagePct >= 1 && maxPagePct <= 100,
      s"maxPagePct must be in [1, 100], got $maxPagePct")
    require(minPages >= 1L, s"minPages must be >= 1, got $minPages")
    val quoted = java.util.regex.Pattern.quote(delim)
    // r22 MEASURED REJECTION: Skew.spreadIfNarrow(docs) in front of
    // this checkpoint (the q56 SRP fix) was tried and REVERTED — A/B
    // min-of-3 at local[32]: q153 1.28→1.36 s, q156 0.81→0.92 s. The
    // per-row kernel here (split + md5-per-segment) is too cheap for a
    // payload exchange + full-width task overhead to beat the fused
    // single-split scan; only extreme per-row kernels (SRP plane
    // products) cleared that bar.
    val base = docs
      .select(
        col(idCol).alias("doc_id"),
        col(domainCol).alias("domain"),
        split(col(textCol), quoted).alias("segs"))
      .localCheckpoint(true)
    // scalars only from here: 16-byte binary fp per segment (the
    // lineDedup convention — cheap to move, collision-safe)
    val segs = base
      .select(col("doc_id"), col("domain"),
        posexplode(col("segs")).as(Seq("pos", "seg")))
      .select(col("doc_id"), col("domain"), col("pos"),
        unhex(md5(col("seg"))).alias("lh"))
    val pages = base.groupBy("domain").agg(count(lit(1)).alias("n_pages"))
    val hot = segs
      .select("domain", "lh", "doc_id")
      .distinct() // page-level presence, not occurrences
      .groupBy("domain", "lh")
      .agg(count(lit(1)).alias("f"))
      .join(pages, Seq("domain")) // two aggregated frames — stats intact
      .filter(col("n_pages") >= minPages &&
        col("f") * lit(100L) > col("n_pages") * lit(maxPagePct.toLong))
      .select("domain", "lh")
    val cutStarts = segs
      .join(hot, Seq("domain", "lh"))
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).alias("starts"))
    base
      .join(cutStarts, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("domain"),
        CutCoveredSpansExpr.cutCoveredSpans(
          col("segs"), coalesce(col("starts"), typedlit(Array.empty[Int])), 1)
          .alias("kept"),
        size(col("segs")).alias("n_segs"))
      .select(
        col("doc_id"), col("domain"),
        concat_ws(delim, col("kept")).alias("clean_text"),
        size(col("kept")).cast("long").alias("n_kept"),
        (col("n_segs") - size(col("kept"))).cast("long").alias("n_removed"))
  }

  /** The FROZEN-profile half of [[domainBoilerplate]] — mine the
    * per-domain hot-segment fingerprints once (on yesterday's crawl, a
    * curated slice, or a scheduled batch pass) and hand the table to
    * [[applyBoilerplateProfile]], which applies it STATELESSLY to any
    * corpus, batch or streaming (profiles refresh on their own cadence,
    * appliers never re-aggregate). Same
    * page-presence rule as [[domainBoilerplate]]; fingerprints are
    * `md5_hash60` longs (sortable, 8 bytes, binary-searchable row-side
    * — and re-derivable in the DuckDB oracle). Emits `(domain, fp)`.
    */
  def boilerplateProfile(
      docs: DataFrame,
      idCol: String,
      domainCol: String,
      textCol: String,
      delim: String = "\n",
      maxPagePct: Int = 50,
      minPages: Long = 5L): DataFrame = {
    require(maxPagePct >= 1 && maxPagePct <= 100,
      s"maxPagePct must be in [1, 100], got $maxPagePct")
    require(minPages >= 1L, s"minPages must be >= 1, got $minPages")
    val quoted = java.util.regex.Pattern.quote(delim)
    val base = docs.select(
      col(idCol).alias("doc_id"), col(domainCol).alias("domain"), col(textCol).alias("text"))
    val segs = base
      .select(col("doc_id"), col("domain"),
        explode(split(col("text"), quoted)).alias("seg"))
      .select(col("doc_id"), col("domain"), md5Hash60(col("seg")).alias("fp"))
    val pages = base.groupBy("domain").agg(count(lit(1)).alias("n_pages"))
    segs
      .distinct() // page presence, not occurrences
      .groupBy("domain", "fp")
      .agg(count(lit(1)).alias("f"))
      .join(pages, Seq("domain"))
      .filter(col("n_pages") >= minPages &&
        col("f") * lit(100L) > col("n_pages") * lit(maxPagePct.toLong))
      .select("domain", "fp")
  }

  /** Apply a [[boilerplateProfile]] to a corpus — a pure projection:
    * the profile rolls up to one sorted fp array per domain and
    * BROADCASTS onto the docs (the doc side never shuffles — there is
    * no exchange in this operator at all), then the native
    * [[CutSegmentsByFpExpr]] kernel drops profiled segments row-locally
    * (binary search per segment). Stateless, so it chains in front of
    * a streaming ingest exactly like the quality gates — "apply
    * yesterday's boilerplate profile to today's crawl" with no
    * corpus-wide aggregation on the live path. Docs from domains
    * without a profile pass through uncut.
    *
    * Broadcast contract: the profile is bounded per domain by the
    * page-frequency threshold (hot segments ≤ segments-per-page ·
    * 100/maxPagePct); its TOTAL size scales with the domain count of
    * the MINED slice. For a profile too large to broadcast, scope it
    * (per-language, per-domain-shard) and apply per scope — the
    * operator's one-broadcast shape is the common case, not a limit of
    * the kernel.
    *
    * Emits every input column EXCEPT `textCol` (in input order),
    * followed by `(clean_text, n_kept, n_removed)` — payload columns
    * (embeddings, metadata) ride through untouched, which is what lets
    * the apply sit mid-stream in a composed ingest. The three output
    * names plus the `__graft_bp_*` internals are RESERVED: an input
    * already carrying one is rejected up front (rename it first) rather
    * than shadowed or left to fail as an ambiguous reference.
    */
  def applyBoilerplateProfile(
      docs: DataFrame,
      profile: DataFrame,
      idCol: String,
      domainCol: String,
      textCol: String,
      delim: String = "\n"): DataFrame = {
    // "payload columns ride through" needs the appended output names and
    // the internal join-side names to be FREE in the input — surface a
    // collision as a caller error here, not as an ambiguous-reference
    // failure (or silent shadowing) deep in the join/select
    val reserved =
      Seq("clean_text", "n_kept", "n_removed", bpDomain, bpFps, bpCut)
    reserved.filter(docs.columns.contains).foreach { c =>
      throw new IllegalArgumentException(
        s"applyBoilerplateProfile reserves column name '$c' " +
          s"(reserved: ${reserved.mkString(", ")}); rename it in the input first")
    }
    val fps = profile
      .groupBy(col("domain"))
      .agg(array_sort(collect_list(col("fp"))).alias(bpFps))
      .select(col("domain").alias(bpDomain), col(bpFps))
    val joined = docs.join(
      broadcast(fps), docs(domainCol) === col(bpDomain), "left")
    val cut = graft.functions.expressions.CutSegmentsByFpExpr.cutSegmentsByFp(
      docs(textCol),
      coalesce(col(bpFps), typedlit(Array.empty[Long])),
      delim)
    val carried = docs.columns.filter(_ != textCol)
    val withC = joined.select(carried.map(docs(_)).toSeq :+ cut.alias(bpCut): _*)
    withC.select(
      carried.map(col).toSeq ++ Seq(
        col(s"$bpCut.clean_text").alias("clean_text"),
        col(s"$bpCut.n_kept").alias("n_kept"),
        col(s"$bpCut.n_removed").alias("n_removed")): _*)
  }

  /** [[applyBoilerplateProfile]]'s internal (reserved) column names —
    * prefixed so real payload columns never collide by accident.
    */
  private val bpDomain = "__graft_bp_domain"
  private val bpFps = "__graft_bp_fps"
  private val bpCut = "__graft_bp_cut"

  def keepRepresentative(
      members: DataFrame,
      idCol: String,
      clusterCol: String,
      scoreCol: String): DataFrame = {
    // max_by(struct(score, -id)): argmax score with min-id tie-break in
    // a single associative aggregate
    val winners = members
      .groupBy(col(clusterCol))
      .agg(max(struct(col(scoreCol).alias("s"), (-col(idCol)).alias("nid"))).alias("w"))
      .select(col(clusterCol), (-col("w.nid")).alias("rep_id"))
    members
      .join(winners, Seq(clusterCol))
      .select(
        col(idCol),
        col(clusterCol),
        col(scoreCol),
        (col(idCol) === col("rep_id")).cast("long").alias("kept"))
  }

  /** Per-source dedup burden: how much of each source is exact
    * duplicates of itself — `(source, n_docs, n_distinct_texts,
    * dup_ratio)` — the dashboard that says WHICH feeds waste the dedup
    * budget (template farms, scraped mirrors) before any doc-level work
    * runs. Completes the per-source family (q104 quality, q110 overlap,
    * q113 divergence). One fingerprint projection into one aggregate;
    * the distinct count co-locates on the conditional fingerprint
    * exactly like q111's canonical stage. Null-text docs are excluded
    * (no content to fingerprint); within-source duplicates only —
    * cross-source sharing is [[sourceOverlap]]'s job.
    */
  def sourceDupStats(
      docs: DataFrame,
      groupCol: String,
      textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol), md5(col(textCol)).alias("fp"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).alias("n_docs"),
        countDistinct(col("fp")).alias("n_distinct_texts"))
      .withColumn("dup_ratio",
        (col("n_docs") - col("n_distinct_texts")).cast("double") /
          col("n_docs").cast("double"))

  /** Dedup-gate calibration: how many near-dup pairs (and how many
    * docs they touch) survive at EACH candidate threshold — the sweep
    * read before committing a Jaccard cutoff to a 100 TB run, where a
    * 0.7-vs-0.8 call is the difference between trimming boilerplate
    * and deleting a measurable corpus fraction. One row per threshold:
    * `(threshold, n_pairs, n_docs)`; thresholds with zero survivors
    * report explicit zeros.
    *
    * One candidate generation at the LOWEST threshold (the AllPairs
    * prefix filter is lossless there, so every higher cutoff is a pure
    * row-local filter over the same exact-Jaccard pairs — no per-
    * threshold rescan), then conditional counts. The pair table is the
    * already-verified [[ngramJaccard]] output; the sweep adds only
    * bounded aggregates on top.
    *
    * Calibration modes: the default (`maxShingleFreq = None`) is the
    * EXACT control — lossless at `thresholds.min`, but its AllPairs
    * candidate population inherits the quadratic tail on a dense
    * (boilerplate-heavy) corpus, where the calibration itself becomes
    * a multi-hour job (the r14 100× exponent on this path measured
    * 0.80, the roster's worst). For dense corpora pass
    * `maxShingleFreq = Some(f)` — [[ngramJaccard]]'s hot-shingle
    * filter, the q34 generator — which drops shingles shared by more
    * than `f` docs BEFORE pair generation. CAVEAT: that mode computes
    * Jaccard over the FILTERED shingle universe (sizes and common
    * counts from the same filtered sets — self-consistent, but not the
    * raw-universe Jaccard), so the sweep's counts approximate the
    * exact sweep's from below for docs dominated by hot boilerplate;
    * the lossless-at-min-threshold guarantee applies WITHIN the
    * filtered universe only. That is the right trade for a
    * calibration read — the decision variable is the SHAPE of
    * pairs-vs-threshold, and the production run it calibrates (the
    * q34 filtered [[ngramJaccard]] mode) prunes the same hot shingles.
    *
    * WHICH MODE TO REACH FOR: the filtered mode (registry q119) is
    * the default calibration path for any corpus you have not
    * measured — web crawl, multi-source mixture, anything that might
    * carry boilerplate. At the 100× gate cap it held a 0.58 two-decade
    * exponent in 4.8 s where the exact control took 111.8 s at 0.80 —
    * the roster's worst growth rate, and the multi-hour-job cliff a
    * default should never sit on. Reserve the exact mode (registry
    * q114) for what it is: the run-ONCE control that validates the
    * filtered curve's shape on a corpus sample, or a corpus already
    * known boilerplate-light.
    */
  def jaccardThresholdSweep(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      thresholds: Seq[Double] = Seq(0.5, 0.7, 0.9),
      maxShingleFreq: Option[Int] = None): DataFrame = {
    require(thresholds.nonEmpty, "jaccardThresholdSweep: no thresholds")
    require(thresholds == thresholds.distinct, "jaccardThresholdSweep: duplicate thresholds")
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = ngramJaccard(docs, idCol, textCol, n, thresholds.min, maxShingleFreq)
      .localCheckpoint(true) // feeds the pair counts AND the doc counts
    val pt = pairs
      .select(
        explode(typedlit(thresholds)).alias("threshold"),
        col("id_a"), col("id_b"), col("jaccard"))
      .filter(col("jaccard") >= col("threshold"))
    val pc = pt.groupBy("threshold").agg(count(lit(1)).alias("n_pairs"))
    val dc = pt
      .select(col("threshold"), explode(array(col("id_a"), col("id_b"))).alias("id"))
      .groupBy("threshold")
      .agg(countDistinct(col("id")).alias("n_docs"))
    thresholds.toDF("threshold")
      .join(pc, Seq("threshold"), "left")
      .join(dc, Seq("threshold"), "left")
      .select(
        col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).alias("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).alias("n_docs"))
  }

  /** GROUP-level content-overlap matrix: pairwise shingle-set Jaccard
    * between corpus partitions (sources, crawls, snapshots, vendors) —
    * the dashboard that answers "which of my sources are mirrors of
    * each other / already covered elsewhere / leaking the same site"
    * BEFORE doc-level dedup spends anything. One row per overlapping
    * group pair: `(src_a, src_b, common, sz_a, sz_b, jaccard)`;
    * zero-overlap pairs are absent (their Jaccard is exactly 0).
    *
    * Shape, and why it survives 100 TB: each group's distinct shingle
    * UNIVERSE is built scan-side (the dedup family's native
    * `shingle_hash_set` per doc, exploded to `(group, hash)` longs and
    * `distinct`-ed — text never shuffles), materialized once for its
    * three plan positions. The pair counting is an inverted-index
    * self-join on the 60-bit hash: a shingle shared by `g` of the `S`
    * groups contributes `g·(g-1)/2 ≤ S²/2` pairs, so the join output is
    * bounded by `|universe| · S²/2` with S = #groups (typically tens) —
    * NOT by document volume. This is deliberately a GROUP-cardinality
    * operator: at thousands of "groups" it degenerates into doc-level
    * all-pairs, which is [[minHashLsh]]'s job, not this one's.
    */
  def sourceOverlap(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val gh = docs
      .filter(col(groupCol).isNotNull)
      .select(
        col(groupCol).alias("grp"),
        explode(graft.functions.expressions.ShingleHashSetExpr
          .shingleHashSet(col(textCol), n)).alias("h"))
      .distinct()
      .localCheckpoint(true)
    val sizes = gh.groupBy("grp").agg(count(lit(1)).alias("sz"))
    val pairs = gh.alias("a")
      .join(gh.alias("b"), col("a.h") === col("b.h") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").alias("src_a"), col("b.grp").alias("src_b"))
      .agg(count(lit(1)).alias("common"))
    pairs
      .join(broadcast(sizes.select(col("grp").alias("src_a"), col("sz").alias("sz_a"))),
        Seq("src_a"))
      .join(broadcast(sizes.select(col("grp").alias("src_b"), col("sz").alias("sz_b"))),
        Seq("src_b"))
      .select(
        col("src_a"), col("src_b"), col("common"), col("sz_a"), col("sz_b"),
        (col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double")).alias("jaccard"))
  }
}
