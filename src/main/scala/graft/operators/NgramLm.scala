package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model perplexity scoring — the CCNet-style quality
  * gate: train token-bigram counts on a corpus slice, score documents
  * by their Stupid-Backoff negative log-likelihood, and keep/drop/
  * bucket on the score. (Reference analogue: none;
  * training-data-pipeline extension — the perplexity-filter stage of
  * CCNet/RefinedWeb-style curation, the model-based counterpart to the
  * heuristic `q25` quality signals.)
  *
  * Scale shape:
  *
  *  - The LM is two hash aggregates over the training slice (unigram
  *    counts keyed on the token, bigram counts keyed on the pair) —
  *    map-side combine absorbs the Zipf head before either exchange,
  *    so the shuffled volume is vocabulary-sized, not corpus-sized.
  *  - The LM is NEVER broadcast and never collected: at 100 TB the
  *    bigram table is billions of rows, so scoring joins are plain
  *    shuffle joins keyed on the gram — co-located where the counts
  *    already live, and skew-benign because the LM side is unique per
  *    key (fan-out is bounded by the scored side's rows).
  *  - Per-document reduction uses FIXED-POINT integer micro-units
  *    (`round(tf * ln p * 1e6)` summed as BIGINT): a cross-row DOUBLE
  *    sum would make the result depend on Spark's partial-aggregation
  *    order; the integer sum is exact and order-independent, so the
  *    output is reproducible run-to-run and hash-comparable against
  *    any engine that evaluates the same per-term expression.
  *
  * Smoothing is Stupid Backoff (Brants et al. 2007, "Large Language
  * Models in Machine Translation"): score(w2|w1) = c(w1 w2)/c(w1) when
  * the bigram was seen, else 0.4 * c(w2)/N, else 0.4/N for OOV — the
  * standard web-scale choice precisely because it needs no normalized
  * discounting pass over the count tables.
  */
object NgramLm {

  /** The bigram LM as its three count tables: `uni(w, c)`,
    * `bi(w1, w2, c12)`, and the 1-row `nTok(n_tok)` total-mass scalar.
    */
  final case class LmTables(uni: DataFrame, bi: DataFrame, nTok: DataFrame)

  /** Adjacent-token bigrams of a token-array column as an array of
    * `(w1, w2)` structs; empty for docs with fewer than two tokens.
    */
  private def bigramsOf(t: Column): Column = {
    val n = greatest(size(t) - 1, lit(0))
    arrays_zip(slice(t, lit(1), n).as("w1"), slice(t, lit(2), n).as("w2"))
  }

  /** One row per adjacent-bigram occurrence: `(doc_id, w1, w2)`. */
  private def bigramStream(tk: DataFrame): DataFrame =
    tk.select(col("doc_id"), explode(bigramsOf(col("t"))).alias("bg"))
      .select(col("doc_id"), col("bg.w1").alias("w1"), col("bg.w2").alias("w2"))

  private def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).alias("doc_id"),
      TextFunctions.tokens(col(textCol)).alias("t"))

  /** Train the LM count tables over `docs` — two gram-keyed hash
    * aggregates plus the 1-row token-mass total.
    */
  def train(docs: DataFrame, idCol: String, textCol: String): LmTables =
    trainFromTokens(tokenized(docs, idCol, textCol))

  /** [[train]] over an already-tokenized `(doc_id, t: array<string>)`
    * frame — the seam that lets the skew-hardened path tokenize the
    * training slice ONCE (see [[perplexity]]): `uni` and `bi` are
    * separate aggregates over the same token stream, so with an
    * in-plan tokenization each materializes the upstream projection
    * independently unless the caller persists `tk`.
    */
  private[graft] def trainFromTokens(tk: DataFrame): LmTables = {
    val uni = tk
      .select(explode(col("t")).alias("w"))
      .groupBy("w").agg(count(lit(1)).alias("c"))
    // total mass DERIVES from the unigram table (identical BIGINT) —
    // a separate explode+count would tokenize the training slice a
    // third time for a scalar the counts already hold
    val nTok = uni.agg(sum(col("c")).alias("n_tok"))
    val bi = bigramStream(tk)
      .groupBy("w1", "w2").agg(count(lit(1)).alias("c12"))
    LmTables(uni, bi, nTok)
  }

  /** Decides the skew-hardened mode's hot-set size from the LM's OWN
    * count tables — `hotKeys = -1`'s resolution path, so a user does
    * not need to know their corpus is Zipf-headed (or eyeball K from a
    * bench table, the round-15 state: K=8 was measured insufficient
    * against a 50%-mass head, 64 needed).
    *
    * Three bounded driver-side aggregates over tables the joins read
    * anyway:
    *
    *  1. total token mass (1 row, from `nTok`);
    *  2. the HEAD set: unigrams whose individual share of that mass is
    *     ≥ `headShare` — bounded by `1 / headShare` rows (≤ 50 at the
    *     2% default) regardless of vocabulary size;
    *  3. if the worst head share is under `enableShare`, return 0 — a
    *     near-uniform vocabulary has no reducer funnel for the split
    *     to fix (with P reducers a key of share s costs ≈ s·P× the
    *     median; at `enableShare` = 5% that is already 1.6× at 32 and
    *     catastrophic at cluster partition counts). Otherwise K =
    *     the number of distinct bigrams TOUCHING a head token (one
    *     count over `bi`), clamped to [`floorK`, `capK`]: the bigram
    *     hot set must cover the head's successor/predecessor fan —
    *     the round-15 skew lesson (BASELINE.md) that the head count alone (K = 1
    *     there) leaves the (head, x) probe rows in the cold shuffle.
    *
    * Deterministic for a given LM (no sampling), so replay-stable in
    * streaming gates; the split itself is row-identical either way.
    */
  private[graft] def autoHotKeys(
      lm: LmTables,
      headShare: Double = 0.02,
      enableShare: Double = 0.05,
      floorK: Int = 64,
      capK: Int = 65536): Int = {
    // ONE driver action for total mass + head set (r22, §1.2/§2.6: the
    // r21 form ran nTok.head() and then uni.filter(...).collect() as two
    // sequential driver-blocking jobs; the head filter's floor is a pure
    // function of n_tok, so it rides the same pass as a 1-row broadcast).
    // The head set stays bounded by 1/headShare rows regardless of
    // vocabulary size; an empty collect means nTok <= 0 OR no head —
    // both returned 0 before, both return 0 now.
    val heads = lm.uni
      .crossJoin(broadcast(lm.nTok))
      .filter(col("n_tok").isNotNull && col("n_tok") > 0L &&
        col("c") >= greatest(
          lit(1L), ceil(lit(headShare) * col("n_tok")).cast("long")))
      .select(col("w"), col("c"), col("n_tok")).collect()
    if (heads.isEmpty) return 0
    val nTok = heads.head.getLong(2)
    val maxShare = heads.map(_.getLong(1)).max.toDouble / nTok.toDouble
    if (maxShare < enableShare) return 0
    val headWords = heads.map(_.getString(0)).toSeq
    val touching = lm.bi
      .filter(col("w1").isInCollection(headWords) ||
        col("w2").isInCollection(headWords))
      .count()
    math.min(capK.toLong, math.max(floorK.toLong, touching)).toInt
  }

  /** Stupid-Backoff NLL per document against a (frozen or in-plan) LM.
    * Output: `(doc_id, n_bigrams, nll_micro, avg_nll)` where
    * `nll_micro` is the BIGINT sum over the doc's bigram occurrences of
    * `round(tf * ln p * 1e6)` (negative; more negative = higher
    * perplexity = worse fit) and `avg_nll` is the per-bigram mean in
    * natural-log units, derived from the two integer columns.
    * Documents with fewer than two tokens emit no row.
    */
  def score(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lm: LmTables,
      backoff: Double = 0.4,
      hotKeys: Int = 0): DataFrame = {
    val hb = bigramStream(tokenized(docs, idCol, textCol))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).alias("tf"))
    scoreGrams(hb, lm, backoff, hotKeys)
  }

  /** [[score]] over a pre-built per-(doc, bigram) term-frequency table
    * `hb(doc_id, w1, w2, tf)` — the seam that lets one tokenization
    * pass feed multiple models ([[importanceSelect]] scores the same
    * grams against two LMs; the `hb` exchange is identical in both
    * branches, so Spark's ReusedExchange materializes it once).
    */
  private[graft] def scoreGrams(
      hb: DataFrame,
      lm: LmTables,
      backoff: Double = 0.4,
      hotKeys: Int = 0): DataFrame = {
    // three gram-keyed shuffle joins against the LM (bigram, w1-unigram
    // for the seen-bigram denominator, w2-unigram for the backoff path).
    //
    // hotKeys > 0 is the SKEW-HARDENED mode for Zipf-headed corpora:
    // each of the three joins routes probe rows whose gram is in the
    // top-`hotKeys` of that join's count table through a broadcast
    // map-side lookup instead of the shuffle ([[Skew.hotColdLeftJoin]])
    // — the head's reducer funnel ("the"-keyed rows all landing on one
    // task) disappears from the exchange entirely. Results are
    // row-identical either way (spec-pinned); the default stays 0
    // because AQE's skew-join split plus map-side combine already hold
    // the fixture-scale spread, and the hardened plan references the
    // probe twice per join (exchange-reuse-deduped).
    //
    // hotKeys = -1: measure the head instead of asking the caller
    // ([[autoHotKeys]] — 0 on a near-uniform vocabulary, a fan-covering
    // K on a Zipf-headed one). The resolution runs THREE driver-side
    // actions against the LM tables, and the scoring joins read them
    // again: with an IN-PLAN LM (the q120 shape — `train` over a
    // derived projection) each action would re-execute the projection
    // lineage from the corpus scan up, so the count tables are
    // materialized ONCE first. They are vocabulary-bounded (counts,
    // never documents), so the checkpoint is the cheap side of the
    // trade at any corpus scale; measured 4.1 → ~1.9 s on the q120
    // gate query (sf0.1, the collapse's interpreted-HOF md5 pass was
    // running 7× instead of 3×).
    // r21: materialized for EVERY hot/cold mode, not just auto — with
    // hotKeys > 0 the count tables are referenced by the hot-set
    // TakeOrdereds AND both join branches per level, and an in-plan LM
    // re-executes its training aggregates per reference that exchange
    // reuse cannot dedup (the references exchange on different keys).
    // Lazy persist (not eager localCheckpoint): no blocking driver job;
    // the first action materializes once. Tables are vocabulary-bounded.
    val effLm =
      if (hotKeys != 0)
        LmTables(
          lm.uni.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          lm.bi.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          lm.nTok.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else lm
    val effHotKeys = if (hotKeys < 0) autoHotKeys(effLm) else hotKeys
    val uniW1 = effLm.uni.select(col("w").alias("w1"), col("c").alias("c1"))
    val uniW2 = effLm.uni.select(col("w").alias("w2"), col("c").alias("c2"))
    val joined0 =
      if (effHotKeys <= 0)
        hb
          .join(effLm.bi, Seq("w1", "w2"), "left")
          .join(uniW1, Seq("w1"), "left")
          .join(uniW2, Seq("w2"), "left")
      else {
        // deterministic bounded hot sets: total-order top-K by count
        val hotBi = effLm.bi
          .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
          .limit(effHotKeys).select("w1", "w2")
        val hotUni = effLm.uni
          .orderBy(col("c").desc, col("w").asc)
          .limit(effHotKeys).select("w")
        Skew.hotColdLeftJoin(
          Skew.hotColdLeftJoin(
            Skew.hotColdLeftJoin(hb, effLm.bi, Seq("w1", "w2"), hotBi),
            uniW1, Seq("w1"), hotUni.select(col("w").alias("w1"))),
          uniW2, Seq("w2"), hotUni.select(col("w").alias("w2")))
      }
    val joined = joined0.crossJoin(broadcast(effLm.nTok))

    // Evaluation order inside each term mirrors the oracle exactly
    // (left-to-right products, same casts) so both engines round the
    // same IEEE double into the same micro-unit integer.
    val logp = when(col("c12").isNotNull,
        log(col("c12").cast("double") / col("c1")))
      .when(col("c2").isNotNull,
        log(lit(backoff) * col("c2") / col("n_tok")))
      .otherwise(log(lit(backoff) / col("n_tok")))

    joined
      .select(
        col("doc_id"),
        col("tf"),
        round(col("tf") * logp * lit(1000000L)).cast("long").alias("term_micro"))
      .groupBy("doc_id")
      .agg(
        sum("tf").alias("n_bigrams"),
        sum("term_micro").alias("nll_micro"))
      .select(
        col("doc_id"), col("n_bigrams"), col("nll_micro"),
        (col("nll_micro").cast("double") / lit(1000000.0) /
          col("n_bigrams").cast("double")).alias("avg_nll"))
  }

  /** Stupid-Backoff NLL per held-out document with an in-plan
    * deterministic corpus split: `id % splitMod < trainBelow` trains
    * the LM, the rest is scored (see [[train]]/[[score]] — this is
    * their composition, and the oracle-checked q101 entry point).
    */
  def perplexity(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      splitMod: Int = 10,
      trainBelow: Int = 8,
      backoff: Double = 0.4,
      hotKeys: Int = 0): DataFrame = {
    require(splitMod > 0, s"splitMod must be positive, got $splitMod")
    require(trainBelow > 0 && trainBelow < splitMod,
      s"trainBelow must be in (0, $splitMod), got $trainBelow")
    val trainSlice = docs.filter(col(idCol) % splitMod < trainBelow)
    // skew-hardened modes materialize the LM tables anyway (scoreGrams'
    // effLm persist) — ALSO persist the tokenized training slice, so the
    // uni and bi aggregates share ONE tokenization pass instead of each
    // re-running the upstream projection (r22, guide §1.2: on q120 the
    // upstream is the Zipf-collapse with a per-token md5 — measured 3
    // full collapse passes before, 2 after: one per corpus slice, the
    // floor). The default hotKeys = 0 path is untouched: no persists,
    // q101's plan is exactly the r20 form.
    val lm =
      if (hotKeys != 0)
        trainFromTokens(
          tokenized(trainSlice, idCol, textCol)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else train(trainSlice, idCol, textCol)
    score(docs.filter(col(idCol) % splitMod >= trainBelow), idCol, textCol, lm, backoff,
      hotKeys = hotKeys)
  }

  /** DSIR-style importance-weighted data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling" —
    * public literature): score each candidate document under a
    * TARGET-domain n-gram LM and a RAW-corpus n-gram LM, take the
    * log-likelihood ratio as the importance log-weight, and draw `k`
    * documents without replacement proportional to the (exponentiated)
    * weight via the Gumbel-top-k trick — candidates that look more
    * like the target domain than the background corpus are favored,
    * but the tail keeps sampling mass (the whole point of resampling
    * over hard thresholding).
    *
    * Two deliberate fixed-point choices (documented deviations from
    * the paper's float pipeline, both for engine-portable determinism):
    *
    *  - The log-ratio is normalized PER BIGRAM
    *    (`(ll_target − ll_raw) / n_bigrams`, single row-local rounding
    *    to integer micros): un-normalized full-sequence ratios are
    *    dominated by document length, so selection would devolve into
    *    a length lottery; the per-gram form scores domain FIT.
    *  - Gumbel noise `g = −ln(−ln(u))` uses `u = (h + 0.5) / 2^60`
    *    from the repo-wide seeded md5-60, clamped by
    *    `least(u, 1 − 1e-9)` — the `+0.5` (not
    *    [[Sampling.weightedSample]]'s `+1`) plus the clamp keep `u`
    *    strictly inside `(0, 1)` even where the long→double cast
    *    rounds top-of-range hashes to exactly `2^60`: `u = 1` would
    *    send the Gumbel to `+∞`, which has no BIGINT micro form.
    *    Ranking `lw_micro + gum_micro` descending
    *    is exactly Gumbel-top-k over weights `exp(lw)` at micro
    *    resolution — and unlike A-ES's `ln(u)/w` it never
    *    exponentiates the weight, so log-weights of either sign and
    *    any magnitude are safe.
    *
    * Scale shape: the candidate corpus is tokenized ONCE — both
    * scoring branches grow from the same `hb` gram-frequency exchange,
    * which Spark materializes once (ReusedExchange, plan-audited); the
    * two LMs are vocabulary-bounded count tables joined gram-keyed
    * (never broadcast, never collected — the scoring-join doctrine);
    * the doc-keyed join of the two score frames moves ids and micros
    * only; the final cut is a `TakeOrdered` of scalars. Text never
    * shuffles. Docs with fewer than two tokens are unscorable under a
    * bigram LM and carry no selection mass (compose a length gate
    * upstream if they must be handled).
    */
  def importanceSelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      splitMod: Int = 10,
      targetSlot: Int = 8,
      rawSlot: Int = 9,
      backoff: Double = 0.4,
      seed: Long = 42L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(splitMod > 0, s"splitMod must be positive, got $splitMod")
    require(targetSlot != rawSlot,
      s"target and raw slots must differ, got $targetSlot")
    require(targetSlot >= 0 && targetSlot < splitMod &&
      rawSlot >= 0 && rawSlot < splitMod,
      s"slots must be in [0, $splitMod), got $targetSlot/$rawSlot")
    val slot = col(idCol) % splitMod
    val tgtLm = train(docs.filter(slot === targetSlot), idCol, textCol)
    val rawLm = train(docs.filter(slot === rawSlot), idCol, textCol)
    val cand = docs.filter(slot =!= targetSlot && slot =!= rawSlot)
    importanceSelectWith(cand, idCol, textCol, tgtLm, rawLm, k, backoff, seed)
  }

  /** [[importanceSelect]] against EXPLICIT target and raw LMs — the
    * deployment form: train once on curated slices, then select from
    * any candidate corpus. Priorities are
    * row-intrinsic, so a top-k over them is the same draw however the
    * candidates are batched.
    */
  def importanceSelectWith(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tgtLm: LmTables,
      rawLm: LmTables,
      k: Int,
      backoff: Double = 0.4,
      seed: Long = 42L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val ord = Seq(col("key_micro").desc, col("doc_id").asc)
    scoreRatio(docs, idCol, textCol, tgtLm, rawLm, backoff, seed)
      .orderBy(ord: _*)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(ord: _*)).cast("long"))
  }

  /** The DSIR scoring core shared by the batch draw and the streaming
    * tier: every scorable doc's two log-likelihoods, per-bigram
    * log-ratio, Gumbel noise, and selection key (all integer micros;
    * see [[importanceSelect]] for the fixed-point and Gumbel
    * conventions). No cut — callers rank (batch) or fold into bounded
    * state (streaming).
    */
  def scoreRatio(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tgtLm: LmTables,
      rawLm: LmTables,
      backoff: Double = 0.4,
      seed: Long = 42L): DataFrame = {
    val hb = bigramStream(tokenized(docs, idCol, textCol))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).alias("tf"))
    val st = scoreGrams(hb, tgtLm, backoff)
      .select(col("doc_id"), col("n_bigrams"),
        col("nll_micro").alias("ll_t_micro"))
    val sr = scoreGrams(hb, rawLm, backoff)
      .select(col("doc_id"), col("nll_micro").alias("ll_r_micro"))
    // (h + 0.5) / 2^60 is strictly inside (0, 1) in exact arithmetic,
    // but NOT in IEEE doubles: hashes within ~64 of 2^60 round to 2^60
    // on the long→double cast (ulp there is 128, the +0.5 is absorbed),
    // sending u to exactly 1.0 and the Gumbel to +∞ — which has no
    // BIGINT micro form in either engine. The least() clamp restores
    // the invariant deterministically on BOTH engines (the clamped rows
    // get the same finite max-Gumbel everywhere), at probability
    // ~2^-30 per doc.
    val u = least(
      (TextFunctions.seededHash60(seed, col("doc_id")).cast("double") +
        lit(0.5)) / pow(lit(2.0), lit(60.0)),
      lit(1.0 - 1e-9))
    st.join(sr, Seq("doc_id"))
      .withColumn("lw_micro",
        round((col("ll_t_micro") - col("ll_r_micro")).cast("double") /
          col("n_bigrams").cast("double")).cast("long"))
      .withColumn("gum_micro",
        round(-log(-log(u)) * lit(1000000L)).cast("long"))
      .withColumn("key_micro", col("lw_micro") + col("gum_micro"))
  }

  /** Top-`topK` PMI collocations — the phrase-mining primitive (which
    * adjacent word pairs co-occur far above chance: named entities,
    * multi-word terms, boilerplate signatures worth a tokenizer merge
    * or a stop-phrase rule). Built on the SAME count tables as the LM
    * ([[train]]'s `uni`/`bi`/`nTok` — at scale these are the persisted
    * artifact, so collocations come from counts you already maintain):
    *
    *   `PMI(w1, w2) = ln( (c12/n_bi) / ((c1/n_tok) · (c2/n_tok)) )`
    *
    * rounded to integer micros row-locally (the q101 fixed-point rule —
    * PMI is per-pair, so no cross-row double accumulation exists at
    * all; the micro value is just the hash-stable wire form).
    *
    * Shape: the `minCount` filter prunes the Zipf tail BEFORE the two
    * gram-keyed joins against the unigram table (the LM is never
    * broadcast — the scoring-join doctrine), totals ride in as 1-row
    * broadcast frames, and the ranking is a TakeOrdered. Rare-pair
    * noise (the classic PMI pathology: two hapaxes adjacent once score
    * maximally) is exactly what `minCount` exists for.
    */
  def pmiCollocations(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 5L,
      topK: Int = 50,
      hotKeys: Int = 0): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(topK > 0, s"topK must be positive, got $topK")
    val lm0 = train(docs, idCol, textCol)
    // same in-plan-LM materialization rule as [[score]]: auto
    // resolution must not re-execute the in-plan training lineage per
    // driver action (the tables are vocabulary-bounded)
    // r21: lazy persist, same rationale as [[scoreGrams]]'s effLm
    val effLm =
      if (hotKeys != 0)
        LmTables(
          lm0.uni.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          lm0.bi.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          lm0.nTok.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else lm0
    val nBi = effLm.bi.agg(sum(col("c12")).alias("n_bi"))
    val pmi =
      log((col("c12").cast("double") / col("n_bi").cast("double")) /
        ((col("c1").cast("double") / col("n_tok").cast("double")) *
          (col("c2").cast("double") / col("n_tok").cast("double"))))
    val bif = effLm.bi.filter(col("c12") >= minCount)
    val uniW1 = effLm.uni.select(col("w").alias("w1"), col("c").alias("c1"))
    val uniW2 = effLm.uni.select(col("w").alias("w2"), col("c").alias("c2"))
    // the probe here is the bigram TABLE (one row per distinct pair),
    // so the hot key's fan-in is vocabulary-bounded, not corpus-bounded
    // — but at web scale "the"-initial distinct pairs are still
    // millions of rows on one reducer; same hardening, same contract
    // (hotKeys = 0 default, results row-identical, spec-pinned). Inner
    // joins here: every bigram's component words exist in uni by
    // construction, so the left joins the split produces are
    // match-total and row-equal to the inner originals.
    val effHotKeys = if (hotKeys < 0) autoHotKeys(effLm) else hotKeys
    val joined =
      if (effHotKeys <= 0)
        bif.join(uniW1, Seq("w1")).join(uniW2, Seq("w2"))
      else {
        val hotUni = effLm.uni
          .orderBy(col("c").desc, col("w").asc)
          .limit(effHotKeys).select("w")
        Skew.hotColdLeftJoin(
          Skew.hotColdLeftJoin(bif, uniW1, Seq("w1"),
            hotUni.select(col("w").alias("w1"))),
          uniW2, Seq("w2"), hotUni.select(col("w").alias("w2")))
      }
    joined
      .crossJoin(broadcast(effLm.nTok))
      .crossJoin(broadcast(nBi))
      .select(
        col("w1"), col("w2"), col("c12"),
        round(pmi * lit(1000000L)).cast("long").alias("pmi_micro"))
      .withColumn("pmi", col("pmi_micro").cast("double") / lit(1000000.0))
      .orderBy(col("pmi_micro").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }
}
