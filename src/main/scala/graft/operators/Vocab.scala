package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tokenizer-training preparation: vocabulary construction with
  * corpus-coverage accounting, and the pair-counting step of BPE
  * training. (Reference analogue: none; training-data-pipeline
  * extension.)
  *
  * Scale shape — both operators reduce the corpus to VOCABULARY-sized
  * tables as early as possible and never sort the token stream:
  *
  *  - [[vocabulary]]: token counts are one partial+final hash
  *    aggregate keyed on the token (map-side combine absorbs the Zipf
  *    head before the exchange); the top-V cut is a
  *    `TakeOrderedAndProject` (no global sort materializes the full
  *    vocab order); the rank/coverage window then runs over V rows
  *    only — V is the tokenizer budget (32–256k), driver-scale by
  *    definition.
  *  - [[bpePairCounts]]: the classic distributed-BPE reduction — count
  *    WORD frequencies first (vocab-sized), then explode each DISTINCT
  *    word's adjacent character pairs weighted by its frequency. The
  *    token stream is touched once; the quadratic-looking pair work
  *    runs over distinct words only, and the pair aggregate is bounded
  *    by the character-bigram universe.
  */
object Vocab {

  /** Top-`topV` tokens by corpus frequency with cumulative coverage:
    * `(token, cnt, rank, cum_share)` where `cum_share` is the fraction
    * of the WHOLE token stream covered by ranks `1..rank` — the curve
    * a tokenizer budget is read off of. Ordering ties break by token,
    * so the output is total and reproducible.
    */
  def vocabulary(docs: DataFrame, textCol: String, topV: Int): DataFrame =
    vocabularyFromTokens(
      docs.select(explode(TextFunctions.tokens(col(textCol))).alias("token")),
      "token", topV)

  /** [[vocabulary]] over a caller-supplied token STREAM (one row per
    * token occurrence) — the tokenizer-agnostic core: whitespace words
    * (the [[vocabulary]] default), `Bpe.tokenize` subwords, or any
    * external tokenizer's stream share the count/top-V/coverage tail.
    */
  def vocabularyFromTokens(tokStream: DataFrame, tokenCol: String, topV: Int): DataFrame = {
    // validate BEFORE the eager checkpoint below — an invalid topV must
    // fail in microseconds, not after a corpus-scale aggregation job
    require(topV > 0, s"topV must be positive, got $topV")
    // materialized ONCE: the counts aggregate feeds both the top-V cut
    // and the total-token-mass scalar — without this the token-stream
    // explode + aggregate runs twice
    coverageFromCounts(
      tokStream
        .select(col(tokenCol).alias("token"))
        .groupBy("token")
        .agg(count(lit(1)).alias("cnt"))
        .localCheckpoint(true),
      "token", "cnt", topV)
  }

  /** The top-V/coverage tail over a PRE-AGGREGATED `(token, cnt)` table —
    * a maintained token-count table reads the same curve without
    * re-scanning any corpus. `vocabularyFromTokens` is exactly this over
    * a freshly aggregated stream.
    */
  def coverageFromCounts(
      countsIn: DataFrame, tokenCol: String, cntCol: String, topV: Int): DataFrame = {
    require(topV > 0, s"topV must be positive, got $topV")
    val counts = countsIn.select(
      col(tokenCol).alias("token"), col(cntCol).cast("long").alias("cnt"))
    val total = counts.agg(sum("cnt").alias("total"))
    // rank + running mass over the V surviving rows only — V is the
    // tokenizer budget (32–256k), DRIVER-SCALE BY DEFINITION, so the
    // tail is computed driver-side: the distributed alternative is an
    // unpartitioned window (single-partition by construction and
    // harmless at V rows, but it logs Spark's "No Partition Defined"
    // serialize-the-world warning on every run, indistinguishable from
    // a real regression in a log scan — and Catalyst eliminates any
    // constant partition key one would add to silence it). Identical
    // arithmetic: long cumulative sum cast to double over the long
    // total cast to double, ties already totally ordered by the
    // TakeOrdered cut.
    val spark = countsIn.sparkSession
    import spark.implicits._
    val topRows = topCut(counts, topV).collect()
    if (topRows.isEmpty) {
      Seq.empty[(String, Long, Long, Double)].toDF("token", "cnt", "rank", "cum_share")
    } else {
      // SQL-division parity in the degenerate cases: an all-null or
      // zero total mass yields NULL cum_share (not NaN/Infinity from
      // a driver-side /0.0), and a null cnt contributes nothing to
      // the running mass (a SQL sum skips it) instead of NPE-ing the
      // primitive getter
      val totalRow = total.head()
      val totalMass = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
      var cum = 0L
      val out = topRows.toSeq.zipWithIndex.map { case (r, i) =>
        val cnt: java.lang.Long = if (r.isNullAt(1)) null else r.getLong(1)
        if (cnt != null) cum += cnt
        val share: java.lang.Double =
          if (totalMass == 0L) null else cum.toDouble / totalMass.toDouble
        org.apache.spark.sql.Row(r.getString(0), cnt, (i + 1).toLong, share)
      }
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava,
        new org.apache.spark.sql.types.StructType()
          .add("token", org.apache.spark.sql.types.StringType)
          .add("cnt", org.apache.spark.sql.types.LongType)
          .add("rank", org.apache.spark.sql.types.LongType, nullable = false)
          .add("cum_share", org.apache.spark.sql.types.DoubleType))
    }
  }

  /** The distributed half of the coverage tail — the top-V cut over a
    * `(token, cnt)` table, a `TakeOrderedAndProject` (per-partition
    * heaps, never a global sort). Exposed within the package so the
    * plan audit can assert the cut's physical shape directly: the
    * coverage tail collects THIS frame driver-side, which leaves the
    * registry query's own plan a bounded `LocalTableScan` with nothing
    * left to audit.
    */
  private[graft] def topCut(counts: DataFrame, topV: Int): DataFrame =
    counts
      .orderBy(col("cnt").desc, col("token").asc).limit(topV)
      .select(col("token"), col("cnt"))

  /** One BPE-training pair-count step over the corpus: adjacent
    * character pairs of every word, weighted by word frequency —
    * `(pair, cnt)`, the table whose argmax is the next BPE merge.
    * Single-character words contribute no pairs.
    */
  def bpePairCounts(docs: DataFrame, textCol: String, topPairs: Int): DataFrame = {
    require(topPairs > 0, s"topPairs must be positive, got $topPairs")
    val words = docs
      .select(explode(TextFunctions.tokens(col(textCol))).alias("word"))
      .groupBy("word")
      .agg(count(lit(1)).alias("freq"))
      .filter(length(col("word")) > 1)
    words
      .select(
        explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).alias("pair"),
        col("freq"))
      .groupBy("pair")
      .agg(sum("freq").alias("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topPairs)
  }

  /** Per-source domain-shift profile: `KL(source ‖ corpus)` over
    * unigram distributions — which sources' language diverges most
    * from the mixture (the outlier-domain detector behind mixture
    * re-weighting and "is this new vendor actually more of the same"
    * calls). One row per group: `(<groupCol>, n_tokens, kl_nano, kl)`.
    *
    * Shape: per-doc term counts come from the scan-side `term_counts`
    * map (no token-level explode rows ever shuffle — the q52 move), the
    * corpus-side counts DERIVE from the per-source table (one extra
    * aggregate, no second scan), and each (source, term) contributes a
    * fixed-point NANO-rounded `p_s·ln(p_s/p)` term summed as BIGINT per
    * source — the q101 rule, at nano rather than micro scale because
    * per-term contributions shrink like 1/vocabulary and micros would
    * round the long tail to zero. KL is always well-defined here: only
    * OBSERVED (source, term) pairs contribute, and the corpus count of
    * an observed term is never zero.
    */
  def sourceDivergence(
      docs: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    val su = docs
      .filter(col(groupCol).isNotNull)
      .select(
        col(groupCol).alias("grp"),
        explode(graft.functions.expressions.TermCountsExpr.termCounts(col(textCol)))
          .as(Seq("w", "c_doc")))
      .groupBy("grp", "w")
      .agg(sum(col("c_doc")).alias("c_sw"))
      .localCheckpoint(true) // feeds source totals, corpus counts, and the KL join
    val st = su.groupBy("grp").agg(sum(col("c_sw")).alias("n_s"))
    val cu = su.groupBy("w").agg(sum(col("c_sw")).alias("c_w"))
    val n = st.agg(sum(col("n_s")).alias("n_tok"))
    val pSw = col("c_sw").cast("double") / col("n_s").cast("double")
    val pW = col("c_w").cast("double") / col("n_tok").cast("double")
    su
      .join(st, Seq("grp"))
      .join(cu, Seq("w"))
      .crossJoin(broadcast(n))
      .select(
        col("grp"),
        col("n_s"),
        round(pSw * log(pSw / pW) * lit(1000000000L)).cast("long").alias("term_nano"))
      .groupBy("grp", "n_s")
      .agg(sum(col("term_nano")).alias("kl_nano"))
      .select(
        col("grp").alias(groupCol),
        col("n_s").alias("n_tokens"),
        col("kl_nano"),
        (col("kl_nano").cast("double") / lit(1000000000.0)).alias("kl"))
  }
}
