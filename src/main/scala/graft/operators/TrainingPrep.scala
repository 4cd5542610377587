package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composite pipeline a
  * 100 TB pretraining-data job runs, assembled entirely from this
  * library's column functions so the whole thing is ONE declarative plan:
  *
  *   quality gates (token count bounds) → language filter (n-gram
  *   stop-word language ID) → exact dedup (content fingerprint, keep
  *   lowest id) → clean corpus stats.
  *
  * Everything before the dedup is a scan-side filter (no shuffle); the
  * dedup is the single required shuffle, on the 128-bit fingerprint
  * rather than the document text.
  */
object TrainingPrep {

  def prepare(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      maxTokens: Int,
      language: String): DataFrame = {
    // one native-codegen pass per document: tokenize once → (n_tokens,
    // lang_pred, fp). The columnar HOF form re-tokenized per derived
    // column in interpreted CodegenFallback — ~5× slower end-to-end; the
    // UDF twin additionally paid a row-boundary encoder conversion.
    val scored = docs.select(
      col(idCol),
      graft.functions.expressions.CorpusStatsExpr.corpusStats(col(textCol)).as("st"))

    scored
      .filter(
        col("st.n_tokens") >= minTokens && col("st.n_tokens") <= maxTokens &&
          col("st.lang_pred") === language)
      .select(col(idCol), col("st.n_tokens").as("n_tokens"), col("st.fp").as("fp"))
      .groupBy("fp")
      .agg(
        min(col(idCol)).as(idCol),
        min(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("dup_count"))
      .select(idCol, "fp", "n_tokens", "dup_count")
  }

  /** The curation FUNNEL the [[prepare]] pipeline implies: how many
    * docs survive each gate — `(stage, n_docs)` for ingest → token
    * bounds → language → canonical-after-dedup. The first artifact any
    * pipeline review asks for ("where did my corpus go?"), and the
    * cheap canary that catches a mis-tuned gate (90% language loss, a
    * dedup collapse) BEFORE the expensive downstream tiers run.
    *
    * One native-codegen scan (the same fused `corpus_stats` pass as
    * [[prepare]]) into ONE aggregate: stages 1–3 are conditional sums,
    * stage 4 a conditional distinct count over the fingerprint — no
    * second scan, no join; the 4-row output is a driver-side unpivot
    * of the single aggregate row.
    */
  def funnelReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      maxTokens: Int,
      language: String): DataFrame = {
    val scored = docs.select(
      graft.functions.expressions.CorpusStatsExpr.corpusStats(col(textCol)).as("st"))
    val inBounds =
      col("st.n_tokens") >= minTokens && col("st.n_tokens") <= maxTokens
    val inLang = inBounds && col("st.lang_pred") === language
    scored
      .agg(
        count(lit(1)).alias("c1"),
        sum(when(inBounds, lit(1L)).otherwise(lit(0L))).alias("c2"),
        sum(when(inLang, lit(1L)).otherwise(lit(0L))).alias("c3"),
        countDistinct(when(inLang, col("st.fp"))).alias("c4"))
      .select(explode(array(
        struct(lit("1_ingest").alias("stage"), col("c1").alias("n_docs")),
        struct(lit("2_token_bounds").alias("stage"), col("c2").alias("n_docs")),
        struct(lit("3_language").alias("stage"), col("c3").alias("n_docs")),
        struct(lit("4_dedup_canonical").alias("stage"), col("c4").alias("n_docs")))))
      .select(col("col.stage").alias("stage"), col("col.n_docs").alias("n_docs"))
  }

  /** The corpus DATA CARD — one datasheet row per source ("Datasheets
    * for Datasets", Gebru et al. 2018/2021, public literature): doc and
    * token volume, exact-duplicate fraction (distinct token-normalized
    * fingerprints), the majority predicted language with its share, and
    * mean character entropy — the summary a mixture decision or a data
    * audit starts from.
    *
    * Shape: ONE native scan pass (`corpus_stats` + `char_entropy`
    * fused per row — no tokenize-per-column), then two source-keyed
    * aggregates (the rollup and the per-(source, lang) vote counts,
    * both map-side combined) and a broadcast-sized join of the ≤
    * |sources|·|langs| vote table back onto ≤ |sources| rows. Raw text
    * never shuffles; the exchanges carry counts and fingerprints.
    * Null-text docs count toward `n_docs` but contribute no tokens, no
    * fingerprint, no language vote, and no entropy (the family's
    * null-intolerant contract): sums coalesce to 0, `dup_frac` counts
    * duplicate mass among TEXTED docs only (`(n_texted − n_unique) /
    * n_docs` — a null-text doc is not a duplicate of anything), and
    * means divide by `n_docs`, so a null-heavy source reads as
    * low-volume, not as missing.
    */
  def dataCard(
      docs: DataFrame,
      textCol: String,
      srcCol: String): DataFrame = {
    val st = docs
      .select(
        col(srcCol).alias("source"),
        graft.functions.expressions.CorpusStatsExpr.corpusStats(col(textCol)).as("cs"),
        graft.functions.expressions.CharEntropyExpr.charEntropy(col(textCol))
          .alias("ent_micro"))
      .select(
        col("source"),
        col("cs.n_tokens").alias("n_tokens"),
        col("cs.lang_pred").alias("lang_pred"),
        col("cs.fp").alias("fp"),
        col("ent_micro"))
    val base = st
      .groupBy("source")
      .agg(
        count(lit(1)).alias("n_docs"),
        count(col("fp")).alias("n_texted"),
        coalesce(sum("n_tokens"), lit(0L)).alias("n_tokens"),
        countDistinct("fp").alias("n_unique"),
        coalesce(sum("ent_micro"), lit(0L)).alias("sum_ent_micro"))
    val votes = st
      .filter(col("lang_pred").isNotNull)
      .groupBy("source", "lang_pred")
      .agg(count(lit(1)).alias("lc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("lc").desc, col("lang_pred").asc)
    val top = votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang_pred").alias("top_lang"),
        col("lc").alias("top_lang_docs"))
    base
      .join(broadcast(top), Seq("source"), "left")
      .select(
        col("source"),
        col("n_docs"),
        col("n_texted"),
        col("n_tokens"),
        col("n_unique"),
        // duplicate mass among TEXTED docs only: a null-text doc has no
        // fingerprint and is not a duplicate of anything — counting it
        // in the numerator would inflate the fraction with null share
        ((col("n_texted") - col("n_unique")).cast("double") /
          col("n_docs").cast("double")).alias("dup_frac"),
        col("top_lang"),
        col("top_lang_docs"),
        (col("top_lang_docs").cast("double") / col("n_docs").cast("double"))
          .alias("top_lang_share"),
        col("sum_ent_micro"),
        (col("sum_ent_micro").cast("double") / col("n_docs").cast("double") /
          lit(1000000.0)).alias("mean_ent"))
  }
}
