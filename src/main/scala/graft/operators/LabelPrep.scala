package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-set preparation — the reference's batch pipeline
  * (`/root/reference/src/main/scala/TwitchStream/ProcessingWorkSheet.sc:35-134`):
  * clean text → derive label array → drop outlier labels → keep only the
  * K most frequent labels → drop rows left with no labels.
  *
  * Differences from the reference, by design (SURVEY.md §2.11, §4):
  *  - the string-cleaner UDFs become native `regexp_replace`/`translate`
  *    (codegen'd, pushdown-transparent);
  *  - `removeLabels` UDF becomes a **broadcast left-semi join** against
  *    the top-K label set instead of `collect()`-ing labels to the driver
  *    and re-shipping them in a closure — same result, but the pattern
  *    stays distributed and works when K is large;
  *  - top-K uses a deterministic count-desc/label-asc order.
  */
object LabelPrep {

  /** Strip `< br / >` markers, newlines, and `[]"'` junk; collapse
    * whitespace; trim. The columnar form (kept below as the executable
    * specification) chains `translate` + two `regexp_replace` passes —
    * the twin does the same three passes in plain string code (the
    * `< br / >` pattern has no regex metacharacters, so a literal
    * replace is exactly equivalent).
    */
  def cleanText(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol,
      graft.functions.expressions.CleanTextFastExpr.cleanTextFast(col(textCol)))

  /** Columnar specification of [[cleanText]] (parity-tested twin). */
  def cleanTextColumnar(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(
      regexp_replace(
        regexp_replace(translate(text, "[]\"'", ""), "< br / >", " "),
        "\\s+",
        " "))

  /** JVM body of [[cleanTextFastUdf]] / `CleanTextFastExpr`. */
  private[graft] def cleanTextFastLocal(text: String): String =
    if (text == null) null
    else {
      // pass 1+2: drop junk chars, then literal "< br / >" -> " "
      val sb = new java.lang.StringBuilder(text.length)
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (c != '[' && c != ']' && c != '"' && c != '\'') sb.append(c)
        i += 1
      }
      val replaced = sb.toString.replace("< br / >", " ")
      // pass 3: collapse Java-\s runs, trim spaces
      val out = new java.lang.StringBuilder(replaced.length)
      var pendingSpace = false
      i = 0
      while (i < replaced.length) {
        val c = replaced.charAt(i)
        val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
        if (isWs) { if (out.length > 0) pendingSpace = true }
        else {
          if (pendingSpace) { out.append(' '); pendingSpace = false }
          out.append(c)
        }
        i += 1
      }
      out.toString
    }

  private[graft] val cleanTextFastUdf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val f = udf { (text: String) => cleanTextFastLocal(text) }
    c => f(c)
  }

  /** Full pipeline over a corpus with a text column; labels are the
    * distinct cleaned tokens of the document (the fixtures have no
    * separate label column; the reference's `categories` column played
    * this role). Output: one `(doc_id, label)` row per surviving label.
    */
  def prepare(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      outlierLabels: Seq[String],
      minTextLength: Int = 50,
      maxLabels: Int = 100): DataFrame = {

    val cleaned = cleanText(docs.na.drop(Seq(idCol, textCol)), textCol)
      .filter(length(col(textCol)) > minTextLength)
      // distinct-tokens-minus-outliers in one tight-loop pass (twin of
      // array_except(array_distinct(tokens(..)), outliers)), native
      // codegen since round 9
      .withColumn("label",
        graft.functions.expressions.DistinctTokensExpr
          .distinctTokens(col(textCol), outlierLabels))

    val exploded = cleaned.select(col(idCol), explode(col("label")).alias("label"))

    val topLabels = KVTable.topK(
      exploded.groupBy("label").agg(count(lit(1)).alias("label_count")),
      "label", "label_count", maxLabels)

    // broadcast semi-join: keeps only top-K labels without a driver collect
    exploded.join(broadcast(topLabels.select("label")), Seq("label"), "left_semi")
      .select(col(idCol), col("label"))
  }
}
