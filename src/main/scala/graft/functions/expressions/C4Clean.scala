package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `c4_clean(text)` — the C4 line-level cleaning rules of Raffel et
  * al. 2020 (§2.2, the "Colossal Clean Crawled Corpus" recipe), the
  * LINE-granularity member of the quality family: [[GopherStatsExpr]]
  * judges whole documents, this SALVAGES them — boilerplate lines are
  * dropped and the prose kept. One native scan pass per row, no regex
  * chain, no UDF (the [[HtmlToTextExpr]] discipline — this is the
  * stage that runs right after it in a CC-class front door).
  * (Reference analogue: none; training-data-pipeline extension.)
  *
  * Line rules (a line = `\n`-separated, right-trimmed of
  * space/tab/CR so CRLF input behaves): KEEP a line iff it
  *  (1) ends in terminal punctuation — `.`, `!`, `?`, or `"` —
  *  (2) has at least `minWords` space/tab-separated words (interior
  *      CR is NOT a word separator — the `[ \t]+` split convention
  *      the oracle and the property reference share; CR only matters
  *      for the right-trim), and
  *  (3) does not contain `javascript` (case-insensitive — the
  *      "please enable JavaScript" boilerplate rule).
  * Document rules: `keep` iff at least `minKeptLines` lines survive
  * AND the RAW text contains neither `{` (code/markup page signal)
  * nor `lorem ipsum` (case-insensitive placeholder signal) — the
  * paper's page-level vetoes ride along as `has_brace` / `has_lorem`
  * so the gate is auditable, and the kept lines are emitted either
  * way (a vetoed page still shows WHAT would have survived).
  *
  * Emits `struct(clean_text: string, n_lines: long, n_kept: long,
  * has_brace: boolean, has_lorem: boolean, keep: boolean)` —
  * `clean_text` is the kept lines (right-trimmed form) re-joined with
  * `\n`, `""` when nothing survives; null text → null struct (the
  * text-stats family contract). Every rule is list/string arithmetic
  * the DuckDB oracle replays verbatim over the same split.
  */
case class C4CleanExpr(
    child: Expression,
    minWords: Int = 5,
    minKeptLines: Int = 3)
    extends TextStatsBase {
  require(minWords >= 1, s"c4_clean minWords must be >= 1, got $minWords")
  require(minKeptLines >= 0, s"c4_clean minKeptLines must be >= 0, got $minKeptLines")

  override def dataType: DataType = C4CleanExpr.schema
  override def prettyName: String = "c4_clean"

  override protected def nullSafeEval(input: Any): Any =
    C4CleanExpr.run(input.asInstanceOf[UTF8String], minWords, minKeptLines)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.C4CleanExpr.run($c, $minWords, $minKeptLines)")

  override protected def withNewChildInternal(newChild: Expression): C4CleanExpr =
    copy(child = newChild)
}

object C4CleanExpr {

  val schema: StructType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("has_brace", BooleanType, nullable = false),
    StructField("has_lorem", BooleanType, nullable = false),
    StructField("keep", BooleanType, nullable = false)))

  private def isWs(c: Char): Boolean = c == ' ' || c == '\t' || c == '\r'

  /** Case-insensitive ASCII substring search (the two needles are
    * ASCII by construction).
    */
  private def containsIgnoreCase(s: String, needle: String): Boolean = {
    val n = s.length
    val m = needle.length
    var i = 0
    while (i + m <= n) {
      var j = 0
      while (j < m && Character.toLowerCase(s.charAt(i + j)) == needle.charAt(j)) j += 1
      if (j == m) return true
      i += 1
    }
    false
  }

  /** One line's verdict over `s[from, until)` already right-trimmed. */
  private def keepLine(s: String, from: Int, until: Int, minWords: Int): Boolean = {
    if (until <= from) return false
    val last = s.charAt(until - 1)
    if (last != '.' && last != '!' && last != '?' && last != '"') return false
    // count words separated by space/tab ONLY — the oracle and the
    // property-test reference both split on `[ \t]+`, so an interior
    // CR must NOT separate words (isWs keeps CR for right-trim only)
    var words = 0
    var i = from
    var inWord = false
    while (i < until) {
      val c = s.charAt(i)
      val ws = c == ' ' || c == '\t'
      if (!ws && !inWord) { words += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    if (words < minWords) return false
    !containsIgnoreCase(s.substring(from, until), "javascript")
  }

  /** Called from generated code — must stay a simple static-style method. */
  def run(text: UTF8String, minWords: Int, minKeptLines: Int): GenericInternalRow = {
    val s = text.toString
    val out = new java.lang.StringBuilder(s.length)
    var nLines = 0L
    var nKept = 0L
    var start = 0
    val n = s.length
    while (start <= n) {
      val end = s.indexOf('\n', start)
      val lineEnd = if (end < 0) n else end
      nLines += 1L
      // right-trim space/tab/CR
      var t = lineEnd
      while (t > start && isWs(s.charAt(t - 1))) t -= 1
      if (keepLine(s, start, t, minWords)) {
        if (nKept > 0L) out.append('\n')
        out.append(s, start, t)
        nKept += 1L
      }
      if (end < 0) start = n + 1 else start = end + 1
    }
    val hasBrace = s.indexOf('{') >= 0
    val hasLorem = containsIgnoreCase(s, "lorem ipsum")
    val keep = nKept >= minKeptLines.toLong && !hasBrace && !hasLorem
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(out.toString), nLines, nKept, hasBrace, hasLorem, keep))
  }

  def c4Clean(c: Column, minWords: Int = 5, minKeptLines: Int = 3): Column =
    Bridge.column(C4CleanExpr(Bridge.expression(c), minWords, minKeptLines))
}
