package graft.functions

import org.apache.spark.ml.feature.StopWordsRemover
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the large-scale training-data
  * pipeline: tokenization, stop-words, language-ID, quality scoring,
  * token counting, fingerprinting, shingling, MinHash and SimHash.
  *
  * Everything here is built from `org.apache.spark.sql.functions._`
  * higher-order array expressions — no UDFs — so every column stays
  * inside WholeStageCodegen and needs **no shuffle**: one pass over the
  * documents computes all per-row features. At 100 TB that matters: the
  * only shuffles in the downstream dedup/similarity pipelines are the
  * ones semantically required (the group-bys / joins on hash keys).
  *
  * Replaces the reference's Spark-NLP pipeline
  * (`/root/reference/src/main/scala/TwitchStream/pipelines.scala:42-67`,
  * `DocumentAssembler → Tokenizer → StopWordsCleaner → Finisher`) with the
  * same `text → Array[String]` contract.
  */
object TextFunctions {

  /** Stop-word lists ship with spark-mllib (public Snowball lists); the
    * reference hard-codes French (`pipelines.scala:21,53` — SURVEY.md
    * §2.11.4); we honor the language argument.
    */
  def stopWords(language: String): Seq[String] =
    StopWordsRemover.loadDefaultStopWords(language).toSeq

  /** Lower-case whitespace tokens, empties dropped.
    * Contract: `text: String → tokens: Array[String]`.
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Remove stop-words, preserving multiplicity and order (unlike
    * `array_except`, which dedups — wordcount semantics need the
    * multiset).
    */
  def removeStopWords(toks: Column, language: String): Column = {
    val sw = typedlit(stopWords(language))
    filter(toks, t => !array_contains(sw, t))
  }

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count approximation: word-chunks plus number/punct
    * runs, the classic `\w+|[^\w\s]+` regex family.
    */
  def regexTokenCount(text: Column): Column =
    size(filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0))

  // --- quality scoring -----------------------------------------------------

  /** Characters outside `[a-z0-9 ]` (lower-cased) — punctuation mass. */
  def punctChars(text: Column): Column =
    length(regexp_replace(lower(text), "[a-z0-9 ]", ""))

  def punctRatio(text: Column): Column =
    punctChars(text).cast("double") / greatest(length(text), lit(1)).cast("double")

  /** Fraction of tokens that are stop-words — high for natural prose,
    * low for boilerplate/code/gibberish.
    */
  def stopwordRatio(text: Column, language: String): Column = {
    val n = tokenCount(text)
    val sw = typedlit(stopWords(language))
    val hits = size(filter(tokens(text), t => array_contains(sw, t)))
    hits.cast("double") / greatest(n, lit(1)).cast("double")
  }

  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  // --- language identification ---------------------------------------------

  /** Languages scored by the stop-word-overlap heuristic. */
  val LangIdLanguages: Seq[String] = Seq("english", "french", "german", "spanish")
  val LangIdCodes: Map[String, String] =
    Map("english" -> "en", "french" -> "fr", "german" -> "de", "spanish" -> "es")

  /** Stop-word overlap count for one language. */
  def langScore(toks: Column, language: String): Column = {
    val sw = typedlit(stopWords(language))
    size(filter(toks, t => array_contains(sw, t)))
  }

  /** Predicted language code via argmax of stop-word overlap with a fixed
    * priority tie-break (en > fr > de > es) — deterministic, and exactly
    * expressible in ANSI SQL for the oracle.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val s = LangIdLanguages.map(l => l -> langScore(toks, l)).toMap
    val (en, fr, de, es) =
      (s("english"), s("french"), s("german"), s("spanish"))
    // explicit null guard: without it, null text falls through every
    // when-condition (null comparisons) into the "es" branch — an
    // artifact, and divergent from the tight-loop twin
    when(text.isNull, lit(null).cast("string"))
      .when(en >= fr && en >= de && en >= es, lit("en"))
      .when(fr >= de && fr >= es, lit("fr"))
      .when(de >= es, lit("de"))
      .otherwise(lit("es"))
  }

  // --- fingerprinting --------------------------------------------------------

  /** Canonical content fingerprint: md5 of the normalized token join.
    * Stable across engines (md5 is md5 everywhere) → oracle-checkable.
    */
  def contentFingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** 60-bit integer hash of a string derived from md5 — the cross-engine
    * hash primitive used by MinHash/SimHash (15 hex chars = 60 bits keeps
    * it positive in a signed int64 on both engines). Backed by a native
    * Catalyst expression with real codegen (`Md5Hash60Expr`); value-
    * identical to the composed form below and to the DuckDB oracle's
    * `CAST('0x' || substring(md5(s),1,15) AS BIGINT)`.
    */
  def md5Hash60(s: Column): Column =
    graft.functions.expressions.Md5Hash60Expr.md5Hash60Native(s)

  /** The composed built-in form of [[md5Hash60]] (hex-string roundtrip) —
    * kept as the executable specification the native expression is
    * parity-tested against.
    */
  def md5Hash60Composed(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** The SEEDED keyed-decision hash every ordering/capping/splitting
    * operator shares: `md5Hash60("<seed>:<key>")`. Single-sourced so
    * the seed format can never drift between operators (and their
    * DuckDB oracles, which compute `'<seed>:' || CAST(key AS
    * VARCHAR)`). The seed may be numeric (sharding, caps) or a string
    * label (split names).
    */
  def seededHash60(seed: String, key: Column): Column =
    md5Hash60(concat(lit(s"$seed:"), key.cast("string")))

  def seededHash60(seed: Long, key: Column): Column =
    seededHash60(seed.toString, key)

  // --- shingling / MinHash / SimHash ----------------------------------------

  /** Word n-gram shingles: `["a","b","c","d"]`, n=3 →
    * `["a b c","b c d"]`. Documents shorter than n shingle to the full
    * token join so they still participate in dedup.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** MinHash uses the classic pairwise-independent affine family
    * `h_i(x) = (a_i * x + b_i) mod p` over a base 60-bit md5 hash reduced
    * mod p = 2^31 - 1 (Mersenne). One md5 per shingle + k multiply-adds —
    * 16× less hashing than k independent md5s, and every intermediate
    * stays < 2^62 so the arithmetic is overflow-free (and therefore
    * portable: DuckDB raises on BIGINT overflow where the JVM wraps).
    */
  val MinHashPrime: Long = 2147483647L

  /** Deterministic (seeded) affine coefficients `(a_i, b_i)`,
    * a_i ∈ [1, p), b_i ∈ [0, p) — embedded as literals in both the Spark
    * plan and the DuckDB oracle SQL.
    */
  def minHashCoeffs(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    def next(bound: Long): Long = math.floorMod(rnd.nextLong(), bound)
    Seq.fill(k)((1L + next(MinHashPrime - 1), next(MinHashPrime)))
  }

  /** Base hash per shingle: md5-derived, reduced mod p. Materialize this
    * ONCE per row (own projection) before fanning out to k permutations —
    * md5 is the expensive part.
    */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => md5Hash60(s) % lit(MinHashPrime))

  // --- tight-loop twins ------------------------------------------------------
  // Higher-order array functions are CodegenFallback (interpreted, boxed
  // per element), which dominates the dedup pipelines' runtime. These
  // UDFs compute the identical values in plain JVM loops — same
  // tokenizer regex, same md5, same arithmetic — so oracle results are
  // unchanged while the hashing pass runs ~10× faster. Deterministic, so
  // ReuseExchange still dedups repeated subplans.

  // precompiled: String.split(regex) recompiles the Pattern on every
  // call, which is measurable at scan-kernel call rates
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")
  private val nonAlnumPattern = java.util.regex.Pattern.compile("[^a-z0-9]+")

  /** JVM twin of `tokens`: lower-case (root locale), split on whitespace
    * runs, drop empties.
    */
  def tokensLocal(text: String): Array[String] =
    if (text == null) Array.empty
    else wsPattern.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)

  /** JVM twin of `shingles`. */
  def shinglesLocal(toks: Array[String], n: Int): Array[String] =
    if (toks.length < n) Array(toks.mkString(" "))
    else Array.tabulate(toks.length - n + 1)(i => toks.slice(i, i + n).mkString(" "))

  /** Per-thread MD5 instance — `MessageDigest.getInstance` does a
    * provider lookup per call (~1µs), which dominates when hashing
    * hundreds of thousands of shingles; `digest()` resets the instance,
    * so reuse is safe.
    */
  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of an md5 digest = 60 bits: 7 full bytes + the
    * high nibble of byte 7. THE single definition of the engine's hash
    * packing — every md5-derived 60-bit hash (`md5Hash60Local`,
    * `Md5Hash60Expr`, the shingle expressions' byte-fed kernel) must go
    * through it so the oracle-compatibility-critical arithmetic can
    * never drift between call sites.
    */
  private[graft] def pack60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** JVM twin of `md5Hash60` (15 hex chars = 60 bits, fits a long). */
  def md5Hash60Local(s: String): Long = {
    val md = md5Digest.get()
    pack60(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** `text → whitespace tokens` as one tight loop (for explode fan-out
    * paths; under `explode`, the empty array for null text is equivalent
    * to the columnar form's null — both produce no rows).
    */
  val tokensUdf: Column => Column = {
    val f = udf((text: String) => tokensLocal(text))
    c => f(c)
  }

  /** `text → token → count` map as one tight loop — the scan-side
    * pre-aggregation of `explode(tokens) |> groupBy(doc, term).count()`:
    * exploding the MAP yields the per-(doc, term) counts directly, so
    * the term-frequency shuffle disappears (what crosses the wire is one
    * already-aggregated row per distinct term, not one per token).
    */
  val termCountsUdf: Column => Column = {
    val f = udf((text: String) => termCountsLocal(text).toMap)
    c => f(c)
  }

  /** JVM body of [[termCountsUdf]] / `TermCountsExpr`. */
  def termCountsLocal(text: String): scala.collection.mutable.HashMap[String, Long] = {
    val toks = tokensLocal(text)
    val m = new scala.collection.mutable.HashMap[String, Long]
    var i = 0
    while (i < toks.length) {
      m.update(toks(i), m.getOrElse(toks(i), 0L) + 1L)
      i += 1
    }
    m
  }

  /** `text → base shingle hashes mod p` as one tight loop (for MinHash
    * signature paths).
    */
  def shingleHashesUdf(n: Int): Column => Column = {
    val f = udf { (text: String) =>
      val sh = shinglesLocal(tokensLocal(text), n)
      val out = new Array[Long](sh.length)
      var i = 0
      while (i < sh.length) { out(i) = md5Hash60Local(sh(i)) % MinHashPrime; i += 1 }
      out
    }
    c => f(c)
  }

  /** JVM body of [[cleanTokensUdf]] / `CleanTokensExpr`.
    * Code points, not UTF-16 units: the columnar twin's
    * `length(w) > minLength` (and the DuckDB oracle) count characters,
    * so supplementary-plane tokens (emoji, rare CJK) must gate the same.
    */
  def cleanTokensLocal(text: String, minLength: Int, sw: Set[String]): Array[String] =
    tokensLocal(text).filter(t => t.codePointCount(0, t.length) > minLength && !sw.contains(t))

  /** `text → tokens minus stop-words, length > minLength` as one tight
    * loop (wordcount's scan-side pass; multiplicity and order preserved).
    */
  def cleanTokensUdf(language: String, minLength: Int): Column => Column = {
    val sw = stopWords(language).toSet
    val f = udf { (text: String) => cleanTokensLocal(text, minLength, sw) }
    c => f(c)
  }

  /** JVM body of [[distinctTokensUdf]] / `DistinctTokensExpr`:
    * first-occurrence order, matching `array_distinct`.
    */
  def distinctTokensLocal(text: String, outliers: Set[String]): Array[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    tokensLocal(text).foreach(t => if (!outliers.contains(t)) seen.add(t))
    seen.toArray(new Array[String](seen.size))
  }

  /** `text → distinct tokens minus outliers` as one tight loop (label
    * derivation; first-occurrence order, matching `array_distinct`).
    */
  def distinctTokensUdf(outliers: Seq[String]): Column => Column = {
    val out = outliers.toSet
    val f = udf { (text: String) => distinctTokensLocal(text, out) }
    c => f(c)
  }

  /** `text → sorted distinct 60-bit shingle hashes` as one tight loop.
    * The shingle-set identity each dedup pipeline actually needs: no
    * string shuffle (longs on the wire), no `.distinct()` shuffle (dedup
    * happens in-row), set sizes for free (`size(hs)` — no groupBy). The
    * oracle mirrors it with
    * `list_sort(list_distinct(list_transform(shs, md5h60)))`, so both
    * engines run the same hash-set semantics (collisions, were any to
    * occur, would be identical on both sides).
    */
  def distinctShingleHashesUdf(n: Int): Column => Column = {
    val f = udf { (text: String) =>
      val sh = shinglesLocal(tokensLocal(text), n)
      val hs = new Array[Long](sh.length)
      var i = 0
      while (i < sh.length) { hs(i) = md5Hash60Local(sh(i)); i += 1 }
      java.util.Arrays.sort(hs)
      var w = 0
      i = 0
      while (i < hs.length) {
        if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
        i += 1
      }
      if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w)
    }
    c => f(c)
  }

  /** Intersection size of two sorted distinct long arrays (linear merge). */
  def sortedIntersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** JVM twin of Spark/DuckDB `md5(...)`: lowercase hex digest. */
  def md5HexLocal(s: String): String = {
    val d = md5Digest.get()
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = "0123456789abcdef"
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private lazy val langStopSets: Array[(String, Set[String])] =
    LangIdLanguages.map(l => LangIdCodes(l) -> stopWords(l).toSet).toArray

  /** JVM twin of `langId`: stop-word-overlap argmax with the same fixed
    * tie-break (en > fr > de > es).
    */
  def langIdLocal(toks: Array[String]): String = {
    val sets = langStopSets
    val counts = new Array[Int](sets.length)
    var i = 0
    while (i < toks.length) {
      var j = 0
      while (j < sets.length) {
        if (sets(j)._2.contains(toks(i))) counts(j) += 1
        j += 1
      }
      i += 1
    }
    // argmax with first-wins tie-break — identical to the when-chain
    var best = 0
    var j = 1
    while (j < counts.length) {
      if (counts(j) > counts(best)) best = j
      j += 1
    }
    sets(best)._1
  }

  /** One-pass corpus stats for the training-prep pipeline:
    * `text → (n_tokens, lang_pred, fp)` — tokenize once, count stop-word
    * overlap for all languages, fingerprint the token join. The columnar
    * form evaluates `tokens()` per derived column through interpreted
    * HOFs; this is the tight-loop twin (identical values, one pass).
    */
  val corpusStatsUdf: Column => Column = {
    val f = udf { (text: String) =>
      val toks = tokensLocal(text)
      (toks.length.toLong, langIdLocal(toks), md5HexLocal(toks.mkString(" ")))
    }
    c => f(c)
  }

  /** k-value MinHash signature from a pre-computed base-hash array. */
  def minHashFromHashes(hashesCol: Column, k: Int, seed: Long = 42L): Column = {
    val exprs = minHashCoeffs(k, seed).map { case (a, b) =>
      array_min(transform(hashesCol, h => (lit(a) * h + lit(b)) % lit(MinHashPrime)))
    }
    array(exprs: _*)
  }

  /** MinHash signature straight from shingles (single-expression form;
    * prefer shingleHashes + minHashFromHashes in operators so the md5
    * pass is materialized once).
    */
  def minHashSignature(shingleCol: Column, k: Int): Column =
    minHashFromHashes(shingleHashes(shingleCol), k)

  /** 60-bit SimHash over the token multiset, computed per-row with a
    * 60-wide counter array folded by `aggregate`/`zip_with` — no shuffle,
    * no UDF. Bit j of the result is 1 iff the sum over tokens of
    * `(bit_j(md5Hash60(token))*2 - 1)` is positive.
    */
  def simHash60(toks: Column): Column = {
    val bitIdx = sequence(lit(0L), lit(59L))
    def shr(v: Column, n: Column): Column = call_function("shiftright", v, n.cast("int"))
    def shl(v: Column, n: Column): Column = call_function("shiftleft", v, n.cast("int"))
    val counts = aggregate(
      toks,
      array_repeat(lit(0L), 60),
      (acc, t) => {
        val h = md5Hash60(t)
        zip_with(acc, bitIdx, (a, j) => a + shr(h, j).bitwiseAND(lit(1L)) * 2 - 1)
      }
    )
    aggregate(
      zip_with(counts, bitIdx, (c, j) => when(c > 0, shl(lit(1L), j)).otherwise(lit(0L))),
      lit(0L),
      (acc, v) => acc + v)
  }

  /** Hamming distance between two SimHash values (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // --- rolling-hash winnowing fingerprints -----------------------------------

  /** Winnowing parameters: polynomial rolling hash over per-token 60-bit
    * md5 hashes reduced mod p (Mersenne 2^31−1), fold form
    * `acc = (acc*B + th) mod p` so every intermediate stays < 2^46
    * (portable: DuckDB raises on BIGINT overflow). k tokens per gram,
    * window w minima kept (MOSS-style winnowing: any shared substring of
    * length ≥ w+k−1 tokens yields a shared fingerprint).
    */
  val WinnowBase: Long = 32768L
  val WinnowK: Int = 3
  val WinnowWindow: Int = 4

  /** JVM body of [[winnowFingerprintsUdf]] / `WinnowFingerprintsExpr`:
    * sorted distinct winnowed fingerprints; docs shorter than k tokens
    * produce no fingerprints.
    */
  def winnowFingerprintsLocal(text: String, k: Int, w: Int): Array[Long] = {
    val toks = tokensLocal(text)
    val n = toks.length
    if (n < k) Array.empty[Long]
    else {
      val th = new Array[Long](n)
      var i = 0
      while (i < n) { th(i) = md5Hash60Local(toks(i)) % MinHashPrime; i += 1 }
      val m = n - k + 1
      val rh = new Array[Long](m)
      i = 0
      while (i < m) {
        var acc = th(i)
        var j = 1
        while (j < k) { acc = (acc * WinnowBase + th(i + j)) % MinHashPrime; j += 1 }
        rh(i) = acc
        i += 1
      }
      val nw = math.max(m - w + 1, 1)
      val mins = new Array[Long](nw)
      i = 0
      while (i < nw) {
        var mn = rh(i)
        var j = 1
        while (j < w && i + j < m) { if (rh(i + j) < mn) mn = rh(i + j); j += 1 }
        mins(i) = mn
        i += 1
      }
      java.util.Arrays.sort(mins)
      var wr = 0
      i = 0
      while (i < nw) {
        if (wr == 0 || mins(i) != mins(wr - 1)) { mins(wr) = mins(i); wr += 1 }
        i += 1
      }
      if (wr == nw) mins else java.util.Arrays.copyOf(mins, wr)
    }
  }

  /** `text → sorted distinct winnowed fingerprints` as one tight loop.
    * Docs shorter than k tokens produce no fingerprints.
    */
  def winnowFingerprintsUdf(
      k: Int = WinnowK,
      w: Int = WinnowWindow): Column => Column = {
    val f = udf { (text: String) => winnowFingerprintsLocal(text, k, w) }
    c => f(c)
  }

  /** JVM twin of `simHash60` over a token array. */
  def simHash60Local(toks: Array[String]): Long = {
    val counts = new Array[Int](60)
    var i = 0
    while (i < toks.length) {
      val h = md5Hash60Local(toks(i))
      var j = 0
      while (j < 60) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var v = 0L
    var j = 0
    while (j < 60) { if (counts(j) > 0) v |= (1L << j); j += 1 }
    v
  }

  /** `text → 60-bit SimHash` as one tight loop (the columnar `simHash60`
    * folds a 60-wide counter array through interpreted HOFs per token).
    */
  val simHashUdf: Column => Column = {
    val f = udf((text: String) => simHash60Local(tokensLocal(text)))
    c => f(c)
  }

  /** `text → language code` as one tight loop (null text → null, matching
    * the null-guarded columnar `langId`).
    */
  val langIdUdf: Column => Column = {
    val f = udf((text: String) =>
      if (text == null) Option.empty[String] else Some(langIdLocal(tokensLocal(text))))
    c => f(c)
  }

  /** One-pass quality metrics twin: `(n_tokens, n_subtokens, punct_ratio,
    * stopword_ratio, mean_token_len)` — tokenize once, count everything in
    * plain loops. Value-identical to the columnar forms (same regexes,
    * same divisions; lengths count code points like Spark's `length`).
    * Punct numerator counts over the LOWERED text (matching `punctChars`)
    * but the denominator over the ORIGINAL text's code points (matching
    * `punctRatio`'s `length(text)` — lowercasing can change code-point
    * count, e.g. U+0130 'İ' → 'i' + combining dot). Null text → null row
    * (the columnar forms propagate null the same way).
    */
  def qualityStatsUdf(language: String): Column => Column = {
    val sw = stopWords(language).toSet
    val f = udf { (text: String) =>
      if (text == null) Option.empty[(Long, Long, Double, Double, Double)]
      else Some(qualityStatsLocal(text, sw))
    }
    c => f(c)
  }

  /** JVM body of [[qualityStatsUdf]] / `QualityStatsExpr` (non-null text). */
  def qualityStatsLocal(text: String, sw: Set[String]): (Long, Long, Double, Double, Double) = {
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    val toks = tokensLocal(text)
    val nTokens = toks.length.toLong
    val nSub = nonAlnumPattern.split(lowered).count(_.nonEmpty).toLong
    var punct = 0L
    var i = 0
    while (i < lowered.length) {
      val cp = lowered.codePointAt(i)
      val ok = (cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9') || cp == ' '
      if (!ok) punct += 1
      i += Character.charCount(cp)
    }
    val total = text.codePointCount(0, text.length).toLong
    var hits = 0L
    var sumLen = 0L
    toks.foreach { t =>
      if (sw.contains(t)) hits += 1
      sumLen += t.codePointCount(0, t.length)
    }
    (
      nTokens,
      nSub,
      punct.toDouble / math.max(total, 1L).toDouble,
      hits.toDouble / math.max(nTokens, 1L).toDouble,
      sumLen.toDouble / math.max(nTokens, 1L).toDouble)
  }

  /** Gopher-style repetition metrics in one pass: the most frequent word
    * bigram (ties → smallest by code point, which equals DuckDB's UTF-8
    * byte order for every token — including supplementary-plane
    * characters where UTF-16 code-unit order would diverge), its count,
    * the bigram total, and the duplicate-token fraction
    * `(n - distinct) / n`. The ratios are small-integer divisions —
    * bit-identical across engines.
    * Null/short texts return zero-counts with a null top bigram.
    */
  /** Code-point string order (== UTF-8 byte order), NOT UTF-16 code-unit
    * order: surrogate pairs (U+10000+) compare above U+E000..U+FFFF here,
    * below them in plain `String.compareTo`.
    */
  private def compareCodePoints(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** JVM body of [[repetitionStatsUdf]] (exposed for property tests). */
  def repetitionStatsLocal(text: String): (String, Long, Long, Double, Double) = {
    val toks = tokensLocal(text)
    val nTokens = toks.length.toLong
    val nBigrams = math.max(nTokens - 1, 0L)
    val distinct = new scala.collection.mutable.HashSet[String]
    val bigrams = new scala.collection.mutable.HashMap[String, Long]
    var i = 0
    while (i < toks.length) {
      distinct.add(toks(i))
      if (i + 1 < toks.length) {
        val b = toks(i) + " " + toks(i + 1)
        bigrams.update(b, bigrams.getOrElse(b, 0L) + 1L)
      }
      i += 1
    }
    var topB: String = null
    var topN = 0L
    bigrams.foreach { case (b, n) =>
      if (n > topN || (n == topN && (topB == null || compareCodePoints(b, topB) < 0))) {
        topB = b; topN = n
      }
    }
    (
      topB,
      topN,
      nBigrams,
      if (nBigrams == 0L) 0.0 else topN.toDouble / nBigrams.toDouble,
      if (nTokens == 0L) 0.0 else (nTokens - distinct.size).toDouble / nTokens.toDouble)
  }

  val repetitionStatsUdf: Column => Column = {
    val f = udf((text: String) => repetitionStatsLocal(text))
    c => f(c)
  }

  /** JVM body of [[cleanTextUdf]] / `CleanTextExpr`. */
  def cleanTextLocal(text: String): String =
    if (text == null) null
    else {
      val sb = new java.lang.StringBuilder(text.length)
      var i = 0
      var pendingSpace = false
      while (i < text.length) {
        val c = text.charAt(i)
        val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
        if (isWs) { if (sb.length > 0) pendingSpace = true }
        else if (c != '[' && c != ']' && c != '"' && c != '\'') {
          if (pendingSpace) { sb.append(' '); pendingSpace = false }
          sb.append(c)
        }
        i += 1
      }
      sb.toString
    }

  /** One-pass string-clean twin of
    * `trim(regexp_replace(translate(text, "[]\"'", ""), "\\s+", " "))`:
    * drop the junk chars, collapse Java-`\s` runs to one space, trim
    * spaces (Spark's `trim` strips spaces only).
    */
  val cleanTextUdf: Column => Column = {
    val f = udf { (text: String) => cleanTextLocal(text) }
    c => f(c)
  }
}
