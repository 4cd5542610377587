package graft

import graft.functions.{Sentiment, TextFunctions}
import graft.functions.expressions.UrlExprs
import graft.model.IrcParser
import graft.operators.{Bpe, Cdc, Components, CountMin, Decontaminate, Dedup, EditDistanceJoin, HistQuantile, KVTable, Kmv, LabelPrep, Layout, Multimodal, NgramLm, QualityPrune, RangeJoin, Sampling, Sharding, Similarity, Snapshot, TfIdf, Vocab, WordCount}
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one entry per implemented operator from SURVEY.md §2
  * (plus the large-scale training-data-pipeline extensions), each with an
  * equivalent DuckDB oracle SQL.
  *
  * Numeric discipline for the hash-compare: every SUM over a double
  * column casts to DECIMAL first (exact, order-independent — a parallel
  * double sum is neither), LIMIT queries carry a total tie-break order,
  * and cross-engine hashing uses md5 (never engine-specific hash
  * functions).
  *
  * Output-type discipline (round-2 lesson): the driver compares results
  * through pandas, where a Spark parquet DECIMAL arrives as
  * `decimal.Decimal` (str keeps trailing zeros: "137431.00") while the
  * DuckDB oracle decimal arrives as float64 (str drops them: "137431.0")
  * — so a DECIMAL output column hash-mismatches whenever any value has a
  * trailing zero. Therefore: aggregate in DECIMAL for exactness, but CAST
  * the final output column to DOUBLE on BOTH sides. The scaled integer
  * behind each sum stays below 2^53, so the decimal→double conversion is
  * exact and bit-identical in both engines. Array-typed output columns
  * are also banned (the driver's pandas row sort can't hash ndarrays).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    WordCount.wordCounts(Tables.documents(spark, "/root/testdata/sf0.001"), "text")

  private val dec = "decimal(18,2)"

  /** SQL literal list with quote escaping, for embedding stop-word lists
    * into the oracle.
    */
  private def sqlList(words: Seq[String]): String =
    words.map(w => "'" + w.replace("'", "''") + "'").mkString("(", ", ", ")")

  private val stopEn = TextFunctions.stopWords("english")
  private val stopFr = TextFunctions.stopWords("french")
  private val stopDe = TextFunctions.stopWords("german")
  private val stopEs = TextFunctions.stopWords("spanish")

  /** DuckDB fragment: lower-cased whitespace tokens of `c`, empties
    * dropped — mirrors `TextFunctions.tokens`.
    */
  private def sqlTokens(c: String): String =
    s"list_filter(string_split_regex(lower($c), '\\s+'), x -> length(x) > 0)"

  /** DuckDB fragment: `TextFunctions.md5Hash60` — 60-bit integer from the
    * first 15 hex chars of md5 (DuckDB parses '0x…' strings as integers).
    */
  private def sqlMd5h60(e: String): String =
    s"CAST('0x' || substring(md5($e), 1, 15) AS BIGINT)"

  /** DuckDB fragment: `UrlExprs.pctDecode` — single-pass
    * unreserved-only percent decode, the split-on-% formulation the
    * engine's scaladoc pins (first piece verbatim; each piece after a
    * `%` decodes iff its first two chars are hex of an unreserved
    * code point, else the `%` passes through).
    */
  private def sqlPctDecode(expr: String): String = {
    def hexpos(c: String) = s"strpos('0123456789ABCDEF', upper($c))"
    val code = s"((${hexpos("e[1]")} - 1) * 16 + ${hexpos("e[2]")} - 1)"
    s"""array_to_string(list_concat(
       [string_split($expr, '%')[1]],
       list_transform(string_split($expr, '%')[2:], e ->
         CASE WHEN length(e) >= 2
               AND ${hexpos("e[1]")} > 0 AND ${hexpos("e[2]")} > 0
               AND ($code BETWEEN 48 AND 57 OR $code BETWEEN 65 AND 90
                    OR $code BETWEEN 97 AND 122 OR $code IN (45, 46, 95, 126))
              THEN chr(CAST($code AS INT)) || e[3:]
              ELSE '%' || e END)), '')"""
  }

  /** DuckDB CTE chain re-deriving `UrlExprs.urlNormalize` + `urlHost`
    * for an upstream CTE `u(doc_id, url)` — the q142 oracle's
    * normalize pipeline, factored so every oracle that keys on
    * canonical URLs (q142, q146) reuses ONE definition. Ends with
    * `norm(doc_id, norm_url, host)`.
    */
  private def sqlUrlNormChain: String =
    s"""p1 AS (SELECT doc_id, regexp_replace(trim(url, ' '), '#.*$$', '') AS fr FROM u),
          p2 AS (SELECT doc_id, fr,
                   lower(regexp_extract(fr, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                   regexp_replace(fr, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
                 FROM p1),
          p4 AS (SELECT doc_id, scheme, rest,
                   regexp_extract(rest, '^([^/?]*)', 1) AS auth
                 FROM p2),
          p5 AS (SELECT doc_id, scheme,
                   substr(rest, length(auth) + 1) AS pq,
                   lower(regexp_extract(auth, '([^@]*)$$', 1)) AS auth2
                 FROM p4),
          p6 AS (SELECT doc_id, scheme, pq,
                   CASE WHEN strpos(auth2, ':') > 0
                        THEN regexp_replace(auth2, ':[^:]*$$', '') ELSE auth2 END AS hostp,
                   CASE WHEN strpos(auth2, ':') > 0
                        THEN regexp_extract(auth2, ':([^:]*)$$', 1) ELSE '' END AS portp
                 FROM p5),
          p7 AS (SELECT doc_id, scheme, hostp, portp,
                   regexp_extract(pq, '^([^?]*)', 1) AS path,
                   CASE WHEN strpos(pq, '?') > 0
                        THEN substr(pq, length(regexp_extract(pq, '^([^?]*)', 1)) + 2) END AS qs
                 FROM p6),
          p8 AS (SELECT doc_id, scheme, hostp, portp, qs,
                   ${sqlPctDecode("path")} AS pd
                 FROM p7),
          p9 AS (SELECT doc_id, scheme, hostp, portp,
                   CASE WHEN pd = '' THEN '/' ELSE pd END AS path_out,
                   CASE WHEN qs IS NULL THEN NULL ELSE
                     array_to_string(list_sort(list_transform(
                       list_filter(string_split(qs, '&'),
                         x -> x <> '' AND lower(CASE WHEN strpos(x, '=') > 0
                             THEN regexp_extract(x, '^([^=]*)', 1) ELSE x END)
                           NOT IN ${sqlList(UrlExprs.DefaultDropParams)}),
                       x -> ${sqlPctDecode("x")})), '&') END AS q_out
                 FROM p8),
          norm AS (SELECT doc_id,
                     CASE WHEN scheme IS NULL OR scheme = ''
                               OR hostp IS NULL OR hostp = '' THEN NULL
                          ELSE scheme || '://' || hostp ||
                               CASE WHEN portp <> ''
                                         AND NOT (scheme = 'http' AND portp = '80')
                                         AND NOT (scheme = 'https' AND portp = '443')
                                    THEN ':' || portp ELSE '' END ||
                               path_out ||
                               CASE WHEN q_out IS NULL OR q_out = '' THEN ''
                                    ELSE '?' || q_out END
                     END AS norm_url,
                     CASE WHEN scheme IS NULL OR scheme = ''
                               OR hostp IS NULL OR hostp = '' THEN NULL
                          ELSE hostp END AS host
                   FROM p9)"""

  /** DuckDB continuation of [[sqlUrlNormChain]] re-deriving
    * `registrable_domain(host)` — suffix-list longest-match pick, the
    * q142 rules verbatim — ending with
    * `dom(doc_id, norm_url, host, domain)`. Shared by q142 and q147.
    */
  private def sqlDomainChain: String =
    s"""sfxj AS (SELECT norm.doc_id, norm.norm_url, norm.host, s.s AS sfx
                   FROM norm LEFT JOIN (VALUES ${UrlExprs.DefaultSuffixes.map(x => s"('$x')").mkString(", ")}) s(s)
                     ON norm.host = s.s OR ends_with(norm.host, '.' || s.s)),
          pick AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY length(sfx) DESC NULLS LAST, sfx) AS rn FROM sfxj),
          dom AS (SELECT doc_id, norm_url, host,
            CASE WHEN host IS NULL THEN NULL
                 WHEN regexp_matches(host, '^[0-9.]+$$') THEN host
                 WHEN sfx IS NULL THEN
                   CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) = '' THEN NULL
                        ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END
                 WHEN host = sfx THEN NULL
                 ELSE CASE WHEN regexp_extract(substr(host, 1,
                             length(host) - length(sfx) - 1), '([^.]*)$$', 1) = ''
                           THEN NULL
                           ELSE regexp_extract(substr(host, 1,
                             length(host) - length(sfx) - 1), '([^.]*)$$', 1)
                             || '.' || sfx END
            END AS domain
          FROM pick WHERE rn = 1)"""

  /** DuckDB CTE chain re-deriving the ENTIRE unigram-LM tokenizer
    * trainer + apply (`Unigram.train`/`tokenStats`) for q143 — the
    * q100 pattern (train re-run in SQL, not embedded): capped word
    * table, full-corpus alphabet, substring seed counts, then one
    * generated block per hard-EM round (smoothed micro log-probs →
    * Viterbi DP as a recursive CTE carrying the score/backpointer
    * lists → walk-back → piece counts → prune), and the same DP over
    * ALL corpus words for the apply. The DP tie-break (longest piece
    * wins equal scores) is the generated CASE checking lengths
    * 4→3→2→1 — the engine kernel's exact rule. `maxPieceLen` is fixed
    * at 4 here (the candidate pivot is hand-unrolled per length).
    */
  private def sqlUnigramCtes(
      maxWords: Int, seedMulti: Int, pruneSizes: Seq[Int]): String = {
    val neg = "-1000000000000000"
    def dpBlock(tag: String, wordSrc: String, lpTab: String): String = {
      val idx = Seq("d.j + 1", "d.j", "d.j - 1", "d.j - 2")
      def cand(l: Int) = s"coalesce(c.lp$l + d.dps[${idx(l - 1)}], $neg)"
      val best = (1 to 4).map(cand).mkString("greatest(", ", ", ")")
      val bpCase = "CASE " + (4 to 2 by -1)
        .map(l => s"WHEN ${cand(l)} = $best THEN $l").mkString(" ") + " ELSE 1 END"
      s"""pos$tag AS MATERIALIZED (SELECT w, CAST(u.i AS INT) AS j
            FROM $wordSrc CROSS JOIN LATERAL unnest(range(1, length(w) + 1)) AS u(i)),
          cand$tag AS MATERIALIZED (
            SELECT c.w, c.j,
              max(CASE WHEN c.L = 1 THEN l.lp END) AS lp1,
              max(CASE WHEN c.L = 2 THEN l.lp END) AS lp2,
              max(CASE WHEN c.L = 3 THEN l.lp END) AS lp3,
              max(CASE WHEN c.L = 4 THEN l.lp END) AS lp4
            FROM (SELECT p.w, p.j, gl.L,
                         substr(p.w, p.j - CAST(gl.L AS INT) + 1, CAST(gl.L AS INT)) AS piece
                  FROM pos$tag p, generate_series(1, 4) AS gl(L) WHERE gl.L <= p.j) c
            JOIN $lpTab l ON l.p = c.piece
            GROUP BY c.w, c.j),
          dp$tag AS (
            SELECT w, 0 AS j, [CAST(0 AS BIGINT)] AS dps, CAST([] AS BIGINT[]) AS bps
            FROM $wordSrc
            UNION ALL
            SELECT d.w, d.j + 1,
              list_append(d.dps, $best),
              list_append(d.bps, CAST($bpCase AS BIGINT))
            FROM dp$tag d JOIN cand$tag c ON c.w = d.w AND c.j = d.j + 1),
          walk$tag AS (
            SELECT d.w, d.j AS pos, CAST([] AS VARCHAR[]) AS pieces, d.bps AS bps
            FROM dp$tag d WHERE d.j = length(d.w)
            UNION ALL
            SELECT w, pos - CAST(bps[pos] AS INT),
                   list_prepend(substr(w, pos - CAST(bps[pos] AS INT) + 1,
                                       CAST(bps[pos] AS INT)), pieces),
                   bps
            FROM walk$tag WHERE pos > 0),
          segs$tag AS MATERIALIZED (SELECT w, pieces FROM walk$tag WHERE pos = 0)"""
    }
    def lpCte(lTab: String, vTab: String): String =
      s"""$lTab AS MATERIALIZED (
            SELECT p, CAST(round(ln(CAST(c + 1 AS DOUBLE) /
              (SELECT CAST(sum(c + 1) AS DOUBLE) FROM $vTab)) * 1000000) AS BIGINT) AS lp
            FROM $vTab)"""
    val rounds = pruneSizes.zipWithIndex.map { case (k, r) =>
      s"""${lpCte(s"l$r", s"v$r")},
          ${dpBlock(s"t$r", "wf", s"l$r")},
          cnt$r AS MATERIALIZED (
            SELECT u.p, CAST(sum(wf.f) AS BIGINT) AS c
            FROM (SELECT w, unnest(pieces) AS p FROM segst$r) u JOIN wf ON wf.w = u.w
            GROUP BY u.p),
          v${r + 1} AS MATERIALIZED (
            SELECT a.p, coalesce(c.c, 0) AS c FROM alpha a LEFT JOIN cnt$r c ON c.p = a.p
            UNION ALL
            SELECT p, c FROM (
              SELECT v.p AS p, coalesce(c.c, 0) AS c
              FROM (SELECT p FROM v$r WHERE length(p) > 1) v
              LEFT JOIN cnt$r c ON c.p = v.p
              ORDER BY coalesce(c.c, 0) DESC, v.p LIMIT $k))"""
    }.mkString(",\n")
    val rFinal = pruneSizes.length
    s"""words AS MATERIALIZED (SELECT unnest(${sqlTokens("text")}) AS w FROM documents),
        awf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f FROM words GROUP BY w),
        wf AS MATERIALIZED (SELECT w, f FROM awf ORDER BY f DESC, w LIMIT $maxWords),
        alpha AS MATERIALIZED (SELECT DISTINCT unnest(string_split(w, '')) AS p FROM awf),
        seedcnt AS MATERIALIZED (
          SELECT p, CAST(sum(f) AS BIGINT) AS c FROM (
            SELECT f, unnest(list_transform(range(1, length(w) - gl.L + 2),
              i -> substr(w, CAST(i AS INT), CAST(gl.L AS INT)))) AS p
            FROM wf, generate_series(1, 4) AS gl(L))
          GROUP BY p),
        v0 AS MATERIALIZED (
          SELECT a.p, coalesce(s.c, 0) AS c FROM alpha a LEFT JOIN seedcnt s ON s.p = a.p
          UNION ALL
          SELECT p, c FROM (SELECT p, c FROM seedcnt WHERE length(p) > 1
                            ORDER BY c DESC, p LIMIT $seedMulti)),
        $rounds,
        ${lpCte(s"l$rFinal", s"v$rFinal")},
        ${dpBlock("A", "awf", s"l$rFinal")},
        wsc AS MATERIALIZED (
          SELECT u.w, CAST(sum(l.lp) AS BIGINT) AS sc
          FROM (SELECT w, unnest(pieces) AS p FROM segsA) u JOIN l$rFinal l ON l.p = u.p
          GROUP BY u.w),
        dtok AS (SELECT doc_id, CAST(u.i AS INT) AS ord, tks[CAST(u.i AS INT)] AS w
                 FROM (SELECT doc_id, ${sqlTokens("text")} AS tks FROM documents)
                 CROSS JOIN LATERAL unnest(range(1, len(tks) + 1)) AS u(i)),
        dseq AS (SELECT d.doc_id,
                   flatten(list(s.pieces ORDER BY d.ord)) AS pieces,
                   CAST(sum(w.sc) AS BIGINT) AS sc
                 FROM dtok d JOIN segsA s ON s.w = d.w JOIN wsc w ON w.w = d.w
                 GROUP BY d.doc_id)"""
  }

  /** DuckDB fragment: word 3-gram shingles of token-list column `t` —
    * mirrors `TextFunctions.shingles(_, 3)` incl. the short-doc rule.
    */
  private val sqlShingles3 =
    "CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
      "ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END"

  /** Shared CTE prefix for shingle-based dedup oracles: tokens → 3-gram
    * shingles → sorted distinct 60-bit hash sets `ha(id, hs)` → inverted
    * index `ds(id, h)` → set sizes `sz`. Hash-set semantics mirror
    * `TextFunctions.distinctShingleHashesUdf` exactly (same md5-derived
    * hash on both engines, so collisions — were any to occur — are
    * identical on both sides).
    */
  private def sqlShingleCtes: String =
    s"""tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
        shv AS (SELECT doc_id, $sqlShingles3 AS shs FROM tk),
        ha AS (SELECT doc_id AS id,
                      list_sort(list_distinct(list_transform(shs, s -> ${sqlMd5h60("s")}))) AS hs
               FROM shv),
        ds AS (SELECT id, unnest(hs) AS h FROM ha),
        sz AS (SELECT id, len(hs) AS sz FROM ha)"""

  /** Shared CTE: 16-value MinHash signature per doc — same affine family
    * and seeded coefficients as `TextFunctions.minHashSignature(k = 16)`.
    */
  private def sqlMinHashSigCte: String = {
    val p = TextFunctions.MinHashPrime
    val mins = TextFunctions.minHashCoeffs(16)
      .map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $p))" }
      .mkString(", ")
    s"""hsv AS (SELECT doc_id, list_transform(shs, s -> ${sqlMd5h60("s")} % $p) AS hs FROM shv),
        sg AS (SELECT doc_id AS id, [$mins] AS sig FROM hsv)"""
  }

  /** Shared CTE suffix (needs `sqlShingleCtes` in scope): AllPairs
    * prefix-filtered exact-Jaccard pairs at threshold 0.5 — `pairs(id_a,
    * id_b, jaccard)`. Mirrors `Dedup.ngramJaccard(n = 3, t = 0.5)`.
    */
  private val sqlJaccardPairCtes: String =
    """pf AS (SELECT id, unnest(hs[1 : CAST(floor(len(hs) * CAST(0.5 AS DOUBLE) + 1e-9) AS BIGINT) + 1]) AS h FROM ha),
       cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM pf a JOIN pf b USING (h) WHERE a.id < b.id),
       jc AS (SELECT c.id_a, c.id_b,
                     len(list_intersect(x.hs, y.hs)) AS common,
                     len(x.hs) AS sza, len(y.hs) AS szb
              FROM cand c
              JOIN ha x ON x.id = c.id_a
              JOIN ha y ON y.id = c.id_b),
       pairs AS (SELECT * FROM (
                   SELECT id_a, id_b,
                          CAST(common AS DOUBLE) / CAST(sza + szb - common AS DOUBLE) AS jaccard
                   FROM jc)
                 WHERE jaccard >= 0.5)"""

  /** DuckDB fragment: ordered-fold dot product of two float-list columns,
    * cast element-wise to DOUBLE — the same left-to-right evaluation order
    * as `VectorFunctions.dot`, so results are bit-identical.
    */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (acc, x) -> acc + x)"

  private def sqlNorm(a: String): String =
    s"sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"

  private def sqlCos(a: String, b: String): String =
    s"${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)})"

  // =========================================================================
  // Queries
  // =========================================================================

  private def q01_tpch_q1(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // exact decimal aggregation, double on the wire (see header note)
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec)))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  private def q02_kv_merge(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val oldT = o.filter(col("o_orderstatus") === "F")
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
    val newT = o.filter(col("o_orderstatus") =!= "F")
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
    KVTable.merge(oldT, newT, "o_custkey", "cnt")
  }

  private def q03_star_join(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))

  private def q04_wordcount(s: SparkSession, dir: String): DataFrame =
    WordCount.wordCounts(Tables.documents(s, dir), "text")

  private def q05_topk_words(s: SparkSession, dir: String): DataFrame =
    KVTable.topK(q04_wordcount(s, dir), "word", "count", 100)

  private def q06_filter_pushdown(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_quantity") < 25)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  private def q07_string_clean(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      // one-pass twin of trim(regexp_replace(translate(..), "\s+", " ")),
      // native codegen since round 9
      graft.functions.expressions.CleanTextExpr.cleanText(col("text")).as("clean_text"),
      upper(substring(col("text"), 1, 10)).as("prefix10"))

  private val q08Keep = Seq("table", "scan", "join", "merge", "sort", "filter")
  private val q08Out = Seq("the", "a")

  private def q08_array_ops(s: SparkSession, dir: String): DataFrame =
    // distinct-minus-outliers runs as the tight-loop twin; the
    // array_intersect stays native (codegen'd set op on a tiny literal)
    Tables.documents(s, dir).select(
      col("doc_id"),
      explode(
        array_intersect(
          graft.functions.expressions.DistinctTokensExpr
            .distinctTokens(col("text"), q08Out),
          typedlit(q08Keep))).as("label"))

  private def q09_running_total(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir).select(
      col("user_id"), col("event_id"), col("ts"),
      sum(col("value").cast(dec)).over(w).cast("double").as("running"))
  }

  private def q10_tumbling_window(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(dec)).cast("double").as("v"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n"), col("v"))

  private def q11_distinct_users(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n"))

  private def q12_label_prep(s: SparkSession, dir: String): DataFrame =
    LabelPrep.prepare(
      Tables.documents(s, dir), "doc_id", "text",
      outlierLabels = q08Out, minTextLength = 50, maxLabels = 30)

  private def q13_sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val events = Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(
          col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"),
          lit(1L)).otherwise(lit(0L)))
      .withColumn(
        "session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    events
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  private def q14_semi_join(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))

  private def q15_anti_join(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")

  private def q16_irc_parse(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.events(s, dir).select(
      col("event_id"),
      concat(
        lit(":user"), col("user_id"), lit("!user"), col("user_id"),
        lit("@user.tmi.twitch.tv PRIVMSG #"), col("event_type"),
        lit(" :"), col("props")).as("value"))
    IrcParser.parse(lines)
      .select("event_id", "user", "channel", "text")
  }

  // --- training-data-pipeline extensions: dedup / similarity / text ---------

  private def q17_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")

  private def q18_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.5)

  private def q19_minhash_sig(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashSignatures(Tables.documents(s, dir), "doc_id", "text", n = 3, k = 16)

  private def q20_minhash_lsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(
      Tables.documents(s, dir), "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)

  private def q21_simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashFingerprints(Tables.documents(s, dir), "doc_id", "text")

  private def q22_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    // query vector = embedding of vec_id 0: a single-row driver lookup
    // (the literal then ships inside the plan — no join, no shuffle)
    val q = Tables.embeddings(s, dir)
      .filter(col("vec_id") === 0)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .map(_.toDouble)
    Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id", "embedding", q, 20)
  }

  private def q23_embedding_neardup(s: SparkSession, dir: String): DataFrame =
    // distributed block-nested-loop: exact all-pairs with no driver
    // collect; maxBlockRows=200 forces the multi-block path even at
    // fixture scale so the plan under test is the plan at scale
    Dedup.embeddingNearDupBlocked(
      Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.4, maxBlockRows = 200)

  private def q24_langid(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      graft.functions.expressions.LangIdExpr.langId(col("text")).as("lang_pred"))

  private def q25_quality(s: SparkSession, dir: String): DataFrame =
    // one native-codegen pass computes all five metrics (the columnar
    // forms re-tokenize per column through interpreted HOFs; the UDF twin
    // paid a row-boundary conversion)
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        graft.functions.expressions.QualityStatsExpr
          .qualityStats(col("text"), "english").as("q"))
      .select(
        col("doc_id"),
        col("q.n_tokens").as("n_tokens"),
        col("q.n_subtokens").as("n_subtokens"),
        col("q.punct_ratio").as("punct_ratio"),
        col("q.stopword_ratio").as("stopword_ratio"),
        col("q.mean_token_len").as("mean_token_len"))

  private def q26_fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextFunctions.contentFingerprint(col("text")).as("fp"),
      TextFunctions.md5Hash60(col("text")).as("fp60"))

  private def q27_multimodal(s: SparkSession, dir: String): DataFrame = {
    // opaque binary content column (UTF-8 bytes of text stands in for a
    // media payload); byte stats + stub-decode features, all columnar.
    // Features land as one scalar column per dimension, not an array —
    // the driver's pandas compare can't sort/hash array cells.
    val withContent = Tables.documents(s, dir)
      .withColumn("content", col("text").cast("binary"))
    val feats = Multimodal.fakeEmbedding(col("content"), 4)
    Multimodal.byteStats(withContent, "doc_id", "content")
      .join(
        withContent.select(
          col("doc_id") +: (0 until 4).map(i => feats.getItem(i).as(s"f$i")): _*),
        Seq("doc_id"))
  }

  private def q28_sentiment(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("source")
      .agg(
        // decimal-pinned sum: a parallel double sum is order-dependent;
        // per-doc scores are quotients of small ints, which can never be
        // exact 6-decimal rounding ties in binary, so both engines round
        // identically
        sum(graft.functions.expressions.SentimentScoreExpr
          .sentimentScore(col("text")).cast("decimal(18,6)"))
          .cast("double").as("sum_sentiment"),
        count(lit(1)).as("n_docs"))

  private def q29_sliding_window(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"))

  private def q30_shipping_priority(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(
        Tables.orders(s, dir)
          .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(
        sum(col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)

  private def q31_local_supplier_volume(s: SparkSession, dir: String): DataFrame =
    Tables.region(s, dir).filter(col("r_name") === "ASIA")
      .join(Tables.nation(s, dir), col("r_regionkey") === col("n_regionkey"))
      .join(Tables.customer(s, dir), col("n_nationkey") === col("c_nationkey"))
      .join(
        Tables.orders(s, dir)
          .filter(
            col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(
        Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(
        sum(col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"))

  private def q32_asof_join(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = e.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    operators.AsOfJoin.asOf(clicks, purchases, "user_id", "ts", "value")
      .select("event_id", "user_id", "ts", "asof_value")
  }

  private def q34_ngram_jaccard_filtered(s: SparkSession, dir: String): DataFrame =
    // maxShingleFreq = 3 genuinely drops stop-shingles at sf0.01 (max
    // observed doc-frequency is 7), exercising the hot-shingle anti-join
    // and the consistent-universe size computation
    Dedup.ngramJaccard(
      Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleFreq = Some(3))

  private def q35_training_prep(s: SparkSession, dir: String): DataFrame =
    operators.TrainingPrep.prepare(
      Tables.documents(s, dir), "doc_id", "text",
      minTokens = 30, maxTokens = 90, language = "en")

  private def q33_rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  private def q36_cube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  /** Exact interpolated percentiles, computed from an explicitly shared
    * formula (`lo + (hi - lo) * frac` over the sorted per-group array) so
    * both engines evaluate identical double arithmetic — engine-native
    * percentile implementations differ in interpolation form.
    */
  private def q37_percentile(s: SparkSession, dir: String): DataFrame = {
    def pct(arr: Column, p: Double): Column = {
      val n = size(arr)
      val pos = (n - 1).cast("double") * lit(p)
      val idx = floor(pos).cast("int")
      val frac = pos - idx.cast("double")
      val lo = element_at(arr, idx + 1)
      val hi = element_at(arr, least(idx + lit(2), n))
      lo + (hi - lo) * frac
    }
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(sort_array(collect_list(col("value"))).as("arr"))
      .select(
        col("event_type"),
        pct(col("arr"), 0.5).as("p50"),
        pct(col("arr"), 0.9).as("p90"))
  }

  private def q38_rank_topn(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 3)
  }

  private def q39_session_window(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Two-phase skew-salted aggregation — value-identical to a plain
    * groupBy count (the oracle checks exactly that), with any hot key's
    * reducer fan-in bounded by the salt width at scale.
    */
  private def q42_skew_salted(s: SparkSession, dir: String): DataFrame =
    operators.Skew.saltedCount(Tables.events(s, dir), "event_type", "n")

  /** Range join: clicks within the hour preceding each purchase, per
    * user — equi-key on user plus a range predicate (SMJ on the key; at
    * scale, bucket by time to bound the per-key scan).
    */
  private def q43_range_join(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    purchases
      .join(
        clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") < col("ts"),
        "left")
      .groupBy("event_id", "user_id", "ts")
      .agg(count(col("click_ts")).as("n_clicks"))
  }

  private def q44_grouping_sets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  /** Rolling-hash winnowing fingerprints (MOSS-style): polynomial
    * rolling hash over per-token md5 hashes, distinct window minima —
    * any shared run of ≥ w+k−1 tokens between two docs yields a shared
    * fingerprint, the substring-level dedup primitive.
    */
  private def q45_winnow_fingerprints(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      explode(graft.functions.expressions.WinnowFingerprintsExpr
        .winnowFingerprints(col("text"),
          TextFunctions.WinnowK, TextFunctions.WinnowWindow)).as("fp"))

  /** Relational set operators: SQL UNION (distinct) / INTERSECT /
    * EXCEPT. Note Spark's `union` is UNION ALL — the `.distinct()` makes
    * it SQL UNION.
    */
  private def q46_set_ops(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey"))
    val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
    val bigNation = c.filter(col("c_nationkey") >= 20).select(col("c_custkey"))
    building.intersect(withOrders)
      .union(machinery).distinct()
      .except(bigNation)
  }

  private val q47EventTypes = Seq("click", "view", "purchase", "signup", "error")

  private def q47_pivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
      .groupBy("user_bucket")
      .pivot("event_type", q47EventTypes)
      .agg(count(lit(1)))
      // a bucket with no rows for some type pivots to null in Spark but
      // counts 0 under the oracle's FILTER aggregation — pin to 0
      .na.fill(0L)

  private def q48_unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") <= 1000)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")

  /** HLL sketch distinct counts — approximation is engine-specific, so
    * this is a rows-only query (no DuckDB oracle); `HllSpec`-style error
    * bound asserted against exact counts in q11's oracle path.
    */
  /** HLL distinct-count with the error bound checked IN-PLAN: the HLL
    * estimate itself is engine-specific (not oracle-comparable), so the
    * output carries the exact count plus `hll_ok` = |approx - exact| ≤
    * 10%·exact (rsd 0.02 → 5σ headroom), and the oracle asserts TRUE —
    * the gate numerically checks the sketch's accuracy contract rather
    * than skipping the query. (The exact count_distinct exists only to
    * score the sketch; a production 100 TB query would run the HLL
    * alone.)
    */
  private def q40_hll_users(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count_distinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(
        col("event_type"),
        col("n"),
        col("exact_users").cast("long").as("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double")
          <= col("exact_users").cast("double") * 0.1).as("hll_ok"))

  /** IVF ANN (seeded KMeans coarse quantizer) — the clustering is not
    * SQL-expressible, so the output is the RECALL CONTRACT checked
    * in-plan: top-20 IVF hits vs the exact brute-force top-20, one row
    * `(k, n_ivf, recall_ok)`. The fixture embeddings are isotropic
    * random vectors (no cluster structure), where IVF recall has the
    * probed-fraction baseline nProbe/nLists = 10/16 = 0.625; the bound
    * asserts recall ≥ 0.65 — above that baseline, with margin under the
    * deterministic measured overlaps (15/20 at sf0.01, 18/20 at
    * sf0.001, 19/20 at sf0.1; seeded quantizer + md5-ordered training
    * sample make these reproducible). The oracle asserts the row, so
    * the gate numerically checks the ANN bound; score exactness per hit
    * is additionally spec-tested in `SimilaritySpec`.
    */
  private def q41_ivf_ann(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .filter(col("vec_id") === 0)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .map(_.toDouble)
    val emb = Tables.embeddings(s, dir)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 20, nProbe = 10)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 20)
    val overlap = ivf.select("vec_id")
      .join(brute.select("vec_id"), Seq("vec_id"))
      .agg(count(lit(1)).as("overlap"))
    ivf.agg(count(lit(1)).as("n_ivf"))
      .crossJoin(overlap) // two one-row frames
      .select(
        lit(20L).as("k"),
        col("n_ivf").cast("long").as("n_ivf"),
        (col("overlap").cast("double") >= lit(13.0)).as("recall_ok"))
  }

  /** Near-dup CLUSTERS from the exact-Jaccard PAIRS: connected
    * components (min reachable id), singletons mapping to themselves —
    * the step that turns pairwise dedup output into "keep one canonical
    * doc per cluster".
    */
  private def q49_dup_clusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
    Components.connectedComponents(
      pairs.select("id_a", "id_b"), "id_a", "id_b",
      docs.select("doc_id"), "doc_id")
      .select(col("id").alias("doc_id"), col("cluster_id"))
  }

  /** Benchmark decontamination: training docs (doc_id % 20 ≠ 0) sharing
    * any distinct 3-gram hash with the held-out benchmark slice
    * (doc_id % 20 = 0), with the count of shared distinct grams.
    */
  private def q50_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontaminate.overlaps(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 3)
  }

  /** Bloom-prefiltered EXACT decontamination (round 10): q50's
    * contamination semantics under the 100 TB membership architecture —
    * the benchmark's Bloom sketch (built distributed, a binary literal
    * in the plan) prunes the corpus gram stream map-side inside the
    * codegen filter; only the surviving sliver exact-confirms against
    * the true hash universe. One-sided error dies in the confirm stage,
    * so the kept set is byte-identical to the exact anti-join — which is
    * what the oracle hash-checks, row for row.
    */
  private def q86_bloom_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontaminate.bloomClean(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 3, expectedItems = 100000L, fpp = 0.03)
      .select(col("doc_id"))
  }

  /** Group-relative quality pruning (round 10): drop each language's
    * worst quartile by stopword ratio — per-group thresholds, because
    * an absolute cut calibrated on English would gut every other
    * language. The thresholds are one tiny per-lang aggregate
    * (q37's interpolated-percentile arithmetic, bit-identical in
    * DuckDB) broadcast back for a map-side filter; the corpus never
    * sorts (no percent_rank window — plan-audited).
    */
  private def q87_quality_prune(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        graft.functions.expressions.QualityStatsExpr
          .qualityStats(col("text"), "english").as("qs"))
      .select(col("doc_id"), col("lang"), col("qs.stopword_ratio").as("score"))
      // both the threshold aggregate and the final filter consume the
      // scored projection; materialize the (id, lang, score) scalars
      // once (24 B/row — tiny vs re-running the quality scan over text)
      .localCheckpoint(true)
    QualityPrune.pruneByGroupQuantile(scored, "lang", "score", q = 0.25)
  }

  /** Deterministic corpus shuffle + sharding (round 10): the "write
    * the training order" step — every doc gets a seeded pseudo-random
    * 60-bit order key (the [[Sampling]] family's md5-keyed decision,
    * reproducible across runs, partitionings, and engines), a uniform
    * `hash % nShards` shard, and its 1-based position within the
    * shard. One hash exchange on the shard id + per-shard local sort;
    * the corpus is never globally sorted or range-partitioned
    * (plan-audited). The full permutation is hash-checked against
    * DuckDB computing the same md5 arithmetic.
    */
  private def q88_shard_assignments(s: SparkSession, dir: String): DataFrame =
    Sharding.orderedAssignments(Tables.documents(s, dir), "doc_id", seed = 42L, nShards = 8)

  /** Vocabulary construction with coverage accounting (round 10):
    * top-V tokens by corpus frequency plus the cumulative fraction of
    * the whole token stream each rank prefix covers — the curve a
    * tokenizer budget is read off of. Token counts are one
    * partial+final aggregate; the top-V cut is a
    * `TakeOrderedAndProject` (no global token-stream sort,
    * plan-audited); the rank/coverage window runs over the V
    * surviving rows only.
    */
  private def q89_vocab_coverage(s: SparkSession, dir: String): DataFrame =
    Vocab.vocabulary(Tables.documents(s, dir), "text", topV = 500)

  /** BPE pair counting (round 10): adjacent character pairs weighted
    * by word frequency — the table whose argmax is the next BPE
    * merge. The classic distributed-BPE reduction: the token stream
    * collapses to word frequencies first (vocab-sized), pairs explode
    * over DISTINCT words only, and the pair aggregate is bounded by
    * the character-bigram universe.
    */
  private def q90_bpe_pairs(s: SparkSession, dir: String): DataFrame =
    Vocab.bpePairCounts(Tables.documents(s, dir), "text", topPairs = 50)

  /** Per-group document caps (round 10): keep at most 100 docs per
    * language, chosen by the seeded md5 order — the "domain caps" step
    * of a pre-training mix. Only over-cap groups pay a window sort
    * (each over its own slice); everything at or under the cap keeps
    * all rows via a broadcast anti-join, map-side (plan-audited). The
    * fixture's skew (en ≈ 40%) exercises BOTH paths at the verify
    * scales, and the kept set hash-checks against DuckDB running the
    * equivalent single-window form.
    */
  private def q91_group_cap(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerGroup(
      Tables.documents(s, dir).select("doc_id", "lang"),
      "doc_id", "lang", cap = 100)

  /** Benchmark contamination report (round 10): the per-EVAL-item view
    * of q50's contamination — for each benchmark doc, how many train
    * docs share its grams, how many of its grams leak, and its gram
    * total; zero rows certify clean items (the report is total over
    * the benchmark). Benchmark grams broadcast; the corpus gram
    * stream probes map-side and only matches reach the aggregate.
    */
  private def q92_contamination_report(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontaminate.report(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 3)
  }

  /** Shared DuckDB CTE chain for the apply-BPE family (q93/q95/q96/q97):
    * q90's ranked merge table applied to every document with the same
    * `replace` semantics as the Spark chain — `bfin(doc_id, toks)`.
    * Callers must open with `WITH RECURSIVE $sqlBpeTokCtes, ...`.
    */
  private def sqlBpeTokCtes: String =
    s"""mg AS (SELECT pair,
                      CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT) AS rk
               FROM (SELECT pair, sum(freq) AS cnt
                     FROM (SELECT unnest(list_transform(range(1, length(word)),
                                         i -> substring(word, CAST(i AS INTEGER), 2))) AS pair,
                                  freq
                           FROM (SELECT w AS word, count(*) AS freq
                                 FROM (SELECT unnest(${sqlTokens("text")}) AS w FROM documents)
                                 GROUP BY w)
                           WHERE length(word) > 1)
                     GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 50)),
        nm AS (SELECT count(*) AS n FROM mg),
        prep AS (SELECT doc_id,
                        ' ' || regexp_replace(array_to_string(${sqlTokens("text")}, chr(10)),
                                              '(.)', '\\1  ', 'gs') AS s
                 FROM documents),
        ap AS (SELECT doc_id, s, CAST(0 AS BIGINT) AS k FROM prep
               UNION ALL
               SELECT a.doc_id,
                      replace(a.s,
                              ' ' || substring(m.pair, 1, 1) || '  ' || substring(m.pair, 2, 1) || ' ',
                              ' ' || m.pair || ' '),
                      a.k + 1
               FROM ap a JOIN mg m ON m.rk = a.k + 1),
        bfin AS (SELECT doc_id,
                        list_filter(string_split(s, ' '),
                                    x -> length(x) > 0 AND x <> chr(10)) AS toks
                 FROM ap, nm WHERE ap.k = nm.n)"""

  /** DuckDB CTE chain reproducing the ITERATIVE BPE trainer
    * (`Bpe.trainMerges`) for q100: `numMerges` generated rounds, each
    * re-counting adjacent symbol pairs over the (word, freq) vocabulary
    * segmented by the merges so far, taking the (count desc, left asc,
    * right asc) argmax — the exact driver-side fold, in binary
    * collation — then applying it with the same one-replace pass. The
    * resulting `mg(lft, rgt, rk)` table feeds the GENERALIZED apply
    * (multi-char sides, unlike `sqlBpeTokCtes`' single-char bigram
    * form). Symbols never contain whitespace, so the tab separator in
    * the pair encoding is safe.
    */
  private def sqlBpeTrainCtes(numMerges: Int, maxVocab: Int): String = {
    // every round CTE is MATERIALIZED: the chain is self-referential
    // (p_r and s_r both read s_{r-1}; s_r reads m_r three times), so
    // DuckDB's default inlining would expand to ~4^rounds scans of the
    // base table — materialization makes each round evaluate once
    val rounds = (1 to numMerges).map { r =>
      s"""p$r AS MATERIALIZED (SELECT split_part(pr, chr(9), 1) AS lft,
                        split_part(pr, chr(9), 2) AS rgt, sum(f) AS c
                 FROM (SELECT f, unnest(list_transform(range(1, len(a)),
                              i -> a[CAST(i AS INTEGER)] || chr(9) || a[CAST(i AS INTEGER) + 1])) AS pr
                       FROM (SELECT f, list_filter(string_split(s, ' '), x -> length(x) > 0) AS a
                             FROM s${r - 1}))
                 GROUP BY 1, 2),
          m$r AS MATERIALIZED (SELECT lft, rgt FROM p$r ORDER BY c DESC, lft, rgt LIMIT 1),
          s$r AS MATERIALIZED (SELECT w, f,
                         replace(s, ' ' || (SELECT lft FROM m$r) || '  ' || (SELECT rgt FROM m$r) || ' ',
                                 ' ' || (SELECT lft || rgt FROM m$r) || ' ') AS s
                  FROM s${r - 1})"""
    }.mkString(",\n")
    val mgUnion = (1 to numMerges)
      .map(r => s"SELECT lft, rgt, CAST($r AS BIGINT) AS rk FROM m$r")
      .mkString(" UNION ALL ")
    s"""wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f
               FROM (SELECT unnest(${sqlTokens("text")}) AS w FROM documents)
               GROUP BY w ORDER BY f DESC, w LIMIT $maxVocab),
        s0 AS MATERIALIZED (SELECT w, f, ' ' || regexp_replace(w, '(.)', '\\1  ', 'gs') AS s FROM wf),
        $rounds,
        mg AS MATERIALIZED ($mgUnion),
        nm AS (SELECT count(*) AS n FROM mg),
        prep AS (SELECT doc_id,
                        ' ' || regexp_replace(array_to_string(${sqlTokens("text")}, chr(10)),
                                              '(.)', '\\1  ', 'gs') AS s
                 FROM documents),
        ap AS (SELECT doc_id, s, CAST(0 AS BIGINT) AS k FROM prep
               UNION ALL
               SELECT a.doc_id,
                      replace(a.s, ' ' || m.lft || '  ' || m.rgt || ' ',
                              ' ' || m.lft || m.rgt || ' '),
                      a.k + 1
               FROM ap a JOIN mg m ON m.rk = a.k + 1),
        bfin AS MATERIALIZED (SELECT doc_id,
                        list_filter(string_split(s, ' '),
                                    x -> length(x) > 0 AND x <> chr(10)) AS toks
                 FROM ap, nm WHERE ap.k = nm.n)"""
  }

  /** Apply-BPE tokenization (round 13): q90's merge table, APPLIED — the
    * text → token-sequence step a training loader consumes, closing the
    * train/apply loop (q90 counts pairs; this segments every document
    * with the ranked merge list). The apply chain is per-row chained
    * native `replace` over a double-space symbol encoding (textbook
    * left-to-right BPE merge semantics — see [[graft.operators.Bpe]]),
    * so the tokenization plan is scan → projection with ZERO exchanges
    * and zero UDFs; only the bounded merge-list training job aggregates
    * (50 collected rows, the same driver-scale contract as the IVF
    * samples). Output is per-doc scalars with an order-sensitive md5
    * over the full token sequence, so the oracle check pins the exact
    * segmentation, not just counts — DuckDB reproduces the apply with a
    * recursive CTE over the same ranked merges and the same `replace`
    * semantics.
    */
  private def q93_bpe_tokenize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = Bpe.rankedBigramMerges(docs, "text", topPairs = 50)
    Bpe.tokenStats(docs, "doc_id", "text", merges)
      .withColumnRenamed("id", "doc_id")
  }

  /** Sequence packing on REAL tokenizer counts (round 13): q68's
    * concat-then-split window, budgeted by q93's BPE subword counts
    * instead of the whitespace proxy — the number a training loader
    * actually packs against. Same per-shard window shape (no global
    * sort); the token counts ride the same zero-shuffle projection as
    * q93.
    */
  private def q95_bpe_pack(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = Bpe.rankedBigramMerges(docs, "text", topPairs = 50)
    // the reassembly-free count form: the replace chain runs over
    // DISTINCT words only (Bpe.tokenCounts; parity spec-pinned against
    // size(tokenize().toks)) — the Zipf shortcut a 100 TB corpus needs
    val counts = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .withColumnRenamed("id", "doc_id")
    operators.Chunker.packSummary(
      operators.Chunker.packSequencesByCount(
        counts, "doc_id", "n_tokens", budget = 512L, shards = 32))
  }

  /** Vocabulary coverage over the BPE token stream (round 13): q89's
    * top-V/coverage curve computed on q93's subword stream — the curve
    * that prices an actual tokenizer budget (the whitespace variant
    * prices words). The BPE vocab is bounded by |alphabet| + |merges|,
    * so the top-200 cut returns the whole curve on this corpus.
    */
  private def q96_bpe_vocab(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = Bpe.rankedBigramMerges(docs, "text", topPairs = 50)
    // Bpe.tokenStream: subword occurrences via the distinct-word kernel,
    // no per-doc sequence reassembly (order is irrelevant to a count)
    Vocab.vocabularyFromTokens(
      Bpe.tokenStream(docs, "text", merges), "token", topV = 200)
  }

  /** Shard manifest with real token totals (round 13): q88's seeded
    * shard assignment aggregated to the per-shard manifest a training-
    * data writer emits — document count and TOTAL BPE tokens per shard
    * (the loader's work-balance number; whitespace counts under-price
    * CJK and code). One hash exchange on the shard id; token counts
    * from the q93 projection.
    */
  private def q97_shard_manifest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = Bpe.rankedBigramMerges(docs, "text", topPairs = 50)
    val counts = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .withColumnRenamed("id", "doc_id")
    Sharding.orderedAssignments(docs, "doc_id", seed = 42L, nShards = 8)
      .select("doc_id", "shard")
      .join(counts, Seq("doc_id"))
      .groupBy("shard")
      .agg(
        count(lit(1)).alias("n_docs"),
        sum(col("n_tokens")).alias("n_tokens_total"))
  }

  /** Temperature/epoch mixture sampling (round 13): the
    * imbalanced-mix loader step — source mass ∝ √n_s (temperature 2,
    * the classic multilingual exponent), budget 2500‰ of the corpus,
    * so under-represented sources repeat across epochs while large
    * ones sample down; each doc's per-epoch keep decision is the
    * seeded md5 permille family. The rate table is computed
    * driver-side with a fixed source-ascending fold (√ is IEEE
    * correctly-rounded, so DuckDB's identical fold reproduces the
    * rates bit-for-bit); the corpus-side plan is a broadcast rate
    * join + a bounded row-local `sequence` explode + a scan-side hash
    * predicate — no shuffle (plan-audited).
    */
  private def q94_temperature_mix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureEpochSample(
      Tables.documents(s, dir).select("doc_id", "source"),
      "doc_id", "source", budgetPermille = 2500)
      .select("doc_id", "source", "epoch")

  /** Per-source tokenizer-efficiency stats (round 13): docs, BPE
    * tokens, and word characters per source, with chars-per-token — the
    * fertility table that tells a curation pipeline which domains the
    * tokenizer prices badly (CJK and code inflate token counts, i.e.
    * low chars-per-token) and drives mixture/budget decisions. Counts
    * from the distinct-word kernel; one aggregate on the source key;
    * the ratio is an exact integer division (both engines divide the
    * same BIGINTs, bit-identical).
    */
  private def q98_source_token_stats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = Bpe.rankedBigramMerges(docs, "text", topPairs = 50)
    // one pass (round 14, VERDICT r13 nit #1): the exploded word stream
    // carries subtoken count AND word length together, so the old
    // second documents scan and the doc_id reunite join are gone — the
    // per-source reunite joins a 20-row frame
    Bpe.groupTokenStats(docs, "source", "text", merges)
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_tokens").cast("double"))
  }

  /** Semantic (embedding-space) decontamination (round 14): the
    * paraphrase-leak stage the n-gram family (q50/q83/q86/q92) cannot
    * catch — per-benchmark-item counts of training docs within cosine
    * 0.4, plus the closest cosine. Exact control configuration
    * (`nLists = 1`, `nProbe = 1` — every pair compared, the q77/q80
    * oracle precedent); the corpus side is one scan + broadcast probe,
    * never shuffled (plan-audited). Clustered recall vs this
    * probe-everything twin is measured in BASELINE.md (round 14).
    */
  private def q99_semantic_decon(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bench = emb.filter(col("vec_id") % 20 === 0)
    val train = emb.filter(col("vec_id") % 20 =!= 0)
    val centroids = Similarity.trainCentroids(
      train, "vec_id", "embedding", nLists = 1, seed = 42L, trainSample = 64)
    Decontaminate.semanticReport(
      train, bench, "vec_id", "embedding", centroids, threshold = 0.4, nProbe = 1)
  }

  /** MULTI-LEVEL BPE, end to end (round 14): the REAL iterative trainer
    * (`Bpe.trainMergesFromCorpus`, 24 rounds — merge outputs merge
    * again, e.g. `s+park` over `par+k` over `p+ar`) applied through the
    * q93 machinery, plus the training-loader handoff: every doc's
    * token-ID array (frequency-ranked vocab, `Bpe.tokenIds`' lookup)
    * hash-checked alongside the token sequence. The tokenization plan
    * stays a zero-exchange zero-UDF projection (training and the vocab
    * rank are separate bounded driver jobs — vocab ≤ |alphabet| +
    * |merges| by construction); the DuckDB oracle re-runs the FULL
    * iterative trainer as generated per-round CTEs and the generalized
    * multi-char recursive apply ([[sqlBpeTrainCtes]]).
    */
  private def q100_bpe_multilevel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = Bpe.trainMergesFromCorpus(docs, "text", numMerges = 24)
    // tokenize ONCE and reuse: the vocabulary derivation collects over
    // this frame and the final projection reads it again — without the
    // checkpoint the 24-merge replace chain runs over the corpus twice
    // (and a real pipeline materializes its tokenized corpus anyway)
    val toks = Bpe.tokenize(docs, "doc_id", "text", merges).localCheckpoint(true)
    val vm = typedlit(Bpe.vocabIds(toks, "toks"))
    toks.select(
      col("id").alias("doc_id"),
      size(col("toks")).cast("long").alias("n_tokens"),
      array_max(transform(col("toks"), t => length(t))).cast("long").alias("max_token_len"),
      md5(concat_ws("|", col("toks"))).alias("seq_hash"),
      md5(concat_ws("|",
        transform(col("toks"), t => element_at(vm, t).cast("string")))).alias("ids_hash"))
  }

  /** N-gram LM perplexity filter (round 14): the CCNet-style
    * model-based quality gate — a token-bigram Stupid-Backoff LM
    * trained on the `doc_id % 10 < 8` corpus slice scores every
    * held-out document's negative log-likelihood. Fixed-point integer
    * micro-units make the cross-row reduction order-independent (a
    * DOUBLE sum would vary with partial-aggregation order); see
    * [[graft.operators.NgramLm]] for the 100 TB join shape (LM never
    * broadcast, gram-keyed shuffle joins).
    */
  private def q101_ngram_perplexity(s: SparkSession, dir: String): DataFrame =
    NgramLm.perplexity(Tables.documents(s, dir), "doc_id", "text")

  /** N-gram CONTAINMENT near-dup pairs (round 14): |A∩B|/min(|A|,|B|)
    * ≥ 0.9 — the asymmetric subset-duplication detector Jaccard
    * structurally misses (quote/boilerplate/doc-in-doc shapes).
    * Candidate generation is the asymmetric prefix-probe vs
    * full-inverted-index join ([[graft.operators.Dedup.ngramContainment]]
    * for the soundness argument); the oracle mirrors it CTE for CTE.
    */
  private def q102_containment(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainment(Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.9)

  /** Z-order layout report (round 14): Morton-interleave two hashed
    * key dimensions, bucket by the top 6 z-bits (the deterministic
    * analogue of 64 range-partitioned files), and emit each bucket's
    * per-dimension min/max extent — the parquet-footer numbers file
    * skipping reads. The dims are md5-hash-spread into an 8-bit domain
    * so the report is non-degenerate at EVERY fixture SF (raw TPC-H
    * keys at small SF never reach the top interleave bits). Pure
    * integer arithmetic; the interleave is a codegen'd bit sum
    * ([[graft.operators.Layout]], which also carries the `clusterByZ`
    * write path this reports on — `LayoutSpec` proves the per-file
    * two-dimensional extent bound on real parquet output).
    */
  private def q103_zorder_stats(s: SparkSession, dir: String): DataFrame =
    Layout.zOrderStats(
      Tables.lineitem(s, dir).select(
        (TextFunctions.md5Hash60(col("l_partkey").cast("string")) % 256).alias("xd"),
        (TextFunctions.md5Hash60(col("l_suppkey").cast("string")) % 256).alias("yd")),
      "xd", "yd", bits = 8, bucketBits = 6)

  /** Per-source quality profile (round 14): the q101 LM scores rolled
    * up into the curation dashboard — held-out docs histogrammed into
    * FIXED unit-width NLL bins (`floor(avg_nll)`), then per
    * (source, bin) counts with the bin's exact score range. The table
    * that says WHICH domains supply the junk tail a perplexity cutoff
    * would drop. Fixed absolute bins, not quantiles, by design: the
    * bucketing is a row-local projection (no global sort/window — a
    * corpus-wide ntile would serialize the whole held-out set through
    * one partition at 100 TB) and bins mean the same thing across
    * sources and across ingest snapshots. min/max of exact per-doc
    * doubles (no cross-row double sums — the q101 fixed-point argument
    * carries through; floor of a bit-identical double is engine-safe).
    */
  private def q104_quality_profile(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    NgramLm.perplexity(docs, "doc_id", "text")
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select(col("source"), col("avg_nll"),
        floor(col("avg_nll")).cast("long").alias("nll_bin"))
      .groupBy("source", "nll_bin")
      .agg(
        count(lit(1)).alias("n_docs"),
        max("avg_nll").alias("best_nll"),
        min("avg_nll").alias("worst_nll"))
  }

  /** Prototype-outlier prune (round 14): cosine of every embedding to
    * its cell centroid with a low-cosine outlier flag — the
    * embedding-space NOISE pruner (the SemDeDup companion: q77 prunes
    * vectors too close to each other, this prunes vectors too far from
    * every prototype). `nLists = 1` is the oracle configuration (the
    * q77/q80/q99 precedent): the 8-iteration Lloyd fit collapses to the
    * sequential sample-order mean, which DuckDB reproduces with an
    * ordered element-wise `list_reduce` over the same md5-ordered
    * 256-row sample. Scoring is one row-local projection — zero
    * exchanges, centroids ship as plan literals
    * ([[graft.operators.Similarity.prototypeOutliers]]).
    */
  private def q105_prototype_prune(s: SparkSession, dir: String): DataFrame =
    Similarity.prototypeOutliers(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      nLists = 1, lowCos = -0.15, trainSample = 256)

  /** q106's fixed query: one rare discriminative term plus two common
    * ones, so the idf spread (not just tf) drives the ranking.
    */
  private val q106Terms = Seq("dup", "vector", "merge")

  /** BM25 search (round 14): top-20 docs for the fixed query — ln idf
    * kept (the cross-term SUM makes log damping load-bearing, unlike
    * q52's rank-equivalent ratio idf), determinism via the q101
    * fixed-point rule: per-term micros rounded row-locally, cross-term
    * total a BIGINT sum ([[graft.operators.TfIdf.bm25Rank]] for the
    * one-scan / broadcast-stats / TakeOrdered shape).
    */
  private def q106_bm25(s: SparkSession, dir: String): DataFrame =
    TfIdf.bm25Rank(Tables.documents(s, dir), "doc_id", "text", q106Terms)

  /** DuckDB mirror of [[graft.operators.TfIdf.bm25Rank]] — same operand
    * order everywhere; constants written as the same decimal literals /
    * arithmetic (`1.2 + 1.0`, never a pre-folded `2.2` that might round
    * differently from the engine-side sum).
    */
  /** The bm25Rank CTE chain up to `sc(doc_id, score_micro)` — shared
    * by the q106 oracle and q115's candidate stage.
    */
  private def sqlBm25Ctes: String = {
    val avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    val tfDefs = q106Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(t, x -> x = '${t.replace("'", "''")}')) AS tf_$i"
    }.mkString(", ")
    val dfDefs = q106Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(", ")
    val micros = q106Terms.indices.map { i =>
      s"""CAST(round((ln(1.0 + ((CAST(n_docs - df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5)))
           * ((CAST(tf_$i AS DOUBLE) * (1.2 + 1.0)) /
              (CAST(tf_$i AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / $avgdl))))) * 1000000) AS BIGINT)"""
    }.mkString(" + ")
    s"""tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents
               WHERE text IS NOT NULL),
        bs AS (SELECT doc_id, len(t) AS dl, $tfDefs FROM tk),
        st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl, $dfDefs
               FROM bs),
        sc AS (SELECT doc_id, $micros AS score_micro FROM bs CROSS JOIN st)"""
  }

  private def sqlBm25Oracle: String =
    s"""WITH $sqlBm25Ctes
        SELECT doc_id, score_micro, CAST(score_micro AS DOUBLE) / 1000000.0 AS score
        FROM sc ORDER BY score_micro DESC, doc_id ASC LIMIT 20"""

  /** Snapshot diff (round 14): added/removed/changed report between a
    * deterministically perturbed "previous" snapshot of `documents` and
    * the current one — drop every `doc_id % 7 = 3` (→ added), age the
    * text of `doc_id % 11 = 5` (→ changed), and graft in an id-shifted
    * slice (`doc_id % 13 = 1`, +1e9) that only the old snapshot has
    * (→ removed). Content fingerprints are scan-side md5, so only
    * `(id, 32 hex chars)` crosses the full-outer join
    * ([[graft.operators.Snapshot.diff]]).
    */
  private def q107_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val oldCore = docs
      .filter(col("doc_id") % 7 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 11 === 5, concat(col("text"), lit(" legacy")))
          .otherwise(col("text")))
    val oldExtra = docs
      .filter(col("doc_id") % 13 === 1)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
    Snapshot.diff(
      oldCore.unionByName(oldExtra), docs, "doc_id", Seq("source", "text"))
  }

  /** BM25 retrieval join (round 14): per-query top-10 over a derived
    * query table — every `doc_id % 97 = 0` doc queries with its own
    * first three tokens (the relevance-feedback shape; the query doc
    * itself should surface in its ranking). The join-shaped sibling of
    * q106: postings move on term keys, documents never shuffle
    * ([[graft.operators.TfIdf.bm25Join]]).
    */
  private def q108_bm25_join(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val queries = docs
      .filter(col("doc_id") % 97 === 0)
      .select(
        col("doc_id").alias("qid"),
        slice(TextFunctions.tokens(col("text")), 1, 3).alias("qterms"))
    TfIdf.bm25Join(docs, "doc_id", "text", queries, "qid", "qterms")
  }

  /** Chunk→doc mean-pool (round 14): element-wise mean per group of 50
    * pseudo-documents (`vec_id % 50`) through the native
    * `vector_micro_sum` TypedImperativeAggregate — fixed-point integer
    * accumulation, one buffer per group per partition over the shuffle
    * ([[graft.operators.Similarity.meanPoolEmbeddings]]). Exploded
    * scalar output; the oracle reproduces the identical micro sums with
    * an element-indexed LATERAL unnest.
    */
  private def q109_mean_pool(s: SparkSession, dir: String): DataFrame =
    Similarity.meanPoolEmbeddings(
      Tables.embeddings(s, dir).withColumn("group_id", col("vec_id") % 50),
      "group_id", "embedding")

  /** Source-overlap matrix (round 14): pairwise shingle-universe
    * Jaccard between the corpus's sources — the mirror/coverage
    * dashboard read before any doc-level dedup spend
    * ([[graft.operators.Dedup.sourceOverlap]]; output bounded by
    * #sources², not document volume).
    */
  private def q110_source_overlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(Tables.documents(s, dir), "source", "text", n = 3)

  /** Curation funnel (round 14): per-stage survivor counts for the q35
    * pipeline's gates — one fused `corpus_stats` scan into one
    * aggregate (conditional sums + a conditional distinct over the
    * fingerprint), unpivoted to 4 rows
    * ([[graft.operators.TrainingPrep.funnelReport]]).
    */
  private def q111_funnel(s: SparkSession, dir: String): DataFrame =
    operators.TrainingPrep.funnelReport(
      Tables.documents(s, dir), "doc_id", "text",
      minTokens = 30, maxTokens = 90, language = "en")

  /** PMI collocations (round 14): top-50 above-chance adjacent pairs
    * over the q101 LM's own count tables — phrase mining from counts
    * the pipeline already maintains
    * ([[graft.operators.NgramLm.pmiCollocations]]).
    */
  private def q112_pmi_collocations(s: SparkSession, dir: String): DataFrame =
    NgramLm.pmiCollocations(
      Tables.documents(s, dir), "doc_id", "text", minCount = 3L, topK = 50)

  /** Per-source KL divergence vs the corpus mixture (round 14): the
    * domain-shift dashboard ([[graft.operators.Vocab.sourceDivergence]]
    * — scan-side term maps, corpus counts derived from the per-source
    * table, nano fixed-point KL terms summed as BIGINT per source).
    */
  private def q113_source_divergence(s: SparkSession, dir: String): DataFrame =
    Vocab.sourceDivergence(Tables.documents(s, dir), "source", "text")

  /** Dedup-gate calibration sweep (round 14): pair/doc survival at
    * each candidate Jaccard cutoff, from ONE candidate generation at
    * the lowest threshold ([[graft.operators.Dedup.jaccardThresholdSweep]]).
    */
  private def q114_threshold_sweep(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardThresholdSweep(
      Tables.documents(s, dir), "doc_id", "text",
      n = 3, thresholds = Seq(0.5, 0.7, 0.9))

  /** Hybrid retrieval (round 14): q106's lexical candidates re-ranked
    * by cosine to the q22 query embedding — the retrieve-then-rerank
    * composition, both signals as integer micros
    * ([[graft.operators.TfIdf.hybridRank]]). The embedding table joins
    * by id AFTER the candidate cut, so at scale it is a point lookup.
    */
  private def q115_hybrid_rank(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir)
      .filter(col("vec_id") === 0)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .map(_.toDouble)
    TfIdf.hybridRank(
      Tables.documents(s, dir), "doc_id", "text",
      Tables.embeddings(s, dir), "vec_id", "embedding",
      q106Terms, qv)
  }

  /** Per-source dedup burden (round 14): which feeds waste the dedup
    * budget ([[graft.operators.Dedup.sourceDupStats]]).
    */
  private def q116_source_dup_stats(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceDupStats(Tables.documents(s, dir), "source", "text")

  /** Skew-hardened perplexity (round 15): q101's exact computation with
    * the hot-gram hot/cold split engaged (`hotKeys = 32` — every gram
    * join routes its top-32 hottest keys through a broadcast map-side
    * lookup, [[graft.operators.Skew.hotColdLeftJoin]]). Results are
    * row-identical to q101 BY CONSTRUCTION, so the oracle is q101's
    * verbatim — this entry oracle-checks the split arithmetic
    * end-to-end at gate scale (BASELINE.md round 15 covers the plan/skew side).
    */
  private def q118_perplexity_hardened(s: SparkSession, dir: String): DataFrame =
    NgramLm.perplexity(Tables.documents(s, dir), "doc_id", "text", hotKeys = 32)

  /** Auto-skew perplexity (round 16): `hotKeys = -1` — the operator
    * measures the head itself ([[graft.operators.NgramLm.autoHotKeys]])
    * instead of being handed a K. The fixture vocabulary is
    * near-uniform (auto would resolve 0 and this entry would not
    * exercise the split), so the corpus is first Zipf-collapsed the
    * way the round-15 skew measurement (BASELINE.md) derived its
    * stress corpus: every token whose md5-60 is even folds onto the literal `zipfhot` (≈ half the
    * token mass on one unigram — a harsher head than natural text).
    * Auto then ENABLES the hot/cold split at gate scale
    * (plan-audited), and the oracle is the SAME perplexity SQL over
    * the same collapse — row-identical by the split's construction,
    * so the gate hash-checks the whole auto path end-to-end.
    */
  private def q120_perplexity_autoskew(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{array_join, lit, pmod, split, transform, when}
    val collapsed = Tables.documents(s, dir).select(
      col("doc_id"),
      array_join(
        transform(split(col("text"), " "),
          w => when(pmod(graft.functions.TextFunctions.md5Hash60(w), lit(2L)) === 0L,
            lit("zipfhot")).otherwise(w)),
        " ").alias("text"))
    NgramLm.perplexity(collapsed, "doc_id", "text", hotKeys = -1)
  }

  /** Markup extraction (round 16): every real pretraining corpus
    * starts as crawled markup, so the text family needs an ingestion
    * front door. Each document is wrapped in a deterministic HTML
    * template — entity-escaped payload, a `<style>` block, a
    * `<script>` block whose body contains raw `<`/`>`/`&` (the
    * reason script bodies must be dropped BEFORE tag/entity
    * processing), an HTML comment, and decimal/hex numeric entities —
    * then recovered with the native codegen
    * [[graft.functions.expressions.HtmlToTextExpr]] scan. `round_trip`
    * re-derives the expected extraction from the raw columns
    * independently on BOTH engines, so the oracle pins not just
    * hash-parity of the strip but its semantic correctness. The whole
    * plan is one fused scan projection — no shuffle, no UDF.
    */
  private def q121_html_extract(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.HtmlToTextExpr
    def esc(c: Column): Column =
      regexp_replace(regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    def norm(c: Column): Column =
      trim(regexp_replace(c, "[ \\t\\n\\r\\f\\x0B]+", " "))
    val html = concat(
      lit("<!DOCTYPE html><html><head><title>"), esc(col("source")),
      lit("</title><style type=\"text/css\">body { color: #222; }</style>"),
      lit("<script>if (2 < 3 && 1 > 0) { var x = \"a&b\"; }</script></head><body><!-- doc "),
      col("doc_id").cast("string"),
      lit(" --><h1>"), esc(col("lang")), lit("</h1><div class=\"main\"><p>"),
      esc(col("text")),
      lit("</p><br/>&#8212;&nbsp;fin&#x21;</div></body></html>"))
    val expected = concat(
      col("source"), lit(" "), col("lang"), lit(" "),
      when(norm(col("text")) === "", lit("")).otherwise(concat(norm(col("text")), lit(" "))),
      lit("— fin!"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        HtmlToTextExpr.htmlToText(html).alias("extracted"),
        expected.alias("expected"))
      .select(
        col("doc_id"),
        col("extracted"),
        length(col("extracted")).cast("long").alias("n_out"),
        (col("extracted") === col("expected")).alias("round_trip"))
  }

  /** Fuzzy (edit-distance) self-join (round 16): all document pairs
    * whose 16-char text prefix is within Levenshtein distance 3 —
    * the near-identical-title / typo'd-key matcher hash dedup misses.
    * Candidates come from PassJoin segment blocking
    * ([[graft.operators.EditDistanceJoin]]); the oracle is the exact
    * DuckDB `levenshtein` cross-join, so the gate proves the blocking
    * loses NO pair at threshold 3.
    */
  private def q122_edit_join(s: SparkSession, dir: String): DataFrame =
    EditDistanceJoin.selfJoin(
      Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 16).alias("k")),
      "doc_id", "k", maxDist = 3)


  /** Incremental fuzzy join (round 16): q122's matcher in the
    * per-trigger production shape — a bounded new batch (every
    * `doc_id % 29 = 0` doc) probed against the FULL corpus with the
    * corpus side as a never-shuffled map-side segment index and the
    * batch's probe substrings broadcast
    * ([[graft.operators.EditDistanceJoin.incrementalJoin]]).
    */
  private def q123_edit_join_incremental(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.documents(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, 16).alias("k"))
    EditDistanceJoin.incrementalJoin(
      keys, keys.filter(col("doc_id") % 29 === 0), "doc_id", "k", maxDist = 3)
  }


  /** Count-Min point-query sketch (round 16): per-token frequency
    * estimates for a bounded watchlist (tokens of every `doc_id % 101
    * = 0` doc) from a `3 x 64` sketch over the full corpus, with the
    * exact counts as the in-query control — `over = est - exact` is
    * the collision mass, provably >= 0 (one-sided error). The oracle
    * rebuilds the same md5-bucketed sketch in SQL, so the gate checks
    * the ESTIMATES bit-for-bit ([[graft.operators.CountMin]]).
    */
  private def q124_countmin_freq(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(explode(TextFunctions.tokens(col("text"))).alias("w"))
    val watch = docs.filter(col("doc_id") % 101 === 0)
      .select(explode(TextFunctions.tokens(col("text"))).alias("w")).distinct()
    val est = CountMin.estimate(
      CountMin.buildTable(tok, "w", depth = 3, width = 64),
      watch, "w", depth = 3, width = 64)
    // exact control: corpus tokens pruned by the broadcast watchlist
    // BEFORE the count shuffle
    val exact = tok.join(broadcast(watch), Seq("w"), "left_semi")
      .groupBy("w").agg(count(lit(1)).alias("exact"))
    est.join(exact, col("key") === col("w"))
      .select(col("key").alias("token"), col("est"), col("exact"),
        (col("est") - col("exact")).alias("over"))
  }


  /** Content-defined chunking profile (round 16): every document cut
    * at content-derived boundaries (trailing-8 md5 window, residue 0
    * mod 16 — expected 16-char chunks), per-doc chunk counts and
    * cross-doc duplicate-chunk mass ([[graft.operators.Cdc]]). The
    * byte-level dedup primitive for opaque payloads: boundaries move
    * with the content, so a prefix insertion re-fingerprints one
    * chunk, not the document (spec-pinned in `CdcSpec`).
    */
  private def q125_cdc_profile(s: SparkSession, dir: String): DataFrame =
    Cdc.dupChunkProfile(Tables.documents(s, dir), "doc_id", "text",
      window = 8, divisor = 16)


  /** KMV distinct-count sketch (round 16): per-source distinct-token
    * estimates from a k-minimum-values sketch (k = 256) with the exact
    * `count(DISTINCT …)` control beside them
    * ([[graft.operators.Kmv]]). Unlike q40's built-in HLL (whose
    * estimate is engine-specific, oracle-checkable only via an in-plan
    * error bound), the KMV minima derive from the repo-wide md5-60
    * hash, so the DuckDB oracle reproduces the k-th order statistic —
    * and therefore the ESTIMATE — bit-for-bit. The sketch side is a
    * map-side-partial `TypedImperativeAggregate` (k longs per group
    * per partition; only sketches cross the shuffle): the scale path
    * for distinct counting, with the exact side standing in as the
    * control it replaces.
    */
  private def q126_kmv_distinct(s: SparkSession, dir: String): DataFrame =
    Kmv.distinctTokensPerSource(Tables.documents(s, dir), "source", "text", k = 256)


  /** Log-bucket histogram quantiles (round 16): per-source p50/p90/p99
    * of the per-doc token count from a ≤ 64-bucket power-of-two
    * histogram, the exact discrete percentile beside the bounds as the
    * control — and `bounded` proving the sketch guarantee in-data
    * ([[graft.operators.HistQuantile]]). The bucket index is exact
    * integer arithmetic (`length(bin(v))`), so unlike
    * `approx_percentile` the DuckDB oracle reproduces the estimate
    * itself. Histograms merge by adding counts and SUBTRACT exactly
    * (retirement-friendly, unlike KMV).
    */
  private def q127_hist_quantiles(s: SparkSession, dir: String): DataFrame =
    HistQuantile.tokenCountProfile(Tables.documents(s, dir), "source", "text")


  /** Chunk-containment dedup (round 16): the action form of q125 —
    * drop any document whose chunk mass is ≥ 50% OWNED by an earlier
    * document (owner = smallest doc id sharing the fingerprint, the
    * exact tier's keep-best rule). Byte-level PARTIAL-duplication
    * dedup: boilerplate-plus-a-paragraph pages, prepended-header
    * re-uploads, re-crawled append-only logs — the cases whole-doc
    * fingerprints miss and token-set containment (q102) under-weights
    * ([[graft.operators.Cdc.containmentDedup]]).
    */
  private def q128_cdc_containment(s: SparkSession, dir: String): DataFrame =
    Cdc.containmentDedup(Tables.documents(s, dir), "doc_id", "text",
      window = 8, divisor = 16, maxCoveredMicro = 500000L)


  /** Interval (range) join (round 16): purchase attribution over the
    * event log — per purchase, the count of the same user's
    * click/view events inside the following hour
    * ([[graft.operators.RangeJoin.intervalJoin]], bin-bucketed: both
    * sides equi-join on scalar `(user_id, hour-bin)` and the
    * containment predicate runs on candidates only, versus the
    * theta-join the direct `BETWEEN` formulation plans — per-key
    * points × intervals fan-out, or a BroadcastNestedLoop once the
    * key is dropped). Zero-match purchases survive with `n_follow = 0`
    * via the aggregate-then-left-join tail; the oracle is the direct
    * inequality LEFT JOIN, so the gate proves the bucketing loses —
    * and fabricates — no pair.
    */
  private def q129_interval_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
    val pts = ev
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts"))
    val pairs = RangeJoin.intervalJoin(
      pts, "ts", purchases, "w_start", "w_end", Seq("user_id"),
      binWidthSec = 3600L, lowerInclusive = false, upperInclusive = true)
    purchases
      .join(
        pairs.groupBy("purchase_id").agg(count(lit(1)).as("__n")),
        Seq("purchase_id"), "left")
      .select(
        col("purchase_id"), col("user_id"),
        coalesce(col("__n"), lit(0L)).as("n_follow"))
  }


  /** Unicode normalization front door (round 16): every document
    * deterministically decorated with the encoding hazards a web crawl
    * actually serves — composed accents (`É ç ï`), a DECOMPOSED
    * `e + COMBINING ACUTE`, and the mark-free lookalikes (`ß`, the
    * `ﬁ` ligature) that naive regex "accent removal" corrupts — then
    * pushed through the native codegen pair
    * ([[graft.functions.expressions.UnicodeNormExprs]]):
    * `nfc_normalize` (canonical composition, the pre-fingerprint
    * canonicalization) and `strip_accents` (NFD → drop Mn/Mc/Me →
    * recompose, DuckDB/utf8proc semantics — the oracle IS DuckDB's
    * own `nfc_normalize`/`strip_accents` over the same decoration).
    * Scan-stage-fused, shuffle-free; ASCII rows take a zero-allocation
    * fast path.
    */
  private def q130_unicode_norm(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.UnicodeNormExprs
    val decorated = concat(
      lit("\u00c9l\u00e9v\u00e0t\u00efon \u00c7af\u00e9 \u00fc \u00df \ufb01 e\u0301 "),
      col("text"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        UnicodeNormExprs.nfcNormalize(decorated).as("nfc_text"),
        UnicodeNormExprs.stripAccentsCol(decorated).as("clean_text"))
      .withColumn("n_chars_nfc", length(col("nfc_text")).cast("long"))
      .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
  }


  /** Join-key overlap diagnostic (round 16): distinct-key estimates
    * for `orders.o_custkey` vs `customer.c_custkey` — both sides,
    * union, and intersection by inclusion–exclusion — from two KMV
    * sketches and their (exact-property) merge, with the exact
    * controls beside them ([[graft.operators.Kmv.keyOverlap]]). The
    * pre-join probe a 100 TB join is sized with: two map-side sketch
    * aggregates instead of shuffling either key universe; every
    * estimate an integer-order-statistic derivation the oracle
    * reproduces bit-for-bit (q126's standard).
    */
  private def q131_key_overlap(s: SparkSession, dir: String): DataFrame =
    Kmv.keyOverlap(
      Tables.orders(s, dir), "o_custkey",
      Tables.customer(s, dir), "c_custkey", k = 128)


  /** Weighted sampling without replacement (round 16):
    * Efraimidis–Spirakis A-ES over the corpus — top-15 docs per source
    * with probability proportional to `n_chars`
    * ([[graft.operators.Sampling.weightedSample]]): the
    * quality/length-proportional draw the training-mix family
    * (uniform q51, stratified, mixture q73, temperature q94) lacked.
    * Priorities are seeded-hash uniforms through `ln(u)/w` in integer
    * micros (no `pow` — libm-portable), so the oracle reproduces
    * rank order exactly.
    */
  private def q132_weighted_sample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(
      Tables.documents(s, dir), "source", "doc_id", "n_chars", k = 15)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("pri_micro"), col("rank"))


  /** Character-entropy quality signal (round 16): per-doc unigram
    * code-point entropy in integer micro-nats through the native
    * `char_entropy` scan kernel
    * ([[graft.functions.expressions.CharEntropyExpr]]) — the
    * gibberish/compressibility member of the quality family (base64
    * blobs, key dumps, padding runs have statistically wrong character
    * distributions that token-level stats miss), plus the per-source
    * extrema/mean rollup a filtering threshold is calibrated from.
    * Per-term micro rounding, exact integer sum (the q101 fixed-point
    * rule), so the oracle reproduces every value bit-for-bit.
    */
  /** As-of join with direction + tolerance (round 16): each click gets
    * the SAME USER's most recent prior purchase value, but only if it
    * happened within the last 2 hours — the pandas-`merge_asof`
    * surface ([[graft.operators.AsOfJoin.asOf]], one key shuffle + one
    * window pass; no inequality fan-out). The oracle is DuckDB's
    * NATIVE `ASOF LEFT JOIN` with a staleness CASE — an independent
    * second-engine implementation of as-of, not a re-transcription of
    * our plan.
    */
  private def q134_asof_tolerance(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = e.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    operators.AsOfJoin.asOf(
        clicks, purchases, "user_id", "ts", "value",
        direction = "backward", toleranceSec = Some(7200L))
      .select("event_id", "user_id", "asof_value", "asof_ts")
  }

  /** DSIR-style importance-weighted data selection (round 16): score
    * each candidate doc under a target-domain bigram LM (trained on
    * the `doc_id % 10 = 8` slice) and a raw-corpus LM (the `= 9`
    * slice), take the per-bigram log-likelihood ratio as the
    * importance log-weight, and Gumbel-top-k draw 15 docs without
    * replacement proportional to `exp(lw)` —
    * [[graft.operators.NgramLm.importanceSelect]] (Xie et al. 2023).
    * One tokenization feeds both scorings (ReusedExchange,
    * plan-audited); LMs join gram-keyed, never broadcast; the final
    * cut is a TakeOrdered of scalars. Every micro value is the q101
    * fixed-point rule, so the oracle reproduces the draw bit-for-bit.
    */
  private def q135_dsir_select(s: SparkSession, dir: String): DataFrame =
    NgramLm.importanceSelect(Tables.documents(s, dir), "doc_id", "text", k = 15)

  /** Int8 scalar-quantized (SQ8) cosine top-k (round 16): the 4×
    * storage tier between raw float32 and PQ —
    * [[graft.operators.Similarity.int8TopK]], one fused codegen pass
    * per row (max-abs quantize + integer dot + norm divide, no code
    * array materialized), exact float cosine riding along from the
    * same scan so per-row quantization error is auditable. Rounding is
    * half-away-from-zero on BOTH engines, the integer dot is exact,
    * and the final divide is one fixed IEEE order — the oracle
    * reproduces every quantized score bit-for-bit.
    */
  private def q136_int8_topk(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .filter(col("vec_id") === 0)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .toArray
    Similarity.int8TopK(Tables.embeddings(s, dir), "vec_id", "embedding", q, 20)
  }

  /** Gopher-rules composite quality gate (round 16): the seven absolute
    * document heuristics of Rae et al. 2021 A1.1 — word count, mean
    * word length, alphabetic-word fraction, stop-word presence,
    * ellipsis/bullet line fractions, symbol ratio — over ONE native
    * `gopher_stats` scan pass
    * ([[graft.operators.QualityPrune.gopherGate]]), emitting every rule
    * input, every flag, `keep`, and the first-failing `fail_reason`
    * (the auditable form). `minTokens = 25` and `minStopHits = 1` so
    * the gate discriminates at fixture scale (fixture docs run 10–99
    * tokens of stop-word-poor word salad); everything else is the
    * paper's thresholds.
    */
  private def q137_gopher_gate(s: SparkSession, dir: String): DataFrame =
    QualityPrune.gopherGate(Tables.documents(s, dir), "doc_id", "text",
      minTokens = 25L, minStopHits = 1L)

  /** IVF-SQ8 composed ANN (round 16): coarse cells route the probe,
    * int8 codes score inside the probed cells, exact float re-rank of
    * the bounded candidate set in the SAME plan
    * ([[graft.operators.Similarity.ivfSq8TopK]] — zero shuffles, no
    * second corpus pass). Like q41/q82 the oracle is an in-plan
    * accuracy bound: deterministic seed ⇒ deterministic recall, so the
    * 1-row summary's constants are the gate.
    */
  private def q138_ivf_sq8(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .filter(col("vec_id") === 0)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .toArray
    val emb = Tables.embeddings(s, dir)
    val ann = Similarity.ivfSq8TopK(
      emb, "vec_id", "embedding", q, k = 20, nLists = 16, nProbe = 10,
      rerank = 60)
    val brute = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", q.map(_.toDouble).toSeq, 20)
    val overlap = ann.select("vec_id")
      .join(brute.select("vec_id"), Seq("vec_id"))
      .agg(count(lit(1)).as("overlap"))
    ann.agg(count(lit(1)).as("n_ann"))
      .crossJoin(overlap)
      .select(
        lit(20L).as("k"),
        col("n_ann").cast("long").as("n_ann"),
        (col("overlap").cast("double") >= lit(13.0)).as("recall_ok"))
  }

  /** Hard-negative mining (round 16): for each query (every 97th doc,
    * first-3-token query, the doc ITSELF as the known positive — the
    * classic self-supervised setup), the top-5 BM25-scoring OTHER docs
    * ([[graft.operators.TfIdf.hardNegatives]] — one bm25Join at
    * candidate depth 20, per-query anti-join of positives, re-rank).
    * The contrastive-training counterpart of q108: same postings
    * pruning, same fixed-point micros, so the oracle extends q108's
    * SQL with the anti-join and the re-rank cut.
    */
  private def q139_hard_negatives(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = docs
      .filter(col("doc_id") % 97 === 0)
      .select(
        col("doc_id").alias("qid"),
        slice(TextFunctions.tokens(col("text")), 1, 3).alias("qterms"),
        col("doc_id").alias("pos_id"))
    TfIdf.hardNegatives(docs, "doc_id", "text", pairs, "qid", "qterms",
      "pos_id", nNeg = 5, candidates = 20)
  }

  /** Corpus data card (round 16): one datasheet row per source — doc
    * and token volume, exact-dup fraction, majority language + share,
    * mean character entropy
    * ([[graft.operators.TrainingPrep.dataCard]] — one fused native
    * scan pass, two source-keyed aggregates, text never shuffles). The
    * Gebru-et-al. "datasheets" summary a mixture decision or audit
    * starts from, built from signals the registry already gates
    * individually (q35 fingerprints, q24 language, q133 entropy).
    */
  private def q140_data_card(s: SparkSession, dir: String): DataFrame =
    operators.TrainingPrep.dataCard(Tables.documents(s, dir), "text", "source")


  /** Guarded fuzzy self-join (round 17): q122's matcher in its
    * PRODUCTION configuration — `maxBlockFreq = 4` drops PassJoin
    * block keys hotter than the cap before the candidate join
    * ([[graft.operators.EditDistanceJoin.selfJoin]]'s mode split; the
    * q119/`maxShingleFreq` and [[graft.operators.RangeJoin]]
    * fail-fast doctrine applied to the segment blocks). The guarded
    * plan also never shuffles key strings: candidates travel as bare
    * id pairs, keys rejoin by id. The oracle re-derives the exact
    * survive-predicate in SQL — segment layout arithmetic, index-side
    * block frequencies, the ±d probe window — against the exact
    * levenshtein pair set, so the gate proves BOTH that the cap drops
    * exactly the all-hot-segment pairs (12 of 76 at sf0.01: shared
    * boilerplate prefixes, the pairs the cap exists to suppress) and
    * that the blocking finds every surviving one.
    */
  private def q141_edit_join_guarded(s: SparkSession, dir: String): DataFrame =
    EditDistanceJoin.selfJoin(
      Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 16).alias("k")),
      "doc_id", "k", maxDist = 3, maxBlockFreq = Some(4))


  /** URL canonicalization (round 17): the q121/q130 front-door pattern
    * applied to the web-pipeline dedup key — deterministic messy URLs
    * derived from fixture columns (mixed-case scheme/host, default and
    * explicit ports, userinfo, fragments, tracking params, unreserved
    * and reserved percent-encodings, IP hosts, unknown TLDs, plain
    * garbage) through the three natives
    * ([[graft.functions.expressions.UrlExprs]]): `url_normalize`,
    * `url_host`, `registrable_domain`. DuckDB has NO url functions, so
    * the oracle re-derives the documented normalization chain from
    * regexp/string/list ops — including the split-on-% single-pass
    * percent decode — making the gate a true two-implementation check
    * of every documented step.
    */
  private def q142_url_normalize(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val m = col("doc_id") % 8
    val url = when(m === 0, concat(
        lit("HTTP://WWW.Example.COM:80/Docs/%41rt%2Ficle-"), id,
        lit("?utm_source=feed&b=2&a=1#frag")))
      .when(m === 1, concat(
        lit("https://Blog.Example.CO.UK:443/"), col("lang"),
        lit("/page?gclid=x1&UTM_TERM=y")))
      .when(m === 2, lit("http://user:pw@Example.IO:8080/p%7Ex/?z=%7E0&a=%2F&a=%2E"))
      .when(m === 3, lit("ftp://Files.Example.net:21/a/b"))
      .when(m === 4, concat(
        lit("https://192.168.0."), (col("doc_id") % 250).cast("string"), lit(":443/x")))
      .when(m === 5, concat(lit("http://intranethost/"), id))
      .when(m === 6, concat(lit("http://deep.sub.Example.xyz?q="), id, lit("&q")))
      .otherwise(concat(lit("not-a-url-"), id))
    Tables.documents(s, dir).select(
      col("doc_id"),
      UrlExprs.urlNormalize(url).alias("norm_url"),
      UrlExprs.urlHost(url).alias("host"),
      UrlExprs.registrableDomain(UrlExprs.urlHost(url)).alias("domain"))
  }


  /** Unigram-LM (SentencePiece-style) tokenizer (round 17): the BPE
    * family's missing sibling — hard-EM trains a piece vocabulary with
    * integer-micro log-probs over the capped word table (two EM
    * rounds, 96-multi seed pruned 64 → 48, alphabet always kept), then
    * Viterbi-segments every document through ONE native scan
    * expression ([[graft.operators.Unigram]]). The oracle re-runs the
    * ENTIRE trainer in SQL (the q100 bar): seed substring counts,
    * per-round smoothed log-probs, the DP as a recursive CTE with the
    * same longest-piece tie-break, the prune, and the final apply —
    * then hash-checks each doc's exact piece sequence and its
    * fixed-point negative log-likelihood.
    */
  private def q143_unigram_tokenize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val vocab = operators.Unigram.trainFromCorpus(
      docs, "text", maxWords = 300, seedMulti = 96,
      maxPieceLen = 4, pruneSizes = Seq(64, 48))
    operators.Unigram.tokenStats(docs, "doc_id", "text", vocab, maxPieceLen = 4)
  }


  /** Perceptual-hash image near-dup (round 17): `dhash64` over derived
    * opaque payloads with PLANTED perceptual clusters (five consecutive
    * ids share an md5-chain "image"; four carry only a tiny per-doc
    * tail edit — near-dups by construction; the fifth gets a 32-byte
    * shift block — pushed out of range), then Hamming banding
    * (`maxDist + 1 = 7` pigeonhole bands since round 18 — complete
    * recall at the requested threshold) and the exact
    * `bit_count(xor) <= 6` verify
    * ([[graft.operators.Multimodal.perceptualNearDup]]). The derived
    * payloads are deliberately HIGH-entropy (non-repeating md5 chain):
    * a periodic pattern aligned to the 72 grid windows degenerates the
    * gradient bits and manufactures cross-cluster collisions — the
    * measured trap that shaped this fixture. Oracle re-derives pixels,
    * gradients, hash, and the bandless all-pairs verify from
    * `hex(encode(payload))` integer ops — hash-checking the banding's
    * completeness claim itself; at sf0.01 the gate pins exactly the
    * 600 planted pairs (100 clusters × C(4,2)), zero noise.
    */
  private def q144_phash_neardup(s: SparkSession, dir: String): DataFrame = {
    val g = floor(col("doc_id") / 5).cast("long").cast("string")
    val unit = concat((0 until 18).map(i =>
      md5(concat(lit("grp:"), g, lit(s":$i")))): _*)
    val payload = concat(
      unit,
      when(col("doc_id") % 5 === 0,
        md5(concat(lit("shift:"), col("doc_id").cast("string")))).otherwise(lit("")),
      lit("#"), col("doc_id").cast("string")).cast("binary")
    Multimodal.perceptualNearDup(
      Tables.documents(s, dir).select(col("doc_id"), payload.alias("content")),
      "doc_id", "content", maxDist = 6)
  }


  /** Trained linear quality classifier (round 17): distill the q137
    * Gopher rule gate into a hashed bag-of-words linear model — the
    * fastText/CCNet production pattern (cheap student applied at
    * corpus scale, expensive teacher only at training time) —
    * via [[graft.operators.QualityClassifier.distillGopher]].
    * Features: `md5_hash60(token) % 256` presence (one native scan,
    * [[graft.functions.expressions.HashedBowExpr]]) + bias + an
    * integer log2 token-count bucket; training is 40 fixed-budget
    * full-batch GD iterations with the RATIONAL fast-sigmoid and
    * every cross-engine quantity in integer micros, so the DuckDB
    * oracle replays the ENTIRE trainer bit-for-bit (the q100/q143
    * bar: 40 generated weight-update CTE rounds). Corpus text is
    * scanned once; each iteration moves only `(feature_id, partial
    * gradient)` rows (≤ 273 after map-side combine). At sf0.01 the
    * student agrees with the teacher on 488/500 docs — the gate
    * hash-checks every per-doc margin, not just the agreement rate.
    */
  private def q145_quality_classifier(s: SparkSession, dir: String): DataFrame =
    operators.QualityClassifier.distillGopher(
      Tables.documents(s, dir), "doc_id", "text",
      dim = 256, iters = 40, lr = 16.0,
      minTokens = 25L, minStopHits = 1L)


  /** Canonical-URL keep-best dedup (round 17): the web corpus's FIRST
    * dedup stage — the q142 `url_normalize` native as the group key,
    * [[graft.operators.Dedup.byCanonicalUrl]]'s argmax
    * (keep-best-by-token-count, min-id tie-break) as the reduction.
    * The fixture plants 4-way canonical collisions (per group of four
    * consecutive ids: the clean spelling, a cased+`:80`+fragment
    * variant, a percent-encoded-path+`utm_source` variant, and a
    * reordered-params+`utm_campaign` variant — all normalizing to ONE
    * canonical URL) plus an unparseable-URL slice (every 17th doc)
    * that the operator must DROP rather than fold into a NULL hot
    * key. Oracle reuses the factored q142 normalize chain
    * (`sqlUrlNormChain`) and replays the argmax as a window.
    */
  /** The q146/q149 fixture URL: 4-way canonical-collision groups (per
    * group of four consecutive ids — clean, cased+`:80`+fragment,
    * pct-encoded-path+utm, reordered-params+utm spellings of ONE
    * canonical URL) plus an unparseable slice every 17th doc.
    */
  private def variantGroupUrl: Column = {
    val g = floor(col("doc_id") / 4).cast("long")
    val site = (g % 50).cast("string")
    val gs = g.cast("string")
    val m = col("doc_id") % 4
    when(col("doc_id") % 17 === 0,
        concat(lit("not a url "), col("doc_id").cast("string")))
      .otherwise(
        when(m === 0, concat(lit("http://www.site"), site,
          lit(".example.com/article/"), gs, lit("?id="), gs))
        .when(m === 1, concat(lit("HTTP://WWW.Site"), site,
          lit(".Example.COM:80/article/"), gs, lit("?id="), gs, lit("#frag")))
        .when(m === 2, concat(lit("http://www.site"), site,
          lit(".example.com/articl%65/"), gs, lit("?id="), gs,
          lit("&utm_source=feed")))
        .otherwise(concat(lit("http://www.site"), site,
          lit(".example.com/article/"), gs, lit("?utm_campaign=x&id="), gs)))
  }

  private def q146_url_dedup(s: SparkSession, dir: String): DataFrame = {
    val url = variantGroupUrl
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      url.alias("url"),
      size(graft.functions.TextFunctions.tokens(col("text")))
        .cast("long").alias("n_tokens"))
    operators.Dedup.byCanonicalUrl(docs, "doc_id", "url", "n_tokens")
  }


  /** Per-domain quota (round 17): the CC-chain stage AFTER q146 —
    * roll captures up to `registrable_domain(url_host(url))` and cap
    * each domain's contribution ([[graft.operators.Sampling
    * .capPerGroup]]'s two-phase plan: under-cap domains bypass via
    * broadcast anti-join, only over-cap domains window-sort their own
    * slice). The fixture plants the motivating skew: HALF the corpus
    * is one SEO farm arriving under rotating SUBDOMAINS (`www.`/
    * `cdn.`/`static.`/`m.seofarm.com` — a HOST-keyed quota would
    * split it four ways and under-cap nothing; the registrable-domain
    * rollup is the point), the other half a long tail of small
    * domains that never pay the window. Oracle chains the factored
    * q142 normalize+domain SQL with q91's single-window cap form.
    */
  private def q147_domain_cap(s: SparkSession, dir: String): DataFrame = {
    val sub = element_at(
      typedLit(Seq("www", "cdn", "static", "m")),
      (floor(col("doc_id") / 2) % 4).cast("int") + 1)
    val url = when(col("doc_id") % 2 === 0,
        concat(lit("http://"), sub, lit(".seofarm.com/p/"),
          col("doc_id").cast("string")))
      .otherwise(concat(lit("http://www.site"), (col("doc_id") % 97).cast("string"),
        lit(".com/p/"), col("doc_id").cast("string")))
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      UrlExprs.registrableDomain(UrlExprs.urlHost(url)).alias("domain"))
    operators.Sampling.capPerGroup(docs, "doc_id", "domain", cap = 50)
  }


  /** Held-out distillation (round 17): the PRODUCTION protocol for
    * q145 — train the student on a 20% SAMPLE (`doc_id % 5 = 0`),
    * apply to the WHOLE corpus, and report per-doc agreement with an
    * `is_train` split column so the held-out generalization (the
    * number that actually predicts corpus-scale quality) is measured,
    * not assumed. Composes the [[graft.operators.QualityClassifier]]
    * primitives directly: one featurization scan feeds both the
    * filtered trainer and the full scoring pass. At sf0.01 the
    * held-out slice agrees with the teacher on 366/400 docs (91.5%
    * vs the 69.5% majority) from 100 training docs. At 100 TB this is
    * the shape that matters: training cost tracks the SAMPLE, the
    * corpus pays one tag scan.
    */
  private def q150_classifier_holdout(s: SparkSession, dir: String): DataFrame = {
    val feats = operators.QualityClassifier.gopherFeatures(
      Tables.documents(s, dir), "doc_id", "text", dim = 256,
      minTokens = 25L, minStopHits = 1L)
      .localCheckpoint(true)
    val w = operators.QualityClassifier.train(
      feats.filter(col("doc_id") % 5 === 0), "feats", "y",
      256 + 17, iters = 40, lr = 16.0)
    operators.QualityClassifier.score(feats, "feats", w)
      .select(
        col("doc_id"),
        (col("y") === 1L).as("label"),
        col("score_micro"),
        col("pred"),
        (col("pred") === (col("y") === 1L)).as("correct"),
        (col("doc_id") % 5 === 0).as("is_train"))
  }


  /** Classifier cutoff calibration (round 17): the q114 sweep pattern
    * for the LEARNED gate — sweep `keepByScore` cutoffs over q150's
    * HELD-OUT slice and report kept/precision/recall per cutoff, the
    * table an operator reads before picking the production threshold
    * (raise for precision, lower for recall — `keepByScore`'s contract
    * made measurable). One trained model (the q150 composition), one
    * ≤5-row aggregate over the held-out scores; integer-micro ratios.
    */
  private def q151_classifier_calibration(s: SparkSession, dir: String): DataFrame = {
    val heldOut = q150_classifier_holdout(s, dir).filter(!col("is_train"))
    // round 19: the sweep body is factored into [[operators
    // .QualityClassifier.cutoffSweep]] (shared with the q160 probe
    // calibration) — same aggregate, same plan
    operators.QualityClassifier
      .cutoffSweep(heldOut, "label", "score_micro",
        Seq(-500000L, -250000L, 0L, 250000L, 500000L))
      // round 18: the sweep now also CHOOSES — f1 per cutoff plus the
      // two selection rules (argmax-F1; max recall at precision >= 0.9),
      // closing the train -> calibrate -> freeze -> gate arc without a
      // fourth trainer re-run ([[operators.QualityClassifier
      // .markSelectedCutoffs]]; 5-row window, never data-sized)
      .transform(operators.QualityClassifier.markSelectedCutoffs(_, 900000L))
  }


  /** Source-coherent packing (round 17): the in-context-pretraining
    * recipe — pack RELATED documents into one context window.
    * [[graft.operators.Chunker.packSequencesByGroup]]: the q68
    * cumsum-÷-budget window with the shard key = hash(source) (every
    * source lands in one shard) and in-shard order `(source, doc_id)`,
    * so each chunk is a run of one source's documents. Emits the
    * per-doc assignment (not the summary) so the oracle hash-checks
    * the exact coherent layout. A single dominant source is one
    * shard's sort — the documented escalation is the q147 domain
    * quota in front.
    */
  private def q152_source_packing(s: SparkSession, dir: String): DataFrame =
    operators.Chunker.packSequencesByGroup(
      Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").alias("n_tokens")),
      "doc_id", "n_tokens", "source", budget = 512L, shards = 8)


  /** Per-domain boilerplate removal (round 18): the RefinedWeb/C4-style
    * intra-domain pass — the front-door stage between extract (q121)
    * and URL dedup (q146) the round-17 review ranked first. The q147
    * URL fixture supplies the motivating shape: HALF the corpus is one
    * SEO farm under rotating subdomains (rolled up by
    * `registrable_domain`, 250 pages at sf0.01 — its recurring
    * segments are cuttable), the other half a 97-domain long tail of
    * 2-3 pages each that the `minPages = 10` floor leaves UNTOUCHED
    * (no statistical basis below the floor). At `maxPagePct = 75` the
    * farm's 73-79% word band splits — only the >75% members cut.
    * [[graft.operators.Dedup.domainBoilerplate]]: page-presence counts
    * per (domain, 16-byte segment fp), aggregated-frames-only joins,
    * the q81 `cut_covered_spans` doc-local rebuild — segment text
    * never keys an exchange. Oracle chains the factored q142/q147
    * normalize+domain SQL with a from-scratch page-frequency +
    * interleave rebuild.
    */
  private def q153_domain_boilerplate(s: SparkSession, dir: String): DataFrame = {
    val sub = element_at(
      typedLit(Seq("www", "cdn", "static", "m")),
      (floor(col("doc_id") / 2) % 4).cast("int") + 1)
    val url = when(col("doc_id") % 2 === 0,
        concat(lit("http://"), sub, lit(".seofarm.com/p/"),
          col("doc_id").cast("string")))
      .otherwise(concat(lit("http://www.site"), (col("doc_id") % 97).cast("string"),
        lit(".com/p/"), col("doc_id").cast("string")))
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      UrlExprs.registrableDomain(UrlExprs.urlHost(url)).alias("domain"),
      col("text"))
    operators.Dedup.domainBoilerplate(docs, "doc_id", "domain", "text",
      delim = " ", maxPagePct = 75, minPages = 10L)
  }


  /** Frozen boilerplate profile (round 18): the [[q153]] pass split
    * into its PRODUCTION halves — [[graft.operators.Dedup
    * .boilerplateProfile]] mines the per-domain hot-segment
    * fingerprints on a SLICE (here doc_id % 3 > 0 — "yesterday's
    * crawl"), and [[graft.operators.Dedup.applyBoilerplateProfile]]
    * applies the frozen table to the WHOLE corpus (today's crawl,
    * including never-mined docs) as a pure projection: one broadcast
    * of the per-domain sorted fp arrays, then the native
    * `cut_segments_by_fp` binary-search kernel per row — NO exchange
    * anywhere in the apply (plan-audited), which is why the same
    * operator chains in front of a streaming ingest (spec-pinned
    * batch/stream parity). Oracle mines the profile and replays the
    * apply from scratch over raw segments.
    */
  private def q156_boilerplate_profile(s: SparkSession, dir: String): DataFrame = {
    val sub = element_at(
      typedLit(Seq("www", "cdn", "static", "m")),
      (floor(col("doc_id") / 2) % 4).cast("int") + 1)
    val url = when(col("doc_id") % 2 === 0,
        concat(lit("http://"), sub, lit(".seofarm.com/p/"),
          col("doc_id").cast("string")))
      .otherwise(concat(lit("http://www.site"), (col("doc_id") % 97).cast("string"),
        lit(".com/p/"), col("doc_id").cast("string")))
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      UrlExprs.registrableDomain(UrlExprs.urlHost(url)).alias("domain"),
      col("text"))
    val profile = operators.Dedup.boilerplateProfile(
      docs.filter(col("doc_id") % 3 > 0), "doc_id", "domain", "text",
      delim = " ", maxPagePct = 75, minPages = 10L)
    operators.Dedup.applyBoilerplateProfile(
      docs, profile, "doc_id", "domain", "text", delim = " ")
  }


  /** Embedding-feature linear probe (round 18): the q145 trainer over
    * EMBEDDING space — the DCLM-style gate for when text features
    * saturate ([[graft.operators.EmbeddingProbe]]). Features are the
    * q136 SQ8 int8 codes plus a bias code; 40 full-batch GD rounds
    * with the rational fast-sigmoid, every cross-engine quantity in
    * integer micros, so the DuckDB oracle replays the ENTIRE trainer
    * bit-for-bit including the quantization (prototyped: duckdb ==
    * numpy reference on all 500 sf0.01 scores; the integer probe hits
    * the float logistic ceiling, 0.656 on the label<5 split). Scale
    * shape: one vector scan quantizes into the checkpointed
    * byte-codes table; per iteration one codegen `int8_dot` scan +
    * one ≤65-row gradient exchange; raw vectors NEVER enter an
    * exchange (q136 discipline, plan-audited).
    */
  private def q154_embedding_probe(s: SparkSession, dir: String): DataFrame =
    operators.EmbeddingProbe.probe(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      positive = col("label") < 5, dim = 64, iters = 40, lr = 0.001)


  /** Probe held-out protocol (round 18): q150's protocol applied to
    * the EMBEDDING probe — train on the 20% seeded slice, score the
    * whole table, report per-row agreement WITH the `is_train` split
    * so held-out generalization is measured, not assumed. On this
    * fixture the protocol EXPOSES a non-generalizing gate: the
    * embedding clusters barely transfer across a random split
    * (held-out ~0.54 vs the full-fit 0.656 and vs the TEXT student's
    * 0.915 at q150) — which is precisely why the held-out instrument
    * exists; a pipeline reading this table would refuse to freeze the
    * artifact. The oracle replays the sliced trainer end-to-end
    * (gradients from the train slice only, quantization included).
    */
  private def q157_probe_holdout(s: SparkSession, dir: String): DataFrame = {
    val feats = operators.EmbeddingProbe.features(
      Tables.embeddings(s, dir), "vec_id", "embedding", col("label") < 5)
      .withColumn("is_train", col("vec_id") % 5 === 0)
      .localCheckpoint(true)
    val w = operators.EmbeddingProbe.train(
      feats.filter(col("is_train")), "codes", "y", 65, iters = 40, lr = 0.001)
    operators.EmbeddingProbe.score(feats, "codes", w)
      .select(
        col("vec_id"),
        (col("y") === 1L).as("label"),
        col("score_micro"),
        col("pred"),
        (col("pred") === (col("y") === 1L)).as("correct"),
        col("is_train"))
  }


  /** Probe calibration + FREEZE/REFUSE decision (round 19): the q151
    * arc completed for the EMBEDDING probe — the round-18 verdict's #1
    * missing piece (q157 computed the ~0.53 held-out refuse signal but
    * nothing consumed it). [[graft.operators.QualityClassifier
    * .cutoffSweep]] sweeps five cutoffs over q157's HELD-OUT probe
    * scores (±2.5M/±5M micros — the probe's margin scale, not the text
    * student's), [[graft.operators.QualityClassifier
    * .markSelectedCutoffs]] picks by argmax-F1 and the precision-floor
    * rule, and [[graft.operators.QualityClassifier.markFreezeDecision]]
    * appends `holdout_acc_micro` + `freeze_ok` — on this fixture the
    * held-out accuracy (525000µ) is under the 700000µ floor, so every
    * row says `freeze_ok = false`: the operator REFUSES to freeze the
    * artifact a q150-style separable gate would ship
    * (`ProbeCalibrationSpec` pins both branches on controlled
    * fixtures). One trainer run (the q157 composition), one ≤5-row
    * sweep aggregate, one scalar accuracy aggregate broadcast back —
    * nothing data-sized past the scoring scan.
    */
  private def q160_probe_calibration(s: SparkSession, dir: String): DataFrame = {
    val heldOut = q157_probe_holdout(s, dir)
      .filter(!col("is_train"))
      .localCheckpoint(true) // one trainer run feeds sweep AND accuracy
    operators.QualityClassifier
      .cutoffSweep(heldOut, "label", "score_micro",
        Seq(-5000000L, -2500000L, 0L, 2500000L, 5000000L))
      .transform(operators.QualityClassifier.markSelectedCutoffs(_, 900000L))
      .transform(operators.QualityClassifier
        .markFreezeDecision(_, heldOut, "correct", 700000L))
  }


  /** Freeze-gated deployment (round 20): the round-19 verdict's
    * missing #2 — q160 computes the freeze/refuse decision but nothing
    * CONSUMED it; this query closes the loop:
    * [[graft.operators.QualityClassifier.gateIfFrozen]] reads the
    * calibration table's `freeze_ok` + argmax-F1 cutoff as one
    * broadcast row and routes deployment over the scored table — gate
    * ON (keep = score ≥ cutoff) when frozen, PASS-THROUGH with
    * `gate_applied = false` when refused. On this fixture the probe
    * REFUSES (held-out 525000µ < the 700000µ floor), so the oracle
    * pins the refuse path end-to-end: every row passes, and the hash
    * still covers the entire trainer through `score_micro`; the
    * freeze path is spec-pinned on a separable fixture
    * (`ProbeCalibrationSpec`). ONE trainer run feeds calibration and
    * deployment (the q160 internals, restructured around a shared
    * checkpoint).
    */
  private def q172_freeze_gated_deploy(s: SparkSession, dir: String): DataFrame = {
    val scored = q157_probe_holdout(s, dir).localCheckpoint(true)
    val heldOut = scored.filter(!col("is_train"))
    val cal = operators.QualityClassifier
      .cutoffSweep(heldOut, "label", "score_micro",
        Seq(-5000000L, -2500000L, 0L, 2500000L, 5000000L))
      .transform(operators.QualityClassifier.markSelectedCutoffs(_, 900000L))
      .transform(operators.QualityClassifier
        .markFreezeDecision(_, heldOut, "correct", 700000L))
    operators.QualityClassifier.gateIfFrozen(scored, cal, "score_micro")
      .select("vec_id", "score_micro", "gate_applied", "kept")
  }


  /** Domain blocklist (round 18): the front door's FIRST stage —
    * [[graft.operators.UrlFilter.markBlocked]] over the q147 URL
    * fixture with a 3-domain list. Matching is on the REGISTRABLE
    * domain, so the SEO farm's rotating `www./cdn./static./m.`
    * subdomains all block under the one `seofarm.com` entry (listing
    * hosts instead of domains is the classic bypass this fixture
    * demonstrates); two long-tail sites block exactly their own
    * captures. One broadcast probe, corpus side never shuffles.
    * Oracle: the factored q142/q147 domain chain + a CASE IN list.
    */
  private def q159_domain_blocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sub = element_at(
      typedLit(Seq("www", "cdn", "static", "m")),
      (floor(col("doc_id") / 2) % 4).cast("int") + 1)
    val url = when(col("doc_id") % 2 === 0,
        concat(lit("http://"), sub, lit(".seofarm.com/p/"),
          col("doc_id").cast("string")))
      .otherwise(concat(lit("http://www.site"), (col("doc_id") % 97).cast("string"),
        lit(".com/p/"), col("doc_id").cast("string")))
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      UrlExprs.registrableDomain(UrlExprs.urlHost(url)).alias("domain"))
    operators.UrlFilter.markBlocked(
      docs, "domain",
      Seq("seofarm.com", "site13.com", "site77.com").toDF("domain"))
  }


  /** Within-doc repeated-segment collapse (round 18): the
    * self-repetition SCRUB the q59 stats only score — each distinct
    * segment keeps its FIRST occurrence, order preserved (navigation
    * loops, scraper stutter, copy-paste runs), via one native per-row
    * kernel ([[graft.functions.expressions.DedupSegmentsExpr]]) — a
    * pure scan, no exchange, batch/stream-identical by construction.
    * Completes the dedup ladder's finest rung: corpus-hot segments
    * (q74), domain-hot segments (q153/q156), corpus-duplicate spans
    * (q81) — and now intra-document repeats. The fixture's small-vocab
    * documents repeat words heavily, so the collapse is strongly
    * discriminative per doc; the oracle replays it as a min-position
    * window over the identical split.
    */
  private def q158_segment_dedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.expressions.DedupSegmentsExpr
          .dedupSegments(col("text"), " ").alias("d"))
      .select(
        col("doc_id"),
        col("d.clean_text").alias("clean_text"),
        col("d.n_kept").alias("n_kept"),
        col("d.n_removed").alias("n_removed"))


  /** Luhn-validated card scrub (round 18): q64's high-precision
    * sibling — payment-card redaction gated on the ISO/IEC 7812 mod-10
    * checksum, so ordinary long numbers (order ids, refs, phones)
    * survive while real PANs redact
    * ([[graft.functions.expressions.LuhnScrubExpr]], one native scan).
    * The synthetic fixture plants all three populations per customer:
    * a PAN from a 9-entry rotation (6 checksum-VALID test numbers of
    * lengths 14-16 — raw and dash-grouped forms — plus 3 PAN-LENGTH
    * checksum-INVALID decoys that must be counted `n_rejected` but
    * left in place), a 20-digit order id (outside PAN lengths,
    * untouched), and a q64-style phone (10 digits, untouched — q64's
    * department). Oracle re-derives candidates with the same maximal
    * digit-run regex (`regexp_split_to_array` / `regexp_extract_all`
    * interleave rebuild) and the Luhn sum as pure integer ops
    * (prototyped: 0 mismatches vs an independent scanner on all 1500
    * sf0.01 customers).
    */
  private def q155_luhn_scrub(s: SparkSession, dir: String): DataFrame = {
    val pan = element_at(typedLit(q155Pans), (col("c_custkey") % 9).cast("int") + 1)
    val dashed = concat(
      substring(pan, 1, 4), lit("-"), substring(pan, 5, 4), lit("-"),
      substring(pan, 9, 4), lit("-"), substring(pan, 13, 4))
    val synth = concat(
      lit("invoice "), col("c_custkey").cast("string"), lit(" total"),
      lit(" pay "),
      when(length(pan) === 16 && col("c_custkey") % 2 === 0, dashed).otherwise(pan),
      when(col("c_custkey") % 5 === 0, lit(" order 98765432109876543210"))
        .otherwise(lit("")),
      when(col("c_custkey") % 7 === 0,
        concat(lit(" call 415-555-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      lit(" ref "), (col("c_custkey") * 13).cast("string"))
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        graft.functions.expressions.LuhnScrubExpr.luhnScrub(synth).alias("sc"))
      .select(
        col("c_custkey"),
        col("sc.n_cards").alias("n_cards"),
        col("sc.n_rejected").alias("n_rejected"),
        col("sc.redacted").alias("redacted"))
  }


  /** Learned mixture weights (round 19): the DoReMi-class operator
    * between fixed weights (q73) and temperature scaling (q94) — the
    * round-18 verdict's missing #3. [[graft.operators.Mixture
    * .learnedMixture]]: per-source weights LEARNED from a per-doc
    * quality signal (here: word count ≥ 55 — spread 0.28–0.68 across
    * the 20 fixture sources) by 30 rounds of integer-micro
    * multiplicative-weights updates with 10% uniform smoothing, then
    * the q73 availability-capped rate derivation and hash-predicate
    * resample. The output is the RESAMPLED MIXTURE carrying the whole
    * learned table per row (n_docs/quality_micro/weight_micro/
    * n_target/rate_pm), so the oracle hash-checks all 30 trainer
    * rounds AND the exact membership. Scale shape: one corpus
    * aggregate → K collected rows (sources are config-scale by
    * contract) → driver-side trainer → broadcast rates → scan-side
    * keep predicate; the corpus never shuffles (plan-audited).
    */
  private def q161_learned_mixture(s: SparkSession, dir: String): DataFrame =
    operators.Mixture.learnedMixture(
      Tables.documents(s, dir),
      "doc_id", "source",
      positive = size(split(col("text"), " ", -1)) >= 55,
      budgetPermille = 500, iters = 30, lr = 0.5, epsMicro = 100000L)


  /** Mod-97 (IBAN) checksummed-ID scrub (round 19): [[q155]]'s kernel
    * pattern extended to the other big checksummed-identifier family
    * in web text — international bank account numbers, validated by
    * ISO/IEC 7064 MOD 97-10 before redacting
    * ([[graft.functions.expressions.Mod97ScrubExpr]], one native
    * scan). The fixture plants per customer: an IBAN from a 9-entry
    * rotation (6 checksum-VALID public ISO 13616 examples of lengths
    * 18-27 — raw and space-grouped print forms — plus 3 IBAN-SHAPED
    * checksum-INVALID decoys that must be counted `n_rejected` but
    * left in place), a 20-digit order id (digit-only — no IBAN shape,
    * untouched; q155's department), and an uppercase product code
    * whose check-digit positions are letters (shape fails, untouched).
    * Oracle re-derives candidates with the same maximal
    * uppercase-alnum-run regex and the mod-97 remainder as a
    * `list_reduce` fold over the letter-expanded rearranged string
    * (prototyped: 0 mismatches vs an independent scanner on all 1500
    * sf0.01 customers). Plan: one codegen scan, zero exchanges.
    */
  private def q162_mod97_scrub(s: SparkSession, dir: String): DataFrame = {
    val iban = element_at(typedLit(q162Ibans), (col("c_custkey") % 9).cast("int") + 1)
    // the print-grouped form: 4-char groups joined by single spaces —
    // constructed exactly like the oracle's list_transform/substr loop
    val grouped = array_join(
      transform(
        sequence(lit(0), ((length(iban) + lit(3)) / lit(4)).cast("int") - lit(1)),
        g => iban.substr(g * lit(4) + lit(1), lit(4))),
      " ")
    val synth = concat(
      lit("acct "), col("c_custkey").cast("string"), lit(" iban "),
      when(length(iban) % 2 === 0 && col("c_custkey") % 2 === 0, grouped)
        .otherwise(iban),
      when(col("c_custkey") % 5 === 0, lit(" order 98765432109876543210"))
        .otherwise(lit("")),
      when(col("c_custkey") % 7 === 0, lit(" plan PROJECTX2024PLANB9X"))
        .otherwise(lit("")),
      lit(" ref "), (col("c_custkey") * 13).cast("string"))
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        graft.functions.expressions.Mod97ScrubExpr.mod97Scrub(synth).alias("sc"))
      .select(
        col("c_custkey"),
        col("sc.n_ibans").alias("n_ibans"),
        col("sc.n_rejected").alias("n_rejected"),
        col("sc.redacted").alias("redacted"))
  }


  /** Binary (1-bit) quantized Hamming top-k (round 19): the COARSEST
    * rung of the vector storage ladder — float32 (exact) → SQ8 (q136,
    * 4×) → PQ (q79, ~16×) → BQ (this, 32×): each float keeps only its
    * SIGN bit, packed 64 per BIGINT word, and similarity is HAMMING
    * distance — one XOR + popcount per word, the cheapest
    * candidate-generation arithmetic there is
    * ([[graft.functions.expressions.BinaryQuantExprs]], one fused
    * codegen pass per row, no word array ever materialized). Exact
    * float cosine rides along from the SAME scan so sign-agreement vs
    * true similarity is auditable row-by-row (the q136 discipline);
    * the production shape re-ranks the Hamming candidates exactly
    * inside the plan ([[graft.operators.Similarity.bqTopK]] rerank
    * mode — spec-pinned ≡ brute force at full depth). The oracle
    * counts sign mismatches POSITIONALLY (`(x > 0) <> (q > 0)` per
    * element) — provably the packed XOR popcount, exact integer
    * arithmetic both engines share; the packing itself is pinned by
    * `BinaryQuantSpec`'s local-twin and fused≡stored parity tests.
    */
  private def q163_bq_topk(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .filter(col("vec_id") === 0)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .toArray
    Similarity.bqTopK(Tables.embeddings(s, dir), "vec_id", "embedding", q, 20)
  }


  /** Entropy-validated secret scrub (round 19): the third member of
    * the checksum/validation redaction family — q64 pattern PII, q155
    * Luhn cards, q162 mod-97 IBANs, and now API keys/tokens, which
    * carry no check digit, so the validator is SHANNON ENTROPY (the
    * detect-secrets recipe on this library's fixed-point rules):
    * maximal base64-charset runs ≥ 20 chars whose per-candidate
    * unigram character entropy — the q133 per-term micro-nat rounding,
    * exact integer sum — reaches 3.0 nats redact to `[SECRET]`;
    * low-entropy candidates (padding, patterns, long English
    * compounds) are counted but left in place
    * ([[graft.functions.expressions.SecretScrubExpr]], one native
    * scan, zero exchanges). The fixture plants per customer: a token
    * from an 8-entry rotation (5 high-entropy 39-40-char keys at
    * 3.66-3.69 nats, 3 candidate-length low-entropy decoys at
    * 0/1.10/2.45 nats), plus a period-3 blob (c_custkey % 5) and a
    * short high-entropy fragment (% 7) that is NOT a candidate (11
    * chars). Oracle: the q155 split/extract interleave + the q133
    * entropy arithmetic per candidate.
    */
  private def q164_secret_scrub(s: SparkSession, dir: String): DataFrame = {
    val tok = element_at(typedLit(q164Tokens), (col("c_custkey") % 8).cast("int") + 1)
    val synth = concat(
      lit("user "), col("c_custkey").cast("string"),
      lit(" key "), tok,
      when(col("c_custkey") % 5 === 0,
        lit(" blob abcabcabcabcabcabcabcabcabcabc")).otherwise(lit("")),
      when(col("c_custkey") % 7 === 0, lit(" tmp xK9/q2Zp+Aw")).otherwise(lit("")),
      lit(" end"))
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        graft.functions.expressions.SecretScrubExpr.secretScrub(synth).alias("sc"))
      .select(
        col("c_custkey"),
        col("sc.redacted").alias("redacted"),
        col("sc.n_secrets").alias("n_secrets"),
        col("sc.n_candidates").alias("n_candidates"),
        col("sc.max_ent_micro").alias("max_ent_micro"))
  }


  /** C4 line-level cleaning (round 19): the Raffel et al. 2020 §2.2
    * recipe — the SALVAGE member of the quality family (q137's Gopher
    * gate judges whole documents; this drops a page's boilerplate
    * LINES and keeps the prose). Line rules: terminal punctuation
    * (`.`/`!`/`?`/`"`), ≥ 5 words, no "javascript" (case-insensitive);
    * page vetoes: `{` and "lorem ipsum" ride along as audit columns
    * ([[graft.operators.QualityPrune.c4Clean]], native `c4_clean` —
    * one scan pass, no exchange, no UDF; `keepByC4` is the
    * streaming-composable enforcement form). The fixture wraps every
    * document in a deterministic page (the q121 discipline): a
    * guaranteed-kept sentence, a JavaScript boilerplate line (doc_id
    * % 7), a lorem-ipsum line (% 11 — kept as a LINE but vetoing the
    * PAGE), a brace code line (% 13), a no-terminal-punct nav line, a
    * under-5-words line, a parity-gated second sentence, and a
    * text-derived tail line — so n_kept spans 1-4 and `keep`
    * discriminates. Oracle replays the same page construction and the
    * same rules as list/string arithmetic over the identical split.
    */
  private def q165_c4_clean(s: SparkSession, dir: String): DataFrame = {
    val nl = lit("\n")
    val page = concat(
      lit("The quick brown fox jumps over the lazy dog."), nl,
      when(col("doc_id") % 7 === 0,
        concat(lit("Please enable JavaScript to view this page."), nl))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit("Lorem Ipsum dolor sit amet consectetur adipiscing elit."), nl))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        concat(lit("function f() { return 1; }"), nl)).otherwise(lit("")),
      lit("Home About Contact Privacy Terms"), nl,
      lit("Too short."), nl,
      when(col("doc_id") % 2 === 0,
        concat(lit("This second sentence certainly has enough words to survive."), nl))
        .otherwise(lit("")),
      substring(col("text"), 1, 60), lit(" tail words end here."))
    operators.QualityPrune.c4Clean(
        Tables.documents(s, dir).select(col("doc_id"), page.alias("page")),
        "page", minWords = 5, minKeptLines = 3)
      .select("doc_id", "n_lines", "n_kept", "clean_text",
        "has_brace", "has_lorem", "keep")
  }


  /** BQ candidate-generation + exact re-rank (round 19): q163's
    * PRODUCTION shape oracle-checked end-to-end — the Hamming top-200
    * candidates (the 32× tier's cheap scan) re-rank by exact float
    * cosine INSIDE the plan (the candidate TakeOrdered carries the
    * vector column, bounded by `rerank` — no join, no second corpus
    * pass, zero exchanges). The deep candidate cut is what makes BQ
    * usable at its recall (BASELINE.md round-19 BQ recall table: Hamming@20
    * alone recalls 6-7/20 of the exact top-20 on the fixture's 16-dim
    * vectors, Hamming@200 + exact re-rank recovers 18+; recall grows
    * with dimension). Both cuts are total orders (ham/cos with vec_id
    * tie-breaks), so the oracle replays candidate set AND final
    * ranking exactly.
    */
  private def q167_bq_rerank(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .filter(col("vec_id") === 0)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .toArray
    Similarity.bqTopK(Tables.embeddings(s, dir), "vec_id", "embedding", q, 10,
      rerank = 200)
  }


  /** SRP-expanded BQ rerank (round 20): the round-19 verdict's missing
    * #5, resolved against the MEASURED fixture — the embeddings table
    * at head is 64-dim (not the 16 the round-19 record assumed;
    * BASELINE round-20 corrects the ledger), and raw coordinate-sign
    * Hamming still recalls only ~7/20 there, so the production fix is
    * GEOMETRIC, not a new fixture: [[graft.operators.Similarity
    * .bqTopKExpanded]] projects every vector through 256 deterministic
    * ±1 hyperplanes (`srp_expand`, md5-seeded — the q56 plane
    * convention, portable to DuckDB) and runs the candidate tier on
    * 256 angle-preserving sign bits, re-ranking the bounded survivors
    * by exact cosine on the ORIGINAL floats. Honest numbers (BASELINE.md
    * round-20 BQ ledger): at equal depths the expanded tier dominates raw
    * signs (top-20 recall 9.8/15.0/18.2 at @20/@50/@100 vs
    * 7.4/11.4/15.6), but full exact-top-10 coverage on this fixture
    * still needs ~240-deep cuts under EITHER sketch — so the cut stays
    * at q167's 200 and the expansion buys recall per bit, not a
    * shallower cut. Oracle replays the expansion fold (list_reduce,
    * k-ascending, double→float) bit-for-bit, then both total-order
    * cuts.
    */
  private def q173_bq_rerank_srp(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .filter(col("vec_id") === 0)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .toArray
    Similarity.bqTopKExpanded(Tables.embeddings(s, dir), "vec_id", "embedding",
      q, 10, rerank = 200, outDim = 256, prefix = "rp")
  }


  /** Template-page families by tag-structure fingerprint (round 19):
    * the LAYOUT-level dedup rung — templated pages (listings,
    * profiles, archives) share a tag sequence while sharing no text,
    * so no content rung groups them; [[graft.operators.Templates]]
    * hashes the lowercased tag-name sequence (closing tags with their
    * slash, doctype/comments/attributes excluded by the capture
    * grammar) into a 60-bit family key and aggregates one row per
    * layout family with the `n_pages >= minPages` template flag. The
    * fixture builds three big layout families (doc_id % 3 gates an
    * h1 / a ul-list / neither) each ~29% of the corpus, plus six
    * small sub-families (a % 7 slice whose structural tail differs by
    * parity) under the 500-page floor at gate scale — so
    * `is_template` discriminates. One scan-side fingerprint, one
    * 60-bit-keyed aggregate; HTML never shuffles (plan-audited).
    * Oracle: the same RE2-compatible extraction + md5-60 arithmetic.
    */
  /** The q168/q170 layout fixture: three big families gated by
    * `doc_id % 3`, six small sub-families carved out by the `% 7`
    * slice — shared by the family TABLE (q168) and the family CAP
    * (q170) so the two stages see identical fingerprints.
    */
  private def q168Html: Column = concat(
    lit("<html><head><title>T</title></head><body>"),
    when(col("doc_id") % 3 === 0, lit("<h1>H</h1>")).otherwise(lit("")),
    when(col("doc_id") % 3 === 1,
      lit("<div><ul><li>A</li><li>B</li></ul></div>")).otherwise(lit("")),
    lit("<p>"), col("text"), lit("</p>"),
    when(col("doc_id") % 7 === 0,
      when(col("doc_id") % 2 === 0, lit("<footer><p>f</p></footer>"))
        .otherwise(lit("<aside>s</aside>"))).otherwise(lit("")),
    lit("</body></html>"))

  private def q168_template_families(s: SparkSession, dir: String): DataFrame =
    operators.Templates.templateFamilies(
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), q168Html.alias("raw")),
      "doc_id", "raw", minPages = 500L)

  /** Template-family cap (round 20): the round-19 verdict's missing #3
    * — q168 OBSERVES layout families, this ENFORCES them:
    * [[graft.operators.Templates.capPerFamily]] caps each family's
    * contribution at 100 pages via the q147 seeded-hash window keyed
    * on the 60-bit fingerprint, so the three big `% 3` families sample
    * down while the `% 7` sub-families bypass untouched (the
    * two-phase under/over-cap plan — only over-cap families sort their
    * own slice, HTML never keys an exchange). Membership is the
    * deterministic nested hash sample, so the oracle replays the exact
    * admitted set: q168's fingerprint SQL + q147's window SQL.
    */
  private def q170_template_cap(s: SparkSession, dir: String): DataFrame =
    operators.Templates.capPerFamily(
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), q168Html.alias("raw")),
      "doc_id", "raw", cap = 100)
      .select("doc_id", "tag_fp")


  /** The composed five-stage front door (round 20): blocklist → quota
    * → boilerplate → C4 → gate as ONE batch pipeline, oracle-replayed
    * END-TO-END — the round-19 verdict's missing #1. Each stage has
    * its own green qN (q159/q147/q156/q165/q137), but round 19 proved
    * stage INTERACTIONS are where the bugs live (the C4
    * frozen-artifact starvation and the constant-line Jaccard
    * inflation were both caught by bench luck, not the hash gate) —
    * this query moves that bug class inside the oracle: the output
    * hash covers the final kept set, the per-doc boilerplate survivor
    * count, AND the per-stage survivor totals.
    *
    * Fixture (the q147/q153 URL shape, tail narrowed to 7 sites so
    * every site clears the quota cap and the boilerplate floor at
    * sf0.01): even ids = one SEO farm under rotating subdomains; odd
    * ids = a 7-site tail. The stages then interact for real:
    *  1. blocklist drops the whole farm (rotating subdomains roll up
    *     to one registrable domain) plus one tail site;
    *  2. the per-domain quota caps each surviving site to 25 pages
    *     (the seeded-hash sample — membership feeds every later
    *     stage);
    *  3. the boilerplate profile is mined on the ADMITTED slice
    *     (doc_id % 3 > 0 — quota decides what the miner sees) and cut
    *     per page, leaving 1–72 content words per doc;
    *  4. the C4 cleaner sees a page wrapped around the BOILED text —
    *     a doc whose content the boiler consumed entirely loses its
    *     content line (4 words < minWords) and dies on minKeptLines,
    *     the %13 brace slice dies on the page veto;
    *  5. the Gopher gate (minTokens = 18) reads the C4-cleaned page,
    *     so its verdict depends on how many words stages 3–4 left.
    * Scale shape: one broadcast anti-join, one two-phase cap (only
    * over-cap domains window-sort their slice), aggregated-frames-only
    * boilerplate joins, two native scans, and four one-row count
    * frames broadcast back — text never keys an exchange.
    */
  /** The q169/q174 front-door URL fixture — ONE definition (even ids =
    * the subdomain-rotating SEO farm, odd ids = a 7-site tail) so the
    * five- and six-stage compositions can never drift apart.
    */
  private def frontDoorUrl: Column = {
    val sub = element_at(
      typedLit(Seq("www", "cdn", "static", "m")),
      (floor(col("doc_id") / 2) % 4).cast("int") + 1)
    when(col("doc_id") % 2 === 0,
        concat(lit("http://"), sub, lit(".seofarm.com/p/"),
          col("doc_id").cast("string")))
      .otherwise(concat(lit("http://www.site"), (col("doc_id") % 7).cast("string"),
        lit(".com/p/"), col("doc_id").cast("string")))
  }

  /** The q169/q174 C4-page wrap around the BOILED text (expects
    * `doc_id`/`domain`/`clean_text` in scope) — shared with the same
    * no-drift contract as [[frontDoorUrl]].
    */
  private def frontDoorPage: Column = {
    val nl = lit("\n")
    concat(
      lit("Automated crawl record "), col("doc_id").cast("string"),
      lit(" from "), col("domain"), lit(" follows."), nl,
      when(col("doc_id") % 5 === 0,
        concat(lit("Please enable JavaScript to view this page."), nl))
        .otherwise(lit("")),
      lit("Home About Contact Privacy Terms"), nl,
      when(col("doc_id") % 13 === 0,
        concat(lit("function f() { return 1; }"), nl)).otherwise(lit("")),
      substring(col("clean_text"), 1, 80), lit(" tail words end here."))
  }

  /** Front-door stages boilerplate → C4 → gate over an ADMITTED frame
    * (`doc_id`, `domain`, `text` + any `carry` columns) — the shared
    * tail of q169 (five stages) and q174 (six). Returns `(c4d, gated)`
    * so callers can count the C4 survivors.
    */
  private def frontDoorTail(
      admitted: DataFrame,
      carry: Seq[String]): (DataFrame, DataFrame) = {
    val profile = operators.Dedup.boilerplateProfile(
      admitted.filter(col("doc_id") % 3 > 0), "doc_id", "domain", "text",
      delim = " ", maxPagePct = 75, minPages = 10L)
    val boiled = operators.Dedup.applyBoilerplateProfile(
      admitted, profile, "doc_id", "domain", "text", delim = " ")
    val paged = boiled.select(
      (Seq(col("doc_id"), col("domain")) ++ carry.map(col) ++ Seq(
        col("n_kept").alias("n_boiler_kept"),
        frontDoorPage.alias("clean_page"))): _*)
    val c4d = operators.QualityPrune.keepByC4(
      paged, "clean_page", minWords = 5, minKeptLines = 2)
    val gated = operators.QualityPrune.keepByGopher(
      c4d, "clean_page", minTokens = 18L, minStopHits = 0L)
    (c4d, gated)
  }

  private def q169_front_door(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      UrlExprs.registrableDomain(UrlExprs.urlHost(frontDoorUrl)).alias("domain"),
      col("text"))
    // stage 1: domain blocklist (q159's enforcement form)
    val allowed = operators.UrlFilter.keepAllowed(
      docs, "domain", Seq("seofarm.com", "site3.com").toDF("domain"))
    // stage 2: per-domain admission quota (q147's cap)
    // one quota pass feeds mine + apply + count — eager checkpoint: a
    // lazy persist was MEASURED WORSE here (isolated min-of-4: 1.97 s
    // checkpoint vs 2.31 s persist) because the mine/apply/count
    // branches race the first materialization and recompute the
    // blocklist+cap lineage concurrently before the cache fills
    val admitted = operators.Sampling
      .capPerGroup(allowed, "doc_id", "domain", cap = 25)
      .localCheckpoint(true)
    // stages 3-5: the shared boiler → C4 → gate tail
    val (c4d, gated) = frontDoorTail(admitted, carry = Seq.empty)
    // per-stage survivor totals ride along as ONE one-row broadcast
    // frame (r22, guide §2.6/§1.2): the r21 form chained four separate
    // broadcast(df.agg(count)) builds, each a sequential driver-blocking
    // broadcast-build job over its stage's full lineage — a stage
    // profile (OPTIMIZATION_r22.md) measured the q169/q174 pair as pure
    // job-count overhead (33 jobs of 40-180 ms, stage work << wall). One union of literal-tagged rows
    // into one conditional aggregate computes all four counts in ONE
    // broadcast build whose independent branches the scheduler runs
    // concurrently. Counts (and output columns/types) are identical:
    // count(when(tag)) over the union ≡ count(lit(1)) per stage frame.
    gated.crossJoin(broadcast(funnelCounts(Seq(
      docs -> "n_input", allowed -> "n_allowed",
      admitted -> "n_admitted", c4d -> "n_c4"))))
  }

  /** One-row frame of per-stage row counts, computed in a single
    * union-aggregate pass — the q169/q174 funnel tail (see q169 for the
    * job-count rationale). Column order/names/types follow `stages`.
    */
  private def funnelCounts(stages: Seq[(DataFrame, String)]): DataFrame = {
    val tagged = stages.map { case (df, tag) =>
      df.select(lit(tag).alias("__stage"))
    }.reduce(_.unionByName(_))
    tagged.agg(
      count(when(col("__stage") === stages.head._2, lit(1)))
        .alias(stages.head._2),
      stages.tail.map { case (_, tag) =>
        count(when(col("__stage") === tag, lit(1))).alias(tag)
      }: _*)
  }


  /** SIX-stage front door (round 20): [[q169_front_door]] with the
    * round's rung-13 enforcement INSIDE the composed oracle —
    * blocklist → domain quota → TEMPLATE-FAMILY CAP → boilerplate →
    * C4 → gate, the unified-ingest streaming order (BASELINE.md) replayed as
    * one batch query. Each doc carries both fixtures: the q147 URL
    * (domain stages) and a q168-style layout wrap of its text (three
    * big `% 3` families + the `% 7` aside sub-families — the admitted
    * population is all-odd after the blocklist, so the aside branch is
    * single-variant). The new interactions are real: the family cap
    * (30/family) samples INSIDE the quota's survivors, and the
    * boilerplate miner's `% 3 > 0` slice correlates with the `% 3`
    * family gates — which docs reach the miner now depends on BOTH
    * caps. Output carries `tag_fp` per kept doc plus five survivor
    * totals. Scale shape: q169's plan + one more two-phase cap keyed
    * on the 60-bit fingerprint; HTML and text never key an exchange.
    */
  private def q174_front_door6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      UrlExprs.registrableDomain(UrlExprs.urlHost(frontDoorUrl)).alias("domain"),
      col("text"))
    // stages 1-2: blocklist, per-domain quota (the q169 front)
    val allowed = operators.UrlFilter.keepAllowed(
      docs, "domain", Seq("seofarm.com", "site3.com").toDF("domain"))
    val admDomain = operators.Sampling
      .capPerGroup(allowed, "doc_id", "domain", cap = 25)
    // stage 3: per-LAYOUT-FAMILY cap (q170) inside the composition.
    // r22 (guide §2.3/§1.2): the HTML wrap is derived AFTER the domain
    // cap, not on the raw corpus — the multi-KB `raw` column no longer
    // rides through the domain cap's window exchange, and the wrap +
    // fingerprint regex are never computed for rows the quota drops
    // (q168Html is a deterministic projection of doc_id/text, so the
    // family fingerprints — and the output — are bit-identical).
    // Both caps feed mine + apply + counts, so the result stays
    // materialized ONCE (eager checkpoint): a lazy persist here loses —
    // the mine/apply/count branches race the first materialization and
    // re-run the whole two-cap lineage concurrently (measured: stage
    // time 2.6 s -> 10.4 s under persist()).
    val admFamily = operators.Templates
      .capPerFamily(admDomain.withColumn("raw", q168Html), "doc_id", "raw", cap = 30)
      .drop("raw")
      .localCheckpoint(true)
    // stages 4-6: the shared boiler → C4 → gate tail, tag_fp carried
    val (c4d, gated) = frontDoorTail(admFamily, carry = Seq("tag_fp"))
    // one union-aggregate broadcast instead of five sequential one-row
    // broadcast builds — see [[funnelCounts]] / q169 for the rationale
    gated.crossJoin(broadcast(funnelCounts(Seq(
      docs -> "n_input", allowed -> "n_allowed",
      admDomain -> "n_domain_cap", admFamily -> "n_family_cap",
      c4d -> "n_c4"))))
  }


  /** URL path-prefix blocklist (round 20):
    * [[graft.operators.UrlFilter.markBlockedByPath]] — the UT1-style
    * rung BELOW the q159 domain list: block machine-generated page
    * CLASSES (`/search`, `/tag/`, `/login`) across every domain, on
    * the NORMALIZED path so the `%`-encoded evasion the fixture
    * plants (`/t%61g/N` — `%61` = `a`) blocks under the plain
    * `/tag/` entry (the q159 subdomain-rotation lesson, path
    * edition). Every prefix in the list is exercised (`/search`,
    * `/tag/`, and the `% 4 = 3 ∧ % 3 = 0` `/login` slice); the
    * `% 17` slice is unparseable and passes with a null path (the
    * documented null rule). Pure scan — the prefix list compiles to
    * a literal OR chain over ONE materialized path column, no join,
    * no exchange. Oracle: the factored q142 normalize chain + the
    * same anchored regex + the same first-`?` split + starts_with OR.
    */
  private def q175_path_blocklist(s: SparkSession, dir: String): DataFrame = {
    val n = col("doc_id").cast("string")
    val site = (col("doc_id") % 9).cast("string")
    val url = when(col("doc_id") % 17 === 0, concat(lit("not a url "), n))
      .otherwise(concat(lit("http://www.site"), site, lit(".example.com"),
        when(col("doc_id") % 4 === 0, concat(lit("/search?q="), n))
          .when(col("doc_id") % 4 === 1, concat(lit("/t%61g/"), n))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/article/"), n, lit("?id="), n))
          .otherwise(
            when(col("doc_id") % 3 === 0, lit("/login"))
              .otherwise(concat(lit("/about/"), n, lit(".html"))))))
    operators.UrlFilter.markBlockedByPath(
        Tables.documents(s, dir).select(col("doc_id"), url.alias("url")),
        "url", Seq("/search", "/tag/", "/login"))
      .select("doc_id", "path", "blocked")
  }



  /** q166's planted script snippets — ONE constant each, interpolated
    * into BOTH the Spark page construction and the oracle SQL, so the
    * two engines classify byte-identical text.
    */
  private val q166Lat = " café naïve"
  private val q166Grk = " γειά σου"
  private val q166Cyr = " Привет мир"
  private val q166Ara = " مرحبا بالعالم"
  private val q166Kana = " こんにちは"
  private val q166Cjk = " 你好世界"
  private val q166Han = " 안녕하세요"

  /** Unicode script-mix profile (round 19): the multilingual front
    * door's FIRST routing signal — q24's stop-word language ID
    * separates languages that share an alphabet, but a CC-class corpus
    * must split by SCRIPT (CJK / Cyrillic / Arabic / Greek / Kana /
    * Hangul) before any per-language model sees a byte
    * ([[graft.functions.expressions.ScriptStatsExpr]]: documented
    * BMP code-point ranges, exact integer counts, priority-tie-broken
    * `main_script` argmax over the seven letter classes; one native
    * scan, zero exchanges). The fixture decorates every document with
    * modulo-gated snippets of all seven scripts (shared string
    * constants interpolated into both engines), and two slices are
    * script-MAJORITY pages (doc_id % 19 → CJK, % 23 → Cyrillic) so
    * `main_script` actually discriminates. Oracle: per-code-point
    * `unicode()` classification over the identical `string_split`,
    * counts via FILTER aggregates, argmax via the same priority CASE.
    */
  /** The q166/q171 script fixture page — shared by the profile (q166)
    * and the routed gate (q171) so both stages classify identical
    * bytes.
    */
  private def q166Page: Column =
    when(col("doc_id") % 19 === 0, lit(s"${q166Cjk.trim} " * 12))
      .when(col("doc_id") % 23 === 0, lit(s"${q166Cyr.trim} " * 10))
      .otherwise(concat(col("text"),
        when(col("doc_id") % 2 === 0, lit(q166Lat)).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit(q166Cyr)).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(q166Cjk)).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(q166Kana)).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(q166Han)).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(q166Ara)).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit(q166Grk)).otherwise(lit(""))))

  private def q166_script_stats(s: SparkSession, dir: String): DataFrame = {
    val page = q166Page
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.expressions.ScriptStatsExpr.scriptStats(page).alias("sc"))
      .select(
        col("doc_id"),
        col("sc.n_chars").alias("n_chars"),
        col("sc.n_latin").alias("n_latin"),
        col("sc.n_digit").alias("n_digit"),
        col("sc.n_greek").alias("n_greek"),
        col("sc.n_cyrillic").alias("n_cyrillic"),
        col("sc.n_arabic").alias("n_arabic"),
        col("sc.n_kana").alias("n_kana"),
        col("sc.n_cjk").alias("n_cjk"),
        col("sc.n_hangul").alias("n_hangul"),
        col("sc.n_space").alias("n_space"),
        col("sc.n_other").alias("n_other"),
        col("sc.main_script").alias("main_script"))
  }


  /** Script-ROUTED gate (round 20): the round-19 verdict's missing #4
    * — q166 computes `main_script` but nothing consumed it; this query
    * routes each page to a script-appropriate gate artifact
    * ([[graft.operators.QualityPrune.scriptRoutedGate]]): Latin pages
    * pay the full seven-rule Gopher gate, alphabetic non-Latin
    * scripts skip the two Latin-trained rules (stop list, `[a-z]`
    * alpha fraction), space-free scripts keep on letter mass. On the
    * shared q166 fixture the routing is load-bearing both ways: the
    * `% 19` CJK-majority pages have `frac_alpha = 0` and would starve
    * in the Latin gate but pass `charcount_gate`; the `% 23` Cyrillic
    * pages pass `nostop_gate` while the Latin rules would kill them
    * twice over (alpha AND stop). One fused native scan (script_stats
    * + gopher_stats over the same bytes), zero exchanges. Oracle:
    * the q166 classification SQL + the q137 rule SQL + the same
    * routing CASE.
    */
  private def q171_script_routed_gate(s: SparkSession, dir: String): DataFrame =
    operators.QualityPrune.scriptRoutedGate(
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), q166Page.alias("page")),
      "doc_id", "page", minTokens = 15L, minStopHits = 1L, minLetters = 20L)


  /** Incremental canonical-URL dedup (round 17): q146's one-shot form
    * made PRODUCTION-shaped — a new crawl batch (doc_id % 20 ≥ 16 plus a straddling doc_id % 10 = 9 slice of
    * the variant-group fixture — whole collision groups whose
    * canonicals survive with intra-batch dup counts, plus straddling
    * members whose groups remain corpus-known and dedup away, so the
    * probe has real matches to remove at every fixture scale) dedups against the corpus (the
    * rest)
    * by `url_normalize` key via
    * [[graft.operators.Dedup.incrementalExactByKey]], BEFORE any
    * content comparison. Same state-side contract as q72: the corpus
    * key scan streams map-side against the broadcast batch keys, zero
    * corpus exchanges (plan-audited). Unparseable URLs drop on both
    * sides. The oracle replays the probe as intra-batch min-id
    * grouping + NOT IN against corpus canonicals.
    */
  private def q149_incremental_url_dedup(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir).select(
      col("doc_id"),
      UrlExprs.urlNormalize(variantGroupUrl).alias("norm_url"))
    operators.Dedup.incrementalExactByKey(
      keyed.filter(col("doc_id") % 20 >= 16 || col("doc_id") % 10 === 9),
      keyed.filter(!(col("doc_id") % 20 >= 16 || col("doc_id") % 10 === 9)),
      "doc_id", "norm_url")
  }


  /** Attribute tagger (round 17): the Dolma/NeMo-Curator "tag first,
    * filter later" pass — EVERY per-doc curation signal the engine
    * computes (language id, gopher token stats + keep verdict,
    * character entropy, repetition profile, exact-dup fingerprint) in
    * ONE fused codegen scan projection, so a corpus pays a single read
    * for the whole attribute sheet and every later mix/filter decision
    * is a cheap scan of the small tag table instead of a re-read of
    * the text. Plan-audited: one FileScan, zero exchanges, no UDF.
    * Each column's arithmetic is already oracle-proven standalone
    * (q24/q137/q133/q59/q17); this query's oracle re-derives them
    * TOGETHER so the fused projection can't drift from the parts.
    */
  private def q148_attribute_tags(s: SparkSession, dir: String): DataFrame = {
    val g = graft.functions.expressions.GopherStatsExpr.gopherStats(col("text"))
    val keep = QualityPrune
      .gopherRules(g.getField _, 25L, 100000L, 3.0, 10.0, 0.8, 1L, 0.3, 0.9, 0.1)
      .map { case (_, rule) => coalesce(rule, lit(false)) }
      .reduce(_ && _)
    val rep = graft.functions.expressions.RepetitionStatsExpr
      .repetitionStats(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      graft.functions.expressions.LangIdExpr.langId(col("text")).alias("lang_pred"),
      g.getField("n_tokens").alias("n_tokens"),
      keep.alias("keep_gopher"),
      graft.functions.expressions.CharEntropyExpr.charEntropy(col("text"))
        .alias("ent_micro"),
      rep.getField("top_bigram_frac").alias("top_bigram_frac"),
      rep.getField("dup_token_frac").alias("dup_token_frac"),
      md5(col("text")).alias("fp"))
  }


  private def q133_char_entropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("source"),
        graft.functions.expressions.CharEntropyExpr.charEntropy(col("text"))
          .alias("ent_micro"))
      .groupBy("source")
      .agg(
        count(lit(1)).alias("n_docs"),
        min(col("ent_micro")).alias("min_ent_micro"),
        max(col("ent_micro")).alias("max_ent_micro"),
        sum(col("ent_micro")).alias("sum_ent_micro"))
      .withColumn("mean_ent",
        col("sum_ent_micro").cast("double") / col("n_docs").cast("double") / lit(1000000.0))


  /** Dense-corpus calibration sweep (round 15): q114's threshold sweep
    * through the q34 hot-shingle-filtered candidate generator
    * (`maxShingleFreq = 3`, q34's gate-scale binding cap) — the
    * documented calibration mode for boilerplate-heavy corpora (the
    * exact q114 is the run-once control; two-decade exponents 0.80 vs
    * 0.58, BASELINE.md round 15). Jaccard here is over the FILTERED
    * shingle universe — the same universe the q34 production run
    * prunes — and the oracle reproduces exactly that.
    */
  private def q119_threshold_sweep_filtered(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardThresholdSweep(
      Tables.documents(s, dir), "doc_id", "text",
      n = 3, thresholds = Seq(0.5, 0.7, 0.9), maxShingleFreq = Some(3))

  /** Hybrid retrieval JOIN (round 15): q108's derived query table
    * (every `doc_id % 97 = 0` doc queries with its own first three
    * tokens), each query carrying its OWN embedding as the dense
    * signal — per-query hybrid (BM25 + cosine) top-20 through the
    * pruned rerank ([[graft.operators.TfIdf.hybridJoin]]): q115's
    * single-query composition in the join shape an eval harness runs.
    * Queries restricted to docs with an embedding row (inner join).
    */
  private def q117_hybrid_join(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    // r22 (guide §1.2): the query table feeds THREE sequential broadcast
    // builds (bm25Join's qt and qv, the rerank's qv) — un-materialized,
    // each build re-ran the docs scan + embeddings join (stage profile,
    // OPTIMIZATION_r22.md #6: three 100-250 ms single-task build
    // stages). The table is |corpus|/97 rows by construction —
    // checkpoint it once.
    val queries = docs
      .filter(col("doc_id") % 97 === 0)
      .select(
        col("doc_id").alias("qid"),
        slice(TextFunctions.tokens(col("text")), 1, 3).alias("qterms"))
      .join(
        emb.select(col("vec_id").alias("qid"), col("embedding").alias("qvec")),
        Seq("qid"))
      .localCheckpoint(true)
    TfIdf.hybridJoin(
      docs, "doc_id", "text",
      emb, "vec_id", "embedding",
      queries, "qid", "qterms", "qvec")
  }

  private val q51Rates = Map("en" -> 200, "fr" -> 500, "de" -> 500, "es" -> 500, "zh" -> 100)

  /** Deterministic per-language stratified sample (keep-rates in ‰,
    * md5-hash keyed) — reproducible across runs, partitionings, and
    * engines; nested across rates.
    */
  private def q51_stratified_sample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang", q51Rates)
      .select("doc_id", "lang", "source")

  private def q52_tfidf(s: SparkSession, dir: String): DataFrame =
    TfIdf.topTerms(Tables.documents(s, dir), "doc_id", "text", k = 5)

  /** Curriculum buckets: length quartile per language (`ntile` over a
    * total order — ties broken by doc_id so both engines bucket
    * identically).
    */
  private def q53_quantile_buckets(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang"), col("n_chars"),
      ntile(4).over(w).cast("long").as("bucket"))
  }

  /** TPC-H Q13 shape: customer order-count distribution — outer join
    * (customers with zero orders count 0) into a double aggregation.
    */
  private def q54_cust_order_dist(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** Correlated EXISTS through the SQL front-end: exercises Spark's
    * parser + subquery decorrelation (`RewritePredicateSubquery` plans
    * it as a left semi join — same physical shape as q14, reached from
    * SQL instead of the DataFrame API).
    */
  private def q55_exists_agg(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_q55")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_q55")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n
         FROM orders_q55
         WHERE EXISTS (SELECT 1 FROM lineitem_q55
                       WHERE l_orderkey = o_orderkey
                         AND l_discount > CAST(0.08 AS DOUBLE))
         GROUP BY o_orderpriority""")
  }

  /** SRP-LSH embedding near-dup: banded signed-random-projection buckets
    * → same-(band, bucket) candidate pairs → exact cosine ≥ 0.4. Same
    * threshold as q23's exact all-pairs, so this output is that result's
    * LSH-recall subset (expected recall `1-(1-p^3)^6`, `p = 1-acos(t)/π`).
    */
  private def q56_srp_neardup(s: SparkSession, dir: String): DataFrame =
    // (b=6, r=3) pinned: the oracle rebuilds this exact plane matrix. The
    // operator's DEFAULT is auto-sizing (rowsPerBand=0 → log2(n/64) bits),
    // the scale-safe path; the fixture is small enough that fixed bits are
    // fine here and keep the hash stable across rounds.
    Similarity.srpNearDup(Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.4,
      nBands = 6, rowsPerBand = 3)

  /** Time-series resample with gap fill: per-user hourly event counts
    * including empty buckets (count 0) between each user's first and last
    * event — the feature-pipeline regularization step before windowed
    * models. The bucket spine is GENERATED per key (`sequence` explode
    * over the key's own [min, max] range — no global calendar cross
    * join), counts are pre-aggregated before the join, and both sides
    * shuffle on the same (user, bucket) key.
    */
  private def q57_gapfill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"),
      window(col("ts"), "1 hour").getField("start").alias("b"))
    val counts = ev.groupBy("user_id", "b").agg(count(lit(1)).alias("n"))
    val spine = ev.groupBy("user_id")
      .agg(min(col("b")).alias("lo"), max(col("b")).alias("hi"))
      .select(
        col("user_id"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).alias("b"))
    spine.join(counts, Seq("user_id", "b"), "left")
      .select(
        col("user_id"),
        col("b").alias("bucket_start"),
        coalesce(col("n"), lit(0L)).alias("n"))
  }

  /** Analytic-window + datetime scalar coverage in one pass: lag/lead/
    * first_value over the event-time order, percent_rank/cume_dist over
    * the value order (both with event_id tie-breaks ⇒ total orders, so
    * the rank ratios are deterministic integer divisions — bit-identical
    * across engines), plus date_trunc/dayofweek scalars.
    */
  private def q58_window_analytics(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val byValue = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
    Tables.events(s, dir).select(
      col("event_id"),
      col("user_id"),
      lag(col("event_type"), 1).over(byTime).alias("prev_type"),
      lead(col("event_type"), 1).over(byTime).alias("next_type"),
      first(col("value")).over(byTime).alias("first_value"),
      percent_rank().over(byValue).alias("prank"),
      cume_dist().over(byValue).alias("cdist"),
      date_trunc("day", col("ts")).alias("day"),
      dayofweek(col("ts")).cast("long").alias("dow"))
  }

  /** Gopher-style repetition quality gates: most-frequent word bigram
    * (count + fraction) and duplicate-token fraction per document — the
    * repetition-removal signals an LLM-corpus filter runs alongside q25's
    * length/punct/stopword gates. One tight-loop pass per doc.
    */
  private def q59_repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        graft.functions.expressions.RepetitionStatsExpr
          .repetitionStats(col("text")).alias("r"))
      .select(
        col("doc_id"),
        col("r.top_bigram").alias("top_bigram"),
        col("r.top_bigram_n").alias("top_bigram_n"),
        col("r.n_bigrams").alias("n_bigrams"),
        col("r.top_bigram_frac").alias("top_bigram_frac"),
        col("r.dup_token_frac").alias("dup_token_frac"))

  /** JSON-column parsing (SURVEY.md §2.8 F8, columnar form): the events
    * `props` column is a JSON string; `from_json` with an explicit schema
    * parses it into a typed struct inside the plan (codegen'd, no UDF),
    * then a standard aggregate runs over the extracted field.
    */
  private def q60_json_props(s: SparkSession, dir: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
    Tables.events(s, dir)
      .select(
        col("event_type"),
        from_json(col("props"), schema).getField("k").alias("k"))
      .groupBy("event_type")
      .agg(
        count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        (sum(col("k")).cast("double") / count(col("k")).cast("double")).as("avg_k"))
  }

  /** TPC-H Q14 shape (promo revenue): one month of lineitem joined to the
    * broadcast `part` dimension; conditional decimal-exact revenue sums,
    * final ratio in double (both engines: `100 * promo / total`, same
    * association order).
    */
  private def q61_promo_revenue(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec))
    Tables.lineitem(s, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100).cast("double")
          * sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(dec))).cast("double")
          / sum(rev).cast("double")).as("promo_revenue"))
  }

  /** Dedup retention report: after normalization-fingerprint dedup
    * (keep the min doc_id per fingerprint), what fraction of each
    * source survives — the per-slice accounting every dedup run ships
    * with. Kept-flag via a window min (no self-join), ratio as an exact
    * small-int division.
    */
  private def q62_dedup_retention(s: SparkSession, dir: String): DataFrame = {
    val byFp = Window.partitionBy("fp")
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        col("source"),
        TextFunctions.contentFingerprint(col("text")).as("fp"))
      .withColumn("kept", (col("doc_id") === min(col("doc_id")).over(byFp)).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        (sum(col("kept")).cast("double") / count(lit(1)).cast("double")).as("retention"))
  }

  /** BPE-ish pre-tokenization piece counting (the token-budget estimate a
    * training pipeline runs before any real BPE merge pass): pieces are
    * maximal runs of letters / digits / punctuation (each optionally
    * space-prefixed, GPT-2 pre-tokenizer style) or whitespace. The
    * alternates have disjoint first-character classes, so Java (Spark)
    * and RE2 (DuckDB) regex engines produce identical matches despite
    * their different alternation strategies — and no lookahead is used
    * (RE2 has none). All native codegen expressions, no UDF.
    */
  private val bpePiecePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+"

  private def q63_token_count(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        lower(col("text")).alias("lt"),
        regexp_extract_all(lower(col("text")), lit(bpePiecePattern), lit(0)).alias("pieces"))
      .select(
        col("doc_id"),
        size(col("pieces")).cast("long").alias("n_pieces"),
        size(array_distinct(col("pieces"))).cast("long").alias("n_distinct_pieces"),
        array_max(transform(col("pieces"), p => length(p))).cast("long").alias("max_piece_len"),
        (length(col("lt")).cast("double") / size(col("pieces")).cast("double"))
          .alias("chars_per_piece"))

  /** PII scrubbing via `functions.Pii`: redact emails / URLs / phone
    * numbers and count each class — the privacy pass every training
    * corpus goes through. The fixture text is synthetic word-salad with
    * no PII, so the input is synthesized deterministically from the
    * `customer` table (same construction in the oracle — both engines
    * scrub the same strings). Counting + redaction are native
    * `regexp_extract_all` / `regexp_replace` (RE2-compatible patterns:
    * no lookarounds).
    */
  private val piiEmail = graft.functions.Pii.emailPattern
  private val piiUrl = graft.functions.Pii.urlPattern
  private val piiPhone = graft.functions.Pii.phonePattern

  /** q155's PAN rotation: 6 Luhn-VALID public test numbers (16/15/14
    * digits) + 3 PAN-length checksum-INVALID decoys. ONE definition —
    * the Spark fixture and the DuckDB oracle both read it.
    */
  private val q155Pans = Seq(
    "4111111111111111", "5500005555555559", "340000000000009",
    "6011000990139424", "30569309025904", "3566002020360505",
    "4111111111111112", "1234567890123456", "9999999999999999")
  private def sqlPanList: String =
    q155Pans.map(p => s"'$p'").mkString("[", ",", "]")

  /** q162's IBAN rotation: 6 mod-97-VALID public example IBANs
    * (ISO 13616 registry examples, 18-27 chars) + 3 IBAN-shaped
    * checksum-INVALID decoys (last digit bumped). ONE definition — the
    * Spark fixture and the DuckDB oracle both read it.
    */
  private val q162Ibans = Seq(
    "GB82WEST12345698765432", "DE89370400440532013000",
    "FR1420041010050500013M02606", "ES9121000418450200051332",
    "NL91ABNA0417164300", "IT60X0542811101000000123456",
    "GB82WEST12345698765433", "DE89370400440532013001",
    "NL91ABNA0417164301")
  private def sqlIbanList: String =
    q162Ibans.map(p => s"'$p'").mkString("[", ",", "]")

  /** q164's rotation: 5 high-entropy base64-class keys (39-40 chars
    * over 30+ distinct symbols — 3,663,543-3,688,880 µnats, above the
    * 3,000,000 threshold) + 3 candidate-LENGTH low-entropy decoys
    * (repeated-char padding = 0, a period-3 pattern = 1,098,612, a
    * 45-char English compound = 2,446,493 µnats) that must be counted
    * `n_candidates` but left in place. Values verified against the
    * fixed-point entropy rule before wiring.
    */
  private val q164Tokens = Seq(
    "sk9Sx2Qw7Lm4Yd0Vt6Hb1Jn8Rc3Zf5Ka+pE/uGi",
    "A7qT2wX9eK4rP0sLzV6yB1nM8cJ3fD5hgU+iO/=",
    "Qm5vZ8aR1tY6uI3oP9dF2gH7jK4lS0xWcnEbM+/",
    "zX3cV7bN1mQ5wE9rT2yU6iO0pA4sD8fGhJkL+=/",
    "9fK2mP7qR4tW1xZ6cV3bN8jH5gL0sDyEuoAi+a/=",
    "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA",
    "abcabcabcabcabcabcabcabcabcabc",
    "Pneumonoultramicroscopicsilicovolcanoconiosis")
  private def sqlSecretList: String =
    q164Tokens.map(p => s"'$p'").mkString("[", ",", "]")

  private def q64_pii_scrub(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Pii
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        concat(
          lit("reach "),
          lower(regexp_replace(col("c_name"), "#", ".")),
          lit("@corp.example"),
          when(
            col("c_custkey") % 2 === 0,
            concat(lit(" or "), lower(regexp_replace(col("c_name"), "#", ".")), lit("@mail.test")))
            .otherwise(lit("")),
          lit(" visit https://shop.example/item/"),
          col("c_custkey").cast("string"),
          when(
            col("c_custkey") % 3 === 0,
            concat(lit(" call 415-555-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).alias("synth"))
      .select(
        col("c_custkey"),
        Pii.emailCount(col("synth")).alias("n_emails"),
        Pii.urlCount(col("synth")).alias("n_urls"),
        Pii.phoneCount(col("synth")).alias("n_phones"),
        Pii.redact(col("synth")).alias("redacted"))
  }

  /** TPC-H Q19 shape (disjunctive predicate join): revenue per brand under
    * three OR'd brand/size/quantity configurations. Catalyst's CNF
    * conversion extracts the part-only disjunction
    * `(brand=A AND size…) OR (brand=B AND size…) OR …` below the join, so
    * the broadcast dimension is pre-filtered at its scan instead of after
    * the join — the plan-quality point of this query at 100 TB.
    */
  private def q65_disjunctive(s: SparkSession, dir: String): DataFrame = {
    val pred =
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1.0, 11.0)) ||
        (col("p_brand") === "Brand#14" && col("p_size").between(5, 25) &&
          col("l_quantity").between(10.0, 20.0)) ||
        (col("p_brand") === "Brand#22" && col("p_size").between(10, 50) &&
          col("l_quantity").between(20.0, 30.0))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .groupBy("p_brand")
      .agg(
        sum(col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q10 shape (returned items): revenue lost to returns per
    * customer over one quarter, top 20. Fact-to-fact join shuffles on
    * orderkey; customer and nation dimensions broadcast; the limit is a
    * TakeOrderedAndProject with a total tie-broken order.
    */
  private def q66_returned_items(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir).filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(
        Tables.lineitem(s, dir).filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(
        sum(col("l_extendedprice").cast(dec) * (lit(1) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  /** TPC-H Q22 shape (sales opportunity): high-balance customers with no
    * recent orders, per market segment. The global threshold is an exact
    * decimal sum / count divided in double (bit-identical across
    * engines), shipped as a broadcast one-row frame (no collect); the
    * "no recent orders" predicate is a left anti join against the
    * date-filtered orders.
    */
  private def q67_sales_opportunity(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val thr = cust.filter(col("c_acctbal") > 0.0)
      .agg(
        (sum(col("c_acctbal").cast(dec)).cast("double") / count(lit(1)).cast("double"))
          .alias("thr"))
    cust.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("thr"))
      .join(
        Tables.orders(s, dir).filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"),
        "left_anti")
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(dec)).cast("double").as("total_bal"))
  }

  /** Sequence packing to a context budget (the "concat then split at N
    * tokens" step that turns filtered documents into fixed-length
    * training rows): documents are sharded deterministically
    * (`doc_id % 32` — in production, the shard count matches writer
    * parallelism), ordered within shard, and assigned chunk ids by
    * integer-dividing the running token cumsum by the budget. The window
    * partitions by shard, so packing parallelizes across shards — no
    * global single-partition window at 100 TB.
    */
  private def q68_pack_sequences(s: SparkSession, dir: String): DataFrame =
    operators.Chunker.packSummary(
      operators.Chunker.packSequences(
        Tables.documents(s, dir), "doc_id", "text", budget = 512L, shards = 32))

  /** Cohort retention over the event log: users are cohorted by the week
    * of their first event; each (cohort, weeks-since) cell counts the
    * distinct users still active. Two shuffles — the per-user cohort
    * aggregate and the events⋈cohort join share the `user_id` key, so
    * the join co-locates without a third exchange; weeks are UTC
    * `date_trunc` boundaries, making the day-diff an exact multiple of 7
    * in both engines.
    */
  private def q69_cohort_retention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).alias("wk"))
    val cohort = ev.groupBy("user_id").agg(min(col("wk")).alias("cohort_wk"))
    ev.join(cohort, Seq("user_id"))
      .select(
        col("user_id"),
        col("cohort_wk"),
        (datediff(col("wk"), col("cohort_wk")) / 7).cast("long").alias("weeks_since"))
      .groupBy("cohort_wk", "weeks_since")
      .agg(countDistinct(col("user_id")).alias("n_users"))
  }

  /** Overlapping-window chunking (RAG / long-context prep): each document
    * splits into chunks of ≤100 tokens starting every 80 (20-token
    * overlap). The chunk spine is a per-row `sequence` explode — row-local
    * fan-out, zero shuffles, and the generator input is a bounded
    * arithmetic range (never a computed array, per the
    * InferFiltersFromGenerate rule).
    */
  private def q70_chunk_overlap(s: SparkSession, dir: String): DataFrame =
    operators.Chunker.chunkOverlap(
      Tables.documents(s, dir), "doc_id", "text", chunkSize = 100, stride = 80)
      .select("doc_id", "chunk_idx", "n_chunk_tokens")

  /** Approximate group-wise heavy hitters via the native
    * `TypedImperativeAggregate` Space-Saving summary — per-group top-k
    * WITHOUT a (group, item)-keyed aggregation: summaries are
    * capacity-bounded per group per partition, partial-aggregate
    * map-side, and only summaries cross the shuffle. At the gate's
    * cardinality (≤1500 users/group vs capacity 4096) the summary is
    * provably exact (max_err 0), so the oracle checks it against the
    * true top-5; the approximate regime's guarantees are spec-tested.
    */
  private def q71_heavy_hitters(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        graft.functions.expressions.HeavyHittersAgg
          .heavyHitters(col("user_id").cast("string"), capacity = 4096, k = 5).as("hh"))
      .select(col("event_type"), explode(col("hh")).as("h"))
      .select(
        col("event_type"),
        col("h.item").cast("long").as("user_id"),
        col("h.est_count").as("est_count"),
        col("h.max_err").as("max_err"))

  /** Incremental dedup: the docs arriving "today" (doc_id % 10 = 0)
    * deduplicated against the standing corpus (the rest) by content
    * fingerprint — intra-batch keep-min plus corpus anti-join, no corpus
    * reprocessing. The delta-over-state pattern every recurring crawl
    * ingest runs.
    */
  private def q72_incremental_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.incrementalExact(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text")
  }

  /** Target-mixture weights (‰) for q73: four named sources get most of
    * the budget, the 16-source tail splits the rest. src0 is
    * oversubscribed at this budget (rate caps at 1000‰ — keep all),
    * tail sources sample down — both regimes exercised.
    */
  private val q73Weights: Seq[(String, Int)] =
    Seq("src0" -> 300, "src1" -> 200, "src2" -> 150, "src3" -> 100) ++
      (4 to 19).map(i => s"src$i" -> 15)

  /** Mixture construction: per-source keep-rates hitting a target
    * mixture under a half-corpus budget, availability-capped, sampled
    * with the deterministic scan-side hash predicate (corpus never
    * shuffles; rates broadcast back from one tiny aggregate).
    */
  private def q73_mixture_sample(s: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(
      Tables.documents(s, dir), "doc_id", "source", q73Weights, budgetPermille = 500)
      .select("doc_id", "source", "rate_pm")

  /** Leakage-safe train/val split: near-dup clusters (q49's labeling)
    * assigned to a side as a unit, so no near-duplicate pair straddles
    * the split. 100‰ validation target.
    */
  private def q75_leakage_split(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
    val clusters = Components.connectedComponents(
      pairs.select("id_a", "id_b"), "id_a", "id_b",
      docs.select("doc_id"), "doc_id")
      .select(col("id").alias("doc_id"), col("cluster_id"))
    Sampling.leakageSafeSplit(clusters, "doc_id", "cluster_id", valPermille = 100)
  }

  /** Keep-best-quality representative per near-dup cluster — the
    * retention POLICY after q49's clustering: argmax token count per
    * cluster (ties → lowest doc_id), so a truncated variant never
    * shadows the fuller copy it near-duplicates. One cluster-keyed
    * aggregate + join; text never shuffles.
    */
  private def q76_keep_best(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5)
    val clusters = Components.connectedComponents(
      pairs.select("id_a", "id_b"), "id_a", "id_b",
      docs.select("doc_id"), "doc_id")
      .select(col("id").alias("doc_id"), col("cluster_id"))
    val scored = clusters.join(
      docs.select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").alias("n_tokens")),
      Seq("doc_id"))
    Dedup.keepRepresentative(scored, "doc_id", "cluster_id", "n_tokens")
  }

  /** Cross-document duplicate-SPAN removal (ExactSubstr hygiene, Lee
    * et al. ACL 2022 shape): any token inside a 4-token window whose
    * content appears in ≥ 2 distinct documents is cut; the unique
    * remainder survives in order. k = 4 splits the fixture
    * non-degenerately at BOTH gate scales (sf0.01: 368/500 docs
    * affected, 18% of tokens cut; sf0.1: 4,971/5,000, 69%) and the
    * dup test is exact integer counting, so both engines agree.
    */
  private def q81_dup_spans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text",
      k = 4, minDocs = 2)

  /** SemDeDup semantic dedup, exact configuration: `nLists = 1` makes
    * the coarse quantizer degenerate (one cell = all pairs compared),
    * so the FULL labeling — intra-cell pair loop → connected components
    * → keep-min policy — is SQL-expressible and hash-checked end to
    * end. The clustered path (`nLists > 1`, not SQL-expressible) is
    * invariant-checked by q78 and spec-tested in `SimilaritySpec`.
    */
  private def q77_semantic_dedup(s: SparkSession, dir: String): DataFrame =
    // blockRows = 1024: the output is blockRows-invariant (spec-proven),
    // so the knob is pure parallelism — the single cell's n²/2 pair loop
    // splits into bounded block-pair tasks instead of one straggler
    // (round-9 probe: 4.1 → 3.4 s at sf0.1 vs the old single-block pin)
    Similarity.semanticDedup(
      Tables.embeddings(s, dir), "vec_id", "embedding",
      threshold = 0.4, nLists = 1, trainSample = 64, blockRows = 1024)

  /** IVF-PQ's quantization tier as a self-check (q41 pattern — the
    * sample-trained codebooks aren't SQL-expressible): vectors encode
    * to 16 one-byte codes (16× smaller than the float vectors), the
    * q22 query scans ONLY the code table via the asymmetric-distance
    * LUT, and the check counts how many of the exact inner-product
    * top-20 the PQ top-100 candidate set recovers (the scan→re-rank
    * recipe). Measured 20/20 at sf0.01 AND sf0.1;
    * the oracle pins ≥16 plus the true compression ratio.
    */
  private def q79_pq_ann(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val dim = q.length
    val m = 16
    val cbs = Similarity.trainProductQuantizer(
      emb, "vec_id", "embedding", dim, m = m, nCodes = 64, trainSample = 2048)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
    val pqTop = Similarity.pqTopK(codes, "id", "code", cbs, q, k = 100)
    val exactTop = emb.select(
      col("vec_id").alias("id"),
      graft.functions.expressions.DotProductFloat
        .dotF(col("embedding"), typedlit(q.map(_.toFloat))).alias("dot"))
      .orderBy(col("dot").desc, col("id").asc).limit(20)
    exactTop
      .select("id")
      .join(pqTop.select("id"), Seq("id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(
        lit(20L).as("k_exact"),
        lit(100L).as("k_pq"),
        lit(m.toLong).as("m"),
        lit(dim.toLong * 4L / m).as("compression_x"),
        (col("n_hits") >= 16).as("recall_ok"))
  }

  /** IVF-PQ composed ANN — q41's coarse cell routing over q79's PQ byte
    * codes with exact re-rank: the persisted-index tier a 100 TB
    * deployment scans (`(id, cell, code)` from ONE fused projection;
    * queries read 16 bytes/row of ~25% of rows, then re-rank 100
    * candidates through a broadcast join). Neither the quantizer nor
    * the codebooks are SQL-expressible (q41 pattern), so the oracle
    * pins the deterministic recall of the exact cosine top-20 within
    * the composed top-20 — measured 10/20 at sf0.01 and 12/20 at sf0.1
    * (BASELINE.md round-10 IVF-PQ recall; the fixture embeddings are
    * near-isotropic, so IVF recall tracks the probed fraction — 4/16 cells — rather than
    * cluster structure; spherical routing measured identical) — plus
    * the structural constants.
    */
  private def q82_ivf_pq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val dim = q.length
    val top = Similarity.ivfPqTopK(
      emb, "vec_id", "embedding", q, k = 20,
      nLists = 16, nProbe = 4, m = 16, nCodes = 64, rerank = 100,
      trainSample = 2048)
    val exactTop = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 20)
    exactTop
      .select(col("vec_id").alias("id"))
      .join(top.select("id"), Seq("id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(
        lit(20L).as("k_exact"),
        lit(16L).as("n_lists"),
        lit(4L).as("n_probe"),
        lit(16L).as("m"),
        lit(dim.toLong * 4L / 16L).as("compression_x"),
        (col("n_hits") >= 8).as("recall_ok"))
  }

  /** Span-level decontamination (q50's benchmark split × q81's span
    * machinery): tokens inside 4-gram windows that appear anywhere in
    * the benchmark docs are cut; the unique remainder survives. One
    * corpus scan, broadcast benchmark universe, doc-local interval cut.
    */
  private def q83_scrub_spans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontaminate.scrubSpans(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", k = 4)
  }

  /** Incremental NEAR-dup dedup (round 10) — the text twin of q80,
    * completing the (exact | near-dup) × (batch | incremental) matrix:
    * the batch (q72's `doc_id % 10 = 0` split) is LSH-checked against
    * the corpus band index (batch×corpus candidates only), verified with
    * exact Jaccard, and survivors dedup within the batch (LSH + CC +
    * keep-min). q20's parameters (n=3, k=16, bands=4, t=0.5), so the
    * oracle reuses the q20 band/signature CTE machinery plus q80's
    * recursive-closure labeling — the full per-row labeling is
    * hash-checked end to end.
    */
  private def q84_incremental_neardup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.incrementalNearDup(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
  }

  /** Batch ANN kNN JOIN (round 10): top-10 cosine neighbors for EVERY
    * query in the `vec_id % 40 = 0` set at once — the join-shaped ANN
    * the single-probe tiers (q22/q41/q79/q82) can't express, via
    * `Similarity.ivfKnnJoin` (native `nearest_cells` distributed query
    * routing; half the cells probed). The trained quantizer isn't
    * SQL-expressible (q41 pattern), so the oracle pins invariants over
    * the REAL per-query output: every query present, exactly k rows
    * each (probed candidate pools ≫ k), and mean recall vs the
    * nProbe = nLists twin — which probes every cell and therefore IS
    * the exact answer, trained once and shared — at least 0.6
    * (measured 0.823 at sf0.01 / 0.840 at sf0.1, min per-query 5/10,
    * BASELINE.md kNN-join recall sweep: probing 8/16 cells beats the naive 0.5
    * fraction because a query's own cell is always probed first).
    */
  private def q85_knn_join(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val k = 10
    val centroids = Similarity.trainCentroids(
      emb, "vec_id", "embedding", nLists = 16, seed = 42L, trainSample = 2048)
    val ann = Similarity.knnJoinWithCentroids(
      emb, "vec_id", "embedding", queries, "qid", "qvec", k, nProbe = 8, centroids)
    val exact = Similarity.knnJoinWithCentroids(
      emb, "vec_id", "embedding", queries, "qid", "qvec", k, nProbe = 16, centroids)
    // the denominator is the QUERY SET itself, not ann's output: a
    // query with zero ann rows (all probed cells empty) or zero
    // ann∩exact overlap must still count — with n_ann/n_hit = 0 —
    // rather than silently vanish from the mean and desync n_queries
    // from the oracle's query count
    val perQuery = ann.groupBy("qid").agg(count(lit(1)).as("n_ann"))
    val hits = ann.join(exact, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    queries.select("qid")
      .join(perQuery, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .agg(
        count(lit(1)).cast("long").as("nq"),
        min(coalesce(col("n_ann"), lit(0L))).as("min_n"),
        max(coalesce(col("n_ann"), lit(0L))).as("max_n"),
        avg(coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k.toDouble)).as("recall"))
      .select(
        col("nq").as("n_queries"),
        lit(k.toLong).as("k"),
        (col("min_n") === k && col("max_n") === k).as("rows_ok"),
        (col("recall") >= 0.6).as("recall_ok"))
  }

  /** Incremental semantic dedup, exact configuration (`nLists = 1`,
    * q77's pattern): the batch (`vec_id % 5 = 0`) is near-dup-checked
    * against the corpus (the rest) and then deduplicated within
    * itself — corpus-hit detection, survivor closure, and the keep-min
    * policy are all SQL-expressible in the single-cell configuration,
    * so the full per-row labeling is hash-checked end to end.
    */
  private def q80_incremental_semantic(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.incrementalSemanticDedup(
      emb.filter(col("vec_id") % 5 === 0),
      emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", threshold = 0.4, nLists = 1, trainSample = 64)
  }

  /** SemDeDup, REAL clustered configuration (`nLists = 8`) — the
    * quantizer is sample-trained k-means (not SQL-expressible; q41
    * pattern), so the oracle pins structural invariants computed over
    * the actual labeling IN Spark: the output partitions the input
    * (every vector labeled exactly once), each dup group keeps exactly
    * one representative and is labeled by its min member id, and no
    * group straddles a cell (edges are intra-cell, so components must
    * be too). One aggregation pipeline, one output row, no collect.
    */
  private def q78_semantic_selfcheck(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val labeled = Similarity.semanticDedup(
      emb, "vec_id", "embedding", threshold = 0.4, nLists = 8, trainSample = 1024)
    val perGroup = labeled
      .groupBy("dup_group")
      .agg(
        sum("kept").as("n_kept"),
        min("id").as("min_id"),
        countDistinct("cell").as("n_cells"),
        countDistinct("id").as("n_ids"),
        count(lit(1)).as("n_members"),
        max(when(col("kept") === 1, col("id"))).as("kept_id"))
    val summary = perGroup.agg(
      sum("n_members").cast("long").as("n_rows"),
      max(when(col("n_ids") =!= col("n_members"), 1).otherwise(0)).as("bad_dup_id"),
      max(when(col("n_kept") =!= 1, 1).otherwise(0)).as("bad_kept"),
      max(when(col("min_id") =!= col("dup_group"), 1).otherwise(0)).as("bad_label"),
      max(when(col("kept_id") =!= col("dup_group"), 1).otherwise(0)).as("bad_rep"),
      max(when(col("n_cells") =!= 1, 1).otherwise(0)).as("bad_cell"))
    val embCount = emb.agg(count(lit(1)).as("n_emb"))
    summary
      .crossJoin(embCount)
      .select(
        col("n_rows").as("n_vecs"),
        lit(8L).as("n_lists"),
        (col("n_rows") === col("n_emb") && col("bad_dup_id") === 0).as("partition_ok"),
        (col("bad_kept") === 0 && col("bad_label") === 0 && col("bad_rep") === 0)
          .as("policy_ok"),
        (col("bad_cell") === 0).as("single_cell_ok"))
  }

  /** Corpus-level line dedup (C4/RefinedWeb boilerplate removal). The
    * fixture's documents are single-line, so segmentation runs at token
    * granularity (`" "`); the 180%-of-doc-count relative threshold
    * splits the fixture vocabulary non-degenerately at sf0.01 AND sf0.1
    * (per-token freq/nDocs ratios cluster in [1.68, 1.93]) and the
    * predicate is integer arithmetic, so both engines agree exactly.
    */
  private def q74_line_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(Tables.documents(s, dir), "doc_id", "text",
      delim = " ", maxRelFreqPct = 180)

  // =========================================================================
  // Registry
  // =========================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_tpch_q1" -> (q01_tpch_q1 _),
    "q02_kv_merge" -> (q02_kv_merge _),
    "q03_star_join" -> (q03_star_join _),
    "q04_wordcount" -> (q04_wordcount _),
    "q05_topk_words" -> (q05_topk_words _),
    "q06_filter_pushdown" -> (q06_filter_pushdown _),
    "q07_string_clean" -> (q07_string_clean _),
    "q08_array_ops" -> (q08_array_ops _),
    "q09_running_total" -> (q09_running_total _),
    "q10_tumbling_window" -> (q10_tumbling_window _),
    "q11_distinct_users" -> (q11_distinct_users _),
    "q12_label_prep" -> (q12_label_prep _),
    "q13_sessionize" -> (q13_sessionize _),
    "q14_semi_join" -> (q14_semi_join _),
    "q15_anti_join" -> (q15_anti_join _),
    "q16_irc_parse" -> (q16_irc_parse _),
    "q17_dedup_exact" -> (q17_dedup_exact _),
    "q18_ngram_jaccard" -> (q18_ngram_jaccard _),
    "q19_minhash_sig" -> (q19_minhash_sig _),
    "q20_minhash_lsh" -> (q20_minhash_lsh _),
    "q21_simhash" -> (q21_simhash _),
    "q22_cosine_topk" -> (q22_cosine_topk _),
    "q23_embedding_neardup" -> (q23_embedding_neardup _),
    "q24_langid" -> (q24_langid _),
    "q25_quality" -> (q25_quality _),
    "q26_fingerprint" -> (q26_fingerprint _),
    "q27_multimodal" -> (q27_multimodal _),
    "q28_sentiment" -> (q28_sentiment _),
    "q29_sliding_window" -> (q29_sliding_window _),
    "q30_shipping_priority" -> (q30_shipping_priority _),
    "q31_local_supplier_volume" -> (q31_local_supplier_volume _),
    "q32_asof_join" -> (q32_asof_join _),
    "q33_rollup" -> (q33_rollup _),
    "q34_ngram_jaccard_filtered" -> (q34_ngram_jaccard_filtered _),
    "q35_training_prep" -> (q35_training_prep _),
    "q36_cube" -> (q36_cube _),
    "q37_percentile" -> (q37_percentile _),
    "q38_rank_topn" -> (q38_rank_topn _),
    "q39_session_window" -> (q39_session_window _),
    "q40_hll_users" -> (q40_hll_users _),
    "q41_ivf_ann" -> (q41_ivf_ann _),
    "q42_skew_salted" -> (q42_skew_salted _),
    "q43_range_join" -> (q43_range_join _),
    "q44_grouping_sets" -> (q44_grouping_sets _),
    "q45_winnow_fingerprints" -> (q45_winnow_fingerprints _),
    "q46_set_ops" -> (q46_set_ops _),
    "q47_pivot" -> (q47_pivot _),
    "q48_unpivot" -> (q48_unpivot _),
    "q49_dup_clusters" -> (q49_dup_clusters _),
    "q50_decontaminate" -> (q50_decontaminate _),
    "q51_stratified_sample" -> (q51_stratified_sample _),
    "q52_tfidf" -> (q52_tfidf _),
    "q53_quantile_buckets" -> (q53_quantile_buckets _),
    "q54_cust_order_dist" -> (q54_cust_order_dist _),
    "q55_exists_agg" -> (q55_exists_agg _),
    "q56_srp_neardup" -> (q56_srp_neardup _),
    "q57_gapfill" -> (q57_gapfill _),
    "q58_window_analytics" -> (q58_window_analytics _),
    "q59_repetition" -> (q59_repetition _),
    "q60_json_props" -> (q60_json_props _),
    "q61_promo_revenue" -> (q61_promo_revenue _),
    "q62_dedup_retention" -> (q62_dedup_retention _),
    "q63_token_count" -> (q63_token_count _),
    "q64_pii_scrub" -> (q64_pii_scrub _),
    "q65_disjunctive" -> (q65_disjunctive _),
    "q66_returned_items" -> (q66_returned_items _),
    "q67_sales_opportunity" -> (q67_sales_opportunity _),
    "q68_pack_sequences" -> (q68_pack_sequences _),
    "q69_cohort_retention" -> (q69_cohort_retention _),
    "q70_chunk_overlap" -> (q70_chunk_overlap _),
    "q71_heavy_hitters" -> (q71_heavy_hitters _),
    "q72_incremental_dedup" -> (q72_incremental_dedup _),
    "q73_mixture_sample" -> (q73_mixture_sample _),
    "q74_line_dedup" -> (q74_line_dedup _),
    "q75_leakage_split" -> (q75_leakage_split _),
    "q76_keep_best" -> (q76_keep_best _),
    "q77_semantic_dedup" -> (q77_semantic_dedup _),
    "q78_semantic_selfcheck" -> (q78_semantic_selfcheck _),
    "q79_pq_ann" -> (q79_pq_ann _),
    "q80_incremental_semantic" -> (q80_incremental_semantic _),
    "q81_dup_spans" -> (q81_dup_spans _),
    "q82_ivf_pq" -> (q82_ivf_pq _),
    "q83_scrub_spans" -> (q83_scrub_spans _),
    "q84_incremental_neardup" -> (q84_incremental_neardup _),
    "q85_knn_join" -> (q85_knn_join _),
    "q86_bloom_decontaminate" -> (q86_bloom_decontaminate _),
    "q87_quality_prune" -> (q87_quality_prune _),
    "q88_shard_assignments" -> (q88_shard_assignments _),
    "q89_vocab_coverage" -> (q89_vocab_coverage _),
    "q90_bpe_pairs" -> (q90_bpe_pairs _),
    "q91_group_cap" -> (q91_group_cap _),
    "q92_contamination_report" -> (q92_contamination_report _),
    "q93_bpe_tokenize" -> (q93_bpe_tokenize _),
    "q94_temperature_mix" -> (q94_temperature_mix _),
    "q95_bpe_pack" -> (q95_bpe_pack _),
    "q96_bpe_vocab" -> (q96_bpe_vocab _),
    "q97_shard_manifest" -> (q97_shard_manifest _),
    "q98_source_token_stats" -> (q98_source_token_stats _),
    "q99_semantic_decon" -> (q99_semantic_decon _),
    "q100_bpe_multilevel" -> (q100_bpe_multilevel _),
    "q101_ngram_perplexity" -> (q101_ngram_perplexity _),
    "q102_containment" -> (q102_containment _),
    "q103_zorder_stats" -> (q103_zorder_stats _),
    "q104_quality_profile" -> (q104_quality_profile _),
    "q105_prototype_prune" -> (q105_prototype_prune _),
    "q106_bm25" -> (q106_bm25 _),
    "q107_snapshot_diff" -> (q107_snapshot_diff _),
    "q108_bm25_join" -> (q108_bm25_join _),
    "q109_mean_pool" -> (q109_mean_pool _),
    "q110_source_overlap" -> (q110_source_overlap _),
    "q111_funnel" -> (q111_funnel _),
    "q112_pmi_collocations" -> (q112_pmi_collocations _),
    "q113_source_divergence" -> (q113_source_divergence _),
    "q114_threshold_sweep" -> (q114_threshold_sweep _),
    "q115_hybrid_rank" -> (q115_hybrid_rank _),
    "q116_source_dup_stats" -> (q116_source_dup_stats _),
    "q117_hybrid_join" -> (q117_hybrid_join _),
    "q118_perplexity_hardened" -> (q118_perplexity_hardened _),
    "q119_threshold_sweep_filtered" -> (q119_threshold_sweep_filtered _),
    "q120_perplexity_autoskew" -> (q120_perplexity_autoskew _),
    "q121_html_extract" -> (q121_html_extract _),
    "q122_edit_join" -> (q122_edit_join _),
    "q123_edit_join_incremental" -> (q123_edit_join_incremental _),
    "q124_countmin_freq" -> (q124_countmin_freq _),
    "q125_cdc_profile" -> (q125_cdc_profile _),
    "q126_kmv_distinct" -> (q126_kmv_distinct _),
    "q127_hist_quantiles" -> (q127_hist_quantiles _),
    "q128_cdc_containment" -> (q128_cdc_containment _),
    "q129_interval_join" -> (q129_interval_join _),
    "q130_unicode_norm" -> (q130_unicode_norm _),
    "q131_key_overlap" -> (q131_key_overlap _),
    "q132_weighted_sample" -> (q132_weighted_sample _),
    "q133_char_entropy" -> (q133_char_entropy _),
    "q134_asof_tolerance" -> (q134_asof_tolerance _),
    "q135_dsir_select" -> (q135_dsir_select _),
    "q136_int8_topk" -> (q136_int8_topk _),
    "q137_gopher_gate" -> (q137_gopher_gate _),
    "q138_ivf_sq8" -> (q138_ivf_sq8 _),
    "q139_hard_negatives" -> (q139_hard_negatives _),
    "q140_data_card" -> (q140_data_card _),
    "q141_edit_join_guarded" -> (q141_edit_join_guarded _),
    "q142_url_normalize" -> (q142_url_normalize _),
    "q143_unigram_tokenize" -> (q143_unigram_tokenize _),
    "q144_phash_neardup" -> (q144_phash_neardup _),
    "q145_quality_classifier" -> (q145_quality_classifier _),
    "q146_url_dedup" -> (q146_url_dedup _),
    "q147_domain_cap" -> (q147_domain_cap _),
    "q148_attribute_tags" -> (q148_attribute_tags _),
    "q149_incremental_url_dedup" -> (q149_incremental_url_dedup _),
    "q150_classifier_holdout" -> (q150_classifier_holdout _),
    "q151_classifier_calibration" -> (q151_classifier_calibration _),
    "q152_source_packing" -> (q152_source_packing _),
    "q153_domain_boilerplate" -> (q153_domain_boilerplate _),
    "q154_embedding_probe" -> (q154_embedding_probe _),
    "q155_luhn_scrub" -> (q155_luhn_scrub _),
    "q156_boilerplate_profile" -> (q156_boilerplate_profile _),
    "q157_probe_holdout" -> (q157_probe_holdout _),
    "q158_segment_dedup" -> (q158_segment_dedup _),
    "q159_domain_blocklist" -> (q159_domain_blocklist _),
    "q160_probe_calibration" -> (q160_probe_calibration _),
    "q161_learned_mixture" -> (q161_learned_mixture _),
    "q162_mod97_scrub" -> (q162_mod97_scrub _),
    "q163_bq_topk" -> (q163_bq_topk _),
    "q164_secret_scrub" -> (q164_secret_scrub _),
    "q165_c4_clean" -> (q165_c4_clean _),
    "q166_script_stats" -> (q166_script_stats _),
    "q167_bq_rerank" -> (q167_bq_rerank _),
    "q168_template_families" -> (q168_template_families _),
    "q169_front_door" -> (q169_front_door _),
    "q170_template_cap" -> (q170_template_cap _),
    "q171_script_routed_gate" -> (q171_script_routed_gate _),
    "q172_freeze_gated_deploy" -> (q172_freeze_gated_deploy _),
    "q173_bq_rerank_srp" -> (q173_bq_rerank_srp _),
    "q174_front_door6" -> (q174_front_door6 _),
    "q175_path_blocklist" -> (q175_path_blocklist _)
  )

  /** The Stupid-Backoff perplexity oracle, shared VERBATIM by q101 and
    * its skew-hardened twin q118 (row-identical by construction —
    * per-term evaluation order mirrors `NgramLm.perplexity` exactly so
    * both engines round the same IEEE double into the same BIGINT
    * micro-unit; the per-doc sums are then exact integers).
    */
  private def sqlPerplexity: String = sqlPerplexityOver("text")

  /** The same oracle over a derived text expression — q120 feeds the
    * Zipf-collapsed corpus through it (the collapse happens BEFORE
    * tokenization on both engines, so the shared pipeline below stays
    * verbatim).
    */
  private def sqlPerplexityOver(textExpr: String): String =
    s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t
                    FROM (SELECT doc_id, $textExpr AS text FROM documents)),
        train AS (SELECT * FROM tk WHERE doc_id % 10 < 8),
        heldout AS (SELECT * FROM tk WHERE doc_id % 10 >= 8),
        uni AS (SELECT w, count(*) AS c1
                FROM (SELECT unnest(t) AS w FROM train) GROUP BY w),
        n AS (SELECT count(*) AS n_tok
              FROM (SELECT unnest(t) AS w FROM train)),
        bi AS (SELECT w1, w2, count(*) AS c12
               FROM (SELECT t[i] AS w1, t[i+1] AS w2
                     FROM train,
                          LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i))
               GROUP BY w1, w2),
        hb AS (SELECT doc_id, w1, w2, count(*) AS tf
               FROM (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                     FROM heldout,
                          LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i))
               GROUP BY doc_id, w1, w2),
        terms AS (
          SELECT hb.doc_id, hb.tf,
                 CASE
                   WHEN bi.c12 IS NOT NULL THEN ln(CAST(bi.c12 AS DOUBLE) / u1.c1)
                   WHEN u2.c1 IS NOT NULL THEN ln(0.4 * u2.c1 / n.n_tok)
                   ELSE ln(0.4 / n.n_tok)
                 END AS logp
          FROM hb
          LEFT JOIN bi ON hb.w1 = bi.w1 AND hb.w2 = bi.w2
          LEFT JOIN uni u1 ON hb.w1 = u1.w
          LEFT JOIN uni u2 ON hb.w2 = u2.w
          CROSS JOIN n),
        agg AS (SELECT doc_id,
                       CAST(sum(tf) AS BIGINT) AS n_bigrams,
                       CAST(sum(CAST(round(tf * logp * 1000000) AS BIGINT)) AS BIGINT)
                         AS nll_micro
                FROM terms GROUP BY doc_id)
        SELECT doc_id, n_bigrams, nll_micro,
               CAST(nll_micro AS DOUBLE) / 1000000.0 / CAST(n_bigrams AS DOUBLE)
                 AS avg_nll
        FROM agg"""

  /** Shared DuckDB gopher-stats CTE — `GopherStatsExpr`'s seven rule
    * inputs over an upstream `tk(doc_id, text, t, ls)` — ONE
    * definition for every oracle that consumes the rule gate (q137,
    * q145's teacher labels, q148's tag column), mirroring the Spark
    * side's single `gopherRules` definition.
    */
  private def sqlGopherStCte: String =
    s"""st AS (SELECT doc_id, t,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS DOUBLE)
                   / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_token_len,
                 CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                   / CAST(greatest(len(t), 1) AS DOUBLE) AS frac_alpha,
                 CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                   s -> list_contains(t, s))) AS BIGINT) AS n_stop_hits,
                 CAST(len(list_filter(ls, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
                   / CAST(len(ls) AS DOUBLE) AS frac_ellipsis_lines,
                 CAST(len(list_filter(ls, l ->
                   list_contains(['-','*','•'], substr(ltrim(l, ' ' || chr(9)), 1, 1)))) AS DOUBLE)
                   / CAST(len(ls) AS DOUBLE) AS frac_bullet_lines,
                 CAST((length(text) - length(replace(text, '#', '')))
                      + (length(text) - length(replace(text, '…', '')))
                      + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
                   / CAST(greatest(len(t), 1) AS DOUBLE) AS symbol_ratio
               FROM tk)"""

  /** DuckDB twin of [[variantGroupUrl]] — the `u(doc_id, url)` CTE the
    * q146/q149 oracles feed into [[sqlUrlNormChain]].
    */
  private def sqlVariantGroupUrlCte: String =
    s"""u AS (
            SELECT doc_id,
              CASE WHEN doc_id % 17 = 0 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
                ELSE CASE doc_id % 4
                  WHEN 0 THEN 'http://www.site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                    || '.example.com/article/' || CAST(doc_id // 4 AS VARCHAR)
                    || '?id=' || CAST(doc_id // 4 AS VARCHAR)
                  WHEN 1 THEN 'HTTP://WWW.Site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                    || '.Example.COM:80/article/' || CAST(doc_id // 4 AS VARCHAR)
                    || '?id=' || CAST(doc_id // 4 AS VARCHAR) || '#frag'
                  WHEN 2 THEN 'http://www.site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                    || '.example.com/articl%65/' || CAST(doc_id // 4 AS VARCHAR)
                    || '?id=' || CAST(doc_id // 4 AS VARCHAR) || '&utm_source=feed'
                  ELSE 'http://www.site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                    || '.example.com/article/' || CAST(doc_id // 4 AS VARCHAR)
                    || '?utm_campaign=x&id=' || CAST(doc_id // 4 AS VARCHAR)
                END
              END AS url
            FROM documents)"""

  /** DuckDB twin of [[frontDoorUrl]] — the `u(doc_id, url)` CTE the
    * q169/q174 oracles feed into [[sqlUrlNormChain]]. ONE definition,
    * like the Spark side.
    */
  private def sqlFrontDoorUrlCte: String =
    """u AS (
            SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'http://' ||
                CASE (doc_id // 2) % 4 WHEN 0 THEN 'www' WHEN 1 THEN 'cdn'
                     WHEN 2 THEN 'static' ELSE 'm' END
                || '.seofarm.com/p/' || CAST(doc_id AS VARCHAR)
              ELSE 'http://www.site' || CAST(doc_id % 7 AS VARCHAR)
                || '.com/p/' || CAST(doc_id AS VARCHAR)
              END AS url
            FROM documents)"""

  /** DuckDB twin of [[frontDoorTail]] — the boilerplate-mine + C4 +
    * gate CTE chain over an admitted CTE `input(doc_id, domain, text
    * [, carry…])`, ending with `gated`. `carry` is the extra column
    * list carried through (e.g. ", tag_fp"), `carryC` its
    * `c.`-qualified form. ONE definition for the q169/q174 oracles so
    * the replayed stages can never drift from each other.
    */
  private def sqlFrontDoorTailCtes(
      input: String, carry: String, carryC: String): String =
    s"""slice AS (SELECT * FROM $input WHERE doc_id % 3 > 0),
          sg AS (SELECT DISTINCT doc_id, domain, unnest(string_split(text, ' ')) AS s
                 FROM slice),
          pages AS (SELECT domain, count(*) AS n_pages FROM slice GROUP BY domain),
          hot AS (SELECT g.domain, g.s
                  FROM (SELECT domain, s, count(*) AS f FROM sg GROUP BY domain, s) g
                  JOIN pages USING (domain)
                  WHERE n_pages >= 10 AND f * 100 > n_pages * 75),
          aseg AS (SELECT doc_id, domain, w.s AS s, w.pos AS pos
                   FROM (SELECT doc_id, domain,
                           unnest(list_transform(string_split(text, ' '),
                             (x, i) -> struct_pack(s := x, pos := i))) AS w
                         FROM $input)),
          keptw AS (SELECT a.doc_id, a.s, a.pos
                    FROM aseg a LEFT JOIN hot h ON h.domain = a.domain AND h.s = a.s
                    WHERE h.s IS NULL),
          bo AS (SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS ct,
                        count(*) AS nk
                 FROM keptw GROUP BY doc_id),
          boiled AS (SELECT $input.doc_id, $input.domain$carry,
                            coalesce(bo.ct, '') AS ct,
                            CAST(coalesce(bo.nk, 0) AS BIGINT) AS n_boiler_kept
                     FROM $input LEFT JOIN bo USING (doc_id)),
          pg AS (SELECT doc_id, domain$carry, n_boiler_kept,
                   'Automated crawl record ' || CAST(doc_id AS VARCHAR)
                   || ' from ' || domain || ' follows.' || chr(10)
                   || CASE WHEN doc_id % 5 = 0
                           THEN 'Please enable JavaScript to view this page.' || chr(10)
                           ELSE '' END
                   || 'Home About Contact Privacy Terms' || chr(10)
                   || CASE WHEN doc_id % 13 = 0
                           THEN 'function f() { return 1; }' || chr(10) ELSE '' END
                   || substr(ct, 1, 80) || ' tail words end here.' AS page
                 FROM boiled),
          ln AS (SELECT doc_id, domain$carry, n_boiler_kept, page,
                   list_transform(string_split(page, chr(10)),
                     l -> rtrim(l, ' ' || chr(9) || chr(13))) AS ls
                 FROM pg),
          c4 AS (SELECT doc_id, domain$carry, n_boiler_kept, page,
                   list_filter(ls, l ->
                     length(l) > 0
                     AND substr(l, length(l), 1) IN ('.', '!', '?', '"')
                     AND len(list_filter(string_split_regex(l, '[ ' || chr(9) || ']+'),
                           w -> w <> '')) >= 5
                     AND NOT contains(lower(l), 'javascript')) AS kept
                 FROM ln),
          c4k AS (SELECT doc_id, domain$carry, n_boiler_kept,
                         array_to_string(kept, chr(10)) AS clean_page
                  FROM c4
                  WHERE len(kept) >= 2 AND NOT contains(page, '{')
                    AND NOT contains(lower(page), 'lorem ipsum')),
          tk AS (SELECT doc_id, clean_page AS text, ${sqlTokens("clean_page")} AS t,
                        string_split(clean_page, chr(10)) AS ls
                 FROM c4k),
          $sqlGopherStCte,
          gated AS (SELECT c.doc_id, c.domain$carryC, c.n_boiler_kept,
                           c.clean_page
                    FROM c4k c JOIN st ON st.doc_id = c.doc_id
                    WHERE ${sqlGopherKeep(18L, 0L)})"""

  /** The seven-rule keep predicate over [[sqlGopherStCte]]'s columns. */
  private def sqlGopherKeep(minTokens: Long, minStopHits: Long): String =
    s"""coalesce(n_tokens >= $minTokens AND n_tokens <= 100000, FALSE)
        AND coalesce(mean_token_len >= 3.0 AND mean_token_len <= 10.0, FALSE)
        AND coalesce(frac_alpha >= 0.8, FALSE)
        AND coalesce(n_stop_hits >= $minStopHits, FALSE)
        AND coalesce(frac_ellipsis_lines <= 0.3, FALSE)
        AND coalesce(frac_bullet_lines <= 0.9, FALSE)
        AND coalesce(symbol_ratio <= 0.1, FALSE)"""

  /** q145's DuckDB oracle: the ENTIRE fixed-point GD trainer replayed
    * in SQL — Gopher teacher labels (the q137 rule arithmetic), the
    * hashed-BoW + bias + integer-log2-length-bucket feature rows, then
    * `iters` GENERATED weight-update rounds (margin / fast-sigmoid
    * error / gradient / update CTEs per round, `MATERIALIZED` so
    * DuckDB evaluates the chain once instead of re-inlining forty
    * deep), and the final per-doc margin + prediction. Every
    * cross-engine quantity is an integer micro or a single-expression
    * IEEE double in the same evaluation order as the Spark side
    * ([[graft.operators.QualityClassifier]]), and both engines round
    * HALF_UP — so the gate hash-checks forty rounds of training, not
    * just the final predictions' shape.
    */
  private def sqlDistillOracle(
      dim: Int, iters: Int, lr: Double,
      minTokens: Long, minStopHits: Long,
      trainWhere: Option[String] = None): String = {
    val width = dim + 1 + 16
    // trainWhere (q150): gradients come from the TRAIN slice only;
    // scoring stays over the full corpus with an is_train column
    val tf = trainWhere.map(w => s"WHERE $w ").getOrElse("")
    val base =
      s"""tk AS (SELECT doc_id, text, ${sqlTokens("text")} AS t,
                        string_split(text, chr(10)) AS ls
                 FROM documents),
          $sqlGopherStCte,
          lab AS (SELECT doc_id, t, n_tokens,
                   CASE WHEN ${sqlGopherKeep(minTokens, minStopHits)}
                   THEN 1 ELSE 0 END AS y
                 FROM st),
          feat AS MATERIALIZED (
            SELECT doc_id, y, feat FROM (
              SELECT doc_id, y,
                     unnest(list_distinct(list_transform(t, x -> ${sqlMd5h60("x")} % $dim))) AS feat
              FROM lab
              UNION ALL
              SELECT doc_id, y, $dim AS feat FROM lab
              UNION ALL
              SELECT doc_id, y,
                     $dim + 1 + least(length(printf('%b', coalesce(n_tokens, 0) + 1)) - 1, 15) AS feat
              FROM lab)),
          nn AS (SELECT count(*) AS n FROM lab $tf),
          w0 AS (SELECT unnest(range(0, $width)) AS feat, CAST(0 AS BIGINT) AS w)"""
    val rounds = (1 to iters).map { t =>
      val p = t - 1
      s"""z$t AS MATERIALIZED (
            SELECT f.doc_id, any_value(f.y) AS y, CAST(sum(w.w) AS BIGINT) AS z
            FROM feat f JOIN w$p w USING (feat) $tf GROUP BY f.doc_id),
          e$t AS (
            SELECT doc_id,
              CAST(round((0.5*(1.0 + (z/1000000.0)/(1.0 + abs(z/1000000.0))))*1000000.0) AS BIGINT)
                - y*1000000 AS e
            FROM z$t),
          g$t AS (
            SELECT f.feat, CAST(sum(e.e) AS BIGINT) AS g
            FROM feat f JOIN e$t e USING (doc_id) GROUP BY f.feat),
          w$t AS MATERIALIZED (
            SELECT w.feat,
                   w.w - CAST(round(coalesce(g.g, 0) / (SELECT n FROM nn) * $lr) AS BIGINT) AS w
            FROM w$p w LEFT JOIN g$t g USING (feat))"""
    }
    val isTrain = trainWhere
      .map(w => s",\n               ($w) AS is_train")
      .getOrElse("")
    s"""WITH ${(base +: rounds).mkString(",\n")}
        SELECT doc_id, y = 1 AS label, z AS score_micro, z >= 0 AS pred,
               (z >= 0) = (y = 1) AS correct$isTrain
        FROM (SELECT f.doc_id, any_value(f.y) AS y, CAST(sum(w.w) AS BIGINT) AS z
              FROM feat f JOIN w$iters w USING (feat) GROUP BY f.doc_id)"""
  }

  /** The q154 embedding-probe trainer replayed in DuckDB — the
    * [[sqlDistillOracle]] chain with WEIGHTED int8-code features:
    * quantization re-derived from the raw floats (max-abs scale,
    * half-away-from-zero round, ±127 clamp — the identical double ops
    * both engines execute), then per GD round margin join, rational
    * fast-sigmoid error, `e·code` gradients, HALF_UP weight update.
    * All MATERIALIZED (the inlined chain is exponential — the q145
    * lesson).
    */
  private def sqlProbeOracle(
      dim: Int, iters: Int, lr: Double,
      trainWhere: Option[String] = None): String = {
    val width = dim + 1
    // trainWhere (q157): gradients come from the TRAIN slice only;
    // scoring stays over the full table with an is_train column
    val tf = trainWhere.map(w => s"WHERE $w ").getOrElse("")
    val base =
      s"""emb AS (SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE 0 END AS y, embedding
                  FROM embeddings),
          mx AS (SELECT vec_id, y, embedding,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
                 FROM emb),
          cd AS MATERIALIZED (
            SELECT vec_id, y, CAST(u.j - 1 AS BIGINT) AS j,
                   CASE WHEN m > 0 THEN greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
                        CAST(round(CAST(embedding[CAST(u.j AS INT)] AS DOUBLE) / (m / 127.0)) AS BIGINT)))
                        ELSE 0 END AS c
            FROM mx, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) u
            UNION ALL
            SELECT vec_id, y, CAST($dim AS BIGINT) AS j, CAST(1 AS BIGINT) AS c FROM emb),
          nn AS (SELECT count(*) AS n FROM emb $tf),
          w0 AS (SELECT unnest(range(0, $width)) AS feat, CAST(0 AS BIGINT) AS w)"""
    val rounds = (1 to iters).map { t =>
      val p = t - 1
      s"""z$t AS MATERIALIZED (
            SELECT c.vec_id, any_value(c.y) AS y, CAST(sum(c.c * w.w) AS BIGINT) AS z
            FROM cd c JOIN w$p w ON c.j = w.feat $tf GROUP BY c.vec_id),
          e$t AS (
            SELECT vec_id,
              CAST(round((0.5*(1.0 + (z/1000000.0)/(1.0 + abs(z/1000000.0))))*1000000.0) AS BIGINT)
                - y*1000000 AS e
            FROM z$t),
          g$t AS (
            SELECT c.j AS feat, CAST(sum(e.e * c.c) AS BIGINT) AS g
            FROM cd c JOIN e$t e USING (vec_id) GROUP BY c.j),
          w$t AS MATERIALIZED (
            SELECT w.feat,
                   w.w - CAST(round(coalesce(g.g, 0) / (SELECT n FROM nn) * $lr) AS BIGINT) AS w
            FROM w$p w LEFT JOIN g$t g USING (feat))"""
    }
    val isTrain = trainWhere
      .map(w => s",\n               ($w) AS is_train")
      .getOrElse("")
    s"""WITH ${(base +: rounds).mkString(",\n")}
        SELECT vec_id, y = 1 AS label, z AS score_micro, z >= 0 AS pred,
               (z >= 0) = (y = 1) AS correct$isTrain
        FROM (SELECT c.vec_id, any_value(c.y) AS y, CAST(sum(c.c * w.w) AS BIGINT) AS z
              FROM cd c JOIN w$iters w ON c.j = w.feat GROUP BY c.vec_id)"""
  }

  /** The q161 mixture-weights trainer replayed in DuckDB — the
    * [[graft.operators.Mixture]] multiplicative-weights chain: one
    * per-source signal CTE, then per round a weighted-average CTE, a
    * multiplicative-step CTE, a renormalize CTE, and a smoothing CTE —
    * every quantity the same integer micros / fixed-order double ops
    * the driver-side trainer executes (prototyped bit-for-bit), then
    * the q73 rate/hash-predicate resample over the learned weights.
    */
  private def sqlMixtureOracle(
      iters: Int, lr: String, epsMicro: Long, budgetPermille: Int,
      signalSql: String): String = {
    val keep = 1000000L - epsMicro
    val base =
      s"""src AS MATERIALIZED (
            SELECT source, count(*) AS n,
                   CAST(round(CAST(sum(CASE WHEN $signalSql THEN 1 ELSE 0 END) AS DOUBLE)
                     * 1000000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS q
            FROM documents WHERE source IS NOT NULL GROUP BY source),
          k AS (SELECT count(*) AS k,
                       CAST(round($epsMicro / CAST(count(*) AS DOUBLE)) AS BIGINT) AS eps_per
                FROM src),
          w0 AS (SELECT source,
                        CAST(round(1000000.0 / CAST((SELECT k FROM k) AS DOUBLE)) AS BIGINT) AS w
                 FROM src)"""
    val rounds = (1 to iters).map { t =>
      val p = t - 1
      s"""a$t AS (SELECT CAST(round(CAST(sum(w.w * s.q) AS DOUBLE)
                    / CAST(sum(w.w) AS DOUBLE)) AS BIGINT) AS avg
                  FROM w$p w JOIN src s USING (source)),
          r$t AS MATERIALIZED (SELECT w.source,
                    CAST(round(CAST(w.w AS DOUBLE)
                      * CAST(1000000 + CAST(round($lr * CAST(s.q - (SELECT avg FROM a$t) AS DOUBLE)) AS BIGINT) AS DOUBLE)
                      / 1000000.0) AS BIGINT) AS w
                  FROM w$p w JOIN src s USING (source)),
          n$t AS (SELECT source,
                    CAST(round(CAST(w AS DOUBLE) * 1000000.0
                      / CAST((SELECT sum(w) FROM r$t) AS DOUBLE)) AS BIGINT) AS w
                  FROM r$t),
          w$t AS MATERIALIZED (SELECT source,
                    CAST(round(CAST(w AS DOUBLE) * CAST($keep AS DOUBLE) / 1000000.0) AS BIGINT)
                      + (SELECT eps_per FROM k) AS w
                  FROM n$t)"""
    }
    s"""WITH ${(base +: rounds).mkString(",\n")},
        mixtarget AS (
          SELECT s.source, s.n, s.q, w.w,
                 CAST(round(CAST((SELECT sum(n) FROM src) * $budgetPermille // 1000 AS DOUBLE)
                   * CAST(w.w AS DOUBLE) / 1000000.0) AS BIGINT) AS n_target
          FROM src s JOIN w$iters w USING (source)),
        mixrate AS (SELECT source, n AS n_docs, q AS quality_micro, w AS weight_micro,
                      n_target,
                      least(1000, n_target * 1000 // n) AS rate_pm
               FROM mixtarget)
        SELECT d.source, d.doc_id, r.n_docs, r.quality_micro, r.weight_micro,
               r.n_target, CAST(r.rate_pm AS BIGINT) AS rate_pm
        FROM documents d JOIN mixrate r ON d.source = r.source
        WHERE ${sqlMd5h60("CAST(d.doc_id AS VARCHAR)")} % 1000 < r.rate_pm"""
  }

  def oracleSql: Map[String, String] = Map(
    "q01_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_kv_merge" ->
      """WITH a AS (SELECT o_custkey, count(*) AS cnt FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
              b AS (SELECT o_custkey, count(*) AS cnt FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_custkey)
         SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
                COALESCE(a.cnt, 0) + COALESCE(b.cnt, 0) AS cnt
         FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey""",
    "q03_star_join" ->
      """SELECT r_name, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q04_wordcount" ->
      s"""SELECT w AS word, count(*) AS count
          FROM (SELECT unnest(${sqlTokens("text")}) AS w FROM documents)
          WHERE length(w) > 3 AND w NOT IN ${sqlList(stopEn)}
          GROUP BY w""",
    "q05_topk_words" ->
      s"""SELECT w AS word, count(*) AS count
          FROM (SELECT unnest(${sqlTokens("text")}) AS w FROM documents)
          WHERE length(w) > 3 AND w NOT IN ${sqlList(stopEn)}
          GROUP BY w
          ORDER BY count DESC, word ASC LIMIT 100""",
    "q06_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
           AND l_quantity < 25""",
    "q07_string_clean" ->
      """SELECT doc_id,
                trim(regexp_replace(translate(text, '[]"''', ''), '\s+', ' ', 'g')) AS clean_text,
                upper(substr(text, 1, 10)) AS prefix10
         FROM documents""",
    "q08_array_ops" ->
      s"""SELECT DISTINCT doc_id, w AS label
          FROM (SELECT doc_id, unnest(${sqlTokens("text")}) AS w FROM documents)
          WHERE w IN ${sqlList(q08Keep)} AND w NOT IN ${sqlList(q08Out)}""",
    "q09_running_total" ->
      """SELECT user_id, event_id, ts,
                CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
         FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)""",
    "q10_tumbling_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
                count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
         FROM (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
         GROUP BY hour_start, event_type""",
    "q11_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
         FROM events GROUP BY event_type""",
    "q12_label_prep" -> {
      val cleanExpr =
        """trim(regexp_replace(regexp_replace(translate(text, '[]"''', ''), '< br / >', ' ', 'g'), '\s+', ' ', 'g'))"""
      s"""WITH cleaned AS (
            SELECT doc_id, $cleanExpr AS ct FROM documents
            WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          flt AS (SELECT * FROM cleaned WHERE length(ct) > 50),
          cand AS (
            SELECT DISTINCT doc_id, w AS label
            FROM (SELECT doc_id, unnest(${sqlTokens("ct")}) AS w FROM flt)
            WHERE w NOT IN ${sqlList(q08Out)}),
          top AS (
            SELECT label FROM (
              SELECT label, count(*) AS c FROM cand GROUP BY label
              ORDER BY c DESC, label ASC LIMIT 30))
          SELECT doc_id, label FROM cand WHERE label IN (SELECT label FROM top)"""
    },
    "q13_sessionize" ->
      """WITH marked AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_session
           FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, ts,
                  sum(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM marked)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end
         FROM sessions GROUP BY user_id, session_id""",
    "q14_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment""",
    "q15_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q16_irc_parse" ->
      """WITH lines AS (
           SELECT event_id,
                  ':user' || user_id || '!user' || user_id ||
                  '@user.tmi.twitch.tv PRIVMSG #' || event_type || ' :' || props AS value
           FROM events)
         SELECT event_id,
                string_split(string_split(regexp_extract(value, '^:([^:]*):', 1), ' ')[1], '!')[1] AS user,
                list_filter(string_split(regexp_extract(value, '^:([^:]*):', 1), ' '), t -> t LIKE '#%')[1] AS channel,
                lower(regexp_extract(value, '^:[^:]*:(.*)$', 1)) AS text
         FROM lines""",
    "q17_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY fp""",
    "q18_ngram_jaccard" ->
      // AllPairs prefix filtering (lossless): candidates from the
      // prefix-only inverted index, exact Jaccard from the full hash sets
      s"""WITH $sqlShingleCtes,
          $sqlJaccardPairCtes
          SELECT id_a, id_b, jaccard FROM pairs""",
    "q19_minhash_sig" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
          shv AS (SELECT doc_id, $sqlShingles3 AS shs FROM tk),
          $sqlMinHashSigCte
          SELECT id, CAST(j AS INTEGER) AS i, sig[j + 1] AS sig
          FROM sg, (SELECT unnest(range(0, 16)) AS j) idx""",
    "q20_minhash_lsh" ->
      s"""WITH $sqlShingleCtes,
          $sqlMinHashSigCte,
          bd AS (SELECT id, b, md5(array_to_string(sig[b*4+1:b*4+4], '_')) AS key
                 FROM sg, (SELECT unnest(range(0, 4)) AS b) bb),
          cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
                   FROM bd x JOIN bd y ON x.b = y.b AND x.key = y.key AND x.id < y.id),
          jc AS (SELECT c.id_a, c.id_b,
                        len(list_intersect(x.hs, y.hs)) AS common,
                        len(x.hs) AS sza, len(y.hs) AS szb
                 FROM cand c
                 JOIN ha x ON x.id = c.id_a
                 JOIN ha y ON y.id = c.id_b)
          SELECT * FROM (
            SELECT id_a, id_b,
                   CAST(common AS DOUBLE) / CAST(sza + szb - common AS DOUBLE) AS jaccard
            FROM jc)
          WHERE jaccard >= 0.5""",
    "q21_simhash" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents)
          SELECT doc_id AS id,
                 CAST(list_sum(list_transform(range(0, 60), j ->
                   CASE WHEN list_sum(list_transform(t, tok ->
                          ((${sqlMd5h60("tok")} >> j) & 1) * 2 - 1)) > 0
                        THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
          FROM tk""",
    "q22_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
          SELECT vec_id, ${sqlCos("embedding", "qv")} AS cos
          FROM embeddings, q
          ORDER BY cos DESC, vec_id ASC LIMIT 20""",
    "q23_embedding_neardup" ->
      s"""SELECT * FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ${sqlCos("a.embedding", "b.embedding")} AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
          WHERE cos >= 0.4""",
    "q24_langid" ->
      s"""WITH tk AS (SELECT doc_id, text, ${sqlTokens("text")} AS t FROM documents),
          sc AS (SELECT doc_id, text,
                   len(list_filter(t, x -> x IN ${sqlList(stopEn)})) AS s_en,
                   len(list_filter(t, x -> x IN ${sqlList(stopFr)})) AS s_fr,
                   len(list_filter(t, x -> x IN ${sqlList(stopDe)})) AS s_de,
                   len(list_filter(t, x -> x IN ${sqlList(stopEs)})) AS s_es
                 FROM tk)
          SELECT doc_id,
                 CASE WHEN text IS NULL THEN NULL
                      WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                      WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                      WHEN s_de >= s_es THEN 'de'
                      ELSE 'es' END AS lang_pred
          FROM sc""",
    "q25_quality" ->
      s"""WITH tk AS (SELECT doc_id, text, ${sqlTokens("text")} AS t FROM documents)
          SELECT doc_id,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 0)) AS BIGINT) AS n_subtokens,
                 CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
                 CAST(len(list_filter(t, x -> x IN ${sqlList(stopEn)})) AS DOUBLE)
                   / CAST(greatest(len(t), 1) AS DOUBLE) AS stopword_ratio,
                 CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS DOUBLE)
                   / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_token_len
          FROM tk""",
    "q26_fingerprint" ->
      s"""SELECT doc_id,
                 md5(array_to_string(${sqlTokens("text")}, ' ')) AS fp,
                 ${sqlMd5h60("text")} AS fp60
          FROM documents""",
    "q27_multimodal" -> {
      val feats = (0 until 4)
        .map(i => s"CAST(${sqlMd5h60(s"md5(text) || ':$i'")} % 1000000 AS DOUBLE) / 1000000.0 AS f$i")
        .mkString(", ")
      s"""SELECT doc_id,
                 CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
                 md5(text) AS content_md5,
                 $feats
          FROM documents"""
    },
    "q28_sentiment" ->
      s"""WITH tk AS (SELECT source, ${sqlTokens("text")} AS t FROM documents),
          sc AS (SELECT source,
                   CAST(len(list_filter(t, x -> x IN ${sqlList(Sentiment.PositiveWords)}))
                        - len(list_filter(t, x -> x IN ${sqlList(Sentiment.NegativeWords)})) AS DOUBLE)
                     / CAST(greatest(len(t), 1) AS DOUBLE) AS score
                 FROM tk)
          SELECT source,
                 CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS sum_sentiment,
                 count(*) AS n_docs
          FROM sc GROUP BY source""",
    "q29_sliding_window" ->
      """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
         g AS (SELECT event_type, ts,
                      make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS grid
               FROM e),
         w AS (SELECT event_type,
                      unnest([grid, grid - INTERVAL 30 MINUTE]) AS window_start
               FROM g)
         SELECT window_start, event_type, count(*) AS n
         FROM w GROUP BY window_start, event_type""",
    "q30_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
    "q31_local_supplier_volume" ->
      """SELECT n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM region
         JOIN nation ON r_regionkey = n_regionkey
         JOIN customer ON n_nationkey = c_nationkey
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY n_name""",
    "q32_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
         c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, value FROM e WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, c.ts, p.value AS asof_value
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""",
    "q33_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                count(*) AS n
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    // q40/q41: approximation queries — the approx VALUE is engine-specific,
    // so the oracle checks the exact side plus the accuracy contract the
    // Spark side computed in-plan (hll_ok / recall_ok must come out TRUE)
    "q40_hll_users" ->
      """SELECT event_type, count(*) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                TRUE AS hll_ok
         FROM events GROUP BY event_type""",
    "q41_ivf_ann" ->
      """SELECT CAST(20 AS BIGINT) AS k, CAST(20 AS BIGINT) AS n_ivf,
                TRUE AS recall_ok""",
    "q138_ivf_sq8" ->
      """SELECT CAST(20 AS BIGINT) AS k, CAST(20 AS BIGINT) AS n_ann,
                TRUE AS recall_ok""",
    "q42_skew_salted" ->
      """SELECT event_type, count(*) AS n FROM events GROUP BY event_type""",
    "q46_set_ops" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT o_custkey FROM orders
         UNION
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
         EXCEPT
         SELECT c_custkey FROM customer WHERE c_nationkey >= 20""",
    "q47_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
                count(*) FILTER (event_type = 'click') AS "click",
                count(*) FILTER (event_type = 'view') AS "view",
                count(*) FILTER (event_type = 'purchase') AS "purchase",
                count(*) FILTER (event_type = 'signup') AS "signup",
                count(*) FILTER (event_type = 'error') AS "error"
         FROM events GROUP BY user_bucket""",
    "q48_unpivot" ->
      """WITH base AS (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
                      FROM lineitem WHERE l_orderkey <= 1000)
         SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM base
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM base
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM base""",
    "q45_winnow_fingerprints" -> {
      val p = TextFunctions.MinHashPrime
      val b = TextFunctions.WinnowBase
      val k = TextFunctions.WinnowK
      val w = TextFunctions.WinnowWindow
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
          th AS (SELECT doc_id, list_transform(t, x -> ${sqlMd5h60("x")} % $p) AS th
                 FROM tk WHERE len(t) >= $k),
          rh AS (SELECT doc_id,
                        list_transform(range(1, len(th) - $k + 2),
                          j -> list_reduce(th[j : j + $k - 1], (a, c) -> (a * $b + c) % $p)) AS rh
                 FROM th),
          wn AS (SELECT doc_id,
                        list_transform(range(1, greatest(len(rh) - $w + 1, 1) + 1),
                          j -> list_min(rh[j : least(j + $w - 1, len(rh))])) AS wn
                 FROM rh)
          SELECT DISTINCT doc_id, unnest(wn) AS fp FROM wn"""
    },
    "q43_range_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
         c AS (SELECT user_id AS c_user, ts AS click_ts FROM e WHERE event_type = 'click'),
         p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts, count(c.click_ts) AS n_clicks
         FROM p LEFT JOIN c
           ON p.user_id = c.c_user
          AND c.click_ts >= p.ts - INTERVAL 1 HOUR
          AND c.click_ts < p.ts
         GROUP BY p.event_id, p.user_id, p.ts""",
    "q44_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
    "q36_cube" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                count(*) AS n
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q37_percentile" -> {
      // identical interpolation formula on both engines:
      // lo + (hi - lo) * frac over the sorted per-group list. The
      // percentile literal must be CAST to DOUBLE — DuckDB parses bare
      // 0.9 as DECIMAL(2,1), which makes frac exact-decimal instead of
      // the double arithmetic Spark runs, off by one ulp.
      def pct(p: String, alias: String): String = {
        val pos = s"(len(arr) - 1) * CAST($p AS DOUBLE)"
        s"""arr[CAST(floor($pos) AS INTEGER) + 1]
            + (arr[least(CAST(floor($pos) AS INTEGER) + 2, len(arr))]
               - arr[CAST(floor($pos) AS INTEGER) + 1])
              * ($pos - floor($pos)) AS $alias"""
      }
      s"""WITH g AS (SELECT event_type, list_sort(list(value)) AS arr FROM events GROUP BY event_type)
          SELECT event_type, ${pct("0.5", "p50")}, ${pct("0.9", "p90")} FROM g"""
    },
    "q38_rank_topn" ->
      """SELECT * FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
                  rank() OVER (PARTITION BY c_mktsegment
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders JOIN customer ON o_custkey = c_custkey)
         WHERE rnk <= 3""",
    "q39_session_window" ->
      """WITH marked AS (
           SELECT user_id, event_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_session
           FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, ts,
                  sum(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM marked)
         SELECT user_id,
                min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events
         FROM sessions GROUP BY user_id, session_id""",
    "q34_ngram_jaccard_filtered" ->
      s"""WITH $sqlShingleCtes,
          hot AS (SELECT h FROM (SELECT h, count(*) AS f FROM ds GROUP BY h) WHERE f > 3),
          flt AS (SELECT id, h FROM ds WHERE h NOT IN (SELECT h FROM hot)),
          fsz AS (SELECT id, count(*) AS sz FROM flt GROUP BY id),
          cm AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
                 FROM flt a JOIN flt b USING (h) WHERE a.id < b.id GROUP BY 1, 2)
          SELECT * FROM (
            SELECT id_a, id_b,
                   CAST(common AS DOUBLE) / CAST(x.sz + y.sz - common AS DOUBLE) AS jaccard
            FROM cm JOIN fsz x ON x.id = id_a JOIN fsz y ON y.id = id_b)
          WHERE jaccard >= 0.5""",
    "q35_training_prep" ->
      s"""WITH tk AS (SELECT doc_id, text, ${sqlTokens("text")} AS t FROM documents),
          sc AS (SELECT doc_id, text, CAST(len(t) AS BIGINT) AS n_tokens,
                   len(list_filter(t, x -> x IN ${sqlList(stopEn)})) AS s_en,
                   len(list_filter(t, x -> x IN ${sqlList(stopFr)})) AS s_fr,
                   len(list_filter(t, x -> x IN ${sqlList(stopDe)})) AS s_de,
                   len(list_filter(t, x -> x IN ${sqlList(stopEs)})) AS s_es,
                   md5(array_to_string(t, ' ')) AS fp
                 FROM tk),
          kept AS (
            SELECT * FROM sc
            WHERE n_tokens BETWEEN 30 AND 90
              AND (CASE WHEN text IS NULL THEN NULL
                        WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                        WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                        WHEN s_de >= s_es THEN 'de' ELSE 'es' END) = 'en')
          SELECT min(doc_id) AS doc_id, fp, min(n_tokens) AS n_tokens,
                 count(*) AS dup_count
          FROM kept GROUP BY fp""",
    "q49_dup_clusters" ->
      // transitive closure of the undirected pair graph; min reachable
      // id per doc = cluster id (the Spark side computes the same
      // labeling via alternating min-propagation / pointer-jumping)
      s"""WITH RECURSIVE $sqlShingleCtes,
          $sqlJaccardPairCtes,
          und AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b, id_a FROM pairs),
          walk(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT u.dst, w.r FROM walk w JOIN und u ON u.src = w.id)
          SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id""",
    "q50_decontaminate" ->
      s"""WITH $sqlShingleCtes,
          bh AS (SELECT DISTINCT unnest(hs) AS h FROM ha WHERE id % 20 = 0),
          tr AS (SELECT id, unnest(hs) AS h FROM ha WHERE id % 20 <> 0)
          SELECT id AS doc_id, count(*) AS n_shared
          FROM tr JOIN bh USING (h)
          GROUP BY id""",
    "q51_stratified_sample" -> {
      val cases = q51Rates.toSeq.sortBy(_._1)
        .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
      s"""SELECT doc_id, lang, source FROM documents
          WHERE ${sqlMd5h60("CAST(doc_id AS VARCHAR)")} % 1000
                < CASE lang $cases ELSE 0 END"""
    },
    "q52_tfidf" ->
      s"""WITH tf AS (SELECT doc_id, w AS term, count(*) AS tf
                      FROM (SELECT doc_id, unnest(${sqlTokens("text")}) AS w FROM documents)
                      GROUP BY doc_id, w),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          n AS (SELECT count(*) AS n_docs FROM documents)
          SELECT doc_id, term, tf, df, tfidf FROM (
            SELECT doc_id, term, tf, df, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, term ASC) AS rn
            FROM (SELECT doc_id, term, tf, df,
                         CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS tfidf
                  FROM tf JOIN dfq USING (term), n))
          WHERE rn <= 5""",
    "q53_quantile_buckets" ->
      """SELECT doc_id, lang, n_chars,
                ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bucket
         FROM documents""",
    "q54_cust_order_dist" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT JOIN orders ON o_custkey = c_custkey
               GROUP BY c_custkey)
         GROUP BY c_count""",
    "q55_exists_agg" ->
      """SELECT o_orderpriority, count(*) AS n
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_discount > CAST(0.08 AS DOUBLE))
         GROUP BY o_orderpriority""",
    "q56_srp_neardup" ->
      // the ±1 plane matrix is re-derived from the portable md5 hash
      // (sign(p, j) = +1 iff md5Hash60("srp:p:j") even), so no plane
      // literals ship; ±1 products keep the sketch fold exact, and the
      // verify cosine reuses q23's bit-identical fragment
      s"""WITH sk AS (
            SELECT vec_id, p // 3 AS band, p % 3 AS k,
                   list_reduce(list_transform(embedding, (x, i) ->
                     CAST(x AS DOUBLE) *
                     CASE WHEN ${sqlMd5h60("'srp:' || CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} % 2 = 0
                          THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END),
                     (acc, x) -> acc + x) AS d
            FROM embeddings, range(18) t(p)),
          bkt AS (
            SELECT vec_id, band,
                   CAST(sum(CASE WHEN d >= 0 THEN 1 << k ELSE 0 END) AS BIGINT) AS bucket
            FROM sk GROUP BY vec_id, band),
          cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bkt a JOIN bkt b
              ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
          SELECT id_a, id_b, cos FROM (
            SELECT c.id_a, c.id_b, ${sqlCos("x.embedding", "y.embedding")} AS cos
            FROM cand c
            JOIN embeddings x ON x.vec_id = c.id_a
            JOIN embeddings y ON y.vec_id = c.id_b)
          WHERE cos >= CAST(0.4 AS DOUBLE)""",
    "q57_gapfill" ->
      // hourly buckets via explicit epoch-micros integer division (same
      // epoch-aligned flooring as Spark's window()); per-user spine from
      // generate_series (inclusive ends, like Spark sequence)
      """WITH e AS (
           SELECT user_id,
                  make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000) AS b
           FROM events),
         c AS (SELECT user_id, b, count(*) AS n FROM e GROUP BY user_id, b),
         spine AS (
           SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
           FROM (SELECT user_id, min(b) AS lo, max(b) AS hi FROM e GROUP BY user_id))
         SELECT s.user_id, s.b AS bucket_start, coalesce(c.n, 0) AS n
         FROM spine s
         LEFT JOIN c ON c.user_id = s.user_id AND c.b = s.b""",
    "q58_window_analytics" ->
      // DuckDB dayofweek() is 0-based Sunday; Spark's is 1-based → +1
      """SELECT event_id, user_id,
                lag(event_type) OVER w AS prev_type,
                lead(event_type) OVER w AS next_type,
                first_value(value) OVER w AS first_value,
                percent_rank() OVER v AS prank,
                cume_dist() OVER v AS cdist,
                date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                v AS (PARTITION BY user_id ORDER BY value, event_id)""",
    "q59_repetition" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
          bg AS (SELECT doc_id,
                        unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS b
                 FROM tk),
          cnt AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY doc_id, b),
          top AS (SELECT doc_id, b, n FROM (
                    SELECT doc_id, b, n,
                           row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, b ASC) AS rn
                    FROM cnt) WHERE rn = 1)
          SELECT tk.doc_id,
                 top.b AS top_bigram,
                 coalesce(top.n, 0) AS top_bigram_n,
                 CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n_bigrams,
                 CASE WHEN len(t) <= 1 THEN CAST(0 AS DOUBLE)
                      ELSE CAST(top.n AS DOUBLE) / CAST(len(t) - 1 AS DOUBLE) END AS top_bigram_frac,
                 CASE WHEN len(t) = 0 THEN CAST(0 AS DOUBLE)
                      ELSE CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) END AS dup_token_frac
          FROM tk LEFT JOIN top ON top.doc_id = tk.doc_id""",
    "q60_json_props" ->
      """SELECT event_type,
                count(k) AS n,
                CAST(sum(k) AS BIGINT) AS sum_k,
                CAST(sum(k) AS DOUBLE) / CAST(count(k) AS DOUBLE) AS avg_k
         FROM (SELECT event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
         GROUP BY event_type""",
    "q61_promo_revenue" ->
      """SELECT CAST(100 AS DOUBLE)
                * CAST(sum(CASE WHEN p_type = 'PROMO'
                                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1996-02-01'""",
    "q62_dedup_retention" ->
      s"""WITH f AS (
            SELECT doc_id, source,
                   md5(array_to_string(${sqlTokens("text")}, ' ')) AS fp
            FROM documents),
          k AS (SELECT doc_id, source,
                       CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp)
                            THEN 1 ELSE 0 END AS kept
                FROM f)
          SELECT source,
                 count(*) AS n_docs,
                 CAST(sum(kept) AS BIGINT) AS n_kept,
                 CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS retention
          FROM k GROUP BY source""",
    "q63_token_count" ->
      s"""WITH p AS (
            SELECT doc_id, lower(text) AS lt,
                   regexp_extract_all(lower(text), '$bpePiecePattern') AS pieces
            FROM documents)
          SELECT doc_id,
                 CAST(len(pieces) AS BIGINT) AS n_pieces,
                 CAST(len(list_distinct(pieces)) AS BIGINT) AS n_distinct_pieces,
                 CAST(list_max(list_transform(pieces, x -> length(x))) AS BIGINT) AS max_piece_len,
                 CAST(length(lt) AS DOUBLE) / CAST(len(pieces) AS DOUBLE) AS chars_per_piece
          FROM p""",
    "q64_pii_scrub" ->
      s"""WITH synth AS (
            SELECT c_custkey,
                   'reach ' || lower(replace(c_name, '#', '.')) || '@corp.example'
                   || CASE WHEN c_custkey % 2 = 0
                           THEN ' or ' || lower(replace(c_name, '#', '.')) || '@mail.test'
                           ELSE '' END
                   || ' visit https://shop.example/item/' || CAST(c_custkey AS VARCHAR)
                   || CASE WHEN c_custkey % 3 = 0
                           THEN ' call 415-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END AS s
            FROM customer)
          SELECT c_custkey,
                 CAST(len(regexp_extract_all(s, '$piiEmail')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(s, '$piiUrl')) AS BIGINT) AS n_urls,
                 CAST(len(regexp_extract_all(s, '$piiPhone')) AS BIGINT) AS n_phones,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(s, '$piiUrl', '[URL]', 'g'),
                     '$piiEmail', '[EMAIL]', 'g'),
                   '$piiPhone', '[PHONE]', 'g') AS redacted
          FROM synth""",
    "q65_disjunctive" ->
      """SELECT p_brand,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 11)
            OR (p_brand = 'Brand#14' AND p_size BETWEEN 5  AND 25 AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 50 AND l_quantity BETWEEN 20 AND 30)
         GROUP BY p_brand""",
    "q66_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN nation   ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey ASC
         LIMIT 20""",
    "q67_sales_opportunity" ->
      """WITH thr AS (
           SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS t
           FROM customer WHERE c_acctbal > 0)
         SELECT c_mktsegment,
                count(*) AS n_cust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer, thr
         WHERE c_acctbal > t
           AND NOT EXISTS (
             SELECT 1 FROM orders
             WHERE o_custkey = c_custkey
               AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         GROUP BY c_mktsegment""",
    "q68_pack_sequences" ->
      s"""WITH d AS (
            SELECT doc_id, doc_id % 32 AS shard,
                   CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
            FROM documents),
          c AS (
            SELECT shard, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                     PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            FROM d)
          SELECT shard,
                 CAST(cum_before // 512 AS BIGINT) AS chunk_id,
                 count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens_packed
          FROM c GROUP BY shard, chunk_id""",
    "q69_cohort_retention" ->
      """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
          ch AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id)
         SELECT cohort_wk,
                CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT) AS weeks_since,
                count(DISTINCT ev.user_id) AS n_users
         FROM ev JOIN ch ON ev.user_id = ch.user_id
         GROUP BY cohort_wk, weeks_since""",
    "q70_chunk_overlap" ->
      s"""WITH d AS (SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n FROM documents),
          c AS (SELECT doc_id, n, unnest(range(0, greatest(n, 1), 80)) AS start FROM d)
          SELECT doc_id,
                 CAST(start // 80 AS BIGINT) AS chunk_idx,
                 CAST(least(100, n - start) AS BIGINT) AS n_chunk_tokens
          FROM c""",
    "q71_heavy_hitters" ->
      // the summary is exact at this cardinality (capacity 4096 ≥ 1500
      // users/group), so the oracle is the true top-5; the string
      // tie-break mirrors the sketch's (count desc, item-string asc)
      """WITH c AS (SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (
                 PARTITION BY event_type
                 ORDER BY n DESC, CAST(user_id AS VARCHAR) ASC) AS rn
               FROM c)
         SELECT event_type, CAST(user_id AS BIGINT) AS user_id,
                n AS est_count, CAST(0 AS BIGINT) AS max_err
         FROM r WHERE rn <= 5""",
    "q72_incremental_dedup" ->
      """WITH b AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 0),
          k AS (SELECT fp, min(doc_id) AS id, count(*) AS batch_dup_count FROM b GROUP BY fp)
         SELECT id, fp, batch_dup_count
         FROM k
         WHERE NOT EXISTS (
           SELECT 1 FROM documents c
           WHERE c.doc_id % 10 <> 0 AND md5(c.text) = k.fp)""",
    "q73_mixture_sample" -> {
      val values = q73Weights.map { case (s, w) => s"('$s', $w)" }.mkString(", ")
      s"""WITH w(source, w_pm) AS (VALUES $values),
          n AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
          t AS (SELECT count(*) AS n_total FROM documents),
          r AS (SELECT n.source,
                  least(1000, ((n_total * 500) // 1000) * w_pm // n_s) AS rate_pm
                FROM n CROSS JOIN t JOIN w ON n.source = w.source)
          SELECT d.doc_id, d.source, CAST(r.rate_pm AS BIGINT) AS rate_pm
          FROM documents d JOIN r ON d.source = r.source
          WHERE ${sqlMd5h60("CAST(d.doc_id AS VARCHAR)")} % 1000 < r.rate_pm"""
    },
    "q74_line_dedup" ->
      """WITH ls AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
          ln AS (SELECT doc_id,
                   unnest(list_transform(l, (x, i) -> struct_pack(line := x, pos := i))) AS u
                 FROM ls),
          lines AS (SELECT doc_id, u.line AS line, u.pos AS pos FROM ln),
          freq AS (SELECT line, count(*) AS f FROM lines GROUP BY line),
          nd AS (SELECT count(*) AS n FROM documents),
          kept AS (SELECT doc_id, line, pos
                   FROM lines JOIN freq USING (line)
                   WHERE f * 100 <= (SELECT n FROM nd) * 180),
          agg AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS ct,
                         count(*) AS nk
                  FROM kept GROUP BY doc_id)
          SELECT d.doc_id,
                 coalesce(a.ct, '') AS clean_text,
                 CAST(coalesce(a.nk, 0) AS BIGINT) AS n_kept
          FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "q75_leakage_split" ->
      s"""WITH RECURSIVE $sqlShingleCtes,
          $sqlJaccardPairCtes,
          und AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b, id_a FROM pairs),
          walk(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT u.dst, w.r FROM walk w JOIN und u ON u.src = w.id),
          cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id)
          SELECT doc_id, cluster_id,
                 CASE WHEN ${sqlMd5h60("'split:' || CAST(cluster_id AS VARCHAR)")} % 1000 < 100
                      THEN 'val' ELSE 'train' END AS split
          FROM cl""",
    "q76_keep_best" ->
      // q49's transitive-closure clusters + argmax token count per
      // cluster (min-id tie-break) = the Spark side's max_by(struct)
      s"""WITH RECURSIVE $sqlShingleCtes,
          $sqlJaccardPairCtes,
          und AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b, id_a FROM pairs),
          walk(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT u.dst, w.r FROM walk w JOIN und u ON u.src = w.id),
          cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id),
          sc AS (SELECT cl.doc_id, cl.cluster_id, CAST(len(tk.t) AS BIGINT) AS n_tokens
                 FROM cl JOIN tk ON tk.doc_id = cl.doc_id)
          SELECT doc_id, cluster_id, n_tokens,
                 CAST(CASE WHEN row_number() OVER (
                        PARTITION BY cluster_id
                        ORDER BY n_tokens DESC, doc_id ASC) = 1
                      THEN 1 ELSE 0 END AS BIGINT) AS kept
          FROM sc""",
    "q77_semantic_dedup" ->
      // nLists=1 → every pair compared, so the full labeling (pair loop
      // → transitive closure → keep-min) is SQL: same cosine arithmetic
      // as q23, same closure recipe as q49
      s"""WITH RECURSIVE
          pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                    WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.4),
          und AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b, id_a FROM pairs),
          walk(id, r) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT u.dst, w.r FROM walk w JOIN und u ON u.src = w.id)
          SELECT id, CAST(0 AS INT) AS cell, min(r) AS dup_group,
                 CAST(CASE WHEN id = min(r) THEN 1 ELSE 0 END AS BIGINT) AS kept
          FROM walk GROUP BY id""",
    "q78_semantic_selfcheck" ->
      // clustered quantizer isn't SQL-expressible (q41 pattern): the
      // invariants are computed over the real labeling in Spark; the
      // oracle pins them plus the true corpus count
      """SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
                CAST(8 AS BIGINT) AS n_lists,
                TRUE AS partition_ok,
                TRUE AS policy_ok,
                TRUE AS single_cell_ok""",
    "q79_pq_ann" ->
      // PQ codebooks aren't SQL-expressible (q41 pattern); the
      // compression ratio is cross-checked against the table's true
      // vector width
      """SELECT CAST(20 AS BIGINT) AS k_exact,
                CAST(100 AS BIGINT) AS k_pq,
                CAST(16 AS BIGINT) AS m,
                (SELECT CAST(max(len(embedding)) * 4 / 16 AS BIGINT)
                 FROM embeddings) AS compression_x,
                TRUE AS recall_ok""",
    "q80_incremental_semantic" ->
      // nLists=1 → exact semantics: corpus-hit anti-join + survivor
      // closure + keep-min, all in SQL (q77's recipe, two-sided)
      s"""WITH RECURSIVE
          b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
          c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
          hits AS (SELECT DISTINCT b.vec_id AS id
                   FROM b JOIN c
                   ON ${sqlCos("b.embedding", "c.embedding")} >= 0.4),
          sv AS (SELECT vec_id AS id, embedding FROM b
                 WHERE vec_id NOT IN (SELECT id FROM hits)),
          pairs AS (SELECT x.id AS id_a, y.id AS id_b
                    FROM sv x JOIN sv y ON x.id < y.id
                    WHERE ${sqlCos("x.embedding", "y.embedding")} >= 0.4),
          und AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b, id_a FROM pairs),
          walk(id, r) AS (
            SELECT id, id FROM sv
            UNION
            SELECT u.dst, w.r FROM walk w JOIN und u ON u.src = w.id),
          cl AS (SELECT id, min(r) AS dup_group FROM walk GROUP BY id)
          SELECT id, CAST(0 AS INT) AS cell, CAST(0 AS BIGINT) AS corpus_dup,
                 dup_group,
                 CAST(CASE WHEN id = dup_group THEN 1 ELSE 0 END AS BIGINT) AS kept
          FROM cl
          UNION ALL
          SELECT id, CAST(0 AS INT), CAST(1 AS BIGINT),
                 CAST(-1 AS BIGINT), CAST(0 AS BIGINT)
          FROM hits""",
    "q81_dup_spans" ->
      // mirror of Dedup.duplicateSpans at k=4: position-ordered 4-gram
      // hashes (same md5-60 primitive and short-doc whole-text rule as
      // the shingle oracles), duplicate grams by distinct-doc count,
      // token removed iff covered by a duplicate start, ordered rebuild
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
          kg AS (SELECT doc_id, pos,
                        ${sqlMd5h60("g")} AS h
                 FROM (SELECT doc_id,
                              unnest(CASE WHEN len(t) < 4
                                     THEN [0]
                                     ELSE range(0, len(t) - 3) END) AS pos,
                              unnest(CASE WHEN len(t) < 4
                                     THEN [array_to_string(t, ' ')]
                                     ELSE list_transform(range(0, len(t) - 3),
                                            i -> array_to_string(t[i+1:i+4], ' ')) END) AS g
                       FROM tk)),
          dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM kg)
                  GROUP BY h HAVING count(*) >= 2),
          cov AS (SELECT DISTINCT kg.doc_id, kg.pos + o.o AS p
                  FROM kg JOIN dup USING (h), unnest(range(0, 4)) AS o(o)),
          tok AS (SELECT doc_id, unnest(t) AS tok,
                         unnest(range(0, len(t))) AS p
                  FROM tk),
          kept AS (SELECT tok.doc_id, tok.p, tok.tok
                   FROM tok LEFT JOIN cov
                   ON cov.doc_id = tok.doc_id AND cov.p = tok.p
                   WHERE cov.p IS NULL),
          agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct,
                         count(*) AS nk
                  FROM kept GROUP BY doc_id)
          SELECT tk.doc_id,
                 coalesce(agg.ct, '') AS clean_text,
                 CAST(coalesce(agg.nk, 0) AS BIGINT) AS n_kept,
                 CAST(len(tk.t) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed
          FROM tk LEFT JOIN agg USING (doc_id)""",
    "q82_ivf_pq" ->
      // IVF routing + PQ codebooks aren't SQL-expressible (q41/q79
      // pattern); the compression ratio is cross-checked against the
      // table's true vector width, the recall bound against the
      // measured deterministic hits (BASELINE.md round 10: 10/20 sf0.01,
      // 12/20 sf0.1)
      """SELECT CAST(20 AS BIGINT) AS k_exact,
                CAST(16 AS BIGINT) AS n_lists,
                CAST(4 AS BIGINT) AS n_probe,
                CAST(16 AS BIGINT) AS m,
                (SELECT CAST(max(len(embedding)) * 4 / 16 AS BIGINT)
                 FROM embeddings) AS compression_x,
                TRUE AS recall_ok""",
    "q83_scrub_spans" ->
      // q81's span-cut oracle with the dup CTE replaced by the
      // benchmark 4-gram universe (q50's % 20 split; same md5-60
      // primitive and short-doc whole-text rule on both sides)
      s"""WITH tka AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
          kga AS (SELECT doc_id, pos,
                         ${sqlMd5h60("g")} AS h
                  FROM (SELECT doc_id,
                               unnest(CASE WHEN len(t) < 4
                                      THEN [0]
                                      ELSE range(0, len(t) - 3) END) AS pos,
                               unnest(CASE WHEN len(t) < 4
                                      THEN [array_to_string(t, ' ')]
                                      ELSE list_transform(range(0, len(t) - 3),
                                             i -> array_to_string(t[i+1:i+4], ' ')) END) AS g
                        FROM tka)),
          tk AS (SELECT * FROM tka WHERE doc_id % 20 <> 0),
          bh AS (SELECT DISTINCT h FROM kga WHERE doc_id % 20 = 0),
          kg AS (SELECT * FROM kga WHERE doc_id % 20 <> 0),
          cov AS (SELECT DISTINCT kg.doc_id, kg.pos + o.o AS p
                  FROM kg JOIN bh USING (h), unnest(range(0, 4)) AS o(o)),
          tok AS (SELECT doc_id, unnest(t) AS tok,
                         unnest(range(0, len(t))) AS p
                  FROM tk),
          kept AS (SELECT tok.doc_id, tok.p, tok.tok
                   FROM tok LEFT JOIN cov
                   ON cov.doc_id = tok.doc_id AND cov.p = tok.p
                   WHERE cov.p IS NULL),
          agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct,
                         count(*) AS nk
                  FROM kept GROUP BY doc_id)
          SELECT tk.doc_id,
                 coalesce(agg.ct, '') AS clean_text,
                 CAST(coalesce(agg.nk, 0) AS BIGINT) AS n_kept,
                 CAST(len(tk.t) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed
          FROM tk LEFT JOIN agg USING (doc_id)""",
    "q84_incremental_neardup" ->
      // q20's band/signature machinery over the q72 batch/corpus split,
      // q80's recursive-closure labeling: batch×corpus band collisions
      // verify with exact Jaccard → hits; survivors pair intra-batch the
      // same way, close transitively, keep the min id
      s"""WITH RECURSIVE $sqlShingleCtes,
          $sqlMinHashSigCte,
          bd AS (SELECT id, b, md5(array_to_string(sig[b*4+1:b*4+4], '_')) AS key
                 FROM sg, (SELECT unnest(range(0, 4)) AS b) bb),
          candc AS (SELECT DISTINCT x.id AS id_b, y.id AS id_c
                    FROM bd x JOIN bd y ON x.b = y.b AND x.key = y.key
                    WHERE x.id % 10 = 0 AND y.id % 10 <> 0),
          hits AS (SELECT DISTINCT c.id_b AS id
                   FROM candc c
                   JOIN ha hx ON hx.id = c.id_b
                   JOIN ha hy ON hy.id = c.id_c
                   WHERE CAST(len(list_intersect(hx.hs, hy.hs)) AS DOUBLE)
                         / CAST(len(hx.hs) + len(hy.hs)
                                - len(list_intersect(hx.hs, hy.hs)) AS DOUBLE) >= 0.5),
          sv AS (SELECT id FROM ha WHERE id % 10 = 0
                 AND id NOT IN (SELECT id FROM hits)),
          candb AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
                    FROM bd x JOIN bd y ON x.b = y.b AND x.key = y.key AND x.id < y.id
                    WHERE x.id IN (SELECT id FROM sv) AND y.id IN (SELECT id FROM sv)),
          pairs AS (SELECT c.id_a, c.id_b
                    FROM candb c
                    JOIN ha hx ON hx.id = c.id_a
                    JOIN ha hy ON hy.id = c.id_b
                    WHERE CAST(len(list_intersect(hx.hs, hy.hs)) AS DOUBLE)
                          / CAST(len(hx.hs) + len(hy.hs)
                                 - len(list_intersect(hx.hs, hy.hs)) AS DOUBLE) >= 0.5),
          und AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b, id_a FROM pairs),
          walk(id, r) AS (
            SELECT id, id FROM sv
            UNION
            SELECT u.dst, w.r FROM walk w JOIN und u ON u.src = w.id),
          cl AS (SELECT id, min(r) AS dup_group FROM walk GROUP BY id)
          SELECT id, CAST(0 AS BIGINT) AS corpus_dup, dup_group,
                 CAST(CASE WHEN id = dup_group THEN 1 ELSE 0 END AS BIGINT) AS kept
          FROM cl
          UNION ALL
          SELECT id, CAST(1 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT)
          FROM hits""",
    "q85_knn_join" ->
      // the trained IVF quantizer isn't SQL-expressible (q41 pattern);
      // the query-set size is cross-checked against the table, the
      // per-query row count and recall bound against the real join
      // output vs its probe-everything exact twin
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings
                 WHERE vec_id % 40 = 0) AS n_queries,
                CAST(10 AS BIGINT) AS k,
                TRUE AS rows_ok,
                TRUE AS recall_ok""",
    "q86_bloom_decontaminate" ->
      // the Bloom sketch is a lossless PREFILTER (false positives die in
      // the exact confirm join), so the oracle is the plain exact
      // anti-join over q50's contamination CTEs — hash-identical rows
      s"""WITH $sqlShingleCtes,
          bh AS (SELECT DISTINCT unnest(hs) AS h FROM ha WHERE id % 20 = 0),
          tr AS (SELECT id, unnest(hs) AS h FROM ha WHERE id % 20 <> 0),
          cont AS (SELECT DISTINCT id FROM tr JOIN bh USING (h))
          SELECT doc_id FROM documents
          WHERE doc_id % 20 <> 0
            AND doc_id NOT IN (SELECT id FROM cont)""",
    "q87_quality_prune" -> {
      // q37's interpolated-percentile arithmetic (CAST the quantile to
      // DOUBLE — bare 0.25 parses as DECIMAL and shifts frac by an ulp)
      // over q25's stopword-ratio formula, per language
      val pos = "(len(arr) - 1) * CAST(0.25 AS DOUBLE)"
      s"""WITH tk AS (SELECT doc_id, lang, ${sqlTokens("text")} AS t FROM documents),
          sc AS (SELECT doc_id, lang,
                        CAST(len(list_filter(t, x -> x IN ${sqlList(stopEn)})) AS DOUBLE)
                          / CAST(greatest(len(t), 1) AS DOUBLE) AS score
                 FROM tk),
          g AS (SELECT lang, list_sort(list(score)) AS arr FROM sc GROUP BY lang),
          th AS (SELECT lang,
                        arr[CAST(floor($pos) AS INTEGER) + 1]
                        + (arr[least(CAST(floor($pos) AS INTEGER) + 2, len(arr))]
                           - arr[CAST(floor($pos) AS INTEGER) + 1])
                          * ($pos - floor($pos)) AS thr
                 FROM g)
          SELECT sc.lang, sc.doc_id, sc.score
          FROM sc JOIN th ON sc.lang IS NOT DISTINCT FROM th.lang
          WHERE sc.score >= th.thr"""
    },
    "q88_shard_assignments" ->
      // the same md5-derived 60-bit key on both engines: hash
      // collisions (were any to occur) are identical, so the
      // permutation is bit-reproducible
      s"""WITH h AS (SELECT doc_id,
                            ${sqlMd5h60("'42:' || CAST(doc_id AS VARCHAR)")} AS hk
                     FROM documents)
          SELECT doc_id,
                 CAST(hk % 8 AS BIGINT) AS shard,
                 CAST(row_number() OVER (PARTITION BY hk % 8 ORDER BY hk, doc_id) AS BIGINT) AS pos
          FROM h""",
    "q89_vocab_coverage" ->
      s"""WITH c AS (SELECT w AS token, count(*) AS cnt
                     FROM (SELECT unnest(${sqlTokens("text")}) AS w FROM documents)
                     GROUP BY w),
              tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
              top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 500)
          SELECT token, CAST(cnt AS BIGINT) AS cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
                 CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / CAST(total AS DOUBLE) AS cum_share
          FROM top, tot""",
    "q90_bpe_pairs" ->
      s"""WITH wf AS (SELECT w AS word, count(*) AS freq
                      FROM (SELECT unnest(${sqlTokens("text")}) AS w FROM documents)
                      GROUP BY w),
              p AS (SELECT unnest(list_transform(range(1, length(word)),
                                                 i -> substring(word, CAST(i AS INTEGER), 2))) AS pair,
                           freq
                    FROM wf WHERE length(word) > 1)
          SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
          FROM p GROUP BY pair
          ORDER BY cnt DESC, pair LIMIT 50""",
    "q91_group_cap" ->
      // the two-phase Spark plan (under-cap bypass + over-cap window)
      // is row-identical to the single uniform window: under-cap
      // groups satisfy rn <= cap trivially
      s"""SELECT lang, doc_id FROM (
            SELECT lang, doc_id,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY ${sqlMd5h60("'42:' || CAST(doc_id AS VARCHAR)")},
                                               doc_id) AS rn
            FROM documents)
          WHERE rn <= 100""",
    "q92_contamination_report" ->
      // the same gram-hash CTEs as the dedup oracles; LEFT join keeps
      // clean benchmark items with zero counts
      s"""WITH $sqlShingleCtes,
          bg AS (SELECT id, h FROM ds WHERE id % 20 = 0),
          tg AS (SELECT id AS tid, h FROM ds WHERE id % 20 <> 0),
          m AS (SELECT bg.id, tg.tid, bg.h FROM bg JOIN tg USING (h)),
          a AS (SELECT id,
                       CAST(count(DISTINCT tid) AS BIGINT) AS n_train_docs,
                       CAST(count(DISTINCT h) AS BIGINT) AS n_shared_grams
                FROM m GROUP BY id)
          SELECT s.id AS doc_id,
                 COALESCE(a.n_train_docs, 0) AS n_train_docs,
                 COALESCE(a.n_shared_grams, 0) AS n_shared_grams,
                 CAST(s.sz AS BIGINT) AS n_grams
          FROM sz s LEFT JOIN a USING (id)
          WHERE s.id % 20 = 0""",
    "q93_bpe_tokenize" ->
      // mg = q90's ranked merge table; prep renders each doc's words
      // (\n-joined) as " c1  c2 " double-space symbols; the recursive
      // CTE applies merge rk = k+1 with the SAME replace semantics as
      // the Spark chain (one flanking space consumed per side keeps
      // neighbors mergeable — textbook left-to-right BPE)
      s"""WITH RECURSIVE $sqlBpeTokCtes
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
                 CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT) AS max_token_len,
                 md5(array_to_string(toks, '|')) AS seq_hash
          FROM bfin""",
    "q95_bpe_pack" ->
      // q68's packing window on BPE counts from the shared CTE chain
      s"""WITH RECURSIVE $sqlBpeTokCtes,
          d AS (SELECT doc_id, doc_id % 32 AS shard,
                       CAST(len(toks) AS BIGINT) AS n_tokens
                FROM bfin),
          c AS (SELECT shard, n_tokens,
                       coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM d)
          SELECT shard,
                 CAST(cum_before // 512 AS BIGINT) AS chunk_id,
                 count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens_packed
          FROM c GROUP BY shard, chunk_id""",
    "q96_bpe_vocab" ->
      // q89's coverage tail on the BPE subword stream
      s"""WITH RECURSIVE $sqlBpeTokCtes,
          c AS (SELECT t AS token, count(*) AS cnt
                FROM (SELECT unnest(toks) AS t FROM bfin)
                GROUP BY t),
          tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
          top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 200)
          SELECT token, CAST(cnt AS BIGINT) AS cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
                 CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / CAST(total AS DOUBLE) AS cum_share
          FROM top, tot""",
    "q97_shard_manifest" ->
      // q88's seeded shard assignment aggregated with BPE token totals
      s"""WITH RECURSIVE $sqlBpeTokCtes,
          h AS (SELECT doc_id,
                       ${sqlMd5h60("'42:' || CAST(doc_id AS VARCHAR)")} AS hk
                FROM documents),
          a AS (SELECT doc_id, CAST(hk % 8 AS BIGINT) AS shard FROM h),
          t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM bfin)
          SELECT shard, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens_total
          FROM a JOIN t USING (doc_id) GROUP BY shard""",
    "q98_source_token_stats" ->
      // chars = word characters (whitespace excluded on both sides);
      // the ratio divides the same exact BIGINT sums in both engines
      s"""WITH RECURSIVE $sqlBpeTokCtes,
          t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM bfin),
          d AS (SELECT doc_id, source,
                       CAST(length(array_to_string(${sqlTokens("text")}, '')) AS BIGINT) AS n_chars
                FROM documents)
          SELECT source,
                 count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars,
                 CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS chars_per_token
          FROM d JOIN t USING (doc_id) GROUP BY source""",
    "q94_temperature_mix" ->
      // the rate table mirrors the driver-side computation exactly:
      // sqrt is IEEE correctly-rounded and list_reduce is the same
      // source-ascending left fold, so epochs/frac_pm are bit-identical
      s"""WITH cnt AS (SELECT source, count(*) AS n_s
                       FROM documents WHERE source IS NOT NULL GROUP BY source),
          tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM cnt),
          bdg AS (SELECT n * 2500 // 1000 AS b FROM tot),
          sw AS (SELECT list_reduce(list(sqrt(CAST(n_s AS DOUBLE)) ORDER BY source),
                                    (a, b) -> a + b) AS s
                 FROM cnt),
          rt AS (SELECT source,
                        CAST(floor(r) AS BIGINT) AS epochs,
                        CAST(floor((r - floor(r)) * 1000) AS BIGINT) AS frac_pm
                 FROM (SELECT source,
                              (CAST((SELECT b FROM bdg) AS DOUBLE) *
                               (sqrt(CAST(n_s AS DOUBLE)) / (SELECT s FROM sw)))
                              / CAST(n_s AS DOUBLE) AS r
                       FROM cnt)),
          ex AS (SELECT d.doc_id, d.source, r.epochs, r.frac_pm, t.epoch
                 FROM documents d JOIN rt r USING (source)
                 CROSS JOIN LATERAL unnest(range(0, r.epochs + 1)) AS t(epoch))
          SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
          FROM ex
          WHERE epoch < epochs
             OR ${sqlMd5h60("'epoch:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} % 1000 < frac_pm""",
    "q99_semantic_decon" ->
      // nLists=1 -> every (benchmark, train) pair compared, so the
      // report is a plain threshold join: same cosine arithmetic as
      // q22/q77; LEFT join keeps certified-clean benchmark items with
      // zero counts and the -2.0 below-any-cosine sentinel
      s"""WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
          t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
          m AS (SELECT b.vec_id AS bid,
                       ${sqlCos("b.embedding", "t.embedding")} AS cos
                FROM b JOIN t ON ${sqlCos("b.embedding", "t.embedding")} >= 0.4),
          a AS (SELECT bid, CAST(count(*) AS BIGINT) AS n_train_docs,
                       max(cos) AS max_cos
                FROM m GROUP BY bid)
          SELECT b.vec_id AS bench_id,
                 COALESCE(a.n_train_docs, 0) AS n_train_docs,
                 COALESCE(a.max_cos, -2.0) AS max_cos
          FROM b LEFT JOIN a ON a.bid = b.vec_id""",
    "q100_bpe_multilevel" ->
      // the full iterative trainer re-run in SQL (24 generated rounds)
      // + the generalized multi-char apply + the frequency-ranked vocab
      // id sequence (string_agg in position order; wordless docs keep
      // md5('') like Spark's concat_ws over an empty array)
      s"""WITH RECURSIVE ${sqlBpeTrainCtes(numMerges = 24, maxVocab = 65536)},
          vc AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
                 FROM (SELECT unnest(toks) AS t FROM bfin) GROUP BY t),
          vid AS (SELECT t, CAST(row_number() OVER (ORDER BY cnt DESC, t) AS BIGINT) AS tid
                  FROM vc),
          tkp AS (SELECT doc_id, u.i, toks[CAST(u.i AS INTEGER)] AS tok
                  FROM bfin CROSS JOIN LATERAL unnest(range(1, len(toks) + 1)) AS u(i)),
          idh AS (SELECT tkp.doc_id,
                         md5(string_agg(CAST(vid.tid AS VARCHAR), '|' ORDER BY tkp.i)) AS ids_hash
                  FROM tkp JOIN vid ON vid.t = tkp.tok GROUP BY tkp.doc_id)
          SELECT b.doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT) AS max_token_len,
                 md5(array_to_string(toks, '|')) AS seq_hash,
                 COALESCE(i.ids_hash, md5('')) AS ids_hash
          FROM bfin b LEFT JOIN idh i USING (doc_id)""",
    "q101_ngram_perplexity" -> sqlPerplexity,
    // q118 = q101 with the hot/cold split engaged — row-identical by
    // construction, so the oracle is literally q101's
    "q118_perplexity_hardened" -> sqlPerplexity,
    // q120 = the AUTO-resolved split over the Zipf-collapsed corpus;
    // the oracle is the same perplexity SQL over the same collapse
    // (md5-even tokens fold onto 'zipfhot' before tokenization)
    "q120_perplexity_autoskew" -> sqlPerplexityOver(
      s"""array_to_string(
            list_transform(string_split(text, ' '),
              w -> CASE WHEN ${sqlMd5h60("w")} % 2 = 0
                        THEN 'zipfhot' ELSE w END),
            ' ')"""),
    // q121 = the regexp/replace-chain twin of the native single-pass
    // html_to_text scan: script/style blocks first (their bodies hold
    // raw < > &), then comments, then tags -> ' ', then one
    // non-rescanning entity replace chain (&amp; LAST — single-pass
    // parity: replace() never rescans its own output), then
    // whitespace collapse + trim. round_trip re-derives the expected
    // text from the raw columns so both engines check semantics, not
    // just each other.
    "q121_html_extract" ->
      """WITH h AS (
            SELECT doc_id, source, lang, text,
                   '<!DOCTYPE html><html><head><title>'
                   || replace(replace(replace(source, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                   || '</title><style type="text/css">body { color: #222; }</style>'
                   || '<script>if (2 < 3 && 1 > 0) { var x = "a&b"; }</script></head><body><!-- doc '
                   || CAST(doc_id AS VARCHAR)
                   || ' --><h1>'
                   || replace(replace(replace(lang, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                   || '</h1><div class="main"><p>'
                   || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                   || '</p><br/>&#8212;&nbsp;fin&#x21;</div></body></html>' AS html
            FROM documents),
          st AS (SELECT doc_id, source, lang, text,
                        regexp_replace(html, '<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t
                 FROM h),
          cm AS (SELECT doc_id, source, lang, text,
                        regexp_replace(t, '<!--.*?-->', ' ', 'g') AS t FROM st),
          tg AS (SELECT doc_id, source, lang, text,
                        regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM cm),
          en AS (SELECT doc_id, source, lang, text,
                        replace(replace(replace(replace(replace(replace(replace(replace(t,
                          '&#8212;', '—'), '&#x21;', '!'), '&nbsp;', ' '),
                          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS t
                 FROM tg),
          fin AS (SELECT doc_id, source, lang, text,
                         trim(regexp_replace(t, '[ \t\n\r\f\x0B]+', ' ', 'g')) AS extracted
                  FROM en)
          SELECT doc_id, extracted,
                 len(extracted) AS n_out,
                 extracted = (source || ' ' || lang || ' '
                   || CASE WHEN trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')) = ''
                           THEN '' ELSE trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')) || ' ' END
                   || '— fin!') AS round_trip
          FROM fin""",
    // q122 = the EXACT quadratic control for the PassJoin blocking:
    // every pair within levenshtein <= 3 on the 16-char prefix, the
    // length filter only shrinking the cross join (|len diff| > d
    // implies dist > d)
    "q122_edit_join" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 16) AS k FROM documents)
          SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                 levenshtein(a.k, b.k) AS dist
          FROM k a JOIN k b
            ON a.doc_id < b.doc_id
           AND abs(length(a.k) - length(b.k)) <= 3
          WHERE levenshtein(a.k, b.k) <= 3""",
    // q123 = same exact control, batch-restricted and directional
    // (corpus x batch, identity pairs excluded)
    "q123_edit_join_incremental" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 16) AS k FROM documents),
            b AS (SELECT * FROM k WHERE doc_id % 29 = 0)
          SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id,
                 levenshtein(c.k, b.k) AS dist
          FROM k c JOIN b
            ON c.doc_id <> b.doc_id
           AND abs(length(c.k) - length(b.k)) <= 3
          WHERE levenshtein(c.k, b.k) <= 3""",
    // q124 = the same 3x64 md5-bucketed sketch rebuilt in SQL: bucket
    // sums over (row, h(row,token) % 64), estimate = min across rows,
    // exact from the plain GROUP BY — the gate hash-checks estimates
    // AND the collision mass
    "q124_countmin_freq" ->
      s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS w FROM documents),
            watch AS (SELECT DISTINCT unnest(${sqlTokens("text")}) AS w
                      FROM documents WHERE doc_id % 101 = 0),
            buckets AS (
              SELECT t.r,
                     ${sqlMd5h60("'cms' || CAST(t.r AS VARCHAR) || ':' || tok.w")} % 64 AS b,
                     count(*) AS cnt
              FROM tok CROSS JOIN range(3) t(r)
              GROUP BY 1, 2),
            est AS (
              SELECT watch.w,
                     min(coalesce(buckets.cnt, 0)) AS est
              FROM watch CROSS JOIN range(3) t(r)
              LEFT JOIN buckets
                ON buckets.r = t.r
               AND buckets.b = ${sqlMd5h60("'cms' || CAST(t.r AS VARCHAR) || ':' || watch.w")} % 64
              GROUP BY watch.w),
            exact AS (
              SELECT w, count(*) AS exact FROM tok
              WHERE w IN (SELECT w FROM watch) GROUP BY w)
          SELECT est.w AS token, est.est AS est, exact.exact AS exact,
                 est.est - exact.exact AS over
          FROM est JOIN exact ON est.w = exact.w""",
    // q127 = the log-bucket quantile arithmetic in SQL: bucket = bit
    // length of the token count (length(bin(v)) — exact both engines),
    // cumulative bucket mass vs rank ceil(pct*n/100), bounds from
    // POW(2, b); the exact control is the value at that rank
    "q127_hist_quantiles" ->
      s"""WITH vals AS (
            SELECT source, CAST(len(${sqlTokens("text")}) AS BIGINT) AS v
            FROM documents WHERE text IS NOT NULL),
          hist AS (
            SELECT source,
                   CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS b,
                   count(*) AS c
            FROM vals GROUP BY 1, 2),
          cum AS (
            SELECT source, b, c,
                   sum(c) OVER (PARTITION BY source ORDER BY b) AS cum,
                   sum(c) OVER (PARTITION BY source) AS n
            FROM hist),
          pf AS (
            SELECT source, b, c, cum, n, pct,
                   CAST(floor((pct * n + 99) / 100.0) AS BIGINT) AS r
            FROM cum CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct)),
          sel AS (
            SELECT source, pct, CAST(n AS BIGINT) AS n_docs,
                   CASE WHEN b = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(POW(2, b - 1) AS BIGINT) END AS est_lo,
                   CASE WHEN b = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(POW(2, b) AS BIGINT) - 1 END AS est_hi,
                   r
            FROM pf WHERE cum - c < r AND r <= cum),
          ranked AS (
            SELECT source, v,
                   row_number() OVER (PARTITION BY source ORDER BY v) AS rn
            FROM vals)
          SELECT s.source, s.pct, s.n_docs, s.est_lo, s.est_hi,
                 rk.v AS exact_len,
                 s.est_lo <= rk.v AND rk.v <= s.est_hi AS bounded
          FROM sel s JOIN ranked rk ON rk.source = s.source AND rk.rn = s.r""",
    // q126 = the KMV estimator re-derived in SQL: the k smallest
    // distinct md5-60 token hashes per source via a rank window, then
    // the same (k-1)*2^60/h_k arithmetic on the k-th order statistic —
    // every operand an exact integer, one IEEE division on identical
    // values, so the ESTIMATE hash-matches (not just the exact control)
    "q126_kmv_distinct" ->
      s"""WITH tok AS (
            SELECT source, unnest(${sqlTokens("text")}) AS t FROM documents),
          dh AS (SELECT DISTINCT source, ${sqlMd5h60("t")} AS h FROM tok),
          r AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                FROM dh),
          kth AS (SELECT source, count(*) AS nh,
                    max(CASE WHEN rn = 256 THEN h END) AS hk
                  FROM r WHERE rn <= 256 GROUP BY source),
          ex AS (SELECT source, count(DISTINCT t) AS n_exact FROM tok GROUP BY source),
          est AS (SELECT ex.source, ex.n_exact,
                    CASE WHEN kth.nh < 256 THEN kth.nh
                         ELSE CAST(round(255 * POW(2, 60) /
                                CAST(GREATEST(kth.hk, 1) AS DOUBLE)) AS BIGINT)
                    END AS est_distinct
                  FROM ex JOIN kth USING (source))
          SELECT source, n_exact, est_distinct,
                 CAST(round(1000.0 * abs(est_distinct - n_exact) /
                        CAST(n_exact AS DOUBLE)) AS BIGINT) AS err_permille
          FROM est""",
    // q128 = q125's chunker CTEs plus the ownership window: owner =
    // min(doc_id) per fingerprint, borrowed mass = occurrences whose
    // owner is earlier, keep when < 50% borrowed (or chunk-less)
    "q128_cdc_containment" ->
      s"""WITH ch AS (
            SELECT doc_id, text,
              list_concat(list_concat([CAST(0 AS BIGINT)],
                list_filter(range(8, length(text)+1),
                  i -> ${sqlMd5h60("substr(text, i-7, 8)")} % 16 = 0)),
                [CAST(length(text) AS BIGINT)]) AS b
            FROM documents),
          spans AS (
            SELECT doc_id, unnest(
              list_filter(
                list_transform(range(2, len(b)+1),
                  j -> CASE WHEN b[j] > b[j-1]
                       THEN ${sqlMd5h60("substr(text, b[j-1]+1, b[j]-b[j-1])")} END),
                x -> x IS NOT NULL)) AS h
            FROM ch),
          pcd AS (SELECT h, doc_id, count(*) AS c FROM spans GROUP BY 1, 2),
          owned AS (SELECT *, min(doc_id) OVER (PARTITION BY h) AS owner FROM pcd),
          pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
                        CAST(sum(CASE WHEN owner < doc_id THEN c ELSE 0 END) AS BIGINT)
                          AS borrowed_chunks
                 FROM owned GROUP BY doc_id)
          SELECT d.doc_id,
                 coalesce(pd.n_chunks, 0) AS n_chunks,
                 coalesce(pd.borrowed_chunks, 0) AS borrowed_chunks,
                 CASE WHEN coalesce(pd.n_chunks, 0) > 0
                      THEN CAST(round(pd.borrowed_chunks * 1000000.0 / pd.n_chunks) AS BIGINT)
                 END AS covered_micro,
                 CASE WHEN coalesce(pd.n_chunks, 0) > 0
                      THEN CAST(round(pd.borrowed_chunks * 1000000.0 / pd.n_chunks) AS BIGINT)
                             < 500000
                      ELSE TRUE END AS keep
          FROM documents d LEFT JOIN pd USING (doc_id)""",
    // q129 = the DIRECT inequality join the bin-bucketed operator
    // restates: any pair the bucketing lost (or fabricated) breaks the
    // per-purchase counts
    "q129_interval_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase'),
          e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
                FROM events WHERE event_type IN ('click', 'view'))
          SELECT p.purchase_id, p.user_id,
                 CAST(count(e.ts) AS BIGINT) AS n_follow
          FROM p LEFT JOIN e
            ON e.user_id = p.user_id
           AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
          GROUP BY 1, 2""",
    // q130 = DuckDB's OWN nfc_normalize/strip_accents (utf8proc) over
    // the identical decoration — the prefix is rebuilt from chr() codes
    // so the hazard set (composed accents, a decomposed e+U+0301, the
    // mark-free lookalikes ß/ﬁ) is byte-identical on both sides
    "q130_unicode_norm" ->
      """WITH dec AS (
           SELECT doc_id,
                  chr(201)||'l'||chr(233)||'v'||chr(224)||'t'||chr(239)||'on '||
                  chr(199)||'af'||chr(233)||' '||chr(252)||' '||chr(223)||' '||
                  chr(64257)||' e'||chr(769)||' '||text AS d
           FROM documents)
         SELECT doc_id,
                nfc_normalize(d) AS nfc_text,
                strip_accents(d) AS clean_text,
                CAST(length(nfc_normalize(d)) AS BIGINT) AS n_chars_nfc,
                CAST(length(strip_accents(d)) AS BIGINT) AS n_chars_clean
         FROM dec""",
    // q131 = the KMV overlap algebra re-derived in SQL: per-side k-th
    // order statistics (q126's estimator), the union's k smallest over
    // the deduped combined hash set (= the merged sketch, an exact KMV
    // property), intersection by inclusion-exclusion — plus the exact
    // controls the sketches replace
    "q131_key_overlap" ->
      s"""WITH ha AS (SELECT DISTINCT ${sqlMd5h60("CAST(o_custkey AS VARCHAR)")} AS h
                      FROM orders WHERE o_custkey IS NOT NULL),
          hb AS (SELECT DISTINCT ${sqlMd5h60("CAST(c_custkey AS VARCHAR)")} AS h
                 FROM customer WHERE c_custkey IS NOT NULL),
          hu AS (SELECT h FROM ha UNION SELECT h FROM hb),
          est AS (
            SELECT
              (SELECT CASE WHEN count(*) < 128 THEN count(*)
                      ELSE CAST(round(127 * POW(2, 60) /
                             CAST(GREATEST(max(CASE WHEN rn = 128 THEN h END), 1)
                                  AS DOUBLE)) AS BIGINT) END
               FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha)
               WHERE rn <= 128) AS est_a,
              (SELECT CASE WHEN count(*) < 128 THEN count(*)
                      ELSE CAST(round(127 * POW(2, 60) /
                             CAST(GREATEST(max(CASE WHEN rn = 128 THEN h END), 1)
                                  AS DOUBLE)) AS BIGINT) END
               FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb)
               WHERE rn <= 128) AS est_b,
              (SELECT CASE WHEN count(*) < 128 THEN count(*)
                      ELSE CAST(round(127 * POW(2, 60) /
                             CAST(GREATEST(max(CASE WHEN rn = 128 THEN h END), 1)
                                  AS DOUBLE)) AS BIGINT) END
               FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hu)
               WHERE rn <= 128) AS est_union,
              (SELECT count(*) FROM
                (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
                 WHERE o_custkey IS NOT NULL)) AS n_exact_a,
              (SELECT count(*) FROM
                (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
                 WHERE c_custkey IS NOT NULL)) AS n_exact_b,
              (SELECT count(*) FROM
                (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_custkey IN (SELECT c_custkey FROM customer)))
                AS n_exact_intersect)
          SELECT est_a, CAST(n_exact_a AS BIGINT) AS n_exact_a,
                 est_b, CAST(n_exact_b AS BIGINT) AS n_exact_b,
                 est_union,
                 LEAST(GREATEST(est_a + est_b - est_union, 0), est_a, est_b)
                   AS est_intersect,
                 CAST(n_exact_intersect AS BIGINT) AS n_exact_intersect,
                 CASE WHEN est_a > 0
                      THEN CAST(round(1000.0 *
                             LEAST(GREATEST(est_a + est_b - est_union, 0),
                                   est_a, est_b) /
                             CAST(est_a AS DOUBLE)) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS containment_a_permille
          FROM est""",
    // q132 = A-ES re-derived: the same seeded-hash uniform, the same
    // ln(u)/w micro rounding, the same (pri desc, id) window cut
    "q132_weighted_sample" ->
      s"""WITH wt AS (
            SELECT doc_id, source, n_chars,
                   CAST(round(
                     ln(least(
                       (CAST(${sqlMd5h60("'42:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) + 1)
                          / POW(2, 60),
                       1 - 1e-9))
                     / CAST(n_chars AS DOUBLE) * 1000000) AS BIGINT) AS pri_micro
            FROM documents
            WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
              AND CAST(n_chars AS DOUBLE) > 0),
          rk AS (
            SELECT *, row_number() OVER (
                     PARTITION BY source ORDER BY pri_micro DESC, doc_id ASC) AS rank
            FROM wt)
          SELECT doc_id, source, n_chars, pri_micro, CAST(rank AS BIGINT) AS rank
          FROM rk WHERE rank <= 15""",
    // q133 = the entropy kernel re-derived per char class: each term
    // rounds (1e6 * (c/n) * ln(n/c)) from exact integer counts, the
    // cross-term sum is exact BIGINT (order-free), then the same
    // per-source rollup
    "q133_char_entropy" ->
      """WITH ch AS (
           SELECT doc_id, source, unnest(string_split(text, '')) AS c
           FROM documents WHERE text IS NOT NULL),
          f AS (SELECT doc_id, source, c, count(*) AS cnt
                FROM ch GROUP BY doc_id, source, c),
          n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                FROM ch GROUP BY doc_id),
          ent AS (
            SELECT f.source, f.doc_id,
                   CAST(sum(CAST(round(
                     1000000 * (CAST(cnt AS DOUBLE) / n.n) *
                     ln(CAST(n.n AS DOUBLE) / cnt)) AS BIGINT)) AS BIGINT) AS ent_micro
            FROM f JOIN n USING (doc_id)
            GROUP BY f.source, f.doc_id)
          -- empty text needs no special branch: string_split('', '')
          -- yields [''] (one zero-entropy pseudo-char, term = ln(1) = 0),
          -- matching the kernel's explicit empty -> 0 fast path
          SELECT source, count(*) AS n_docs,
                 min(ent_micro) AS min_ent_micro,
                 max(ent_micro) AS max_ent_micro,
                 CAST(sum(ent_micro) AS BIGINT) AS sum_ent_micro,
                 CAST(sum(ent_micro) AS DOUBLE) / count(*) / 1000000.0 AS mean_ent
          FROM ent GROUP BY source""",
    // q134 = DuckDB's NATIVE ASOF LEFT JOIN (an independent second
    // implementation of as-of) + the staleness CASE for the tolerance
    "q134_asof_tolerance" ->
      """WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'click'),
          p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id,
                CASE WHEN p.ts IS NOT NULL AND c.ts - p.ts <= INTERVAL 2 HOUR
                     THEN p.value END AS asof_value,
                CASE WHEN p.ts IS NOT NULL AND c.ts - p.ts <= INTERVAL 2 HOUR
                     THEN p.ts END AS asof_ts
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",
    // q135 = the q101 Stupid-Backoff pipeline instantiated twice
    // (target slice doc_id%10=8, raw slice =9) over ONE candidate
    // gram table, then the Gumbel-top-k draw: per-bigram log-ratio
    // micros + seeded-Gumbel micros, rank by the sum
    "q135_dsir_select" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
          ttrain AS (SELECT * FROM tk WHERE doc_id % 10 = 8),
          rtrain AS (SELECT * FROM tk WHERE doc_id % 10 = 9),
          cand AS (SELECT * FROM tk WHERE doc_id % 10 < 8),
          tuni AS (SELECT w, count(*) AS c1
                   FROM (SELECT unnest(t) AS w FROM ttrain) GROUP BY w),
          tn AS (SELECT count(*) AS n_tok
                 FROM (SELECT unnest(t) AS w FROM ttrain)),
          tbi AS (SELECT w1, w2, count(*) AS c12
                  FROM (SELECT t[i] AS w1, t[i+1] AS w2
                        FROM ttrain,
                             LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i))
                  GROUP BY w1, w2),
          runi AS (SELECT w, count(*) AS c1
                   FROM (SELECT unnest(t) AS w FROM rtrain) GROUP BY w),
          rn AS (SELECT count(*) AS n_tok
                 FROM (SELECT unnest(t) AS w FROM rtrain)),
          rbi AS (SELECT w1, w2, count(*) AS c12
                  FROM (SELECT t[i] AS w1, t[i+1] AS w2
                        FROM rtrain,
                             LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i))
                  GROUP BY w1, w2),
          hb AS (SELECT doc_id, w1, w2, count(*) AS tf
                 FROM (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                       FROM cand,
                            LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i))
                 GROUP BY doc_id, w1, w2),
          tterms AS (
            SELECT hb.doc_id, hb.tf,
                   CASE
                     WHEN bi.c12 IS NOT NULL THEN ln(CAST(bi.c12 AS DOUBLE) / u1.c1)
                     WHEN u2.c1 IS NOT NULL THEN ln(0.4 * u2.c1 / n.n_tok)
                     ELSE ln(0.4 / n.n_tok)
                   END AS logp
            FROM hb
            LEFT JOIN tbi bi ON hb.w1 = bi.w1 AND hb.w2 = bi.w2
            LEFT JOIN tuni u1 ON hb.w1 = u1.w
            LEFT JOIN tuni u2 ON hb.w2 = u2.w
            CROSS JOIN tn n),
          rterms AS (
            SELECT hb.doc_id, hb.tf,
                   CASE
                     WHEN bi.c12 IS NOT NULL THEN ln(CAST(bi.c12 AS DOUBLE) / u1.c1)
                     WHEN u2.c1 IS NOT NULL THEN ln(0.4 * u2.c1 / n.n_tok)
                     ELSE ln(0.4 / n.n_tok)
                   END AS logp
            FROM hb
            LEFT JOIN rbi bi ON hb.w1 = bi.w1 AND hb.w2 = bi.w2
            LEFT JOIN runi u1 ON hb.w1 = u1.w
            LEFT JOIN runi u2 ON hb.w2 = u2.w
            CROSS JOIN rn n),
          tagg AS (SELECT doc_id,
                          CAST(sum(tf) AS BIGINT) AS n_bigrams,
                          CAST(sum(CAST(round(tf * logp * 1000000) AS BIGINT)) AS BIGINT)
                            AS ll_t_micro
                   FROM tterms GROUP BY doc_id),
          ragg AS (SELECT doc_id,
                          CAST(sum(CAST(round(tf * logp * 1000000) AS BIGINT)) AS BIGINT)
                            AS ll_r_micro
                   FROM rterms GROUP BY doc_id),
          keyed AS (
            SELECT tagg.doc_id, tagg.n_bigrams, tagg.ll_t_micro, ragg.ll_r_micro,
                   CAST(round(CAST(tagg.ll_t_micro - ragg.ll_r_micro AS DOUBLE)
                              / CAST(tagg.n_bigrams AS DOUBLE)) AS BIGINT) AS lw_micro,
                   CAST(round(-ln(-ln(least(
                     (CAST(${sqlMd5h60("'42:' || CAST(tagg.doc_id AS VARCHAR)")} AS DOUBLE) + 0.5)
                     / POW(2, 60), 1.0 - 1e-9))) * 1000000) AS BIGINT) AS gum_micro
            FROM tagg JOIN ragg ON tagg.doc_id = ragg.doc_id),
          cut AS (
            SELECT *, lw_micro + gum_micro AS key_micro
            FROM keyed
            ORDER BY key_micro DESC, doc_id ASC LIMIT 15)
          SELECT doc_id, n_bigrams, ll_t_micro, ll_r_micro, lw_micro, gum_micro,
                 key_micro,
                 CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id ASC)
                   AS BIGINT) AS rank
          FROM cut""",
    // q136 = the same max-abs/127 quantization, integer dot, and
    // norm divide in SQL; round() is half-away-from-zero on both
    // engines, so codes (and therefore every score) agree exactly
    "q136_int8_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          qc AS (SELECT CASE WHEN mx = 0 THEN list_transform(qv, x -> CAST(0 AS BIGINT))
                        ELSE list_transform(qv, x ->
                          CAST(round(CAST(x AS DOUBLE) / (mx / 127.0)) AS BIGINT)) END AS qcodes
                 FROM (SELECT qv,
                         list_max(list_transform(qv, y -> abs(CAST(y AS DOUBLE)))) AS mx
                       FROM q)),
          dc AS (SELECT vec_id, embedding,
                        CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                        ELSE list_transform(embedding, x ->
                          CAST(round(CAST(x AS DOUBLE) / (mx / 127.0)) AS BIGINT)) END AS codes
                 FROM (SELECT vec_id, embedding,
                         list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS mx
                       FROM embeddings)),
          sc AS (SELECT vec_id, embedding,
                        CAST(list_sum(list_transform(list_zip(codes, qcodes),
                          p -> p[1] * p[2])) AS BIGINT) AS idot,
                        CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS dd,
                        CAST(list_sum(list_transform(qcodes, x -> x * x)) AS BIGINT) AS qq
                 FROM dc, qc)
          SELECT vec_id,
                 CASE WHEN dd = 0 OR qq = 0 THEN 0.0
                      ELSE CAST(idot AS DOUBLE) / (sqrt(CAST(dd AS DOUBLE)) * sqrt(CAST(qq AS DOUBLE)))
                 END AS cos_q,
                 ${sqlCos("embedding", "qv")} AS cos
          FROM sc, q
          ORDER BY cos_q DESC, vec_id ASC LIMIT 20""",
    // q137 = the same seven Gopher rules in SQL: tokens via the shared
    // sqlTokens fragment, lines via string_split on chr(10), symbol
    // counts via replace-length arithmetic (non-overlapping '...')
    "q137_gopher_gate" ->
      s"""WITH tk AS (SELECT doc_id, text, ${sqlTokens("text")} AS t,
                             string_split(text, chr(10)) AS ls
                      FROM documents),
          st AS (SELECT doc_id,
                   CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS DOUBLE)
                     / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_token_len,
                   CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                     / CAST(greatest(len(t), 1) AS DOUBLE) AS frac_alpha,
                   CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                     s -> list_contains(t, s))) AS BIGINT) AS n_stop_hits,
                   CAST(len(list_filter(ls, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
                     / CAST(len(ls) AS DOUBLE) AS frac_ellipsis_lines,
                   CAST(len(list_filter(ls, l ->
                     list_contains(['-','*','•'], substr(ltrim(l, ' ' || chr(9)), 1, 1)))) AS DOUBLE)
                     / CAST(len(ls) AS DOUBLE) AS frac_bullet_lines,
                   CAST((length(text) - length(replace(text, '#', '')))
                        + (length(text) - length(replace(text, '…', '')))
                        + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
                     / CAST(greatest(len(t), 1) AS DOUBLE) AS symbol_ratio
                 FROM tk),
          fl AS (SELECT *,
                   coalesce(n_tokens >= 25 AND n_tokens <= 100000, FALSE) AS r_len,
                   coalesce(mean_token_len >= 3.0 AND mean_token_len <= 10.0, FALSE) AS r_mean_len,
                   coalesce(frac_alpha >= 0.8, FALSE) AS r_alpha,
                   coalesce(n_stop_hits >= 1, FALSE) AS r_stop,
                   coalesce(frac_ellipsis_lines <= 0.3, FALSE) AS r_ellipsis,
                   coalesce(frac_bullet_lines <= 0.9, FALSE) AS r_bullet,
                   coalesce(symbol_ratio <= 0.1, FALSE) AS r_symbol
                 FROM st)
          SELECT doc_id, n_tokens, mean_token_len, frac_alpha, n_stop_hits,
                 frac_ellipsis_lines, frac_bullet_lines, symbol_ratio,
                 r_len, r_mean_len, r_alpha, r_stop, r_ellipsis, r_bullet, r_symbol,
                 (r_len AND r_mean_len AND r_alpha AND r_stop
                   AND r_ellipsis AND r_bullet AND r_symbol) AS keep,
                 CASE WHEN NOT r_len THEN 'len'
                      WHEN NOT r_mean_len THEN 'mean_len'
                      WHEN NOT r_alpha THEN 'alpha'
                      WHEN NOT r_stop THEN 'stop'
                      WHEN NOT r_ellipsis THEN 'ellipsis'
                      WHEN NOT r_bullet THEN 'bullet'
                      WHEN NOT r_symbol THEN 'symbol'
                 END AS fail_reason
          FROM fl""",
    // q125 = the same content-defined chunker in SQL: cut positions
    // from the trailing-8 md5 window, spans from consecutive
    // boundaries, per-chunk md5-60 fingerprints, then the
    // window-counted cross-doc dup rollup
    "q125_cdc_profile" ->
      s"""WITH ch AS (
            SELECT doc_id, text,
              list_concat(list_concat([CAST(0 AS BIGINT)],
                list_filter(range(8, length(text)+1),
                  i -> ${sqlMd5h60("substr(text, i-7, 8)")} % 16 = 0)),
                [CAST(length(text) AS BIGINT)]) AS b
            FROM documents),
          spans AS (
            SELECT doc_id, unnest(
              list_filter(
                list_transform(range(2, len(b)+1),
                  j -> CASE WHEN b[j] > b[j-1]
                       THEN ${sqlMd5h60("substr(text, b[j-1]+1, b[j]-b[j-1])")} END),
                x -> x IS NOT NULL)) AS h
            FROM ch),
          pcd AS (SELECT h, doc_id, count(*) AS c FROM spans GROUP BY 1, 2),
          fl AS (SELECT *, count(*) OVER (PARTITION BY h) AS n_docs FROM pcd),
          pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
                        CAST(sum(CASE WHEN n_docs > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_chunks
                 FROM fl GROUP BY doc_id)
          SELECT d.doc_id,
                 coalesce(pd.n_chunks, 0) AS n_chunks,
                 coalesce(pd.dup_chunks, 0) AS dup_chunks,
                 CASE WHEN coalesce(pd.n_chunks, 0) > 0
                      THEN CAST(round(pd.dup_chunks * 1000000.0 / pd.n_chunks) AS BIGINT)
                 END AS dup_ratio_micro
          FROM documents d LEFT JOIN pd USING (doc_id)""",
    "q102_containment" ->
      // asymmetric prefix-probe (smaller side's floor((1-t)*sz)+1
      // prefix) against the FULL inverted index, then exact containment
      // verification — mirrors Dedup.ngramContainment; the (1-t)
      // literal is Scala-interpolated so both engines floor the same
      // IEEE double
      s"""WITH $sqlShingleCtes,
          pfc AS (SELECT id AS id_p, len(hs) AS sz_p,
                         unnest(hs[1 : CAST(floor(len(hs) * CAST(${1.0 - 0.9} AS DOUBLE) + 1e-9) AS BIGINT) + 1]) AS h
                  FROM ha),
          fx AS (SELECT id AS id_f, len(hs) AS sz_f, unnest(hs) AS h FROM ha),
          cand AS (SELECT DISTINCT least(id_p, id_f) AS id_a,
                                   greatest(id_p, id_f) AS id_b
                   FROM pfc JOIN fx USING (h)
                   WHERE id_p <> id_f AND sz_p <= sz_f),
          cj AS (SELECT c.id_a, c.id_b,
                        len(list_intersect(x.hs, y.hs)) AS common,
                        least(len(x.hs), len(y.hs)) AS m
                 FROM cand c
                 JOIN ha x ON x.id = c.id_a
                 JOIN ha y ON y.id = c.id_b)
          SELECT id_a, id_b, containment FROM (
            SELECT id_a, id_b,
                   CAST(common AS DOUBLE) / CAST(m AS DOUBLE) AS containment
            FROM cj)
          WHERE containment >= 0.9""",
    "q103_zorder_stats" ->
      // the Morton interleave as the same non-overlapping-bit sum the
      // Spark side evaluates (Layout.zValueSql keeps them in lockstep)
      s"""WITH d AS (SELECT ${sqlMd5h60("CAST(l_partkey AS VARCHAR)")} % 256 AS x,
                            ${sqlMd5h60("CAST(l_suppkey AS VARCHAR)")} % 256 AS y
                     FROM lineitem),
          z AS (SELECT ${Layout.zValueSql("x", "y", 8)} AS zv, x, y FROM d)
          SELECT (zv >> 10) AS bucket,
                 CAST(count(*) AS BIGINT) AS n,
                 min(x) AS min_x, max(x) AS max_x,
                 min(y) AS min_y, max(y) AS max_y
          FROM z GROUP BY 1""",
    "q104_quality_profile" ->
      // q101's scoring CTEs + source join + fixed unit-width NLL bins
      // (row-local floor — no quantile/window; see the Spark-side
      // scaladoc for the scale argument)
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
          train AS (SELECT * FROM tk WHERE doc_id % 10 < 8),
          heldout AS (SELECT * FROM tk WHERE doc_id % 10 >= 8),
          uni AS (SELECT w, count(*) AS c1
                  FROM (SELECT unnest(t) AS w FROM train) GROUP BY w),
          n AS (SELECT count(*) AS n_tok
                FROM (SELECT unnest(t) AS w FROM train)),
          bi AS (SELECT w1, w2, count(*) AS c12
                 FROM (SELECT t[i] AS w1, t[i+1] AS w2
                       FROM train,
                            LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i))
                 GROUP BY w1, w2),
          hb AS (SELECT doc_id, w1, w2, count(*) AS tf
                 FROM (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                       FROM heldout,
                            LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i))
                 GROUP BY doc_id, w1, w2),
          terms AS (
            SELECT hb.doc_id, hb.tf,
                   CASE
                     WHEN bi.c12 IS NOT NULL THEN ln(CAST(bi.c12 AS DOUBLE) / u1.c1)
                     WHEN u2.c1 IS NOT NULL THEN ln(0.4 * u2.c1 / n.n_tok)
                     ELSE ln(0.4 / n.n_tok)
                   END AS logp
            FROM hb
            LEFT JOIN bi ON hb.w1 = bi.w1 AND hb.w2 = bi.w2
            LEFT JOIN uni u1 ON hb.w1 = u1.w
            LEFT JOIN uni u2 ON hb.w2 = u2.w
            CROSS JOIN n),
          agg AS (SELECT doc_id,
                         CAST(sum(tf) AS BIGINT) AS n_bigrams,
                         CAST(sum(CAST(round(tf * logp * 1000000) AS BIGINT)) AS BIGINT)
                           AS nll_micro
                  FROM terms GROUP BY doc_id),
          sc AS (SELECT doc_id,
                        CAST(nll_micro AS DOUBLE) / 1000000.0 / CAST(n_bigrams AS DOUBLE)
                          AS avg_nll
                 FROM agg)
          SELECT d.source,
                 CAST(floor(avg_nll) AS BIGINT) AS nll_bin,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 max(avg_nll) AS best_nll,
                 min(avg_nll) AS worst_nll
          FROM sc JOIN documents d USING (doc_id)
          GROUP BY 1, 2""",
    "q105_prototype_prune" ->
      // nLists=1 -> the Lloyd fit is the sequential sample-order mean of
      // the md5-ordered 256-row sample (lloydFit's accumulation is a
      // sample-order fold; with one cell the assignment never changes),
      // reproduced here with an ordered element-wise list_reduce; the
      // cosine is the same ordered zip/fold arithmetic as q22/q77
      s"""WITH sm AS (SELECT vec_id, embedding AS e FROM embeddings
                      WHERE embedding IS NOT NULL
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
                      LIMIT 256),
          ag AS (SELECT list(list_transform(e, x -> CAST(x AS DOUBLE))
                        ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) AS vs
                 FROM sm),
          ct AS (SELECT list_reduce(vs, (a, b) ->
                          list_transform(list_zip(a, b), s -> s[1] + s[2])) AS sv,
                        len(vs) AS n
                 FROM ag),
          cen AS (SELECT list_transform(sv, x -> x / CAST(n AS DOUBLE)) AS c FROM ct)
          SELECT vec_id,
                 CAST(0 AS BIGINT) AS cell,
                 ${sqlCos("embedding", "c")} AS cos_proto,
                 CAST(${sqlCos("embedding", "c")} < -0.15 AS BIGINT) AS is_outlier
          FROM embeddings CROSS JOIN cen""",
    "q106_bm25" -> sqlBm25Oracle,
    "q107_snapshot_diff" ->
      // same perturbation, fingerprint (md5 over chr(1)-joined
      // null-coalesced content), and full-outer classification; both
      // engines hash identical UTF-8 bytes
      """WITH oldc AS (SELECT doc_id, source,
                              CASE WHEN doc_id % 11 = 5 THEN text || ' legacy' ELSE text END AS text
                       FROM documents WHERE doc_id % 7 <> 3),
          olde AS (SELECT doc_id + 1000000000 AS doc_id, source, text
                   FROM documents WHERE doc_id % 13 = 1),
          oldsnap AS (SELECT * FROM oldc UNION ALL SELECT * FROM olde),
          ofp AS (SELECT doc_id,
                         md5(concat_ws(chr(1), coalesce(CAST(source AS VARCHAR), ''),
                                               coalesce(CAST(text AS VARCHAR), ''))) AS old_fp
                  FROM oldsnap),
          nfp AS (SELECT doc_id,
                         md5(concat_ws(chr(1), coalesce(CAST(source AS VARCHAR), ''),
                                               coalesce(CAST(text AS VARCHAR), ''))) AS new_fp
                  FROM documents)
          SELECT COALESCE(ofp.doc_id, nfp.doc_id) AS doc_id,
                 CASE WHEN ofp.old_fp IS NULL THEN 'added'
                      WHEN nfp.new_fp IS NULL THEN 'removed'
                      ELSE 'changed' END AS status,
                 COALESCE(ofp.old_fp, '') AS old_fp,
                 COALESCE(nfp.new_fp, '') AS new_fp
          FROM ofp FULL OUTER JOIN nfp ON ofp.doc_id = nfp.doc_id
          WHERE ofp.old_fp IS NULL OR nfp.new_fp IS NULL OR ofp.old_fp <> nfp.new_fp""",
    "q108_bm25_join" ->
      // same per-term arithmetic as q106 (operand order, unfolded
      // constants, micro rounding); cross-term totals are BIGINT sums
      // per (qid, doc), so group order cannot matter
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents
                      WHERE text IS NOT NULL),
          qt AS (SELECT DISTINCT qid, term FROM (
                   SELECT doc_id AS qid, unnest(t[1:3]) AS term
                   FROM tk WHERE doc_id % 97 = 0)),
          tfm AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
                  FROM (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY doc_id, w),
          dlt AS (SELECT doc_id, len(t) AS dl FROM tk),
          idx AS (SELECT tfm.doc_id, tfm.term, tfm.tf, dlt.dl
                  FROM tfm JOIN dlt USING (doc_id)
                  WHERE tfm.term IN (SELECT term FROM qt)),
          st AS (SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS sum_dl
                 FROM tk),
          dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY term),
          mc AS (SELECT qt.qid, idx.doc_id,
                        CAST(round((ln(1.0 + ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)))
                          * ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
                             (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))) * 1000000) AS BIGINT)
                          AS micro
                 FROM idx
                 JOIN dfq USING (term)
                 CROSS JOIN st
                 JOIN qt ON qt.term = idx.term),
          sc AS (SELECT qid, doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
                 FROM mc GROUP BY qid, doc_id),
          rk AS (SELECT qid, doc_id, score_micro,
                        row_number() OVER (PARTITION BY qid
                                           ORDER BY score_micro DESC, doc_id ASC) AS rn
                 FROM sc)
          SELECT qid, doc_id, score_micro,
                 CAST(score_micro AS DOUBLE) / 1000000.0 AS score
          FROM rk WHERE rn <= 10""",
    // q139 = q108's pipeline at candidate depth 20, then the per-query
    // positive anti-join (here: the query doc itself) and the 5-deep
    // negative re-rank
    "q139_hard_negatives" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents
                      WHERE text IS NOT NULL),
          qt AS (SELECT DISTINCT qid, term FROM (
                   SELECT doc_id AS qid, unnest(t[1:3]) AS term
                   FROM tk WHERE doc_id % 97 = 0)),
          tfm AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
                  FROM (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY doc_id, w),
          dlt AS (SELECT doc_id, len(t) AS dl FROM tk),
          idx AS (SELECT tfm.doc_id, tfm.term, tfm.tf, dlt.dl
                  FROM tfm JOIN dlt USING (doc_id)
                  WHERE tfm.term IN (SELECT term FROM qt)),
          st AS (SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS sum_dl
                 FROM tk),
          dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY term),
          mc AS (SELECT qt.qid, idx.doc_id,
                        CAST(round((ln(1.0 + ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)))
                          * ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
                             (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))) * 1000000) AS BIGINT)
                          AS micro
                 FROM idx
                 JOIN dfq USING (term)
                 CROSS JOIN st
                 JOIN qt ON qt.term = idx.term),
          sc AS (SELECT qid, doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
                 FROM mc GROUP BY qid, doc_id),
          rk AS (SELECT qid, doc_id, score_micro,
                        row_number() OVER (PARTITION BY qid
                                           ORDER BY score_micro DESC, doc_id ASC) AS rn
                 FROM sc),
          cand AS (SELECT qid, doc_id, score_micro FROM rk WHERE rn <= 20),
          neg AS (SELECT qid, doc_id, score_micro,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY score_micro DESC, doc_id ASC) AS neg_rank
                  FROM cand WHERE doc_id <> qid)
          SELECT qid, doc_id, score_micro,
                 CAST(score_micro AS DOUBLE) / 1000000.0 AS score,
                 CAST(neg_rank AS BIGINT) AS neg_rank
          FROM neg WHERE neg_rank <= 5""",
    // q140 = the q111 stats fragments (tokens, language vote, token
    // fingerprint) + the q133 entropy pipeline, rolled up per source
    // with the majority-language window
    "q140_data_card" ->
      s"""WITH tk AS (SELECT doc_id, source, text, ${sqlTokens("text")} AS t
                      FROM documents),
          sc AS (SELECT doc_id, source,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE CAST(len(t) AS BIGINT) END AS n_tokens,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE md5(array_to_string(t, ' ')) END AS fp,
                   (CASE WHEN text IS NULL THEN NULL
                         WHEN len(list_filter(t, x -> x IN ${sqlList(stopEn)})) >= len(list_filter(t, x -> x IN ${sqlList(stopFr)}))
                          AND len(list_filter(t, x -> x IN ${sqlList(stopEn)})) >= len(list_filter(t, x -> x IN ${sqlList(stopDe)}))
                          AND len(list_filter(t, x -> x IN ${sqlList(stopEn)})) >= len(list_filter(t, x -> x IN ${sqlList(stopEs)})) THEN 'en'
                         WHEN len(list_filter(t, x -> x IN ${sqlList(stopFr)})) >= len(list_filter(t, x -> x IN ${sqlList(stopDe)}))
                          AND len(list_filter(t, x -> x IN ${sqlList(stopFr)})) >= len(list_filter(t, x -> x IN ${sqlList(stopEs)})) THEN 'fr'
                         WHEN len(list_filter(t, x -> x IN ${sqlList(stopDe)})) >= len(list_filter(t, x -> x IN ${sqlList(stopEs)})) THEN 'de'
                         ELSE 'es' END) AS lang_pred
                 FROM tk),
          ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
                 FROM documents WHERE text IS NOT NULL),
          f AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
          n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY doc_id),
          ent AS (SELECT f.doc_id,
                    CAST(sum(CAST(round(
                      1000000 * (CAST(cnt AS DOUBLE) / n.n) *
                      ln(CAST(n.n AS DOUBLE) / cnt)) AS BIGINT)) AS BIGINT) AS ent_micro
                  FROM f JOIN n USING (doc_id) GROUP BY f.doc_id),
          base AS (SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(count(fp) AS BIGINT) AS n_texted,
                     CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens,
                     CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
                     CAST(coalesce(sum(ent_micro), 0) AS BIGINT) AS sum_ent_micro
                   FROM sc LEFT JOIN ent USING (doc_id)
                   GROUP BY source),
          votes AS (SELECT source, lang_pred, CAST(count(*) AS BIGINT) AS lc
                    FROM sc WHERE lang_pred IS NOT NULL
                    GROUP BY source, lang_pred),
          top AS (SELECT source, lang_pred AS top_lang, lc AS top_lang_docs
                  FROM (SELECT *, row_number() OVER (PARTITION BY source
                          ORDER BY lc DESC, lang_pred ASC) AS rn FROM votes)
                  WHERE rn = 1)
          SELECT base.source, n_docs, n_texted, n_tokens, n_unique,
                 CAST(n_texted - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_frac,
                 top_lang, top_lang_docs,
                 CAST(top_lang_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_lang_share,
                 sum_ent_micro,
                 CAST(sum_ent_micro AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000.0
                   AS mean_ent
          FROM base LEFT JOIN top USING (source)""",
    // q141 = the guarded-PassJoin survive-predicate re-derived in SQL
    // against the exact pair set: the same segment layout arithmetic
    // (nSeg = 4: length l//4 + 1 for the last l%4 segments, start
    // i*(l//4) + max(0, i - (4 - l%4))), index-side block frequencies
    // per (len, segIdx, segment), and a pair survives iff one of the
    // left key's segments is under the cap AND occurs in the right
    // key within the pigeonhole ±3 position window
    "q141_edit_join_guarded" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 16) AS k FROM documents),
          kk AS (SELECT doc_id, k, length(k) AS l FROM k WHERE k IS NOT NULL),
          seg AS (
            SELECT doc_id, k, l, i,
                   l // 4 + CASE WHEN i >= 4 - (l % 4) THEN 1 ELSE 0 END AS sl,
                   i * (l // 4) + greatest(0, i - (4 - l % 4)) AS st
            FROM kk CROSS JOIN generate_series(0, 3) AS g(i)),
          seg2 AS (SELECT doc_id, k, l, i, sl, st,
                          substr(k, CAST(st AS INT) + 1, CAST(sl AS INT)) AS seg
                   FROM seg),
          freq AS (SELECT l, i, seg, count(*) AS f FROM seg2 GROUP BY 1, 2, 3),
          pairs AS (
            SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                   levenshtein(a.k, b.k) AS dist
            FROM kk a JOIN kk b
              ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= 3
            WHERE levenshtein(a.k, b.k) <= 3)
          SELECT left_id, right_id, dist
          FROM pairs p
          WHERE EXISTS (
            SELECT 1 FROM seg2 sa
            JOIN freq f ON f.l = sa.l AND f.i = sa.i AND f.seg = sa.seg
            JOIN kk b ON b.doc_id = p.right_id
            CROSS JOIN generate_series(-3, 3) AS gp(o)
            WHERE sa.doc_id = p.left_id AND f.f <= 4
              AND sa.st + o >= 0 AND sa.st + o <= b.l - sa.sl
              AND substr(b.k, CAST(sa.st + o AS INT) + 1, CAST(sa.sl AS INT)) = sa.seg)""",
    // q142 = the documented url_normalize chain re-derived from DuckDB
    // string/regexp/list ops (DuckDB v1.0 has no URL functions):
    // fragment strip -> anchored scheme match -> authority split ->
    // userinfo/port handling -> split-on-% unreserved decode ->
    // tracking-param filter + bytewise sort; registrable domain via
    // the suffix VALUES list (longest match) with the IP and
    // unknown-TLD fallbacks
    "q142_url_normalize" ->
      s"""WITH u AS (
            SELECT doc_id,
              CASE doc_id % 8
                WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Docs/%41rt%2Ficle-'
                            || CAST(doc_id AS VARCHAR) || '?utm_source=feed&b=2&a=1#frag'
                WHEN 1 THEN 'https://Blog.Example.CO.UK:443/' || lang || '/page?gclid=x1&UTM_TERM=y'
                WHEN 2 THEN 'http://user:pw@Example.IO:8080/p%7Ex/?z=%7E0&a=%2F&a=%2E'
                WHEN 3 THEN 'ftp://Files.Example.net:21/a/b'
                WHEN 4 THEN 'https://192.168.0.' || CAST(doc_id % 250 AS VARCHAR) || ':443/x'
                WHEN 5 THEN 'http://intranethost/' || CAST(doc_id AS VARCHAR)
                WHEN 6 THEN 'http://deep.sub.Example.xyz?q=' || CAST(doc_id AS VARCHAR) || '&q'
                ELSE 'not-a-url-' || CAST(doc_id AS VARCHAR)
              END AS url
            FROM documents),
          $sqlUrlNormChain,
          $sqlDomainChain
          SELECT doc_id, norm_url, host, domain FROM dom""",
    // q143 = the full unigram trainer re-run in SQL (seed counts, two
    // generated hard-EM rounds with the recursive-CTE Viterbi and the
    // longest-piece tie-break, prune, apply) — wordless docs keep
    // md5('') and nll 0, like the engine's empty piece array
    "q143_unigram_tokenize" ->
      s"""WITH RECURSIVE ${sqlUnigramCtes(maxWords = 300, seedMulti = 96, pruneSizes = Seq(64, 48))}
          SELECT doc.doc_id,
                 CAST(coalesce(len(q.pieces), 0) AS BIGINT) AS n_pieces,
                 md5(coalesce(array_to_string(q.pieces, '|'), '')) AS seq_hash,
                 CAST(coalesce(-q.sc, 0) AS BIGINT) AS nll_micro
          FROM documents doc LEFT JOIN dseq q ON q.doc_id = doc.doc_id""",
    // q144 = the dhash64 kernel re-derived from hex(encode(payload))
    // integer ops (window means, gradient bits, the sign-bit as a
    // -2^63 addend), then the exact bit_count(xor) <= maxDist verify
    // over ALL pairs — no banding clause, deliberately: since round 18
    // the engine uses maxDist+1 pigeonhole bands, so its candidate
    // set provably covers every pair within maxDist and the oracle
    // hash-checks that COMPLETENESS claim, not just the arithmetic
    "q144_phash_neardup" ->
      """WITH b AS (
            SELECT doc_id,
                   hex(encode(pl)) AS hx, octet_length(encode(pl)) AS n
            FROM (SELECT doc_id,
                    array_to_string(list_transform(range(0, 18),
                      i -> md5('grp:' || CAST(doc_id // 5 AS VARCHAR)
                               || ':' || CAST(i AS VARCHAR))), '')
                    || CASE WHEN doc_id % 5 = 0
                            THEN md5('shift:' || CAST(doc_id AS VARCHAR)) ELSE '' END
                    || '#' || CAST(doc_id AS VARCHAR) AS pl
                  FROM documents)),
          px AS (SELECT doc_id, n,
            list_transform(range(0, 72), k ->
              CASE WHEN ((k + 1) * n) // 72 > (k * n) // 72
                   THEN list_sum(list_transform(range((k * n) // 72, ((k + 1) * n) // 72),
                          i -> CAST('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2) AS INT)))
                        // (((k + 1) * n) // 72 - (k * n) // 72)
                   ELSE 0 END) AS p
            FROM b),
          hs AS (SELECT doc_id,
            CAST(list_sum(list_transform(range(0, 63), t ->
              CASE WHEN p[CAST((t // 8) * 9 + (t % 8) + 2 AS INT)]
                        > p[CAST((t // 8) * 9 + (t % 8) + 1 AS INT)]
                   THEN (CAST(1 AS BIGINT) << CAST(t AS INT)) ELSE 0 END)) AS BIGINT)
            + CASE WHEN p[72] > p[71]
                   THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END AS h
            FROM px)
          SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                 CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS dist
          FROM hs a JOIN hs b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.h, b.h)) <= 6""",
    "q109_mean_pool" ->
      // element-indexed unnest -> the same half-away-from-zero micro
      // rounding -> order-free BIGINT sums per (group, dim); the mean
      // divides the identical integers in the identical order
      """WITH ex AS (SELECT vec_id % 50 AS group_id, i - 1 AS dim,
                            CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS micro
                     FROM embeddings,
                          LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
                     WHERE embedding IS NOT NULL)
         SELECT group_id,
                CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(dim AS BIGINT) AS dim,
                CAST(sum(micro) AS BIGINT) AS micro_sum,
                (CAST(CAST(sum(micro) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0 AS mean_val
         FROM ex GROUP BY group_id, dim""",
    "q110_source_overlap" ->
      // per-source distinct shingle-hash universes (same tokenization /
      // shingle / md5h60 fragments as the dedup oracles), then the
      // h-keyed pair count and integer-derived Jaccard
      s"""WITH tk AS (SELECT source, ${sqlTokens("text")} AS t FROM documents
                      WHERE text IS NOT NULL AND source IS NOT NULL),
          shv AS (SELECT source, $sqlShingles3 AS shs FROM tk),
          gh AS (SELECT DISTINCT source AS grp, ${sqlMd5h60("s")} AS h
                 FROM (SELECT source, unnest(shs) AS s FROM shv)),
          sz AS (SELECT grp, CAST(count(*) AS BIGINT) AS sz FROM gh GROUP BY grp),
          it AS (SELECT a.grp AS src_a, b.grp AS src_b, CAST(count(*) AS BIGINT) AS common
                 FROM gh a JOIN gh b ON a.h = b.h AND a.grp < b.grp
                 GROUP BY 1, 2)
          SELECT src_a, src_b, common, sa.sz AS sz_a, sb.sz AS sz_b,
                 CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) AS jaccard
          FROM it
          JOIN sz sa ON sa.grp = src_a
          JOIN sz sb ON sb.grp = src_b""",
    "q111_funnel" ->
      // q35's scoring fragments (tokens, stop-word language vote, token
      // fingerprint), aggregated once with conditional counts
      s"""WITH tk AS (SELECT doc_id, text, ${sqlTokens("text")} AS t FROM documents),
          sc AS (SELECT doc_id, text, CAST(len(t) AS BIGINT) AS n_tokens,
                   len(list_filter(t, x -> x IN ${sqlList(stopEn)})) AS s_en,
                   len(list_filter(t, x -> x IN ${sqlList(stopFr)})) AS s_fr,
                   len(list_filter(t, x -> x IN ${sqlList(stopDe)})) AS s_de,
                   len(list_filter(t, x -> x IN ${sqlList(stopEs)})) AS s_es,
                   md5(array_to_string(t, ' ')) AS fp
                 FROM tk),
          fl AS (SELECT n_tokens,
                   (CASE WHEN text IS NULL THEN NULL
                         WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                         WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                         WHEN s_de >= s_es THEN 'de' ELSE 'es' END) AS lang_pred,
                   fp
                 FROM sc),
          ag AS (SELECT
                   CAST(count(*) AS BIGINT) AS c1,
                   CAST(sum(CASE WHEN n_tokens BETWEEN 30 AND 90 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
                   CAST(sum(CASE WHEN n_tokens BETWEEN 30 AND 90 AND lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c3,
                   CAST(count(DISTINCT CASE WHEN n_tokens BETWEEN 30 AND 90 AND lang_pred = 'en' THEN fp END) AS BIGINT) AS c4
                 FROM fl)
          SELECT '1_ingest' AS stage, c1 AS n_docs FROM ag
          UNION ALL SELECT '2_token_bounds', c2 FROM ag
          UNION ALL SELECT '3_language', c3 FROM ag
          UNION ALL SELECT '4_dedup_canonical', c4 FROM ag""",
    "q112_pmi_collocations" ->
      // q101's gram-count CTEs over the FULL corpus + the identical
      // PMI operand order and micro rounding
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
          uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok
                FROM (SELECT unnest(t) AS w FROM tk)),
          bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                 FROM (SELECT t[i] AS w1, t[i+1] AS w2
                       FROM tk,
                            LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i))
                 GROUP BY w1, w2),
          nb AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bi FROM bi),
          sc AS (SELECT w1, w2, c12,
                        CAST(round(ln((CAST(c12 AS DOUBLE) / CAST(n_bi AS DOUBLE)) /
                          ((CAST(u1.c AS DOUBLE) / CAST(n_tok AS DOUBLE)) *
                           (CAST(u2.c AS DOUBLE) / CAST(n_tok AS DOUBLE)))) * 1000000) AS BIGINT)
                          AS pmi_micro
                 FROM bi
                 JOIN uni u1 ON bi.w1 = u1.w
                 JOIN uni u2 ON bi.w2 = u2.w
                 CROSS JOIN n CROSS JOIN nb
                 WHERE c12 >= 3)
          SELECT w1, w2, c12, pmi_micro,
                 CAST(pmi_micro AS DOUBLE) / 1000000.0 AS pmi
          FROM sc ORDER BY pmi_micro DESC, w1 ASC, w2 ASC LIMIT 50""",
    "q113_source_divergence" ->
      // identical count derivation and nano fixed-point KL terms; the
      // per-source BIGINT sum is order-free
      s"""WITH su AS (SELECT source AS grp, w, CAST(count(*) AS BIGINT) AS c_sw
                      FROM (SELECT source, unnest(${sqlTokens("text")}) AS w
                            FROM documents WHERE source IS NOT NULL)
                      GROUP BY grp, w),
          st AS (SELECT grp, CAST(sum(c_sw) AS BIGINT) AS n_s FROM su GROUP BY grp),
          cu AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM su GROUP BY w),
          n AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tok FROM st),
          terms AS (SELECT su.grp, st.n_s,
                           CAST(round(((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE)) *
                             ln((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE)) /
                                (CAST(c_w AS DOUBLE) / CAST(n_tok AS DOUBLE)))) * 1000000000) AS BIGINT)
                             AS term_nano
                    FROM su JOIN st USING (grp) JOIN cu USING (w) CROSS JOIN n)
          SELECT grp AS source, n_s AS n_tokens,
                 CAST(sum(term_nano) AS BIGINT) AS kl_nano,
                 CAST(CAST(sum(term_nano) AS BIGINT) AS DOUBLE) / 1000000000.0 AS kl
          FROM terms GROUP BY grp, n_s""",
    "q114_threshold_sweep" ->
      // the q18 pair CTEs at the lowest threshold (the prefix filter is
      // lossless there), then pure conditional counts per cutoff; empty
      // cutoffs report explicit zeros via the left joins
      s"""WITH $sqlShingleCtes,
          $sqlJaccardPairCtes,
          th AS (SELECT unnest([0.5, 0.7, 0.9]) AS threshold),
          pt AS (SELECT threshold, id_a, id_b
                 FROM pairs CROSS JOIN th WHERE jaccard >= threshold),
          pc AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
                 FROM pt GROUP BY threshold),
          dc AS (SELECT threshold, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
                 FROM (SELECT threshold, unnest([id_a, id_b]) AS id FROM pt)
                 GROUP BY threshold)
          SELECT th.threshold,
                 COALESCE(pc.n_pairs, 0) AS n_pairs,
                 COALESCE(dc.n_docs, 0) AS n_docs
          FROM th
          LEFT JOIN pc ON pc.threshold = th.threshold
          LEFT JOIN dc ON dc.threshold = th.threshold""",
    "q115_hybrid_rank" ->
      // q106's candidate CTEs (LIMIT 100) + the q22 cosine against the
      // vec_id=0 query embedding, both signals combined as micros in
      // the operator's exact operand order
      s"""WITH $sqlBm25Ctes,
          cand AS (SELECT doc_id, score_micro AS bm25_micro FROM sc
                   ORDER BY score_micro DESC, doc_id ASC LIMIT 100),
          q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          cs AS (SELECT vec_id AS doc_id, ${sqlCos("embedding", "qv")} AS cos
                 FROM embeddings, q),
          j AS (SELECT cand.doc_id, bm25_micro,
                       CAST(round((COALESCE(cs.cos, 0.0) * 1.0) * 1000000) AS BIGINT) AS cos_micro
                FROM cand LEFT JOIN cs ON cs.doc_id = cand.doc_id),
          h AS (SELECT doc_id, bm25_micro, cos_micro,
                       CAST(round(CAST(bm25_micro AS DOUBLE) * 1.0) AS BIGINT) + cos_micro
                         AS hybrid_micro
                FROM j)
          SELECT doc_id, bm25_micro, cos_micro, hybrid_micro,
                 CAST(hybrid_micro AS DOUBLE) / 1000000.0 AS hybrid
          FROM h ORDER BY hybrid_micro DESC, doc_id ASC LIMIT 20""",
    "q116_source_dup_stats" ->
      // same fingerprint, same integer-derived ratio
      """SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
                CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS dup_ratio
         FROM documents
         WHERE text IS NOT NULL AND source IS NOT NULL
         GROUP BY source""",
    "q117_hybrid_join" ->
      // q108's per-(qid, doc) BM25 micro arithmetic (query set further
      // restricted to docs with an embedding row), candidate cut at
      // 100 per query, then q115's cosine-micro mix per (qid, doc) with
      // each query's own embedding — same operand order throughout
      s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents
                      WHERE text IS NOT NULL),
          qe AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings),
          qt AS (SELECT DISTINCT qid, term FROM (
                   SELECT doc_id AS qid, unnest(t[1:3]) AS term
                   FROM tk WHERE doc_id % 97 = 0
                     AND doc_id IN (SELECT qid FROM qe))),
          tfm AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
                  FROM (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY doc_id, w),
          dlt AS (SELECT doc_id, len(t) AS dl FROM tk),
          idx AS (SELECT tfm.doc_id, tfm.term, tfm.tf, dlt.dl
                  FROM tfm JOIN dlt USING (doc_id)
                  WHERE tfm.term IN (SELECT term FROM qt)),
          st AS (SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS sum_dl
                 FROM tk),
          dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY term),
          mc AS (SELECT qt.qid, idx.doc_id,
                        CAST(round((ln(1.0 + ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)))
                          * ((CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
                             (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))) * 1000000) AS BIGINT)
                          AS micro
                 FROM idx
                 JOIN dfq USING (term)
                 CROSS JOIN st
                 JOIN qt ON qt.term = idx.term),
          sc AS (SELECT qid, doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
                 FROM mc GROUP BY qid, doc_id),
          cand AS (SELECT qid, doc_id, score_micro AS bm25_micro
                   FROM (SELECT qid, doc_id, score_micro,
                                row_number() OVER (PARTITION BY qid
                                                   ORDER BY score_micro DESC, doc_id ASC) AS rn
                         FROM sc)
                   WHERE rn <= 100),
          j AS (SELECT cand.qid, cand.doc_id, bm25_micro,
                       CAST(round((COALESCE(${sqlCos("e.embedding", "qe.qvec")}, 0.0) * 1.0) * 1000000) AS BIGINT)
                         AS cos_micro
                FROM cand
                LEFT JOIN embeddings e ON e.vec_id = cand.doc_id
                JOIN qe ON qe.qid = cand.qid),
          h AS (SELECT qid, doc_id, bm25_micro, cos_micro,
                       CAST(round(CAST(bm25_micro AS DOUBLE) * 1.0) AS BIGINT) + cos_micro
                         AS hybrid_micro
                FROM j),
          rk AS (SELECT qid, doc_id, bm25_micro, cos_micro, hybrid_micro,
                        row_number() OVER (PARTITION BY qid
                                           ORDER BY hybrid_micro DESC, doc_id ASC) AS rn
                 FROM h)
          SELECT qid, doc_id, bm25_micro, cos_micro, hybrid_micro,
                 CAST(hybrid_micro AS DOUBLE) / 1000000.0 AS hybrid
          FROM rk WHERE rn <= 20""",
    "q119_threshold_sweep_filtered" ->
      // q34's hot-shingle-filtered candidate CTEs (Jaccard over the
      // FILTERED universe, sizes and common counts from the same
      // filtered sets) at the sweep's lowest threshold, then q114's
      // conditional counts per cutoff
      s"""WITH $sqlShingleCtes,
          hot AS (SELECT h FROM (SELECT h, count(*) AS f FROM ds GROUP BY h) WHERE f > 3),
          flt AS (SELECT id, h FROM ds WHERE h NOT IN (SELECT h FROM hot)),
          fsz AS (SELECT id, count(*) AS sz FROM flt GROUP BY id),
          cm AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
                 FROM flt a JOIN flt b USING (h) WHERE a.id < b.id GROUP BY 1, 2),
          pairs AS (SELECT * FROM (
                      SELECT id_a, id_b,
                             CAST(common AS DOUBLE) / CAST(x.sz + y.sz - common AS DOUBLE) AS jaccard
                      FROM cm JOIN fsz x ON x.id = id_a JOIN fsz y ON y.id = id_b)
                    WHERE jaccard >= 0.5),
          th AS (SELECT unnest([0.5, 0.7, 0.9]) AS threshold),
          pt AS (SELECT threshold, id_a, id_b
                 FROM pairs CROSS JOIN th WHERE jaccard >= threshold),
          pc AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
                 FROM pt GROUP BY threshold),
          dc AS (SELECT threshold, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
                 FROM (SELECT threshold, unnest([id_a, id_b]) AS id FROM pt)
                 GROUP BY threshold)
          SELECT th.threshold,
                 COALESCE(pc.n_pairs, 0) AS n_pairs,
                 COALESCE(dc.n_docs, 0) AS n_docs
          FROM th
          LEFT JOIN pc ON pc.threshold = th.threshold
          LEFT JOIN dc ON dc.threshold = th.threshold""",
    // q145 = the full 40-round fixed-point GD trainer generated as SQL
    // (see sqlDistillOracle) — teacher labels, features, every weight
    // update, and the final per-doc margins all replayed in DuckDB
    "q145_quality_classifier" ->
      sqlDistillOracle(dim = 256, iters = 40, lr = 16.0,
        minTokens = 25L, minStopHits = 1L),
    // q146 = the factored q142 normalize chain over the planted
    // variant-group URLs, then the keep-best argmax as a window
    // (score DESC, id ASC — keepRepresentative's max(struct(s, -id)))
    "q146_url_dedup" ->
      s"""WITH $sqlVariantGroupUrlCte,
          $sqlUrlNormChain,
          sc AS (SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
                 FROM documents),
          mem AS (SELECT n.doc_id, n.norm_url, s.n_tokens
                  FROM norm n JOIN sc s USING (doc_id)
                  WHERE n.norm_url IS NOT NULL),
          rep AS (SELECT *, first_value(doc_id) OVER (
                    PARTITION BY norm_url ORDER BY n_tokens DESC, doc_id ASC) AS rep_id
                  FROM mem)
          SELECT doc_id, norm_url, n_tokens,
                 CAST(doc_id = rep_id AS BIGINT) AS kept
          FROM rep""",
    // q147 = the factored normalize+domain chain over the skewed
    // subdomain fixture, then q91's single-window cap form (the
    // two-phase Spark plan is row-identical: under-cap domains
    // satisfy rn <= cap trivially)
    "q147_domain_cap" ->
      s"""WITH u AS (
            SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'http://' ||
                CASE (doc_id // 2) % 4 WHEN 0 THEN 'www' WHEN 1 THEN 'cdn'
                     WHEN 2 THEN 'static' ELSE 'm' END
                || '.seofarm.com/p/' || CAST(doc_id AS VARCHAR)
              ELSE 'http://www.site' || CAST(doc_id % 97 AS VARCHAR)
                || '.com/p/' || CAST(doc_id AS VARCHAR)
              END AS url
            FROM documents),
          $sqlUrlNormChain,
          $sqlDomainChain
          SELECT doc_id, domain FROM (
            SELECT doc_id, domain,
                   row_number() OVER (PARTITION BY domain
                     ORDER BY ${sqlMd5h60("'42:' || CAST(doc_id AS VARCHAR)")},
                              doc_id) AS rn
            FROM dom)
          WHERE rn <= 50""",
    // q148 = the standalone signal oracles (q24 lang CASE, shared
    // gopher st CTE, q133 per-doc entropy, q59 repetition, md5 fp)
    // re-derived TOGETHER and joined per doc — the fused Spark scan
    // must match every column at once
    "q148_attribute_tags" ->
      s"""WITH tk AS (SELECT doc_id, text, ${sqlTokens("text")} AS t,
                             string_split(text, chr(10)) AS ls
                      FROM documents),
          $sqlGopherStCte,
          lang AS (SELECT doc_id,
                     CASE WHEN text IS NULL THEN NULL
                          WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                          WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                          WHEN s_de >= s_es THEN 'de'
                          ELSE 'es' END AS lang_pred
                   FROM (SELECT doc_id, text,
                           len(list_filter(t, x -> x IN ${sqlList(stopEn)})) AS s_en,
                           len(list_filter(t, x -> x IN ${sqlList(stopFr)})) AS s_fr,
                           len(list_filter(t, x -> x IN ${sqlList(stopDe)})) AS s_de,
                           len(list_filter(t, x -> x IN ${sqlList(stopEs)})) AS s_es
                         FROM tk)),
          ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
                 FROM documents WHERE text IS NOT NULL),
          f AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
          n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY doc_id),
          ent AS (SELECT f.doc_id,
                    CAST(sum(CAST(round(
                      1000000 * (CAST(cnt AS DOUBLE) / n.n) *
                      ln(CAST(n.n AS DOUBLE) / cnt)) AS BIGINT)) AS BIGINT) AS ent_micro
                  FROM f JOIN n USING (doc_id) GROUP BY f.doc_id),
          bg AS (SELECT doc_id,
                        unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS b
                 FROM tk),
          bcnt AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY doc_id, b),
          btop AS (SELECT doc_id, n FROM (
                     SELECT doc_id, n,
                            row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, b ASC) AS rn
                     FROM bcnt) WHERE rn = 1),
          rep AS (SELECT tk.doc_id,
                    CASE WHEN len(t) <= 1 THEN CAST(0 AS DOUBLE)
                         ELSE CAST(btop.n AS DOUBLE) / CAST(len(t) - 1 AS DOUBLE) END AS top_bigram_frac,
                    CASE WHEN len(t) = 0 THEN CAST(0 AS DOUBLE)
                         ELSE CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) END AS dup_token_frac
                  FROM tk LEFT JOIN btop ON btop.doc_id = tk.doc_id)
          SELECT d.doc_id, lang.lang_pred, st.n_tokens,
                 (${sqlGopherKeep(25L, 1L)}) AS keep_gopher,
                 ent.ent_micro,
                 rep.top_bigram_frac, rep.dup_token_frac,
                 md5(d.text) AS fp
          FROM documents d
          JOIN lang USING (doc_id)
          JOIN st USING (doc_id)
          LEFT JOIN ent USING (doc_id)
          JOIN rep USING (doc_id)""",
    // q149 = intra-batch min-id grouping on the canonical key, then
    // NOT IN against the corpus slice's canonicals (the probe's
    // row-equivalent single-pass form)
    "q149_incremental_url_dedup" ->
      s"""WITH $sqlVariantGroupUrlCte,
          $sqlUrlNormChain,
          k AS (SELECT doc_id, norm_url FROM norm WHERE norm_url IS NOT NULL),
          b AS (SELECT min(doc_id) AS id, norm_url AS fp,
                       CAST(count(*) AS BIGINT) AS batch_dup_count
                FROM k WHERE doc_id % 20 >= 16 OR doc_id % 10 = 9 GROUP BY norm_url)
          SELECT id, fp, batch_dup_count
          FROM b
          WHERE fp NOT IN (SELECT norm_url FROM k
                           WHERE NOT (doc_id % 20 >= 16 OR doc_id % 10 = 9))""",
    // q150 = the q145 trainer with gradients restricted to the 20%
    // train slice, scored over the full corpus with is_train
    "q150_classifier_holdout" ->
      sqlDistillOracle(dim = 256, iters = 40, lr = 16.0,
        minTokens = 25L, minStopHits = 1L,
        trainWhere = Some("doc_id % 5 = 0")),
    // q151 = the q150 trainer nested as a derived table, cutoffs swept
    // over the held-out slice with integer-micro precision/recall
    // round 18: the sweep also CHOOSES — f1 from the SAME exact-integer
    // micro P/R in ONE fixed-order double expression (identical IEEE
    // value both engines), argmax-F1 and precision-floor selections as
    // rank windows over the 5-row sweep
    "q151_classifier_calibration" ->
      s"""WITH sc AS (SELECT * FROM (${sqlDistillOracle(dim = 256, iters = 40, lr = 16.0,
            minTokens = 25L, minStopHits = 1L,
            trainWhere = Some("doc_id % 5 = 0"))})),
          cuts AS (SELECT unnest([-500000, -250000, 0, 250000, 500000]) AS cutoff_micro),
          sweep AS (
          SELECT CAST(c.cutoff_micro AS BIGINT) AS cutoff_micro,
                 CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro AND s.label THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pos,
                 CAST(sum(CASE WHEN s.label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 CASE WHEN sum(CASE WHEN s.score_micro >= c.cutoff_micro THEN 1 ELSE 0 END) > 0
                      THEN CAST(round(
                        CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro AND s.label THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0
                        / CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro THEN 1 ELSE 0 END) AS DOUBLE)) AS BIGINT)
                 END AS precision_micro,
                 CASE WHEN sum(CASE WHEN s.label THEN 1 ELSE 0 END) > 0
                      THEN CAST(round(
                        CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro AND s.label THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0
                        / CAST(sum(CASE WHEN s.label THEN 1 ELSE 0 END) AS DOUBLE)) AS BIGINT)
                 END AS recall_micro
          FROM sc s CROSS JOIN cuts c
          WHERE NOT s.is_train
          GROUP BY c.cutoff_micro),
          keyed AS (
          SELECT *,
                 CASE WHEN precision_micro IS NOT NULL AND recall_micro IS NOT NULL
                           AND precision_micro + recall_micro > 0
                      THEN 2.0 * CAST(precision_micro * recall_micro AS DOUBLE)
                           / CAST(precision_micro + recall_micro AS DOUBLE)
                 END AS f1d,
                 (precision_micro IS NOT NULL AND precision_micro >= 900000) AS elig
          FROM sweep)
          SELECT cutoff_micro, n_kept, n_true_pos, n_pos, precision_micro, recall_micro,
                 CAST(round(f1d) AS BIGINT) AS f1_micro,
                 rank() OVER (ORDER BY coalesce(f1d, -1.0) DESC, cutoff_micro ASC) = 1
                   AS sel_max_f1,
                 elig AND rank() OVER (ORDER BY elig DESC, recall_micro DESC NULLS LAST,
                                       cutoff_micro ASC) = 1
                   AS sel_recall_floor
          FROM keyed""",
    // q152 = q68's cumsum window with hash(source) sharding and
    // (source, doc_id) in-shard order — the per-doc coherent layout
    "q152_source_packing" ->
      s"""WITH d AS (
            SELECT doc_id, source,
                   ${sqlMd5h60("CAST(source AS VARCHAR)")} % 8 AS shard,
                   CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
            FROM documents),
          c AS (
            SELECT shard, doc_id, source, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                     PARTITION BY shard ORDER BY source, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            FROM d)
          SELECT shard,
                 CAST(cum_before // 512 AS BIGINT) AS chunk_id,
                 doc_id, source, n_tokens,
                 CAST(cum_before AS BIGINT) AS cum_before
          FROM c""",
    // q153 = the factored q142/q147 normalize+domain chain over the
    // skewed subdomain fixture, then the per-domain page-frequency
    // rule from scratch: page-presence counts per (domain, segment),
    // the minPages floor, hot cut, and the split/anti-join/string_agg
    // rebuild (raw segments compare where the engine compares md5 fps
    // — equality is equality)
    "q153_domain_boilerplate" ->
      s"""WITH u AS (
            SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'http://' ||
                CASE (doc_id // 2) % 4 WHEN 0 THEN 'www' WHEN 1 THEN 'cdn'
                     WHEN 2 THEN 'static' ELSE 'm' END
                || '.seofarm.com/p/' || CAST(doc_id AS VARCHAR)
              ELSE 'http://www.site' || CAST(doc_id % 97 AS VARCHAR)
                || '.com/p/' || CAST(doc_id AS VARCHAR)
              END AS url
            FROM documents),
          $sqlUrlNormChain,
          $sqlDomainChain,
          base AS (SELECT d.doc_id, dm.domain, string_split(d.text, ' ') AS segs
                   FROM documents d JOIN dom dm ON d.doc_id = dm.doc_id),
          sg AS (SELECT doc_id, domain, w.s AS s, w.pos AS pos
                 FROM (SELECT doc_id, domain,
                         unnest(list_transform(segs, (x, i) -> struct_pack(s := x, pos := i))) AS w
                       FROM base)),
          pages AS (SELECT domain, count(*) AS n_pages FROM base GROUP BY domain),
          hot AS (SELECT g.domain, g.s
                  FROM (SELECT domain, s, count(DISTINCT doc_id) AS f
                        FROM sg GROUP BY domain, s) g
                  JOIN pages p USING (domain)
                  WHERE p.n_pages >= 10 AND g.f * 100 > p.n_pages * 75),
          kept AS (SELECT sg.doc_id, sg.s, sg.pos
                   FROM sg LEFT JOIN hot ON hot.domain = sg.domain AND hot.s = sg.s
                   WHERE hot.s IS NULL),
          agg AS (SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS ct,
                         count(*) AS nk
                  FROM kept GROUP BY doc_id)
          SELECT b.doc_id, b.domain,
                 coalesce(a.ct, '') AS clean_text,
                 CAST(coalesce(a.nk, 0) AS BIGINT) AS n_kept,
                 CAST(len(b.segs) - coalesce(a.nk, 0) AS BIGINT) AS n_removed
          FROM base b LEFT JOIN agg a USING (doc_id)""",
    // q156 = profile mined on the doc_id % 3 > 0 slice (page-presence
    // counts, minPages floor — the q153 rule), then the apply replayed
    // over raw segments for the WHOLE corpus (never-mined docs pass
    // through; raw strings compare where the engine compares md5h60
    // fps — equality is equality)
    "q156_boilerplate_profile" ->
      s"""WITH u AS (
            SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'http://' ||
                CASE (doc_id // 2) % 4 WHEN 0 THEN 'www' WHEN 1 THEN 'cdn'
                     WHEN 2 THEN 'static' ELSE 'm' END
                || '.seofarm.com/p/' || CAST(doc_id AS VARCHAR)
              ELSE 'http://www.site' || CAST(doc_id % 97 AS VARCHAR)
                || '.com/p/' || CAST(doc_id AS VARCHAR)
              END AS url
            FROM documents),
          $sqlUrlNormChain,
          $sqlDomainChain,
          base AS (SELECT d.doc_id, dm.domain, d.text
                   FROM documents d JOIN dom dm ON d.doc_id = dm.doc_id),
          slice AS (SELECT * FROM base WHERE doc_id % 3 > 0),
          sg AS (SELECT DISTINCT doc_id, domain, unnest(string_split(text, ' ')) AS s
                 FROM slice),
          pages AS (SELECT domain, count(*) AS n_pages FROM slice GROUP BY domain),
          hot AS (SELECT g.domain, g.s
                  FROM (SELECT domain, s, count(*) AS f FROM sg GROUP BY domain, s) g
                  JOIN pages USING (domain)
                  WHERE n_pages >= 10 AND f * 100 > n_pages * 75),
          aseg AS (SELECT doc_id, domain, w.s AS s, w.pos AS pos
                   FROM (SELECT doc_id, domain,
                           unnest(list_transform(string_split(text, ' '),
                             (x, i) -> struct_pack(s := x, pos := i))) AS w
                         FROM base)),
          kept AS (SELECT a.doc_id, a.s, a.pos
                   FROM aseg a LEFT JOIN hot h ON h.domain = a.domain AND h.s = a.s
                   WHERE h.s IS NULL),
          agg AS (SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS ct,
                         count(*) AS nk
                  FROM kept GROUP BY doc_id)
          SELECT b.doc_id, b.domain,
                 coalesce(a.ct, '') AS clean_text,
                 CAST(coalesce(a.nk, 0) AS BIGINT) AS n_kept,
                 CAST(len(string_split(b.text, ' ')) - coalesce(a.nk, 0) AS BIGINT) AS n_removed
          FROM base b LEFT JOIN agg a USING (doc_id)""",
    // q159 = the factored q142/q147 domain chain + CASE IN the list
    "q159_domain_blocklist" ->
      s"""WITH u AS (
            SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'http://' ||
                CASE (doc_id // 2) % 4 WHEN 0 THEN 'www' WHEN 1 THEN 'cdn'
                     WHEN 2 THEN 'static' ELSE 'm' END
                || '.seofarm.com/p/' || CAST(doc_id AS VARCHAR)
              ELSE 'http://www.site' || CAST(doc_id % 97 AS VARCHAR)
                || '.com/p/' || CAST(doc_id AS VARCHAR)
              END AS url
            FROM documents),
          $sqlUrlNormChain,
          $sqlDomainChain
          SELECT doc_id, domain,
                 domain IN ('seofarm.com', 'site13.com', 'site77.com') AS blocked
          FROM dom""",
    // q158 = first-occurrence-per-segment replayed as a min-position
    // window over the identical split, rebuilt in position order
    "q158_segment_dedup" ->
      """WITH sg AS (SELECT doc_id, w.s AS s, w.pos AS pos
                     FROM (SELECT doc_id,
                             unnest(list_transform(string_split(text, ' '),
                               (x, i) -> struct_pack(s := x, pos := i))) AS w
                           FROM documents)),
          firsts AS (SELECT doc_id, s, min(pos) AS pos
                     FROM sg GROUP BY doc_id, s),
          agg AS (SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS ct,
                         count(*) AS nk
                  FROM firsts GROUP BY doc_id)
          SELECT d.doc_id,
                 coalesce(a.ct, '') AS clean_text,
                 CAST(coalesce(a.nk, 0) AS BIGINT) AS n_kept,
                 CAST(len(string_split(d.text, ' ')) - coalesce(a.nk, 0) AS BIGINT) AS n_removed
          FROM documents d LEFT JOIN agg a USING (doc_id)""",
    // q154 = the embedding-probe trainer replayed end-to-end
    // (quantization included) — see sqlProbeOracle
    "q154_embedding_probe" ->
      sqlProbeOracle(dim = 64, iters = 40, lr = 0.001),
    // q157 = the same generated trainer with gradients restricted to
    // the train slice (sqlProbeOracle(trainWhere=...) — one
    // parameterized definition serves q154 and q157)
    "q157_probe_holdout" ->
      sqlProbeOracle(dim = 64, iters = 40, lr = 0.001,
        trainWhere = Some("vec_id % 5 = 0")),
    // q160 = the q157 trainer nested, the q151 sweep/selection SQL over
    // the held-out probe scores, plus the freeze decision: held-out
    // accuracy as one integer-micro scalar, freeze_ok = acc >= floor
    "q160_probe_calibration" ->
      s"""WITH sc AS (SELECT * FROM (${sqlProbeOracle(dim = 64, iters = 40, lr = 0.001,
            trainWhere = Some("vec_id % 5 = 0"))})),
          ho AS MATERIALIZED (SELECT * FROM sc WHERE NOT is_train),
          acc AS (SELECT CAST(round(CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS DOUBLE)
                   * 1000000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS holdout_acc_micro
                  FROM ho),
          cuts AS (SELECT unnest([-5000000, -2500000, 0, 2500000, 5000000]) AS cutoff_micro),
          sweep AS (
          SELECT CAST(c.cutoff_micro AS BIGINT) AS cutoff_micro,
                 CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro AND s.label THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pos,
                 CAST(sum(CASE WHEN s.label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 CASE WHEN sum(CASE WHEN s.score_micro >= c.cutoff_micro THEN 1 ELSE 0 END) > 0
                      THEN CAST(round(
                        CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro AND s.label THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0
                        / CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro THEN 1 ELSE 0 END) AS DOUBLE)) AS BIGINT)
                 END AS precision_micro,
                 CASE WHEN sum(CASE WHEN s.label THEN 1 ELSE 0 END) > 0
                      THEN CAST(round(
                        CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro AND s.label THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0
                        / CAST(sum(CASE WHEN s.label THEN 1 ELSE 0 END) AS DOUBLE)) AS BIGINT)
                 END AS recall_micro
          FROM ho s CROSS JOIN cuts c
          GROUP BY c.cutoff_micro),
          keyed AS (
          SELECT *,
                 CASE WHEN precision_micro IS NOT NULL AND recall_micro IS NOT NULL
                           AND precision_micro + recall_micro > 0
                      THEN 2.0 * CAST(precision_micro * recall_micro AS DOUBLE)
                           / CAST(precision_micro + recall_micro AS DOUBLE)
                 END AS f1d,
                 (precision_micro IS NOT NULL AND precision_micro >= 900000) AS elig
          FROM sweep)
          SELECT cutoff_micro, n_kept, n_true_pos, n_pos, precision_micro, recall_micro,
                 CAST(round(f1d) AS BIGINT) AS f1_micro,
                 rank() OVER (ORDER BY coalesce(f1d, -1.0) DESC, cutoff_micro ASC) = 1
                   AS sel_max_f1,
                 elig AND rank() OVER (ORDER BY elig DESC, recall_micro DESC NULLS LAST,
                                       cutoff_micro ASC) = 1
                   AS sel_recall_floor,
                 (SELECT holdout_acc_micro FROM acc) AS holdout_acc_micro,
                 (SELECT holdout_acc_micro FROM acc) >= 700000 AS freeze_ok
          FROM keyed""",
    // q172 = the q160 trainer + sweep + F1 ranking nested once, the
    // decision reduced to one row (freeze_ok scalar + the argmax-F1
    // cutoff), then the per-row deployment CASE — on this fixture the
    // probe refuses, so every row passes with gate_applied = false
    "q172_freeze_gated_deploy" ->
      s"""WITH sc AS MATERIALIZED (SELECT * FROM (${sqlProbeOracle(dim = 64, iters = 40,
            lr = 0.001, trainWhere = Some("vec_id % 5 = 0"))})),
          ho AS MATERIALIZED (SELECT * FROM sc WHERE NOT is_train),
          acc AS (SELECT CAST(round(CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS DOUBLE)
                   * 1000000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS holdout_acc_micro
                  FROM ho),
          cuts AS (SELECT unnest([-5000000, -2500000, 0, 2500000, 5000000]) AS cutoff_micro),
          sweep AS (
          SELECT CAST(c.cutoff_micro AS BIGINT) AS cutoff_micro,
                 CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CASE WHEN sum(CASE WHEN s.score_micro >= c.cutoff_micro THEN 1 ELSE 0 END) > 0
                      THEN CAST(round(
                        CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro AND s.label THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0
                        / CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro THEN 1 ELSE 0 END) AS DOUBLE)) AS BIGINT)
                 END AS precision_micro,
                 CASE WHEN sum(CASE WHEN s.label THEN 1 ELSE 0 END) > 0
                      THEN CAST(round(
                        CAST(sum(CASE WHEN s.score_micro >= c.cutoff_micro AND s.label THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0
                        / CAST(sum(CASE WHEN s.label THEN 1 ELSE 0 END) AS DOUBLE)) AS BIGINT)
                 END AS recall_micro
          FROM ho s CROSS JOIN cuts c
          GROUP BY c.cutoff_micro),
          keyed AS (
          SELECT cutoff_micro,
                 CASE WHEN precision_micro IS NOT NULL AND recall_micro IS NOT NULL
                           AND precision_micro + recall_micro > 0
                      THEN 2.0 * CAST(precision_micro * recall_micro AS DOUBLE)
                           / CAST(precision_micro + recall_micro AS DOUBLE)
                 END AS f1d
          FROM sweep),
          sel AS (SELECT min(cutoff_micro) AS cut FROM (
                    SELECT cutoff_micro,
                           rank() OVER (ORDER BY coalesce(f1d, -1.0) DESC,
                                        cutoff_micro ASC) AS rnk
                    FROM keyed) WHERE rnk = 1),
          dec AS (SELECT (SELECT holdout_acc_micro FROM acc) >= 700000 AS freeze_ok,
                         (SELECT cut FROM sel) AS cut)
          SELECT sc.vec_id, sc.score_micro,
                 dec.freeze_ok AS gate_applied,
                 CASE WHEN dec.freeze_ok THEN sc.score_micro >= dec.cut
                      ELSE TRUE END AS kept
          FROM sc, dec""",
    // q174 = the q169 five-stage replay with the q170 family cap
    // spliced between the domain cap and the boilerplate mine: the
    // q168 fingerprint SQL over the domain-capped survivors, one more
    // seeded-hash window keyed on tag_fp, then the q169 tail over the
    // doubly-capped population — five survivor totals ride along
    "q174_front_door6" ->
      s"""WITH $sqlFrontDoorUrlCte,
          $sqlUrlNormChain,
          $sqlDomainChain,
          base AS (SELECT d.doc_id, dm.domain, d.text,
                     '<html><head><title>T</title></head><body>'
                     || CASE WHEN d.doc_id % 3 = 0 THEN '<h1>H</h1>' ELSE '' END
                     || CASE WHEN d.doc_id % 3 = 1
                             THEN '<div><ul><li>A</li><li>B</li></ul></div>' ELSE '' END
                     || '<p>' || d.text || '</p>'
                     || CASE WHEN d.doc_id % 7 = 0 THEN
                          CASE WHEN d.doc_id % 2 = 0 THEN '<footer><p>f</p></footer>'
                               ELSE '<aside>s</aside>' END
                        ELSE '' END
                     || '</body></html>' AS raw
                   FROM documents d JOIN dom dm ON d.doc_id = dm.doc_id),
          allowed AS (SELECT * FROM base
                      WHERE domain NOT IN ('seofarm.com', 'site3.com')),
          admd AS (SELECT doc_id, domain, text, raw FROM (
                     SELECT doc_id, domain, text, raw,
                            row_number() OVER (PARTITION BY domain
                              ORDER BY ${sqlMd5h60("'42:' || CAST(doc_id AS VARCHAR)")},
                                       doc_id) AS rn
                     FROM allowed)
                   WHERE rn <= 25),
          tf AS (SELECT doc_id, domain, text,
                   ${sqlMd5h60(
                     "lower(array_to_string(regexp_extract_all(raw, " +
                       "'<(/?[A-Za-z][A-Za-z0-9]*)', 1), ' '))")} AS tag_fp
                 FROM admd),
          admf AS (SELECT doc_id, domain, text, tag_fp FROM (
                     SELECT doc_id, domain, text, tag_fp,
                            row_number() OVER (PARTITION BY tag_fp
                              ORDER BY ${sqlMd5h60("'42:' || CAST(doc_id AS VARCHAR)")},
                                       doc_id) AS rn
                     FROM tf)
                   WHERE rn <= 30),
          ${sqlFrontDoorTailCtes("admf", ", tag_fp", ", c.tag_fp")}
          SELECT g.doc_id, g.domain, g.tag_fp, g.n_boiler_kept, g.clean_page,
                 (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_input,
                 (SELECT CAST(count(*) AS BIGINT) FROM allowed) AS n_allowed,
                 (SELECT CAST(count(*) AS BIGINT) FROM admd) AS n_domain_cap,
                 (SELECT CAST(count(*) AS BIGINT) FROM admf) AS n_family_cap,
                 (SELECT CAST(count(*) AS BIGINT) FROM c4k) AS n_c4
          FROM gated g""",
    // q161 = the multiplicative-weights trainer replayed round-by-round
    // (weighted avg -> step -> renormalize -> smooth, all integer
    // micros), then the q73 rate/hash resample — see sqlMixtureOracle
    "q161_learned_mixture" ->
      sqlMixtureOracle(iters = 30, lr = "0.5", epsMicro = 100000L,
        budgetPermille = 500,
        signalSql = "len(string_split(text, ' ')) >= 55"),
    // q162 = candidates from the same maximal uppercase-alnum-run regex
    // via the split/extract interleave, shape via one anchored regex,
    // the mod-97 remainder as a list_reduce fold over the
    // letter-expanded rearranged string, conditional redaction
    "q162_mod97_scrub" ->
      s"""WITH synth AS (
            SELECT c_custkey,
              'acct ' || CAST(c_custkey AS VARCHAR) || ' iban ' ||
              CASE WHEN len($sqlIbanList[CAST(c_custkey % 9 + 1 AS INT)]) % 2 = 0
                        AND c_custkey % 2 = 0
                   THEN array_to_string(list_transform(
                          range(0, (len($sqlIbanList[CAST(c_custkey % 9 + 1 AS INT)]) + 3) // 4),
                          g -> substr($sqlIbanList[CAST(c_custkey % 9 + 1 AS INT)], CAST(g*4+1 AS INT), 4)), ' ')
                   ELSE $sqlIbanList[CAST(c_custkey % 9 + 1 AS INT)] END
              || CASE WHEN c_custkey % 5 = 0 THEN ' order 98765432109876543210' ELSE '' END
              || CASE WHEN c_custkey % 7 = 0 THEN ' plan PROJECTX2024PLANB9X' ELSE '' END
              || ' ref ' || CAST(c_custkey * 13 AS VARCHAR) AS s
            FROM customer),
          parts AS (SELECT c_custkey, s,
              regexp_split_to_array(s, '[A-Z0-9](?: ?[A-Z0-9])+') AS segs,
              regexp_extract_all(s, '[A-Z0-9](?: ?[A-Z0-9])+') AS cands
            FROM synth),
          ds AS (SELECT c_custkey, segs, cands,
              list_transform(list_transform(cands, c -> replace(c, ' ', '')), d ->
                CASE WHEN regexp_matches(d, '^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$$') THEN
                  array_to_string(list_transform(range(1, len(d)+1), i ->
                    CASE WHEN substr(substr(d,5) || substr(d,1,4), CAST(i AS INT), 1) BETWEEN 'A' AND 'Z'
                         THEN CAST(ord(substr(substr(d,5) || substr(d,1,4), CAST(i AS INT), 1)) - 55 AS VARCHAR)
                         ELSE substr(substr(d,5) || substr(d,1,4), CAST(i AS INT), 1) END), '')
                END) AS exp
            FROM parts),
          val AS (SELECT c_custkey, segs, cands,
              list_transform(exp, e ->
                CASE WHEN e IS NULL THEN NULL
                     ELSE list_reduce(
                       list_transform(range(1, len(e)+1), i -> CAST(substr(e, CAST(i AS INT), 1) AS BIGINT)),
                       (a, b) -> (a * 10 + b) % 97) = 1 END) AS ok
            FROM ds)
          SELECT c_custkey,
                 CAST(len(list_filter(ok, x -> x)) AS BIGINT) AS n_ibans,
                 CAST(len(list_filter(ok, x -> x = false)) AS BIGINT) AS n_rejected,
                 array_to_string(list_transform(range(1, len(segs)+1), i ->
                   segs[CAST(i AS INT)] || CASE WHEN i <= len(cands) THEN
                     (CASE WHEN ok[CAST(i AS INT)] THEN '[IBAN]' ELSE cands[CAST(i AS INT)] END)
                     ELSE '' END), '') AS redacted
          FROM val""",
    // q155 = candidates from the same maximal digit-run regex via the
    // split/extract interleave, the Luhn sum as pure integer ops,
    // conditional per-candidate redaction
    "q155_luhn_scrub" ->
      s"""WITH synth AS (
            SELECT c_custkey,
              'invoice ' || CAST(c_custkey AS VARCHAR) || ' total'
              || ' pay ' ||
                 CASE WHEN len($sqlPanList[CAST(c_custkey % 9 + 1 AS INT)]) = 16
                           AND c_custkey % 2 = 0
                      THEN substr($sqlPanList[CAST(c_custkey % 9 + 1 AS INT)], 1, 4) || '-' ||
                           substr($sqlPanList[CAST(c_custkey % 9 + 1 AS INT)], 5, 4) || '-' ||
                           substr($sqlPanList[CAST(c_custkey % 9 + 1 AS INT)], 9, 4) || '-' ||
                           substr($sqlPanList[CAST(c_custkey % 9 + 1 AS INT)], 13, 4)
                      ELSE $sqlPanList[CAST(c_custkey % 9 + 1 AS INT)] END
              || CASE WHEN c_custkey % 5 = 0 THEN ' order 98765432109876543210' ELSE '' END
              || CASE WHEN c_custkey % 7 = 0
                      THEN ' call 415-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
              || ' ref ' || CAST(c_custkey * 13 AS VARCHAR) AS s
            FROM customer),
          parts AS (SELECT c_custkey, s,
              regexp_split_to_array(s, '[0-9](?:[ -]?[0-9])+') AS segs,
              regexp_extract_all(s, '[0-9](?:[ -]?[0-9])+') AS cands
            FROM synth),
          val AS (SELECT c_custkey, segs, cands,
              list_transform(list_transform(cands, c -> regexp_replace(c, '[^0-9]', '', 'g')),
                d -> CASE WHEN len(d) BETWEEN 13 AND 19 THEN
                  (list_sum(list_transform(range(1, len(d)+1), i ->
                     CASE WHEN i % 2 = 1 THEN CAST(substr(d, CAST(len(d)-i+1 AS INT), 1) AS INT)
                          ELSE CASE WHEN 2*CAST(substr(d, CAST(len(d)-i+1 AS INT), 1) AS INT) > 9
                                    THEN 2*CAST(substr(d, CAST(len(d)-i+1 AS INT), 1) AS INT) - 9
                                    ELSE 2*CAST(substr(d, CAST(len(d)-i+1 AS INT), 1) AS INT) END
                          END)) % 10 = 0)
                  ELSE NULL END) AS ok
            FROM parts)
          SELECT c_custkey,
                 CAST(len(list_filter(ok, x -> x)) AS BIGINT) AS n_cards,
                 CAST(len(list_filter(ok, x -> x = false)) AS BIGINT) AS n_rejected,
                 array_to_string(list_transform(range(1, len(segs)+1), i ->
                   segs[CAST(i AS INT)] || CASE WHEN i <= len(cands) THEN
                     (CASE WHEN ok[CAST(i AS INT)] THEN '[CARD]' ELSE cands[CAST(i AS INT)] END)
                     ELSE '' END), '') AS redacted
          FROM val""",
    // q163 = Hamming distance counted POSITIONALLY as sign mismatches
    // ((x > 0) <> (q > 0) per element) — provably the packed XOR
    // popcount; exact cosine rides along from the q136 fragments
    "q163_bq_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
          SELECT vec_id,
                 CAST(len(list_filter(list_zip(embedding, qv),
                   p -> (p[1] > 0) <> (p[2] > 0))) AS BIGINT) AS ham,
                 ${sqlCos("embedding", "qv")} AS cos
          FROM embeddings, q
          ORDER BY ham ASC, vec_id ASC LIMIT 20""",
    // q164 = candidates from the same maximal base64-run regex via the
    // q155 split/extract interleave, per-candidate entropy as the q133
    // per-term micro-nat rounding (exact BIGINT sum), conditional
    // per-candidate redaction at the 3,000,000 µnat threshold
    "q164_secret_scrub" ->
      s"""WITH synth AS (
            SELECT c_custkey,
              'user ' || CAST(c_custkey AS VARCHAR) || ' key '
              || $sqlSecretList[CAST(c_custkey % 8 + 1 AS INT)]
              || CASE WHEN c_custkey % 5 = 0
                      THEN ' blob abcabcabcabcabcabcabcabcabcabc' ELSE '' END
              || CASE WHEN c_custkey % 7 = 0 THEN ' tmp xK9/q2Zp+Aw' ELSE '' END
              || ' end' AS s
            FROM customer),
          parts AS (SELECT c_custkey, s,
              regexp_split_to_array(s, '[A-Za-z0-9+/=]{20,}') AS segs,
              regexp_extract_all(s, '[A-Za-z0-9+/=]{20,}') AS cands
            FROM synth),
          run AS (SELECT c_custkey, unnest(range(1, len(cands)+1)) AS i, cands
                  FROM parts),
          rn AS (SELECT c_custkey, i, cands[CAST(i AS INT)] AS run FROM run),
          ch AS (SELECT c_custkey, i, unnest(string_split(run, '')) AS c FROM rn),
          f AS (SELECT c_custkey, i, c, count(*) AS cnt
                FROM ch GROUP BY c_custkey, i, c),
          nn AS (SELECT c_custkey, i, CAST(sum(cnt) AS BIGINT) AS n
                 FROM f GROUP BY c_custkey, i),
          e AS (SELECT f.c_custkey, f.i,
                  CAST(sum(CAST(round(
                    1000000 * (CAST(cnt AS DOUBLE) / nn.n) *
                    ln(CAST(nn.n AS DOUBLE) / cnt)) AS BIGINT)) AS BIGINT) AS ent
                FROM f JOIN nn USING (c_custkey, i)
                GROUP BY f.c_custkey, f.i),
          lst AS (SELECT c_custkey,
                    list(ent >= 3000000 ORDER BY i) AS hits,
                    list(ent ORDER BY i) AS ents
                  FROM e GROUP BY c_custkey)
          SELECT p.c_custkey,
                 array_to_string(list_transform(range(1, len(segs)+1), j ->
                   segs[CAST(j AS INT)] || CASE WHEN j <= len(cands) THEN
                     (CASE WHEN hits[CAST(j AS INT)] THEN '[SECRET]'
                           ELSE cands[CAST(j AS INT)] END)
                     ELSE '' END), '') AS redacted,
                 CAST(coalesce(len(list_filter(hits, x -> x)), 0) AS BIGINT)
                   AS n_secrets,
                 CAST(len(cands) AS BIGINT) AS n_candidates,
                 CAST(coalesce(list_max(ents), 0) AS BIGINT) AS max_ent_micro
          FROM parts p LEFT JOIN lst USING (c_custkey)""",
    // q165 = the same page construction (|| propagates NULL text like
    // Spark's concat), then the C4 line rules as list/string
    // arithmetic over the identical chr(10) split
    "q165_c4_clean" ->
      """WITH d AS (
           SELECT doc_id,
             'The quick brown fox jumps over the lazy dog.' || chr(10)
             || CASE WHEN doc_id % 7 = 0
                     THEN 'Please enable JavaScript to view this page.' || chr(10)
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN 'Lorem Ipsum dolor sit amet consectetur adipiscing elit.' || chr(10)
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN 'function f() { return 1; }' || chr(10) ELSE '' END
             || 'Home About Contact Privacy Terms' || chr(10)
             || 'Too short.' || chr(10)
             || CASE WHEN doc_id % 2 = 0
                     THEN 'This second sentence certainly has enough words to survive.' || chr(10)
                     ELSE '' END
             || substr(text, 1, 60) || ' tail words end here.' AS page
           FROM documents),
          ln AS (SELECT doc_id, page,
                   list_transform(string_split(page, chr(10)),
                     l -> rtrim(l, ' ' || chr(9) || chr(13))) AS ls
                 FROM d),
          k AS (SELECT doc_id, page, ls,
                  list_filter(ls, l ->
                    length(l) > 0
                    AND substr(l, length(l), 1) IN ('.', '!', '?', '"')
                    AND len(list_filter(string_split_regex(l, '[ ' || chr(9) || ']+'),
                          w -> w <> '')) >= 5
                    AND NOT contains(lower(l), 'javascript')) AS kept
                FROM ln)
          SELECT doc_id,
                 CAST(len(ls) AS BIGINT) AS n_lines,
                 CAST(len(kept) AS BIGINT) AS n_kept,
                 array_to_string(kept, chr(10)) AS clean_text,
                 contains(page, '{') AS has_brace,
                 contains(lower(page), 'lorem ipsum') AS has_lorem,
                 (len(kept) >= 3 AND NOT contains(page, '{')
                   AND NOT contains(lower(page), 'lorem ipsum')) AS keep
          FROM k""",
    // q166 = per-code-point unicode() classification over the same
    // page (snippet constants shared with the Spark side), FILTER
    // aggregates, the same priority-ordered argmax; docs whose page
    // has no classified letters fall to 'none' via the LEFT JOIN +
    // coalesce (string_split('') pseudo-chars are filtered out)
    "q166_script_stats" ->
      s"""WITH d AS (
            SELECT doc_id,
              CASE WHEN doc_id % 19 = 0 THEN repeat('${q166Cjk.trim} ', 12)
                   WHEN doc_id % 23 = 0 THEN repeat('${q166Cyr.trim} ', 10)
                   ELSE text
                     || CASE WHEN doc_id % 2 = 0 THEN '$q166Lat' ELSE '' END
                     || CASE WHEN doc_id % 3 = 0 THEN '$q166Cyr' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN '$q166Cjk' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN '$q166Kana' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN '$q166Han' ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN '$q166Ara' ELSE '' END
                     || CASE WHEN doc_id % 17 = 0 THEN '$q166Grk' ELSE '' END
              END AS page
            FROM documents WHERE text IS NOT NULL),
          ch AS (SELECT doc_id, unicode(c) AS cp
                 FROM (SELECT doc_id, unnest(string_split(page, '')) AS c FROM d)
                 WHERE c <> ''),
          cl AS (SELECT doc_id,
                   CASE WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122)
                             OR (cp BETWEEN 192 AND 591 AND cp <> 215 AND cp <> 247)
                        THEN 'latin'
                        WHEN cp BETWEEN 48 AND 57 THEN 'digit'
                        WHEN cp BETWEEN 880 AND 1023 THEN 'greek'
                        WHEN cp BETWEEN 1024 AND 1279 THEN 'cyrillic'
                        WHEN cp BETWEEN 1536 AND 1791 THEN 'arabic'
                        WHEN cp BETWEEN 12352 AND 12543 THEN 'kana'
                        WHEN cp BETWEEN 19968 AND 40959 THEN 'cjk'
                        WHEN cp BETWEEN 44032 AND 55203 THEN 'hangul'
                        WHEN cp IN (32, 9, 10, 13) THEN 'space'
                        ELSE 'other' END AS cls
                 FROM ch),
          ag AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_chars,
                   CAST(count(*) FILTER (cls = 'latin') AS BIGINT) AS n_latin,
                   CAST(count(*) FILTER (cls = 'digit') AS BIGINT) AS n_digit,
                   CAST(count(*) FILTER (cls = 'greek') AS BIGINT) AS n_greek,
                   CAST(count(*) FILTER (cls = 'cyrillic') AS BIGINT) AS n_cyrillic,
                   CAST(count(*) FILTER (cls = 'arabic') AS BIGINT) AS n_arabic,
                   CAST(count(*) FILTER (cls = 'kana') AS BIGINT) AS n_kana,
                   CAST(count(*) FILTER (cls = 'cjk') AS BIGINT) AS n_cjk,
                   CAST(count(*) FILTER (cls = 'hangul') AS BIGINT) AS n_hangul,
                   CAST(count(*) FILTER (cls = 'space') AS BIGINT) AS n_space,
                   CAST(count(*) FILTER (cls = 'other') AS BIGINT) AS n_other
                 FROM cl GROUP BY doc_id)
          SELECT d.doc_id,
                 coalesce(n_chars, 0) AS n_chars,
                 coalesce(n_latin, 0) AS n_latin,
                 coalesce(n_digit, 0) AS n_digit,
                 coalesce(n_greek, 0) AS n_greek,
                 coalesce(n_cyrillic, 0) AS n_cyrillic,
                 coalesce(n_arabic, 0) AS n_arabic,
                 coalesce(n_kana, 0) AS n_kana,
                 coalesce(n_cjk, 0) AS n_cjk,
                 coalesce(n_hangul, 0) AS n_hangul,
                 coalesce(n_space, 0) AS n_space,
                 coalesce(n_other, 0) AS n_other,
                 CASE WHEN coalesce(n_latin, 0) = 0 AND coalesce(n_greek, 0) = 0
                           AND coalesce(n_cyrillic, 0) = 0 AND coalesce(n_arabic, 0) = 0
                           AND coalesce(n_kana, 0) = 0 AND coalesce(n_cjk, 0) = 0
                           AND coalesce(n_hangul, 0) = 0 THEN 'none'
                      WHEN n_latin >= greatest(n_greek, n_cyrillic, n_arabic,
                             n_kana, n_cjk, n_hangul) THEN 'latin'
                      WHEN n_greek >= greatest(n_cyrillic, n_arabic, n_kana,
                             n_cjk, n_hangul) THEN 'greek'
                      WHEN n_cyrillic >= greatest(n_arabic, n_kana, n_cjk,
                             n_hangul) THEN 'cyrillic'
                      WHEN n_arabic >= greatest(n_kana, n_cjk, n_hangul) THEN 'arabic'
                      WHEN n_kana >= greatest(n_cjk, n_hangul) THEN 'kana'
                      WHEN n_cjk >= n_hangul THEN 'cjk'
                      ELSE 'hangul' END AS main_script
          FROM d LEFT JOIN ag USING (doc_id)""",
    // q171 = the q166 classification SQL (page + per-code-point
    // counts + priority argmax) + the q137 gopher rule SQL over the
    // same page + the routing CASE — Latin pays all seven rules,
    // alphabetic non-Latin skips alpha/stop, space-free scripts keep
    // on letter mass
    "q171_script_routed_gate" ->
      s"""WITH d AS (
            SELECT doc_id,
              CASE WHEN doc_id % 19 = 0 THEN repeat('${q166Cjk.trim} ', 12)
                   WHEN doc_id % 23 = 0 THEN repeat('${q166Cyr.trim} ', 10)
                   ELSE text
                     || CASE WHEN doc_id % 2 = 0 THEN '$q166Lat' ELSE '' END
                     || CASE WHEN doc_id % 3 = 0 THEN '$q166Cyr' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN '$q166Cjk' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN '$q166Kana' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN '$q166Han' ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN '$q166Ara' ELSE '' END
                     || CASE WHEN doc_id % 17 = 0 THEN '$q166Grk' ELSE '' END
              END AS page
            FROM documents WHERE text IS NOT NULL),
          ch AS (SELECT doc_id, unicode(c) AS cp
                 FROM (SELECT doc_id, unnest(string_split(page, '')) AS c FROM d)
                 WHERE c <> ''),
          cl AS (SELECT doc_id,
                   CASE WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122)
                             OR (cp BETWEEN 192 AND 591 AND cp <> 215 AND cp <> 247)
                        THEN 'latin'
                        WHEN cp BETWEEN 880 AND 1023 THEN 'greek'
                        WHEN cp BETWEEN 1024 AND 1279 THEN 'cyrillic'
                        WHEN cp BETWEEN 1536 AND 1791 THEN 'arabic'
                        WHEN cp BETWEEN 12352 AND 12543 THEN 'kana'
                        WHEN cp BETWEEN 19968 AND 40959 THEN 'cjk'
                        WHEN cp BETWEEN 44032 AND 55203 THEN 'hangul'
                        ELSE 'other' END AS cls
                 FROM ch),
          ag AS (SELECT doc_id,
                   CAST(count(*) FILTER (cls = 'latin') AS BIGINT) AS n_latin,
                   CAST(count(*) FILTER (cls = 'greek') AS BIGINT) AS n_greek,
                   CAST(count(*) FILTER (cls = 'cyrillic') AS BIGINT) AS n_cyrillic,
                   CAST(count(*) FILTER (cls = 'arabic') AS BIGINT) AS n_arabic,
                   CAST(count(*) FILTER (cls = 'kana') AS BIGINT) AS n_kana,
                   CAST(count(*) FILTER (cls = 'cjk') AS BIGINT) AS n_cjk,
                   CAST(count(*) FILTER (cls = 'hangul') AS BIGINT) AS n_hangul
                 FROM cl GROUP BY doc_id),
          ms AS (SELECT d.doc_id,
                   CASE WHEN coalesce(n_latin, 0) = 0 AND coalesce(n_greek, 0) = 0
                             AND coalesce(n_cyrillic, 0) = 0 AND coalesce(n_arabic, 0) = 0
                             AND coalesce(n_kana, 0) = 0 AND coalesce(n_cjk, 0) = 0
                             AND coalesce(n_hangul, 0) = 0 THEN 'none'
                        WHEN n_latin >= greatest(n_greek, n_cyrillic, n_arabic,
                               n_kana, n_cjk, n_hangul) THEN 'latin'
                        WHEN n_greek >= greatest(n_cyrillic, n_arabic, n_kana,
                               n_cjk, n_hangul) THEN 'greek'
                        WHEN n_cyrillic >= greatest(n_arabic, n_kana, n_cjk,
                               n_hangul) THEN 'cyrillic'
                        WHEN n_arabic >= greatest(n_kana, n_cjk, n_hangul) THEN 'arabic'
                        WHEN n_kana >= greatest(n_cjk, n_hangul) THEN 'kana'
                        WHEN n_cjk >= n_hangul THEN 'cjk'
                        ELSE 'hangul' END AS main_script,
                   coalesce(n_cjk, 0) + coalesce(n_kana, 0)
                     + coalesce(n_hangul, 0) AS letters
                 FROM d LEFT JOIN ag USING (doc_id)),
          tk AS (SELECT doc_id, page AS text, ${sqlTokens("page")} AS t,
                        string_split(page, chr(10)) AS ls
                 FROM d),
          $sqlGopherStCte
          SELECT ms.doc_id, ms.main_script,
                 CASE WHEN main_script = 'latin' THEN 'latin_gate'
                      WHEN main_script IN ('cjk', 'kana', 'hangul')
                        THEN 'charcount_gate'
                      WHEN main_script IN ('greek', 'cyrillic', 'arabic')
                        THEN 'nostop_gate'
                      ELSE 'drop' END AS route,
                 CASE WHEN main_script = 'latin' THEN (${sqlGopherKeep(15L, 1L)})
                      WHEN main_script IN ('cjk', 'kana', 'hangul')
                        THEN letters >= 20
                      WHEN main_script IN ('greek', 'cyrillic', 'arabic') THEN
                        (coalesce(n_tokens >= 15 AND n_tokens <= 100000, FALSE)
                         AND coalesce(mean_token_len >= 3.0 AND mean_token_len <= 10.0, FALSE)
                         AND coalesce(frac_ellipsis_lines <= 0.3, FALSE)
                         AND coalesce(frac_bullet_lines <= 0.9, FALSE)
                         AND coalesce(symbol_ratio <= 0.1, FALSE))
                      ELSE FALSE END AS keep
          FROM ms JOIN st ON st.doc_id = ms.doc_id""",
    // q173 = the SRP expansion replayed per row (md5-signed fold,
    // k-ascending, double -> float), positional sign-mismatch Hamming
    // in the EXPANDED space for the candidate cut, exact cosine on the
    // ORIGINAL floats for the re-rank — both total orders replayed
    "q173_bq_rerank_srp" ->
      s"""WITH e AS (
            SELECT vec_id, embedding,
              list_transform(range(0, 256), j ->
                CAST(list_reduce(list_transform(range(0, 64), k ->
                  CASE WHEN ${sqlMd5h60(
                    "'rp:' || CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)")} % 2 = 0
                       THEN CAST(embedding[CAST(k + 1 AS INT)] AS DOUBLE)
                       ELSE -CAST(embedding[CAST(k + 1 AS INT)] AS DOUBLE) END),
                  (a, b) -> a + b) AS FLOAT)) AS ex
            FROM embeddings),
          q AS (SELECT embedding AS qv, ex AS qx FROM e WHERE vec_id = 0),
          h AS (SELECT vec_id, embedding,
                  CAST(len(list_filter(list_zip(ex, qx),
                    p -> (p[1] > 0) <> (p[2] > 0))) AS BIGINT) AS ham
                FROM e, q
                ORDER BY ham ASC, vec_id ASC LIMIT 200)
          SELECT vec_id, ${sqlCos("embedding", "qv")} AS cos
          FROM h, q
          ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    // q167 = the same positional sign-mismatch Hamming for the
    // candidate cut (total order: ham, vec_id), then the exact cosine
    // re-rank over the bounded 200 — both cuts replayed exactly
    "q167_bq_rerank" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          h AS (SELECT vec_id, embedding,
                  CAST(len(list_filter(list_zip(embedding, qv),
                    p -> (p[1] > 0) <> (p[2] > 0))) AS BIGINT) AS ham
                FROM embeddings, q
                ORDER BY ham ASC, vec_id ASC LIMIT 200)
          SELECT vec_id, ${sqlCos("embedding", "qv")} AS cos
          FROM h, q
          ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    // q168 = the same page construction, the same RE2-compatible tag
    // extraction, the same md5-60 over the lowercased joined sequence,
    // one group-by on the fingerprint
    "q168_template_families" ->
      s"""WITH h AS (
            SELECT doc_id,
              '<html><head><title>T</title></head><body>'
              || CASE WHEN doc_id % 3 = 0 THEN '<h1>H</h1>' ELSE '' END
              || CASE WHEN doc_id % 3 = 1
                      THEN '<div><ul><li>A</li><li>B</li></ul></div>' ELSE '' END
              || '<p>' || text || '</p>'
              || CASE WHEN doc_id % 7 = 0 THEN
                   CASE WHEN doc_id % 2 = 0 THEN '<footer><p>f</p></footer>'
                        ELSE '<aside>s</aside>' END
                 ELSE '' END
              || '</body></html>' AS raw
            FROM documents WHERE text IS NOT NULL),
          t AS (SELECT doc_id,
                  ${sqlMd5h60(
                    "lower(array_to_string(regexp_extract_all(raw, " +
                      "'<(/?[A-Za-z][A-Za-z0-9]*)', 1), ' '))")} AS tag_fp
                FROM h)
          SELECT tag_fp, CAST(count(*) AS BIGINT) AS n_pages,
                 min(doc_id) AS first_doc,
                 count(*) >= 500 AS is_template
          FROM t GROUP BY tag_fp""",
    // q170 = q168's fingerprint SQL + q147's seeded-hash window cap,
    // keyed on the fingerprint instead of the domain
    "q170_template_cap" ->
      s"""WITH h AS (
            SELECT doc_id,
              '<html><head><title>T</title></head><body>'
              || CASE WHEN doc_id % 3 = 0 THEN '<h1>H</h1>' ELSE '' END
              || CASE WHEN doc_id % 3 = 1
                      THEN '<div><ul><li>A</li><li>B</li></ul></div>' ELSE '' END
              || '<p>' || text || '</p>'
              || CASE WHEN doc_id % 7 = 0 THEN
                   CASE WHEN doc_id % 2 = 0 THEN '<footer><p>f</p></footer>'
                        ELSE '<aside>s</aside>' END
                 ELSE '' END
              || '</body></html>' AS raw
            FROM documents WHERE text IS NOT NULL),
          t AS (SELECT doc_id,
                  ${sqlMd5h60(
                    "lower(array_to_string(regexp_extract_all(raw, " +
                      "'<(/?[A-Za-z][A-Za-z0-9]*)', 1), ' '))")} AS tag_fp
                FROM h)
          SELECT doc_id, tag_fp FROM (
            SELECT doc_id, tag_fp,
                   row_number() OVER (PARTITION BY tag_fp
                     ORDER BY ${sqlMd5h60("'42:' || CAST(doc_id AS VARCHAR)")},
                              doc_id) AS rn
            FROM t)
          WHERE rn <= 100""",
    // q175 = the factored q142 normalize chain + the same two anchored
    // path regexes + the same starts_with OR chain (null paths pass)
    "q175_path_blocklist" ->
      s"""WITH u AS (
            SELECT doc_id,
              CASE WHEN doc_id % 17 = 0 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
              ELSE 'http://www.site' || CAST(doc_id % 9 AS VARCHAR) || '.example.com' ||
                CASE doc_id % 4
                  WHEN 0 THEN '/search?q=' || CAST(doc_id AS VARCHAR)
                  WHEN 1 THEN '/t%61g/' || CAST(doc_id AS VARCHAR)
                  WHEN 2 THEN '/article/' || CAST(doc_id AS VARCHAR)
                    || '?id=' || CAST(doc_id AS VARCHAR)
                  ELSE CASE WHEN doc_id % 3 = 0 THEN '/login'
                            ELSE '/about/' || CAST(doc_id AS VARCHAR) || '.html' END
                END
              END AS url
            FROM documents),
          $sqlUrlNormChain,
          p AS (SELECT doc_id,
                  CASE WHEN norm_url IS NULL THEN NULL
                       ELSE string_split(regexp_replace(norm_url,
                              '^[a-z][a-z0-9+.-]*://[^/?]*', ''), '?')[1]
                  END AS path
                FROM norm)
          SELECT doc_id, path,
                 coalesce(starts_with(path, '/search') OR starts_with(path, '/tag/')
                          OR starts_with(path, '/login'), FALSE) AS blocked
          FROM p""",
    // q169 = the five stages replayed end-to-end: the factored
    // q142/q147 domain chain, NOT IN blocklist, the q147 seeded-hash
    // window cap, the q156 slice-mined page-frequency boilerplate cut,
    // the q165 line rules over the rebuilt page, and the q137 gopher
    // keep — plus the per-stage survivor totals as scalar subqueries
    "q169_front_door" ->
      s"""WITH $sqlFrontDoorUrlCte,
          $sqlUrlNormChain,
          $sqlDomainChain,
          base AS (SELECT d.doc_id, dm.domain, d.text
                   FROM documents d JOIN dom dm ON d.doc_id = dm.doc_id),
          allowed AS (SELECT * FROM base
                      WHERE domain NOT IN ('seofarm.com', 'site3.com')),
          adm AS (SELECT doc_id, domain, text FROM (
                    SELECT doc_id, domain, text,
                           row_number() OVER (PARTITION BY domain
                             ORDER BY ${sqlMd5h60("'42:' || CAST(doc_id AS VARCHAR)")},
                                      doc_id) AS rn
                    FROM allowed)
                  WHERE rn <= 25),
          ${sqlFrontDoorTailCtes("adm", "", "")}
          SELECT g.doc_id, g.domain, g.n_boiler_kept, g.clean_page,
                 (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_input,
                 (SELECT CAST(count(*) AS BIGINT) FROM allowed) AS n_allowed,
                 (SELECT CAST(count(*) AS BIGINT) FROM adm) AS n_admitted,
                 (SELECT CAST(count(*) AS BIGINT) FROM c4k) AS n_c4
          FROM gated g"""
  )
}
