package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF term scoring over a document corpus — the classic relevance /
  * keyword-extraction primitive (and the vectorization step feeding
  * classical-ML training pipelines).
  *
  * Shape: term frequency is computed SCAN-SIDE — a one-pass native
  * codegen expression (`TermCountsExpr`) folds each document's tokens
  * into a term→count map, and exploding the map yields the
  * (doc, term, tf) rows directly, so there is no token-level
  * explode and no (doc, term) groupBy shuffle at all (the classic
  * "aggregate before you shuffle" move; at 100 TB the difference
  * between shuffling every token occurrence and shuffling one row per
  * distinct term per doc). Document frequency reuses the SAME tf frame
  * (each (doc, term) row is one distinct document containing the term —
  * no second scan, no count-distinct). The corpus size joins in as a
  * broadcast one-row frame, keeping the whole computation in the plan
  * (no driver-side count round-trip).
  *
  * Scoring uses the RATIO idf variant, `tf · N / df`, rather than a
  * log: integer products below 2^53 divide to bit-identical doubles in
  * every IEEE-754 engine, while `ln` implementations legitimately
  * differ by ulps across libms — determinism is worth more to a data
  * pipeline than the log damping, and the ranking it induces per doc is
  * identical (log is monotone).
  */
object TfIdf {

  /** `(doc_id, term, tf, df, tfidf)` — top-`k` terms per doc by
    * `tf · N / df`, ties broken by term asc (total order ⇒ stable
    * top-k).
    */
  def topTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    val tf = docs
      .select(
        col(idCol).alias("doc_id"),
        explode(graft.functions.expressions.TermCountsExpr.termCounts(col(textCol)))
          .as(Seq("term", "tf")))
    val df_ = tf.groupBy("term").agg(count(lit(1)).alias("df"))
    val n = docs.agg(count(lit(1)).alias("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    tf
      .join(df_, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("doc_id", "term", "tf", "df", "tfidf")
  }

  /** BM25 full-text ranking for a FIXED query-term list — the retrieval
    * primitive behind corpus search / hard-negative mining / targeted
    * curation ("pull the top docs about X out of the crawl").
    *
    * Shape, and why it survives 100 TB:
    *
    *  - per-doc term statistics come from ONE scan-side `term_counts`
    *    projection (`tf_i` is a map lookup per query term, `dl` a fold
    *    over the map values — no token explode, no (doc, term) shuffle),
    *    MATERIALIZED once (`localCheckpoint`): the frame feeds both the
    *    stats aggregate and the scoring projection, which ReuseExchange
    *    can never dedup, and it is (|terms|+2) longs per doc — orders of
    *    magnitude smaller than re-tokenizing the corpus text twice;
    *  - corpus stats (`N`, `Σdl`, per-term `df`) are ONE all-to-one-row
    *    aggregate (map-side partial), broadcast back as a 1-row frame —
    *    no driver round-trip, no per-doc join key;
    *  - scoring is row-local and the ranking is a
    *    `TakeOrderedAndProject` (per-partition heaps), so nothing wider
    *    than `topK` rows ever converges.
    *
    * Numeric discipline: BM25 keeps its `ln` idf — unlike [[topTerms]]'
    * ratio idf, the log damping is load-bearing here because scores SUM
    * across query terms (monotonicity per doc does not rescue the
    * cross-term mix) — so determinism comes from the q101 fixed-point
    * rule instead: each per-term score is rounded to integer MICROS
    * row-locally and the cross-term total is a BIGINT sum, never a
    * cross-row/cross-term double accumulation. Ties break by doc id.
    *
    * Output: `(doc_id, score_micro, score)` — top `topK` docs by
    * descending BM25 score. Null-text docs are excluded from both the
    * ranking and the corpus statistics.
    */
  def bm25Rank(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25Rank: empty query-term list")
    require(terms.distinct == terms, "bm25Rank: duplicate query terms")
    val base = docs
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol).alias("doc_id"),
        graft.functions.expressions.TermCountsExpr.termCounts(col(textCol)).alias("tc"))
      .select(
        col("doc_id") +:
          aggregate(map_values(col("tc")), lit(0L), (acc, v) => acc + v).alias("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            coalesce(try_element_at(col("tc"), lit(t)), lit(0L)).alias(s"tf_$i")
          }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val stats = base.agg(
      count(lit(1)).alias("n_docs"),
      sum(col("dl")).alias("sum_dl") +:
        terms.indices.map(i =>
          sum((col(s"tf_$i") > 0).cast("long")).alias(s"df_$i")): _*)

    val microTerms = terms.indices.map { i =>
      bm25MicroCols(
        col(s"tf_$i"), col(s"df_$i"), col("dl"),
        col("n_docs"), col("sum_dl"), k1, b)
    }
    base
      .crossJoin(broadcast(stats))
      .select(
        col("doc_id"),
        microTerms.reduce(_ + _).alias("score_micro"))
      .withColumn("score", col("score_micro").cast("double") / lit(1000000.0))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** BM25 retrieval JOIN — per-query top-`topK` docs for a whole QUERY
    * TABLE `(qid, array<term>)`: the batch-retrieval shape behind
    * hard-negative mining, per-prompt context pulls, and
    * query-log-driven curation ([[bm25Rank]]'s join-shaped sibling,
    * exactly as `ivfKnnJoin` is to `ivfTopK`).
    *
    * Shape, and why it survives 100 TB:
    *
    *  - the corpus side is reduced scan-side to the PRUNED inverted
    *    index `(doc_id, term, tf, dl)` — `term_counts` exploded once,
    *    semi-joined against the query vocabulary before anything
    *    shuffles, so only postings for terms someone asked about exist
    *    at all (at scale this frame is the persisted search index;
    *    here it is materialized once and feeds both the df aggregate
    *    and the scoring join);
    *  - corpus stats are a separate minimal projection (token counts
    *    only — no map build) into a 1-row broadcast;
    *  - scoring joins key on the TERM (the classic retrieval shuffle:
    *    postings move, documents never do), per-(qid, doc) totals are
    *    an integer-micro sum (order-free), and the per-query top-k is
    *    a `row_number` window over scalar triples partitioned by qid.
    *
    * Determinism: identical fixed-point discipline to [[bm25Rank]] —
    * micro-rounded per (qid, doc, term) row-locally, BIGINT sums across
    * terms, ties by doc id. A term repeated inside one query scores
    * once (query-side distinct). Docs sharing no term with a query are
    * absent from its ranking (their BM25 score is exactly 0).
    */
  def bm25Join(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qidCol: String,
      termsCol: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    val qt = queries
      .select(col(qidCol).alias("qid"), explode(col(termsCol)).alias("term"))
      .distinct()
    // no broadcast hint on the vocabulary prune: a modest query set's
    // distinct terms auto-broadcast (AQE), while a crawl-scale query
    // log — millions of distinct terms — must be allowed to
    // hash-partition instead of being forced through the driver
    val qv = qt.select("term").distinct()
    val tf = postings(docs, idCol, textCol)
      .join(qv, Seq("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = corpusStats(docs, textCol)
    val dfq = tf.groupBy("term").agg(count(lit(1)).alias("df"))

    val w = Window.partitionBy("qid").orderBy(col("score_micro").desc, col("doc_id").asc)
    tf
      .join(dfq, Seq("term"))
      .crossJoin(broadcast(stats))
      .join(qt, Seq("term"))
      .select(col("qid"), col("doc_id"), bm25Micro(k1, b).alias("micro"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("micro")).alias("score_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("doc_id"), col("score_micro"),
        (col("score_micro").cast("double") / lit(1000000.0)).alias("score"))
  }

  /** Hard-negative mining for retrieval/contrastive training: for each
    * (query, known-positive) pair, the top `nNeg` BM25-scoring docs
    * that are NOT positives of that query — the highest-scoring wrong
    * answers, which is what makes a negative "hard" (random negatives
    * are trivially separable; the standard recipe mines them from the
    * lexical retriever's own top candidates).
    *
    * Shape: one [[bm25Join]] over the query set (`candidates` deep —
    * all its scale properties carry: postings pruned to the query
    * vocabulary, term-keyed shuffles, per-query map-side top-k), then
    * a `(qid, doc_id)`-keyed LEFT ANTI against the positives table
    * (per-query exclusion — a doc positive for query A can still be a
    * negative for query B), then the per-query re-rank window over
    * ≤ `candidates` surviving rows. `candidates` must exceed `nNeg`
    * by at least the per-query positive count or depleted queries
    * return fewer than `nNeg` rows (they are not padded — fail-visible
    * beats silently easy negatives).
    */
  def hardNegatives(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      qidCol: String,
      termsCol: String,
      posCol: String,
      nNeg: Int = 5,
      candidates: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(nNeg > 0, s"nNeg must be positive, got $nNeg")
    require(candidates > nNeg,
      s"candidates ($candidates) must exceed nNeg ($nNeg)")
    val queries = pairs
      .select(col(qidCol).alias("qid"), col(termsCol).alias("qterms"))
      .distinct()
    val cand = bm25Join(docs, idCol, textCol, queries, "qid", "qterms",
      k1, b, topK = candidates)
    val pos = pairs
      .select(col(qidCol).alias("qid"), col(posCol).alias("doc_id"))
      .distinct()
    val w = Window.partitionBy("qid")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    cand
      .join(pos, Seq("qid", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= nNeg)
      .select(col("qid"), col("doc_id"), col("score_micro"), col("score"),
        col("neg_rank"))
  }

  /** Scan-side postings `(term, doc_id, dl, tf)` — the inverted-index
    * rows every BM25 surface consumes: one `term_counts` map per doc
    * (no token explode), `dl` a fold over its values, one output row
    * per distinct (doc, term). Null-text docs emit nothing.
    * [[bm25Join]] reads them inline, pruned to the query vocabulary.
    */
  // r22 MEASURED REJECTION: Skew.spreadIfNarrow(docs) in front of the
  // term_counts kernel (the q56 SRP pattern) was tried and REVERTED —
  // A/B min-of-3 at local[32]: q108/q117 flat, q139 2.12→2.57 s. The
  // per-doc tokenize+map-build doesn't clear the exchange-plus-width
  // overhead bar the SRP plane products cleared; the postings persist
  // keeps the single-split layout.
  private[graft] def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol).alias("doc_id"),
        graft.functions.expressions.TermCountsExpr.termCounts(col(textCol)).alias("tc"))
      .select(
        col("doc_id"),
        aggregate(map_values(col("tc")), lit(0L), (acc, v) => acc + v).alias("dl"),
        explode(col("tc")).as(Seq("term", "tf")))

  /** 1-row corpus stats `(n_docs, sum_dl)` over non-null-text docs — a
    * minimal projection (token counts only, no term map build).
    */
  private[graft] def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .agg(
        count(lit(1)).alias("n_docs"),
        sum(size(TextFunctions.tokens(col(textCol))).cast("long")).alias("sum_dl"))

  /** The per-(doc, term) BM25 micro-score — ONE definition shared by
    * every BM25 surface (bm25Rank's per-term columns, bm25Join's and
    * the streaming index's posting rows) so the operand order — and
    * hence the cross-engine bit pattern the oracles pin — cannot drift
    * between siblings.
    */
  private[graft] def bm25MicroCols(
      tf: Column,
      df: Column,
      dl: Column,
      nDocs: Column,
      sumDl: Column,
      k1: Double,
      b: Double): Column = {
    val avgdl = sumDl.cast("double") / nDocs.cast("double")
    val tfD = tf.cast("double")
    val idf = log(lit(1.0) +
      ((nDocs - df).cast("double") + lit(0.5)) / (df.cast("double") + lit(0.5)))
    val denom = tfD + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * (dl.cast("double") / avgdl))
    round(idf * ((tfD * lit(k1 + 1.0)) / denom) * lit(1000000L)).cast("long")
  }

  /** [[bm25MicroCols]] over the standard posting-row column names
    * `(tf, df, dl, n_docs, sum_dl)`.
    */
  private[graft] def bm25Micro(k1: Double, b: Double): Column =
    bm25MicroCols(col("tf"), col("df"), col("dl"),
      col("n_docs"), col("sum_dl"), k1, b)

  /** Hybrid retrieval — the retrieve-then-rerank composition every
    * modern search/RAG stack runs: [[bm25Rank]] pulls `candidates`
    * lexical candidates, each is re-scored by the cosine of its
    * embedding to the query vector, and the final order mixes both
    * signals. Lexical recall finds what embeddings miss (rare exact
    * terms, ids, code); the dense side finds paraphrases the terms
    * miss — the mix beats either alone.
    *
    * Scale shape: the candidate set is topK-bounded BEFORE the
    * embedding join (only `candidates` rows join the embedding table —
    * at 100 TB that join is an id-keyed point lookup, not a corpus
    * scan), the cosine is the q22 scan-side expression, and the final
    * rank is a TakeOrdered over `candidates` rows.
    *
    * Determinism: both signals enter as integer micros
    * (`hybrid_micro = round(bm25_micro · wText) + round(cos · wVec · 1e6)`,
    * each term row-local), ties break by doc id. A candidate with no
    * embedding row re-ranks on its lexical score alone (cosine treated
    * as 0 — documented, not silently dropped).
    */
  def hybridRank(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      emb: DataFrame,
      embIdCol: String,
      vecCol: String,
      terms: Seq[String],
      queryVec: Seq[Double],
      k1: Double = 1.2,
      b: Double = 0.75,
      wText: Double = 1.0,
      wVec: Double = 1.0,
      candidates: Int = 100,
      topK: Int = 20): DataFrame = {
    require(queryVec.nonEmpty, "hybridRank: empty query vector")
    require(topK <= candidates, s"topK=$topK must be <= candidates=$candidates")
    hybridRerank(
      bm25Rank(docs, idCol, textCol, terms, k1, b, topK = candidates)
        .select(col("doc_id"), col("score_micro").alias("bm25_micro")),
      emb, embIdCol, vecCol, queryVec, wText, wVec, topK)
  }

  /** Hybrid retrieval JOIN — per-query hybrid (BM25 + cosine) top-`topK`
    * for a whole QUERY TABLE `(qid, array<term>, query vector)`: the
    * composition of [[bm25Join]] (lexical candidates per query) and
    * [[hybridRank]]'s pruned rerank — the shape a reranking eval
    * harness or hard-negative miner actually runs, where issuing
    * [[hybridRank]] once per query would rescan the corpus |Q| times.
    *
    * Shape, and why it survives 100 TB:
    *
    *  - lexical candidates come from ONE [[bm25Join]] pass (postings
    *    move on term keys, documents never shuffle), bounded at
    *    `candidates` rows per query and materialized once;
    *  - the embedding side is semi-join-pruned to the DISTINCT
    *    candidate ids across all queries (≤ |Q|·`candidates` — no
    *    broadcast hint, like [[bm25Join]]'s vocabulary prune: a modest
    *    eval set auto-broadcasts under AQE, a crawl-scale query log
    *    may legitimately hash-partition) before any cosine is paid;
    *  - vectors are consumed IN the per-(qid, doc) projection — ids
    *    and scalar micros shuffle, embedding arrays never key a
    *    partitioning — and the per-query cut is a `row_number` window
    *    over scalar triples.
    *
    * Determinism: the same integer-micro mixing as [[hybridRerank]],
    * row-local per (qid, doc), ties by doc id. Candidate-rule caveat
    * (inherited from [[bm25Join]]): a query's candidates are docs
    * sharing ≥ 1 term with it, so per-query parity with [[hybridRank]]
    * holds when the term-matching set covers the corpus or fills
    * `candidates`. A candidate with no embedding row —
    * or a query with a null vector — reranks on its lexical score
    * alone (cosine treated as 0). `qid`s must be unique in `queries`
    * (a duplicated qid with two vectors is ambiguous and would fan the
    * rerank join out).
    */
  def hybridJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      emb: DataFrame,
      embIdCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      termsCol: String,
      qvecCol: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      wText: Double = 1.0,
      wVec: Double = 1.0,
      candidates: Int = 100,
      topK: Int = 20): DataFrame = {
    require(topK <= candidates, s"topK=$topK must be <= candidates=$candidates")
    hybridJoinRerank(
      bm25Join(docs, idCol, textCol, queries, qidCol, termsCol, k1, b, topK = candidates)
        .select(col("qid"), col("doc_id"), col("score_micro").alias("bm25_micro")),
      emb, embIdCol, vecCol,
      queries.select(col(qidCol).alias("qid"), col(qvecCol).alias("__qvec")),
      wText, wVec, topK)
  }

  /** [[hybridJoin]]'s rerank tail — lex candidates `(qid, doc_id,
    * bm25_micro)` (already bounded per query) + a `(qid, __qvec)` query
    * table: the query-set counterpart of [[hybridRerank]], with the
    * same integer-micro mixing arithmetic.
    */
  private[graft] def hybridJoinRerank(
      lexIn: DataFrame,
      emb: DataFrame,
      embIdCol: String,
      vecCol: String,
      qv: DataFrame,
      wText: Double,
      wVec: Double,
      topK: Int): DataFrame = {
    val lex = lexIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The candidate-id set is bounded by |Q|·candidates ints — always
    // broadcastable. Without the explicit hint Catalyst cannot see
    // that (the localCheckpoint lineage carries no stats) and plans a
    // SortMergeJoin LeftSemi that hash-exchanges the ENTIRE embeddings
    // relation with the vector payload — a full-corpus shuffle per
    // retrieval run at scale. Same pattern as hybridRerank below.
    val candEmb = emb
      .join(
        broadcast(lex.select(col("doc_id").alias("__cand_id")).distinct()),
        col(embIdCol) === col("__cand_id"),
        "left_semi")
      .select(col(embIdCol).alias("doc_id"), col(vecCol).alias("__vec"))
    // bit-parity with hybridRerank's cosine: dot terms and the norm
    // product are commutative multiplications, the index-order fold is
    // identical, so per-(doc, query) cosines match the single-query
    // surface exactly
    val cos = graft.functions.VectorFunctions.nanDiv(
      graft.functions.expressions.DotProductFloat.dotF(col("__qvec"), col("__vec")),
      graft.functions.expressions.Norm2Float.norm2F(col("__qvec")) *
        graft.functions.expressions.Norm2Float.norm2F(col("__vec")))
    val w = Window.partitionBy("qid").orderBy(col("hybrid_micro").desc, col("doc_id").asc)
    // the query table is |Q| rows by contract — broadcast it so the
    // cosine is computed MAP-SIDE over the candidate frame and the
    // vectors never touch a shuffle: un-hinted, Catalyst SMJs this
    // qid join and hash-exchanges the candidates WITH their __vec
    // payload (the window's qid exchange then moves scalars only)
    lex
      .join(candEmb, Seq("doc_id"), "left")
      .join(broadcast(qv), Seq("qid"))
      .select(
        col("qid"),
        col("doc_id"),
        col("bm25_micro"),
        round(coalesce(cos, lit(0.0)) * lit(wVec) * lit(1000000L))
          .cast("long").alias("cos_micro"))
      .withColumn("hybrid_micro",
        round(col("bm25_micro").cast("double") * lit(wText)).cast("long") + col("cos_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("doc_id"), col("bm25_micro"), col("cos_micro"),
        col("hybrid_micro"),
        (col("hybrid_micro").cast("double") / lit(1000000.0)).alias("hybrid"))
  }

  /** [[hybridRank]]'s rerank tail over its corpus-scan candidates:
    * left-join the `(doc_id, bm25_micro)` candidates to the embedding
    * side, combine as integer micros, TakeOrdered.
    *
    * Scale shape: the embedding side is PRUNED FIRST — a broadcast
    * left-semi join of the (topK-bounded, so broadcastable by
    * construction) candidate id list against the embedding table —
    * and only the surviving ≤`candidates` rows pay the cosine. At
    * 100 TB that makes the rerank an id-keyed point lookup: the
    * alternative (cosine over the full table, then join) is a
    * full-corpus scan per query AND a full-table BroadcastExchange —
    * a driver OOM waiting to happen. The candidate frame is
    * materialized once (`localCheckpoint`) because it feeds both the
    * semi-join build side and the final left join, and its lexical
    * lineage (a corpus scan in [[hybridRank]]) must not execute twice.
    */
  private[graft] def hybridRerank(
      lex: DataFrame,
      emb: DataFrame,
      embIdCol: String,
      vecCol: String,
      queryVec: Seq[Double],
      wText: Double,
      wVec: Double,
      topK: Int): DataFrame = {
    val cand = lex.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candEmb = emb.join(
      broadcast(cand.select(col("doc_id").alias("__cand_id"))),
      col(embIdCol) === col("__cand_id"),
      "left_semi")
    val cosed = graft.operators.Similarity
      .withCosine(candEmb, vecCol, queryVec)
      .select(col(embIdCol).alias("doc_id"), col("cos"))
    cand
      .join(cosed, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("bm25_micro"),
        round(coalesce(col("cos"), lit(0.0)) * lit(wVec) * lit(1000000L))
          .cast("long").alias("cos_micro"))
      .withColumn("hybrid_micro",
        round(col("bm25_micro").cast("double") * lit(wText)).cast("long") + col("cos_micro"))
      .withColumn("hybrid", col("hybrid_micro").cast("double") / lit(1000000.0))
      .orderBy(col("hybrid_micro").desc, col("doc_id").asc)
      .limit(topK)
  }
}
