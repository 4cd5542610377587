package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** Stupid-Backoff bigram-LM perplexity (`NgramLm.perplexity`): the
  * CCNet-style model-based quality gate. Hand-computed scores on a tiny
  * corpus, the split contract, the three smoothing paths, and
  * partitioning-independence of the fixed-point reduction.
  */
class NgramLmSpec extends SparkTestBase {
  import spark.implicits._

  // split: ids 0..7 train, 8/9 held out (splitMod=10, trainBelow=8)
  private def corpus(heldOutTexts: (Long, String)*): DataFrame = {
    val train = Seq[(Long, String)](
      (0L, "the cat sat"),
      (1L, "the cat ran"),
      (2L, "the dog sat"),
      (3L, "a cat sat"),
      (4L, "the cat sat"),
      (5L, "dogs bark"),
      (6L, "the dog ran"),
      (7L, "a dog barked loudly"))
    (train ++ heldOutTexts).toDF("doc_id", "text")
  }

  private def scores(df: DataFrame): Map[Long, (Long, Long)] =
    NgramLm.perplexity(df, "doc_id", "text")
      .select("doc_id", "n_bigrams", "nll_micro")
      .as[(Long, Long, Long)]
      .collect()
      .map { case (id, n, s) => id -> (n, s) }
      .toMap

  /** JVM twin of the per-term expression: round(tf * ln(p) * 1e6). */
  private def micro(tf: Long, p: Double): Long =
    math.round(tf * math.log(p) * 1000000L)

  test("hand-computed: seen bigram, backoff unigram, and OOV paths") {
    // training stream: 8 docs, 24 tokens total.
    // c(the)=5, c(cat)=4, c(sat)=4, c(dog)=3, c(a)=2, c(ran)=2, ...
    // c(the,cat)=3, c(cat,sat)=3
    val out = scores(corpus(
      (8L, "the cat sat"), // both bigrams seen in training
      (9L, "the zebra"))) // (the,zebra): zebra is OOV entirely
    val n = 24L
    // doc 8: (the,cat) c12=3 c1=5; (cat,sat) c12=3 c1=4
    val exp8 = micro(1, 3.0 / 5) + micro(1, 3.0 / 4)
    assert(out(8L) === ((2L, exp8)))
    // doc 9: bigram unseen, w2 OOV -> 0.4 / N path
    val exp9 = micro(1, 0.4 / n)
    assert(out(9L) === ((1L, exp9)))
  }

  test("backoff path uses 0.4 * c(w2) / N when bigram unseen but w2 known") {
    // (sat,dog): never adjacent in training, but c(dog)=3, N=24
    val out = scores(corpus((18L, "sat dog")))
    assert(out(18L) === ((1L, micro(1, 0.4 * 3 / 24.0))))
  }

  test("term frequency weights repeated bigrams") {
    val out = scores(corpus((28L, "the cat the cat")))
    // (the,cat) x2 at p=3/5; (cat,the) unseen, backoff c(the)=5, N=24
    val exp = micro(2, 3.0 / 5) + micro(1, 0.4 * 5 / 24.0)
    assert(out(28L) === ((3L, exp)))
  }

  test("train docs are not scored; sub-2-token held-out docs emit no row") {
    val out = scores(corpus((8L, "one"), (9L, "")))
    assert(out.isEmpty)
  }

  test("avg_nll is the micro-sum divided back out") {
    val row = NgramLm.perplexity(corpus((8L, "the cat sat")), "doc_id", "text")
      .select("doc_id", "n_bigrams", "nll_micro", "avg_nll")
      .as[(Long, Long, Long, Double)]
      .collect()
      .head
    assert(row._4 === row._3.toDouble / 1000000.0 / row._2.toDouble)
    assert(row._4 < 0.0)
  }

  test("matches a local reference scorer on random corpora") {
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(41)
    val vocabWords = (0 until 25).map(i => s"w$i")
    def randText(): String =
      (0 until (2 + rnd.nextInt(12))).map(_ => vocabWords(rnd.nextInt(vocabWords.length))).mkString(" ")
    val docs = (0L until 60L).map(i => (i, randText()))

    // local twin: same split, same counts, same Stupid-Backoff terms
    val trainToks = docs.filter(_._1 % 10 < 8).map(d => TextFunctions.tokensLocal(d._2))
    val uni = trainToks.flatten.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val n = trainToks.map(_.length.toLong).sum
    val bi = trainToks.flatMap(t => t.zip(t.drop(1))).groupBy(identity)
      .map { case (p, ps) => p -> ps.size.toLong }
    def localScore(text: String): Option[(Long, Long)] = {
      val t = TextFunctions.tokensLocal(text)
      if (t.length < 2) None
      else {
        val grams = t.zip(t.drop(1)).groupBy(identity).map { case (p, ps) => p -> ps.size.toLong }
        val micro = grams.map { case ((w1, w2), tf) =>
          val p =
            if (bi.contains((w1, w2))) bi((w1, w2)).toDouble / uni(w1)
            else if (uni.contains(w2)) 0.4 * uni(w2) / n
            else 0.4 / n
          math.round(tf * math.log(p) * 1000000L)
        }.sum
        Some((grams.values.sum, micro))
      }
    }
    val expected = docs.filter(_._1 % 10 >= 8)
      .flatMap { case (id, text) => localScore(text).map(id -> _) }.toMap

    val got = scores(docs.toDF("doc_id", "text"))
    assert(got === expected, "distributed scorer != local reference")
    assert(expected.nonEmpty)
  }

  test("hot-key-hardened scoring and PMI are row-identical to the plain joins") {
    val rnd = new scala.util.Random(43)
    val vocabWords = (0 until 20).map(i => s"w$i")
    // a synthetic Zipf head: every other draw is the hot token
    def randText(): String =
      (0 until (2 + rnd.nextInt(12)))
        .map(i => if (i % 2 == 0) "hot" else vocabWords(rnd.nextInt(vocabWords.length)))
        .mkString(" ")
    val docs = (0L until 80L).map(i => (i, randText())).toDF("doc_id", "text")
    // -1 = auto: the operator measures the ~50%-mass "hot" head itself
    for (hk <- Seq(1, 4, 1000, -1)) { // head-only, partial, everything-hot, auto
      val plain = NgramLm.perplexity(docs, "doc_id", "text")
        .as[(Long, Long, Long, Double)].collect().toSet
      val hardened = NgramLm.perplexity(docs, "doc_id", "text", hotKeys = hk)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(hardened == plain, s"hotKeys=$hk diverged from the plain plan")
      val pmiPlain = NgramLm.pmiCollocations(docs, "doc_id", "text", minCount = 2)
        .as[(String, String, Long, Long, Double)].collect().toSeq
      val pmiHard = NgramLm.pmiCollocations(docs, "doc_id", "text", minCount = 2, hotKeys = hk)
        .as[(String, String, Long, Long, Double)].collect().toSeq
      assert(pmiHard == pmiPlain, s"PMI hotKeys=$hk diverged from the plain plan")
    }
  }

  test("autoHotKeys: fan-covering K on a Zipf head, 0 on near-uniform, 0 on empty") {
    // ~50%-mass head: auto must enable AND cover the head's bigram fan
    // (the round-15 hot-gram skew lesson, BASELINE.md — K must reach
    // the floor of 64, not the head count of 1)
    val rnd = new scala.util.Random(7)
    val vocabWords = (0 until 20).map(i => s"w$i")
    def zipfText(): String =
      (0 until 20)
        .map(i => if (i % 2 == 0) "hot" else vocabWords(rnd.nextInt(vocabWords.length)))
        .mkString(" ")
    val zipfLm = NgramLm.train(
      (0L until 60L).map(i => (i, zipfText())).toDF("doc_id", "text"), "doc_id", "text")
    val autoK = NgramLm.autoHotKeys(zipfLm)
    assert(autoK >= 64, s"auto K=$autoK under-covers the 50%-mass head's fan")

    // near-uniform vocabulary (50 words, ~2% share each — safely
    // under both thresholds): no funnel, auto must keep the plain
    // single-shuffle plan
    val wideVocab = (0 until 50).map(i => s"u$i")
    def uniformText(): String =
      (0 until 20).map(_ => wideVocab(rnd.nextInt(wideVocab.length))).mkString(" ")
    val uniLm = NgramLm.train(
      (0L until 60L).map(i => (i, uniformText())).toDF("doc_id", "text"), "doc_id", "text")
    assert(NgramLm.autoHotKeys(uniLm) == 0,
      "auto enabled the split on a near-uniform vocabulary")

    // degenerate: an empty training slice resolves to 0, not an NPE on
    // the null total-mass row
    val emptyLm = NgramLm.train(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    assert(NgramLm.autoHotKeys(emptyLm) == 0)
  }

  test("fixed-point reduction is partitioning-independent") {
    val base = corpus(
      (8L, "the cat sat on the mat while dogs bark"),
      (9L, "a dog ran"),
      (18L, "completely unseen words everywhere here"))
    val a = scores(base)
    val b = scores(base.repartition(7))
    val c = scores(base.repartition(1))
    assert(a === b)
    assert(a === c)
  }

  test("worse-fitting text scores lower (more negative avg) than in-domain text") {
    val out = NgramLm.perplexity(
      corpus((8L, "the cat sat"), (9L, "zzz qqq vvv")), "doc_id", "text")
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    assert(out(8L) > out(9L))
  }

  test("pmiCollocations: planted collocation tops the list with a hand-computed micro; minCount prunes hapax pairs") {
    // 'new york' always adjacent (4x); 'the'/'cat' frequent but weakly
    // coupled; 'rare pair' adjacent exactly once (hapax — pruned)
    val docs = Seq(
      (1L, "new york is big the cat sat"),
      (2L, "new york has the cat and the dog"),
      (3L, "in new york the cat ran"),
      (4L, "new york again the rare pair")
    ).toDF("doc_id", "text")
    val got = NgramLm.pmiCollocations(docs, "doc_id", "text", minCount = 2L, topK = 10)
      .as[(String, String, Long, Long, Double)].collect()

    // local reference over the same corpus
    val toks = Seq(
      "new york is big the cat sat", "new york has the cat and the dog",
      "in new york the cat ran", "new york again the rare pair")
      .map(_.split("\\s+").toSeq)
    val unis = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bis = toks.flatMap(t => t.zip(t.tail)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTok = toks.map(_.size).sum.toLong
    val nBi = bis.values.sum
    def microOf(w1: String, w2: String): Long =
      math.round(math.log((bis((w1, w2)).toDouble / nBi.toDouble) /
        ((unis(w1).toDouble / nTok.toDouble) * (unis(w2).toDouble / nTok.toDouble))) * 1000000L)

    assert(got.head._1 == "new" && got.head._2 == "york", s"top pair ${got.head}")
    got.foreach { case (w1, w2, c12, micro, pmi) =>
      assert(c12 == bis((w1, w2)) && c12 >= 2L)
      assert(micro == microOf(w1, w2), s"($w1,$w2) micro mismatch")
      assert(pmi == micro.toDouble / 1000000.0)
    }
    // the hapax 'rare pair' never appears
    assert(!got.exists(r => r._1 == "rare" && r._2 == "pair"))
    // a strong collocation outranks a frequent-but-weak pair
    val byPair = got.map(r => (r._1, r._2) -> r._4).toMap
    assert(byPair(("new", "york")) > byPair.getOrElse(("the", "cat"), Long.MinValue))
  }

  test("importanceSelect: matches the two-independent-score composition and a local Gumbel-top-k") {
    // slots: %10==8 target train, ==9 raw train, rest candidates
    val docs = (0L until 40L).map { id =>
      val txt =
        if (id % 10 == 8) "the cat sat on the mat and the cat ran"
        else if (id % 10 == 9) "stock market prices fell sharply in trading today"
        else if (id % 3 == 0) s"the cat sat quietly ${id}"
        else s"market prices moved ${id} in trading"
      (id, txt)
    }.toDF("doc_id", "text")

    val got = NgramLm.importanceSelect(docs, "doc_id", "text", k = 5)
      .select("doc_id", "n_bigrams", "ll_t_micro", "ll_r_micro",
        "lw_micro", "gum_micro", "key_micro", "rank")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 5)
    assert(got.map(_._8).toSeq == (1L to 5L), s"ranks: ${got.map(_._8).toSeq}")

    // independent composition: two plain score() calls over the same slices
    val tgtLm = NgramLm.train(docs.filter($"doc_id" % 10 === 8), "doc_id", "text")
    val rawLm = NgramLm.train(docs.filter($"doc_id" % 10 === 9), "doc_id", "text")
    val cand = docs.filter($"doc_id" % 10 =!= 8 && $"doc_id" % 10 =!= 9)
    val st = NgramLm.score(cand, "doc_id", "text", tgtLm)
      .select("doc_id", "n_bigrams", "nll_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val sr = NgramLm.score(cand, "doc_id", "text", rawLm)
      .select("doc_id", "nll_micro")
      .as[(Long, Long)].collect().toMap

    // local Gumbel-top-k over the independently-derived micros
    val keyed = st.keys.toSeq.map { id =>
      val (nb, llT) = st(id)
      val llR = sr(id)
      val lw = math.round((llT - llR).toDouble / nb.toDouble)
      val h = graft.functions.TextFunctions.md5Hash60Local(s"42:$id")
      val u = math.min((h.toDouble + 0.5) / math.pow(2.0, 60.0), 1.0 - 1e-9)
      val gum = math.round(-math.log(-math.log(u)) * 1000000L)
      (id, nb, llT, llR, lw, gum, lw + gum)
    }.sortBy { case (id, _, _, _, _, _, key) => (-key, id) }.take(5)

    got.zip(keyed).zipWithIndex.foreach { case ((g, e), i) =>
      assert((g._1, g._2, g._3, g._4, g._5, g._6, g._7) == e,
        s"rank ${i + 1}: got $g expected $e")
    }

    // the draw favors target-fit: selected docs should skew toward the
    // cat-flavored candidates (positive lw) over the market-flavored ones
    val lwById = keyed.map(k => k._1 -> k._5).toMap
    assert(got.count(g => lwById(g._1) > 0) >= 3,
      s"selection did not favor target-domain docs: ${got.map(_._1).toSeq}")
  }

  test("importanceSelect: k caps the draw; result is repartitioning-invariant") {
    val docs = (0L until 30L).map(id => (id, s"alpha beta gamma ${id % 7} delta"))
      .toDF("doc_id", "text")
    val a = NgramLm.importanceSelect(docs, "doc_id", "text", k = 100)
    // only 24 candidates (slots 8/9 train), all scorable
    assert(a.count() == 24)
    val b = NgramLm.importanceSelect(docs.repartition(13), "doc_id", "text", k = 7)
      .select("doc_id", "rank").as[(Long, Long)].collect().sortBy(_._2)
    val a7 = NgramLm.importanceSelect(docs, "doc_id", "text", k = 7)
      .select("doc_id", "rank").as[(Long, Long)].collect().sortBy(_._2)
    assert(b.toSeq == a7.toSeq, "draw changed under repartitioning")
  }
}
