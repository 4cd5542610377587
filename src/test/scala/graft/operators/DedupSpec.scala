package graft.operators

import graft.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup of 1
    (4L, "completely different content about spark engines and pipelines"),
    (5L, "another unrelated document mentioning databases only")
  ).toDF("doc_id", "text")

  test("exact: groups identical texts, keeps min id, counts dups") {
    val got = Dedup.exact(corpus, "doc_id", "text")
      .select("keep_id", "dup_count")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("ngramJaccard: exact dup pair has jaccard 1.0; near dup scores high; unrelated absent") {
    val pairs = Dedup.ngramJaccard(corpus, "doc_id", "text", n = 2, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ngramJaccard with maxShingleFreq uses a consistent universe (identical docs still 1.0)") {
    // every shingle of docs 1/2/3 containing "the" is hot across ≥3 docs;
    // sizes and commons must come from the same filtered set, so the
    // exact-dup pair keeps jaccard exactly 1.0
    val pairs = Dedup
      .ngramJaccard(corpus, "doc_id", "text", n = 2, threshold = 0.9, maxShingleFreq = Some(2))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("ngramJaccard prefix filter is lossless at threshold 0.8 (sz divisible by 5)") {
    // Adversarial construction for the (1-t)*sz floating-point regression:
    // at t=0.8, (1-t)*5 == 0.9999999999999998, which floored the prefix of
    // a 5-hash doc to length 1. Build a pair (A: 5 shingles, B: 4 of them,
    // J = 4/5 = 0.8 exactly) where A's MINIMAL hash is the unshared
    // shingle — then the pair's only common-prefix element is A's second
    // slot, and a length-1 prefix misses the pair entirely.
    import graft.functions.TextFunctions
    def bigramHashes(toks: Seq[String]): Seq[Long] =
      TextFunctions
        .shinglesLocal(toks.toArray, 2)
        .map(TextFunctions.md5Hash60Local)
        .distinct
    // find a 6-token doc whose min-hash bigram is the LAST one, so the
    // 5-token prefix-doc B drops exactly that shingle
    val aToks = (0 until 1000).iterator
      .map(s => (0 until 6).map(i => s"w${s}_$i"))
      .find { t =>
        val hs = bigramHashes(t)
        hs.length == 5 && hs.min == hs.last
      }
      .get
    val bToks = aToks.init
    assert(bigramHashes(aToks).toSet.intersect(bigramHashes(bToks).toSet).size == 4)
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 2, threshold = 0.8)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs.contains((1L, 2L)), "prefix filter lost the J=0.8 boundary pair")
    assert(pairs((1L, 2L)) == 0.8)
  }

  test("ngramJaccard matches brute-force all-pairs at thresholds 0.8 and 0.9") {
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(11)
    // overlapping windows over a shared token sequence → many partial-
    // overlap pairs with shingle-set sizes that are multiples of 5
    val base = (0 until 40).map(i => s"tok${rnd.nextInt(30)}_$i")
    val docs = (0 until 25).map { i =>
      val start = rnd.nextInt(30)
      val len = 6 + rnd.nextInt(3) * 5 // 6, 11, 16 tokens → 5/10/15 shingles
      (i.toLong, base.slice(start, math.min(start + len, base.length)).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val local = docs.map { case (id, text) =>
      id -> TextFunctions
        .shinglesLocal(TextFunctions.tokensLocal(text), 2)
        .map(TextFunctions.md5Hash60Local)
        .toSet
    }
    for (t <- Seq(0.8, 0.9)) {
      val expected = (for {
        (ia, sa) <- local; (ib, sb) <- local if ia < ib
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
        if j >= t
      } yield (ia, ib)).toSet
      val got = Dedup.ngramJaccard(df, "doc_id", "text", n = 2, threshold = t)
        .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
      assert(got == expected, s"threshold $t: prefix-filtered pairs != brute force")
    }
  }

  test("ngramContainment catches the subset-duplication pair Jaccard misses") {
    // B is a contiguous slice of A's tokens, so B's bigram shingles are a
    // strict subset of A's: containment 1.0 while Jaccard = |B|/|A| is low
    val aToks = (0 until 40).map(i => s"u$i")
    val docs = Seq(
      (1L, aToks.mkString(" ")), // 39 distinct bigram shingles
      (2L, aToks.slice(10, 18).mkString(" ")), // 7 shingles, all inside A
      (3L, (0 until 12).map(i => s"z$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val cont = Dedup.ngramContainment(docs, "doc_id", "text", n = 2, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(cont == Map((1L, 2L) -> 1.0))
    val jac = Dedup.ngramJaccard(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty, "Jaccard should miss the subset pair at 0.5")
  }

  test("ngramContainment matches brute-force all-pairs at thresholds 0.8 and 0.9") {
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(23)
    // overlapping windows of very different lengths → asymmetric pairs
    // where the prefix-probe side (smaller) differs from the index side
    val base = (0 until 60).map(i => s"tok${rnd.nextInt(40)}_$i")
    val docs = (0 until 30).map { i =>
      val start = rnd.nextInt(45)
      val len = 4 + rnd.nextInt(30)
      (i.toLong, base.slice(start, math.min(start + len, base.length)).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val local = docs.map { case (id, text) =>
      id -> TextFunctions
        .shinglesLocal(TextFunctions.tokensLocal(text), 2)
        .map(TextFunctions.md5Hash60Local)
        .toSet
    }
    for (t <- Seq(0.8, 0.9)) {
      val expected = (for {
        (ia, sa) <- local; (ib, sb) <- local if ia < ib
        c = sa.intersect(sb).size.toDouble / math.min(sa.size, sb.size).toDouble
        if c >= t
      } yield (ia, ib)).toSet
      val got = Dedup.ngramContainment(df, "doc_id", "text", n = 2, threshold = t)
        .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
      assert(got == expected, s"threshold $t: asymmetric prefix probe != brute force")
    }
  }

  test("ngramContainment with maxShingleFreq keeps a consistent universe") {
    // the exact-dup pair must stay containment 1.0 after hot-shingle
    // filtering because sizes and intersections share the filtered set
    val pairs = Dedup
      .ngramContainment(corpus, "doc_id", "text", n = 2, threshold = 0.9,
        maxShingleFreq = Some(2))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("minHashLsh finds the exact-dup pair with jaccard 1.0 and no false positives") {
    val pairs = Dedup.minHashLsh(corpus, "doc_id", "text", n = 2, k = 16, bands = 8, threshold = 0.8)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs((1L, 2L)) == 1.0)
    // verification stage guarantees no pair below threshold survives
    assert(pairs.values.forall(_ >= 0.8))
  }

  test("incrementalNearDup: corpus near-dups dropped, intra-batch dups grouped, unique rows kept") {
    val corpusDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and pipelines")
    ).toDF("doc_id", "text")
    val batchDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact dup of corpus 1
      (20L, "streaming ingestion keeps corpus state tables fresh across batches"),
      (21L, "streaming ingestion keeps corpus state tables fresh across batches"), // dup of 20
      (30L, "a totally novel document with its own vocabulary entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(
      batchDocs, corpusDocs, "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(10L, 20L, 21L, 30L)) // one row per batch id
    assert(got(10L) == ((1L, -1L, 0L)), got(10L)) // corpus dup: dropped
    assert(got(20L) == ((0L, 20L, 1L)), got(20L)) // intra-batch rep kept
    assert(got(21L) == ((0L, 20L, 0L)), got(21L)) // intra-batch dup
    assert(got(30L) == ((0L, 30L, 1L)), got(30L)) // unique survivor
  }

  test("simHashPairs: identical docs at distance 0") {
    val pairs = Dedup.simHashPairs(corpus, "doc_id", "text", maxDistance = 3)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, d) => (a, b) -> d }.toMap
    assert(pairs((1L, 2L)) == 0)
  }

  test("embeddingNearDup: identical vectors pair at cos 1") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f))).toDF("id", "vec")
    val got = Dedup.embeddingNearDup(emb, "id", "vec", threshold = 0.99)
      .as[(Long, Long, Double)].collect()
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
  }

  test("embeddingNearDupBlock produces bit-identical pairs to the join variant") {
    val rnd = new scala.util.Random(7)
    val emb = (1L to 40L).map { i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("id", "vec")
    val joinV = Dedup.embeddingNearDup(emb, "id", "vec", threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val blockV = Dedup.embeddingNearDupBlock(emb, "id", "vec", threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(blockV == joinV)
    assert(blockV.nonEmpty)
  }

  test("embeddingNearDupBlocked matches the join variant across block counts") {
    val rnd = new scala.util.Random(11)
    val emb = (1L to 60L).map { i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("id", "vec")
    val joinV = Dedup.embeddingNearDup(emb, "id", "vec", threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    // B=1 (single block), B=4, B=60 (every row its own block), and the
    // auto default (parallelism-sized B)
    for (blockRows <- Seq(100, 17, 1, 0)) {
      val got = Dedup
        .embeddingNearDupBlocked(emb, "id", "vec", threshold = 0.2, maxBlockRows = blockRows)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == joinV, s"maxBlockRows=$blockRows")
    }
    assert(joinV.nonEmpty)
  }

  test("zero-norm vectors (cos = NaN) behave identically across all three variants") {
    // Spark SQL and DuckDB order NaN above every value, so the join
    // variant's filter KEEPS 0/0 pairs; the tight-loop variants must too
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f)), // zero vector: every pair involving it is NaN
      (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f))).toDF("id", "vec")
    val joinV = Dedup.embeddingNearDup(emb, "id", "vec", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(joinV == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"SQL NaN semantics changed: $joinV")
    val blockV = Dedup.embeddingNearDupBlock(emb, "id", "vec", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val blockedV = Dedup.embeddingNearDupBlocked(emb, "id", "vec", threshold = 0.5, maxBlockRows = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blockV == joinV)
    assert(blockedV == joinV)
  }

  test("embeddingNearDupBlock refuses a block over the row cap") {
    val emb = (1L to 10L).map(i => (i, Seq(1.0f, 0.0f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupBlock(emb, "id", "vec", threshold = 0.5, maxRows = 5L)
    }
    assert(e.getMessage.contains("embeddingNearDupBlocked"))
  }

  test("embeddingNearDup refuses a pair volume over maxPairs, pointing to the scale paths") {
    val emb = (1L to 10L).map(i => (i, Seq(1.0f, 0.0f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      // 10 rows = 45 pairs > 40
      Dedup.embeddingNearDup(emb, "id", "vec", threshold = 0.5, maxPairs = 40L)
    }
    assert(e.getMessage.contains("exact all-pairs tier"))
    assert(e.getMessage.contains("srpNearDup"))
    // raising the cap explicitly unblocks it
    assert(Dedup.embeddingNearDup(emb, "id", "vec", threshold = 0.5, maxPairs = 45L)
      .count() == 45L)
  }

  test("embeddingNearDupBlocked refuses a block count past the exact tier's reach") {
    val spark2 = spark
    import spark2.implicits._
    val emb = spark.range(0L, 5000L).map(i => (i, Seq(1.0f, 0.0f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      // 5000 rows at 1 row/block = 5000 blocks > 4096
      Dedup.embeddingNearDupBlocked(emb, "id", "vec", threshold = 0.5, maxBlockRows = 1)
    }
    assert(e.getMessage.contains("blocks"))
    assert(e.getMessage.contains("srpNearDup"))
  }

  test("lineDedup drops corpus-frequent lines, preserves order, keeps emptied docs") {
    val docs = Seq(
      (1L, "boiler\nunique one\nboiler\nrare line"),
      (2L, "boiler\nanother text"),
      (3L, "boiler\nboiler"),
      (4L, "boiler")
    ).toDF("doc_id", "text")
    // "boiler" appears 6 times across 4 docs; absolute cap 2 drops it
    val abs = Dedup.lineDedupAbs(docs, "doc_id", "text", delim = "\n", maxFreq = 2)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(abs(1L) == (("unique one\nrare line", 2)), abs(1L)) // order preserved, dups removed
    assert(abs(2L) == (("another text", 1)))
    assert(abs(3L) == (("", 0))) // fully-boilerplate doc survives, empty
    assert(abs(4L) == (("", 0)))

    // relative threshold: 100% of 4 docs = 4 < 6 occurrences → dropped;
    // 200% = 8 >= 6 → kept everywhere
    val rel100 = Dedup.lineDedup(docs, "doc_id", "text", "\n", maxRelFreqPct = 100)
      .as[(Long, String, Int)].collect().map(r => r._1 -> r._2).toMap
    assert(!rel100(1L).contains("boiler"))
    val rel200 = Dedup.lineDedup(docs, "doc_id", "text", "\n", maxRelFreqPct = 200)
      .as[(Long, String, Int)].collect().map(r => r._1 -> r._2).toMap
    assert(rel200(1L) == "boiler\nunique one\nboiler\nrare line") // nothing dropped
  }

  test("incrementalExact: intra-batch keep-min plus corpus anti-join") {
    val corpus = Seq((1L, "already stored"), (2L, "other stored")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "brand new"), //                 kept
      (11L, "duplicate inside"), //          kept (min of 11/12)
      (12L, "duplicate inside"), //          dropped intra-batch
      (13L, "already stored") //             dropped: corpus collision
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, corpus, "doc_id", "text")
      .select("id", "batch_dup_count")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 1L, 11L -> 2L))
  }

  test("duplicateSpans: cross-doc repeated windows cut, unique remainder survives in order") {
    val docs = Seq(
      (1L, "alpha beta gamma delta unique one tail"),
      (2L, "prefix alpha beta gamma delta other end"), // shares the 4-gram
      (3L, "totally different words entirely here now"),
      (4L, "alpha beta gamma delta") //                   fully boilerplate
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", k = 4, minDocs = 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // the shared window "alpha beta gamma delta" is cut everywhere it
    // appears; neighbors survive in original order
    assert(got(1L) == (("unique one tail", 3L, 4L)), got(1L))
    assert(got(2L) == (("prefix other end", 3L, 4L)), got(2L))
    assert(got(3L) == (("totally different words entirely here now", 6L, 0L)), got(3L))
    assert(got(4L) == (("", 0L, 4L)), got(4L)) // fully removed, row survives

    // minDocs above the duplication level: nothing is cut
    val loose = Dedup.duplicateSpans(docs, "doc_id", "text", k = 4, minDocs = 4)
      .as[(Long, String, Long, Long)].collect()
    assert(loose.forall(_._4 == 0L), loose.mkString(","))
  }

  test("duplicateSpans: heavily overlapping dup spans merge doc-locally; null text = empty doc") {
    // every 3-gram of the x-run is the SAME duplicated gram — the
    // worst case for per-covered-position row amplification (the old
    // explode+distinct plan would emit k rows per dup gram here); the
    // interval-union cut must still remove exactly the run
    val docs = Seq(
      (1L, "x x x x x x x x x x tailword"),
      (2L, "head x x x x x x x x x x"),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3, minDocs = 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("tailword", 1L, 10L)), got(1L))
    assert(got(2L) == (("head", 1L, 10L)), got(2L))
    // null text is the EMPTY doc: zero counts, never the legacy
    // size(null) = -1 arithmetic — even though the two null docs share
    // the duplicated empty-shingle hash, there are no tokens to cut
    assert(got(3L) == (("", 0L, 0L)), got(3L))
    assert(got(4L) == (("", 0L, 0L)), got(4L))
  }

  test("duplicateSpans matches a naive in-memory recompute on random corpora") {
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(43)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    for (trial <- 1 to 3) {
      val k = 2 + rnd.nextInt(3) // 2..4
      val docsSeq = (1L to 25L).map(i =>
        (i, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      // naive: same tokenization/shingle/hash primitives, brute-forced
      val toks = docsSeq.map { case (id, t) => id -> TextFunctions.tokensLocal(t) }.toMap
      val grams = docsSeq.flatMap { case (id, _) =>
        TextFunctions.shinglesLocal(toks(id), k).zipWithIndex
          .map { case (g, p) => (id, p, TextFunctions.md5Hash60Local(g)) }
      }
      val dup = grams.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
      val expected = docsSeq.map { case (id, _) =>
        val t = toks(id)
        val covered = grams
          .filter(g => g._1 == id && dup(g._3))
          .flatMap(g => g._2 until g._2 + k).toSet
        val keptIdx = t.indices.filterNot(covered)
        id -> ((keptIdx.map(t).mkString(" "), keptIdx.size.toLong,
          (t.length - keptIdx.size).toLong))
      }.toMap
      val got = Dedup
        .duplicateSpans(docsSeq.toDF("doc_id", "text"), "doc_id", "text", k = k, minDocs = 2)
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expected, s"trial $trial k=$k")
    }
  }

  test("keepRepresentative: argmax score per cluster, min-id tie-break, singletons kept") {
    val members = Seq(
      // cluster 1: 3 wins on score despite higher id
      (1L, 1L, 10L), (3L, 1L, 25L),
      // cluster 2: score tie → min id 4 wins
      (4L, 2L, 7L), (9L, 2L, 7L),
      // singleton cluster
      (6L, 6L, 1L)
    ).toDF("doc_id", "cluster_id", "score")
    val got = Dedup.keepRepresentative(members, "doc_id", "cluster_id", "score")
      .select("doc_id", "kept")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 3L -> 1L, 4L -> 1L, 9L -> 0L, 6L -> 1L))
  }

  test("jaccardThresholdSweep: each cutoff's counts equal a standalone run at that threshold; empty cutoffs report zeros") {
    val base = (1 to 30).map(i => s"w$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, (base.take(28) :+ "x1" :+ "x2").mkString(" ")),   // high overlap with 1
      (3L, (base.take(18) ++ (1 to 12).map(i => s"y$i")).mkString(" ")), // medium
      (4L, (1 to 30).map(i => s"z$i").mkString(" "))          // disjoint
    ).toDF("doc_id", "text")
    val thresholds = Seq(0.3, 0.6, 0.95)
    val got = Dedup.jaccardThresholdSweep(docs, "doc_id", "text", n = 3, thresholds)
      .as[(Double, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == thresholds.toSet)
    thresholds.foreach { t =>
      val standalone = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = t)
        .as[(Long, Long, Double)].collect()
      assert(got(t)._1 == standalone.length.toLong, s"t=$t pair count")
      assert(got(t)._2 ==
        standalone.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong, s"t=$t doc count")
    }
    assert(got(0.3)._1 > 0L, "expected surviving pairs at the low cutoff")
    assert(got(0.95) == ((0L, 0L)), "expected explicit zeros at the top cutoff")
  }

  test("jaccardThresholdSweep dense-corpus mode: filtered generator, boilerplate-only pairs drop") {
    // every doc shares the same 4-token boilerplate banner; contentful
    // overlap exists only between docs 1 and 2
    val banner = "copyright footer legal banner"
    val docs = Seq(
      (1L, s"$banner alpha beta gamma delta epsilon"),
      (2L, s"$banner alpha beta gamma delta zeta"),
      (3L, s"$banner completely different words here now"),
      (4L, s"$banner other unrelated content tokens only")
    ).toDF("doc_id", "text")
    val thresholds = Seq(0.1, 0.5)
    // a cap no shingle exceeds: identical to the exact sweep
    val exact = Dedup.jaccardThresholdSweep(docs, "doc_id", "text", 3, thresholds)
      .as[(Double, Long, Long)].collect().toSet
    val uncapped = Dedup.jaccardThresholdSweep(
      docs, "doc_id", "text", 3, thresholds, maxShingleFreq = Some(100))
      .as[(Double, Long, Long)].collect().toSet
    assert(uncapped == exact, "a never-binding cap must reproduce the exact sweep")
    // a binding cap (shingles in >2 docs die): the banner-only pairs
    // (1,3) (1,4) (2,3) (2,4) (3,4) disappear; the contentful (1,2)
    // pair survives at the low threshold
    val filtered = Dedup.jaccardThresholdSweep(
      docs, "doc_id", "text", 3, thresholds, maxShingleFreq = Some(2))
      .as[(Double, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val exactM = exact.map(r => r._1 -> (r._2, r._3)).toMap
    assert(exactM(0.1)._1 == 6L, s"exact sweep should see all boilerplate pairs: $exactM")
    assert(filtered(0.1) == ((1L, 2L)),
      s"filtered sweep must keep only the contentful pair: $filtered")
  }

  test("sourceDupStats: within-source ratios exact; null text/source excluded; cross-source dups not counted") {
    val docs = Seq(
      (1L, "A", "same text"),
      (2L, "A", "same text"),     // within-A dup
      (3L, "A", "other text"),
      (4L, "B", "same text"),     // equals A's text — NOT a within-B dup
      (5L, "B", null),            // no content: excluded
      (6L, null, "orphan")        // no source: excluded
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceDupStats(docs, "source", "text")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set("A", "B"))
    assert(got("A") == (("A", 3L, 2L, 1.0 / 3.0)))
    assert(got("B") == (("B", 1L, 1L, 0.0)))
  }

  test("sourceOverlap: known universes yield exact Jaccard; dups collapse; zero-overlap pairs absent") {
    val docs = Seq(
      (1L, "A", "t1 t2 t3"),       // shingle {t1 t2 t3}
      (2L, "A", "t2 t3 t4"),       // shingle {t2 t3 t4}
      (3L, "A", "t1 t2 t3"),       // exact dup: universe unchanged
      (4L, "B", "t2 t3 t4 t5"),    // shingles {t2 t3 t4, t3 t4 t5}
      (5L, "C", "x y z"),          // disjoint
      (6L, "C", null)              // null text contributes nothing
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(docs, "source", "text", n = 3)
      .as[(String, String, Long, Long, Long, Double)].collect()
    // only (A, B) overlaps: common {t2 t3 t4}, |A|=2, |B|=2
    assert(got.length == 1)
    val (a, b, common, szA, szB, j) = got.head
    assert(a == "A" && b == "B" && common == 1L && szA == 2L && szB == 2L)
    assert(j == 1.0 / 3.0)
  }
}
