package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions.{col, lit}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val emb = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f)),
    (3L, Seq(0.0f, 1.0f, 0.0f)),
    (4L, Seq(-1.0f, 0.0f, 0.0f)),
    (5L, Seq(0.7f, 0.7f, 0.0f))).toDF("vec_id", "embedding")

  private val query = Seq(1.0, 0.0, 0.0)

  test("bruteForceTopK returns k best by cosine, ordered desc") {
    val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 3)
      .as[(Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 5L))
    assert(got.head._2 == 1.0)
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse)
  }

  test("ivfTopK probes nearest cells and scores with the exact cosine") {
    val rnd = new scala.util.Random(3)
    // two well-separated clusters around +x and +y
    val vecs = (1L to 30L).map { i =>
      val base = if (i <= 15) Seq(1.0, 0.0, 0.0) else Seq(0.0, 1.0, 0.0)
      (i, base.map(b => (b + rnd.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")

    val got = Similarity.ivfTopK(vecs, "vec_id", "embedding", Seq(1.0, 0.0, 0.0),
      k = 5, nLists = 2, nProbe = 1)
      .as[(Long, Double)].collect()
    assert(got.length == 5)
    // probing the +x cell: every hit comes from the +x cluster
    assert(got.forall(_._1 <= 15L))
    // scores agree with the exact scan for those ids
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 30)
      .as[(Long, Double)].collect().toMap
    got.foreach { case (id, cos) => assert(math.abs(brute(id) - cos) < 1e-12) }
  }

  test("lshTopK returns a subset of brute-force candidates, including the query's bucket-mates") {
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 5)
      .as[(Long, Double)].collect().toMap
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", query, 3, nPlanes = 4)
      .as[(Long, Double)].collect()
    // every LSH hit must carry the same cosine as the exact scan
    lsh.foreach { case (id, cos) =>
      assert(math.abs(brute(id) - cos) < 1e-12)
    }
    // the identical vector always lands in the query's own bucket
    assert(lsh.map(_._1).contains(1L))
  }

  test("srpNearDup pairs are a subset of exact all-pairs with identical cosines; near-identical vectors are found") {
    val rnd = new scala.util.Random(7)
    // 20 base vectors, each with a jittered near-duplicate (cos ≈ 1)
    val vecs = (0L until 20L).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val near = base.map(x => x + rnd.nextGaussian().toFloat * 0.01f)
      Seq((i * 2, base.toSeq), (i * 2 + 1, near.toSeq))
    }.toDF("vec_id", "embedding")

    val exact = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", threshold = 0.8)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val srp = Similarity.srpNearDup(vecs, "vec_id", "embedding", threshold = 0.8,
      nBands = 6, rowsPerBand = 3)
      .as[(Long, Long, Double)].collect()

    // subset with bit-identical scores
    srp.foreach { case (a, b, c) =>
      assert(exact.contains((a, b)), s"($a,$b) not in exact result")
      assert(exact((a, b)) == c, s"cosine mismatch for ($a,$b)")
    }
    // every planted near-identical pair collides in some band (p ≈ 1
    // per bit at cos ≈ 1, so missing one would need a sign flip on a
    // near-zero projection — astronomically unlikely with this seed)
    val found = srp.map { case (a, b, _) => (a, b) }.toSet
    val planted = (0L until 20L).map(i => (i * 2, i * 2 + 1))
    assert(planted.count(found.contains) >= 18,
      s"only ${planted.count(found.contains)}/20 planted near-dups recalled")
  }

  test("srpNearDup DEFAULTS auto-size bits and bands: subset of exact, planted near-dups recalled") {
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 20L).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val near = base.map(x => x + rnd.nextGaussian().toFloat * 0.01f)
      Seq((i * 2, base.toSeq), (i * 2 + 1, near.toSeq))
    }.toDF("vec_id", "embedding")

    val exact = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", threshold = 0.8)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    // no nBands / rowsPerBand: the scale-safe auto-sized path
    val srp = Similarity.srpNearDup(vecs, "vec_id", "embedding", threshold = 0.8)
      .as[(Long, Long, Double)].collect()

    srp.foreach { case (a, b, c) =>
      assert(exact.contains((a, b)), s"($a,$b) not in exact result")
      assert(exact((a, b)) == c, s"cosine mismatch for ($a,$b)")
    }
    val found = srp.map { case (a, b, _) => (a, b) }.toSet
    val planted = (0L until 20L).map(i => (i * 2, i * 2 + 1))
    assert(planted.count(found.contains) >= 18,
      s"only ${planted.count(found.contains)}/20 planted near-dups recalled with defaults")
  }

  test("bandsForRecall solves 1-(1-p^r)^b >= recall at the threshold boundary") {
    for (t <- Seq(0.4, 0.8); r <- Seq(1, 3, 5, 7); target <- Seq(0.5, 0.9)) {
      val b = Similarity.bandsForRecall(t, r, target)
      val p = 1.0 - math.acos(t) / math.Pi
      def recall(bands: Int) = 1.0 - math.pow(1.0 - math.pow(p, r), bands.toDouble)
      assert(recall(b) >= target - 1e-12, s"t=$t r=$r: $b bands give ${recall(b)} < $target")
      if (b > 1)
        assert(recall(b - 1) < target, s"t=$t r=$r: $b bands not minimal")
    }
    // degenerate ends stay sane
    assert(Similarity.bandsForRecall(1.0, 3) == 1) // p = 1: one band suffices
    assert(Similarity.bandsForRecall(-1.0, 3) == Int.MaxValue) // p = 0: unreachable
  }

  test("autoRowsPerBand holds bucket population constant as the corpus grows") {
    // n/2^r stays within [targetBucketSize/2, targetBucketSize]
    for (n <- Seq(100L, 1000L, 100000L, 10000000L, 1000000000L)) {
      val r = Similarity.autoRowsPerBand(n, targetBucketSize = 64)
      val pop = n.toDouble / math.pow(2.0, r.toDouble)
      assert(pop <= 64.0 + 1e-9, s"n=$n r=$r pop=$pop exceeds target")
      assert(pop > 16.0 || n < 64, s"n=$n r=$r pop=$pop oversharded")
    }
    // tiny corpora: at least 1 bit, never more than a long holds
    assert(Similarity.autoRowsPerBand(1L) == 1)
    assert(Similarity.autoRowsPerBand(Long.MaxValue) == 57) // 2^63/2^6, under the 62 cap

    // planted near-dups still recalled with corpus-sized bits (r=5 at
    // n=2048): cos ≈ 1 pairs collide in every band regardless of r
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 24L).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val near = base.map(x => x + rnd.nextGaussian().toFloat * 0.01f)
      Seq((i * 2, base.toSeq), (i * 2 + 1, near.toSeq))
    }.toDF("vec_id", "embedding")
    val r = Similarity.autoRowsPerBand(2048L, targetBucketSize = 64)
    assert(r == 5)
    val found = Similarity.srpNearDup(vecs, "vec_id", "embedding", threshold = 0.8,
      nBands = 6, rowsPerBand = r)
      .as[(Long, Long, Double)].collect().map { case (a, b, _) => (a, b) }.toSet
    val planted = (0L until 24L).map(i => (i * 2, i * 2 + 1))
    assert(planted.count(found.contains) >= 22,
      s"only ${planted.count(found.contains)}/24 planted near-dups recalled at r=$r")
  }

  test("semanticDedup groups same-cell near-dups, keeps min id, singletons survive") {
    val rnd = new scala.util.Random(7)
    // three tight groups around orthogonal axes (k-means separates them)
    // plus an isolated singleton per axis region
    val vecs = (0 until 3).flatMap { g =>
      val base = Array.tabulate(8)(j => if (j == g) 1.0f else 0.0f)
      (0 until 4).map { m =>
        val v = base.map(x => x + rnd.nextGaussian().toFloat * 0.01f)
        ((g * 10 + m).toLong, v.toSeq)
      }
    }.toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(
      vecs, "vec_id", "embedding", threshold = 0.95, nLists = 3,
      trainSample = 100)
      .as[(Long, Int, Long, Long)].collect()
    assert(got.length == 12)
    val byGroup = got.groupBy(_._3)
    // each axis group collapses to one dup_group labeled by its min id
    assert(byGroup.keySet == Set(0L, 10L, 20L), byGroup.keySet)
    byGroup.foreach { case (g, members) =>
      assert(members.length == 4)
      assert(members.count(_._4 == 1L) == 1, s"group $g must keep exactly one")
      assert(members.find(_._4 == 1L).get._1 == g, "representative is the min id")
    }
  }

  test("semanticDedup auto default sizes cells from the corpus (exact at small n)") {
    assert(Similarity.autoNLists(500) == 1)
    assert(Similarity.autoNLists(1024 * 100) == 100)
    assert(Similarity.autoNLists(Long.MaxValue) == (1 << 16)) // driver-sample cap
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.001f)), // near-dup pair
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    // nLists omitted → auto (=1 at this size) → exact all-pairs semantics
    val got = Similarity.semanticDedup(vecs, "vec_id", "embedding", threshold = 0.99)
      .select("id", "dup_group", "kept")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 1L), (2L, 1L, 0L), (3L, 3L, 1L)))
  }

  test("PQ: codes reconstruct centroid-aligned vectors exactly; ADC top-k finds the right cluster") {
    val rnd = new scala.util.Random(13)
    // two tight clusters in 8-dim space; m=4 subspaces of 2 dims
    val vecs = (0 until 20).map { i =>
      val base = if (i < 10) Array.fill(8)(1.0f) else Array.fill(8)(-1.0f)
      (i.toLong, base.map(x => x + rnd.nextGaussian().toFloat * 0.01f).toSeq)
    }.toDF("vec_id", "embedding")
    // nCodes=2 matches the two planted clusters, so each cluster maps to
    // exactly one code word per subspace
    val cbs = Similarity.trainProductQuantizer(
      vecs, "vec_id", "embedding", dim = 8, m = 4, nCodes = 2, trainSample = 50)
    assert(cbs.length == 4 && cbs.forall(cb => cb.length == 2 && cb.forall(_.length == 2)))
    val codes = Similarity.pqEncode(vecs, "vec_id", "embedding", cbs)
    val schema = codes.schema("code").dataType
    assert(schema == org.apache.spark.sql.types.BinaryType, schema)
    // all +1-cluster members quantize to the same code word, all
    // -1-cluster members to a different one
    val byCode = codes.as[(Long, Array[Byte])].collect()
      .groupBy(_._2.toSeq).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCode.size == 2, s"expected 2 code words, got ${byCode.size}")
    assert(byCode.values.toSet == Set((0L to 9L).toSet, (10L to 19L).toSet))

    // ADC scores rank the +1 cluster first for a +1 query
    val top = Similarity.pqTopK(
      codes, "id", "code", cbs, Seq.fill(8)(1.0), k = 10)
      .as[(Long, Double)].collect()
    assert(top.map(_._1).toSet == (0L to 9L).toSet)
    // score approximates dot(query, vec) ≈ 8 for the matching cluster
    assert(top.forall(t => math.abs(t._2 - 8.0) < 0.5), top.map(_._2).mkString(","))
  }

  test("ivfPqTopK: composed probe -> PQ scan -> exact re-rank recovers planted clusters") {
    val rnd = new scala.util.Random(23)
    // 4 tight, well-separated clusters in 8-dim space
    val centers = Array.tabulate(4, 8) { (c, j) =>
      if (j / 2 == c) 5.0f else 0.0f
    }
    val vecs = (for (c <- 0 until 4; i <- 0 until 25) yield {
      val v = centers(c).map(x => x + rnd.nextGaussian().toFloat * 0.05f).toSeq
      ((c * 25 + i).toLong, v)
    }).toDF("vec_id", "embedding")
    val q = centers(1).map(_.toDouble + 0.01)
    val got = Similarity.ivfPqTopK(
      vecs, "vec_id", "embedding", q, k = 10,
      nLists = 4, nProbe = 2, m = 4, nCodes = 8, rerank = 40, trainSample = 100)
      .as[(Long, Double)].collect()
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, k = 10)
      .as[(Long, Double)].collect()
    // the query's cluster dominates the exact top-10; the composed path
    // must recover it bit-identically (exact re-rank = exact cosines)
    assert(got.toSeq == exact.toSeq,
      s"ivf-pq diverged from exact:\n got=${got.mkString(",")}\n exact=${exact.mkString(",")}")
    assert(got.forall(t => t._1 >= 25L && t._1 < 50L), got.mkString(","))
  }

  test("boundedTrainRows: caps by memory and Lloyd flops, never binds at fixture scale") {
    // fixture-scale shapes must pass through untouched (q41/q77/q79/q80
    // hash stability depends on the cap not binding there)
    assert(Similarity.boundedTrainRows(4096, k = 2, dim = 64) == 4096)
    assert(Similarity.boundedTrainRows(2048, k = 64, dim = 64) == 2048)
    assert(Similarity.boundedTrainRows(64, k = 1, dim = 64) == 64)
    // memory bound: 2^20 rows at dim 768 would be ~6 GB of doubles —
    // the 512 MB default budget caps to budget/(dim*8)
    val memCapped = Similarity.boundedTrainRows(1 << 20, k = 4, dim = 768)
    assert(memCapped == (512L << 20) / (768 * 8), s"got $memCapped")
    // flop bound: at the autoNLists cap the Lloyd fit dominates
    val flopCapped = Similarity.boundedTrainRows(1 << 20, k = 1 << 16, dim = 768)
    assert(flopCapped == (2e13 / (8.0 * 3 * (1 << 16) * 768)).toLong.toInt, s"got $flopCapped")
    assert(flopCapped < memCapped)
    // never zero
    assert(Similarity.boundedTrainRows(1, k = Int.MaxValue, dim = 4096) == 1)
  }

  test("nearest_cell expression matches a local reference loop (ties to lowest index)") {
    val rnd = new scala.util.Random(19)
    val k = 5; val dim = 6
    val cents = Array.fill(k, dim)(rnd.nextGaussian())
    val vecs = (1L to 40L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val got = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.functions.expressions.NearestCellExpr
          .nearestCell(col("embedding"), cents).as("cell"))
      .as[(Long, Int)].collect().toMap
    vecs.foreach { case (id, v) =>
      var best = 0; var bd = Double.MaxValue
      for (c <- 0 until k) {
        var s = 0.0
        for (j <- 0 until dim) { val d = v(j) - cents(c)(j); s += d * d }
        if (s < bd) { bd = s; best = c }
      }
      assert(got(id) == best, s"vec $id")
    }
    // exact tie breaks to the lowest index
    val tied = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(graft.functions.expressions.NearestCellExpr
        .nearestCell(col("embedding"), Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0)))
        .as("cell"))
      .as[Int].head()
    assert(tied == 0)
  }

  test("semanticDedup fails loud when a cell exceeds maxCellRows") {
    val vecs = (1L to 20L).map(i => (i, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // driver-side check on the cell-population aggregate: fails at
    // plan-build time, before any replication fan-out
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(
        vecs, "vec_id", "embedding", threshold = 0.9, nLists = 1,
        trainSample = 50, maxCellRows = 5)
    }
    assert(e.getMessage.contains("maxCellRows"), e.getMessage)
  }

  test("semanticDedupFrozen with the same trained centroids equals semanticDedup; guards hold") {
    val embR = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
    val trained = Similarity.semanticDedup(
      embR, "vec_id", "embedding", threshold = 0.8, nLists = 4, trainSample = 256)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._1).toSeq
    // the SAME deterministic training the non-frozen path runs internally
    val centroids = Similarity.trainCentroids(
      embR, "vec_id", "embedding", nLists = 4, seed = 42L, trainSample = 256)
    val frozen = Similarity.semanticDedupFrozen(
      embR, "vec_id", "embedding", centroids, threshold = 0.8)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(frozen === trained, "frozen path diverged from the training path under the same model")

    // frozen hot-cell failure names the frozen entry point and the
    // model-refresh remedy (not the nLists/trainSample knobs a frozen
    // caller cannot turn)
    val one = (1L to 20L).map(i => (i, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedupFrozen(
        one, "vec_id", "embedding", Array(Array(1.0, 0.0)), threshold = 0.9, maxCellRows = 5)
    }
    assert(e.getMessage.contains("semanticDedupFrozen"), e.getMessage)
    assert(e.getMessage.contains("re-persist"), e.getMessage)
    assert(!e.getMessage.contains("raise nLists"), e.getMessage)
    // non-positive maxCellRows rejected up front, not reported as collapse
    val g = intercept[IllegalArgumentException] {
      Similarity.semanticDedupFrozen(
        one, "vec_id", "embedding", Array(Array(1.0, 0.0)), threshold = 0.9, maxCellRows = 0)
    }
    assert(g.getMessage.contains("maxCellRows must be positive"), g.getMessage)
  }

  test("incrementalSemanticDedup: corpus near-dups dropped, intra-batch dups resolved, unique rows kept") {
    val rnd = new scala.util.Random(17)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextGaussian().toFloat * 0.003f)
    val ax = Array.tabulate(8)(j => if (j == 0) 1.0f else 0.0f)
    val ay = Array.tabulate(8)(j => if (j == 1) 1.0f else 0.0f)
    val az = Array.tabulate(8)(j => if (j == 2) 1.0f else 0.0f)
    val corpus = (0 until 6).map(i => (100L + i, jitter(if (i < 3) ax else ay).toSeq))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (1L, jitter(ax).toSeq), //        near corpus (x cluster) → dropped
      (2L, jitter(az).toSeq), //        new, near-dup of 3     → kept (min id)
      (3L, jitter(az).toSeq), //        new, near-dup of 2     → dropped intra-batch
      (4L, Array.tabulate(8)(j => if (j == 3) 1.0f else 0.0f).toSeq) // unique → kept
    ).toDF("vec_id", "embedding")
    val got = Similarity.incrementalSemanticDedup(
      batch, corpus, "vec_id", "embedding", threshold = 0.95,
      nLists = 2, trainSample = 50)
      .select("id", "corpus_dup", "dup_group", "kept")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((1L, -1L, 0L)), got(1L)) // corpus dup
    assert(got(2L) == ((0L, 2L, 1L)), got(2L)) // intra-batch rep
    assert(got(3L) == ((0L, 2L, 0L)), got(3L)) // intra-batch dup
    assert(got(4L) == ((0L, 4L, 1L)), got(4L)) // unique survivor
  }

  test("semanticDedup sub-blocks a hot cell: same output across blockRows") {
    val rnd = new scala.util.Random(31)
    // everything in one cell (nLists=1) with a few near-dup pairs
    val vecs = (0L until 30L).flatMap { i =>
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      val near = base.map(x => x + rnd.nextGaussian().toFloat * 0.005f)
      Seq((i * 2, base.toSeq), (i * 2 + 1, near.toSeq))
    }.toDF("vec_id", "embedding")
    def run(blockRows: Int) = Similarity.semanticDedup(
      vecs, "vec_id", "embedding", threshold = 0.99, nLists = 1,
      trainSample = 100, blockRows = blockRows)
      .select("id", "dup_group", "kept")
      .as[(Long, Long, Long)].collect().toSet
    val single = run(1000) // one block — the plain upper triangle
    assert(single == run(7), "multi-block (intra+cross kernels) must match")
    assert(single == run(1), "every row its own block must match")
    // the planted pairs are actually grouped
    assert(single.count(_._3 == 0L) == 30)
  }

  test("nearest_cells: ascending by distance, head = nearest_cell, ties to lowest index") {
    // centroid 3 duplicates centroid 0 — exact-tie pairs must order 0 before 3
    val cents = Array(
      Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0), Array(1.0, 0.0))
    val vecs = Seq(
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(-0.2f, 0.8f)),
      (3L, Seq(0.0f, 0.0f)))
    val df = vecs.toDF("id", "vec")
    val got = df.select(
        col("id"),
        graft.functions.expressions.NearestCellsExpr
          .nearestCells(col("vec"), cents, 3).as("cells"),
        graft.functions.expressions.NearestCellsExpr
          .nearestCells(col("vec"), cents, 1).as("cell1"),
        graft.functions.expressions.NearestCellExpr
          .nearestCell(col("vec"), cents).as("cell"))
      .as[(Long, Seq[Int], Seq[Int], Int)].collect()

    // local reference: stable sort by squared distance
    val ref = vecs.map { case (id, v) =>
      val order = cents.zipWithIndex
        .map { case (c, i) =>
          (i, c.zip(v.map(_.toDouble)).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        .sortBy(_._2).map(_._1).take(3).toSeq
      id -> order
    }.toMap
    got.foreach { case (id, cells, cell1, cell) =>
      assert(cells == ref(id), s"id=$id: $cells != ${ref(id)}")
      assert(cell1 == Seq(cell), s"id=$id: p=1 must reduce to nearest_cell")
      assert(cells.head == cell, s"id=$id: head must be the nearest cell")
    }
    // the duplicate-centroid tie resolves to the lowest index everywhere
    got.foreach { case (id, cells, _, _) =>
      assert(cells.indexOf(0) < cells.indexOf(3) || !cells.contains(3),
        s"id=$id: tie must order cell 0 before its duplicate 3: $cells")
    }
  }

  test("ivfKnnJoin: full probe equals brute force per query; partial probes keep exact cosines and the self-match") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(4)((rnd.nextGaussian() * 0.3).toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val k = 5

    def cosLocal(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na * nb == 0.0) Double.NaN else dot / (na * nb)
    }
    val byId = vecs.toMap
    val refTop = byId.keys.filter(_ % 10 == 0).map { qid =>
      val top = vecs
        .map { case (id, v) => (id, cosLocal(byId(qid), v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k).map(_._1)
      qid -> top
    }.toMap

    val full = Similarity.ivfKnnJoin(
        emb, "vec_id", "embedding", queries, "qid", "qvec",
        k, nLists = 4, nProbe = 4, trainSample = 64)
      .as[(Long, Long, Double)].collect()
    val fullByQ = full.groupBy(_._1)
    assert(fullByQ.keySet == refTop.keySet)
    fullByQ.foreach { case (qid, rows) =>
      val ids = rows.sortBy { case (_, id, c) => (-c, id) }.map(_._2).toSeq
      assert(ids == refTop(qid), s"qid=$qid: $ids != ${refTop(qid)}")
    }

    val part = Similarity.ivfKnnJoin(
        emb, "vec_id", "embedding", queries, "qid", "qvec",
        k, nLists = 4, nProbe = 2, trainSample = 64)
      .as[(Long, Long, Double)].collect()
    val partByQ = part.groupBy(_._1)
    assert(partByQ.keySet == refTop.keySet)
    partByQ.foreach { case (qid, rows) =>
      assert(rows.length == k, s"qid=$qid returned ${rows.length} rows")
      // scores are the exact cosine for every returned candidate
      rows.foreach { case (_, id, c) =>
        assert(math.abs(c - cosLocal(byId(qid), byId(id))) < 1e-12)
      }
      // the query's own cell is probed first, so the self-match survives
      assert(rows.exists { case (_, id, c) => id == qid && math.abs(c - 1.0) < 1e-12 },
        s"qid=$qid lost its self-match")
    }
  }

  test("prototypeOutliers: cell is the nearest centroid, cosine bit-matches the local fold, flag thresholds") {
    val rnd = new scala.util.Random(11)
    // two tight clusters on +x/+y, plus one off-distribution vector that
    // no prototype points toward
    val rows = (1L to 40L).map { i =>
      val base = if (i <= 20) Seq(1.0, 0.0, 0.0) else Seq(0.0, 1.0, 0.0)
      (i, base.map(b => (b + rnd.nextGaussian() * 0.05).toFloat))
    } :+ (41L, Seq(-0.58f, -0.58f, 0.58f))
    val vecs = rows.toDF("vec_id", "embedding")

    val centroids = Similarity.trainCentroids(vecs, "vec_id", "embedding", 2, 42L, 4096)
    val got = Similarity.prototypeOutliers(vecs, "vec_id", "embedding",
        nLists = 2, lowCos = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))

    val byId = rows.toMap
    // local reference with the SAME fold orders as the operator's
    // expressions (ascending index, 0.0-seeded accumulators)
    def cosLocal(v: Seq[Float], c: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nc = 0.0; var i = 0
      while (i < v.length) {
        d += v(i).toDouble * c(i); na += v(i).toDouble * v(i).toDouble
        nc += c(i) * c(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nc))
    }
    def nearest(v: Seq[Float]): Int = {
      var best = 0; var bd = Double.MaxValue; var k = 0
      while (k < centroids.length) {
        var s = 0.0; var i = 0
        while (i < v.length) { val df = v(i).toDouble - centroids(k)(i); s += df * df; i += 1 }
        if (s < bd) { bd = s; best = k }
        k += 1
      }
      best
    }
    assert(got.length == rows.length)
    got.foreach { case (id, cell, cos, flag) =>
      val v = byId(id)
      assert(cell == nearest(v).toLong, s"id=$id wrong cell")
      assert(cos == cosLocal(v, centroids(cell.toInt)), s"id=$id cosine mismatch")
      assert(flag == (if (cos < 0.9) 1L else 0L), s"id=$id flag mismatch")
    }
    // cluster members hug their prototype; the planted stray is flagged
    assert(got.filter(_._1 <= 40L).forall(_._4 == 0L))
    assert(got.find(_._1 == 41L).get._4 == 1L)
  }

  test("meanPoolEmbeddings: micro sums match a local fold, nulls skipped, partitioning-invariant") {
    val rows: Seq[(Long, Seq[Float])] = Seq(
      (0L, Seq(1.0f, -2.0f, 0.5f)),
      (1L, Seq(0.25f, 0.25f, -0.75f)),
      (2L, null),
      (3L, Seq(2.0f, 0.0f, 1.0f)),
      (4L, Seq(-1.0f, 1.0f, 1.0f))
    )
    val emb = rows.toDF("vec_id", "embedding")
      .withColumn("group_id", col("vec_id") % 2)

    def localMicro(v: Double): Long = {
      val s = v * 1e6; val t = s.toLong; val f = s - t.toDouble
      if (f >= 0.5) t + 1 else if (f <= -0.5) t - 1 else t
    }
    // group 0: ids 0, 4 (2 skipped); group 1: ids 1, 3
    val expect = Map(
      0L -> Seq(0L, 4L), 1L -> Seq(1L, 3L)
    ).view.mapValues { ids =>
      val vs = ids.map(i => rows.find(_._1 == i).get._2)
      (vs.length.toLong,
        (0 until 3).map(j => vs.map(v => localMicro(v(j).toDouble)).sum))
    }.toMap

    Seq(1, 7).foreach { parts => // partial-merge path must not change integers
      val got = Similarity.meanPoolEmbeddings(emb.repartition(parts), "group_id", "embedding")
        .as[(Long, Long, Long, Long, Double)].collect()
      assert(got.length == 6)
      got.foreach { case (g, n, dim, micro, mean) =>
        val (en, esums) = expect(g)
        assert(n == en && micro == esums(dim.toInt), s"g=$g dim=$dim parts=$parts")
        assert(mean == (micro.toDouble / n.toDouble) / 1000000.0)
      }
    }

    // array-shaped twin carries the same means
    val pooled = Similarity.meanPooledVectors(emb, "group_id", "embedding")
      .as[(Long, Long, Seq[Double])].collect().map(r => r._1 -> r).toMap
    expect.foreach { case (g, (en, esums)) =>
      val (_, n, vec) = pooled(g)
      assert(n == en)
      (0 until 3).foreach(j =>
        assert(vec(j) == (esums(j).toDouble / en.toDouble) / 1000000.0))
    }
  }

  test("pipeline composition: chunk embeddings -> mean-pool -> IVF-PQ index -> pruned query") {
    // 6 docs x 5 chunks, chunk vectors = doc direction + small noise;
    // the pooled doc vectors feed the inline IVF-PQ path end to end
    val rnd = new scala.util.Random(5)
    val dirs = Array.tabulate(6)(d => Array.tabulate(8)(j => if (j == d) 1.0 else 0.0))
    val chunks = for { d <- 0 until 6; c <- 0 until 5 } yield (
      d.toLong * 100 + c,
      d.toLong,
      dirs(d).map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    val chunkDf = chunks.toDF("chunk_id", "doc_id", "embedding")

    val pooled = Similarity.meanPooledVectors(chunkDf, "doc_id", "embedding")
      .select(col("doc_id"),
        col("pooled").cast("array<float>").alias("embedding"))
    assert(pooled.count() == 6)

    // query with doc 4's clean direction: the pooled vector denoises
    // the chunk jitter, so doc 4 must rank first
    val top = Similarity.ivfPqTopK(
      pooled, "doc_id", "embedding", dirs(4).toSeq,
      k = 3, nLists = 3, nProbe = 3, m = 4, nCodes = 4, rerank = 6,
      trainSample = 64)
      .as[(Long, Double)].collect()
    assert(top.head._1 == 4L, s"pooled ANN lost the target doc: ${top.toSeq}")
    assert(top.head._2 > 0.99, s"pooled vector should align with its direction: ${top.head}")
  }

  test("vector_micro_sum: half-away-from-zero ties, ragged input fails loud") {
    val b = new graft.functions.expressions.VectorSumBuffer
    assert(b.micro(2.5e-6) == 3L && b.micro(-2.5e-6) == -3L)
    assert(b.micro(2.4999e-6) == 2L && b.micro(-2.4999e-6) == -2L)
    assert(b.micro(0.0) == 0L)
    val ragged = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.meanPoolEmbeddings(ragged.withColumn("g", lit(0L)), "g", "embedding").collect()
    }
    assert(e.getMessage != null)
  }

  test("int8TopK matches a local quantize+cosine reference; fused and stored-codes paths agree") {
    import graft.functions.expressions.Int8Exprs
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 60L).map { i =>
      (i, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.toArray

    val got = Similarity.int8TopK(df, "vec_id", "embedding", q, 10)
      .as[(Long, Double, Double)].collect()
    assert(got.length == 10)
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse)

    // local reference: quantize every vector with the driver twin, rank
    // by integer-dot cosine
    val qc = Int8Exprs.quantizeLocal(q)
    def cosL(c: Array[Byte]): Double = {
      var idot = 0L; var dd = 0L; var qq = 0L
      var i = 0
      while (i < c.length) {
        idot += c(i).toLong * qc(i).toLong
        dd += c(i).toLong * c(i).toLong
        qq += qc(i).toLong * qc(i).toLong
        i += 1
      }
      if (dd == 0L || qq == 0L) 0.0
      else idot.toDouble / (math.sqrt(dd.toDouble) * math.sqrt(qq.toDouble))
    }
    val expect = vecs
      .map { case (id, v) => (id, cosL(Int8Exprs.quantizeLocal(v.toArray))) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(got.map(g => (g._1, g._2)).toSeq == expect,
      s"fused path diverged from the local reference:\n${got.toSeq}\n$expect")

    // the persisted-artifact read path scores identically
    val codes = Similarity.scalarQuantizeInt8(df, "vec_id", "embedding")
    val fromCodes = Similarity.int8TopKFromCodes(codes, "vec_id", "codes", q, 10)
      .as[(Long, Double)].collect()
    assert(fromCodes.toSeq == got.map(g => (g._1, g._2)).toSeq,
      "stored-codes path diverged from the fused path")

    // quantization preserves ranking well enough on smooth data:
    // recall@10 against the exact float cosine top-10
    val exact = Similarity.bruteForceTopK(
      df, "vec_id", "embedding", q.map(_.toDouble).toSeq, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val recall = got.count(g => exact.contains(g._1)) / 10.0
    assert(recall >= 0.8, s"int8 recall@10 too low: $recall")
  }

  test("ivfSq8TopK: full probe + full rerank equals brute force; quantized path equals int8TopK; narrow probe finds the home cluster") {
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 80L).map { i =>
      // two well-separated clusters with jitter
      val base = if (i < 40) Array(1.0, 0.0, 0.0, 0.0) else Array(0.0, 1.0, 0.0, 0.0)
      (i, base.map(b => (b + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.toArray

    // full probe + corpus-wide rerank reduces to exact brute force
    val full = Similarity.ivfSq8TopK(df, "vec_id", "embedding", q, k = 10,
      nLists = 4, nProbe = 4, rerank = 80)
      .as[(Long, Double)].collect()
    val brute = Similarity.bruteForceTopK(
      df, "vec_id", "embedding", q.map(_.toDouble).toSeq, 10)
      .as[(Long, Double)].collect()
    assert(full.toSeq == brute.toSeq,
      s"full-probe full-rerank must equal brute force:\n${full.toSeq}\n${brute.toSeq}")

    // rerank=0 full probe reduces to the flat quantized search
    val quant = Similarity.ivfSq8TopK(df, "vec_id", "embedding", q, k = 10,
      nLists = 4, nProbe = 4)
      .as[(Long, Double)].collect()
    val flat = Similarity.int8TopK(df, "vec_id", "embedding", q, 10)
      .select("vec_id", "cos_q").as[(Long, Double)].collect()
    assert(quant.toSeq == flat.toSeq,
      s"full-probe quantized must equal int8TopK:\n${quant.toSeq}\n${flat.toSeq}")

    // a 1-cell probe stays inside the query's cluster
    val narrow = Similarity.ivfSq8TopK(df, "vec_id", "embedding", q, k = 10,
      nLists = 2, nProbe = 1, rerank = 20)
      .as[(Long, Double)].collect()
    assert(narrow.forall(_._1 < 40L),
      s"narrow probe escaped the home cluster: ${narrow.toSeq}")
  }

  test("int8 quantization: zero vectors, exact-boundary codes, half-away rounding") {
    import graft.functions.expressions.Int8Exprs
    // max element maps to exactly +/-127; zero vector maps to all zeros
    assert(Int8Exprs.quantizeLocal(Array(1.0f, -1.0f, 0.5f)).toSeq ==
      Seq[Byte](127, -127, 64)) // 0.5/ (1/127) = 63.5 -> half away -> 64
    assert(Int8Exprs.quantizeLocal(Array(0.0f, 0.0f)).toSeq == Seq[Byte](0, 0))
    // negative half rounds AWAY from zero (Spark SQL / DuckDB round), not
    // Math.round's half-up: -0.5 scaled is -63.5 -> -64
    assert(Int8Exprs.quantizeLocal(Array(1.0f, -0.5f)).toSeq == Seq[Byte](127, -64))

    val df = Seq(
      (1L, Seq(0.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.int8TopK(df, "vec_id", "embedding", Array(1.0f, 0.0f, 0.0f), 2)
      .as[(Long, Double, Double)].collect()
    assert(got.map(g => (g._1, g._2)).toSeq == Seq((2L, 1.0), (1L, 0.0)),
      s"zero vector must score 0: ${got.toSeq}")
  }
}
