package graft.streaming

import graft.operators.{Dedup, Similarity}
import graft.sinks.KVTableSink
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming ingest over the dedup STATE TABLES — the composition of the
  * batch incremental tiers ([[Dedup.incrementalExact]] / q72,
  * [[Similarity.incrementalSemanticDedup]] / q80) with the streaming
  * surface: a `foreachBatch` loop that maintains the corpus
  * fingerprint/embedding tables across micro-batches. This is the
  * delta-over-state deployment shape — each arriving batch is
  * deduplicated against everything ingested so far WITHOUT reprocessing
  * the corpus, and the state tables ARE the corpus the next batch
  * checks against.
  *
  * Exactly-once: each merge records its micro-batch id in a sidecar
  * meta table and skips batches it has already applied, so a restart
  * replaying the last unacknowledged batch does not double-count. (The
  * state write and the meta write are two separate atomic swaps, so a
  * crash BETWEEN them can still re-apply one batch — closing that needs
  * a transactional store; `ParquetKVSink`'s versioned writes bound the
  * window to the two symlink flips.)
  *
  * At 100 TB: the exact tier's state is fingerprints only (16 bytes +
  * id per distinct doc — text never enters the state), and the merge is
  * the q02 full-outer KV shape, co-partitioned on `fp` when the state
  * is stored bucketed. The semantic tier's state is the kept
  * representatives' embeddings; each batch meets only its own cells'
  * corpus rows (see [[Similarity.incrementalSemanticDedup]]).
  */
object DedupIngest {

  val exactStateSchema: StructType = new StructType()
    .add("fp", StringType, nullable = false)
    .add("keep_id", LongType, nullable = false)
    .add("dup_count", LongType, nullable = false)

  def semanticStateSchema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("vec", ArrayType(FloatType, containsNull = true), nullable = false)

  private val metaSchema: StructType = new StructType()
    .add("last_batch_id", LongType, nullable = false)

  private[streaming] def alreadyApplied(
      spark: SparkSession,
      sink: KVTableSink,
      table: String,
      batchId: Long): Boolean =
    sink.read(spark, s"${table}__meta", metaSchema)
      .head(1).exists(_.getLong(0) >= batchId)

  private[streaming] def markApplied(
      spark: SparkSession,
      sink: KVTableSink,
      table: String,
      batchId: Long): Unit = {
    import spark.implicits._
    sink.write(Seq(batchId).toDF("last_batch_id"), s"${table}__meta", SaveMode.Overwrite)
  }

  // ==== exact tier ==========================================================

  /** One batch's fingerprint aggregate merged into the exact-dedup state
    * `(fp, keep_id, dup_count)`. The merge is ASSOCIATIVE and
    * COMMUTATIVE (min of keep ids, sum of counts per fingerprint), so
    * the state after any sequence of batches is EXACTLY [[Dedup.exact]]
    * over their union — independent of batch boundaries and arrival
    * order. Text never enters the state: the batch side reduces to its
    * per-fingerprint aggregate before the full-outer merge (the q02
    * shape, co-partitioned on `fp` for a bucketed state table).
    */
  def mergeExactState(
      state: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // the state schema fixes keep_id as LONG; a non-numeric id would
    // cast to null silently and the min-id semantics would be lost —
    // fail loud at plan time instead
    Dedup.requireNumericId(batch, idCol, "mergeExactState")
    // NULL-SAFE merge key (StateMerge's <=> join): a null-text doc has
    // a null fingerprint, and `Dedup.exact`'s GROUP BY puts all nulls
    // in ONE group — a plain equi-join would never match null against
    // null, so every batch would append a fresh null-fp row and the
    // state would diverge from the pinned batch-equality contract
    StateMerge.fullOuterMerge(
      state,
      batch
        .select(col(idCol).cast("long").alias("keep_id"), md5(col(textCol)).alias("fp"))
        .groupBy("fp")
        .agg(min(col("keep_id")).alias("keep_id"), count(lit(1)).alias("dup_count")),
      keyCols = Seq("fp"),
      valueCombiners = Seq(
        "keep_id" -> ((a, b) => least(a, b)), // least skips nulls
        "dup_count" -> StateMerge.addLong))
  }

  /** The exact tier's per-micro-batch body — factored out so the replay
    * guard is directly testable: applying the SAME batchId twice is a
    * no-op the second time.
    */
  private[streaming] def applyExactBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      sink: KVTableSink,
      table: String): Unit = {
    val spark = batch.sparkSession
    if (!alreadyApplied(spark, sink, table, batchId)) {
      val state = sink.read(spark, table, exactStateSchema)
      sink.write(mergeExactState(state, batch, idCol, textCol), table, SaveMode.Overwrite)
      markApplied(spark, sink, table, batchId)
    }
  }

  /** Start the exact-dedup ingest: every micro-batch merges into the
    * `table` state held by `sink`. The final state table equals
    * [[Dedup.exact]] over all ingested rows.
    */
  def startExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sink: KVTableSink,
      table: String,
      checkpointDir: String,
      trigger: Trigger): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyExactBatch(batch, batchId, idCol, textCol, sink, table)
      }
      .start()

  // ==== near-dup (text LSH) tier ============================================

  def nearDupStateSchema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("text", StringType, nullable = true)

  /** The near-dup tier's persisted LSH index: [[Dedup.bandTable]] rows
    * for every kept representative. At 100 TB, store bucketed by
    * `(band, key)` and the per-trigger candidate join is co-partitioned.
    */
  def nearDupBandStateSchema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("band", IntegerType, nullable = false)
    .add("key", StringType, nullable = true)

  /** The verify-stage sidecar: each kept representative's sorted
    * distinct shingle-hash set ([[Dedup.shingleSetTable]]).
    */
  def nearDupSetStateSchema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("hs", ArrayType(LongType, containsNull = false), nullable = true)

  /** One text batch merged into the near-dup state TRIPLE — kept corpus
    * `(id, text)`, band index `(id, band, key)`, shingle sets
    * `(id, hs)` — via [[Dedup.incrementalNearDupIndexed]]: batch docs
    * with a verified corpus near-dup are dropped (batch×corpus band-KEY
    * collisions against the persisted band state — corpus text is never
    * read, let alone re-MinHashed), intra-batch dup groups keep their
    * min id, and survivors' corpus/band/set rows APPEND to the three
    * states. The first batch (all states empty) seeds them with its own
    * intra-batch dedup (degenerate empty-index incremental call).
    *
    * Per-trigger cost: proportional to the BATCH (its MinHash/shingle
    * pass runs twice — once inside the dedup check, once to build the
    * survivors' state rows) plus one scalar scan of the band state for
    * the candidate join; corpus TEXT enters no plan. Each append
    * anti-joins the state's ids first, so re-applying a batch whose
    * previous run crashed between the three table swaps replaces
    * nothing and duplicates nothing (idempotent per table).
    *
    * Same equivalence caveat as the semantic tier: tight clusters +
    * increasing ids reproduce the batch pipeline; sparse chains that
    * straddle batches can differ (documented trade of first-wins
    * ingest).
    */
  def mergeNearDupState(
      corpus: DataFrame,
      bandState: DataFrame,
      setState: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8): (DataFrame, DataFrame, DataFrame) =
    mergeNearDupStateWithKept(
      corpus, bandState, setState, batch, idCol, textCol, n, k, bands, threshold)._2

  /** [[mergeNearDupState]] that also returns the batch's kept-id frame —
    * the composition hook the unified pipeline filters the next tier
    * with.
    */
  def mergeNearDupStateWithKept(
      corpus: DataFrame,
      bandState: DataFrame,
      setState: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8): (DataFrame, (DataFrame, DataFrame, DataFrame)) = {
    // same loud guard as the exact tier: a non-numeric id would cast to
    // null and every batch row would silently vanish from the state
    Dedup.requireNumericId(batch, idCol, "mergeNearDupState")
    val batchDocs = batch.select(
      col(idCol).cast("long").alias("id"),
      col(textCol).cast("string").alias("text"))
    // replay shield: a state row carrying a batch row's id IS that row,
    // persisted by a crashed earlier run of this same batch — it must
    // not block (band-collide with) its own re-arrival, or the replay's
    // kept set comes back empty and downstream tiers starve. A no-op in
    // normal operation (ids are unique across batches); the anti-join's
    // right side is the per-trigger batch, so it broadcasts.
    val batchIds = batchDocs.select("id").localCheckpoint(true)
    val bandStateScreened = bandState.join(broadcast(batchIds), Seq("id"), "left_anti")
    val setStateScreened = setState.join(broadcast(batchIds), Seq("id"), "left_anti")
    // eager: the three appends below are written one table at a time,
    // and a LAZY kept-id plan would re-read the band/set state after
    // its own overwrite had landed — materialize the (tiny) decision
    // before any state table moves
    val keptIds = Dedup.incrementalNearDupIndexed(
      batchDocs, bandStateScreened, setStateScreened, "id", "text", n, k, bands, threshold)
      .filter(col("kept") === 1L)
      .select("id")
      .localCheckpoint(true)
    val survivors = batchDocs.join(keptIds, Seq("id"))
    (keptIds,
      (appendNew(corpus, survivors),
        appendNew(bandState, Dedup.bandTable(survivors, "id", "text", n, k, bands)),
        appendNew(setState, Dedup.shingleSetTable(survivors, "id", "text", n))))
  }

  /** `state ∪ (rows minus ids already in state)` — the idempotent-append
    * primitive every snapshot-state tier shares (a replayed batch's
    * survivors must not union a second time). The duplicate check is
    * shaped so the STATE side is only ever SCANNED, never shuffled:
    * the naive `rows ANTI state.ids` puts the corpus-scale state on the
    * anti join's build side — unbroadcastable at scale, so both sides
    * shuffle and the state pays a full exchange (plus a distinct
    * aggregate) per table per trigger. Instead the (batch-bounded) row
    * ids broadcast INTO a semi-probe of the state — `existing` is the
    * intersection, ≤ |rows| — and the anti join runs between two
    * batch-sized broadcast frames. At fixture scale AQE broadcasts
    * either shape; at 100 TB only this one stays map-side
    * (spec-asserted with broadcasts force-disabled).
    */
  private[streaming] def appendNew(state: DataFrame, rows: DataFrame): DataFrame = {
    val rowIds = rows.select("id").distinct()
    val existing = state.select("id").join(broadcast(rowIds), Seq("id"), "left_semi")
    state.unionByName(rows.join(broadcast(existing), Seq("id"), "left_anti"))
  }

  /** The near-dup tier's per-micro-batch body (factored out for the
    * replay spec). Crash-window note: the three state swaps plus the
    * meta write are four separate renames; a replay after a crash
    * anywhere between them re-runs the merge, whose per-table id
    * anti-join makes the re-application a no-op for rows that already
    * landed.
    */
  private[streaming] def applyNearDupBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      sink: KVTableSink,
      table: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8): Unit = {
    val spark = batch.sparkSession
    if (batch.head(1).nonEmpty && !alreadyApplied(spark, sink, table, batchId)) {
      val (corpus, bandSt, setSt) = (
        sink.read(spark, table, nearDupStateSchema),
        sink.read(spark, s"${table}__bands", nearDupBandStateSchema),
        sink.read(spark, s"${table}__sets", nearDupSetStateSchema))
      val (newCorpus, newBands, newSets) = mergeNearDupState(
        corpus, bandSt, setSt, batch, idCol, textCol, n, k, bands, threshold)
      sink.write(newCorpus, table, SaveMode.Overwrite)
      sink.write(newBands, s"${table}__bands", SaveMode.Overwrite)
      sink.write(newSets, s"${table}__sets", SaveMode.Overwrite)
      markApplied(spark, sink, table, batchId)
    }
  }

  /** Start the near-dup ingest: every micro-batch of `(id, text)` rows
    * merges into the kept-representative corpus at `table`, with the
    * persisted LSH band index at `table__bands` and the shingle-set
    * sidecar at `table__sets` — the trigger plan reads those two, never
    * corpus text.
    */
  def startNearDup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sink: KVTableSink,
      table: String,
      checkpointDir: String,
      trigger: Trigger,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyNearDupBatch(batch, batchId, idCol, textCol, sink, table, n, k, bands, threshold)
      }
      .start()

  // ==== fuzzy (edit-distance) tier ==========================================

  /** The fuzzy tier's persisted state: each kept representative's id
    * and match KEY (a normalized short string — title, URL, prefix —
    * not the document). The segment index the corpus check needs is a
    * map-side projection of this table
    * ([[graft.operators.EditDistanceJoin.incrementalJoin]]), so no
    * derived index table has to be maintained.
    */
  def fuzzyStateSchema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("key", StringType, nullable = true)

  /** One batch merged into the fuzzy kept-corpus: batch docs within
    * `maxDist` (Levenshtein on `keyCol`) of a kept representative are
    * dropped, intra-batch match groups keep their min id
    * ([[graft.operators.EditDistanceJoin.incrementalKeep]]), and the
    * survivors' `(id, key)` rows APPEND to the state. Per-trigger
    * cost: one corpus-state scan under broadcast batch probes plus
    * batch-bounded work — corpus keys never shuffle. Same first-wins
    * boundary caveat as the LSH tier (edit distance is not
    * transitive).
    */
  def mergeFuzzyStateWithKept(
      state: DataFrame,
      batch: DataFrame,
      idCol: String,
      keyCol: String,
      maxDist: Int): (DataFrame, DataFrame) = {
    Dedup.requireNumericId(batch, idCol, "mergeFuzzyState")
    val batchKeys = batch.select(
      col(idCol).cast("long").alias("id"),
      col(keyCol).cast("string").alias("key"))
    // replay shield (same as the LSH tier): a state row carrying a
    // batch id is this batch's own partially-persisted earlier run —
    // it must not block its own re-arrival
    val batchIds = batchKeys.select("id").localCheckpoint(true)
    val screened = state.join(broadcast(batchIds), Seq("id"), "left_anti")
    val keptIds = graft.operators.EditDistanceJoin
      .incrementalKeep(batchKeys, screened, "id", "key", maxDist)
      .filter(col("kept") === 1L)
      .select("id")
      .localCheckpoint(true)
    // append to the ORIGINAL state: appendNew's id anti-join makes a
    // replayed batch's already-persisted survivors a no-op
    (keptIds, appendNew(state, batchKeys.join(keptIds, Seq("id"))))
  }

  def mergeFuzzyState(
      state: DataFrame,
      batch: DataFrame,
      idCol: String,
      keyCol: String,
      maxDist: Int): DataFrame =
    mergeFuzzyStateWithKept(state, batch, idCol, keyCol, maxDist)._2

  /** The fuzzy tier's per-micro-batch body (factored out for the
    * replay spec — applying the same batchId twice is a no-op).
    */
  private[streaming] def applyFuzzyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      keyCol: String,
      sink: KVTableSink,
      table: String,
      maxDist: Int): Unit = {
    val spark = batch.sparkSession
    if (batch.head(1).nonEmpty && !alreadyApplied(spark, sink, table, batchId)) {
      val state = sink.read(spark, table, fuzzyStateSchema)
      sink.write(
        mergeFuzzyState(state, batch, idCol, keyCol, maxDist),
        table, SaveMode.Overwrite)
      markApplied(spark, sink, table, batchId)
    }
  }

  /** Start the fuzzy ingest: every micro-batch of `(id, key)` rows
    * merges into the kept-representative state at `table`.
    */
  def startFuzzy(
      docs: DataFrame,
      idCol: String,
      keyCol: String,
      sink: KVTableSink,
      table: String,
      checkpointDir: String,
      trigger: Trigger,
      maxDist: Int = 2): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyFuzzyBatch(batch, batchId, idCol, keyCol, sink, table, maxDist)
      }
      .start()

  // ==== semantic (embedding) tier ===========================================

  /** One embedding batch merged into the kept-representative corpus
    * `(id, vec)`: batch rows with a near-dup already in the corpus are
    * dropped ([[Similarity.incrementalSemanticDedup]] — batch meets only
    * its own cells' corpus rows, never corpus×corpus), intra-batch dup
    * groups keep their min id, and the survivors' vectors APPEND to the
    * state. The first batch (empty corpus) seeds it via the batch-mode
    * [[Similarity.semanticDedup]].
    *
    * Equivalence to the batch pipeline holds for TIGHT duplicate
    * clusters (every intra-cluster pair ≥ threshold) arriving with
    * increasing ids — the same first-wins semantics as the batch CC's
    * min-id representative. Sparse chains that straddle batches (A~B,
    * B~C, but A≁C) can differ: the batch CC merges them transitively,
    * the incremental path has already dropped B when C arrives.
    *
    * Cost note: [[Similarity.incrementalSemanticDedup]] re-trains the
    * coarse quantizer on the corpus each batch (bounded driver-side
    * sample, but still one sort+collect+Lloyd per trigger). At sustained
    * ingest rates use [[startSemanticFrozen]] — one bootstrap train
    * persisted to the `__quantizer` sidecar, every later batch frozen —
    * the same model-reuse move as [[Similarity.buildIvfPqIndex]]'s
    * sidecar. This retraining variant remains the right call for
    * one-shot backfills where each batch IS the corpus rebuild.
    */
  def mergeSemanticState(
      state: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int = 0,
      trainSample: Int = 4096): DataFrame = {
    Dedup.requireNumericId(batch, idCol, "mergeSemanticState")
    val batchVecs = batch.select(
      col(idCol).cast("long").alias("id"),
      col(vecCol).alias("vec"))
    // same replay shield + idempotent append as the frozen variant (see
    // [[mergeSemanticStateFrozenWithKept]])
    val corpus = state.join(broadcast(batchVecs.select("id")), Seq("id"), "left_anti")
      .localCheckpoint(true)
    val keptIds =
      if (corpus.head(1).isEmpty)
        Similarity.semanticDedup(
          batchVecs, "id", "vec", threshold, nLists = nLists, trainSample = trainSample)
          .filter(col("kept") === 1L)
          .select("id")
      else
        Similarity.incrementalSemanticDedup(
          batchVecs, corpus, "id", "vec", threshold,
          nLists = nLists, trainSample = trainSample)
          .filter(col("kept") === 1L)
          .select("id")
    appendNew(state, batchVecs.join(keptIds, Seq("id")))
  }

  /** Start the semantic-dedup ingest: every micro-batch of `(id, vec)`
    * rows merges into the kept-representative corpus at `table`.
    */
  def startSemantic(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      sink: KVTableSink,
      table: String,
      checkpointDir: String,
      trigger: Trigger,
      nLists: Int = 0,
      trainSample: Int = 4096): StreamingQuery =
    emb.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (batch.head(1).nonEmpty && !alreadyApplied(spark, sink, table, batchId)) {
          val state = sink.read(spark, table, semanticStateSchema)
          sink.write(
            mergeSemanticState(state, batch, idCol, vecCol, threshold, nLists, trainSample),
            table, SaveMode.Overwrite)
          markApplied(spark, sink, table, batchId)
        }
      }
      .start()

  // ==== semantic tier, frozen quantizer =====================================

  /** Persisted coarse-quantizer model: one row per centroid, ordered by
    * `cell`. The embedding twin of [[Similarity.buildIvfPqIndex]]'s
    * model sidecar, stored through the same KV sink as the corpus state
    * so the two artifacts travel together.
    */
  def quantizerSchema: StructType = new StructType()
    .add("cell", IntegerType, nullable = false)
    .add("vec", ArrayType(DoubleType, containsNull = false), nullable = false)

  private def readQuantizer(
      spark: SparkSession,
      sink: KVTableSink,
      table: String): Array[Array[Double]] =
    sink.read(spark, s"${table}__quantizer", quantizerSchema)
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  private def writeQuantizer(
      spark: SparkSession,
      sink: KVTableSink,
      table: String,
      centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    sink.write(
      centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cell", "vec"),
      s"${table}__quantizer", SaveMode.Overwrite)
  }

  /** The persisted model if one exists, else train on this batch
    * (bootstrap) and persist — the frozen tiers' one-training-pass
    * contract.
    */
  private def loadOrTrainQuantizer(
      spark: SparkSession,
      sink: KVTableSink,
      table: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      trainSample: Int): Array[Array[Double]] = {
    val persisted = readQuantizer(spark, sink, table)
    if (persisted.nonEmpty) persisted
    else {
      // bootstrap-path guard (runs once per stream): training on an
      // empty frame would crash-loop the trigger — callers must skip
      // the tier instead when the batch has no survivors
      require(batch.head(1).nonEmpty,
        s"loadOrTrainQuantizer($table): quantizer bootstrap needs a non-empty batch")
      val k =
        if (nLists > 0) nLists
        else Similarity.autoNLists(batch.select(col(idCol)).count())
      val sampleRows = math.max(trainSample, math.min(k * 16, 1 << 20))
      val trained = Similarity.trainCentroids(
        batch, idCol, vecCol, k, seed = 42L, trainSample = sampleRows)
      writeQuantizer(spark, sink, table, trained)
      trained
    }
  }

  /** One embedding batch merged into the corpus under a FROZEN quantizer
    * ([[Similarity.semanticDedupFrozen]] /
    * [[Similarity.incrementalSemanticDedupFrozen]]): no per-trigger
    * Lloyd retrain, no corpus sample collect, and — the correctness
    * point — cells are CONSISTENT across batches: a retrained quantizer
    * re-cells the corpus, silently changing which pairs can ever meet.
    * Same batch-boundary equivalence contract as [[mergeSemanticState]].
    */
  def mergeSemanticStateFrozen(
      state: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double): DataFrame =
    mergeSemanticStateFrozenWithKept(state, batch, idCol, vecCol, centroids, threshold)._2

  /** [[mergeSemanticStateFrozen]] that also returns the batch's kept-id
    * frame (eagerly materialized — the unified pipeline consumes it
    * after the state overwrite has landed).
    */
  def mergeSemanticStateFrozenWithKept(
      state: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double): (DataFrame, DataFrame) = {
    Dedup.requireNumericId(batch, idCol, "mergeSemanticStateFrozen")
    val batchVecs = batch.select(
      col(idCol).cast("long").alias("id"),
      col(vecCol).alias("vec"))
    // replay shield (same contract as the near-dup tier): the decision
    // probes the state MINUS the batch's own ids — a state row with a
    // batch row's id was persisted by a crashed earlier run of this
    // batch and must not self-match its re-arrival. The bootstrap-vs-
    // incremental branch keys off the SCREENED corpus, so a replayed
    // first batch re-takes the bootstrap path it originally took.
    val batchIds = batchVecs.select("id")
    val corpus = state.join(broadcast(batchIds), Seq("id"), "left_anti")
      .localCheckpoint(true)
    val keptIds = (
      if (corpus.head(1).isEmpty)
        Similarity.semanticDedupFrozen(batchVecs, "id", "vec", centroids, threshold)
      else
        Similarity.incrementalSemanticDedupFrozen(
          batchVecs, corpus, "id", "vec", centroids, threshold))
      .filter(col("kept") === 1L)
      .select("id")
      .localCheckpoint(true)
    // idempotent append via the shared [[appendNew]] (a replayed
    // batch's survivors must not union a second time; state side
    // scanned, never shuffled)
    (keptIds, appendNew(state, batchVecs.join(keptIds, Seq("id"))))
  }

  /** The frozen semantic tier's per-micro-batch body (factored out for
    * the replay spec): the FIRST non-empty batch trains the quantizer
    * (bounded driver-side sample, [[Similarity.trainCentroids]] rules)
    * and persists it to `${table}__quantizer`; every later batch loads
    * the persisted model and merges frozen. Refresh policy is the
    * caller's: re-train and overwrite the quantizer table during a
    * maintenance window when [[Similarity.semanticDedupFrozen]]'s
    * hot-cell check reports drift (its error text names this exact
    * remedy).
    */
  private[streaming] def applySemanticFrozenBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      threshold: Double,
      sink: KVTableSink,
      table: String,
      nLists: Int,
      trainSample: Int): Unit = {
    val spark = batch.sparkSession
    if (batch.head(1).nonEmpty && !alreadyApplied(spark, sink, table, batchId)) {
      val centroids = loadOrTrainQuantizer(
        spark, sink, table, batch, idCol, vecCol, nLists, trainSample)
      val state = sink.read(spark, table, semanticStateSchema)
      sink.write(
        mergeSemanticStateFrozen(state, batch, idCol, vecCol, centroids, threshold),
        table, SaveMode.Overwrite)
      markApplied(spark, sink, table, batchId)
    }
  }

  /** Start the FROZEN-quantizer semantic-dedup ingest — the sustained-
    * ingest deployment of [[startSemantic]]: one training pass at
    * bootstrap, then every micro-batch routes through the persisted
    * model (no per-trigger retrain; the round-11/12 carried item, now
    * wired end to end).
    */
  def startSemanticFrozen(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      sink: KVTableSink,
      table: String,
      checkpointDir: String,
      trigger: Trigger,
      nLists: Int = 0,
      trainSample: Int = 4096): StreamingQuery =
    emb.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySemanticFrozenBatch(
          batch, batchId, idCol, vecCol, threshold, sink, table, nLists, trainSample)
      }
      .start()

  // ==== unified pipeline (exact → near-dup → semantic → ANN index) ==========

  /** The complete training-data ingest in ONE `foreachBatch`: each
    * micro-batch of `(id, text, vec)` rows flows
    *
    *   exact fingerprint dedup → text near-dup (persisted LSH bands) →
    *   frozen-quantizer semantic dedup → IVF-PQ index append,
    *
    * each tier filtering the next — a doc dropped by an earlier (cheaper)
    * tier never pays a later (costlier) one, the same cost ordering a
    * batch curation pipeline uses. State tables per tier:
    * `${table}__exact` (fingerprints), `${table}__near` + band/set
    * sidecars, `${table}__sem` + quantizer sidecar, plus the ANN index
    * directory; every tier checks only deltas against its state — corpus
    * text is never re-read, re-shingled, or re-embedded.
    *
    * The tier composition is the 100 TB shape: per-trigger cost is
    * proportional to the batch; the heavy artifacts (band index, cell
    * assignments, PQ codes) are persisted and appended, never rebuilt.
    * Equivalence caveats are the tiers' own (first-wins on batch-
    * straddling sparse chains; frozen models re-celled only by explicit
    * refresh).
    */
  private[streaming] def applyUnifiedBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      vecCol: String,
      sink: KVTableSink,
      table: String,
      annIndexPath: Option[String],
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      textThreshold: Double = 0.8,
      semThreshold: Double = 0.9,
      nLists: Int = 0,
      trainSample: Int = 4096,
      annNLists: Int = 16,
      annM: Int = 16,
      annCodes: Int = 64,
      deconBench: Option[DataFrame] = None,
      deconThreshold: Double = 0.95,
      deconNProbe: Int = 4,
      lmPath: Option[String] = None,
      qualityCutoff: Double = -12.0,
      searchIndexPath: Option[String] = None,
      searchBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    if (batch.head(1).isEmpty || alreadyApplied(spark, sink, table, batchId)) return
    Dedup.requireNumericId(batch, idCol, "applyUnifiedBatch")
    val docs = batch.select(
      col(idCol).cast("long").alias("id"),
      col(textCol).cast("string").alias("text"),
      col(vecCol).alias("vec"))

    // ---- tier 1: exact — intra-batch min-id per fingerprint, then drop
    // fingerprints the corpus has already seen; state merge counts ALL
    // batch rows (dup_count stays exact).
    //
    // The keep rule is REPLAY-STABLE: keep a row when its fingerprint is
    // absent from the state OR the state's keep_id is this row's own id.
    // The second disjunct is what survives a crash between the __exact
    // write and [[markApplied]] — on replay the state already holds the
    // batch's fingerprints (with keep_id = the batch's min id for
    // fingerprints it introduced), so a bare left_anti would return an
    // EMPTY exactKept and the whole batch would silently vanish from
    // tiers 2-4, permanently. With the rule, the original survivors
    // recompute identically. (Corner: a pre-existing fingerprint whose
    // state keep_id was LOWERED to this batch's id by the crashed merge
    // re-admits that row on replay; tier 2 then drops it as an exact
    // text match of the already-kept corpus doc, so no duplicate can
    // reach the sem/ANN tiers.)
    val exactKept = {
      val exactState = sink.read(spark, s"${table}__exact", exactStateSchema)
      // NULL-SAFE fingerprint joins throughout (mergeExactState's <=>
      // contract): a null-text doc's null fingerprint is ONE dedup
      // group — the "no content" group, Dedup.exact's GROUP BY
      // semantics and the Snapshot family's null ≡ '' convention. A
      // plain equi-join would never match null keys, silently dropping
      // every null-text row from all tiers while the state still
      // counted them.
      val fp = docs.withColumn("__fp", md5(col("text")))
      val minIds = fp.groupBy("__fp")
        .agg(min(col("id")).alias("__mid"))
        .select(col("__fp").alias("__mfp"), col("__mid"))
      // state probe shape: the corpus-scale exact state STREAMS
      // map-side against the broadcast (trigger-bounded) batch
      // fingerprints, and only the matching state rows — bounded by
      // the batch — broadcast back into the keep-rule join. A direct
      // left join against the state would hash-exchange the whole
      // (fp, keep_id) table per trigger to meet one batch.
      val relevantState = exactState
        .select(col("fp").alias("__sfp"), col("keep_id").alias("__kid"))
        .join(
          broadcast(minIds.select(col("__mfp").alias("__pfp"))),
          col("__sfp") <=> col("__pfp"), "left_semi")
      val kept = fp
        .join(minIds, col("__fp") <=> col("__mfp") && col("id") === col("__mid"))
        .join(broadcast(relevantState), col("__fp") <=> col("__sfp"), "left")
        .filter(col("__kid").isNull || col("__kid") === col("id"))
        .drop("__fp", "__mfp", "__mid", "__sfp", "__kid")
        .localCheckpoint(true)
      // per-tier applied guard: the dup_count sum is the one non-idempotent
      // write in the pipeline (re-merging a batch doubles its counts), so
      // the exact tier acks its own batch id the moment its state lands
      if (!alreadyApplied(spark, sink, s"${table}__exact", batchId)) {
        sink.write(
          mergeExactState(exactState, docs, "id", "text"),
          s"${table}__exact", SaveMode.Overwrite)
        markApplied(spark, sink, s"${table}__exact", batchId)
      }
      kept
    }

    // ---- optional quality tier: exact survivors scored against a
    // FROZEN persisted bigram LM (the semantic tier's frozen-quantizer
    // contract applied to text quality); docs whose Stupid-Backoff
    // avg NLL falls below the cutoff are dropped BEFORE the expensive
    // band machinery. Ordering rationale: after exact (dup rows never
    // pay scoring — and a dropped doc's fingerprint stays in the exact
    // state as a blocker, so later copies of known junk die in tier 1
    // without being re-scored), before near (junk never pays the
    // MinHash/band-state pass). Pure function of (batch, LM, cutoff):
    // replay-stable, no state of its own. Unscorable (<2-token) docs
    // pass through — compose a length predicate upstream to kill them.
    val qualityKept = lmPath match {
      case Some(p) =>
        val lm = graft.operators.NgramLm.loadLm(spark, p)
        graft.operators.NgramLm
          .keepByQuality(exactKept, "id", "text", lm, qualityCutoff)
          .localCheckpoint(true)
      case None => exactKept
    }

    // ---- tier 2: near-dup over exact survivors (persisted band index)
    val nearKept = {
      val (nearCorpus, nearBands, nearSets) = (
        sink.read(spark, s"${table}__near", nearDupStateSchema),
        sink.read(spark, s"${table}__near__bands", nearDupBandStateSchema),
        sink.read(spark, s"${table}__near__sets", nearDupSetStateSchema))
      val (nearKeptIds, (newCorpus, newBands, newSets)) = mergeNearDupStateWithKept(
        nearCorpus, nearBands, nearSets, qualityKept, "id", "text", n, k, bands, textThreshold)
      sink.write(newCorpus, s"${table}__near", SaveMode.Overwrite)
      sink.write(newBands, s"${table}__near__bands", SaveMode.Overwrite)
      sink.write(newSets, s"${table}__near__sets", SaveMode.Overwrite)
      qualityKept.join(nearKeptIds, Seq("id")).localCheckpoint(true)
    }

    // ---- tier 3: semantic over near-dup survivors (frozen quantizer).
    // Skipped outright when tiers 1-2 dropped the whole batch — in
    // particular, the quantizer must never bootstrap-train on an empty
    // frame (a legitimately all-dup batch, or a degenerate replay).
    if (nearKept.head(1).nonEmpty) {
      val centroids = loadOrTrainQuantizer(
        spark, sink, s"${table}__sem", nearKept, "id", "vec", nLists, trainSample)

      // ---- optional decontamination tier: near-dup survivors within
      // cosine `deconThreshold` of ANY benchmark item are dropped HERE —
      // after the text tiers (so only survivors pay the probe, and a
      // contaminated doc's exact/near state rows remain as dedup
      // BLOCKERS: a later near-duplicate of a leaked benchmark item is
      // still rejected), before the semantic corpus and the ANN index
      // (so contamination never enters the retained training corpus).
      // The probe reuses the pipeline's OWN frozen quantizer — cells
      // consistent with the semantic tier by construction — and the
      // benchmark is a fixed broadcast, so the decision is a pure
      // function of (batch, benchmark, model): replay-stable, no state.
      val semIn = deconBench match {
        case Some(bench) =>
          // positional (id, vec) contract on the benchmark frame —
          // semanticMatches reads both sides through one column-name pair
          val benchNorm = bench.select(
            col(bench.columns(0)).alias("id"), col(bench.columns(1)).alias("vec"))
          val flagged = graft.operators.Decontaminate.semanticMatches(
            nearKept, benchNorm, "id", "vec", centroids,
            deconThreshold, math.min(deconNProbe, centroids.length))
            .select(col("doc_id").alias("id")).distinct()
          nearKept.join(flagged, Seq("id"), "left_anti").localCheckpoint(true)
        case None => nearKept
      }

      // an all-contaminated batch leaves nothing for the sem/ANN tiers
      // (same skip as an all-dup batch)
      if (semIn.head(1).nonEmpty) {
      val finalKept = {
        val semState = sink.read(spark, s"${table}__sem", semanticStateSchema)
        val (semKeptIds, newSemState) = mergeSemanticStateFrozenWithKept(
          semState, semIn, "id", "vec", centroids, semThreshold)
        sink.write(newSemState, s"${table}__sem", SaveMode.Overwrite)
        semIn.join(semKeptIds, Seq("id"))
      }

      // ---- tier 4: ANN index append of the final survivors. Bootstrap
      // writes the MODEL sidecar only (one-training-pass contract, same
      // as the quantizer); data rows — including the first batch's —
      // always land through the append's dynamic (cell, batch=batchId)
      // overwrite, so replaying this trigger after a crash anywhere in
      // the tier replaces its own files instead of duplicating them.
      // The existence probe goes through Hadoop's FileSystem, not
      // java.io.File — a java.io probe reports false for every
      // non-local path (HDFS/S3) and would silently rebuild the model
      // each batch.
      annIndexPath.foreach { path =>
        val vecs = finalKept.select("id", "vec").filter(col("vec").isNotNull)
        if (vecs.head(1).nonEmpty) {
          val modelPath = new org.apache.hadoop.fs.Path(
            s"$path/${Similarity.ivfPqModelDirName}")
          val fs = modelPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // heal a crashed compaction swap BEFORE the bootstrap
          // probe: a stranded root would read as "no model", retrain,
          // and orphan the whole pre-compaction index
          graft.operators.ArtifactSwap.recover(
            fs, new org.apache.hadoop.fs.Path(path), "startUnified(ann)",
            sweep = true)
          if (!fs.exists(modelPath))
            Similarity.buildIvfPqModelOnly(
              vecs, "id", "vec", path,
              nLists = annNLists, m = annM, nCodes = annCodes, trainSample = trainSample)
          Similarity.appendToIvfPqIndex(vecs, "id", "vec", path, batchId)
        }
      }

      // ---- optional search tier: the BM25 surface indexes exactly the
      // FINAL survivors — the retained training corpus, not the raw
      // stream — so a query can never surface a doc the dedup tiers
      // rejected. Delegates to [[SearchIndex.applyBatch]], which brings
      // its own per-table acks, empty-batch skip, bucket sidecar, and
      // compaction-swap recovery; its replay safety composes with the
      // surrounding tiers' because finalKept recomputes identically on
      // a crash replay (the tier-1 replay-stable keep rule).
      searchIndexPath.foreach { path =>
        SearchIndex.applyBatch(
          finalKept.select(col("id"), col("text")), batchId,
          "id", "text", path, sink, s"${table}__srch", searchBuckets)
      }
      }
    }
    markApplied(spark, sink, table, batchId)
  }

  /** Start the unified ingest — the end-to-end deployment of the whole
    * dedup family over one document stream. `deconBench` (a benchmark
    * embedding set, positionally `(id, vec)` — first column id, second
    * the vector) adds the semantic-decontamination
    * tier: near-dup survivors within cosine `deconThreshold` of any
    * benchmark item are blocked from the semantic corpus and the ANN
    * index — while their exact/near state rows still act as dedup
    * blockers, so later near-duplicates of a leaked item stay out too.
    * `lmPath` (a persisted [[graft.operators.NgramLm.saveLm]] artifact)
    * adds the frozen-LM perplexity gate between the exact and near
    * tiers: exact survivors whose Stupid-Backoff avg NLL falls below
    * `qualityCutoff` are dropped before paying any band machinery, and
    * their fingerprints remain exact-tier blockers so known junk dies
    * in tier 1 on every later appearance.
    */
  def startUnified(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      sink: KVTableSink,
      table: String,
      checkpointDir: String,
      trigger: Trigger,
      annIndexPath: Option[String] = None,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      textThreshold: Double = 0.8,
      semThreshold: Double = 0.9,
      nLists: Int = 0,
      trainSample: Int = 4096,
      annNLists: Int = 16,
      annM: Int = 16,
      annCodes: Int = 64,
      deconBench: Option[DataFrame] = None,
      deconThreshold: Double = 0.95,
      deconNProbe: Int = 4,
      lmPath: Option[String] = None,
      qualityCutoff: Double = -12.0,
      searchIndexPath: Option[String] = None,
      searchBuckets: Int = 16,
      annCompactEvery: Int = 0,
      searchCompactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyUnifiedBatch(
          batch, batchId, idCol, textCol, vecCol, sink, table, annIndexPath,
          n, k, bands, textThreshold, semThreshold, nLists, trainSample,
          annNLists, annM, annCodes, deconBench, deconThreshold, deconNProbe,
          lmPath, qualityCutoff, searchIndexPath, searchBuckets)
        // maintenance hooks AFTER the ack, on the trigger's own thread
        // — the only safe place to compact a live stream's artifacts
        // (an out-of-band compaction races the appends; see
        // compactIvfPqIndex's writer-serialization contract). A crash
        // that skips one just leaves the deltas for a later cadence.
        if (annCompactEvery > 0 && (batchId + 1) % annCompactEvery == 0)
          annIndexPath.foreach { p =>
            val root = new org.apache.hadoop.fs.Path(
              s"$p/${Similarity.ivfPqModelDirName}")
            if (root.getFileSystem(
                batch.sparkSession.sparkContext.hadoopConfiguration).exists(root))
              Similarity.compactIvfPqIndex(batch.sparkSession, p)
          }
        if (searchCompactEvery > 0 && (batchId + 1) % searchCompactEvery == 0)
          searchIndexPath.foreach(p =>
            SearchIndex.compactPostings(batch.sparkSession, p))
      }
      .start()

  /** Document RETIREMENT across EVERY unified-state artifact — the
    * takedown/opt-out/recrawl-removal path
    * ([[graft.operators.Snapshot.removedRows]]'s work list) applied in
    * one call, so a retired doc disappears from the whole deployment:
    *
    *  - **exact state**: fingerprints whose RETAINED representative
    *    (`keep_id`) is retired are deleted — the blocker's reason is
    *    gone, so a future identical doc is admitted as fresh; for
    *    fingerprints whose representative survives, `dup_count` is
    *    decremented by the retired copies it counted (history
    *    bookkeeping stays exact). Not idempotent (the decrement) →
    *    acked per `retireId` in its own meta namespace.
    *  - **near state** (corpus + band index + shingle sets) and
    *    **semantic state**: rows with retired ids are deleted — a
    *    retired representative stops blocking future near/semantic
    *    duplicates (same rationale). Pure filters, idempotent.
    *  - **ANN index**: [[Similarity.removeFromIvfPqIndex]] (same model,
    *    swap-safe, idempotent); skipped when no index exists yet. Ids
    *    absent from the index simply don't match — no over-removal is
    *    possible, so the full retirement list is safe here.
    *  - **search index**: [[SearchIndex.retire]] (postings dropped,
    *    df/corpus-stats reversed, its own acks) — runs FIRST and only
    *    for retired docs the index actually holds (final-survivor
    *    membership = the semantic state's ids, probed before the
    *    deletions below erase it; see the inline ordering note), since
    *    feeding it docs an earlier tier rejected would over-subtract
    *    the df/corpus-stats those docs never contributed.
    *
    * Deliberately NOT touched: the frozen quantizer and any persisted
    * LM — they are trained MODELS, properties of a training decision,
    * not corpus membership (retraining on the post-retirement corpus is
    * a refresh decision, exactly like any other model refresh).
    *
    * Contract mirrors [[SearchIndex.retire]]: `removedDocs` are the
    * rows AS INGESTED (same id/text/vec) and a subset of the ingested
    * stream; `retireId`s are monotone per deployment; single-writer —
    * run on the maintenance thread that owns the artifacts, never
    * concurrently with a live trigger (the compaction contract). Crash
    * anywhere and re-run with the same `retireId`: idempotent steps
    * re-filter to the same result, the acked steps skip.
    *
    * Scale shape: the search and ANN artifacts retire via TOMBSTONE
    * sidecars by default — their query paths anti-probe the
    * (takedown-sized, broadcast) id list and their compactions fold it
    * into the rewrite they already do — so the takedown's cost tracks
    * its own size, not the artifact sizes. `compactNow = true` chains
    * the eager folds (physical purge in this call — the
    * erasure-deadline path, at full-rewrite cost). The KV state tables
    * (exact/near/sem) are corpus-bounded metadata, always rewritten
    * inline as before.
    */
  def retireUnified(
      removedDocs: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      sink: KVTableSink,
      table: String,
      retireId: Long,
      annIndexPath: Option[String] = None,
      searchIndexPath: Option[String] = None,
      searchBuckets: Int = 16,
      compactNow: Boolean = false): Unit = {
    val spark = removedDocs.sparkSession
    if (alreadyApplied(spark, sink, s"${table}__retire", retireId)) return
    Dedup.requireNumericId(removedDocs, idCol, "retireUnified")
    val removed = removedDocs.select(
      col(idCol).cast("long").alias("id"),
      col(textCol).cast("string").alias("text"),
      col(vecCol).alias("vec"))
      // the exact-tier dup_count decrement and the downstream
      // df/corpus-stats subtractions are NOT idempotent per row: a
      // work list carrying the same id twice would double-subtract
      // silently (the delete paths were already immune — `ids` is
      // distinct'ed). One row per id, like [[SearchIndex.retire]]
      .dropDuplicates("id")
      .localCheckpoint(true)
    val ids = removed.select("id").localCheckpoint(true)

    // SEARCH FIRST, and only for docs that actually REACHED the search
    // index: the index holds the FINAL survivors — exactly the semantic
    // state's membership — while the retirement list may include docs
    // an earlier tier dropped (an exact dup, a near-dup, a sem-reject
    // that never got indexed). Feeding those to SearchIndex.retire
    // would over-subtract df/corpus-stats for docs the index never
    // counted. The membership probe must read the sem state BEFORE the
    // deletions below remove it, and the search step must come first so
    // a crash-replay still sees the membership (crash before the search
    // ack → sem state intact, same probe recomputes; crash after → the
    // ack skips it).
    searchIndexPath.foreach { path =>
      // membership probe shape: the corpus-scale sem state streams
      // map-side against the broadcast takedown ids (never the other
      // way round — an un-hinted `removed ⋉ state` semi would shuffle
      // the whole state id column to meet a takedown-sized frame)
      val memberIds = sink.read(spark, s"${table}__sem", semanticStateSchema)
        .select("id")
        .join(broadcast(ids), Seq("id"), "left_semi")
      val searchRemoved = removed
        .join(broadcast(memberIds), Seq("id"), "left_semi")
        .localCheckpoint(true)
      if (searchRemoved.head(1).nonEmpty)
        SearchIndex.retire(
          searchRemoved.select(col("id"), col("text")), "id", "text",
          path, sink, s"${table}__srch", retireId, compactNow = compactNow)
    }

    // exact tier (acked — the dup_count decrement must apply once)
    if (!alreadyApplied(spark, sink, s"${table}__exact__retire", retireId)) {
      val state = sink.read(spark, s"${table}__exact", exactStateSchema)
      val rem = removed.select(md5(col("text")).alias("fp"), col("id"))
      // fingerprints whose retained representative is being retired
      // (bounded by the retirement list — broadcast EXPLICITLY: the
      // checkpoint lineage carries no stats, so without the hint the
      // state would hash-exchange on fp to meet a takedown-sized
      // probe)
      // null-safe fingerprint joins (the mergeExactState <=> contract:
      // null text = the one "no content" group)
      val dropFps = state.alias("s")
        .join(broadcast(rem.alias("r")),
          col("s.fp") <=> col("r.fp") && col("s.keep_id") === col("r.id"),
          "left_semi")
        .select("fp")
      val nrm = rem.groupBy("fp").agg(count(lit(1)).alias("__nrm"))
      val adjusted = state
        .join(broadcast(dropFps.select(col("fp").alias("__dfp"))),
          col("fp") <=> col("__dfp"), "left_anti")
        .join(broadcast(nrm.select(col("fp").alias("__nfp"), col("__nrm"))),
          col("fp") <=> col("__nfp"), "left")
        .select(
          col("fp"), col("keep_id"),
          (col("dup_count") - coalesce(col("__nrm"), lit(0L))).alias("dup_count"))
      sink.write(adjusted, s"${table}__exact", SaveMode.Overwrite)
      markApplied(spark, sink, s"${table}__exact__retire", retireId)
    }

    // near + semantic states: pure id filters (idempotent; state side
    // streams map-side against the EXPLICITLY broadcast retirement ids
    // — the checkpoint lineage carries no stats, so relying on AQE to
    // notice the small side leaves the plan one heuristic away from a
    // full-state shuffle per takedown)
    def deleteIds(tbl: String, schema: StructType): Unit =
      sink.write(
        sink.read(spark, tbl, schema).join(broadcast(ids), Seq("id"), "left_anti"),
        tbl, SaveMode.Overwrite)
    deleteIds(s"${table}__near", nearDupStateSchema)
    deleteIds(s"${table}__near__bands", nearDupBandStateSchema)
    deleteIds(s"${table}__near__sets", nearDupSetStateSchema)
    deleteIds(s"${table}__sem", semanticStateSchema)

    // ANN index (idempotent, swap-safe); a deployment that never wrote
    // one — or whose first batch hasn't landed — has nothing to retire
    annIndexPath.foreach { path =>
      val model = new org.apache.hadoop.fs.Path(
        s"$path/${Similarity.ivfPqModelDirName}")
      if (model.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(model))
        Similarity.removeFromIvfPqIndex(spark, path, ids, "id", compactNow = compactNow)
    }

    markApplied(spark, sink, s"${table}__retire", retireId)
  }

  /** The RETAINED corpus ids substantially similar to a takedown list —
    * "remove this content and everything near-duplicate of it", the
    * expansion a real takedown (copyright, PII, opt-out) usually
    * requires, since the near/sem tiers only ever retained ONE
    * representative per near-dup cluster: the others were dropped, so
    * the retained doc carrying the offending content may well not be
    * the doc named in the takedown. Computed ENTIRELY against the
    * persisted band/set state — the retained corpus's text is never
    * read: the takedown docs' band keys probe the band index
    * (candidates), exact Jaccard verifies against the stored shingle
    * sets, and only verified corpus ids come back (the takedown's own
    * ids excluded). Feed the result, joined to the near-corpus state
    * for full rows, into [[retireUnified]] alongside the original list.
    *
    * This is also why the near/sem tiers deliberately have NO
    * [[reRepresentRows]] analogue: a doc near-dup-dropped at ingest is
    * a near-copy of its retired representative — under a content
    * takedown it should be retired WITH it (this expansion), not
    * re-admitted; re-representation is exact-tier semantics only
    * (byte-identical content whose only sin was redundancy).
    */
  def similarToRetired(
      sink: KVTableSink,
      table: String,
      removedDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val spark = removedDocs.sparkSession
    Dedup.requireNumericId(removedDocs, idCol, "similarToRetired")
    val rem = removedDocs.select(
      col(idCol).cast("long").alias("id"), col(textCol).cast("string").alias("text"))
      .localCheckpoint(true)
    val bandState = sink.read(spark, s"${table}__near__bands", nearDupBandStateSchema)
    val setState = sink.read(spark, s"${table}__near__sets", nearDupSetStateSchema)
    // takedown side is batch-bounded: its band table broadcasts into
    // the candidate probe and its shingle sets into the verify join —
    // the state only ever streams (the appendNew discipline)
    val bandR = Dedup.bandTable(rem, "id", "text", n, k, bands)
      .select(col("id").alias("id_r"), col("band"), col("key"))
    val cand = bandState
      .join(broadcast(bandR), Seq("band", "key"))
      .select(col("id").alias("id_c"), col("id_r"))
      .distinct()
    val setsR = Dedup.shingleSetTable(rem, "id", "text", n)
      .select(col("id").alias("id_r"), col("hs").alias("hs_r"))
    cand
      .join(setState.select(col("id").alias("id_c"), col("hs").alias("hs_c")), Seq("id_c"))
      .join(broadcast(setsR), Seq("id_r"))
      .filter(Dedup.jaccardSorted(col("hs_c"), col("hs_r")) >= threshold)
      .select(col("id_c").alias("id"))
      .distinct()
      .join(broadcast(rem.select("id")), Seq("id"), "left_anti")
  }

  /** [[similarToRetired]]'s SEMANTIC twin: retained corpus ids whose
    * EMBEDDING sits within cosine `threshold` of any takedown doc's —
    * the paraphrase expansion the text bands cannot see (reworded
    * copies of removed content), probed against the semantic tier's
    * own state and FROZEN quantizer (cells consistent with the tier's
    * dedup decisions by construction; the
    * [[graft.operators.Decontaminate.semanticMatches]] machinery with
    * the takedown as the "benchmark" side). Takedown vectors
    * broadcast; the state only streams. Union with the band-state
    * expansion for a full similarity takedown.
    */
  def semanticSimilarToRetired(
      sink: KVTableSink,
      table: String,
      removedDocs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.9,
      nProbe: Int = 4): DataFrame = {
    val spark = removedDocs.sparkSession
    Dedup.requireNumericId(removedDocs, idCol, "semanticSimilarToRetired")
    val centroids = readQuantizer(spark, sink, s"${table}__sem")
    require(centroids.nonEmpty,
      s"semanticSimilarToRetired: no persisted quantizer for $table (nothing ingested yet?)")
    val rem = removedDocs.select(
      col(idCol).cast("long").alias("id"), col(vecCol).alias("vec"))
      .localCheckpoint(true)
    graft.operators.Decontaminate.semanticMatches(
      sink.read(spark, s"${table}__sem", semanticStateSchema),
      rem, "id", "vec", centroids,
      threshold, math.min(nProbe, centroids.length))
      .select(col("doc_id").alias("id"))
      .distinct()
      .join(broadcast(rem.select("id")), Seq("id"), "left_anti")
  }

  /** The rows of a NEW snapshot that must RE-INGEST alongside a
    * retirement — the refresh contract's third work list, beside
    * [[graft.operators.Snapshot.removedRows]] (retire) and
    * [[graft.operators.Snapshot.delta]] (ingest):
    *
    * content whose retained REPRESENTATIVE is being retired, but which
    * the new snapshot still contains through never-retained duplicate
    * rows. Those rows exist in the artifacts only as a `dup_count`
    * under the representative's fingerprint — [[retireUnified]]
    * rightly deletes that fingerprint (its retained doc is gone), so
    * without re-ingesting them the content silently vanishes from
    * every artifact even though the snapshot kept it, and a fresh
    * build of the new snapshot would retain it.
    *
    * Shape: the dropped-fingerprint list is bounded by the retirement
    * list (state side streams through the semi-probe, the
    * [[appendNew]] discipline), and the new snapshot pays one
    * scan-side fingerprint projection. MUST be computed BEFORE
    * [[retireUnified]] runs — it reads the exact state the retirement
    * is about to rewrite. A NEW arrival whose content matches a
    * dropped fingerprint appears in this list AND in the delta (both
    * definitions legitimately claim it), so the refresh recipe unions
    * BY KEY: `reRepresent = reRepresentRows(...);
    * retireUnified(removed);
    * ingest((delta ∪ reRepresent).dropDuplicates(key))` — spec-pinned
    * equal to a fresh unified build of the new snapshot.
    */
  def reRepresentRows(
      sink: KVTableSink,
      table: String,
      removedDocs: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val spark = removedDocs.sparkSession
    val state = sink.read(spark, s"${table}__exact", exactStateSchema)
    val rem = removedDocs.select(
      md5(col(textCol)).alias("fp"), col(idCol).cast("long").alias("id"))
    // fingerprints whose retained representative is in the retirement
    // list — exactly the rows retireUnified's exact tier will drop
    // (takedown-sized probe, broadcast explicitly like the tier's own)
    val dropFps = state.alias("s")
      .join(broadcast(rem.alias("r")),
        col("s.fp") <=> col("r.fp") && col("s.keep_id") === col("r.id"),
        "left_semi")
      .select("fp")
    newSnap
      .join(broadcast(dropFps.withColumnRenamed("fp", "__dfp")),
        md5(col(textCol)) <=> col("__dfp"), "left_semi")
      .join(
        broadcast(removedDocs.select(col(idCol).cast("long").alias("__rid")).distinct()),
        col(idCol).cast("long") === col("__rid"), "left_anti")
  }

  // ==== ANN index tier ======================================================

  /** The ANN-index tier's per-micro-batch body (factored out for the
    * replay spec): non-empty batches append to the persisted index via
    * [[Similarity.appendToIvfPqIndex]] — routed and encoded with the
    * index's FROZEN model, so cells and codes stay consistent with
    * every row already indexed and partition-pruned queries
    * ([[Similarity.ivfPqTopKFromIndex]] / [[Similarity.knnJoinFromIndex]])
    * see the union as soon as the batch lands.
    *
    * Exactly-once here does NOT hinge on the batch-id meta alone: the
    * append keyed by `batchId` is a dynamic overwrite of its own
    * `(cell, batch)` partitions, so a trigger replayed after a crash
    * BETWEEN the index write and [[markApplied]] replaces the
    * half-landed files instead of duplicating them. The meta guard is
    * the fast path (skip the whole batch), not the safety argument.
    */
  private[streaming] def applyAnnBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      indexPath: String,
      sink: KVTableSink,
      table: String): Unit = {
    val spark = batch.sparkSession
    if (!alreadyApplied(spark, sink, table, batchId)) {
      if (batch.filter(col(vecCol).isNotNull).head(1).nonEmpty)
        Similarity.appendToIvfPqIndex(batch, idCol, vecCol, indexPath, batchId)
      markApplied(spark, sink, table, batchId)
    }
  }

  /** Start the ANN-index ingest: every micro-batch of `(id, vec)` rows
    * appends to an EXISTING [[Similarity.buildIvfPqIndex]] artifact at
    * `indexPath` (bootstrap: build it once on the initial corpus slice;
    * re-train + rebuild stays a batch decision, taken on model drift,
    * not a streaming one). Replays are idempotent structurally: each
    * batch lands as its own `(cell, batch=batchId)` partitions via
    * dynamic overwrite, so a re-run replaces its own files — the
    * sidecar batch-id meta only short-circuits the recompute (see
    * [[applyAnnBatch]]).
    */
  def startAnnIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      sink: KVTableSink,
      table: String,
      checkpointDir: String,
      trigger: Trigger,
      compactEvery: Int = 0): StreamingQuery =
    emb.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAnnBatch(batch, batchId, idCol, vecCol, indexPath, sink, table)
        // maintenance, not correctness: a crash that skips this pass
        // just leaves the deltas for a later trigger's compaction;
        // compaction after the ack so a replayed batch never compacts
        // mid-append. Every N batches bounds the artifact's file count
        // at ~(occupied cells) + N * (cells touched per trigger).
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Similarity.compactIvfPqIndex(batch.sparkSession, indexPath)
      }
      .start()
}
