package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming per-group admission quota — the incremental form of
  * [[graft.operators.Sampling.capPerGroup]] (q147's per-domain cap):
  * a stream admits each group's FIRST `cap` documents in arrival
  * order and drops the rest, so a crawl front door enforces "no
  * domain exceeds N docs" while ingesting, instead of quota-ing in a
  * batch pass after the crawl landed.
  *
  * Semantics vs the batch operator: the batch cap picks each group's
  * winners by the seeded-hash order over the WHOLE corpus (a sample);
  * a stream cannot reorder the future, so admission here is
  * first-come (within a trigger, `(group, id)` order — deterministic
  * given the trigger composition, replay-safe). First-come is the
  * semantic a live front door actually wants: already-admitted docs
  * are never retroactively evicted by later arrivals.
  *
  * Scale shape: state is ONE long per group (the admitted count) —
  * groups are domains/sources, FEW by contract (the same cardinality
  * contract as the batch operator's broadcast rate table); each
  * trigger shuffles only `(group, id, payload)` rows into per-group
  * state. A group-cardinality explosion (per-URL "groups") is the
  * caller bug this family documents rather than absorbs.
  */
object StreamQuota {

  final case class QuotaIn(group: String, docId: Long)
  final case class QuotaOut(group: String, doc_id: Long, admitted_rank: Long)

  /** `(idCol, groupCol)` stream → admitted `(group, doc_id,
    * admitted_rank)` rows (rank 0-based within the group, < cap).
    */
  def admit(
      stream: DataFrame,
      idCol: String,
      groupCol: String,
      cap: Long): Dataset[QuotaOut] = {
    require(cap > 0, s"cap must be positive, got $cap")
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    stream
      .select(
        col(groupCol).cast("string").as("group"),
        col(idCol).cast("long").as("docId"))
      .as[QuotaIn]
      .groupByKey(_.group)
      .flatMapGroupsWithState[Long, QuotaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (group: String, rows: Iterator[QuotaIn], state: GroupState[Long]) =>
          var admitted = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.docId).iterator
            .takeWhile(_ => admitted < cap)
            .map { r =>
              val o = QuotaOut(group, r.docId, admitted)
              admitted += 1
              o
            }
            .toVector
          state.update(admitted)
          out.iterator
      }
  }

  final case class DocIn(
      group: String, docId: Long, text: String, embedding: Seq[Float])
  final case class DocOut(
      group: String, doc_id: Long, admitted_rank: Long,
      text: String, embedding: Seq[Float])

  /** [[admit]] carrying the document payload through — the form that
    * CHAINS in front of a gate + ingest composition (quota first, so
    * every downstream stage sees the quota'd stream, the batch
    * pipeline's front-door order, BASELINE.md round 17). The
    * per-trigger exchange routes the trigger's
    * `(group, id, text, embedding)` rows onto group keys — bounded by
    * the trigger by contract (the [[StreamPack]] materialize-then-sort
    * trade); dropped rows never reach the gate, the dedup state, or
    * the observers. Same first-come semantics and one-long-per-group
    * state as [[admit]].
    */
  def admitDocs(
      stream: DataFrame,
      idCol: String,
      groupCol: String,
      textCol: String,
      embCol: String,
      cap: Long): Dataset[DocOut] = {
    require(cap > 0, s"cap must be positive, got $cap")
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    stream
      .select(
        col(groupCol).cast("string").as("group"),
        col(idCol).cast("long").as("docId"),
        col(textCol).cast("string").as("text"),
        col(embCol).as("embedding"))
      .as[DocIn]
      .groupByKey(_.group)
      .flatMapGroupsWithState[Long, DocOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (group: String, rows: Iterator[DocIn], state: GroupState[Long]) =>
          var admitted = state.getOption.getOrElse(0L)
          // materialized strictly BEFORE state.update (the family rule)
          val out = rows.toSeq.sortBy(_.docId).iterator
            .takeWhile(_ => admitted < cap)
            .map { r =>
              val o = DocOut(group, r.docId, admitted, r.text, r.embedding)
              admitted += 1
              o
            }
            .toVector
          state.update(admitted)
          out.iterator
      }
  }
}
