package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — the change-data report between two versions of
  * a keyed table (yesterday's crawl vs today's, the pre- and post-clean
  * corpus, a vendor refresh): which keys were ADDED, REMOVED, or
  * CHANGED. The audit artifact every incremental re-train / re-dedup /
  * re-index decision starts from — feed the changed+added keys to the
  * incremental dedup tiers instead of re-running the corpus.
  *
  * Shape, and why it survives 100 TB: each side is reduced SCAN-SIDE to
  * `(key, md5-fingerprint)` — the content columns (typically the
  * document text) are hashed in the scan projection and never cross the
  * shuffle, so the full-outer join moves 32 hex chars per row, not
  * documents. The join keys on the scalar id (sort-merge at scale; a
  * full-outer join has no broadcastable side by construction), and
  * `unchanged` rows — the overwhelming majority between adjacent
  * snapshots — are filtered immediately after the join, before anything
  * downstream.
  *
  * Fingerprint contract: content columns are cast to string,
  * null-coalesced to `''` (a null and an empty string compare equal —
  * documented trade for a total function), and joined with `\u0001`
  * (never a printable char, so adjacent columns cannot alias). md5 is
  * byte-identical across engines — the same cross-engine-stable choice
  * as the dedup family's hash keys.
  */
object Snapshot {

  /** `(key, md5(contentCols))` fingerprint — exposed so callers can
    * persist a snapshot's fingerprint table and diff against it later
    * without re-reading the old snapshot's content.
    */
  def fingerprint(contentCols: Seq[String]): Column = {
    require(contentCols.nonEmpty, "Snapshot.fingerprint: no content columns")
    md5(concat_ws("\u0001",
      contentCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*))
  }

  /** Diff report: one row per key whose membership or content changed
    * between `oldSnap` and `newSnap` —
    * `(keyCol, status ∈ added|removed|changed, old_fp, new_fp)`.
    * Fingerprints are `''` on the side where the key is absent (never
    * null — the driver-side hash compare is null-hostile). Keys present
    * in both snapshots with identical content emit nothing.
    */
  def diff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCol: String,
      contentCols: Seq[String]): DataFrame = {
    val o = oldSnap.select(col(keyCol), fingerprint(contentCols).alias("old_fp"))
    val n = newSnap.select(col(keyCol), fingerprint(contentCols).alias("new_fp"))
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(
        col(keyCol),
        col("status"),
        coalesce(col("old_fp"), lit("")).alias("old_fp"),
        coalesce(col("new_fp"), lit("")).alias("new_fp"))
  }

  /** The refresh WORK LIST a diff implies: the new-snapshot rows whose
    * keys were added or changed — exactly what an incremental refresh
    * (e.g. `Dedup.incrementalNearDup`) must process, instead of the
    * whole new snapshot. A semi-join of `newSnap` against the diff
    * keys, so full rows (with content) come back but nothing is
    * duplicated or widened. `delta ∪ unchanged-rows = newSnap`
    * partition-exactly, and `|delta|` — not `|newSnap|` — is what the
    * downstream re-curation pays; between adjacent snapshots of a
    * 100 TB corpus that is the whole point.
    */
  def delta(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCol: String,
      contentCols: Seq[String]): DataFrame =
    newSnap.join(
      diff(oldSnap, newSnap, keyCol, contentCols)
        .filter(col("status").isin("added", "changed"))
        .select(keyCol),
      Seq(keyCol), "left_semi")

  /** Keys present only in the old snapshot — the retirement list the
    * downstream state tables (fingerprints, postings, index cells)
    * subtract.
    */
  def removedKeys(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCol: String,
      contentCols: Seq[String]): DataFrame =
    diff(oldSnap, newSnap, keyCol, contentCols)
      .filter(col("status") === "removed")
      .select(keyCol)
}
