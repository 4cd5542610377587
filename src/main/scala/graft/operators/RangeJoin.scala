package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval (range) join — pair each POINT row (a timestamp) with every
  * INTERVAL row `[start, end]` that contains it, optionally under
  * additional equi keys. Spark has no native range join: the direct
  * formulation is a theta-join (`p.ts BETWEEN i.start AND i.end`),
  * which Catalyst can only plan as a BroadcastNestedLoop — or, with an
  * equi key, an equi-join whose inequality RESIDUAL examines every
  * key's points × intervals: Σ_k p_k·i_k pairs, quadratic in per-key
  * density. At sparse keys that residual is competitive (measured:
  * 0.8× on the sf0.1 event log, BASELINE.md round 16); as keys densify
  * — longer retention, more traffic per entity, coarser keys — it
  * diverges quadratically while the bucketed form stays linear
  * (14× faster at 10× volume with 10 keys; see BASELINE.md). With no
  * equi key at all the theta-join needs one side broadcast — a driver
  * OOM at corpus scale.
  *
  * This is the standard bin-bucketing restatement (the same trick
  * behind Databricks' range-join hint and interval joins in genomics
  * engines like Hail): pick a bin width `W`; an interval covers bins
  * `floor(start/W) .. floor(end/W)`, a point lives in exactly ONE bin
  * `floor(ts/W)`, and a containing interval necessarily covers the
  * point's bin — so candidates come from a plain EQUI-join on
  * `(keys..., bin)` and the exact predicate only runs on candidates.
  * Because the point's bin is unique, each qualifying (point, interval)
  * pair meets exactly once: no post-join dedup, no duplicate
  * candidates to pay for.
  *
  * Scale shape, and why it survives 100 TB:
  *  - ONE shuffle per side, on scalar `(keys, bin)` — both sides hash
  *    exchange like any equi-join, AQE handles skewed bins, and the
  *    whole join stays inside whole-stage codegen (the residual
  *    containment filter is two timestamp comparisons);
  *  - interval replication is bounded by `len/W + 1` rows per interval
  *    — pick `W` near the MAX interval length and the explode factor
  *    is ≤ 2 (callers with mixed horizons can split the interval table
  *    by length decade and union joins at per-decade widths);
  *  - no broadcast of either side is required (unlike the
  *    nested-loop fallback, which NEEDS one side driver-sized).
  *
  * Boundary semantics are explicit (`lowerInclusive`/`upperInclusive`);
  * intervals with `end < start` match nothing and are dropped (Spark's
  * `sequence(a, b)` would otherwise COUNT DOWN and fabricate bins).
  * Null timestamps / bounds never match (SQL comparison semantics; the
  * bin computation also nulls out, so they never reach the join).
  *
  * Output: all point columns + all interval columns (equi keys merged);
  * callers ensure the non-key names are disjoint, like any `join`.
  *
  * The reference has no joins beyond a keyed full-outer state merge
  * (`RedisInterface.scala:62-66`); this is part of the
  * training-pipeline extension surface (event attribution, time-range
  * tagging, log-to-window alignment).
  */
object RangeJoin {

  /** @param points     point side; `tsCol` must be a TimestampType column
    * @param tsCol      point timestamp column name
    * @param intervals  interval side; `startCol`/`endCol` TimestampType
    * @param keyCols    extra equi keys present on BOTH sides (may be empty —
    *                   then the join keys on the bin alone)
    * @param binWidthSec bin width in seconds; choose ≈ the max interval
    *                   length so each interval explodes into ≤ 2 bins
    * @param lowerInclusive ts == start matches (default true)
    * @param upperInclusive ts == end matches (default true)
    * @param maxBinsPerInterval fail-fast cap on per-interval explode
    *                   fan-out: a mis-sized `W` (or a corrupt
    *                   centuries-long interval) would otherwise
    *                   silently explode one row into millions —
    *                   an executor OOM with no actionable message.
    *                   Raise it deliberately for genuinely long
    *                   horizons; better: split the interval table by
    *                   length decade and union per-decade joins.
    */
  def intervalJoin(
      points: DataFrame,
      tsCol: String,
      intervals: DataFrame,
      startCol: String,
      endCol: String,
      keyCols: Seq[String],
      binWidthSec: Long,
      lowerInclusive: Boolean = true,
      upperInclusive: Boolean = true,
      maxBinsPerInterval: Int = 10000): DataFrame = {
    require(binWidthSec > 0, s"binWidthSec must be positive, got $binWidthSec")
    require(maxBinsPerInterval > 0,
      s"maxBinsPerInterval must be positive, got $maxBinsPerInterval")
    val binMicros = lit(binWidthSec * 1000000L)
    def bin(ts: Column): Column = floor(unix_micros(ts) / binMicros)

    val p = points.withColumn("__bin", bin(col(tsCol)))
    // the cap is checked ARITHMETICALLY (scalar bin count), before the
    // sequence array is ever built — guarding on size(sequence(...))
    // would materialize the very allocation it guards against
    val nBins = bin(col(endCol)) - bin(col(startCol)) + lit(1L)
    val guardedSeq = when(
      nBins <= maxBinsPerInterval,
      sequence(bin(col(startCol)), bin(col(endCol))))
      .otherwise(raise_error(concat(
        lit(s"intervalJoin: interval spans "), nBins.cast("string"),
        lit(s" bins > maxBinsPerInterval=$maxBinsPerInterval at binWidthSec=$binWidthSec; " +
          "widen the bin or split the interval table by length"))))
    val i = intervals
      // end < start matches nothing; sequence() would count DOWN
      .filter(col(endCol) >= col(startCol))
      .withColumn("__bin", explode(guardedSeq))

    val lower =
      if (lowerInclusive) col(tsCol) >= col(startCol) else col(tsCol) > col(startCol)
    val upper =
      if (upperInclusive) col(tsCol) <= col(endCol) else col(tsCol) < col(endCol)

    p.join(i, (keyCols :+ "__bin").toIndexedSeq)
      .filter(lower && upper)
      .drop("__bin")
  }
}
