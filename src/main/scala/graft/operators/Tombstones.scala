package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Tombstone sidecar for persisted index artifacts (postings, IVF-PQ
  * codes): the scale-safe retirement shape.
  *
  * A takedown batch used to rewrite the ENTIRE artifact (anti-join +
  * swap) — correct, but at 100 TB each retirement pays a full index
  * rebuild's I/O. Instead, retired ids are APPENDED to a hidden
  * `_graft_tombstones` parquet directory inside the artifact root;
  * query paths anti-probe it (the list is takedown-sized between
  * compactions — broadcast by contract), and the compaction jobs the
  * artifacts already run fold the tombstones into the rewrite they
  * were doing anyway. Retire latency then tracks the TAKEDOWN size,
  * not the corpus size; the full rewrite still happens, but on the
  * maintenance cadence, amortized into compaction.
  *
  * Why inside the root: the leading underscore hides the directory
  * from parquet partition discovery (queries over the artifact never
  * see it as data), and the artifact's write-then-swap lifecycle then
  * manages it for free — a compaction's swapped-in replacement simply
  * has no tombstone dir (the fold consumed it), and
  * [[ArtifactSwap.recover]]'s rename-back restores root and sidecar
  * together, so the mask can never be lost while its artifact
  * survives.
  *
  * Ids are stored as LONG (both artifact families key on numeric ids;
  * callers cast on read where the artifact's id column is narrower).
  * Duplicate tombstone rows are harmless by construction — the mask
  * is an anti-join and the compaction fold is an anti-join — so a
  * crash-replayed append never corrupts anything.
  */
private[graft] object Tombstones {

  private val DirName = "_graft_tombstones"

  private val schema: StructType = new StructType()
    .add("__tomb_id", LongType, nullable = false)

  private def dir(root: Path): Path = new Path(root, DirName)

  /** Append `ids` (any numeric column `idCol`) to the artifact's
    * tombstone sidecar. The artifact root must exist (an absent
    * artifact has nothing to mask).
    */
  def append(ids: DataFrame, idCol: String, rootDir: String): Unit = {
    ids
      .select(col(idCol).cast(LongType).alias("__tomb_id"))
      .filter(col("__tomb_id").isNotNull)
      .distinct()
      // a takedown batch is bounded by contract (ids only, one long
      // each) — one file keeps the sidecar's file count proportional
      // to the number of retire calls since the last compaction, not
      // to the session's shuffle parallelism
      .coalesce(1)
      .write.mode(SaveMode.Append)
      .parquet(new Path(new Path(rootDir), DirName).toString)
  }

  /** The current tombstone ids, or None when the artifact carries no
    * sidecar (or an empty one — a replayed append can commit the
    * directory before any rows). Explicit schema: an empty parquet
    * directory has nothing to infer from and would throw.
    */
  def read(spark: SparkSession, fs: FileSystem, rootDir: String): Option[DataFrame] = {
    val d = dir(new Path(rootDir))
    if (!fs.exists(d)) None
    else {
      val hasRows = fs.listStatus(d)
        .exists(s => s.getLen > 0 && !s.getPath.getName.startsWith("_"))
      if (!hasRows) None
      else Some(spark.read.schema(schema).parquet(d.toString).distinct())
    }
  }

  /** Anti-probe: drop `df` rows whose `idCol` is tombstoned. The
    * tombstone side is broadcast — bounded by the takedown volume
    * since the last compaction, never by the corpus.
    */
  def mask(df: DataFrame, idCol: String, spark: SparkSession, fs: FileSystem,
      rootDir: String): DataFrame =
    read(spark, fs, rootDir) match {
      case None => df
      case Some(t) =>
        df.join(
          broadcast(t),
          df(idCol).cast(LongType) === t("__tomb_id"),
          "left_anti")
    }
}
