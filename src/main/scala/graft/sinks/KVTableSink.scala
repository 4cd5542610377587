package graft.sinks

import graft.operators.KVTable
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.util.Try

/** Key-value table sink/store — the engine's replacement for the
  * reference's Redis layer (`/root/reference/src/main/scala/TwitchStream/RedisInterface.scala`):
  *
  *  - `write` with `Overwrite` = the per-batch "current totals snapshot"
  *    (`SparkRunner.scala:140-143`), `Append` = per-batch log
  *    (`DStreamTests.sc:268-281`);
  *  - `read` returns an EMPTY frame with the requested schema when the
  *    table is missing or unreadable (`RedisInterface.scala:44,54`) — so
  *    first-batch merges need no special casing;
  *  - `merge` is the read-modify-write running-total update
  *    (`RedisInterface.scala:61-73`), built on `KVTable.merge`.
  *
  * `ttlSeconds` mirrors the reference's Redis TTL map (0 = keep forever);
  * implementations may expire on read.
  */
trait KVTableSink extends Serializable {
  def write(df: DataFrame, table: String, mode: SaveMode = SaveMode.Overwrite, ttlSeconds: Int = 0): Unit
  def read(spark: SparkSession, table: String, schema: StructType): DataFrame

  def merge(spark: SparkSession, table: String, updates: DataFrame, key: String, sumCol: String): Unit = {
    val current = read(spark, table, updates.schema)
    write(KVTable.merge(current, updates, key, sumCol), table, SaveMode.Overwrite)
  }

  /** Empty frame with the given schema — the shared fallback contract. */
  protected def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
}

/** Parquet-directory store: one dir per table under `rootDir`.
  *
  * Snapshot-overwrite writes the new table to a temp dir, then moves the
  * old dir aside and the temp dir in (two `ATOMIC_MOVE`s), so the table
  * dir never holds a half-written snapshot (the reference's per-batch
  * Overwrite is not atomic — SURVEY.md §7.4 hard-part #1; single writer).
  * Readers are not isolated from the swap: between the two moves the
  * table dir is absent and `read` returns the empty frame, and a read
  * planned before the swap can fail once the old dir is deleted.
  */
final class ParquetKVSink(rootDir: String) extends KVTableSink {
  private def dir(table: String): Path = Paths.get(rootDir, table)

  override def write(df: DataFrame, table: String, mode: SaveMode, ttlSeconds: Int): Unit =
    mode match {
      case SaveMode.Overwrite =>
        val tmp = Paths.get(rootDir, s".${table}_tmp_${System.nanoTime()}")
        df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val target = dir(table)
        val old = Paths.get(rootDir, s".${table}_old_${System.nanoTime()}")
        if (Files.exists(target)) Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(old)) deleteRecursively(old)
      case m =>
        df.write.mode(m).parquet(dir(table).toString)
    }

  override def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    Try(spark.read.schema(schema).parquet(dir(table).toString))
      .getOrElse(emptyFrame(spark, schema))

  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
  }
}

/** Driver-memory store for tests and examples. Thread-safe; honors TTL by
  * expiring on read.
  */
final class InMemoryKVSink extends KVTableSink {
  private case class Entry(schema: StructType, rows: Seq[Row], expiresAtMs: Long)
  private val tables = TrieMap.empty[String, Entry]

  override def write(df: DataFrame, table: String, mode: SaveMode, ttlSeconds: Int): Unit = {
    val rows = df.collect().toSeq
    val expiry = if (ttlSeconds <= 0) Long.MaxValue else System.currentTimeMillis() + ttlSeconds * 1000L
    tables.updateWith(table) {
      case Some(e) if mode == SaveMode.Append && e.expiresAtMs > System.currentTimeMillis() =>
        Some(Entry(df.schema, e.rows ++ rows, expiry))
      case _ => Some(Entry(df.schema, rows, expiry))
    }
  }

  override def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    tables.get(table) match {
      case Some(e) if e.expiresAtMs > System.currentTimeMillis() =>
        spark.createDataFrame(spark.sparkContext.parallelize(e.rows), e.schema)
      case _ => emptyFrame(spark, schema)
    }

  def snapshot(table: String): Seq[Row] = tables.get(table).map(_.rows).getOrElse(Seq.empty)
  def tableNames: Set[String] = tables.keySet.toSet
}
