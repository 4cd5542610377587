package graft.sinks

import graft.operators.KVTable
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
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

/** Parquet store: one table per `<rootDir>/<table>`, driver-sized by
  * contract (the reference kept these tables in Redis hashes).
  *
  * Every `write` collects `df` once and writes it as ONE snappy Parquet
  * file on the driver, through Spark's own `ParquetFileFormat` writer
  * (same schema, row metadata and Hadoop `.crc` as `df.write.parquet`).
  * The collect is `executedPlan.executeCollect()`, so a driver-local
  * frame is written without starting a Spark job. `Append` keeps the
  * live files (hard links) and adds one; any other mode replaces them.
  *
  * Versions: each write builds `<rootDir>/.<table>.v/<n>/` and then
  * flips the symlink `<rootDir>/<table>` to it with one `ATOMIC_MOVE`,
  * so the table path always names a complete snapshot and a reader
  * never finds it missing (single writer). `read` resolves the link
  * first, so a read planned on version n keeps reading version n; it
  * stays on disk until version n + 2 is published, when every version
  * older than the live one's predecessor is deleted. A real directory
  * left at `<rootDir>/<table>` by the earlier layout is moved into the
  * versions dir by the next write.
  */
final class ParquetKVSink(rootDir: String) extends KVTableSink {
  private def link(table: String): Path = Paths.get(rootDir, table)
  private def versionsDir(table: String): Path = Paths.get(rootDir, s".$table.v")

  override def write(df: DataFrame, table: String, mode: SaveMode, ttlSeconds: Int): Unit = {
    val rows = df.queryExecution.executedPlan.executeCollect()
    val versions = Files.createDirectories(versionsDir(table))
    if (Files.isDirectory(link(table), LinkOption.NOFOLLOW_LINKS))
      publish(table, Files.move(link(table), versions.resolve(nextVersion(versions)), ATOMIC_MOVE))
    val live = Try(link(table).toRealPath()).toOption
    val next = Files.createDirectory(versions.resolve(nextVersion(versions)))
    if (mode == SaveMode.Append)
      live.foreach(dir => list(dir).foreach(f => Files.createLink(next.resolve(f.getFileName), f)))
    writeFile(df.sparkSession, df.schema, rows, next)
    publish(table, next)
    val keep = Set(next.getFileName) ++ live.map(_.getFileName)
    list(versions).filterNot(v => keep(v.getFileName)).foreach(deleteRecursively)
  }

  override def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    Try(spark.read.schema(schema).parquet(link(table).toRealPath().toString))
      .getOrElse(emptyFrame(spark, schema))

  private def nextVersion(versions: Path): String =
    (list(versions).flatMap(v => v.getFileName.toString.toLongOption).maxOption.getOrElse(-1L) + 1).toString

  /** Point `<rootDir>/<table>` at `version`: a new relative link moved over the old one. */
  private def publish(table: String, version: Path): Unit = {
    val tmp = Paths.get(rootDir, s".$table.link")
    Files.deleteIfExists(tmp)
    Files.createSymbolicLink(tmp, Paths.get(rootDir).relativize(version))
    Files.move(tmp, link(table), ATOMIC_MOVE)
  }

  /** One Parquet file of `rows` in `dir`, named as Spark names its part files. */
  private def writeFile(spark: SparkSession, schema: StructType, rows: Array[InternalRow], dir: Path): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    val file = dir.resolve(s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toUri.toString, schema, ctx)
    try rows.foreach(writer.write) finally writer.close()
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f)) finally s.close()
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
}
