package graft.sinks

import graft.SparkTestBase
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

class KVTableSinkSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = new StructType().add("k", StringType).add("n", LongType)

  private def roundTrip(sink: KVTableSink): Unit = {
    // read of a missing table → empty frame with the requested schema
    val missing = sink.read(spark, "nope", schema)
    assert(missing.schema == schema && missing.count() == 0)

    sink.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "n"), "t")
    assert(sink.read(spark, "t", schema).as[(String, Long)].collect().toMap
      == Map("a" -> 1L, "b" -> 2L))

    // snapshot overwrite replaces
    sink.write(Seq(("c", 9L)).toDF("k", "n"), "t", SaveMode.Overwrite)
    assert(sink.read(spark, "t", schema).as[(String, Long)].collect().toMap == Map("c" -> 9L))

    // append extends
    sink.write(Seq(("d", 1L)).toDF("k", "n"), "t", SaveMode.Append)
    assert(sink.read(spark, "t", schema).count() == 2)

    // merge = running-total read-modify-write (J1 semantics)
    sink.write(Seq(("x", 1L), ("y", 2L)).toDF("k", "n"), "m")
    sink.merge(spark, "m", Seq(("y", 3L), ("z", 5L)).toDF("k", "n"), "k", "n")
    assert(sink.read(spark, "m", schema).as[(String, Long)].collect().toMap
      == Map("x" -> 1L, "y" -> 5L, "z" -> 5L))
  }

  test("InMemoryKVSink: read-missing/overwrite/append/merge contract") {
    roundTrip(new InMemoryKVSink)
  }

  test("ParquetKVSink: read-missing/overwrite/append/merge contract") {
    roundTrip(new ParquetKVSink(Files.createTempDirectory("graft-kv").toString))
  }

  test("InMemoryKVSink honors TTL on read") {
    val sink = new InMemoryKVSink
    sink.write(Seq(("a", 1L)).toDF("k", "n"), "ttl_t", SaveMode.Overwrite, ttlSeconds = 1)
    assert(sink.read(spark, "ttl_t", schema).count() == 1)
    Thread.sleep(1100)
    assert(sink.read(spark, "ttl_t", schema).count() == 0)
  }

  test("streaming update-mode merge path: sink owns the running totals") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val ckpt = Files.createTempDirectory("graft-ckpt-merge").toString

    // Update output mode: each batch emits only changed keys; the sink
    // merge (RedisInterface.update_table flow) accumulates them. The
    // delta trick: aggregate per-batch counts in foreachBatch, merge into
    // the sink — state lives in the SINK, not the state store.
    val query = input.toDF()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val counts = batch
          .select(explode(split(lower(col("value")), "\\s+")).alias("k"))
          .groupBy("k").agg(count(lit(1)).alias("n"))
        sink.merge(spark, "words", counts, "k", "n")
      }
      .start()

    input.addData("red blue red")
    query.processAllAvailable()
    input.addData("blue green")
    query.processAllAvailable()
    val got = sink.snapshot("words").map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("red" -> 2L, "blue" -> 2L, "green" -> 1L))
    query.stop()
  }

  /** Every cell type the streaming tiers write, with nulls. */
  private def wideFrame: DataFrame = {
    val ts = Timestamp.valueOf("2024-01-02 03:04:05.123456")
    val wide = new StructType()
      .add("s", StringType).add("l", LongType).add("d", DoubleType).add("b", BooleanType)
      .add("ts", TimestampType).add("as", ArrayType(StringType)).add("al", ArrayType(LongType))
      .add("st", new StructType().add("x", IntegerType).add("y", StringType))
      .add("n", LongType, nullable = false)
    spark.createDataFrame(Seq(
      Row("a", 1L, 1.5, true, ts, Seq("p", null), Seq(1L, 2L), Row(1, "q"), 1L),
      Row(null, null, null, null, null, null, null, null, 2L),
      Row("c", -3L, Double.NaN, false, ts, Seq.empty, Seq(), Row(null, null), 3L)).asJava, wide)
  }

  private def files(dir: Path, suffix: String): Seq[Path] = {
    val s = Files.list(dir.toRealPath())
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq finally s.close()
  }
  private def dataFiles(dir: Path): Seq[Path] = files(dir, ".parquet").filterNot(_.getFileName.toString.startsWith("."))

  private def footerMeta(file: Path): Map[String, String] =
    ParquetFileReader.readFooter(new Configuration(), new org.apache.hadoop.fs.Path(file.toUri))
      .getFileMetaData.getKeyValueMetaData.asScala.toMap

  test("ParquetKVSink writes what df.write.parquet writes: schema, rows, row metadata, snappy") {
    val root = Files.createTempDirectory("graft-kv-parity")
    val sink = new ParquetKVSink(root.toString)
    // a driver-local frame and one that needs a Spark job to collect
    Seq("local" -> wideFrame, "distributed" -> wideFrame.repartition(2)).foreach { case (name, df) =>
      val ref = root.resolve(s"ref_$name")
      df.write.parquet(ref.toString)
      sink.write(df, name)
      val (got, want) = (spark.read.parquet(root.resolve(name).toString), spark.read.parquet(ref.toString))
      assert(got.schema == want.schema, name)
      assert(got.orderBy("n").collect().toSeq == want.orderBy("n").collect().toSeq, name)
      val Seq(file) = dataFiles(root.resolve(name))
      assert(file.getFileName.toString.endsWith(".snappy.parquet"))
      val refMeta = dataFiles(ref).map(footerMeta).filter(_.nonEmpty).head
      assert(footerMeta(file) == refMeta, name)
      assert(refMeta.contains("org.apache.spark.sql.parquet.row.metadata"))
      assert(Files.getPosixFilePermissions(file) == Files.getPosixFilePermissions(dataFiles(ref).head))
    }
  }

  test("ParquetKVSink: an Overwrite leaves one data file and its .crc, an Append adds one file") {
    val root = Files.createTempDirectory("graft-kv-files")
    val sink = new ParquetKVSink(root.toString)
    val table = root.resolve("t")
    def names: Set[String] = files(table, "").map(_.getFileName.toString).toSet
    sink.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "n").repartition(3), "t")
    val Seq(first) = dataFiles(table).map(_.getFileName.toString)
    assert(names == Set(first, s".$first.crc"))
    sink.write(Seq(("c", 3L)).toDF("k", "n"), "t", SaveMode.Append)
    val Seq(second) = dataFiles(table).map(_.getFileName.toString).filterNot(_ == first)
    assert(names == Set(first, s".$first.crc", second, s".$second.crc"))
    assert(sink.read(spark, "t", schema).count() == 3)
    sink.write(Seq(("d", 4L)).toDF("k", "n"), "t", SaveMode.Overwrite)
    assert(dataFiles(table).size == 1)
    assert(sink.read(spark, "t", schema).as[(String, Long)].collect().toSeq == Seq("d" -> 4L))
  }

  test("ParquetKVSink: a reader polling through 30 overwrites never sees an empty or failed read") {
    val root = Files.createTempDirectory("graft-kv-readers")
    val sink = new ParquetKVSink(root.toString)
    sink.write(Seq(("v", 0L)).toDF("k", "n"), "live")
    val reads = new AtomicLong(0)
    val bad = new ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val reader = new Thread(() =>
      while (!done) {
        Try(sink.read(spark, "live", schema).as[(String, Long)].collect().toSeq) match {
          case Success(Seq(("v", _))) =>
          case other => bad.add(other.toString)
        }
        reads.incrementAndGet()
      })
    reader.start()
    try (1 to 30).foreach { i =>
      sink.write(Seq(("v", i.toLong)).toDF("k", "n"), "live")
      // two reads complete before the next flip: every read overlaps at
      // most one flip, so the version it resolved is still on disk
      val r = reads.get()
      while (reads.get() < r + 2 && reader.isAlive) Thread.sleep(1)
    } finally {
      done = true
      reader.join()
    }
    assert(bad.asScala.toSeq == Seq.empty)
    assert(sink.read(spark, "live", schema).as[(String, Long)].collect().toSeq == Seq("v" -> 30L))
    // the live version and its predecessor are all that is kept
    assert(files(root.resolve(".live.v"), "").size == 2)
  }

  test("ParquetKVSink takes over a table dir of the earlier layout") {
    val root = Files.createTempDirectory("graft-kv-legacy")
    Seq(("a", 1L)).toDF("k", "n").write.parquet(root.resolve("t").toString)
    val sink = new ParquetKVSink(root.toString)
    assert(sink.read(spark, "t", schema).as[(String, Long)].collect().toSeq == Seq("a" -> 1L))
    sink.write(Seq(("b", 2L)).toDF("k", "n"), "t", SaveMode.Append)
    assert(Files.isSymbolicLink(root.resolve("t")))
    assert(sink.read(spark, "t", schema).as[(String, Long)].collect().toMap == Map("a" -> 1L, "b" -> 2L))
  }
}
