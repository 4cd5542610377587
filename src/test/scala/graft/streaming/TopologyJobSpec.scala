package graft.streaming

import graft.SparkTestBase
import graft.classify.KeywordClassifier
import graft.sinks.{InMemoryKVSink, KVTableSink, ParquetKVSink}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The full topology's trigger is one Spark job: the collect that runs
  * the stateful plan. Both table writes come from that collect and start
  * no job of their own, whichever sink takes them.
  */
class TopologyJobSpec extends SparkTestBase {
  import spark.implicits._

  private def line(user: String, text: String) =
    s":$user!$user@$user.tmi.twitch.tv PRIVMSG #chan :$text"

  private val clf = KeywordClassifier(Seq("gaming" -> Seq("game"), "music" -> Seq("song")))
  private val cfg = StreamingPipeline.Config(channel = "chan", batchInterval = "100 milliseconds")

  /** Local properties of every job start, plus a marker job's group id
    * once every earlier event has been delivered.
    */
  private final class JobProps extends SparkListener {
    val starts = new ConcurrentLinkedQueue[java.util.Properties]()
    override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e.properties)

    /** Block until the listener bus has delivered every event posted so far. */
    def drain(marker: String): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!starts.asScala.exists(p => p != null && p.getProperty("spark.jobGroup.id") == marker) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    }
  }

  private def oneJobPerBatch(sink: KVTableSink, table: String => Map[String, Long]): Unit = {
    val input = MemoryStream[String](spark)
    val ckptRoot = Files.createTempDirectory("graft-topology-jobs").toString
    val jobs = new JobProps
    spark.sparkContext.addSparkListener(jobs)
    val (query, _) = StreamingPipeline.start(input.toDF(), cfg, clf, sink, ckptRoot)
    try {
      (1 to 4).foreach { b =>
        input.addData(line(s"u$b", "great game"), line(s"v$b", "lovely song"))
        query.processAllAvailable()
        assert(table("chan_wordcount") ==
          Map("great" -> b.toLong, "game" -> b.toLong, "lovely" -> b.toLong, "song" -> b.toLong))
        assert(table("chan_categoryCount") == Map("gaming" -> b.toLong, "music" -> b.toLong))
      }
      jobs.drain(s"topology-jobs-${query.id}")
      val perBatch = jobs.starts.asScala.toSeq
        .filter(p => p != null && p.getProperty("sql.streaming.queryId") == query.id.toString)
        .groupBy(_.getProperty("streaming.sql.batchId")).map { case (b, js) => b.toLong -> js.size }
      val dataBatches = query.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSet
      assert(dataBatches.size == 4)
      assert(perBatch == dataBatches.map(_ -> 1).toMap)
    } finally {
      query.stop()
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("ParquetKVSink: each data batch runs exactly one Spark job") {
    val sink = new ParquetKVSink(Files.createTempDirectory("graft-topology-jobs-kv").toString)
    def table(name: String): Map[String, Long] = {
      val key = if (name.endsWith("_wordcount")) "word" else "category"
      val schema = new StructType().add(key, StringType).add("count", LongType)
      sink.read(spark, name, schema).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    oneJobPerBatch(sink, table)
  }

  test("InMemoryKVSink: each data batch runs exactly one Spark job") {
    val sink = new InMemoryKVSink
    oneJobPerBatch(sink, name => sink.snapshot(name).map(r => r.getString(0) -> r.getLong(1)).toMap)
  }
}
