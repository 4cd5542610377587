package graft.streaming

import graft.SparkTestBase
import graft.classify.KeywordClassifier
import graft.sinks.InMemoryKVSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graftbridge.Bridge

import java.nio.file.Files

/** The full topology's per-trigger snapshot: the batch it persists for
  * its two table writes is released every trigger, and both tables
  * resume their counts from the query's one checkpoint.
  */
class TopologySnapshotSpec extends SparkTestBase {
  import spark.implicits._

  private def line(user: String, text: String) =
    s":$user!$user@$user.tmi.twitch.tv PRIVMSG #chan :$text"

  private val clf = KeywordClassifier(Seq("gaming" -> Seq("game"), "music" -> Seq("song")))
  private val cfg = StreamingPipeline.Config(channel = "chan", batchInterval = "100 milliseconds")

  private def table(sink: InMemoryKVSink, name: String): Map[String, Long] =
    sink.snapshot(name).map(r => r.getString(0) -> r.getLong(1)).toMap

  test("each trigger releases the snapshot it persisted: no persisted RDD or cache entry survives") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val ckptRoot = Files.createTempDirectory("graft-topology-persist").toString
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val entriesBefore = Bridge.cachedEntries(spark)

    val (query, _) = StreamingPipeline.start(input.toDF(), cfg, clf, sink, ckptRoot)
    try {
      (1 to 5).foreach { b =>
        input.addData(line(s"u$b", "great game"), line(s"v$b", "lovely song"))
        query.processAllAvailable()
        assert(table(sink, "chan_wordcount") ==
          Map("great" -> b.toLong, "game" -> b.toLong, "lovely" -> b.toLong, "song" -> b.toLong))
        assert(table(sink, "chan_categoryCount") == Map("gaming" -> b.toLong, "music" -> b.toLong))
        assert(sc.getPersistentRDDs.keySet -- rddsBefore == Set.empty, s"after batch $b")
        assert(Bridge.cachedEntries(spark) == entriesBefore, s"after batch $b")
      }
    } finally query.stop()
  }

  test("restart from the checkpoint: both tables resume their counts (ST7)") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val ckptRoot = Files.createTempDirectory("graft-topology-restart").toString

    val (q1, _) = StreamingPipeline.start(input.toDF(), cfg, clf, sink, ckptRoot)
    try {
      input.addData(line("u1", "great game"), line("u2", "game song"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(table(sink, "chan_wordcount") == Map("great" -> 1L, "game" -> 2L, "song" -> 1L))
    assert(table(sink, "chan_categoryCount") == Map("gaming" -> 2L, "music" -> 1L))

    // a NEW query from the SAME checkpoint root resumes both counts
    val (q2, _) = StreamingPipeline.start(input.toDF(), cfg, clf, sink, ckptRoot)
    try {
      input.addData(line("u3", "another game"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(table(sink, "chan_wordcount") ==
      Map("great" -> 1L, "game" -> 3L, "song" -> 1L, "another" -> 1L))
    assert(table(sink, "chan_categoryCount") == Map("gaming" -> 3L, "music" -> 1L))
  }
}
