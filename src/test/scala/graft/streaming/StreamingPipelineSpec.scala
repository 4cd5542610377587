package graft.streaming

import graft.SparkTestBase
import graft.classify.{KeywordClassifier, Predictions}
import graft.sinks.InMemoryKVSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files

/** Streaming-semantics tests (SURVEY.md §5.2): MemoryStream feeds the
  * real pipeline; running counts across multiple processAllAvailable
  * batches must reproduce the reference's `updateStateByKey` semantics —
  * key absent in a batch keeps its total, new key initializes,
  * multiplicities sum (including the >1-value-per-key case the
  * reference's fold gets wrong, SURVEY.md §2.11.2).
  */
class StreamingPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def line(user: String, chan: String, text: String) =
    s":$user!$user@$user.tmi.twitch.tv PRIVMSG #$chan :$text"

  private val noCategories = KeywordClassifier(Seq.empty)

  private def table(sink: InMemoryKVSink, name: String): Map[String, Long] =
    sink.snapshot(name).map(r => r.getString(0) -> r.getLong(1)).toMap

  test("running word counts across batches: absent keeps, new initializes, multiplicity sums") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val cfg = StreamingPipeline.Config(channel = "test", batchInterval = "100 milliseconds")
    val ckpt = Files.createTempDirectory("graft-ckpt-wc").toString

    val (query, _) = StreamingPipeline.start(input.toDF(), cfg, noCategories, sink, ckpt)

    def totals: Map[String, Long] = {
      query.processAllAvailable()
      table(sink, "test_wordcount")
    }

    input.addData(line("u1", "test", "hello hello world"))
    assert(totals == Map("hello" -> 2L, "world" -> 1L))

    // batch 2: "hello" absent → keeps its total; "strong" new; "world" sums
    input.addData(line("u2", "test", "world strong world"))
    assert(totals == Map("hello" -> 2L, "world" -> 3L, "strong" -> 1L))

    // batch 3: multiple messages in one batch, same key many times
    input.addData(
      line("u1", "test", "strong strong"),
      line("u3", "test", "strong hello"))
    assert(totals == Map("hello" -> 3L, "world" -> 3L, "strong" -> 4L))

    query.stop()
  }

  test("checkpoint restart recovers running-count state (ST7)") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val cfg = StreamingPipeline.Config(channel = "rst", batchInterval = "100 milliseconds")
    val clf = KeywordClassifier(Seq("greek" -> Seq("alpha", "beta", "gamma")))
    val ckpt = Files.createTempDirectory("graft-ckpt-restart").toString

    val (q1, _) = StreamingPipeline.start(input.toDF(), cfg, clf, sink, ckpt)
    input.addData(line("u1", "rst", "alpha alpha beta"))
    q1.processAllAvailable()
    assert(table(sink, "rst_wordcount") == Map("alpha" -> 2L, "beta" -> 1L))
    assert(table(sink, "rst_categoryCount") == Map("greek" -> 1L))
    q1.stop()

    // a NEW query from the SAME checkpoint root must resume the state
    // store for both tables, not restart counts from zero
    val (q2, _) = StreamingPipeline.start(input.toDF(), cfg, clf, sink, ckpt)
    input.addData(line("u2", "rst", "beta gamma"))
    q2.processAllAvailable()
    assert(table(sink, "rst_wordcount") == Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L))
    assert(table(sink, "rst_categoryCount") == Map("greek" -> 2L))
    q2.stop()
  }

  test("running category counts; keyword-classifier branch executes UDF-free (native keyword_classify)") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val cfg = StreamingPipeline.Config(channel = "test", batchInterval = "100 milliseconds")
    val clf = KeywordClassifier(Seq(
      "gaming" -> Seq("game", "play"),
      "music" -> Seq("song", "band")))
    val ckpt = Files.createTempDirectory("graft-ckpt-cc").toString

    val (query, _) = StreamingPipeline.start(input.toDF(), cfg, clf, sink, ckpt)

    input.addData(
      line("u1", "test", "what a great game to play"), // gaming: 2/2
      line("u2", "test", "this song is from my favourite band"), // music: 2/2
      line("u3", "test", "just a game"), // gaming: 1/2 = 0.5, NOT > 0.5
      line("u4", "test", "nothing relevant"))
    query.processAllAvailable()
    assert(table(sink, "test_categoryCount") == Map("gaming" -> 1L, "music" -> 1L))

    // the topology's EXECUTED micro-batch plan runs the native
    // keyword_classify expression — no ScalaUDF boundary anywhere
    val plan = org.apache.spark.sql.graftbridge.Bridge.lastExecutedPlan(query).toString
    assert(plan.contains("keyword_classify"), plan)
    assert(!plan.toLowerCase.contains("scalaudf"), plan)
    query.stop()
  }

  test("Predictions.decode: threshold strict, duplicate scores keep their own indices") {
    val labels = IndexedSeq("a", "b", "c", "d")
    // duplicate 0.9 scores: reference's indexOf would decode both to "a"
    assert(Predictions.decode(Seq(0.9, 0.9, 0.5, 0.51), labels, 0.5) == Seq("a", "b", "d"))
    assert(Predictions.decode(Seq.empty, labels, 0.5).isEmpty)
  }

  test("full topology: both branches run from one line stream") {
    val input = MemoryStream[String](spark)
    val sink = new InMemoryKVSink
    val clf = KeywordClassifier(Seq("gaming" -> Seq("game")))
    val ckptRoot = Files.createTempDirectory("graft-ckpt-full").toString
    val cfg = StreamingPipeline.Config(channel = "chan", batchInterval = "1 second")

    val (wc, cc) = StreamingPipeline.start(input.toDF(), cfg, clf, sink, ckptRoot)
    input.addData(line("u1", "chan", "nice game indeed"))
    wc.processAllAvailable()
    cc.processAllAvailable()
    assert(table(sink, "chan_wordcount") == Map("nice" -> 1L, "game" -> 1L, "indeed" -> 1L))
    assert(table(sink, "chan_categoryCount") == Map("gaming" -> 1L))
    wc.stop(); cc.stop()
  }
}
