package graft.streaming

import graft.SparkTestBase
import graft.classify.KeywordClassifier
import graft.sinks.InMemoryKVSink

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The full topology against a fake Twitch server that, like Twitch,
  * sends every chat line to every joined connection: the topology must
  * join once, and both tables must count the same messages.
  */
class TopologyConnectionSpec extends SparkTestBase {

  test("readTwitchIrc + start: one server connection, both tables count the same messages") {
    val n = 7
    val server = new ServerSocket(0)
    val accepted = new ConcurrentLinkedQueue[Socket]() // held open until the test ends
    val acceptor = new Thread(() => {
      while (!server.isClosed) {
        try {
          val s = server.accept()
          accepted.add(s)
          val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
          val out = new PrintWriter(s.getOutputStream, true)
          // anonymous login sends no PASS: chat starts once the JOIN is in
          Iterator.continually(in.readLine())
            .takeWhile(l => l != null && !l.startsWith("JOIN")).foreach(_ => ())
          (1 to n).foreach(i => out.println(s":u$i!u$i@u$i.tmi.twitch.tv PRIVMSG #chan :great game"))
        } catch { case _: Exception => () }
      }
    })
    acceptor.setDaemon(true)
    acceptor.start()

    val sink = new InMemoryKVSink
    val clf = KeywordClassifier(Seq("gaming" -> Seq("game")))
    val cfg = StreamingPipeline.Config(channel = "chan", batchInterval = "100 milliseconds")
    val ckptRoot = Files.createTempDirectory("graft-topology-conn").toString
    def table(name: String): Map[String, Long] =
      sink.snapshot(name).map(r => r.getString(0) -> r.getLong(1)).toMap
    def words = table("chan_wordcount")
    def cats = table("chan_categoryCount")

    val lines = StreamingPipeline.readTwitchIrc(spark, cfg, host = "127.0.0.1",
      port = server.getLocalPort, nick = "justinfan1")
    val (wc, cc) = StreamingPipeline.start(lines, cfg, clf, sink, ckptRoot)
    try {
      val deadline = System.currentTimeMillis() + 60000
      while ((words.get("game") != Some(n.toLong) || cats.get("gaming") != Some(n.toLong)) &&
        System.currentTimeMillis() < deadline) {
        Seq(wc, cc).flatMap(_.exception).foreach(e => throw e)
        Thread.sleep(100)
      }
      assert(accepted.size == 1, s"the topology opened ${accepted.size} server connections")
      assert(words == Map("great" -> n.toLong, "game" -> n.toLong))
      assert(cats == Map("gaming" -> n.toLong))
    } finally {
      wc.stop(); cc.stop()
      server.close()
      accepted.asScala.foreach(_.close())
    }
  }
}
