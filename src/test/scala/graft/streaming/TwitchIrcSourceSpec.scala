package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.collection.mutable.ArrayBuffer

/** Fault-injecting fake IRC server (SURVEY.md §5.5): asserts the
  * PASS/NICK/JOIN handshake, emits PRIVMSG lines, sends PING and expects
  * PONG.
  */
class TwitchIrcSourceSpec extends SparkTestBase {

  test("twitch-irc source: handshake, line delivery, PING→PONG") {
    val server = new ServerSocket(0)
    val received = ArrayBuffer.empty[String]
    val pongSeen = new CountDownLatch(1)
    val handshake = ArrayBuffer.empty[String]

    val serverThread = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      // handshake: PASS, NICK, JOIN
      handshake += in.readLine(); handshake += in.readLine(); handshake += in.readLine()
      out.println(":tmi.twitch.tv 001 nick :Welcome")
      out.println(":u1!u1@u1.tmi.twitch.tv PRIVMSG #chan :first message")
      out.println(":u2!u2@u2.tmi.twitch.tv PRIVMSG #chan :second message")
      out.println("PING :tmi.twitch.tv")
      val pong = in.readLine()
      if (pong != null && pong.startsWith("PONG")) pongSeen.countDown()
      out.println(":u3!u3@u3.tmi.twitch.tv PRIVMSG #chan :after ping")
      // hold the socket open until the test is done
      Thread.sleep(30000)
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val ckpt = Files.createTempDirectory("graft-irc-src").toString
    val stream = spark.readStream
      .format("twitch-irc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("channel", "#chan")
      .option("nick", "nick")
      .option("pass", "oauth:test")
      .load()

    val query = stream.writeStream
      .format("memory")
      .queryName("irc_lines")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()

    try {
      // wait until the 4 lines (001 + 3 PRIVMSG) have flowed through
      val deadline = System.currentTimeMillis() + 30000
      def rows() = spark.sql("SELECT value FROM irc_lines").collect().map(_.getString(0))
      while (rows().count(_.contains("PRIVMSG")) < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)

      assert(pongSeen.await(10, TimeUnit.SECONDS), "server never received PONG")
      assert(handshake.toList == List("PASS oauth:test", "NICK nick", "JOIN #chan"))
      val vals = rows()
      assert(vals.count(_.contains("PRIVMSG")) == 3)
      assert(!vals.exists(_.startsWith("PING")), "PING lines must not be emitted as data")
      // receipt timestamps present
      val ts = spark.sql("SELECT event_ts FROM irc_lines WHERE event_ts IS NOT NULL").count()
      assert(ts == vals.length)
    } finally {
      query.stop()
      server.close()
    }
  }

  test("maxLinesPerTrigger drains a backlog across bounded batches; chunks split partitions") {
    val server = new ServerSocket(0)
    val serverThread = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      in.readLine(); in.readLine(); in.readLine() // PASS/NICK/JOIN
      (1 to 10).foreach(i => out.println(s":u!u@h PRIVMSG #c :line $i"))
      Thread.sleep(30000)
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val stream = new TwitchIrcMicroBatchStream(
      "127.0.0.1", server.getLocalPort, "#c", "nick", "oauth:x",
      maxLinesPerTrigger = 4L, linesPerPartition = 2)
    try {
      // wait for the whole backlog to buffer (no-arg latestOffset reports
      // everything available, ignoring admission control)
      val deadline = System.currentTimeMillis() + 15000
      while (stream.latestOffset().asInstanceOf[LineOffset].n < 10L &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(stream.latestOffset() == LineOffset(10L), "backlog never buffered")

      val limit = stream.getDefaultReadLimit
      // trigger 1: capped at 4 lines, planned as 2 chunks of 2
      val end1 = stream.latestOffset(LineOffset(0L), limit)
      assert(end1 == LineOffset(4L), "first batch must be capped at maxLinesPerTrigger")
      val parts1 = stream.planInputPartitions(LineOffset(0L), end1)
      assert(parts1.length == 2, s"4 lines / linesPerPartition=2 must plan 2 partitions")
      val factory = stream.createReaderFactory()
      val batch1 = parts1.flatMap { p =>
        val r = factory.createReader(p)
        Iterator.continually(r).takeWhile(_.next()).map(_.get().getString(0)).toArray
      }
      assert(batch1.toList == (1 to 4).map(i => s":u!u@h PRIVMSG #c :line $i").toList)
      stream.commit(end1)

      // trigger 2 and 3: the rest drains in bounded steps
      val end2 = stream.latestOffset(end1, limit)
      assert(end2 == LineOffset(8L))
      stream.commit(end2)
      val end3 = stream.latestOffset(end2, limit)
      assert(end3 == LineOffset(10L), "final partial batch takes what remains")
      assert(stream.planInputPartitions(end2, end3).length == 1)
    } finally {
      stream.stop()
      server.close()
    }
  }

  test("maxBufferedLines caps memory via disk spill; keepalive survives a stall; nothing lost") {
    val server = new ServerSocket(0)
    val pongSeen = new CountDownLatch(1)
    val serverThread = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      in.readLine(); in.readLine(); in.readLine() // PASS/NICK/JOIN
      (1 to 20).foreach(i => out.println(s":u!u@h PRIVMSG #c :line $i"))
      // the query is stalled (nothing committed), memory buffer full,
      // overflow on disk — the server pings NOW; a reader that blocked
      // on the full buffer could never answer and would be disconnected
      out.println("PING :tmi.twitch.tv")
      val pong = in.readLine()
      if (pong != null && pong.startsWith("PONG")) pongSeen.countDown()
      Thread.sleep(30000)
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val stream = new TwitchIrcMicroBatchStream(
      "127.0.0.1", server.getLocalPort, "#c", "nick", "oauth:x",
      maxBufferedLines = 5L)
    try {
      // memory tier fills to the cap; the rest spills
      val deadline = System.currentTimeMillis() + 15000
      while (stream.latestOffset().asInstanceOf[LineOffset].n < 5L &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(300) // give a runaway reader time to overshoot the cap
      assert(stream.latestOffset() == LineOffset(5L),
        s"memory buffer exceeded the cap: ${stream.latestOffset()}")
      assert(pongSeen.await(10, TimeUnit.SECONDS),
        "PING went unanswered while the buffer was full — keepalive starved")

      // drain in commit cycles; backpressure must deliver ALL lines in order
      val factory = stream.createReaderFactory()
      val got = ArrayBuffer.empty[String]
      var start = LineOffset(0L)
      val d2 = System.currentTimeMillis() + 20000
      while (got.length < 20 && System.currentTimeMillis() < d2) {
        val end = stream.latestOffset(start, stream.getDefaultReadLimit)
          .asInstanceOf[LineOffset]
        if (end.n > start.n) {
          stream.planInputPartitions(start, end).foreach { p =>
            val r = factory.createReader(p)
            while (r.next()) got += r.get().getString(0)
          }
          stream.commit(end) // frees buffer space → reader resumes
          start = end
        } else Thread.sleep(50)
      }
      assert(got.toList == (1 to 20).map(i => s":u!u@h PRIVMSG #c :line $i").toList,
        s"lost or reordered lines under backpressure: ${got.size}/20")
    } finally {
      stream.stop()
      server.close()
    }
  }

  test("end-to-end: MicroBatchExecution honors maxLinesPerTrigger through a real query") {
    val server = new ServerSocket(0)
    val serverThread = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
      val out = new PrintWriter(s.getOutputStream, true)
      in.readLine(); in.readLine(); in.readLine() // PASS/NICK/JOIN
      (1 to 12).foreach(i => out.println(s":u!u@h PRIVMSG #c :msg $i"))
      Thread.sleep(30000)
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val ckpt = Files.createTempDirectory("graft-irc-ratelimit").toString
    val stream = spark.readStream
      .format("twitch-irc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("channel", "#c")
      .option("nick", "nick")
      .option("pass", "oauth:x")
      .option("maxLinesPerTrigger", "3")
      .load()
    val query = stream.writeStream
      .format("memory")
      .queryName("irc_ratelimited")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      def total() = spark.sql("SELECT count(*) FROM irc_ratelimited").head().getLong(0)
      while (total() < 12L && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(total() == 12L, s"backlog never fully drained: ${total()}/12 rows")
      // the execution engine must have split the 12-line backlog into
      // bounded micro-batches — no batch over the cap, several batches
      val batchSizes = query.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batchSizes.nonEmpty && batchSizes.forall(_ <= 3L),
        s"a batch exceeded maxLinesPerTrigger=3: ${batchSizes.mkString(",")}")
      assert(batchSizes.length >= 4, // 12 lines / cap 3
        s"backlog drained in too few batches: ${batchSizes.mkString(",")}")
    } finally {
      query.stop()
      server.close()
    }
  }

  test("client reconnects after the server drops the connection") {
    val server = new ServerSocket(0)
    val connections = new java.util.concurrent.atomic.AtomicInteger(0)
    val serverThread = new Thread(() => {
      while (!server.isClosed) {
        try {
          val s = server.accept()
          val n = connections.incrementAndGet()
          val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
          val out = new PrintWriter(s.getOutputStream, true)
          in.readLine(); in.readLine(); in.readLine() // PASS/NICK/JOIN
          out.println(s":u!u@h PRIVMSG #c :from connection $n")
          if (n == 1) s.close() // drop first connection → client must retry
          else Thread.sleep(30000)
        } catch { case _: Exception => () }
      }
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val received = ArrayBuffer.empty[String]
    val client = new IrcLineClient(
      "127.0.0.1", server.getLocalPort, "#c", "nick", "oauth:x",
      line => received.synchronized { received += line })
    client.start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (connections.get() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(connections.get() >= 2, "client never reconnected")
      val d2 = System.currentTimeMillis() + 10000
      while (!received.synchronized(received.exists(_.contains("connection 2"))) &&
        System.currentTimeMillis() < d2) Thread.sleep(100)
      assert(received.synchronized(received.exists(_.contains("connection 2"))))
    } finally {
      client.close()
      server.close()
    }
  }

  test("a server that closes every connection cleanly is redialled at a bounded rate") {
    val server = new ServerSocket(0)
    val connections = new java.util.concurrent.atomic.AtomicInteger(0)
    val serverThread = new Thread(() => {
      while (!server.isClosed) {
        try {
          val s = server.accept()
          connections.incrementAndGet()
          // read the handshake first, so the close is a clean EOF on the
          // client (readLine returns null), not a reset
          val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
          in.readLine(); in.readLine(); in.readLine() // PASS/NICK/JOIN
          s.close()
        } catch { case _: Exception => () }
      }
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val client = new IrcLineClient(
      "127.0.0.1", server.getLocalPort, "#c", "nick", "oauth:x", _ => ())
    client.start()
    try {
      Thread.sleep(2000)
      val n = connections.get()
      // a 200 ms pause per disconnect allows ~10 connects in 2 s
      assert(n >= 2, s"client never reconnected ($n connects)")
      assert(n <= 20, s"client redialled $n times in 2 s without pausing")
    } finally {
      client.close()
      server.close()
    }
  }

  test("JOIN names the channel with a '#' whether or not the option has one") {
    val server = new ServerSocket(0)
    val handshake = new ConcurrentLinkedQueue[String]()
    val joined = new CountDownLatch(1)
    val serverThread = new Thread(() => {
      val s = server.accept()
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
      (1 to 3).foreach(_ => handshake.add(in.readLine()))
      joined.countDown()
      Thread.sleep(30000)
    })
    serverThread.setDaemon(true)
    serverThread.start()

    // StreamingPipeline.readTwitchIrc passes Config.channel, '#' stripped
    val stream = new TwitchIrcMicroBatchStream(
      "127.0.0.1", server.getLocalPort, "chan", "nick", "oauth:x")
    try {
      stream.latestOffset() // connects
      assert(joined.await(10, TimeUnit.SECONDS), "handshake never completed")
      assert(handshake.asScala.toList == List("PASS oauth:x", "NICK nick", "JOIN #chan"))
    } finally {
      stream.stop()
      server.close()
    }
  }

  test("restart from a checkpoint: lines sent after the restart reach the sink") {
    val server = new ServerSocket(0)
    val open = ArrayBuffer.empty[java.net.Socket] // held open until the test ends
    val serverThread = new Thread(() => {
      var n = 0
      while (!server.isClosed) {
        try {
          val s = server.accept()
          open += s
          n += 1
          val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
          val out = new PrintWriter(s.getOutputStream, true)
          in.readLine(); in.readLine(); in.readLine() // PASS/NICK/JOIN
          // first session: 5 lines; restarted session: 3 new ones
          if (n == 1) (1 to 5).foreach(i => out.println(s":u!u@h PRIVMSG #c :before $i"))
          else (1 to 3).foreach(i => out.println(s":u!u@h PRIVMSG #c :after $i"))
        } catch { case _: Exception => () }
      }
    })
    serverThread.setDaemon(true)
    serverThread.start()

    val ckpt = Files.createTempDirectory("graft-irc-restart").toString
    val got = new ConcurrentLinkedQueue[String]()
    def start() = spark.readStream
      .format("twitch-irc")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("channel", "#c")
      .option("nick", "nick")
      .option("pass", "oauth:x")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select("value").collect().foreach(r => got.add(r.getString(0)))
      }
      .start()
    def waitFor(what: => String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cond, what)
    }
    def count(prefix: String) = got.asScala.count(_.contains(s"PRIVMSG #c :$prefix"))

    try {
      val first = start()
      try {
        waitFor(s"first session delivered ${count("before")}/5 lines")(count("before") == 5)
        // stop only once the batches are in the commit log (progress is
        // reported after the commit), so the restart resumes at offset 5
        waitFor("first session never committed its 5 lines")(
          first.recentProgress.map(_.numInputRows).sum >= 5L)
      } finally first.stop()

      val second = start()
      try waitFor(s"restarted session delivered ${count("after")}/3 new lines")(count("after") == 3)
      finally second.stop()
      assert(count("before") == 5, "lines of the first session were replayed")
    } finally {
      server.close()
      open.foreach(_.close())
    }
  }
}
