package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.classify.TextClassifier
import graft.model.IrcParser
import graft.operators.WordCount
import graft.sinks.{KVTableSink, ParquetKVSink}
import graft.streaming.StreamingPipeline
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, size, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** JVM side of the benchmark. It calls the program only through its
  * public API and writes what it saw to one JSON file; `run.py` turns
  * that into metrics and checks the outputs.
  *
  * Usage: perfbench.Harness key=value ... (see `run.py` for the keys).
  */
object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val trace = opt("trace") == "1"
    val rec = new Recorder(trace)
    val t0 = System.nanoTime()
    val spark = rec.span("session", "build") {
      SparkSession.builder()
        .master(s"local[${opt("cores")}]")
        .config("spark.sql.shuffle.partitions", opt("cores"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .config("spark.local.dir", opt("work") + "/spark-local")
        .config("spark.sql.warehouse.dir", opt("work") + "/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    rec.out("session_build_s") = (System.nanoTime() - t0) / 1e9
    val listener = if (trace) Some(new Listener(spark, rec)) else None
    try {
      opt("workload") match {
        case "query-library" => QueryLibrary.run(spark, opt, rec)
        case "oracle-sql" => rec.out("oracle_sql") = SparkEntry.oracleSql
        case _ => StreamRun.run(spark, opt, rec)
      }
    } finally {
      listener.foreach(_.finish())
      rec.write(opt("result"), opt.get("spans"))
      spark.stop()
    }
  }

  def json(s: String): JsonNode = mapper.readTree(s)

  /** Heap in use after full collections: the least of five, so garbage
    * that one collection leaves behind does not count. */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(50)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  def gcMillis: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def nowMicros: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Spans (kept in memory, written at the end) and the raw result record. */
final class Recorder(val trace: Boolean) {
  private val spans = new ConcurrentLinkedQueue[String]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val parents = new ThreadLocal[List[String]] { override def initialValue() = Nil }
  val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  /** Record a closed span with explicit times (epoch micros). */
  def add(layer: String, name: String, id: String, parent: String, start: Long, end: Long,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (trace) spans.add(Harness.mapper.writeValueAsString(Map("id" -> id, "parent" -> parent,
      "layer" -> layer, "name" -> name, "start_us" -> start, "end_us" -> end) ++ attrs))

  /** Time `body` as a span nested under the caller's open span. */
  def span[T](layer: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!trace) body
    else {
      val id = s"s${ids.incrementAndGet()}"
      val stack = parents.get()
      val start = Harness.nowMicros
      parents.set(id :: stack)
      try body
      finally {
        parents.set(stack)
        add(layer, name, id, stack.headOption.orNull, start, Harness.nowMicros, attrs)
      }
    }

  def write(path: String, spansPath: Option[String]): Unit = {
    Files.writeString(Paths.get(path), Harness.mapper.writeValueAsString(out))
    spansPath.filter(_ => trace).foreach { p =>
      val w = new PrintWriter(new File(p), "UTF-8")
      try spans.asScala.foreach(w.println) finally w.close()
    }
  }
}

/** The program's parquet sink, with each write's batch and return time
  * recorded. The write itself is the program's.
  */
final class RecordingSink(inner: KVTableSink, rec: Recorder) extends KVTableSink {
  override def write(df: DataFrame, table: String, mode: SaveMode, ttlSeconds: Int): Unit = {
    val sc = df.sparkSession.sparkContext
    val batch = sc.getLocalProperty("streaming.sql.batchId")
    val query = sc.getLocalProperty("sql.streaming.queryId")
    val t0 = System.nanoTime()
    val start = Harness.nowMicros
    inner.write(df, table, mode, ttlSeconds)
    val end = Harness.nowMicros
    RecordingSink.writes.add(Map("table" -> table, "query" -> query, "batch" -> batch,
      "end_us" -> end, "ms" -> (System.nanoTime() - t0) / 1e6))
    rec.add("sink", "write", s"w:$query:$batch:$table", s"t:$query:$batch:addBatch", start, end,
      Map("table" -> table))
  }

  override def read(spark: SparkSession, table: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    inner.read(spark, table, schema)
}

object RecordingSink {
  val writes = new ConcurrentLinkedQueue[Map[String, Any]]()
}

/** Control connection to the fake IRC server. */
final class ServerControl(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  private val out = new PrintWriter(sock.getOutputStream, true)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))

  def cmd(c: String): JsonNode = synchronized { out.println(c); Harness.json(in.readLine()) }
  def stats(): JsonNode = cmd("STATS")
  def close(): Unit = sock.close()
}

/** Spark's public listeners: per job and per task counters, tagged with
  * the streaming batch or the library query that ran them, and one span
  * per trigger phase.
  */
final class Listener(spark: SparkSession, rec: Recorder) extends SparkListener {
  import scala.collection.mutable
  private val stageTag = mutable.Map.empty[Int, String]
  private val byTag = mutable.Map.empty[String, mutable.Map[String, Double]]
  @volatile private var events = 0L  // any listener event; finish() waits for quiet

  private def bump(tag: String, k: String, v: Double): Unit = synchronized {
    events += 1
    val m = byTag.getOrElseUpdate(tag, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  private def tagOf(p: java.util.Properties): String =
    if (p == null) "other"
    else Option(p.getProperty("perfbench.query")).map("q:" + _)
      .orElse(Option(p.getProperty("sql.streaming.queryId")).map(q =>
        s"t:$q:${p.getProperty("streaming.sql.batchId")}"))
      .orElse(Option(p.getProperty("perfbench.kernel")).map("k:" + _))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    synchronized { e.stageIds.foreach(s => stageTag(s) = tag) }
    bump(tag, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    bump(synchronized(stageTag.getOrElse(e.stageInfo.stageId, "other")), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = synchronized(stageTag.getOrElse(e.stageId, "other"))
    val m = e.taskMetrics
    bump(tag, "tasks", 1)
    if (m != null) {
      bump(tag, "task_ms", m.executorRunTime)
      bump(tag, "gc_ms", m.jvmGCTime)
      bump(tag, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      bump(tag, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      bump(tag, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      bump(tag, "output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp)
        val s0 = start.getEpochSecond * 1000000L + start.getNano / 1000
        val id = s"t:${p.id}:${p.batchId}"
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        rec.add("trigger", "trigger", id, null, s0, s0 + d.getOrElse("triggerExecution", 0L) * 1000)
        var t = s0
        for (ph <- Seq("latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch", "commitOffsets")) {
          val ms = d.getOrElse(ph, 0L)
          val layer = ph match {
            case "latestOffset" | "getBatch" => "source"
            case "addBatch" => "state"
            case _ => "trigger"
          }
          rec.add(layer, ph, s"$id:$ph", id, t, t + ms * 1000)
          t += ms * 1000
        }
      }
    }
  }

  spark.sparkContext.addSparkListener(this)
  spark.streams.addListener(streams)

  override def onOtherEvent(e: SparkListenerEvent): Unit = events += 1

  /** Waits until the listener bus has gone quiet, then detaches. */
  def finish(): Unit = {
    var seen = -1L
    while (seen != events) { seen = events; Thread.sleep(300) }
    spark.streams.removeListener(streams)
    spark.sparkContext.removeSparkListener(this)
    rec.out("listener") = synchronized(byTag.map { case (k, v) => k -> v.toMap }.toMap)
  }
}

object StreamRun {
  def run(spark: SparkSession, opt: Map[String, String], rec: Recorder): Unit = {
    val ctl = new ServerControl(opt("ctl_port").toInt)
    val seconds = opt("seconds").toDouble
    val rate = opt("rate").toDouble
    val cfg = StreamingPipeline.Config(channel = opt("channel"), batchInterval = opt("interval"))
    val rounds = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.Map[String, Any]]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    def send(n: Long): JsonNode = ctl.cmd(s"OPEN $n $rate")

    /** Block until every query has consumed every line the server has
      * sent (the progress event is posted after the batch's sink write).
      */
    def awaitReflected(qs: Seq[StreamingQuery], timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      var st = ctl.stats()
      while (st.get("sent").asLong < st.get("scheduled").asLong && System.nanoTime() < deadline) {
        Thread.sleep(5); st = ctl.stats()
      }
      val target = st.get("active").elements().asScala.map(_.get("lines").asLong).maxOption.getOrElse(0L)
      def end(q: StreamingQuery): Long =
        Option(q.lastProgress).flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
          .map(_.toLong).getOrElse(0L)
      while (qs.exists(q => end(q) < target) && System.nanoTime() < deadline) {
        qs.find(_.exception.isDefined).foreach(q => throw q.exception.get)
        Thread.sleep(5)
      }
      qs.forall(q => end(q) >= target)
    }

    /** The topology is up once every query has polled its source and the
      * server's set of joined connections has stopped changing.
      */
    def awaitConnected(qs: Seq[StreamingQuery]): Unit = {
      val deadline = System.nanoTime() + 60e9.toLong
      while (qs.exists(q => q.recentProgress.isEmpty &&
        q.status.message != "Waiting for data to arrive") && System.nanoTime() < deadline) {
        qs.find(_.exception.isDefined).foreach(q => throw q.exception.get)
        Thread.sleep(5)
      }
      var last = -1L
      var stableSince = System.nanoTime()
      while (System.nanoTime() - stableSince < 300e6 && System.nanoTime() < deadline) {
        val joined = ctl.stats().get("joined_total").asLong
        if (joined != last || joined == 0) { last = joined; stableSince = System.nanoTime() }
        Thread.sleep(10)
      }
    }

    val setups = opt("setups").toInt
    var queries: Seq[StreamingQuery] = Nil
    val setupSecs = (1 to setups).map { r =>
      val t0 = System.nanoTime()
      val joined0 = ctl.stats().get("joined_total").asLong
      val sinkDir = s"${opt("work")}/tables/round$r"
      val sink = new RecordingSink(new ParquetKVSink(sinkDir), rec)
      Files.createDirectories(Paths.get(sinkDir))
      val lines = rec.span("source", "readTwitchIrc") {
        StreamingPipeline.readTwitchIrc(spark, cfg, host = "127.0.0.1",
          port = opt("irc_port").toInt, nick = "justinfan" + r)
      }
      val (wc, cc) = rec.span("trigger", "start") {
        StreamingPipeline.start(lines, cfg, TextClassifier.default, sink, s"${opt("work")}/ckpt/round$r")
      }
      queries = Seq(wc, cc)
      rec.span("source", "connect")(awaitConnected(queries))
      val warm = send(opt("warm_lines").toLong)
      if (!awaitReflected(queries, 120)) failures += s"round $r: warm-up lines not reflected"
      val secs = (System.nanoTime() - t0) / 1e9
      val joined = ctl.stats().get("joined_total").asLong - joined0
      val round = scala.collection.mutable.LinkedHashMap[String, Any](
        "round" -> r, "sink_dir" -> sinkDir, "connections" -> joined,
        "first_msg" -> warm.get("first").asLong,
        "queries" -> queries.map(q => q.id.toString))
      if (r < setups) {
        queries.foreach(_.stop())
        round("end_msg") = ctl.stats().get("sent").asLong
        round("progress") = queries.map(q => q.recentProgress.map(p => Harness.json(p.json)).toSeq)
      }
      rounds += round
      secs
    }

    // timed window, on the last round's topology
    val gc0 = Harness.gcMillis
    val w0 = Harness.nowMicros
    val first = send(math.round(rate * seconds)).get("first").asLong
    Thread.sleep((seconds * 1000).toLong)
    if (!awaitReflected(queries, 120)) failures += "timed lines not reflected"
    val w1 = Harness.nowMicros
    rec.out("window") = Map("start_us" -> w0, "end_us" -> w1, "first_msg" -> first)
    rec.out("heap_retained_mb") = Harness.heapAfterGcMb()
    rec.out("gc_ms") = Harness.gcMillis - gc0
    val server = ctl.stats()
    rec.out("server") = server
    rounds.last("end_msg") = server.get("sent").asLong
    queries.foreach(_.stop())
    rounds.last("progress") = queries.map(q => q.recentProgress.map(p => Harness.json(p.json)).toSeq)
    rec.out("setup_round_s") = setupSecs
    rec.out("rounds") = rounds
    rec.out("writes") = RecordingSink.writes.asScala.toSeq
    rec.out("failures") = failures.toSeq
    ctl.close()
    if (rec.trace) Kernels.run(spark, opt("kernel_lines"), rec)
  }
}

/** The three text kernels of the topology, each timed alone over the
  * workload's own lines as a static, materialised DataFrame.
  */
object Kernels {
  def run(spark: SparkSession, linesFile: String, rec: Recorder): Unit = {
    val sc = spark.sparkContext
    val raw = spark.read.text(linesFile).cache()
    raw.count()
    val parsed = IrcParser.parse(raw).select("text").cache()
    parsed.count()
    val clf = TextClassifier.default
    def time(name: String, df: => DataFrame): Double = {
      sc.setLocalProperty("perfbench.kernel", name)
      val ms = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        rec.span(name, "kernel")(df.queryExecution.toRdd.count())
        (System.nanoTime() - t0) / 1e6
      }.sorted
      sc.setLocalProperty("perfbench.kernel", null)
      ms(2)
    }
    val tokens = WordCount.cleanTokens(col("text"), "english")
    val labels = TextClassifier.asColumn(clf)(col("text"))
    rec.out("kernels") = Map(
      "lines" -> raw.count(),
      "parse_ms" -> time("parse", IrcParser.parse(raw)),
      "tokenize_ms" -> time("tokenize", parsed.select(tokens)),
      "classify_ms" -> time("classify", parsed.select(labels)),
      "tokens_out" -> parsed.select(sum(size(tokens))).first().getLong(0),
      "labels_out" -> parsed.select(sum(size(labels))).first().getLong(0))
    parsed.unpersist(true); raw.unpersist(true)
  }
}

object QueryLibrary {
  def run(spark: SparkSession, opt: Map[String, String], rec: Recorder): Unit = {
    val sc = spark.sparkContext
    val dir = opt("fixtures")
    val names = opt("queries").split(",").toSeq
    def hygiene(): Int = {
      val leaked = sc.getPersistentRDDs.size + (if (spark.sharedState.cacheManager.isEmpty) 0 else 1)
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      leaked
    }
    def timeQuery(n: String): Map[String, Any] = {
      sc.setLocalProperty("perfbench.query", n)
      val c0 = System.nanoTime()
      val r = try {
        val df = rec.span("query", "construct", Map("query" -> n))(SparkEntry.queries(n)(spark, dir))
        val c1 = System.nanoTime()
        val cnt = rec.span("query", "action", Map("query" -> n))(df.queryExecution.toRdd.count())
        val c2 = System.nanoTime()
        Map("name" -> n, "construct_s" -> (c1 - c0) / 1e9, "action_s" -> (c2 - c1) / 1e9,
          "rows" -> cnt, "ok" -> true)
      } catch {
        case t: Throwable =>
          Map("name" -> n, "construct_s" -> (System.nanoTime() - c0) / 1e9, "action_s" -> 0.0,
            "rows" -> -1L, "ok" -> false, "error" -> s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300))
      }
      sc.setLocalProperty("perfbench.query", null)
      r + ("leaked" -> hygiene())
    }
    // set-up: one untimed pass that also writes each result for the
    // oracle check (graft.Verify's action); JIT and codegen warm here
    val t0 = System.nanoTime()
    val warmFail = scala.collection.mutable.ArrayBuffer.empty[String]
    for (n <- names) {
      try SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"${opt("work")}/results/$n")
      catch { case t: Throwable => warmFail += s"$n: ${t.getClass.getSimpleName}: ${t.getMessage}".take(300) }
      hygiene()
    }
    rec.out("warm_s") = (System.nanoTime() - t0) / 1e9
    val gc0 = Harness.gcMillis
    val w0 = Harness.nowMicros
    // timed: construction + action, graft.Bench's action; hygiene untimed.
    // Each query keeps its fastest pass (graft.Bench's min-of-N).
    val passes = (1 to opt("passes").toInt).map(_ => names.map(timeQuery))
    val rows = names.indices.map(i => passes.map(_(i)).minBy(r =>
      if (r("ok") == true) r("construct_s").asInstanceOf[Double] + r("action_s").asInstanceOf[Double]
      else Double.MaxValue))
    val w1 = Harness.nowMicros
    rec.out("window") = Map("start_us" -> w0, "end_us" -> w1, "passes" -> passes.size)
    rec.out("heap_retained_mb") = Harness.heapAfterGcMb()
    rec.out("gc_ms") = Harness.gcMillis - gc0
    rec.out("queries") = rows
    rec.out("failures") = warmFail.toSeq ++ passes.flatten.filter(_("ok") == false)
      .map(r => s"${r("name")}: ${r("error")}")
  }
}
