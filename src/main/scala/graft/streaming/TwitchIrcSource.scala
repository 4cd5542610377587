package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StructType, TimestampType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util
import scala.collection.mutable.ArrayBuffer

/** `twitch-irc` streaming source — DataSource V2 MicroBatchStream
  * replacement for the reference's receiver
  * (`/root/reference/src/main/scala/TwitchStream/IRCBot.scala:11-68`):
  * TCP connect, PASS/NICK auth, JOIN channel, PING→PONG keepalive, each
  * non-PING line tagged with receipt time. Unlike the reference's
  * string-prepended epoch millis (`IRCBot.scala:52-53`), receipt time is
  * a real `TimestampType` column.
  *
  * Offsets count lines received; data is buffered on the driver between
  * offsets (the same architecture as Spark's built-in socket source).
  * The live protocol is at-most-once across restarts — the reference's
  * receiver has the same contract (SURVEY.md §7.4): lines sent while no
  * query is connected are lost, and a restarted session numbers its
  * lines on from the checkpoint's committed offset.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("twitch-irc")
  *     .option("host", "irc.chat.twitch.tv").option("port", "6667")
  *     .option("channel", "#somechannel")   // the leading '#' is optional
  *     .option("nick", "mynick").option("pass", "oauth:…")
  *     .load()   // schema: value STRING, event_ts TIMESTAMP
  * }}}
  */
class TwitchIrcSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "twitch-irc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = TwitchIrcSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TwitchIrcTable(new CaseInsensitiveStringMap(properties))
}

object TwitchIrcSource {
  val Schema: StructType = new StructType()
    .add("value", StringType)
    .add("event_ts", TimestampType)
}

final class TwitchIrcTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"twitch-irc(${options.get("channel")})"
  override def schema(): StructType = TwitchIrcSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TwitchIrcSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TwitchIrcMicroBatchStream(
            host = options.getOrDefault("host", "irc.chat.twitch.tv"),
            port = options.getInt("port", 6667),
            channel = options.get("channel"),
            nick = options.getOrDefault("nick", "justinfan0"),
            pass = options.getOrDefault("pass", ""),
            maxLinesPerTrigger = options.getLong("maxLinesPerTrigger", 0L),
            linesPerPartition = options.getInt("linesPerPartition", 5000),
            maxBufferedLines = options.getLong("maxBufferedLines", 0L))
      }
    }
}

/** Offset = lines received, counted on from the checkpoint's committed
  * offset when the query restarts (numbering starts at 0 otherwise).
  */
final case class LineOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** @param maxLinesPerTrigger admission control: cap lines per micro-batch
  *        (0 = unlimited). Surfaced to Spark via [[SupportsAdmissionControl]],
  *        so after a stall the backlog drains across several bounded
  *        batches instead of one batch swallowing everything through a
  *        single task — the receiver rate-limiting the reference inherited
  *        from `spark.streaming.receiver.maxRate`
  *        (`/root/reference/src/main/scala/TwitchStream/IRCBot.scala:11-12`).
  * @param linesPerPartition chunk size for `planInputPartitions`: a batch
  *        of n lines plans `ceil(n / linesPerPartition)` input partitions
  *        so parse/transform work fans out across executor threads
  *        instead of one task per batch.
  * @param maxBufferedLines bound on the driver-side IN-MEMORY line
  *        buffer (0 = unbounded). Overflow spills to an append-only
  *        local file and is pulled back into memory as batches commit —
  *        the reference receiver's `MEMORY_AND_DISK` storage level
  *        (`IRCBot.scala:12`), re-expressed for DSv2. The reader thread
  *        NEVER blocks on a full buffer: blocking would also stall the
  *        PING→PONG keepalive on the shared socket thread, and a stall
  *        past the server's ping timeout means a forced disconnect and
  *        silent line loss mid-run. Prevents driver OOM when a stalled
  *        query meets a hot channel.
  */
final class TwitchIrcMicroBatchStream(
    host: String,
    port: Int,
    channel: String,
    nick: String,
    pass: String,
    maxLinesPerTrigger: Long = 0L,
    linesPerPartition: Int = 5000,
    maxBufferedLines: Long = 0L)
    extends MicroBatchStream
    with SupportsAdmissionControl {

  // (line, receipt micros); index i holds line number baseOffset + i
  private val buffer = ArrayBuffer.empty[(String, Long)]
  private var baseOffset = 0L
  // set by the first start offset Spark hands in (see rebaseOnce)
  private var started = false
  private var client: IrcLineClient = _
  @volatile private var closed = false

  // disk overflow queue (arrival order): records appended by the reader
  // when memory is at cap, drained back into `buffer` as commits free
  // space; file deleted whenever fully drained so disk stays transient
  private var spillFile: java.io.File = _
  private var spillOut: java.io.DataOutputStream = _
  private var spillIn: java.io.DataInputStream = _
  private var spillWritten = 0L
  private var spillRead = 0L

  // sanity cap on a single spill record: IRC lines are ~512 bytes, so a
  // length prefix beyond this is a corrupt file, not data — and it bounds
  // the refill-side allocation (a garbage prefix must not trigger a
  // near-2GiB array allocation on the driver)
  private val MaxSpillRecordBytes = 16 * 1024 * 1024

  // records are length-prefixed UTF-8 (int len + bytes + long micros),
  // not writeUTF: writeUTF throws UTFDataFormatException past 64 KiB, and
  // that exception would escape append() on the socket-reader thread — one
  // oversized line from a hostile/nonconforming server must not kill the
  // reader
  private def spillAppend(line: String, ts: Long): Unit = {
    if (spillFile == null) {
      spillFile = java.io.File.createTempFile("twitch-irc-spill", ".dat")
      spillFile.deleteOnExit()
      spillOut = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(spillFile, true)))
      spillWritten = 0L
      spillRead = 0L
    }
    val bytes = line.getBytes(StandardCharsets.UTF_8)
    // whole record in ONE write() call: an IOException mid-record (disk
    // full) must never leave partial bytes desyncing the length-prefixed
    // format while spillWritten says otherwise
    val rec = java.nio.ByteBuffer.allocate(4 + bytes.length + 8)
    rec.putInt(bytes.length).put(bytes).putLong(ts)
    try {
      spillOut.write(rec.array())
      spillWritten += 1L
    } catch {
      case _: java.io.IOException =>
        // the spill tier is best-effort overflow: a failed write degrades
        // to dropping the not-yet-drained spilled lines (what a bounded
        // buffer would have dropped anyway) instead of leaving a
        // misaligned file that a later refill would misparse
        dropSpill()
    }
  }

  /** Pull spilled lines into memory up to the cap (arrival order, so the
    * buffer always holds the contiguous offset range). The read handle is
    * opened once per spill file and advances across calls — reopening and
    * seeking per micro-batch would do extra disk I/O under the stream lock
    * the reader thread's append() contends on.
    */
  private def refillFromSpill(): Unit = {
    if (spillFile != null && spillRead < spillWritten) {
      try {
        spillOut.flush()
        if (spillIn == null)
          spillIn = new java.io.DataInputStream(new java.io.BufferedInputStream(
            new java.io.FileInputStream(spillFile)))
        while (spillRead < spillWritten &&
          (maxBufferedLines == 0L || buffer.size < maxBufferedLines)) {
          val len = spillIn.readInt()
          // don't trust the on-disk prefix: negative → NegativeArraySize,
          // huge → unbounded driver allocation; both mean corruption
          if (len < 0 || len > MaxSpillRecordBytes)
            throw new java.io.IOException(s"corrupt spill record length $len")
          val bytes = new Array[Byte](len)
          spillIn.readFully(bytes)
          val ts = spillIn.readLong()
          buffer += ((new String(bytes, StandardCharsets.UTF_8), ts))
          spillRead += 1L
        }
        if (spillRead == spillWritten) dropSpill()
      } catch {
        case _: java.io.IOException => // includes EOFException (truncation)
          // corrupt/truncated spill file: records drained so far are safe
          // in `buffer`; drop the rest rather than let the exception
          // escape latestOffset() and fail the whole streaming query
          dropSpill()
      }
    }
  }

  private def dropSpill(): Unit = {
    if (spillFile != null) {
      try spillOut.close() catch { case _: Exception => () }
      if (spillIn != null) { try spillIn.close() catch { case _: Exception => () } }
      spillFile.delete()
      spillFile = null
      spillOut = null
      spillIn = null
      spillWritten = 0L
      spillRead = 0L
    }
  }

  private def append(line: String): Unit = synchronized {
    if (!closed) {
      val ts = System.currentTimeMillis() * 1000L
      // memory only while the spill queue is empty — otherwise arrival
      // order across the two tiers would interleave
      if ((maxBufferedLines == 0L || buffer.size < maxBufferedLines) &&
        (spillFile == null || spillRead == spillWritten))
        buffer += ((line, ts))
      else spillAppend(line, ts)
    }
  }

  private def ensureConnected(): Unit = synchronized {
    if (client == null) {
      client = new IrcLineClient(host, port, channel, nick, pass, append)
      client.start()
    }
  }

  /** A session numbers its lines from 0, but a query restarted from a
    * checkpoint resumes at the committed offset N: lines 0..N-1 of the new
    * session would be withheld until the count passed N, and then lost.
    * So the first start offset Spark hands in — the committed one on a
    * restart, 0 on a fresh query — becomes this session's base, and the
    * lines buffered so far are numbered on from it. Only that first one:
    * later start offsets run ahead of `commit`, which Spark calls for the
    * previous batch after it asks for the next one.
    */
  private def rebaseOnce(start: Offset): Unit = {
    if (!started) {
      started = true
      baseOffset = start.asInstanceOf[LineOffset].n
    }
  }

  override def initialOffset(): Offset = LineOffset(0L)
  override def deserializeOffset(json: String): Offset = LineOffset(json.toLong)

  // MicroBatchExecution calls the admission-control overload below when
  // SupportsAdmissionControl is implemented; the no-arg form is kept for
  // direct callers and reports everything available.
  override def latestOffset(): Offset = {
    ensureConnected()
    synchronized {
      refillFromSpill()
      LineOffset(baseOffset + buffer.size)
    }
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxLinesPerTrigger > 0L) ReadLimit.maxRows(maxLinesPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    ensureConnected()
    synchronized {
      rebaseOnce(start)
      refillFromSpill()
      val available = baseOffset + buffer.size
      limit match {
        case rows: ReadMaxRows =>
          val s = start.asInstanceOf[LineOffset].n
          LineOffset(math.min(available, s + rows.maxRows()))
        case _ => LineOffset(available)
      }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      // a restart can re-run the batch its checkpoint logged but never
      // committed before asking for a new offset
      rebaseOnce(start)
      val s = start.asInstanceOf[LineOffset].n
      val e = end.asInstanceOf[LineOffset].n
      val rows = buffer.slice((s - baseOffset).toInt, (e - baseOffset).toInt).toArray
      if (rows.isEmpty) Array(IrcLinesPartition(rows))
      else rows.grouped(math.max(1, linesPerPartition)).map(IrcLinesPartition).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val rows = partition.asInstanceOf[IrcLinesPartition].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow =
            InternalRow(UTF8String.fromString(rows(i)._1), rows(i)._2)
          override def close(): Unit = ()
        }
      }
    }

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[LineOffset].n
    val drop = (e - baseOffset).toInt
    if (drop > 0) { buffer.dropInPlace(drop); baseOffset = e; refillFromSpill() }
  }

  override def stop(): Unit = synchronized {
    closed = true
    dropSpill()
    if (client != null) client.close()
  }
}

final case class IrcLinesPartition(rows: Array[(String, Long)]) extends InputPartition

/** Blocking-reader IRC client on a daemon thread. Auth handshake (PASS →
  * NICK → JOIN `#channel`, with or without the `#` in `channel`,
  * `IRCBot.scala:23-35`), PONG keepalive (`IRCBot.scala:47-50`),
  * auth-phase retry on socket errors (`IRCBot.scala:37-39`).
  */
final class IrcLineClient(
    host: String,
    port: Int,
    channel: String,
    nick: String,
    pass: String,
    onLine: String => Unit)
    extends Thread {

  setDaemon(true)
  @volatile private var closed = false
  @volatile private var socket: Socket = _

  override def run(): Unit = {
    while (!closed) {
      var s: Socket = null
      try {
        s = new Socket(host, port)
        socket = s
        val out = new PrintWriter(s.getOutputStream, true)
        val in = new BufferedReader(
          new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
        if (pass.nonEmpty) out.println(s"PASS $pass")
        out.println(s"NICK $nick")
        out.println(s"JOIN #${channel.stripPrefix("#")}")
        var line = in.readLine()
        while (line != null && !closed) {
          if (line.startsWith("PING")) out.println(line.replaceFirst("PING", "PONG"))
          else onLine(line)
          line = in.readLine()
        }
      } catch {
        case _: Exception => () // reconnect below, unless closed
      } finally {
        if (s != null) { try s.close() catch { case _: Exception => () } }
      }
      // pause after every disconnect, a clean server close included, so
      // a server that drops each connection is not redialled in a loop
      if (!closed) Thread.sleep(200)
    }
  }

  def close(): Unit = {
    closed = true
    if (socket != null) { try socket.close() catch { case _: Exception => () } }
  }
}
