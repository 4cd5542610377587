package graft.streaming

import graft.classify.TextClassifier
import graft.model.IrcParser
import graft.operators.WordCount
import graft.sinks.KVTableSink
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** The reference's live topology (`/root/reference/src/main/scala/TwitchStream/SparkRunner.scala:51-165`)
  * re-expressed on Structured Streaming: one source of raw IRC lines →
  * parse → tokenize/stop-words and classify → one streaming aggregation
  * keyed by (`kind`, `key`), holding the running word counts and the
  * running predicted-category counts → per-batch snapshots of the two
  * reference tables.
  *
  * Semantics parity (SURVEY.md §2.9):
  *  - running totals over ALL time, keys never expire (ST3) — Complete
  *    output mode, no watermark; Spark's StateStore replaces the
  *    hand-rolled `updateStateByKey` fold (and is sum-correct for any
  *    batch multiplicity, fixing §2.11.2);
  *  - per-batch snapshot-overwrite of the result table (ST6) —
  *    `foreachBatch` + `SaveMode.Overwrite` against a [[KVTableSink]];
  *  - micro-batch cadence via processing-time trigger (ST1);
  *  - checkpointing via `checkpointLocation` (ST7).
  *
  * One query means one source connection, and both tables count the same
  * messages: each trigger reads one offset range and updates both.
  */
object StreamingPipeline {

  final case class Config(
      channel: String,
      language: String = "english",
      minWordLength: Int = 3,
      batchInterval: String = "1 second",
      wordCountTtl: Int = 0,
      categoryCountTtl: Int = 0,
      // admission control for the twitch-irc source (0 = unlimited): caps
      // lines per micro-batch so a post-stall backlog drains across
      // bounded batches; see TwitchIrcMicroBatchStream
      maxLinesPerTrigger: Long = 0L,
      linesPerPartition: Int = 5000,
      // driver-side buffer bound (0 = unbounded): a full buffer parks the
      // reader thread, so TCP flow control pushes back on the server
      maxBufferedLines: Long = 0L)

  /** `twitch-irc` line stream with the Config's admission-control options
    * applied — the standard way to build the topology's source.
    */
  def readTwitchIrc(
      spark: org.apache.spark.sql.SparkSession,
      cfg: Config,
      host: String = "irc.chat.twitch.tv",
      port: Int = 6667,
      nick: String = "justinfan0",
      pass: String = ""): DataFrame =
    spark.readStream
      .format("twitch-irc")
      .option("host", host)
      .option("port", port.toString)
      .option("channel", cfg.channel)
      .option("nick", nick)
      .option("pass", pass)
      .option("maxLinesPerTrigger", cfg.maxLinesPerTrigger.toString)
      .option("linesPerPartition", cfg.linesPerPartition.toString)
      .option("maxBufferedLines", cfg.maxBufferedLines.toString)
      .load()

  /** Full topology: one complete-mode query over one scan of `lines`.
    * A message's word keys are its clean tokens longer than
    * `minWordLength` (A3); its category keys are its predicted labels,
    * which with the default keyword classifier is the native
    * `keyword_classify` expression, so the plan is UDF-free (an
    * RPC-backed classifier falls back to the scalar UDF). Both are
    * tagged and exploded together as (`kind`, `key`) rows and counted by
    * one `groupBy(kind, key).count()` state operator — Catalyst plans
    * partial + final hash aggregation into the state store, the
    * map-side combine the reference hand-wrote with `reduceByKey`
    * (`SparkRunner.scala:126`) — checkpointed at
    * `<checkpointRoot>/counts`. Each trigger runs ONE Spark job: it
    * collects the complete-mode snapshot (the action that runs the
    * stateful plan), splits it by `kind` on the driver, and writes
    * `${channel}_wordcount` (`word`, `count`) and
    * `${channel}_categoryCount` (`category`, `count`) with one
    * `sink.write` each, from driver-local frames. The snapshot is
    * driver-sized, as every KV table is; a job per table write would
    * cost more in job launch and task deserialization than the write.
    * Table names follow the reference's Redis naming
    * (`SparkRunner.scala:140-158`).
    *
    * Returns the one query twice, as (wordcount, categoryCount), so
    * callers written against the two-query topology keep working:
    * stopping or awaiting either stops or awaits both tables.
    */
  def start(
      lines: DataFrame,
      cfg: Config,
      clf: TextClassifier,
      sink: KVTableSink,
      checkpointRoot: String): (StreamingQuery, StreamingQuery) = {
    def tagged(kind: String, keys: Column): Column =
      transform(keys, k => struct(lit(kind).alias("kind"), k.alias("key")))
    val text = col("text")
    val wordKeys =
      filter(WordCount.cleanTokens(text, cfg.language), w => length(w) > cfg.minWordLength)
    // null text yields null word keys and no category keys, so the null
    // concat drops nothing either table would have counted
    val counts = IrcParser.parse(lines)
      .select(inline(concat(
        tagged("word", wordKeys), tagged("category", TextClassifier.asColumn(clf)(text)))))
      .groupBy("kind", "key")
      .count()

    def writeSnapshot(batch: DataFrame): Unit = {
      // the collect is the trigger's one Spark job; each table is then a
      // driver-local frame, which the sinks write without starting another
      val rows = batch.collect()
      def table(kind: String): DataFrame = batch.sparkSession.createDataFrame(
        rows.collect { case Row(`kind`, key, count) => Row(key, count) }.toSeq.asJava,
        StructType(Seq(batch.schema("key").copy(name = kind), batch.schema("count"))))
      sink.write(table("word"), s"${cfg.channel}_wordcount", SaveMode.Overwrite, cfg.wordCountTtl)
      sink.write(table("category"), s"${cfg.channel}_categoryCount",
        SaveMode.Overwrite, cfg.categoryCountTtl)
    }
    val query = counts.writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$checkpointRoot/counts")
      .trigger(Trigger.ProcessingTime(cfg.batchInterval))
      .foreachBatch((batch: DataFrame, _: Long) => writeSnapshot(batch))
      .start()
    (query, query)
  }
}
