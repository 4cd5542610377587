package graft

import graft.classify.TextClassifier
import graft.sinks.ParquetKVSink
import graft.streaming.StreamingPipeline

/** CLI entry point — the reference's application surface
  * (`/root/reference/src/main/scala/TwitchStream/TwitchStream.scala:3-37`:
  * `channel batchSeconds language nick oauth`), wired to the Spark-native
  * topology: `twitch-irc` DSv2 source → parse/clean → one running-count
  * query → parquet KV snapshot tables. The `language` argument is
  * honored (the reference accepted and ignored it — SURVEY.md §2.11.4).
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 5) {
      System.err.println(
        "usage: graft.Main <#channel> <batchSeconds> <language> <nick> <oauth-pass> " +
          "[outDir=/tmp/graft-tables] [checkpointDir=/tmp/graft-checkpoints]")
      sys.exit(2)
    }
    val Array(channel, batchSeconds, language, nick, pass) = args.take(5)
    val outDir = if (args.length > 5) args(5) else "/tmp/graft-tables"
    val ckptDir = if (args.length > 6) args(6) else "/tmp/graft-checkpoints"

    val spark = GraftSession.create(s"graft-$channel")
    val cfg = StreamingPipeline.Config(
      channel = channel.stripPrefix("#"),
      language = language,
      batchInterval = s"$batchSeconds seconds")
    val lines = StreamingPipeline.readTwitchIrc(spark, cfg, nick = nick, pass = pass)
    val (query, _) = StreamingPipeline.start(
      lines, cfg, TextClassifier.default, new ParquetKVSink(outDir), ckptDir)

    try query.awaitTermination()
    finally spark.stop()
  }
}
