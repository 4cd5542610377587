package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Lower-level stateful running counts via `flatMapGroupsWithState` —
  * the explicit-state form of [[StreamingPipeline.start]]'s counting
  * aggregation (SURVEY.md §2.4 A4 maps `updateStateByKey` to streaming
  * `groupBy.sum`; this is the noted `mapGroupsWithState` alternative,
  * needed only when state wants semantics the aggregate can't express —
  * here: optional idle-key TTL eviction, which the reference lacked but
  * its Redis TTL map gestured at).
  *
  * Emits `(key, runningCount)` for every key updated in the batch
  * (Update output mode); a key idle past `ttl` is dropped from the state
  * store via processing-time timeout.
  */
object StatefulCounts {

  final case class KeyCount(key: String, count: Long)

  def runningCounts(
      keys: Dataset[String],
      ttl: Option[java.time.Duration] = None): Dataset[KeyCount] = {
    import keys.sparkSession.implicits._
    val timeout = ttl match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout()
      case None => GroupStateTimeout.NoTimeout()
    }
    keys
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, KeyCount](OutputMode.Update(), timeout) {
        (key: String, values: Iterator[String], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val next = state.getOption.getOrElse(0L) + values.size
            state.update(next)
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            Iterator.single(KeyCount(key, next))
          }
      }
  }

  /** The same running counts on the arbitrary-state v2 API
    * (`transformWithState`, Spark 4.x): typed named state via a
    * `StatefulProcessor`, TTL declared as `TTLConfig` instead of manual
    * timeout bookkeeping. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`).
    */
  final class RunningCountProcessor(ttl: Option[java.time.Duration])
      extends StatefulProcessor[String, String, KeyCount] {
    @transient private var count: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val cfg = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, cfg)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[String],
        timerValues: TimerValues): Iterator[KeyCount] = {
      val next = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(next)
      Iterator.single(KeyCount(key, next))
    }
  }

  def runningCountsV2(
      keys: Dataset[String],
      ttl: Option[java.time.Duration] = None): Dataset[KeyCount] = {
    import keys.sparkSession.implicits._
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    keys
      .groupByKey(identity)
      .transformWithState(new RunningCountProcessor(ttl), timeMode, OutputMode.Update())
  }
}
