package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Custom stateful streaming (SURVEY.md §2.2 "Streaming" — stateful ops):
  * `flatMapGroupsWithState` with explicit per-key state, the Spark-native
  * form of hand-rolled stream state machines.
  *
  * The example operator: per-user cumulative spend with a running event
  * count, emitting one update per input event. State is one small case
  * class per user — bounded by user cardinality; production pipelines
  * add state TTL via GroupStateTimeout to bound it by activity instead.
  */
object Stateful {

  case class EventIn(user_id: Long, event_id: Long, value: Double)
  case class UserState(nEvents: Long, totalValue: Double)
  case class UserUpdate(user_id: Long, event_id: Long, n_events: Long, total_value: Double)

  /** Shared accumulation contract: within a micro-batch, order by
    * event_id for determinism, fold into the running state, emit one
    * update per event. Both the plain and the TTL variants delegate
    * here so the contract cannot drift between them. */
  private def accumulate(userId: Long, events: Seq[(Long, Double)],
                         state: GroupState[UserState]): Seq[UserUpdate] = {
    var st = state.getOption.getOrElse(UserState(0L, 0.0))
    val out = events.sortBy(_._1).map { case (eventId, value) =>
      st = UserState(st.nEvents + 1, st.totalValue + value)
      UserUpdate(userId, eventId, st.nEvents, st.totalValue)
    }
    state.update(st)
    out
  }

  def updateUser(userId: Long, events: Iterator[EventIn],
                 state: GroupState[UserState]): Iterator[UserUpdate] =
    accumulate(userId, events.toSeq.map(e => (e.event_id, e.value)), state).iterator

  /** Streaming per-user running totals over the event stream. */
  def runningTotals(spark: SparkSession, events: DataFrame): Dataset[UserUpdate] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout())(updateUser)
  }

  case class TimedEventIn(user_id: Long, event_id: Long, value: Double,
                          ts: java.sql.Timestamp)

  /** Running totals with state TTL: a user's state is evicted once the
    * event-time watermark passes (last event + ttlMs), so state size is
    * bounded by ACTIVITY within the TTL window, not total user
    * cardinality — the production requirement for unbounded key spaces.
    * A user returning after eviction starts from zero (by design: the
    * timed-out state is gone). Timeouts fire at micro-batch boundaries
    * when the watermark advances. */
  def runningTotalsWithTTL(spark: SparkSession, events: DataFrame,
                           ttlMs: Long): Dataset[UserUpdate] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("value"), col("ts"))
      .withWatermark("ts", "0 seconds")
      .as[TimedEventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, events: Iterator[TimedEventIn], state: GroupState[UserState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = events.toSeq
            val out = accumulate(userId,
              batch.map(e => (e.event_id, e.value)), state)
            // clamp: setTimeoutTimestamp throws (failing the whole query)
            // when the value is <= the current watermark — possible with
            // a short TTL and events admitted right at the boundary
            state.setTimeoutTimestamp(
              math.max(batch.map(_.ts.getTime).max + ttlMs,
                state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
        })
  }

  /** The same running-totals operator on Spark 4's `transformWithState`
    * API — the successor of `flatMapGroupsWithState`: explicit named
    * state variables from a `StatefulProcessorHandle` (typed
    * `ValueState`, per-variable `TTLConfig`, timers) instead of one
    * opaque `GroupState` blob. Semantics here are identical to
    * `runningTotals` by construction (same per-batch event_id ordering,
    * same fold), so the s3 oracle pins both. Requires the RocksDB state
    * store provider (the API's backing store — see `runTwsToCompletion`). */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, EventIn, UserUpdate] {
    @transient private var totals: ValueState[UserState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserState](
        "totals", Encoders.product[UserState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
                                 timerValues: TimerValues): Iterator[UserUpdate] = {
      var st = if (totals.exists()) totals.get() else UserState(0L, 0.0)
      val out = rows.toSeq.sortBy(_.event_id).map { e =>
        st = UserState(st.nEvents + 1, st.totalValue + e.value)
        UserUpdate(key, e.event_id, st.nEvents, st.totalValue)
      }
      totals.update(st)
      out.iterator
    }
  }

  /** Streaming per-user running totals via `transformWithState`. */
  def runningTotalsTws(spark: SparkSession, events: DataFrame): Dataset[UserUpdate] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Run the transformWithState query to completion into a memory sink.
    * `transformWithState` only runs on the RocksDB state store provider
    * (its state layout needs multiple column families); the harness
    * scopes that conf to this run. */
  def runTwsToCompletion(spark: SparkSession, dir: String, name: String): DataFrame =
    Streams.runToMemorySink(spark,
      runningTotalsTws(spark, Streams.eventStream(spark, dir)).toDF(), name, "append",
      Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  /** Run the stateful query to completion into a memory sink. */
  def runToCompletion(spark: SparkSession, dir: String, name: String): DataFrame =
    Streams.runToMemorySink(spark,
      runningTotals(spark, Streams.eventStream(spark, dir)).toDF(), name, "append")

  /** foreachBatch sink: reuse an arbitrary batch writer per micro-batch —
    * the streaming face of the ETL write path (micro-batch id gives
    * idempotency hooks; here: append one parquet dir per batch). */
  def writeViaForeachBatch(spark: SparkSession, events: DataFrame,
                           outDir: String): Unit = {
    Streams.runHarnessQuery(spark, "foreach_batch") { ckpt =>
      Streams.tumblingCounts(events)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        }
        .start()
    }
  }
}
