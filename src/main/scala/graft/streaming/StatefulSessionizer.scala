package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Keyed custom state via `mapGroupsWithState` (SURVEY §2.7's keyed-state
  * variant — the `KeyValueGroupedDataset` form of cross-batch state, the
  * alternative the survey names to the DataFrame cache rotation): per-user
  * sessionization where the session counter and last-seen timestamp live
  * in Spark's state store across micro-batches.
  *
  * Same semantics as the batch lag-window sessionizer (q14): a gap >
  * `gapSeconds` (or the first event ever) starts a new session. Events
  * within a batch are sorted by (ts, event_id) inside the state function;
  * batches must arrive in event-time order for cross-batch correctness
  * (stage by time slices).
  */
object StatefulSessionizer {

  final case class Evt(user_id: Long, ts_us: Long, event_id: Long)
  final case class SessState(lastTsUs: Long, sessions: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long)

  def updateState(gapUs: Long, maxEventsPerKey: Long = Long.MaxValue)(
      userId: Long,
      events: Iterator[Evt],
      state: GroupState[SessState]): UserSessions = {
    val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
    // named-contract guard (the HotKeyGuard discipline for the state-store
    // path): a celebrity key fails with the contract's name, not an OOM
    require(
      sorted.size <= maxEventsPerKey,
      s"StatefulSessionizer: maxEventsPerKey=$maxEventsPerKey contract violated " +
        s"by key $userId with ${sorted.size} events in one batch")
    var s = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
    sorted.foreach { e =>
      val newSession = s.lastTsUs == Long.MinValue || e.ts_us - s.lastTsUs > gapUs
      s = SessState(e.ts_us, if (newSession) s.sessions + 1 else s.sessions)
    }
    state.update(s)
    UserSessions(userId, s.sessions)
  }

  /** Run the stateful sessionizer over staged time-ordered chunks; returns
    * the final per-user session counts (update-mode memory sink — counts
    * are monotone, so the max per user is the final state).
    */
  def run(
      spark: SparkSession,
      staged: Path,
      schema: org.apache.spark.sql.types.StructType,
      gapSeconds: Long,
      maxEventsPerKey: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    SemiStreamRuntime.replayToMemory(
      spark, SemiStreamRuntime.Staged(staged.toString, schema), OutputMode.Update()) {
      _.select(
          col("user_id"),
          col("ts").cast("long").as("ts_us"), // seconds; scaled below
          col("event_id"))
        .withColumn("ts_us", col("ts_us") * 1000000L)
        .as[Evt]
        .groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
          updateState(gapSeconds * 1000000L, maxEventsPerKey))
    }
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"))
  }
}
