package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming retention cohorts: [[graft.operators.Cohorts]]'s triangle
  * maintained from an event stream with ONE long of state per user (the
  * first-seen period). Each batch emits the user's (cohort, period)
  * activity pairs; the reader dedupes pairs and aggregates the triangle
  * — so per-user state never grows with history, and the emitted stream
  * is exactly the activity relation the batch operator builds.
  *
  * Equivalence: with time-ordered batches the first period a user
  * appears in IS their min period, so the state fixes the true cohort;
  * everything after is stateless projection + the same aggregation as
  * batch. Spec-pinned across chunkings.
  */
object StreamingCohorts {

  final case class CEv(user_id: Long, period: Long)
  final case class Cohort(c: Long)
  final case class Act(user_id: Long, cohort: Long, period: Long)

  private[streaming] def fold(
      userId: Long,
      evs: Iterator[CEv],
      state: GroupState[Cohort]): Iterator[Act] = {
    val periods = evs.map(_.period).toSeq.distinct.sorted
    if (periods.isEmpty) Iterator.empty
    else {
      val cohort = state.getOption.map(_.c).getOrElse {
        val c = periods.min
        state.update(Cohort(c))
        c
      }
      periods.iterator.map(p => Act(userId, cohort, p))
    }
  }

  /** Replay events as `chunks` time-range micro-batches; return the
    * retention triangle over epoch-`periodUs` periods:
    * (cohort_period, offset, n_users, cohort_size, retention_bp).
    */
  def run(
      events: DataFrame,
      userCol: String,
      tsUsCol: String,
      periodUs: Long,
      chunks: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(periodUs > 0 && chunks > 0)
    val projected = events.select(
      col(userCol).cast("long").as("user_id"),
      expr(s"CAST($tsUsCol AS BIGINT) div ${periodUs}L").as("period"),
      col(tsUsCol).cast("long").as("__tus"))
    val bounds = projected.agg(min("__tus"), max("__tus")).head()
    require(!bounds.isNullAt(0), "empty events")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val per = (hi - lo) / chunks + 1
    val acts = SemiStreamRuntime.replayToMemory(
      spark,
      SemiStreamRuntime.Chunked(
        projected,
        least(expr(s"(__tus - ${lo}L) div ${per}L"), lit(chunks - 1L)).cast("int"),
        chunks),
      OutputMode.Append()) {
      _.select("user_id", "period").as[CEv]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
    }
    val counts = acts
      .dropDuplicates("user_id", "period") // same (user, period) can recur across batches
      .groupBy(col("cohort").as("cohort_period"), (col("period") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_users"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cohort_period")
    counts
      .withColumn("cohort_size", max(when(col("offset") === 0, col("n_users"))).over(w))
      .withColumn("retention_bp", expr("(n_users * 10000) div cohort_size"))
  }
}
