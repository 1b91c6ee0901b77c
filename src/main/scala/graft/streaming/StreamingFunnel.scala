package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming funnel: the ordered-step conversion state machine
  * ([[graft.operators.Funnel]]) kept as per-user keyed state over a
  * micro-batch stream — the live-dashboard form of the batch operator.
  *
  * Equivalence contract (the invariant q95's oracle leans on): when
  * batches arrive in event-time order (each batch's events all ≥ the
  * previous batch's — the replay harness chunks by time range, and a
  * production source with event-time-ordered partitions + per-batch sort
  * gives the same), the incremental greedy update IS the batch funnel:
  * step 1's first qualifying event is the global min, and each later
  * step's first qualifying event after an already-fixed tᵢ₋₁ is the
  * batch MIN over that predicate. Spec-pinned against
  * [[graft.operators.Funnel.analyze]] across chunkings.
  *
  * State is k longs per user with steps fixed at plan time — bounded,
  * no event retention; each batch emits a snapshot per UPDATED user and
  * the reader takes the last snapshot per user.
  */
object StreamingFunnel {

  final case class FEv(user_id: Long, tus: Long, step: Int)
  final case class FState(times: Seq[Long])
  final case class FSnap(user_id: Long, reached: Long, times: Seq[Long])

  /** Fold a batch of one user's events (already time-ordered) into the
    * step-time state; emit a snapshot iff something advanced.
    */
  private[streaming] def advance(k: Int, windowUs: Long)(
      userId: Long,
      evs: Iterator[FEv],
      state: GroupState[FState]): Iterator[FSnap] = {
    val times = state.getOption.map(_.times.toArray).getOrElse(Array.fill(k)(-1L))
    var changed = false
    evs.toSeq.sortBy(e => (e.tus, e.step)).foreach { e =>
      val s = e.step
      if (s == 0) {
        if (times(0) == -1L) { times(0) = e.tus; changed = true }
      } else if (s > 0 && s < k) {
        if (times(s) == -1L && times(s - 1) != -1L &&
          e.tus > times(s - 1) && e.tus <= times(0) + windowUs) {
          times(s) = e.tus
          changed = true
        }
      }
    }
    if (!changed) Iterator.empty
    else {
      state.update(FState(times.toSeq))
      // reached strictly increases on every emitted snapshot (changed ⇒ a
      // new step was fixed), so the max-reached row per user IS the final
      // state — no batch id needed
      Iterator.single(FSnap(userId, times.count(_ != -1L).toLong, times.toSeq))
    }
  }

  /** Replay `events` as `chunks` time-range micro-batches through the
    * keyed state machine; return the FINAL per-user funnel rows with the
    * same schema as [[graft.operators.Funnel.analyze]].
    */
  def run(
      events: DataFrame,
      userCol: String,
      tsUsCol: String,
      typeCol: String,
      steps: Seq[String],
      windowUs: Long,
      chunks: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    require(steps.nonEmpty && chunks > 0)
    val k = steps.size

    val stepIdx = steps.zipWithIndex
      .foldRight(lit(-1): org.apache.spark.sql.Column) { case ((name, i), els) =>
        when(col(typeCol) === name, lit(i)).otherwise(els)
      }
    val projected = events
      .select(
        col(userCol).cast("long").as("user_id"),
        col(tsUsCol).cast("long").as("tus"),
        stepIdx.cast("int").as("step"))
      .filter(col("step") >= 0)

    // contiguous TIME-range chunks: batch i's events all precede batch
    // i+1's — the ordering the equivalence contract needs
    val bounds = projected.agg(min("tus"), max("tus")).head()
    if (bounds.isNullAt(0)) return emptyResult(spark, k)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val per = (hi - lo) / chunks + 1
    val snaps = SemiStreamRuntime.replayToMemory(
      spark,
      SemiStreamRuntime.Chunked(
        projected,
        least(expr(s"(tus - ${lo}L) div ${per}L"), lit(chunks - 1L)).cast("int"),
        chunks),
      OutputMode.Append()) {
      _.as[FEv]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          advance(k, windowUs))
    }

    // final snapshot per user = max reached (monotone state)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("reached").desc)
    val last = snaps
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val tCols = (1 to k).map(i => element_at(col("times"), i).as(s"t$i"))
    last.select(
      col("user_id").as(userCol) +:
        tCols :+
        col("reached"): _*)
  }

  private def emptyResult(spark: org.apache.spark.sql.SparkSession, k: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = StructField("user_id", LongType) +:
      (1 to k).map(i => StructField(s"t$i", LongType)) :+
      StructField("reached", LongType)
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields.toArray))
  }
}
