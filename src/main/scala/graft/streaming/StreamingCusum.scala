package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Level-shift monitoring ON INGEST — the streaming face of
  * [[graft.operators.ChangePoint]]: per-bucket totals fold into keyed
  * state micro-batch by micro-batch, and after each batch the one-sided
  * CUSUM statistic is recomputed over the (bounded) bucket grain — the
  * alarm FRONTIER as the pipeline would actually see it, not the
  * end-of-history verdict. The reference level self-calibrates from the
  * FIRST batch (the classic calibration-window deployment): ref =
  * (refNum·Σx₀) div (refDen·#buckets₀), h = (hNum·ref) div hDen.
  *
  * One stateful pass: state per bucket is ONE long (the running total);
  * each batch emits (batch, bucket, dx, total) at change-volume grain,
  * and the snapshot/cusum rollup runs over ≤ batches × buckets rows —
  * triangular batch join plus per-BATCH windows over the bucket grain
  * (every window partitioned; the statistic per batch b uses exactly
  * the data of chunks ≤ b). total ≡ Σ dx is the state-consistency law
  * the spec pins.
  *
  * Output: (batch, t, x, cusum, alarm) — one row per (batch that
  * carried data, bucket ingested so far), ascending.
  */
object StreamingCusum {

  final case class Chg(bucket: Long, chunk: Int, x: Long)
  final case class Upd(batch: Int, bucket: Long, dx: Long, total: Long)

  private[streaming] def fold(
      bucket: Long,
      chgs: Iterator[Chg],
      state: GroupState[Long]): Iterator[Upd] = {
    val rows = chgs.toSeq
    val batch = rows.map(_.chunk).max
    val dx = rows.map(_.x).sum
    val total = state.getOption.getOrElse(0L) + dx
    state.update(total)
    Iterator(Upd(batch, bucket, dx, total))
  }

  def run(
      changes: DataFrame,
      bucketCol: String,
      seqCol: String,
      valueCol: String,
      refNum: Long,
      refDen: Long,
      hNum: Long,
      hDen: Long,
      chunks: Int): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    require(chunks > 0)
    require(refNum > 0 && refDen > 0 && hNum >= 0 && hDen > 0,
      s"StreamingCusum.run: bad ref/h fractions $refNum/$refDen, $hNum/$hDen")
    val bounds = changes
      .agg(min(col(seqCol).cast("long")), max(col(seqCol).cast("long"))).head()
    require(!bounds.isNullAt(0), "empty stream")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val per = (hi - lo) / chunks + 1
    val projected = changes.select(
      col(bucketCol).cast("long").as("bucket"),
      least(expr(s"(CAST($seqCol AS LONG) - ${lo}L) div ${per}L"), lit(chunks - 1L))
        .cast("int").as("chunk"),
      col(valueCol).cast("long").as("x"))
    val upds = SemiStreamRuntime.replayToMemory(
      spark, SemiStreamRuntime.Chunked(projected, col("chunk"), chunks), OutputMode.Append()) {
      _.as[Chg]
        .groupByKey(_.bucket)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
    }
    // calibration window: the first batch must carry data
    val refRow = upds.filter(col("batch") === 0)
      .agg(expr(s"($refNum * sum(dx)) div ($refDen * count(DISTINCT bucket))").as("ref"))
      .withColumn("h", expr(s"($hNum * ref) div $hDen"))
    require(!refRow.head().isNullAt(0),
      "StreamingCusum.run: calibration batch 0 carried no rows")
    // per-batch as-of snapshots via a triangular join over the bounded
    // (batches × buckets) update relation, then per-BATCH windows over
    // the bucket grain — everything partitioned, everything bounded
    val batches = upds.select(col("batch").as("b")).distinct()
    val snap = upds
      .join(batches, col("batch") <= col("b"))
      .groupBy("b", "bucket")
      .agg(sum("dx").as("x"))
      .crossJoin(broadcast(refRow))
    val wp = Window.partitionBy("b").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wm = Window.partitionBy("b").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    snap
      .withColumn("p", sum(col("x") - col("ref")).over(wp))
      .withColumn("mb", min("p").over(wm))
      .select(
        col("b").as("batch"),
        col("bucket").as("t"),
        col("x"),
        (col("p") - least(lit(0L), col("p"), coalesce(col("mb"), col("p"))))
          .as("cusum"),
        ((col("p") - least(lit(0L), col("p"), coalesce(col("mb"), col("p"))))
          > col("h")).as("alarm"))
  }
}
