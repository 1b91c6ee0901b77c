package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.CountMin

/** Streaming count-min sketch: the frequency-tracking topology for an
  * unbounded ingest — executors partial-aggregate each micro-batch into
  * its own ≤ depth·width cell grid, and the driver folds grids cell-wise
  * into the running sketch. The per-batch driver transfer is the GRID,
  * bounded by construction and independent of batch size — the defining
  * property that makes a sketch the right streaming frequency state
  * (contrast: exact per-key counts grow with the key domain and would
  * need keyed state + compaction, the [[StreamingDedup]] machinery).
  *
  * Cell counts are exact integers and sum associatively, so the streamed
  * sketch equals the batch sketch of the same rows REGARDLESS of batch
  * boundaries — spec-pinned, and why a driver query over the result can
  * be SQL-oracled with no streaming in the oracle.
  */
object StreamingCountMin {

  /** Replay `items` (one string item per row, chunked into `chunks`
    * micro-batches by the long `chunkCol`'s value ranges) through a
    * foreachBatch sketch-merge loop. Returns the final (r, cell, cnt)
    * sketch relation.
    */
  def runSketch(
      items: DataFrame,
      itemCol: String,
      chunkCol: String,
      depth: Int,
      width: Int,
      chunks: Int): DataFrame = {
    val spark = items.sparkSession
    require(depth > 0 && width > 0 && chunks > 0)

    val projected = items.select(
      col(itemCol).cast("string").as("item"),
      col(chunkCol).cast("long").as("ck"))
    val sketchSchema = StructType(Seq(
      StructField("r", IntegerType, nullable = false),
      StructField("cell", LongType, nullable = false),
      StructField("cnt", LongType, nullable = false)))
    val bounds = projected.agg(max("ck")).head()
    // empty input → empty sketch relation, mirroring StreamingFunnel's
    // emptyResult (max() over zero rows is SQL NULL, not a Long)
    if (bounds.isNullAt(0)) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], sketchSchema)
    }
    val maxCk = bounds.getLong(0)
    val per = maxCk / chunks + 1
    val grid = Array.ofDim[Long](depth, width)
    // batchId gate: foreachBatch can REPLAY a batch after a failure, and
    // grid += is not idempotent — the same discipline as the repo's
    // batchId-keyed sinks, in-memory form (a durable deployment would
    // persist (lastBatch, grid) together)
    var lastFolded = -1L
    SemiStreamRuntime.replayForeachBatch(
      spark,
      SemiStreamRuntime.Chunked(
        projected, least(expr(s"ck div ${per}L"), lit(chunks - 1L)).cast("int"), chunks)) {
      (batch, batchId) =>
        if (batchId > lastFolded) {
          // bounded collect: ≤ depth·width rows whatever the batch holds
          CountMin.sketch(batch, "item", depth, width).collect().foreach { r =>
            grid(r.getInt(0))(r.getLong(1).toInt) += r.getLong(2)
          }
          lastFolded = batchId
        }
    }

    val rows = for {
      r <- 0 until depth
      c <- 0 until width
      if grid(r)(c) != 0L
    } yield Row(r, c.toLong, grid(r)(c))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), sketchSchema)
  }
}
