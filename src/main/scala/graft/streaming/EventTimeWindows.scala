package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import SemiStreamRuntime.{replayToMemory, Staged}

/** Event-time windowed aggregation as a REAL streaming query (SURVEY §2.7
  * — the capability the reference lacks entirely: it is processing-time
  * only, `DS_join_step4/src/main/scala/streaming.scala:135`). Streams
  * staged chunks through `readStream`, aggregates into
  * tumbling/sliding event-time windows with a watermark, and returns the
  * result table.
  *
  * Two output contracts:
  *   - [[completeCounts]]: `complete` mode memory sink — every window,
  *     regardless of watermark position; equals the batch aggregation
  *     (the correctness-oracle form).
  *   - [[appendCounts]]: `append` mode — only watermark-closed windows
  *     emit, and late rows beyond the watermark are DROPPED; this is the
  *     form that scales (state is bounded by the watermark) and the one
  *     the watermark spec exercises.
  */
object EventTimeWindows {

  /** Tumbling (or sliding, if `slide` is set) windowed counts + value sums
    * per event_type, complete mode: equals the batch aggregation over all
    * staged data.
    *
    * ==TEST/ORACLE HARNESS ONLY — not a production path.==
    * Complete mode into a memory sink keeps EVERY window's state on the
    * driver forever: unbounded memory on an unbounded stream. It exists so
    * the correctness oracle can compare against the batch aggregation.
    * Production code wants [[appendCounts]] (watermark-bounded state,
    * distributed sink).
    */
  def completeCounts(
      spark: SparkSession,
      staged: Path,
      schema: StructType,
      windowDur: String,
      slide: Option[String] = None,
      watermark: String = "1 hour"): DataFrame =
    replayToMemory(spark, Staged(staged.toString, schema), OutputMode.Complete()) { stream =>
      val win = slide match {
        case Some(s) => window(col("ts"), windowDur, s)
        case None    => window(col("ts"), windowDur)
      }
      stream
        .withWatermark("ts", watermark)
        .groupBy(win.as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("event_type"),
          col("n"),
          col("sum_value"))
    }

  /** Append-mode variant: only windows the watermark has closed are in the
    * output, and events older than the watermark are dropped on arrival.
    */
  def appendCounts(
      spark: SparkSession,
      staged: Path,
      schema: StructType,
      windowDur: String,
      watermark: String): DataFrame =
    replayToMemory(spark, Staged(staged.toString, schema), OutputMode.Append()) { stream =>
      stream
        .withWatermark("ts", watermark)
        .groupBy(window(col("ts"), windowDur).as("w"))
        .agg(count(lit(1)).as("n"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("n"))
    }
}
