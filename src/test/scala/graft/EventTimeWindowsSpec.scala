package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.streaming.{EventTimeWindows, SemiStreamRuntime}

/** Watermark semantics through the real streaming runtime: append mode
  * emits only watermark-closed windows, and late data beyond the watermark
  * is dropped.
  */
class EventTimeWindowsSpec extends SparkSpec {
  init()

  private def ts(minutes: Long) = new Timestamp(minutes * 60000L)

  test("append mode drops late events beyond the watermark and emits closed windows") {
    import spark.implicits._
    // chunk 0: 3 events in hour 0; chunks 1-2: events in hour 2 — the
    // watermark advances to 2h25 and hour-0 is closed, emitted, and its
    // state evicted; chunk 3: one LATE hour-0 event arriving after the
    // eviction — dropped by the watermark (observed as
    // numRowsDroppedByWatermark=1). NOTE: a late row landing in the SAME
    // micro-batch in which the watermark first crosses its window still
    // merges (Spark applies the filter with the previous batch's
    // watermark) — the drop guarantee starts one batch later, hence the
    // separate chunk here.
    val rows = Seq(
      (ts(10), 0), (ts(20), 0), (ts(30), 0),
      (ts(170), 1), (ts(175), 1),
      (ts(180), 2),
      (ts(15), 3))
    val got = EventTimeWindows
      .appendCounts(spark, SemiStreamRuntime.Chunked(rows.toDF("ts", "chunk"), col("chunk"), 4),
        "1 hour", "30 minutes")
      .as[(String, Long)].collect().toSeq

    // hour-0 emitted EXACTLY once, with the on-time count only (3, not 4);
    // no zombie re-emission from the dropped late row
    assert(got.count(_._1 == "1970-01-01 00:00:00") == 1, s"got $got")
    assert(got.toMap.get("1970-01-01 00:00:00").contains(3L), s"got $got")
    // hour-2 window never closes (watermark never passes 3h) → not emitted
    assert(!got.toMap.contains("1970-01-01 02:00:00"), s"got $got")
  }

  test("complete mode equals the batch aggregation regardless of arrival order") {
    import spark.implicits._
    val rows = (0 until 100).map(i => (ts(i * 7L), i % 3))
    val df = rows.toDF("ts", "chunk")
    val events = df.withColumn("event_type", lit("e")).withColumn("value", lit(1.0))
    // the harness spools the chunked input and deletes the spool itself
    val before = replayDirs()
    val got = EventTimeWindows
      .completeCounts(spark, SemiStreamRuntime.Chunked(events, col("chunk"), 3), "1 hour")
      .select("ws", "n")
    assert(replayDirs() == before, "the call left its spooled input or checkpoint behind")
    val expected = rows.toDF("ts", "chunk")
      .groupBy(date_format(window(col("ts"), "1 hour").getField("start"), "yyyy-MM-dd HH:mm:ss").as("ws"))
      .agg(count(lit(1)).as("n"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }
}
