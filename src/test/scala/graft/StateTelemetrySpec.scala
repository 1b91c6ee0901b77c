package graft

import org.apache.spark.sql.functions._

import graft.streaming.{StateTelemetry, StreamingDecay, StreamingSkyline}

/** The state-growth alarm surface (round-11): every DedupStateStore append
  * and every StreamingSkyline batch publishes a per-batch StatePoint when
  * telemetry is enabled — and costs nothing when it is not.
  */
class StateTelemetrySpec extends SparkSpec {
  init()

  import spark.implicits._

  test("parquet state store emits one point per batch: rows, bytes, dirs") {
    StateTelemetry.enable()
    try {
      val ev = (1L to 400L).map(i => (i % 7, 1000L + i)).toDF("k", "tsec")
      StreamingDecay.run(ev, "k", "tsec", genSecs = 50L, horizon = 5,
        k = 3, chunks = 4).collect()
      val pts = StateTelemetry.drain().filter(_.store.contains("streamdecay"))
      // one point per micro-batch, batch ids 0..3
      assert(pts.map(_.batchId).sorted == Seq(0L, 1L, 2L, 3L), pts.toString)
      assert(pts.forall(_.appendedRows > 0), "every batch appends state rows")
      assert(pts.forall(_.stateBytes > 0), "the state store reports bytes")
      // the level is monotone while nothing compacts (compactEvery=8 > 4)
      val byBatch = pts.sortBy(_.batchId).map(_.stateBytes)
      assert(byBatch == byBatch.sorted, s"state bytes not monotone: $byBatch")
      assert(pts.forall(_.liveDirs >= 1))
    } finally StateTelemetry.disable()
  }

  test("streaming skyline publishes its front size as the state level") {
    StateTelemetry.enable()
    try {
      val pts0 = (1L to 60L).map(i => (i, i % 9, (i * 7) % 11)).toDF("id", "x", "y")
        .select(col("id"), col("x").cast("long").as("x"), col("y").cast("long").as("y"))
      StreamingSkyline.run(pts0, "id", Seq("x", "y"), chunks = 3).collect()
      val pts = StateTelemetry.drain().filter(_.store.contains("streamsky"))
      assert(pts.map(_.batchId).sorted == Seq(0L, 1L, 2L), pts.toString)
      assert(pts.forall(_.appendedRows >= 1), "a front is never empty here")
    } finally StateTelemetry.disable()
  }

  test("disabled telemetry records nothing") {
    assert(!StateTelemetry.enabled)
    val ev = (1L to 50L).map(i => (i % 3, 100L + i)).toDF("k", "tsec")
    StreamingDecay.run(ev, "k", "tsec", genSecs = 20L, horizon = 3,
      k = 2, chunks = 2).collect()
    StateTelemetry.enable()
    try assert(StateTelemetry.drain().isEmpty)
    finally StateTelemetry.disable()
  }
}
