package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Long-run streaming soak (round-13 verdict task 7): many-batch replays of
  * the two stateful flagships with state telemetry, gating the properties
  * that only show up over TIME — unbounded state-file growth (a broken
  * compactor), super-linear per-batch cost drift, cache-state blow-up. The
  * short per-round gates (q49's 4 batches, stream_gate's 8) cannot see
  * these; a 30-minute production soak is this runner with
  * SPARK_GRAFT_SOAK_BATCHES raised — the gates are batch-count-relative,
  * not wall-clock-relative, so the same bounds apply.
  *
  * Gates:
  *   - `liveDirs` (per state store, from [[StateTelemetry]]) never exceeds
  *     compactEvery + log₂(batches) + 3 — the size-tiered generation
  *     ladder's documented bound; O(batches) growth = broken compaction;
  *   - state BYTES at the end ≤ 3× bytes at the midpoint — appends are
  *     increment-sized, so growth is ~linear (end/mid ≈ 2); super-linear
  *     growth (duplicated folds, unreclaimed generations) trips it;
  *   - per-batch time drift: mean(last quarter) / mean(second quarter)
  *     ≤ 2.5 for the dedup (its probe reads a linearly growing state slice
  *     — pure linear growth puts the ratio ≈ 2.3 at these batch indexes)
  *     and ≤ 2.0 for the semi-stream join (its state is the BOUNDED cache,
  *     so per-batch cost must flatten). First quarter excluded as warmup.
  */
object Soak {

  final case class Result(
      dedupBatches: Int,
      dedupLiveDirsMax: Long,
      dedupLiveDirsBound: Long,
      dedupBytesRatio: Double,
      dedupDrift: Double,
      joinBatches: Int,
      joinDrift: Double) {
    def pass: Boolean =
      dedupLiveDirsMax <= dedupLiveDirsBound &&
        dedupBytesRatio <= 3.0 &&
        dedupDrift <= 2.5 &&
        joinDrift <= 2.0
  }

  /** The dedup half alone (the join half exercises the cache runtime, not
    * a [[DedupStateStore]]). Same gates as [[Result]]'s dedup lines.
    */
  final case class DedupResult(
      batches: Int,
      liveDirsMax: Long,
      liveDirsBound: Long,
      bytesRatio: Double,
      drift: Double) {
    def pass: Boolean =
      liveDirsMax <= liveDirsBound && bytesRatio <= 3.0 && drift <= 2.5
  }

  private def quarterDrift(times: Seq[Double]): Double = {
    val q = math.max(times.size / 4, 1)
    val second = times.slice(q, 2 * q)
    val last = times.takeRight(q)
    if (second.isEmpty || second.sum <= 0) 1.0
    else (last.sum / last.size) / (second.sum / second.size)
  }

  /** Many-batch [[StreamingDedup]] replay with state telemetry on. */
  def dedupSoak(docs: DataFrame, batches: Int, compactEvery: Int = 4): DedupResult = {
    val batchMs = collection.mutable.Buffer[Double]()
    StateTelemetry.enable()
    val (liveDirsMax, bytesRatio) =
      try {
        StreamingDedup.run(
          docs, "doc_id", "text", tau = 0.8, chunks = batches,
          compactEvery = compactEvery,
          onBatch = (_, ms) => { batchMs += ms.toDouble; () })
          .count()
        val points = StateTelemetry.drain()
        val dirsMax = if (points.isEmpty) 0L else points.map(_.liveDirs).max
        // sig-store byte level at the midpoint vs the end (batch-ordered)
        val sig = points.filter(_.store.endsWith("sigs")).sortBy(_.batchId)
        val ratio =
          if (sig.size < 4) 1.0
          else {
            val mid = sig(sig.size / 2).stateBytes.toDouble
            if (mid <= 0) 1.0 else sig.last.stateBytes.toDouble / mid
          }
        (dirsMax, ratio)
      } finally StateTelemetry.disable()
    val dirsBound =
      compactEvery + (math.log(batches.toDouble) / math.log(2.0)).ceil.toLong + 3
    DedupResult(batches, liveDirsMax, dirsBound, bytesRatio, quarterDrift(batchMs.toSeq))
  }

  def run(
      docs: DataFrame,
      li: DataFrame,
      part: DataFrame,
      dedupBatches: Int = 24,
      joinBatches: Int = 16): Result = {
    // ---- StreamingDedup soak: growing durable state, telemetry on ----
    val d = dedupSoak(docs, dedupBatches)

    // ---- semi-stream join soak: BOUNDED cache state, cost must flatten ----
    val cache = part.filter(pmod(col("p_partkey"), lit(10)) < 3)
    val (_, stats) = SemiStreamRuntime.semiStreamJoin(
      li, part, cache,
      key = "p_partkey", chunkKey = "l_orderkey", chunks = joinBatches,
      windowRule = FixedRule(2))
    val joinTimes = stats.map(s => s.cogMs + s.fetchMs + s.cacheMs)

    Result(
      d.batches, d.liveDirsMax, d.liveDirsBound, d.bytesRatio,
      d.drift, joinBatches, quarterDrift(joinTimes))
  }
}
