package graft.streaming

/** Per-batch STATE telemetry for the streaming consumers — the alarm
  * surface a deployment watches for state growth (round-10 verdict item):
  * the StreamingQueryListener path ([[Sources.attachMetricsListener]])
  * reports input/throughput per batch, but says nothing about the DURABLE
  * state a [[DedupStateStore]] (or [[StreamingSkyline]]'s running front)
  * accretes — the quantity that actually kills a long-running stream.
  *
  * Opt-in and zero-cost when disabled: a point is built by-name, so its
  * cost — a state store's `data/` listing behind `liveDirs` (rows and
  * bytes come from the commit's own log stats), the skyline front's
  * `count()` — is skipped entirely unless [[enable]] was called
  * (production would keep it on; the bench keeps it off so telemetry
  * never pollutes timings).
  *
  * One point per (store, batch):
  *   - `appendedRows`  — rows this batch added to the state (increment
  *     grain, the growth rate);
  *   - `stateBytes`    — total durable bytes after the append (the level;
  *     −1 for the skyline, whose front has no byte level);
  *   - `liveDirs`      — live batches/generations (the quantity
  *     compaction bounds; file-count alarms catch a broken compactor).
  */
object StateTelemetry {

  final case class StatePoint(
      store: String,
      batchId: Long,
      appendedRows: Long,
      stateBytes: Long,
      liveDirs: Long)

  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[StatePoint]()
  @volatile private var on = false

  def enable(): Unit = { on = true }
  def disable(): Unit = { on = false; buf.clear() }
  def enabled: Boolean = on

  /** Snapshot of every point recorded since enable/last drain, in
    * arrival order. */
  def drain(): Seq[StatePoint] = {
    val out = collection.mutable.Buffer[StatePoint]()
    var p = buf.poll()
    while (p != null) { out += p; p = buf.poll() }
    out.toSeq
  }

  private[streaming] def record(p: => StatePoint): Unit =
    if (on) { buf.add(p); () }
}
