package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming CDC apply — [[graft.operators.Cdc.applyChangelog]] kept as
  * per-key state over a micro-batch change stream, emitting the
  * incremental-view-maintenance DELTA stream: one (batch, key, op,
  * value) row per key per batch WHOSE VISIBLE VALUE CHANGED, nothing
  * for no-op batches (an upsert to the same value, a delete of an
  * absent key). A downstream consumer folds the deltas in batch order
  * and always holds the exact snapshot — the materialized-view
  * maintenance contract.
  *
  * Equivalence contract (same family as [[StreamingScd]]): with batches
  * arriving in seq order, the final folded snapshot equals the batch
  * [[graft.operators.Cdc.applyChangelog]] over the whole log (empty
  * base). State per key is ONE current value — the snapshot lives in
  * the emitted deltas, so state is key-grain and never grows with the
  * log.
  */
object StreamingCdc {

  final case class Chg(
      key: Long, seq: Long, tiebreak: Long, op: String, value: String, chunk: Int)
  final case class Cur(present: Boolean, value: String)
  final case class Delta(key: Long, batch: Int, op: String, value: String)

  private[streaming] def fold(
      key: Long,
      chgs: Iterator[Chg],
      state: GroupState[Cur]): Iterator[Delta] = {
    val sorted = chgs.toSeq.sortBy(c => (c.seq, c.tiebreak))
    val batch = sorted.map(_.chunk).max // one chunk per trigger by construction
    val prev = state.getOption.getOrElse(Cur(present = false, value = null))
    var cur = prev
    sorted.foreach { c =>
      cur = if (c.op == "delete") Cur(present = false, value = null)
            else Cur(present = true, value = c.value)
    }
    state.update(cur)
    if (cur == prev) Iterator.empty
    else if (cur.present) Iterator(Delta(key, batch, "upsert", cur.value))
    else Iterator(Delta(key, batch, "delete", null))
  }

  /** Replay `changes` as `chunks` seq-range micro-batches and return the
    * emitted delta stream: (keyCol, batch, op, value). Fold the deltas
    * in batch order (last one per key wins) to hold the snapshot at any
    * point; [[snapshotFromDeltas]] does exactly that.
    */
  def run(
      changes: DataFrame,
      keyCol: String,
      seqCol: String,
      tiebreakCol: String,
      opCol: String,
      valueCol: String,
      chunks: Int): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    require(chunks > 0)
    val bounds = changes
      .agg(min(col(seqCol).cast("long")), max(col(seqCol).cast("long"))).head()
    require(!bounds.isNullAt(0), "empty change log")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val per = (hi - lo) / chunks + 1
    val projected = changes.select(
      col(keyCol).cast("long").as("key"),
      col(seqCol).cast("long").as("seq"),
      col(tiebreakCol).cast("long").as("tiebreak"),
      col(opCol).cast("string").as("op"),
      col(valueCol).cast("string").as("value"),
      least(expr(s"(CAST($seqCol AS LONG) - ${lo}L) div ${per}L"), lit(chunks - 1L))
        .cast("int").as("chunk"))
    // chunk rides BOTH as payload (fold reads it as the batch id) and as
    // the chunk assignment
    SemiStreamRuntime.replayToMemory(
      spark, SemiStreamRuntime.Chunked(projected, col("chunk"), chunks), OutputMode.Append()) {
      _.as[Chg]
        .groupByKey(_.key)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
    }.select(
      col("key").as(keyCol), col("batch"), col("op"), col("value").as(valueCol))
  }

  /** Fold a delta stream to the snapshot it maintains: per key the
    * highest-batch delta wins (at most one delta per key per batch);
    * surviving upserts ARE the snapshot.
    */
  def snapshotFromDeltas(deltas: DataFrame, keyCol: String, valueCol: String): DataFrame =
    deltas
      .groupBy(col(keyCol))
      .agg(max(struct(col("batch"), col("op"), col(valueCol))).as("__w"))
      .filter(col("__w.op") === "upsert")
      .select(col(keyCol), col(s"__w.$valueCol").as(valueCol))
}
