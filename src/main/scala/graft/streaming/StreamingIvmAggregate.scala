package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental maintenance of a GROUPED AGGREGATE view under a keyed
  * upsert/delete change stream — the materialized-view counterpart of
  * [[StreamingCdc]]: where CDC maintains the SNAPSHOT, this maintains
  * `SELECT dim, sum(m), count(*) GROUP BY dim` over it, emitting
  * per-batch view DELTAS instead of recomputing the view. The classic
  * IVM contract (Gupta & Mumick 1995's counting algorithm, keyed form):
  * when a key's visible row moves from (dim₁, m₁) to (dim₂, m₂), the
  * view receives (dim₁, −m₁, −1) and (dim₂, +m₂, +1); inserts and
  * deletes emit one side only; a no-op change emits NOTHING — so a
  * downstream dashboard folds deltas in batch order and always holds
  * the exact view at a cost proportional to CHANGE volume, never view
  * or corpus size.
  *
  * State per key = the currently visible (dim, m) — key-grain, same
  * bound as [[StreamingCdc]]. Batch-order arrival (seq-range staging)
  * makes the folded view equal the batch aggregate over the
  * last-writer-wins snapshot — the spec and the q177 oracle pin it.
  */
object StreamingIvmAggregate {

  final case class Chg(
      key: Long, seq: Long, tiebreak: Long, op: String,
      dim: String, m: Long, chunk: Int)
  final case class Cur(present: Boolean, dim: String, m: Long)
  final case class Contrib(batch: Int, dim: String, dSum: Long, dCnt: Long)

  private[streaming] def fold(
      key: Long,
      chgs: Iterator[Chg],
      state: GroupState[Cur]): Iterator[Contrib] = {
    val sorted = chgs.toSeq.sortBy(c => (c.seq, c.tiebreak))
    val batch = sorted.map(_.chunk).max
    val prev = state.getOption.getOrElse(Cur(present = false, dim = null, m = 0L))
    var cur = prev
    sorted.foreach { c =>
      cur = if (c.op == "delete") Cur(present = false, dim = null, m = 0L)
            else Cur(present = true, dim = c.dim, m = c.m)
    }
    state.update(cur)
    if (cur == prev) Iterator.empty
    else {
      val out = Seq.newBuilder[Contrib]
      if (prev.present) out += Contrib(batch, prev.dim, -prev.m, -1L)
      if (cur.present) out += Contrib(batch, cur.dim, cur.m, 1L)
      out.result().iterator
    }
  }

  /** Replay `changes` as `chunks` seq-range micro-batches; return the
    * per-batch view deltas (batch, dimCol, d_sum, d_cnt) — one row per
    * (batch, dim) touched, nothing for untouched dims.
    */
  def run(
      changes: DataFrame,
      keyCol: String,
      seqCol: String,
      tiebreakCol: String,
      opCol: String,
      dimCol: String,
      measureCol: String,
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
      col(dimCol).cast("string").as("dim"),
      col(measureCol).cast("long").as("m"),
      least(expr(s"(CAST($seqCol AS LONG) - ${lo}L) div ${per}L"), lit(chunks - 1L))
        .cast("int").as("chunk"))
    SemiStreamRuntime.replayToMemory(
      spark, SemiStreamRuntime.Chunked(projected, col("chunk"), chunks), OutputMode.Append()) {
      _.as[Chg]
        .groupByKey(_.key)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
    }
      .groupBy(col("batch"), col("dim").as(dimCol))
      .agg(sum("dSum").as("d_sum"), sum("dCnt").as("d_cnt"))
  }

  /** Fold a delta stream to the view it maintains: (dimCol, total, n)
    * for dims with n > 0.
    */
  def viewFromDeltas(deltas: DataFrame, dimCol: String): DataFrame =
    deltas
      .groupBy(col(dimCol))
      .agg(sum("d_sum").as("total"), sum("d_cnt").as("n"))
      .filter(col("n") > 0L)
}
