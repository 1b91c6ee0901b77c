package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental maintenance of a JOIN view under keyed upsert/delete
  * change streams — the delta-JOIN companion to [[StreamingIvmAggregate]]
  * (Gupta & Mumick 1995; Blakeley's view-maintenance join identity): the
  * view `A ⋈_jk B` over the two maintained snapshots receives, per
  * micro-batch, the exact signed delta
  *
  *   V' − V  =  (A' − A) ⋈ B  ∪  A' ⋈ (B' − B)
  *
  * — changed A-rows against the OLD B side, then changed B-rows against
  * the NEW A side; a multiset identity, so folding the deltas in batch
  * order always reproduces the batch join of the final snapshots (the
  * law the spec and the q186 oracle pin). Emission volume is
  * change-proportional: each changed row crosses only ITS join key's
  * other-side rows, never a snapshot.
  *
  * State: grouped by the JOIN key, one group holds the key's current
  * rows of both sides (primary-key maps) — bounded by the join key's
  * fanout, the same documented contract as sessionization (a hot join
  * key belongs behind a [[graft.operators.HotKeyGuard]]-style bound in a
  * deployment). Changes arrive as ONE unified stream with a `side`
  * column; within a batch, (seq, tiebreak) orders the replay, and
  * last-writer-wins per (side, pk) — identical-value rewrites emit
  * nothing.
  */
object StreamingIvmJoin {

  final case class Chg(
      jk: Long, side: String, pk: Long, seq: Long, tiebreak: Long,
      op: String, v: Long, chunk: Int)
  final case class JState(aRows: Seq[(Long, Long)], bRows: Seq[(Long, Long)])
  final case class Delta(
      batch: Int, jk: Long, a_pk: Long, b_pk: Long, a_val: Long, b_val: Long,
      sign: Long)

  private[streaming] def fold(
      jk: Long,
      chgs: Iterator[Chg],
      state: GroupState[JState]): Iterator[Delta] = {
    val sorted = chgs.toSeq.sortBy(c => (c.seq, c.tiebreak))
    val batch = sorted.map(_.chunk).max
    val st = state.getOption.getOrElse(JState(Nil, Nil))
    val a0 = st.aRows.toMap
    val b0 = st.bRows.toMap
    var a1 = a0
    var b1 = b0
    sorted.foreach { c =>
      if (c.side == "a")
        a1 = if (c.op == "delete") a1 - c.pk else a1 + (c.pk -> c.v)
      else
        b1 = if (c.op == "delete") b1 - c.pk else b1 + (c.pk -> c.v)
    }
    state.update(JState(a1.toSeq.sortBy(_._1), b1.toSeq.sortBy(_._1)))
    val out = Seq.newBuilder[Delta]
    val bOld = b0.toSeq.sortBy(_._1)
    val aNew = a1.toSeq.sortBy(_._1)
    // (A' − A) ⋈ B_old
    (a0.keySet ++ a1.keySet).toSeq.sorted
      .filter(pk => a0.get(pk) != a1.get(pk))
      .foreach { pk =>
        a0.get(pk).foreach(v0 =>
          bOld.foreach { case (bp, bv) => out += Delta(batch, jk, pk, bp, v0, bv, -1L) })
        a1.get(pk).foreach(v1 =>
          bOld.foreach { case (bp, bv) => out += Delta(batch, jk, pk, bp, v1, bv, 1L) })
      }
    // A_new ⋈ (B' − B)
    (b0.keySet ++ b1.keySet).toSeq.sorted
      .filter(pk => b0.get(pk) != b1.get(pk))
      .foreach { pk =>
        b0.get(pk).foreach(v0 =>
          aNew.foreach { case (ap, av) => out += Delta(batch, jk, ap, pk, av, v0, -1L) })
        b1.get(pk).foreach(v1 =>
          aNew.foreach { case (ap, av) => out += Delta(batch, jk, ap, pk, av, v1, 1L) })
      }
    out.result().iterator
  }

  /** Replay `changes` as `chunks` seq-range micro-batches; return the
    * NETTED per-batch signed join-view deltas
    * (batch, jk, a_pk, b_pk, a_val, b_val, sign), sign ≠ 0. `changes`
    * carries (jkCol, sideCol ∈ {'a','b'}, pkCol, seqCol, tiebreakCol,
    * opCol ∈ {'upsert','delete'}, valueCol).
    */
  def run(
      changes: DataFrame,
      jkCol: String,
      sideCol: String,
      pkCol: String,
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
      col(jkCol).cast("long").as("jk"),
      col(sideCol).cast("string").as("side"),
      col(pkCol).cast("long").as("pk"),
      col(seqCol).cast("long").as("seq"),
      col(tiebreakCol).cast("long").as("tiebreak"),
      col(opCol).cast("string").as("op"),
      col(valueCol).cast("long").as("v"),
      least(expr(s"(CAST($seqCol AS LONG) - ${lo}L) div ${per}L"), lit(chunks - 1L))
        .cast("int").as("chunk"))
    SemiStreamRuntime.replayToMemory(
      spark, SemiStreamRuntime.Chunked(projected, col("chunk"), chunks), OutputMode.Append()) {
      _.as[Chg]
        .groupByKey(_.jk)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
    }
      .groupBy("batch", "jk", "a_pk", "b_pk", "a_val", "b_val")
      .agg(sum("sign").as("sign"))
      .filter(col("sign") =!= 0L)
  }

  /** Fold a delta stream to the join view it maintains:
    * (jk, a_pk, b_pk, a_val, b_val) rows with a positive net sign.
    */
  def viewFromDeltas(deltas: DataFrame): DataFrame =
    deltas
      .groupBy("jk", "a_pk", "b_pk", "a_val", "b_val")
      .agg(sum("sign").as("__s"))
      .filter(col("__s") > 0L)
      .select("jk", "a_pk", "b_pk", "a_val", "b_val")
}
