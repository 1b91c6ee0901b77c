package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING sequence packing — the continuous-ingestion form of
  * [[graft.operators.Packing]]: documents arrive in micro-batches and are
  * appended to their stream's token stream as they come; the only
  * cross-batch state is ONE long per stream (the next token offset), held
  * in Spark's keyed state store via `flatMapGroupsWithState`.
  *
  * Semantics contract: packing depends only on each stream's document
  * order, so when batches deliver ids in ascending ranges (the staged
  * replay here) the streaming result is IDENTICAL to the batch
  * [[graft.operators.Packing.packSpans]] — which is what makes the
  * operator oracle-able and is pinned by spec. A production feed ingesting
  * in arrival order computes arrival-order packing — same math, no sort.
  *
  * Scale shape: state is O(nStreams) longs; each batch shuffles only on
  * the stream key (nStreams groups — sized to the reader fleet, like the
  * batch operator); per-group work is a sort of that batch's slice.
  */
object StreamingPacking {

  final case class DocIn(doc_id: Long, stream: Long, n_tokens: Long)
  final case class Span(
      doc_id: Long,
      stream: Long,
      n_tokens: Long,
      tok_start: Long,
      first_pack: Long,
      last_pack: Long)
  final case class Offset(next: Long)

  /** Per-stream state transition: lay this batch's docs (id order) end to
    * end from the stored offset; emit one span per doc.
    */
  def pack(budget: Long)(
      stream: Long,
      docs: Iterator[DocIn],
      state: GroupState[Offset]): Iterator[Span] = {
    val sorted = docs.toSeq.sortBy(_.doc_id)
    var off = state.getOption.map(_.next).getOrElse(0L)
    val out = sorted.map { d =>
      val start = off
      off += d.n_tokens
      Span(
        d.doc_id, stream, d.n_tokens, start,
        start / budget,
        (start + math.max(d.n_tokens, 1L) - 1L) / budget)
    }
    state.update(Offset(off))
    out.iterator
  }

  /** Replay `docs` as `chunks` micro-batches of ascending id ranges through
    * the stateful packer. Output: the accumulated spans, schema identical
    * to [[graft.operators.Packing.packSpans]].
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      budget: Long,
      nStreams: Int,
      chunks: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(budget > 0 && nStreams > 0 && chunks > 0, "run: budget/nStreams/chunks must be positive")

    val nTok = size(filter(split(col(textCol), " "), t => length(t) > 0)).cast("long")
    val projected = docs.select(
      col(idCol).cast("long").as("doc_id"),
      pmod(col(idCol), lit(nStreams.toLong)).as("stream"),
      nTok.as("n_tokens"))

    // contiguous id-range chunks: every id in chunk i precedes every id in
    // chunk i+1, so mtime-ordered replay delivers each stream in id order
    val maxId = projected.agg(max("doc_id")).head().getLong(0)
    val per = maxId / chunks + 1
    SemiStreamRuntime.replayToMemory(
      spark,
      SemiStreamRuntime.Chunked(
        projected, least(expr(s"doc_id div ${per}L"), lit(chunks - 1L)).cast("int"), chunks),
      OutputMode.Append()) {
      _.as[DocIn]
        .groupByKey(_.stream)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          pack(budget))
    }
  }
}
