package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming frequent-line boilerplate monitor — the incremental sibling
  * of [[graft.operators.Boilerplate.frequentLines]]: as crawl increments
  * arrive, per-(source, line) distinct-document counts accumulate in
  * keyed state, and the batch in which a line CROSSES the minDocs floor
  * emits one promotion row — the "a new template just appeared on this
  * site" alert a curation pipeline turns into a scrub rule, without ever
  * recounting the corpus.
  *
  * Equivalence contract (the pack's streaming invariant): each document
  * arrives in exactly one micro-batch, so the running count per
  * (source, line) is a plain cross-batch sum of per-batch distinct-doc
  * counts, and the promotion batch is exactly where the batch-replayed
  * cumulative count first reaches minDocs — SQL-oracle-able from the
  * seq-range chunk formula. State is (count, promoted) per (source,
  * line): two scalars, never document lists — line-grain state, not
  * corpus-grain.
  */
object StreamingBoilerplate {

  final case class In(source: String, line: String, docId: Long, chunk: Int)
  final case class Cnt(n: Long, promoted: Boolean)
  final case class Promo(batch: Int, source: String, line: String, n_docs: Long)

  private[streaming] def fold(
      key: (String, String),
      rows: Iterator[In],
      state: GroupState[Cnt])(minDocs: Long): Iterator[Promo] = {
    val batch = rows.toSeq
    val b = batch.map(_.chunk).max // one chunk per trigger by construction
    val fresh = batch.map(_.docId).distinct.size.toLong
    val prev = state.getOption.getOrElse(Cnt(0L, promoted = false))
    val cur = Cnt(prev.n + fresh, prev.promoted || prev.n + fresh >= minDocs)
    state.update(cur)
    if (!prev.promoted && cur.promoted)
      Iterator(Promo(b, key._1, key._2, cur.n))
    else Iterator.empty
  }

  /** Replay `docs` as `chunks` doc-id-range micro-batches; emit one row
    * per (source, line) in the batch its distinct-doc count crosses
    * minDocs: (batch, source, line, n_docs at that batch's end).
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      delim: String,
      minDocs: Long,
      chunks: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(chunks > 0 && minDocs >= 2)
    val bounds = docs.agg(min(col(idCol).cast("long")), max(col(idCol).cast("long"))).head()
    require(!bounds.isNullAt(0), "empty document relation")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val per = (hi - lo) / chunks + 1
    val projected = docs.select(
      col(sourceCol).cast("string").as("source"),
      col(textCol).cast("string").as("text"),
      col(idCol).cast("long").as("docId"),
      least(expr(s"(CAST($idCol AS LONG) - ${lo}L) div ${per}L"), lit(chunks - 1L))
        .cast("int").as("chunk"))
    SemiStreamRuntime.replayToMemory(
      spark, SemiStreamRuntime.Chunked(projected, col("chunk"), chunks), OutputMode.Append()) {
      _.select(
          col("source"), col("docId"), col("chunk"),
          explode(split(col("text"), java.util.regex.Pattern.quote(delim))).as("raw"))
        .select(col("source"), trim(col("raw")).as("line"), col("docId"), col("chunk"))
        .filter(length(col("line")) > 0)
        .as[In]
        .groupByKey(r => (r.source, r.line))
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (k: (String, String), it: Iterator[In], st: GroupState[Cnt]) => fold(k, it, st)(minDocs)
        }
    }.select("batch", "source", "line", "n_docs")
  }
}
