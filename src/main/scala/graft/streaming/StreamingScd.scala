package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming SCD type-2: the dimension-history maintenance of
  * [[graft.operators.Scd.type2History]] kept as per-key state over a
  * micro-batch change stream — closed validity intervals emit exactly
  * once (append-only, sink-friendly), and the open interval per key is
  * the latest open snapshot.
  *
  * Equivalence contract (same as [[StreamingPacking]]/[[StreamingFunnel]]):
  * with batches arriving in change-time order, the incremental fold IS
  * the batch history — compression compares each change against the
  * state's current attributes exactly like the batch lag, and interval
  * close is the next surviving change regardless of which batch it rides
  * in. State per key is ONE (attrs, valid_from) pair — no history
  * retention; history lives in the emitted rows.
  */
object StreamingScd {

  final case class Chg(key: Long, tus: Long, tiebreak: Long, attrs: String)
  final case class Open(attrs: String, from: Long)
  final case class Interval(
      key: Long,
      attrs: String,
      valid_from: Long,
      valid_to: Long,
      is_current: Boolean)

  private[streaming] def fold(
      key: Long,
      chgs: Iterator[Chg],
      state: GroupState[Open]): Iterator[Interval] = {
    val out = collection.mutable.Buffer[Interval]()
    var cur = state.getOption
    chgs.toSeq.sortBy(c => (c.tus, c.tiebreak)).foreach { c =>
      cur match {
        case Some(o) if o.attrs == c.attrs => // no-op change: compressed
        case Some(o) =>
          out += Interval(key, o.attrs, o.from, c.tus, is_current = false)
          cur = Some(Open(c.attrs, c.tus))
        case None =>
          cur = Some(Open(c.attrs, c.tus))
      }
    }
    cur.foreach { o =>
      state.update(o)
      // open-interval snapshot: the reader keeps the LAST (max valid_from
      // wins; re-emits of the same open interval are idempotent)
      out += Interval(key, o.attrs, o.from, -1L, is_current = true)
    }
    out.iterator
  }

  /** Replay `changes` as `chunks` time-range micro-batches; return the
    * final history with [[graft.operators.Scd.type2History]]'s schema
    * (single string attribute column named `attrCol`).
    */
  def run(
      changes: DataFrame,
      keyCol: String,
      tsUsCol: String,
      tiebreakCol: String,
      attrCol: String,
      chunks: Int): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    require(chunks > 0)
    val projected = changes.select(
      col(keyCol).cast("long").as("key"),
      col(tsUsCol).cast("long").as("tus"),
      col(tiebreakCol).cast("long").as("tiebreak"),
      col(attrCol).cast("string").as("attrs"))
    val bounds = projected.agg(min("tus"), max("tus")).head()
    require(!bounds.isNullAt(0), "empty change log")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val per = (hi - lo) / chunks + 1
    val all = SemiStreamRuntime.replayToMemory(
      spark,
      SemiStreamRuntime.Chunked(
        projected,
        least(expr(s"(tus - ${lo}L) div ${per}L"), lit(chunks - 1L)).cast("int"),
        chunks),
      OutputMode.Append()) {
      _.as[Chg]
        .groupByKey(_.key)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
    }

    // closed intervals are emitted once; of the open snapshots keep the
    // LAST per key (max valid_from — the state only moves forward)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("valid_from").desc)
    val open = all.filter(col("is_current"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      // drop opens later superseded by a CLOSED interval at the same from
      .join(
        all.filter(!col("is_current"))
          .select(col("key").as("__ck"), col("valid_from").as("__cf")),
        col("key") === col("__ck") && col("valid_from") === col("__cf"),
        "left_anti")
    all.filter(!col("is_current"))
      .unionByName(open)
      .select(
        col("key").as(keyCol),
        col("attrs").as(attrCol),
        col("valid_from"),
        col("valid_to"),
        col("is_current"))
  }
}
