package graft

import org.apache.spark.sql.functions._

import graft.operators.Decay
import graft.streaming.StreamingDecay

class StreamingDecaySpec extends SparkSpec {
  init()

  import spark.implicits._

  private lazy val events = graft.core.Tables(spark, sfSmoke, "events")
    .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("tsec"))

  /** The batch operator over the prefix of events arriving by batch
    * boundary — what every streamed tick must equal.
    */
  private def prefixTopK(upToTsec: Long, k: Int): Seq[(Long, Long, Long, Long)] = {
    val prefix = events.filter(col("tsec") <= upToTsec)
    val asOf = prefix.agg(max("tsec")).head().getLong(0)
    Decay.decayedTopK(prefix, Seq("user_id"), "tsec", asOf, 86400L, 7, k)
      .select(col("rank").cast("long"), col("user_id"), col("n_window"), col("decayed"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
  }

  test("every batch tick equals the batch operator over its event prefix") {
    val out = StreamingDecay.run(events, "user_id", "tsec", genSecs = 86400L,
      horizon = 7, k = 5, chunks = 4, nBuckets = 16, compactEvery = 2)
    val got = out
      .select(col("batch"), col("rank"), col("user_id"), col("n_window"), col("decayed"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4, r._5)).toSeq.sortBy(_._1))
      .toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    // chunk boundaries replayed exactly as run() derives them
    val b = events.agg(min("tsec"), max("tsec")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val per = (hi - lo) / 4 + 1
    (0L to 3L).foreach { bid =>
      val upTo = if (bid == 3) hi else lo + (bid + 1) * per - 1
      assert(got(bid) == prefixTopK(upTo, 5), s"batch $bid")
    }
  }

  test("horizon pruning: only in-window generations are read back per batch") {
    // a key whose burst lies beyond the horizon of the last batch must be
    // absent from the last tick even though its generation is in state
    val fixed = Seq.tabulate(40)(i => (900L, i.toLong * 86400L / 8)) ++ // old burst, gens 0..4
      Seq.tabulate(12)(i => (901L + i % 3, 86400L * 20 + i.toLong)) // recent, gen 20
    val df = fixed.toDF("user_id", "tsec")
    val out = StreamingDecay.run(df, "user_id", "tsec", 86400L,
      horizon = 7, k = 10, chunks = 2, nBuckets = 8, compactEvery = 0)
    val last = out.filter(col("batch") === 1).select("user_id").as[Long].collect().toSet
    assert(!last.contains(900L) && last == Set(901L, 902L, 903L))
  }
}
