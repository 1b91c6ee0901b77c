package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.operators.Decay

/** Streaming time-decayed heavy hitters — the continuous form of
  * [[graft.operators.Decay]] (eighth [[DedupStateStore]] consumer): each
  * micro-batch close emits the k hottest keys AS OF that batch's newest
  * event, the "trending now" tick a dashboard or crawl scheduler polls.
  *
  * State = (key, gen, cnt) count increments — the census grain, NOT the
  * event grain: a key's history inside one generation folds to one row
  * however many events carried it, so state size is keys × live
  * generations regardless of event volume. Buckets are keyed by
  * GENERATION (`pb = gen mod nBuckets`), which makes the horizon window
  * the pruning predicate: a batch's scoring pass reads at most
  * horizon + 1 generations' buckets and filters to the exact window —
  * generations older than the horizon stop being read (their weight is
  * identically 0), and the sum-fold compaction keeps what remains flat.
  *
  * Events arrive in TIME order (batch ranges partition the timeline), so
  * each batch's as-of generation is the globally newest so far and the
  * per-batch ranking is exactly the batch operator's ranking over every
  * event seen so far — the arrival-order contract the spec and the q149
  * oracle both replay.
  *
  * Output: one row per (batch, rank): (batch, rank, key…, n_window,
  * decayed).
  */
object StreamingDecay {

  /** Run over `events` replayed as `chunks` time-range micro-batches. */
  def run(
      events: DataFrame,
      keyCol: String,
      tsSecCol: String,
      genSecs: Long,
      horizon: Int,
      k: Int,
      chunks: Int = 4,
      nBuckets: Int = 64,
      compactEvery: Int = 8): DataFrame = {
    require(chunks > 0 && genSecs > 0 && horizon >= 0 && horizon <= 50 && k > 0)
    val spark = events.sparkSession

    val projected = events.select(
      col(keyCol),
      col(tsSecCol).cast("long").as("__tsec"),
      expr(s"$tsSecCol div ${genSecs}L").as("gen"))
    // time-range chunking normalized to the data's span (absolute epoch
    // seconds would degenerate to one chunk)
    val b = projected.agg(min("__tsec").as("lo"), max("__tsec").as("hi")).head()
    require(!b.isNullAt(0), "StreamingDecay.run: empty input")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val per = (hi - lo) / chunks + 1
    val sink = new SemiStreamRuntime.BatchSink(spark)

    val cntSchema = projected.select(col(keyCol), col("gen")).schema
      .add("cnt", org.apache.spark.sql.types.LongType, nullable = false)
    val stateDir = SemiStreamRuntime.tempDir("streamdecay-").toString + "/cnt"
    val state = TransactionLogDedupState.sumFactory(spark, stateDir, cntSchema, Seq(keyCol, "gen"))
    val pbOf = (g: org.apache.spark.sql.Column) => pmod(g, lit(nBuckets)).cast(IntegerType)

    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        state.compact(batchId)

      val batchCnt = batch.toDF()
        .groupBy(col(keyCol), col("gen"))
        .agg(count(lit(1)).as("cnt"))
        .persist()
      batchCnt.count()

      // the only driver value: the batch's newest generation (one long)
      val asOfGen = batch.toDF().agg(max("gen")).head().getLong(0)
      // horizon-window probe buckets — pure arithmetic, no data collect
      val pbs = ((asOfGen - horizon) to asOfGen)
        .map(g => (((g % nBuckets) + nBuckets) % nBuckets).toInt).distinct
      val prior = state.read(batchId, pbs)
        .filter(col("gen").between(asOfGen - horizon, asOfGen))
        .groupBy(col(keyCol), col("gen")).agg(sum("cnt").as("cnt"))
      val census = prior.unionByName(
          batchCnt.filter(col("gen").between(asOfGen - horizon, asOfGen)))
        .groupBy(col(keyCol), col("gen")).agg(sum("cnt").as("cnt"))

      val w = Decay.generationWeight(col("gen"), asOfGen, horizon)
      val order = Seq(col("decayed").desc, col(keyCol).asc)
      sink.write(batchId, Decay.rankLimited(
          census
            .select(col(keyCol), col("cnt"), (w * col("cnt")).as("wc"))
            .groupBy(col(keyCol))
            .agg(sum("cnt").as("n_window"), sum("wc").as("decayed"))
            .orderBy(order: _*)
            .limit(k),
          Seq(keyCol))
        .withColumn("rank", col("rank").cast("long"))
        .select(
          lit(batchId).as("batch"), col("rank"), col(keyCol), col("n_window"), col("decayed")))

      state.append(batchCnt.withColumn("pb", pbOf(col("gen"))), batchId)
      batchCnt.unpersist()
      ()
    }

    SemiStreamRuntime.replayForeachBatch(
      spark,
      SemiStreamRuntime.Chunked(
        projected,
        least(expr(s"(__tsec - ${lo}L) div ${per}L"), lit(chunks - 1L)).cast("int"),
        chunks))(perBatch)
    state.close()

    sink.result
  }
}
