package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.storage.StorageLevel

import graft.operators.Sampling

/** Streaming corpus-novelty monitor — the per-increment "how much of
  * this crawl is NEW" report an ingestion pipeline watches before paying
  * for downstream dedup/curation of a dump: each micro-batch emits its
  * exact k-shingle novelty against everything that arrived in STRICTLY
  * EARLIER batches (the [[StreamingDedup]] arrival-order contract, so a
  * SQL oracle replays it with a first-appearance window).
  *
  * State is the distinct-shingle count relation `(h, cnt)` on the
  * [[DedupStateStore]] contract (fifth consumer): `pb = hash(h) mod
  * nBuckets` partitions, per-batch idempotent `batchId`-keyed appends,
  * size-tiered crash-safe compaction, partition-pruned probes (a batch
  * touches ≤ its own distinct-shingle buckets). Reads SUM increments per
  * `h`, so compaction's re-grouping is a no-op semantically; novelty
  * only asks "seen before?", but keeping counts makes the state relation
  * IDENTICAL to [[StreamingSubstringDedup]]'s — one state schema serves
  * both monitors when they run side by side.
  *
  * Scale shape per batch: one batch-local shingle count (map-side
  * combinable on the 8-byte hash), one pruned state read, one anti-join
  * sized by the batch's distinct shingles, a 1-row output. Nothing
  * corpus-sized moves after the state is bucketed.
  */
object StreamingNovelty {

  private def bucketOf(n: Int, c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(n)).cast(IntegerType)

  /** Run over `docs` replayed as `chunks` MD5-assigned micro-batches.
    * Output: one row per batch —
    * (batch, n_shingles, n_distinct, n_new, novelty_bp) with novelty_bp
    * = ⌊10000·n_new / n_distinct⌋ (0 for an empty batch).
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      chunks: Int = 4,
      nBuckets: Int = 64,
      compactEvery: Int = 8): DataFrame = {
    require(k >= 1 && chunks > 0)
    val spark = docs.sparkSession
    val storage = StorageLevel.MEMORY_AND_DISK

    val sink = new SemiStreamRuntime.BatchSink(spark)

    import spark.implicits._
    val cntSchema = Seq.empty[(Long, Long)].toDF("h", "cnt").schema
    val stateDir = SemiStreamRuntime.tempDir("streamnovelty-").toString + "/cnt"
    val state = TransactionLogDedupState.sumFactory(spark, stateDir, cntSchema, Seq("h"))

    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        state.compact(batchId)

      val toks = filter(split(col(textCol), " "), x => length(x) > 0)
      val batchCnt = batch.toDF()
        .select(col(idCol).cast("long").as("sid"), toks.as("ts"))
        .filter(size(col("ts")) >= k)
        .select(explode(expr(
          s"transform(sequence(0, size(ts) - $k), i -> xxhash64(array_join(slice(ts, i + 1, $k), ' ')))"))
          .as("h"))
        .groupBy("h").agg(count(lit(1)).as("cnt"))
        .persist(storage)
      batchCnt.count()

      // the ONLY driver-side collect: distinct probe buckets, ≤ nBuckets
      val pbs = batchCnt.select(bucketOf(nBuckets, col("h")).as("pb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val seen = state.read(batchId, pbs).select("h").distinct()
      sink.write(batchId, batchCnt
        .join(seen, Seq("h"), "left_anti")
        .agg(count(lit(1)).as("nNew"))
        .crossJoin(
          batchCnt.agg(sum("cnt").as("nSh"), count(lit(1)).as("nDist")))
        .select(
          lit(batchId).as("batch"),
          coalesce(col("nSh"), lit(0L)).as("n_shingles"),
          col("nDist").as("n_distinct"),
          col("nNew").as("n_new"),
          when(col("nDist") === 0L, 0L)
            .otherwise(expr("(10000 * nNew) div nDist")).as("novelty_bp")))

      state.append(batchCnt.withColumn("pb", bucketOf(nBuckets, col("h"))), batchId)
      batchCnt.unpersist()
      ()
    }

    SemiStreamRuntime.replayForeachBatch(
      spark,
      SemiStreamRuntime.Chunked(
        docs.select(col(idCol), col(textCol)),
        floor(Sampling.hashUniform(col(idCol)) * chunks).cast("int"),
        chunks))(perBatch)
    state.close()

    sink.result
  }
}
