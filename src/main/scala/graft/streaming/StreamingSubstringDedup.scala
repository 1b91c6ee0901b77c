package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.storage.StorageLevel

import graft.operators.Sampling

/** Streaming INCREMENTAL repeated-substring detection — the
  * continuous-ingestion form of [[graft.operators.SubstringDedup]]:
  * documents arrive in micro-batches, and each document's repeated
  * spans are judged at ARRIVAL time against every shingle occurrence
  * seen so far (earlier batches plus the document's own batch) — the
  * same arrival-order contract as [[StreamingDedup]]'s `dup_of`, so a
  * SQL oracle can replay it with a cumulative per-batch count. A span
  * an EARLIER document would retroactively gain when a later copy
  * arrives is out of contract by design (the stream never re-emits).
  *
  * State is the shingle OCCURRENCE-COUNT relation `(h, cnt)` — counts,
  * not positions, so state size is the distinct-shingle count, not the
  * corpus token count — kept on the [[DedupStateStore]] contract
  * (fourth consumer): `pb = hash(h) mod nBuckets` partitions, per-batch
  * idempotent `batchId`-keyed appends, size-tiered crash-safe
  * compaction, and partition-pruned probes (a batch touches ≤ its own
  * distinct-shingle buckets). Reads SUM increments per `h`, so
  * compaction's re-grouping is a no-op semantically.
  */
object StreamingSubstringDedup {

  private def bucketOf(n: Int, c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(n)).cast(IntegerType)

  /** Run over `docs` replayed as `chunks` MD5-assigned micro-batches.
    * Output: (doc_id, start_tok, end_tok, n_shingles) — each doc's
    * maximal repeated spans judged at its arrival batch.
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long,
      chunks: Int = 4,
      nBuckets: Int = 64,
      compactEvery: Int = 8): DataFrame = {
    require(k >= 2 && minCount >= 2 && chunks > 0)
    val spark = docs.sparkSession
    val storage = StorageLevel.MEMORY_AND_DISK

    val sink = new SemiStreamRuntime.BatchSink(spark)

    import spark.implicits._
    val cntSchema = Seq.empty[(Long, Long)].toDF("h", "cnt").schema
    val stateDir = SemiStreamRuntime.tempDir("streamspans-").toString + "/cnt"
    val state = TransactionLogDedupState.sumFactory(spark, stateDir, cntSchema, Seq("h"))

    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        state.compact(batchId)

      val toks = filter(split(col(textCol), " "), x => length(x) > 0)
      val sh = batch.toDF()
        .select(col(idCol).cast("long").as("sid"), toks.as("ts"))
        .filter(size(col("ts")) >= k)
        .select(
          col("sid"),
          posexplode(expr(
            s"transform(sequence(0, size(ts) - $k), i -> array_join(slice(ts, i + 1, $k), ' '))"))
            .as(Seq("pos", "shingle")))
        .select(col("sid"), col("pos").cast("long").as("pos"), xxhash64(col("shingle")).as("h"))
        .persist(storage)

      val batchCnt = sh.groupBy("h").agg(count(lit(1)).as("cnt")).persist(storage)
      // the ONLY driver-side collect: distinct probe buckets, ≤ nBuckets;
      // this first action also materializes both persists
      val pbs = batchCnt.select(bucketOf(nBuckets, col("h")).as("pb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      // state rows are increments — sum per h (compaction-invariant read)
      val stateCnt = state.read(batchId, pbs)
        .groupBy("h").agg(sum("cnt").as("scnt"))
      val hot = batchCnt
        .join(stateCnt, Seq("h"), "left")
        .filter(col("cnt") + coalesce(col("scnt"), lit(0L)) >= minCount)
        .select("h")

      val w = org.apache.spark.sql.expressions.Window.partitionBy("sid").orderBy("pos")
      sink.write(batchId, sh.join(hot, "h")
        .withColumn("g", col("pos") - row_number().over(w))
        .groupBy(col("sid"), col("g"))
        .agg(
          min("pos").as("start_tok"),
          (max("pos") + lit(k - 1).cast("long")).as("end_tok"),
          count(lit(1)).as("n_shingles"))
        .select(
          col("sid").as("doc_id"),
          col("start_tok"), col("end_tok"), col("n_shingles")))

      state.append(batchCnt.withColumn("pb", bucketOf(nBuckets, col("h"))), batchId)
      sh.unpersist(); batchCnt.unpersist()
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
