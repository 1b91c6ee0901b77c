package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.storage.StorageLevel

import graft.operators.Sampling

/** Streaming k-anonymity release — the continuous-ingest form of
  * [[graft.operators.KAnonymity]] (seventh [[DedupStateStore]] consumer):
  * the quasi-identifier census accumulates across micro-batches, and every
  * arriving row's release decision is made at ITS batch's close under the
  * census including that batch (the streaming tier's arrival-order
  * contract — batch boundaries ARE the order). A combo rare today may be
  * released tomorrow once its census clears `k`; re-deciding earlier rows
  * is the caller's replay choice, not hidden state.
  *
  * State = (h = xxhash64(qi…), cnt) count increments, hash-bucketed and
  * batchId-keyed exactly like the drift monitor's token counts: per-batch
  * probes prune to the batch's own combo buckets, appends are idempotent
  * under retry, and the sum-fold compaction keeps segment counts flat. A
  * 64-bit combo-hash collision would merge two combos' counts (releasing a
  * rare combo early) with probability ≤ combos²·2⁻⁶⁴ — the shingle
  * family's accepted bound, documented here because the consequence is a
  * privacy decision.
  *
  * Output: one row per input row — (batch, id, suppressed, qi_n).
  */
object StreamingKAnonymity {

  private def bucketOf(n: Int, c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(n)).cast(IntegerType)

  /** Run over `docs` replayed as `chunks` MD5-assigned micro-batches. */
  def run(
      docs: DataFrame,
      idCol: String,
      qiCols: Seq[String],
      k: Long,
      chunks: Int = 4,
      nBuckets: Int = 64,
      compactEvery: Int = 8): DataFrame = {
    require(chunks > 0 && qiCols.nonEmpty && k >= 1)
    val spark = docs.sparkSession
    val storage = StorageLevel.MEMORY_AND_DISK

    val sink = new SemiStreamRuntime.BatchSink(spark)

    import spark.implicits._
    val cntSchema = Seq.empty[(Long, Long)].toDF("h", "cnt").schema
    val stateDir = SemiStreamRuntime.tempDir("streamkanon-").toString + "/cnt"
    val state = TransactionLogDedupState.sumFactory(spark, stateDir, cntSchema, Seq("h"))

    val comboHash = xxhash64(qiCols.map(col): _*)

    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        state.compact(batchId)

      val rows = batch.toDF()
        .select(col(idCol), comboHash.as("h"))
        .persist(storage)
      val batchCnt = rows.groupBy("h").agg(count(lit(1)).as("cnt"))
        .persist(storage)
      batchCnt.count()

      // the ONLY driver-side collect: distinct probe buckets (≤ nBuckets)
      val pbs0 = batchCnt.select(bucketOf(nBuckets, col("h")).as("pb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val pbs = if (pbs0.isEmpty) Seq(0) else pbs0
      val prior = state.read(batchId, pbs)
        .groupBy("h").agg(sum("cnt").as("prior"))

      sink.write(batchId, rows
        .join(batchCnt, "h")
        .join(prior, Seq("h"), "left")
        .select(
          lit(batchId).as("batch"),
          col(idCol).cast("long").as(idCol),
          (coalesce(col("prior"), lit(0L)) + col("cnt")).as("qi_n"))
        .withColumn("suppressed", col("qi_n") < k)
        .select("batch", idCol, "suppressed", "qi_n"))

      state.append(
        batchCnt.withColumn("pb", bucketOf(nBuckets, col("h"))),
        batchId)
      rows.unpersist(); batchCnt.unpersist()
      ()
    }

    SemiStreamRuntime.replayForeachBatch(
      spark,
      SemiStreamRuntime.Chunked(
        docs.select((col(idCol) +: qiCols.map(col)): _*),
        floor(Sampling.hashUniform(col(idCol)) * chunks).cast("int"),
        chunks))(perBatch)
    state.close()

    sink.result
  }
}
