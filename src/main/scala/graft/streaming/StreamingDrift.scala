package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.storage.StorageLevel

import graft.operators.Sampling

/** Streaming distribution-drift monitor — the ops alarm between a crawl
  * increment and the curation pipeline: each micro-batch reports the
  * EXACT L1 distance between its token distribution and the distribution
  * of everything that arrived in strictly earlier batches. A spiking
  * drift means the new dump is a different animal (new domain, new
  * language mix, spam wave) and the downstream mixture weights are
  * stale.
  *
  * Exact integer form: with batch counts c_b(t) (total N_b) and history
  * counts c_h(t) (total N_h),
  *
  *   drift_bp = ⌊10000 · Σ_t |c_b(t)·N_h − c_h(t)·N_b| / (N_b·N_h)⌋
  *
  * = the L1 distance Σ|p_b − p_h| in basis points of probability mass
  * (∈ [0, 20000]; an empty history reads the sentinel 10000 — all mass
  * is new). Products run in DECIMAL(38,0). Tokens present ONLY in
  * history never need probing: their term sums to N_b·(N_h − Σ_{t∈batch}
  * c_h(t)), so the state read stays pruned to the batch's own buckets
  * plus the one TOTAL bucket.
  *
  * State is the token count relation `(h, cnt)` on the
  * [[DedupStateStore]] contract (sixth consumer) with one RESERVED total
  * row (h = Long.MinValue) accumulating N_h — a real token hashing to
  * the sentinel is a 2⁻⁶⁴ event, the shingle family's accepted bound.
  */
object StreamingDrift {

  private val TotalKey = Long.MinValue

  private def bucketOf(n: Int, c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(n)).cast(IntegerType)

  /** Run over `docs` replayed as `chunks` MD5-assigned micro-batches.
    * Output: one row per batch — (batch, n_tokens, n_distinct, drift_bp).
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunks: Int = 4,
      nBuckets: Int = 64,
      compactEvery: Int = 8): DataFrame = {
    require(chunks > 0)
    val spark = docs.sparkSession
    val storage = StorageLevel.MEMORY_AND_DISK
    val dec = "decimal(38,0)"

    val sink = new SemiStreamRuntime.BatchSink(spark)

    import spark.implicits._
    val cntSchema = Seq.empty[(Long, Long)].toDF("h", "cnt").schema
    val stateDir = SemiStreamRuntime.tempDir("streamdrift-").toString + "/cnt"
    val state = TransactionLogDedupState.sumFactory(spark, stateDir, cntSchema, Seq("h"))

    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        state.compact(batchId)

      val batchCnt = batch.toDF()
        .select(explode(filter(split(col(textCol), " "), x => length(x) > 0)).as("t"))
        .select(xxhash64(col("t")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("cnt"))
        .persist(storage)
      batchCnt.count()

      // the ONLY driver-side collect: distinct probe buckets (≤ nBuckets).
      // The TOTAL row lives in the fixed bucket 0 (pb is ours to assign),
      // so the read stays pruned: batch buckets + one.
      val pbs = (batchCnt.select(bucketOf(nBuckets, col("h")).as("pb"))
        .distinct().collect().map(_.getInt(0)).toSeq :+ 0).distinct
      val probed = state.read(batchId, pbs)
        .groupBy("h").agg(sum("cnt").as("ch"))
        .persist(storage)
      probed.count()

      val nh = probed.filter(col("h") === TotalKey)
        .agg(coalesce(sum("ch"), lit(0L)).as("nH"))
      val joined = batchCnt
        .join(probed.filter(col("h") =!= TotalKey), Seq("h"), "left")
        .crossJoin(broadcast(nh))
        .crossJoin(broadcast(
          batchCnt.agg(sum("cnt").as("nB"), count(lit(1)).as("nDist"))))
      val stats = joined.agg(
        first("nB").as("nB"),
        first("nDist").as("nDist"),
        first("nH").as("nH"),
        sum(expr(s"abs(cast(cnt as $dec) * cast(nH as $dec) - cast(coalesce(ch, 0L) as $dec) * cast(nB as $dec))"))
          .as("sumIn"),
        sum(coalesce(col("ch"), lit(0L))).as("chIn"))
      sink.write(batchId, stats
        .select(
          lit(batchId).as("batch"),
          coalesce(col("nB"), lit(0L)).as("n_tokens"),
          coalesce(col("nDist"), lit(0L)).as("n_distinct"),
          when(coalesce(col("nB"), lit(0L)) === 0L, 0L)
            .when(coalesce(col("nH"), lit(0L)) === 0L, 10000L)
            .otherwise(expr(
              s"""cast((10000 * (sumIn + cast(nB as $dec) * cast(nH - chIn as $dec)))
                  div (cast(nB as $dec) * cast(nH as $dec)) as long)"""))
            .as("drift_bp")))

      val nbRow = batchCnt.agg(coalesce(sum("cnt"), lit(0L)).as("cnt"))
        .select(lit(TotalKey).as("h"), col("cnt"))
      state.append(
        batchCnt.withColumn("pb", bucketOf(nBuckets, col("h")))
          .unionByName(nbRow.withColumn("pb", lit(0).cast(IntegerType))),
        batchId)
      batchCnt.unpersist(); probed.unpersist()
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
