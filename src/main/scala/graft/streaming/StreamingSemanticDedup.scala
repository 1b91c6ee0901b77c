package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.storage.StorageLevel

import graft.operators.{Sampling, SimilaritySearch}

/** Streaming INCREMENTAL semantic deduplication — the continuous-ingestion
  * form of the SemDeDup pass (Abbas et al. 2023, arXiv:2303.09540), the
  * embedding-tier sibling of [[StreamingDedup]]'s token-level dedup: vectors
  * arrive in micro-batches and each is checked against every previously seen
  * vector OF THE SAME IVF CELL (earlier batch, or same batch with smaller
  * id) at cosine ≥ τ. Decision per vector: `dup_of` = min earlier same-cell
  * duplicate id, −1 = novel — so an ingest pipeline drops semantically
  * redundant documents online instead of re-running the batch pass
  * ([[SimilaritySearch.semanticDedup]], q55) over the whole corpus per
  * round.
  *
  * == Design ==
  *
  *   - **Coarse quantizer is offline, assignment is streaming** — the
  *     paper's own setup (IVF centroids train on a corpus sample before
  *     ingestion; k ∝ n keeps cells bounded). Centroids reuse q55's
  *     deterministic seeding (first `nCells` vids by MD5 order), so the
  *     batch pass and this stream agree on cells and a SQL oracle can
  *     replay both.
  *   - **State = the seen vectors, bucketed by cell** through the
  *     [[DedupStateStore]] contract (third consumer, after the sig and
  *     token stores): `pb = cell mod nBuckets`, so a micro-batch's probe
  *     prunes to the buckets its cells touch, and candidates are
  *     Σ |cell ∩ batch| × |cell ∩ state| — never batch × corpus. Identical
  *     store semantics: batchId-keyed idempotent appends, `batch <
  *     batchId` snapshot reads, size-tiered compaction every
  *     `compactEvery` batches.
  *   - **Batch assignment** is [[Sampling.hashUniform]] over the id (MD5 —
  *     engine-portable), exactly like [[StreamingDedup]], so arrival order
  *     is deterministic and the oracle replays it.
  *
  * Like the token-level stream, the cross-batch state is
  * CORRECTNESS-bearing, hence durable storage + the idempotent-retry
  * recipe rather than session memory.
  */
object StreamingSemanticDedup {

  /** Run incremental semantic dedup over `vectors` (vid, emb) replayed as
    * `chunks` micro-batches. Output: (vid, dup_of).
    */
  def run(
      vectors: DataFrame,
      tau: Double,
      chunks: Int = 4,
      nCells: Int = 64,
      nBuckets: Int = 16,
      workDir: Option[String] = None,
      compactEvery: Int = 8): DataFrame = {
    val spark = vectors.sparkSession
    graft.functions.CosineSimilarity.register(spark)
    val storage = StorageLevel.MEMORY_AND_DISK

    val root = workDir.getOrElse(SemiStreamRuntime.tempDir("semstream-").toString)
    val sink = new SemiStreamRuntime.BatchSink(spark, s"$root/out")

    // offline coarse quantizer: q55's deterministic centroid seeding over
    // the corpus (the paper trains the quantizer before ingestion)
    val idHash = md5(col("c_src").cast("string"))
    val centroids = vectors
      .select(col("vid").as("c_src"), col("emb").as("c_emb"))
      .orderBy(idHash, col("c_src"))
      .limit(nCells)
      .withColumn(
        "cell",
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(idHash, col("c_src"))))
      .select("cell", "c_emb")
      .persist(storage)
    centroids.count()

    def assign(vecs: DataFrame): DataFrame =
      vecs
        .crossJoin(broadcast(centroids))
        .groupBy("vid")
        .agg(
          first(col("emb")).as("emb"),
          max_by(
            col("cell"),
            struct(SimilaritySearch.cosine(col("emb"), col("c_emb")), -col("cell"))).as("cell"))
        .withColumn("pb", pmod(col("cell"), lit(nBuckets)).cast(IntegerType))

    val stateSchema = assign(vectors.limit(0)).drop("pb").schema
    val state = TransactionLogDedupState.factory(spark, s"$root/state/vecs", stateSchema, Seq("vid"))

    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        state.compact(batchId)

      val assigned = assign(batch.toDF()).persist(storage)
      // touched buckets: ≤ min(nBuckets, batch cells) values, driver-bounded;
      // this first action also materializes the persist
      val pbs = assigned.select("pb").distinct().collect().map(_.getInt(0)).toSeq

      val x = assigned.select(
        col("vid").as("x_id"), col("emb").as("x_emb"), col("cell"))
      val stateY = state.read(batchId, pbs)
        .select(col("vid").as("y_id"), col("emb").as("y_emb"), col("cell"))
      val batchY = assigned.select(
        col("vid").as("y_id"), col("emb").as("y_emb"), col("cell"))

      // same-cell candidates only (SemDeDup's recall contract); the batch
      // side is bounded → broadcast, the state side arrives bucket-pruned
      def verified(y: DataFrame, sameBatch: Boolean): DataFrame = {
        val cand = broadcast(x).join(y, Seq("cell"))
        val ordered = if (sameBatch) cand.filter(col("y_id") < col("x_id")) else cand
        ordered
          .filter(SimilaritySearch.cosine(col("x_emb"), col("y_emb")) >= tau)
          .select("x_id", "y_id")
      }

      val dupOf = verified(stateY, sameBatch = false)
        .unionByName(verified(batchY, sameBatch = true))
        .groupBy("x_id")
        .agg(min("y_id").as("dup_of"))

      // batchId-keyed idempotent output + state increment (retry replaces)
      sink.write(
        batchId,
        assigned.select(col("vid").as("x_id"))
          .join(dupOf, Seq("x_id"), "left")
          .select(
            col("x_id").as("out_id"),
            coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
          .coalesce(1))

      state.append(assigned.select("vid", "emb", "cell", "pb"), batchId)
      assigned.unpersist()
      ()
    }

    // deterministic, engine-portable arrival order; with a workDir the
    // chunks are spooled there once so a resumed run sees the file list
    // the checkpoint recorded
    SemiStreamRuntime.replayForeachBatch(
      spark,
      SemiStreamRuntime.Chunked(
        vectors.select(col("vid"), col("emb")),
        floor(Sampling.hashUniform(col("vid")) * chunks).cast("int"),
        chunks),
      workDir)(perBatch)
    // successful completion only: see StreamingDedup
    state.close()

    centroids.unpersist()
    sink.result.select(col("out_id").as("vid"), col("dup_of"))
  }
}
