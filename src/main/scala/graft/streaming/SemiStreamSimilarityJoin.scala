package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilarityJoin

/** Semi-stream SIMILARITY join — the full DSim-Join streaming capability
  * (`DSim-Join/src/main/scala/ds_join/DS_SimJoin_stream.scala:455-866`):
  * a stream of query documents probes a precomputed signature index
  * through a KEYED LRU cache; only cache-missed keys hit the stored index
  * (the reference's executor-side `in("signature", …)` fetch, `:774-801`),
  * fetched index rows are admitted to the cache under the frequency rule
  * (freq < 50, `:838`), and candidates are verified with exact Jaccard per
  * batch by [[SimilarityJoin.verify]]. The cache is keyed by the
  * reference's segment signatures (`sig`), the index
  * [[SimilarityJoin.joinSets]] probes in batch.
  *
  * Composition over duplication: the cross-batch cache/LRU/controller is
  * the SAME [[CacheManager]] as the equi-join path — exactly how the
  * reference shares its cache machinery between DS-Join and DSim-Join.
  */
object SemiStreamSimilarityJoin {

  final case class Result(
      pairs: DataFrame, // (x_id, y_id, inter, uni) verified, accumulated
      stats: Seq[CacheManager.BatchStats])

  /** Stream `docs` (replayed in `chunks` micro-batches) against the static
    * signature index of the same corpus. Output: every ordered pair
    * (x stream doc, y stored doc), x≠y, Jaccard ≥ τ.
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double,
      chunks: Int = 4,
      maxSigFrequency: Long = 50,
      config: AdaptiveWindowController.Config = AdaptiveWindowController.Config(),
      windowRule: WindowRule = HillClimbRule,
      // measured hot-key salting of the per-batch sig probe joins
      // (SURVEY D4; round-13 verdict task 3): keys whose INDEX list is
      // longer than this spread over ceil(list/saltHotAbove) salt
      // sub-partitions (capped at 16) in the cache-hit and fetched-miss
      // joins. AQE is disabled under stateful streaming, so without this
      // a signature shared by half the corpus funnels its whole candidate
      // product through one task. 0 (default) defers to the session conf
      // `spark.graft.salt.hotAbove` (off when unset) so the defense can be
      // armed engine-wide; negative forces off. See Salting.armed.
      saltHotAbove: Long = 0L): Result = {
    val spark = docs.sparkSession
    val saltArm = graft.operators.Salting.armed(
      spark, graft.operators.Salting.HotAboveKey, saltHotAbove)

    // ---- static side (built once, like BuildSig's offline pass) ----
    val toks = SimilarityJoin.tokenize(docs, idCol, textCol).persist()
    toks.count()

    // index = (sig, y_id, y_len) — the cached/fetched relation
    val key = "sig"
    val groups = SimilarityJoin.groupTable(spark, toks, tau, alpha = 0.95)
    val indexP = SimilarityJoin.indexSignatures(toks, groups)
      .select(col("sig"), col("sid").as("y_id"), col("slen").as("y_len"))
      .persist()
    indexP.count()
    // frequency-based admission (reference P7): hot keys never enter the
    // cache — they would evict everything else for little hit value
    val hotKeys = indexP.groupBy(key).count()
      .filter(col("count") >= maxSigFrequency)
      .select(key)
      .persist()
    hotKeys.count()
    val admit: DataFrame => DataFrame = _.join(hotKeys, Seq(key), "left_anti")

    // hot-key salt factors, measured ONCE from the static index histogram
    // (a hot signature is an index property): bounded ≤ 1024 rows,
    // broadcast into every batch's probe joins
    val saltFactors =
      if (saltArm <= 0L) None
      else {
        val f = graft.operators.Salting
          .hotKeyFactors(indexP.select(key), key, saltArm, maxSalts = 16)
          .persist()
        f.count()
        Some(f)
      }

    val emptyCache = indexP.limit(0)
    val manager = new CacheManager(
      indexP, emptyCache, key, config, checkpointEvery = 4, admit = admit,
      windowRule = windowRule, saltFactors = saltFactors)

    // ---- stream side ----
    // stored-side verify tokens: pre-partitioned by the join key and
    // persisted IN THAT LAYOUT, so every micro-batch's verify join reuses
    // the stored side's distribution and shuffles only its own candidates
    // count pinned like the verify exchange below: unpinned, AQE coalesces
    // the byte-small token relation to 1-2 cached partitions and the
    // layout alignment with the per-batch verify is lost
    val yT = SimilarityJoin.ySide(toks)
      .repartition(
        spark.sessionState.conf.numShufflePartitions, col("y_id"))
      .persist()

    val sink = new SemiStreamRuntime.BatchSink(spark)
    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val bToks = SimilarityJoin.tokenize(batch.toDF(), idCol, textCol)
      val probeRows = SimilarityJoin.probeSignatures(bToks, groups, tau)
        .select(col("sig"), col("sid").as("x_id"), col("slen").as("x_len"))
      // probe-side tokens come from THIS batch (bounded), never the full
      // corpus: broadcast them into the verify join — the stored side is
      // the only big relation a batch ever shuffles against
      val xB = broadcast(SimilarityJoin.xSide(bToks))
      manager.processBatch(probeRows) { joined =>
        // joined = probe rows ⋈ index rows on the key (hits ∪ fetched
        // misses) = the candidate pairs of this batch
        val pairs = joined
          .filter(col("x_id") =!= col("y_id") && SimilarityJoin.lengthWindow(tau))
          .select("x_id", "y_id")
          // one exchange, keyed like the persisted stored side: hash-
          // partitioning on y_id alone satisfies the pair-dedup's clustering
          // requirement (y_id ⊆ {x_id, y_id}), so the dedup aggregates
          // in-place and the verify join lines up with yT's layout instead
          // of shuffling the candidates a second time.
          // The count is PINNED (an unpinned repartition is an AQE-
          // coalescible exchange, and AQE coalesces by BYTES — a slim
          // (x_id, y_id) pair relation of ~24 MB collapsed to 1-2
          // partitions, so the CPU-bound intersect verify downstream ran
          // ~2 tasks for ~2.5 s per batch while 30 cores idled; measured
          // in the q41 event log, stage cpu≈wall with 2 tasks). Same
          // §2.5 parallelism-pinning rationale as core.Spread.
          .repartition(
            spark.sessionState.conf.numShufflePartitions, col("y_id"))
          .dropDuplicates("x_id", "y_id")
        sink.write(batchId,
          SimilarityJoin.verify(pairs, xB, yT, tau).select("x_id", "y_id", "inter", "uni"))
      }
      ()
    }
    SemiStreamRuntime.replayForeachBatch(
      spark,
      SemiStreamRuntime.Chunked(
        docs.select(idCol, textCol), SemiStreamRuntime.hashChunk(idCol, chunks), chunks))(perBatch)

    val stats = manager.stats.toList
    manager.close()
    toks.unpersist(); indexP.unpersist(); hotKeys.unpersist(); yT.unpersist()
    saltFactors.foreach(_.unpersist())
    Result(sink.result, stats)
  }
}
