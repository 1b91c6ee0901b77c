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
  * batch.
  *
  * Two probe modes share the machinery (same cache, admission, eviction,
  * controller — only the index key differs):
  *
  *   - [[SegmentMode]] — the reference's segment signatures (`sig` keyed).
  *   - [[PrefixMode]] — PPJoin prefix tokens (`tok` keyed): the stored
  *     side is the inverted list of PREFIX tokens under the global
  *     rarest-first order; a batch emits only its docs' (1−τ)-prefixes,
  *     and candidates are pruned by the length window AND the positional
  *     overlap bound before dedup/verify. Batch-side token ordering uses
  *     an S5-style bounded fetch of the frequency rows matching the
  *     batch's tokens (broadcast semi-join — the corpus-sized frequency
  *     table is scanned, never shuffled, per batch).
  *
  * Composition over duplication: the cross-batch cache/LRU/controller is
  * the SAME [[CacheManager]] as the equi-join path — exactly how the
  * reference shares its cache machinery between DS-Join and DSim-Join.
  */
object SemiStreamSimilarityJoin {

  private val Eps = 1e-4

  /** Which stored-side index the stream probes through the cache. */
  sealed trait ProbeMode
  case object SegmentMode extends ProbeMode
  case object PrefixMode extends ProbeMode

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
      mode: ProbeMode = SegmentMode,
      // measured hot-key salting of the per-batch sig/tok probe joins
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
    graft.functions.ArrayIntersectSize.register(spark)

    // ---- static side (built once, like BuildSig's offline pass) ----
    val toks = SimilarityJoin.tokenize(docs, idCol, textCol).persist()
    toks.count()

    def prefixLen(len: org.apache.spark.sql.Column) =
      (len - ceil(len * tau - Eps) + 1).cast("int")

    // (key, index, stored-side frequency table, segment group table):
    // index = (key, y_id, y_len, y_pos) — the cached/fetched relation
    val (key, index, freqOpt, groupsOpt) = mode match {
      case SegmentMode =>
        val groups = SimilarityJoin.groupTable(spark, toks, tau, alpha = 0.95)
        val idx = SimilarityJoin.indexSignatures(toks, groups)
          .select(col("sig"), col("sid").as("y_id"), col("slen").as("y_len"),
            lit(0).as("y_pos"))
        ("sig", idx, None: Option[DataFrame], Some(groups))
      case PrefixMode =>
        val freq = SimilarityJoin.tokenFrequencies(toks).persist()
        freq.count()
        val iOrd = SimilarityJoin.orderByFrequency(toks, freq)
        val idx = iOrd.select(
          col("sid").as("y_id"),
          col("slen").as("y_len"),
          posexplode(slice(col("otoks"), lit(1), prefixLen(col("slen"))))
            .as(Seq("y_pos", "tok")))
          .select("tok", "y_id", "y_len", "y_pos")
        ("tok", idx, Some(freq), None: Option[DataFrame])
    }
    val indexP = index.persist()
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
    val yT = toks.select(col("sid").as("y_id"), col("toks").as("y_toks"))
      .repartition(
        spark.sessionState.conf.numShufflePartitions, col("y_id"))
      .persist()

    val sink = new SemiStreamRuntime.BatchSink(spark)
    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val bToks = SimilarityJoin.tokenize(batch.toDF(), idCol, textCol)
      val probeRows = mode match {
        case SegmentMode =>
          val groups = groupsOpt.get
          SimilarityJoin.probeSignatures(bToks, groups, tau)
            .select(col("sig"), col("sid").as("x_id"), col("slen").as("x_len"),
              lit(0).as("x_pos"))
        case PrefixMode =>
          // bounded frequency fetch: only rows for tokens present in this
          // batch (S5 keyed-fetch), then batch-local ordering + prefix
          val freq = freqOpt.get
          val bTokens = bToks.select(explode(col("toks")).as("tok")).distinct()
          val bFreq = freq.join(broadcast(bTokens), Seq("tok"), "left_semi")
          val pOrd = bToks
            .select(col("sid"), col("slen"), explode(col("toks")).as("tok"))
            .join(broadcast(bFreq), Seq("tok"), "left")
            .groupBy("sid", "slen")
            .agg(
              transform(
                array_sort(collect_list(struct(coalesce(col("df"), lit(0L)).as("df"), col("tok")))),
                s => s.getField("tok")).as("otoks"))
          pOrd.select(
            col("sid").as("x_id"),
            col("slen").as("x_len"),
            posexplode(slice(col("otoks"), lit(1), prefixLen(col("slen"))))
              .as(Seq("x_pos", "tok")))
            .select(col("tok"), col("x_id"), col("x_len"), col("x_pos"))
      }
      // probe-side tokens come from THIS batch (bounded), never the full
      // corpus: broadcast them into the verify join — the stored side is
      // the only big relation a batch ever shuffles against
      val xB = broadcast(bToks.select(col("sid").as("x_id"), col("toks").as("x_toks")))
      manager.processBatch(probeRows) { joined =>
        // joined = probe rows ⋈ index rows on the key (hits ∪ fetched
        // misses) = the candidate pairs of this batch
        val lengthPruned = joined
          .filter(
            col("x_id") =!= col("y_id") &&
              col("y_len") >= ceil(col("x_len") * tau - Eps) &&
              col("y_len") <= floor(col("x_len") / tau + Eps))
        val pruned = mode match {
          case SegmentMode => lengthPruned
          case PrefixMode =>
            // PPJoin positional bound — a valid overlap upper bound for
            // every shared token occurrence, never drops a true match
            val alphaReq = ceil((col("x_len") + col("y_len")) * (tau / (1 + tau)) - Eps)
            val posBound =
              least(col("x_pos"), col("y_pos")) + 1 +
                least(col("x_len") - col("x_pos") - 1, col("y_len") - col("y_pos") - 1)
            lengthPruned.filter(posBound >= alphaReq)
        }
        val verified = pruned
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
          .join(xB, "x_id")
          .join(yT, "y_id")
          .withColumn(
            "inter",
            graft.functions.ArrayIntersectSize
              .intersect_size(col("x_toks"), col("y_toks")))
          .withColumn(
            "uni",
            size(col("x_toks")) + size(col("y_toks")) - col("inter"))
          .filter(col("inter").cast("double") / col("uni") >= tau)
          .select("x_id", "y_id", "inter", "uni")
        sink.write(batchId, verified)
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
    freqOpt.foreach(_.unpersist())
    saltFactors.foreach(_.unpersist())
    Result(sink.result, stats)
  }
}
