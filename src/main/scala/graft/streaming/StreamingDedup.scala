package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Sampling, SimilarityJoin}

/** Streaming INCREMENTAL deduplication — the continuous-ingestion form of
  * the corpus dedup family: documents arrive in micro-batches and each doc
  * is checked against every previously seen doc (earlier batches, or the
  * same batch with a smaller id) through MinHash/LSH band signatures, with
  * exact-Jaccard verification. The decision per doc is the MINIMUM earlier
  * doc id it duplicates (−1 = novel), so an ingest pipeline can drop dups
  * online instead of re-clustering the whole corpus per round.
  *
  * Batch assignment uses [[Sampling.hashUniform]] (MD5 of the id), not a
  * seeded RNG or engine hash, so arrival order is deterministic AND
  * engine-portable — a SQL oracle can replay exactly which docs each doc
  * was compared against.
  *
  * == Durable bucketed state ==
  *
  * Unlike the cache in [[CacheManager]] (perf-only — losing it cannot
  * change results), the seen-set here is CORRECTNESS-bearing, so the state
  * lives on storage, not in session memory:
  *
  *   - `state/sigs`  — band signatures of every seen doc, clustered by
  *     `pb = hash(band, bsig) mod nBuckets`;
  *   - `state/toks`  — token sets of every seen doc, clustered by
  *     `pb = hash(id) mod nBuckets`.
  *
  * Each micro-batch appends ONLY its own increment (one commit per batch,
  * keyed by `batchId`) and probes the accumulated state with bucket
  * pruning on both axes:
  *
  *   - the signature probe reads only `pb` buckets that hold some batch
  *     signature — a micro-batch of B docs touches ≤ B·bands buckets, so
  *     for a continuous ingest (B bounded, state growing without bound)
  *     the per-batch read is the matching slice of the state, not a full
  *     scan. This is the LSH-index point-lookup pattern expressed as
  *     bucket-pruned parquet reads;
  *   - the token fetch reads only `pb` buckets that hold a candidate id
  *     (candidates are batch-bounded), then semi-joins on the (broadcast)
  *     candidate ids — the engine's S5 keyed-fetch reduction, now against
  *     a pruned scan.
  *
  * The pruning predicates are `pb` `isin` filters built from a
  * driver-side collect of the DISTINCT bucket ids in the batch — bounded by
  * `nBuckets`, never data-sized.
  *
  * == Restart safety (exactly-once effects) ==
  *
  * Every write this job performs is keyed by the Structured Streaming
  * `batchId` (the output overwrites its own batch directory through
  * [[SemiStreamRuntime.BatchSink]]; a state append supersedes the same
  * batch id's earlier commit), so a batch that is retried after a crash
  * REPLACES its own effects instead of double-appending — the standard
  * idempotent-foreachBatch recipe, applied to both the output sink and
  * the state increments:
  *
  *   - probes filter `batch < batchId`, so a retrying batch never sees the
  *     partial state of its failed attempt;
  *   - the checkpoint, staged input, state, and output all live under one
  *     `workDir`, so re-invoking [[run]] with the same `workDir` resumes
  *     from the checkpoint with the state seeded back implicitly (it is
  *     read from storage every batch — there is nothing in memory to
  *     lose). [[StreamingDedupTxnLogSpec]] kills the stream mid-run AFTER the
  *     writes of an uncommitted batch and verifies the resumed run's
  *     decisions are byte-identical to an uninterrupted one.
  *
  * == Compaction ==
  *
  * Left alone, the state accrues one set of small files per batch
  * FOREVER — and the round-6 bucket-fan-out A/B showed file metadata
  * dominating small partitions. Every `compactEvery` batches the job folds
  * committed increments (`batch < batchId` — never the current,
  * possibly-retrying batch) into consolidated negative-id generations via
  * [[TransactionLogDedupState]]'s `compact` (size-tiered, crash-safe — see
  * its scaladoc), so the live batch count is O(compactEvery + log
  * batches) instead of O(batches).
  *
  * == At 100 TB ==
  *
  * The state contract is [[DedupStateStore]], and its store already has a
  * transactional table's mechanics (snapshot reads with stats-based file
  * skipping, batchId-keyed atomic commits, OPTIMIZE, VACUUM, log
  * checkpoints) on a local log. At 100 TB the same contract runs on a
  * Delta/Iceberg table with `pb` clustering; the per-batch logic — bounded
  * bucket touch set, batchId-keyed idempotent writes — is unchanged.
  */
object StreamingDedup {

  /** State-store constructor: (spark, dir, dataSchema, dedupKeys) → store. */
  type StateStoreFactory =
    (SparkSession, String, org.apache.spark.sql.types.StructType, Seq[String]) => DedupStateStore

  /** State-partition bucket of a signature or an id. */
  private def bucketOf(n: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(n)).cast(IntegerType)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run incremental dedup over `docs` replayed as `chunks` micro-batches.
    * Output: (doc_id, dup_of) for every tokenizable doc — `dup_of` = min
    * earlier seen doc with Jaccard ≥ τ, or −1 if none.
    *
    * False-negative rate is the LSH miss probability (1−τ^r)^b — at the
    * defaults and τ=0.8, ≈1e−10 per true pair, which is what lets a
    * brute-force oracle match exactly on deterministic data.
    *
    * @param nBuckets      state-partition fan-out; the per-batch probe reads
    *                      ≤ min(nBuckets, batchDocs·bands) of these buckets
    * @param workDir       durable root (checkpoint + staged input + state +
    *                      output). Re-invoking with the same dir resumes an
    *                      interrupted run. Default: a fresh temp dir for
    *                      state and output; the checkpoint and staged input
    *                      are deleted when the stream stops.
    * @param compactEvery  fold committed state increments into consolidated
    *                      generations every this many batches (0 disables —
    *                      experiment control only)
    * @param crashAtBatch  TEST HOOK — throw once after the writes of this
    *                      batchId (before the checkpoint commit), simulating
    *                      a driver crash mid-batch.
    * @param crashInCompaction TEST HOOK — crash once inside the first
    *                      compaction, after the generation is published but
    *                      before the folded files are deleted (the widest
    *                      window: folded rows on disk twice).
    * @param onBatch       timing callback (batchId, millis) for scale
    *                      experiments.
    * @param store         state-store factory (spark, dir, dataSchema,
    *                      dedupKeys) — [[TransactionLogDedupState.factory]]
    *                      by default; a caller can wrap it (e.g. to time
    *                      each state operation).
    * @param hashTokens    store the VERIFY tier (`state/toks`) as xxhash64
    *                      token ids (`array<bigint>`) instead of token
    *                      strings — the state-size tier for corpora whose
    *                      token storage dominates. Band signatures (and so
    *                      LSH candidates) still derive from the ORIGINAL
    *                      tokens, so the candidate set is bit-identical;
    *                      the exact-Jaccard verify runs in hash space,
    *                      where |A∩B|/|A∪B| differs only on an xxhash64
    *                      collision inside one candidate pair's union
    *                      (≈2⁻⁶⁴ per token pair — far below the banding
    *                      scheme's own 1e−10 miss floor, which the oracle
    *                      already absorbs).
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double,
      chunks: Int = 4,
      bands: Int = 32,
      rowsPerBand: Int = 3,
      nBuckets: Int = 64,
      workDir: Option[String] = None,
      compactEvery: Int = 8,
      crashAtBatch: Option[Long] = None,
      crashInCompaction: Boolean = false,
      onBatch: (Long, Long) => Unit = (_, _) => (),
      store: StateStoreFactory = TransactionLogDedupState.factory,
      hashTokens: Boolean = false,
      // salted-shuffle probe regime (SURVEY D4; round-13 verdict task 3):
      // when > 0, the state probe joins by SHUFFLE with measured per-key
      // salting instead of broadcasting the batch sigs — the regime for
      // batches too big to broadcast. Factors are measured per batch from
      // the batch's own (band, bsig) histogram (bands whose batch list
      // exceeds the threshold spread over ceil(list/threshold) ≤ 16 salt
      // sub-partitions); AQE cannot re-split these joins under the
      // streaming harness. 0 (default) defers to the session conf
      // `spark.graft.salt.threshold` (off when unset), so a deployment can
      // arm the defense engine-wide without touching call sites; negative
      // forces off. See graft.operators.Salting.armed.
      saltThreshold: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    val saltArm = graft.operators.Salting.armed(
      spark, graft.operators.Salting.ThresholdKey, saltThreshold)
    graft.functions.MinHashBands.register(spark)
    val storage = StorageLevel.MEMORY_AND_DISK

    val root = workDir.getOrElse(SemiStreamRuntime.tempDir("streamdedup-").toString)
    val hfs = fs(spark, root)
    val sigDir = s"$root/state/sigs"
    val tokDir = s"$root/state/toks"
    val sink = new SemiStreamRuntime.BatchSink(spark, s"$root/out")
    Seq(sigDir, tokDir).foreach(d => hfs.mkdirs(new HPath(d)))

    // verify-tier representation: token strings, or xxhash64 ids (the
    // state-size tier — see the hashTokens param doc)
    val reprToks: DataFrame => DataFrame =
      if (hashTokens) df => df.withColumn("toks", transform(col("toks"), t => xxhash64(t)))
      else identity
    val tokSchema = reprToks(SimilarityJoin.tokenize(docs.limit(0), idCol, textCol))
      .select("sid", "toks").schema
    val sigSchema = Dedup.bandSignatures(
      SimilarityJoin.tokenize(docs.limit(0), idCol, textCol), bands, rowsPerBand).schema

    val sigState = store(spark, sigDir, sigSchema, Seq("sid", "band", "bsig"))
    val tokState = store(spark, tokDir, tokSchema, Seq("sid"))

    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val t0 = System.nanoTime()

      // fold earlier, checkpoint-committed increments (never this batch's
      // own — a retry must still hide its failed attempt via batch<batchId)
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
        val afterPublish: () => Unit =
          if (!crashInCompaction) () => ()
          else () => {
            val marker = new HPath(s"$root/compact-crash-fired")
            if (!hfs.exists(marker)) {
              hfs.create(marker, true).close()
              throw new RuntimeException(s"injected crash mid-compaction at batch $batchId")
            }
          }
        // the two stores fold independent directory trees — overlap the
        // Spark jobs (either failing fails the batch, as before)
        ConcurrentEffects.all(
          () => sigState.compact(batchId, afterPublish),
          () => tokState.compact(batchId))
      }
      val bToks = SimilarityJoin.tokenize(batch.toDF(), idCol, textCol)
        .select("sid", "toks")
        .persist(storage)
      val bSigs = Dedup.bandSignatures(bToks.withColumn("slen", size(col("toks"))), bands, rowsPerBand)
        .withColumn("pb", bucketOf(nBuckets, col("band"), col("bsig")))
        .persist(storage)
      // distinct bucket ids in this batch — ≤ nBuckets values, the ONLY
      // driver-side collects in the batch loop. This first action also
      // materializes both persists (no separate count() job)
      val sigPbs = bSigs.select("pb").distinct().collect().map(_.getInt(0)).toSeq

      // NO broadcast hints on the token-ARRAY relations (xB/yBatch): a hint
      // forces a driver collect + broadcast build of the batch's token
      // arrays (tens of MB per batch), while AQE's runtime stats still pick
      // a broadcast when the side is truly small. The SIG side (xSigs,
      // pure longs) and `needed` (candidate ids) keep their hints — an
      // unhinted sig probe shuffled the whole state side instead (measured
      // +60 % on the last batch).
      val bVToks = reprToks(bToks) // verify-tier representation of the batch
      val xSigs = bSigs.select(col("sid").as("x_id"), col("band"), col("bsig"))
      val xB = SimilarityJoin.xSide(bVToks)

      // callers pass DISTINCT (x_id, y_id) pairs — deduping here again
      // would re-shuffle the pair relation a second time for nothing
      def verified(cand: DataFrame, yToks: DataFrame): DataFrame =
        SimilarityJoin.verify(cand, xB, yToks, tau).select("x_id", "y_id")

      // vs earlier batches: partition-pruned bucket join (batch side
      // broadcast; `batch < batchId` hides a failed attempt's own state).
      // Near-dup pairs share MANY bands, so the raw join output is ~bands×
      // the distinct pair count — dedup BEFORE persisting so only the
      // distinct pairs ever materialize (persisting the raw join measured
      // 2.8× slower per batch at 10× scale)
      val stateSigs = sigState.read(batchId, sigPbs)
        .select(col("sid").as("y_id"), col("band"), col("bsig"))
      val stateCand = (if (saltArm <= 0L)
        broadcast(xSigs).join(stateSigs, Seq("band", "bsig"))
      else {
        // shuffle probe with measured per-key salting: the state side is
        // the probe (its hot bands are the funnel), the batch side
        // replicates per factor — bag-equal to the broadcast join
        val factors = graft.operators.Salting.hotKeyFactors(
          bSigs.select("band", "bsig"), Seq("band", "bsig"),
          saltArm, maxSalts = 16, topN = 1024)
        graft.operators.Salting
          .adaptiveSaltedJoin(stateSigs, xSigs, Seq("band", "bsig"), factors)
      })
        .select("x_id", "y_id")
        .dropDuplicates("x_id", "y_id")
        .persist(storage)

      // token fetch of just the candidate y-docs (S5 keyed-fetch
      // reduction) against a bucket-pruned scan
      val needed = stateCand.select("y_id").distinct().persist(storage)
      val tokPbs = needed.select(bucketOf(nBuckets, col("y_id")).as("pb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val stateToks = tokState.read(batchId, tokPbs)
      val yFetch = stateToks
        .join(broadcast(needed), stateToks("sid") === needed("y_id"), "left_semi")
        .select(col("sid").as("y_id"), col("toks").as("y_toks"))

      // within-batch: both sides bounded
      val batchCand = xSigs
        .join(bSigs.select(col("sid").as("y_id"), col("band"), col("bsig")), Seq("band", "bsig"))
        .filter(col("y_id") < col("x_id"))
        .select("x_id", "y_id")
        .dropDuplicates("x_id", "y_id")
      val yBatch = SimilarityJoin.ySide(bVToks)

      val dupOf = verified(stateCand, yFetch)
        .unionByName(verified(batchCand, yBatch))
        .groupBy("x_id")
        .agg(min("y_id").as("dup_of"))

      // ---- batchId-keyed idempotent effects: a retried batch REPLACES
      // its own output and state partitions (dynamic overwrite) ----
      // dupOf holds only the docs that ARE duplicates — usually small, but
      // batch-sized in the worst case (every doc a dup), so the decision
      // join carries NO broadcast hint: AQE's runtime stats pick broadcast
      // when dupOf is truly small, and a high-duplication batch never
      // forces an unbounded driver collect; repartition(1) (not
      // coalesce(1), which would drag the join itself through one task)
      // keeps one decision file per batch
      // the three terminal effects are disjoint DAGs over the PERSISTED
      // batch relations, each writing its own batch-scoped directory —
      // overlap the Spark jobs (32 local threads are never saturated by
      // one of them alone). All complete before the checkpoint commit, so
      // crash/retry semantics are exactly the sequential ones; the state
      // reads above already snapshotted their file lists at plan time, so
      // a concurrent append is invisible to them even before the
      // batch<batchId visibility filter drops it
      ConcurrentEffects.all(
        () =>
          sink.write(
            batchId,
            bToks.select(col("sid").as("x_id"))
              .join(dupOf, Seq("x_id"), "left")
              .select(
                col("x_id").as("out_id"),
                coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
              .repartition(1)),
        () =>
          sigState.append(bSigs.select(col("sid"), col("band"), col("bsig"), col("pb")), batchId),
        () =>
          tokState.append(
            bVToks.select(col("sid"), col("toks"), bucketOf(nBuckets, col("sid")).as("pb")),
            batchId))

      stateCand.unpersist(); needed.unpersist(); bToks.unpersist(); bSigs.unpersist()
      onBatch(batchId, (System.nanoTime() - t0) / 1000000L)

      crashAtBatch.foreach { cb =>
        val marker = new HPath(s"$root/crash-fired-$cb")
        if (cb == batchId && !hfs.exists(marker)) {
          hfs.create(marker, true).close()
          throw new RuntimeException(s"injected crash after batch $cb writes")
        }
      }
    }

    // deterministic, engine-portable batch assignment; with a workDir the
    // chunks are spooled there once — a resumed run MUST see the same file
    // list the checkpoint recorded
    SemiStreamRuntime.replayForeachBatch(
      spark,
      SemiStreamRuntime.Chunked(
        docs.select(col(idCol), col(textCol)),
        floor(Sampling.hashUniform(col(idCol)) * chunks).cast("int"),
        chunks),
      workDir)(perBatch)
    // successful completion only (a throw above skips this): a FAILED run
    // keeps whatever crash-resume needs to read the state back
    sigState.close()
    tokState.close()

    sink.result.select(col("out_id").as("doc_id"), col("dup_of"))
  }
}
