package graft.streaming

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** The [[DedupStateStore]]: a Delta/Iceberg-shaped table on an explicit
  * TRANSACTION LOG (no Delta artifacts exist offline, so the log protocol
  * is implemented directly):
  *
  *   - **snapshot** = replay of `_log/<version>.json` commits in order.
  *     Data files carry `batch`/`pb` as ordinary columns; the LOG carries
  *     per-file statistics (`pbs`, bytes, rows) — bucket pruning happens
  *     by file skipping on log stats, Delta/Iceberg's stats-based pruning,
  *     then `pb` predicate pushdown inside the chosen files. A file with
  *     EMPTY `pbs` has no stats and is never skipped (the Delta
  *     missing-stats rule — see the domain guard in [[stage]]);
  *   - **append** = stage data files, then ONE atomic log commit (the
  *     next version is reserved by an atomic hard-link publish — see
  *     [[TransactionLogDedupState.Log.writeCommit]]). A retried batch id
  *     SUPERSEDES the earlier attempt's commit (`REPLACE WHERE batch =
  *     id`) — readers never see the failed attempt;
  *   - **compact** = OPTIMIZE: fold the pending increments into a
  *     GENERATION `batch = -upTo` (negative, so `batch < batchId` keeps
  *     matching it for every later batch) and commit adds + removes in ONE
  *     entry. The fold also absorbs any existing generation no larger
  *     than the bytes being folded (smallest-first), so generations form a
  *     geometric ladder: each row is rewritten O(log B) times over B
  *     batches and the live batch count stays O(compactEvery + log B) —
  *     LSM size-tiered merge policy, Delta's OPTIMIZE file-size tiering.
  *     Readers never observe a duplicated-state window — the tombstoned
  *     sources merely remain on DISK until…
  *   - **vacuum** = physical deletion of tombstoned files, run after the
  *     commit (the `afterPublish` crash hook sits between commit and
  *     vacuum) and replayed by any later compaction's nothing-pending
  *     path — the log's `removes` are the manifest of what a generation
  *     absorbed;
  *   - **checkpoint** = every `checkpointEvery` commits the writer
  *     resolves the snapshot into `_log/<version>.ckpt` (Delta's
  *     `<version>.checkpoint.parquet`), so a COLD reader replays at most
  *     `checkpointEvery` trailing commits instead of the whole log.
  *     Tombstone entries already vacuumed off disk are pruned at
  *     checkpoint time, bounding the checkpoint by live + pending-vacuum
  *     files; commits the checkpoint covers (and superseded checkpoints)
  *     are then DELETED, so the `_log` listing itself stays
  *     O(checkpointEvery) over a long-lived stream (our contract needs no
  *     time travel, so no Delta-style retention window).
  *
  * Warm readers never replay at all: the instance keeps the resolved
  * snapshot in memory and folds ONLY log suffix commits in (a plain
  * directory listing detects them), so per-batch log cost is O(new
  * commits), not O(all commits). Everything durable is in `dir`, so a
  * fresh instance on the same dir (a restarted driver) resumes the state
  * exactly, and nothing outlives the instance in memory.
  *
  * Single-writer per store (the streaming harness's regime): version
  * numbers are allocated by listing, and the publish is a hard-link
  * create — atomic and reliably EEXIST-failing on POSIX, unlike
  * `ATOMIC_MOVE` whose rename(2) silently replaces — so a lost race
  * retries the next version instead of clobbering a committed one.
  */
final class TransactionLogDedupState(
    spark: org.apache.spark.sql.SparkSession,
    dir: String,
    dataSchema: StructType,
    dedupKeys: Seq[String],
    sumCols: Seq[String] = Seq.empty)
  extends DedupStateStore {

  import TransactionLogDedupState.{listDir, AddFile, Log}

  require(
    sumCols.isEmpty ||
      dataSchema.fieldNames.toSet == (dedupKeys ++ sumCols).toSet,
    s"sum-fold stores need schema = keys ++ sumCols: ${dataSchema.fieldNames.toSeq} vs $dedupKeys + $sumCols")

  private val fullSchema = dataSchema.add("batch", LongType).add("pb", IntegerType)
  private val log = new Log(dir)
  private val dataDir = log.dataDir
  Files.createDirectories(log.logDir)
  Files.createDirectories(dataDir)

  // ---- data-file staging ----------------------------------------------

  /** pb values that Spark's hash partitioning routes to each shuffle
    * partition index — computed ONCE per (store, partition count) with one
    * tiny local job over the pb domain, so per-file `pbs` stats come from
    * the write LAYOUT instead of a per-append read-back job (measured
    * ~4 s/batch on the q243 gate). The per-file set is a SUPERSET of the
    * pbs actually present (file skipping stays correct, merely coarser —
    * the trade a stats-collecting table makes when it clusters by hash).
    *
    * The layout only covers `[0, pbDomainMax)`, so [[stage]] ASSERTS the
    * domain on every written row (out-of-domain pbs would get silently
    * wrong stats and read()'s skipping would lose state — the round-14
    * ADVICE finding); the defense-in-depth fallback keeps any non-empty
    * file the layout cannot explain with EMPTY stats, which [[read]]
    * treats as unskippable.
    */
  private val pbDomainMax = 4096
  private val partitionPbs = collection.mutable.Map[Int, Map[Int, Seq[Int]]]()
  private def pbsOfPartition(numParts: Int): Map[Int, Seq[Int]] =
    partitionPbs.getOrElseUpdate(numParts, {
      import spark.implicits._
      (0 until pbDomainMax).toDF("pb")
        .select(col("pb"), pmod(hash(col("pb")), lit(numParts)).as("part"))
        .collect()
        .map(r => r.getInt(1) -> r.getInt(0)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSeq.sorted).toMap
    })

  /** Row count straight from the parquet footer (driver-side, local
    * metadata read — no Spark job), Delta's `numRecords` stat.
    */
  private def footerRows(p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Write `df` (fullSchema columns) as data files and return their log
    * stats (per-file pb supersets from the hash-partition map, row counts
    * from the footers). Zero-row part files are dropped; a non-empty file
    * outside the layout's explanation is NEVER dropped — it keeps empty
    * (= absent) stats instead.
    */
  private def stage(df: DataFrame): Seq[AddFile] = {
    val staging = Files.createTempDirectory(dataDir, ".staging-")
    // clear staging remnants (_SUCCESS etc., or a failed write's part files)
    try stageInto(staging, df)
    finally {
      val walk = Files.walk(staging)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  private def stageInto(staging: Path, df: DataFrame): Seq[AddFile] = {
    val numParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // fail LOUDLY on a pb outside the stats domain instead of silently
    // mis-skipping it later (assert_true rides the pb projection so column
    // pruning cannot drop it)
    val guarded = df.withColumn(
      "pb",
      when(
        assert_true(
          col("pb") >= 0 && col("pb") < lit(pbDomainMax),
          lit(s"txnlog pb out of stats domain [0, $pbDomainMax) — " +
            "raise pbDomainMax or lower the store's bucket fan-out")).isNull,
        col("pb")))
    guarded.repartition(numParts, col("pb"))
      .write.mode("overwrite").parquet(staging.toString)
    val layout = pbsOfPartition(numParts)
    val staged = listDir(staging)(_
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq).sortBy(_.getFileName.toString)
    // footer reads are independent local metadata reads — do them in a
    // bounded pool instead of one-by-one on the driver (one staged file
    // per shuffle partition per store per batch: serially this was a
    // visible slice of every append under the concurrent-effects phase)
    val rowsOf: Map[Path, Long] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, math.max(1, staged.size)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(staged.map(p => Future(
          p -> (if (Files.size(p) == 0L) 0L else footerRows(p))))),
        Duration.Inf).toMap
      finally pool.shutdown()
    }
    staged
      .flatMap { p =>
        // part files are named part-<taskIndex>-…; the task index IS the
        // shuffle partition the pb hash routed to
        val idx = p.getFileName.toString.stripPrefix("part-").take(5).toInt
        val pbs = layout.getOrElse(idx, Seq.empty)
        val rows = rowsOf(p)
        if (rows == 0L) { Files.delete(p); None }
        else {
          val name = s"f-${java.util.UUID.randomUUID().toString}.parquet"
          val bytes = Files.size(p)
          Files.move(p, dataDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          Some(AddFile(name, pbs, bytes, rows))
        }
      }
  }

  private def readFiles(files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema)
    else
      spark.read.schema(fullSchema)
        .parquet(files.map(f => dataDir.resolve(f).toString): _*)

  // ---- DedupStateStore ------------------------------------------------

  override def read(batchId: Long, buckets: Seq[Int]): DataFrame = {
    val bs = buckets.toSet
    // file skipping on log stats (Delta-style; empty stats = never skip),
    // then predicate pushdown
    val files = log.refresh().live.values.collect {
      case (b, a) if b < batchId && (a.pbs.isEmpty || a.pbs.exists(bs.contains)) => a.file
    }.toSeq
    readFiles(files).filter(col("batch") < lit(batchId) && col("pb").isin(buckets: _*))
  }

  override def append(df: DataFrame, batchId: Long): Unit = {
    val adds = stage(df.withColumn("batch", lit(batchId))
      .select(fullSchema.fieldNames.map(col).toSeq: _*))
    log.writeCommit(batchId, adds, Seq.empty, Seq.empty)
    // telemetry straight from the commit's own stats — no extra count job,
    // no log replay (the cached state was just advanced by writeCommit)
    StateTelemetry.record(StateTelemetry.StatePoint(
      dir, batchId, adds.map(_.rows).sum,
      log.state.live.values.map(_._2.bytes).sum,
      log.liveBatchIds().size.toLong))
  }

  override def compact(upTo: Long, afterPublish: () => Unit): Unit = {
    val gen = -upTo
    val snap = log.refresh()
    val pending = snap.live.values.filter { case (b, _) => b >= 0 && b < upTo }.toSeq
    if (pending.isEmpty) { log.vacuum(); return } // nothing to fold — but a
    // crashed earlier compaction may still owe physical deletes (VACUUM)

    // size-tiered ladder on LOG bytes: fold any generation no larger than
    // what is being folded anyway, smallest first
    var foldBytes = pending.map(_._2.bytes).sum
    val gens = snap.live.values.filter { case (b, _) => b < 0 && b != gen }.toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      .sortBy { case (_, fs) => fs.map(_.bytes).sum }
    val foldedGens = collection.mutable.Buffer[(Long, Seq[AddFile])]()
    gens.foreach { case (g, fs) =>
      val sz = fs.map(_.bytes).sum
      if (sz <= foldBytes) { foldedGens += ((g, fs)); foldBytes += sz }
    }
    val foldedFiles = pending.map(_._2) ++ foldedGens.flatMap(_._2)
    val foldedIds = (pending.map(_._1) ++ foldedGens.map(_._1)).distinct

    val pendingDf = readFiles(foldedFiles.map(_.file))
    // SET stores keep one row per key (a re-asserted fact folds);
    // INCREMENT stores (sumCols) SUM per key — keeping an arbitrary row
    // would silently drop cross-batch count increments
    val consolidated =
      if (sumCols.isEmpty) pendingDf.dropDuplicates(dedupKeys)
      else pendingDf
        .groupBy((dedupKeys :+ "pb").map(col): _*) // pb = f(key): constant per key
        .agg(
          sum(col(sumCols.head)).cast(dataSchema(sumCols.head).dataType).as(sumCols.head),
          sumCols.tail.map(c =>
            sum(col(c)).cast(dataSchema(c).dataType).as(c)): _*)
        .select(fullSchema.fieldNames.filterNot(_ == "batch").map(col).toSeq: _*)
    val adds = stage(consolidated.withColumn("batch", lit(gen))
      .select(fullSchema.fieldNames.map(col).toSeq: _*))
    // publish: adds + removes in ONE atomic commit — readers never see
    // the folded rows twice
    log.writeCommit(gen, adds, foldedFiles.map(_.file), foldedIds)
    afterPublish()
    log.vacuum()
  }
}

object TransactionLogDedupState {

  def factory: StreamingDedup.StateStoreFactory =
    (s, dir, schema, keys) => new TransactionLogDedupState(s, dir, schema, keys)

  /** INCREMENT-semantics store for count states (schema = keys ++ long
    * value columns): compaction SUMS the value columns per key instead of
    * keeping one arbitrary row, so summed reads are compaction-invariant
    * by construction — the contract the count consumers
    * ([[StreamingSubstringDedup]], [[StreamingNovelty]],
    * [[StreamingDrift]], [[StreamingDecay]], [[StreamingKAnonymity]])
    * depend on.
    */
  def sumFactory: StreamingDedup.StateStoreFactory =
    (s, dir, schema, keys) => new TransactionLogDedupState(
      s, dir, schema, keys, sumCols = schema.fieldNames.filterNot(keys.contains).toSeq)

  /** TEST HOOK — batch/generation ids with PHYSICAL files in `dir`, read
    * from its on-disk log and `data/` (physical presence, so the
    * post-commit pre-vacuum crash window is observable).
    */
  def liveBatches(dir: String): Seq[Long] = onDisk(dir).fold(Seq.empty[Long])(_.liveBatchIds())

  /** TEST HOOK — physically delete one batch's files in `dir` (a
    * partially completed vacuum).
    */
  def dropBatch(dir: String, batch: Long): Unit = onDisk(dir).foreach(_.dropBatchFiles(batch))

  private def onDisk(dir: String): Option[Log] =
    Some(new Log(dir)).filter(l => Files.isDirectory(l.logDir))

  /** Every `Files.list`/`Files.walk` stream closed eagerly — a long soak
    * leaks one directory FD per unclosed stream until GC otherwise.
    */
  private def listDir[T](p: Path)(f: Iterator[Path] => T): T = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }

  /** One committed action. `batch` ≥ 0 for appends, the generation id
    * (negative) for compactions; `folded` lists the batch/generation ids a
    * compaction absorbed; `removes` its tombstoned files.
    */
  private final case class Commit(
      version: Long,
      batch: Long,
      adds: Seq[AddFile],
      removes: Seq[String],
      folded: Seq[Long])

  /** `pbs` empty = NO stats (file never skipped); `rows` −1 = unknown
    * (commit written by a pre-stats writer).
    */
  private final case class AddFile(file: String, pbs: Seq[Int], bytes: Long, rows: Long)

  /** The log protocol over `dir/_log` and `dir/data`: commits,
    * checkpoints, the cached snapshot and vacuum — everything but the
    * Spark data plane, so the test hooks can read a dir without a store.
    */
  private final class Log(dir: String) {
    val logDir: Path = Paths.get(dir, "_log")
    val dataDir: Path = Paths.get(dir, "data")
    private val mapper = new ObjectMapper()
    private val checkpointEvery = 8L

    private def readCommit(v: Long): Commit = {
      val node = mapper.readTree(logDir.resolve(f"$v%012d.json").toFile)
      Commit(
        v,
        node.get("batch").asLong(),
        node.get("adds").elements().asScala.map { a =>
          AddFile(
            a.get("file").asText(),
            a.get("pbs").elements().asScala.map(_.asInt()).toSeq,
            a.get("bytes").asLong(),
            Option(a.get("rows")).map(_.asLong()).getOrElse(-1L))
        }.toSeq,
        Option(node.get("removes")).map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Seq.empty),
        Option(node.get("folded")).map(_.elements().asScala.map(_.asLong()).toSeq)
          .getOrElse(Seq.empty))
    }

    /** Publish one commit at the next free version and fold it into the
      * cached snapshot. The reserve-and-publish is `Files.createLink`
      * (CREATE_NEW semantics — throws reliably when the target exists, so a
      * lost version race retries the NEXT version; `ATOMIC_MOVE` maps to
      * rename(2), which silently REPLACES and would clobber a committed
      * version). Filesystems without hard links fall back to the move under
      * the documented single-writer assumption.
      */
    def writeCommit(batch: Long, adds: Seq[AddFile], removes: Seq[String],
        folded: Seq[Long]): Unit = {
      val root = mapper.createObjectNode()
      root.put("batch", batch)
      val addArr = root.putArray("adds")
      adds.foreach { a =>
        val n = addArr.addObject()
        n.put("file", a.file); n.put("bytes", a.bytes); n.put("rows", a.rows)
        val p = n.putArray("pbs"); a.pbs.foreach(p.add)
      }
      val remArr = root.putArray("removes"); removes.foreach(remArr.add)
      val fldArr = root.putArray("folded"); folded.foreach(fldArr.add)
      val bytes = mapper.writeValueAsBytes(root)
      val tmp = Files.createTempFile(logDir, ".commit-", ".tmp")
      Files.write(tmp, bytes)
      var v = refresh().version + 1
      var done = false
      try {
        while (!done) {
          val target = logDir.resolve(f"$v%012d.json")
          try { Files.createLink(target, tmp); done = true }
          catch {
            case _: FileAlreadyExistsException => v += 1 // lost a race: next version
            case _: UnsupportedOperationException =>
              Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
              done = true
          }
        }
      } finally Files.deleteIfExists(tmp)
      // sync from disk rather than folding our commit in directly: a raced
      // intermediate version (however unlikely under single-writer) applies
      // in order instead of being skipped forever
      refresh()
      if (state.version % checkpointEvery == 0) writeCheckpoint()
    }

    /** Resolved table state as of `version`: live files with their owning
      * batch, and tombstoned files (log-removed or superseded) with theirs —
      * the tombstone side is what [[vacuum]] replays and what keeps the
      * PHYSICAL `liveBatchIds` view exact through the crash window.
      */
    final class TableState {
      var version: Long = 0L
      val live = collection.mutable.LinkedHashMap[String, (Long, AddFile)]()
      val tombstoned = collection.mutable.LinkedHashMap[String, Long]()
    }
    val state = new TableState

    /** Fold one commit into the cached state — the incremental form of the
      * full-log replay (same semantics: a later append for the same batch id
      * supersedes the earlier attempt's files; removes tombstone wherever
      * the file came from).
      */
    private def foldCommit(c: Commit): Unit = {
      if (c.batch >= 0)
        state.live.filter(_._2._1 == c.batch).keys.toSeq.foreach { f =>
          state.live.remove(f); state.tombstoned(f) = c.batch
        }
      c.adds.foreach(a => state.live(a.file) = c.batch -> a)
      c.removes.foreach { f =>
        state.live.remove(f).foreach { case (b, _) => state.tombstoned(f) = b }
        if (!state.tombstoned.contains(f)) state.tombstoned(f) = c.batch
      }
    }

    /** One `_log` listing: (commit versions ascending, newest checkpoint
      * version or 0).
      */
    private def logListing(): (Seq[Long], Long) = listDir(logDir) { it =>
      val names = it.map(_.getFileName.toString).toSeq
      val vs = names.filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong).sorted
      val ck = names.filter(_.endsWith(".ckpt")).map(_.stripSuffix(".ckpt").toLong)
        .sorted.lastOption.getOrElse(0L)
      (vs, ck)
    }

    /** Sync the cached state to the on-disk log: apply only the suffix
      * commits a listing shows beyond `state.version`; a cold instance (or
      * one a concurrent writer checkpointed past — its covered commits may
      * be truncated) seeds from the newest checkpoint first. O(new commits)
      * when warm.
      */
    def refresh(): TableState = {
      val (vs, ckptMax) = logListing()
      if (math.max(vs.lastOption.getOrElse(0L), ckptMax) < state.version) {
        // log vanished under us (fresh dir reuse)
        state.version = 0L; state.live.clear(); state.tombstoned.clear()
      }
      if (ckptMax > state.version) loadCheckpoint(ckptMax)
      vs.filter(_ > state.version).foreach { v => foldCommit(readCommit(v)); state.version = v }
      state
    }

    private def writeCheckpoint(): Unit = {
      val root = mapper.createObjectNode()
      root.put("version", state.version)
      val liveArr = root.putArray("live")
      state.live.foreach { case (_, (b, a)) =>
        val n = liveArr.addObject()
        n.put("batch", b); n.put("file", a.file); n.put("bytes", a.bytes); n.put("rows", a.rows)
        val p = n.putArray("pbs"); a.pbs.foreach(p.add)
      }
      // prune tombstones already vacuumed off disk: no future vacuum needs
      // them, so the checkpoint stays bounded by live + pending-vacuum files
      val tombArr = root.putArray("tombstoned")
      state.tombstoned.foreach { case (f, b) =>
        if (Files.exists(dataDir.resolve(f))) {
          val n = tombArr.addObject(); n.put("file", f); n.put("batch", b)
        }
      }
      val tmp = Files.createTempFile(logDir, ".ckpt-", ".tmp")
      Files.write(tmp, mapper.writeValueAsBytes(root))
      Files.move(tmp, logDir.resolve(f"${state.version}%012d.ckpt"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // log retention: commits the checkpoint covers (and older checkpoints)
      // are never replayed again — deleting them keeps the _log listing
      // O(checkpointEvery), not O(commits), over a long-lived stream. A
      // crash mid-delete just leaves extra covered commits (idempotent).
      listDir(logDir)(_
        .filter { p =>
          val n = p.getFileName.toString
          (n.endsWith(".json") && n.stripSuffix(".json").toLong <= state.version) ||
            (n.endsWith(".ckpt") && n.stripSuffix(".ckpt").toLong < state.version)
        }
        .toSeq).foreach(p => Files.deleteIfExists(p))
    }

    private def loadCheckpoint(v: Long): Unit = {
      val node = mapper.readTree(logDir.resolve(f"$v%012d.ckpt").toFile)
      state.live.clear(); state.tombstoned.clear()
      node.get("live").elements().asScala.foreach { n =>
        val a = AddFile(
          n.get("file").asText(),
          n.get("pbs").elements().asScala.map(_.asInt()).toSeq,
          n.get("bytes").asLong(),
          Option(n.get("rows")).map(_.asLong()).getOrElse(-1L))
        state.live(a.file) = n.get("batch").asLong() -> a
      }
      node.get("tombstoned").elements().asScala.foreach { n =>
        state.tombstoned(n.get("file").asText()) = n.get("batch").asLong()
      }
      state.version = v
    }

    /** Physically delete tombstoned data files (Delta's VACUUM). Idempotent;
      * replays after any crash between commit and deletion.
      */
    def vacuum(): Unit =
      state.tombstoned.keys.foreach(f => Files.deleteIfExists(dataDir.resolve(f)))

    /** Owning batch of every file the log knows, live or tombstoned. */
    private def owners(): collection.Map[String, Long] = {
      val snap = refresh()
      snap.live.map { case (f, (b, _)) => f -> b } ++ snap.tombstoned
    }

    /** Batch/generation ids with PHYSICAL files on disk. */
    def liveBatchIds(): Seq[Long] = {
      val owner = owners()
      listDir(dataDir)(_
        .map(_.getFileName.toString)
        .filter(_.endsWith(".parquet"))
        .flatMap(owner.get)
        .toSeq).distinct.sorted
    }

    /** Physically delete one batch's files. */
    def dropBatchFiles(batch: Long): Unit =
      owners().collect { case (f, b) if b == batch => f }
        .foreach(f => Files.deleteIfExists(dataDir.resolve(f)))
  }
}
