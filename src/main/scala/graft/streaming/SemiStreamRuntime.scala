package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming driver for the semi-stream join (SURVEY S1/S2):
  * `readStream` file source → `foreachBatch` → [[CacheManager.processBatch]]
  * → parquet sink, the Spark-4 restatement of the reference's
  * socket-DStream + `foreachRDD` loop
  * (`DS-Join/DS_join_step4/src/main/scala/streaming.scala:135-211`).
  *
  * The reference feeds 4–8 socket streams; deterministic tests can't, so
  * [[stage]] spools a batch DataFrame into N single-file parquet chunks and
  * the stream replays them one file per micro-batch
  * (`maxFilesPerTrigger=1` + `Trigger.AvailableNow`). In production the
  * source swaps for kafka/socket with no change to the per-batch logic —
  * `foreachBatch` sees the same (DataFrame, batchId) contract.
  */
object SemiStreamRuntime {

  /** Session clone with STATE-SIZED shuffle partitions for the bounded-key
    * stateful streams (guide §2.5/§5; the q33 lesson, COVERAGE r6): the
    * state store pays a per-partition cost EVERY trigger (provider open /
    * commit / snapshot files), so the stateful exchange must track state
    * SIZE, not core count — the r15 driver's 8-core run beat the 32-core
    * run ~2× on every keyed-state query (BENCH_r15_c8, ratios 0.47-0.57)
    * because 32 partitions × 4 triggers of tiny per-key state is pure
    * scheduling/provider overhead. Resolution: the session conf
    * `spark.graft.state.partitions` (a deployment whose per-batch keyed
    * state is large sets it high) > the 8 default that the q33 A/B
    * measured 2.2× faster at this state scale. The clone shares the
    * SparkContext; the caller's session parallelism is never touched, and
    * no failure path can leave an altered conf behind.
    *
    * A new session starts from the SparkContext's conf, so the parent's
    * runtime settings (`spark.conf.set` after startup: time zone, AQE,
    * graft knobs) are copied over first. Static SQL confs such as
    * `spark.sql.extensions` cannot be set on a session and are skipped;
    * `spark.graft.*` keys are not SQL-registered, so `isModifiable`
    * does not vouch for them, but they are graft's own runtime settings.
    */
  def stateSession(spark: SparkSession): SparkSession = {
    val n = spark.conf.getOption("spark.graft.state.partitions")
      .map(_.trim.toInt).filter(_ > 0).getOrElse(8)
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.graft.") || (k.startsWith("spark.sql.") && s.conf.isModifiable(k))) {
        s.conf.set(k, v)
      }
    }
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    s
  }

  /** Spool `df` into `n` deterministic single-file parquet chunks under a
    * fresh temp dir, ordered chunk_00000…chunk_n; rows are assigned by
    * hash of `chunkKey` so replay order (file mtime = write order) is
    * stable across runs.
    */
  def stage(df: DataFrame, chunkKey: String, n: Int): Path =
    stageByColumn(
      df.withColumn("__chunk", pmod(xxhash64(col(chunkKey)), lit(n))),
      "__chunk",
      n)

  /** Spool with EXPLICIT chunk assignment: chunk i = rows whose `chunkCol`
    * equals i (the column is dropped from the staged files). Lets tests
    * control arrival order — e.g. delivering late events after the
    * watermark has advanced.
    *
    * One `partitionBy` pass writes every chunk (repartitioned so each
    * chunk lands in one task → one file) instead of n sequential filtered
    * writes; files then get strictly increasing mtimes — FileStreamSource
    * replays in modification-time order, and ties would make batch order
    * nondeterministic (observed breaking watermark tests).
    */
  def stageByColumn(df: DataFrame, chunkCol: String, n: Int): Path = {
    val dir = Files.createTempDirectory("graft-stream-")
    val scratch = dir.resolve("scratch")
    df.repartition(n, col(chunkCol))
      .write
      .partitionBy(chunkCol)
      .parquet(scratch.toString)
    (0 until n).foreach { i =>
      val target = dir.resolve(f"chunk_$i%05d.parquet")
      val chunkDir = scratch.resolve(s"$chunkCol=$i")
      if (Files.isDirectory(chunkDir)) {
        val part = Files
          .list(chunkDir)
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst()
          .orElseThrow(() => new IllegalStateException(s"no parquet part in $chunkDir"))
        Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
      } else {
        // empty chunk: still emit a file so batch numbering stays stable
        df.drop(chunkCol).limit(0).coalesce(1).write.parquet(target.toString + ".tmp")
        val part = Files.list(dir.resolve(target.getFileName.toString + ".tmp"))
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow()
        Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
        deleteRecursively(dir.resolve(target.getFileName.toString + ".tmp"))
      }
      Files.setLastModifiedTime(
        target,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    deleteRecursively(scratch)
    dir
  }

  /** Run the full streaming semi-stream join over a staged chunk dir:
    * one micro-batch per chunk through `manager`, outputs appended to a
    * parquet sink. Returns the accumulated output. Bag-semantics invariant:
    * the accumulated output equals the plain `input ⋈ stored` join no matter
    * how the stream was chunked — caching only changes WHERE rows are served
    * from, never the join result (the correctness oracle relies on this).
    */
  def run(
      spark: SparkSession,
      staged: Path,
      schema: org.apache.spark.sql.types.StructType,
      manager: CacheManager): DataFrame = {
    val outDir = Files.createTempDirectory("graft-stream-out-").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt-").toString

    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged.toString)

    // batchId-keyed idempotent sink: a batch retried after a crash
    // REPLACES its own partition instead of double-appending (the same
    // dynamic-overwrite recipe as StreamingDedup's state writes).
    // Schema is captured at write time: an all-empty-batches run writes
    // no data files, so the final read cannot rely on inference.
    @volatile var outSchema: org.apache.spark.sql.types.StructType = null
    val perBatch: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      manager.processBatch(batch) { out =>
        val withB = out.withColumn("__batch", lit(batchId))
        outSchema = withB.schema
        withB.write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch")
          .parquet(outDir)
      }
      ()
    }

    val query = stream.writeStream
      .foreachBatch(perBatch)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()

    require(outSchema != null, "stream ran no batches — no output schema")
    spark.read.schema(outSchema).parquet(outDir).drop("__batch")
  }

  /** Convenience: stage `input`, seed the cache, run the stream, return the
    * accumulated join output. `chunks` micro-batches; cache/controller knobs
    * via `config`. `chunkKey` controls batch assignment — chunk by a key
    * OTHER than the join key so join keys recur across batches and the cache
    * actually serves hits (chunking by the join key itself would make every
    * batch all-miss).
    */
  def semiStreamJoin(
      input: DataFrame,
      stored: DataFrame,
      cacheSeed: DataFrame,
      key: String,
      chunkKey: String,
      chunks: Int = 8,
      config: AdaptiveWindowController.Config = AdaptiveWindowController.Config(),
      checkpointEvery: Int = 4,
      policy: EvictionPolicy = LruWindow,
      windowRule: WindowRule = HillClimbRule,
      fetchOverride: Option[DataFrame => DataFrame] = None): (DataFrame, Seq[CacheManager.BatchStats]) = {
    val spark = input.sparkSession
    val staged = stage(input, chunkKey, chunks)
    val manager =
      new CacheManager(stored, cacheSeed, key, config, checkpointEvery, policy = policy,
        windowRule = windowRule, fetchOverride = fetchOverride)
    try {
      val out = run(spark, staged, input.schema, manager)
      (out, manager.stats.toList)
    } finally manager.close()
  }

  private[streaming] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively(_))
    Files.deleteIfExists(p)
    ()
  }
}
