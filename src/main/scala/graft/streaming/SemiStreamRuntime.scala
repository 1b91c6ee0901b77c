package graft.streaming

import java.nio.file.{Files, LinkOption, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

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
  *
  * This object is also the ONE replay harness every streaming operator
  * runs through: [[replayToMemory]] and [[replayForeachBatch]] own the
  * lifecycle (stage → `readStream` → sink → checkpoint →
  * `awaitTermination` → cleanup), [[BatchSink]] is the one idempotent
  * per-batch parquet output, and every temp dir lives under one per-JVM
  * scratch root ([[tempDir]]) that a shutdown hook removes.
  */
object SemiStreamRuntime {

  // parent session -> (its confs when the clone was made, the clone); weak
  // keys, so a parent no longer referenced takes its clone with it
  private val clones = new java.util.WeakHashMap[SparkSession, (Map[String, String], SparkSession)]

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
    *
    * One clone per parent session is kept and reused while the parent's
    * `spark.sql.*`/`spark.graft.*` confs are unchanged; a changed conf
    * gets a fresh clone. A new session re-runs the session extensions'
    * injections, so a clone per call would re-register every injected
    * function on every replay.
    */
  def stateSession(spark: SparkSession): SparkSession = clones.synchronized {
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.graft.") || k.startsWith("spark.sql.")
    }
    Option(clones.get(spark)).collect { case (c, s) if c == confs => s }.getOrElse {
      val n = confs.get("spark.graft.state.partitions")
        .map(_.trim.toInt).filter(_ > 0).getOrElse(8)
      val s = spark.newSession()
      confs.foreach { case (k, v) =>
        if (k.startsWith("spark.graft.") || s.conf.isModifiable(k)) s.conf.set(k, v)
      }
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      clones.put(spark, (confs, s))
      s
    }
  }

  /** What a replay reads. */
  sealed trait Input

  /** Chunk files the caller staged (e.g. with [[stageByColumn]]) and owns:
    * read, never deleted.
    */
  final case class Staged(dir: String, schema: StructType) extends Input

  /** `df` spooled by the harness into `n` chunk files, chunk i = the rows
    * whose int-valued `chunk` is i (see [[stageByColumn]]); the spool is
    * deleted once the stream stops.
    */
  final case class Chunked(df: DataFrame, chunk: Column, n: Int) extends Input {
    private[SemiStreamRuntime] def spool(): Path =
      stageByColumn(df.withColumn("__chunk", chunk), "__chunk", n)
  }

  /** Any streaming frame (a custom source); `owned` is a dir the call
    * wrote for it, deleted once the stream stops. The frame keeps its own
    * session.
    */
  final case class Source(stream: DataFrame, owned: Option[Path] = None) extends Input

  /** The chunk rule of [[stage]]: hash of `key` modulo `n`. */
  def hashChunk(key: String, n: Int): Column = pmod(xxhash64(col(key)), lit(n))

  private[graft] lazy val scratchRoot: Path = {
    val root = Files.createTempDirectory("graft-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(root) catch { case NonFatal(_) => () }))
    root
  }

  /** A fresh dir under the per-JVM scratch root. It lives until its
    * creator deletes it or the JVM exits.
    */
  def tempDir(prefix: String): Path = Files.createTempDirectory(scratchRoot, prefix)

  private val queryIds = new AtomicLong(0)

  /** The one replay lifecycle. Opens `input` on `spark` one chunk file per
    * micro-batch, starts `sink`'s query under `Trigger.AvailableNow`, waits
    * for it to stop, then deletes what the call created: a spooled input,
    * the checkpoint and a source's owned dir. A caller-owned `workDir`
    * keeps the checkpoint (`workDir/ckpt`) and a [[Chunked]] spool
    * (`workDir/input`, written once, so a resumed run sees the file list
    * its checkpoint recorded) for crash-resume.
    */
  private def replay(spark: SparkSession, input: Input, workDir: Option[String])(
      sink: DataFrame => DataStreamWriter[Row]): Unit = {
    val created = scala.collection.mutable.ListBuffer.empty[Path]
    def owned(p: Path): String = { created += p; p.toString }
    try {
      val stream = input match {
        case Source(s, dir) => created ++= dir; s
        case Staged(dir, schema) => read(spark, dir, schema)
        case c: Chunked =>
          read(spark, workDir.fold(owned(c.spool()))(w => spoolOnce(c, s"$w/input")), c.df.schema)
      }
      val ckpt = workDir.fold(owned(tempDir("ckpt-")))(w => s"$w/ckpt")
      sink(stream)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally created.foreach(deleteRecursively)
  }

  private def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  private def spoolOnce(c: Chunked, dir: String): String = {
    val spark = c.df.sparkSession
    val target = new HPath(dir)
    if (!target.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(target))
      FsMove.into(spark, new HPath(c.spool().toString), target)
    dir
  }

  /** Replay `input` through `build` into a memory sink on a
    * [[stateSession]] clone and return the sink's table. The temp view is
    * dropped before returning: the frame holds the sink itself, so it
    * still reads, and the rows are released with the frame instead of
    * being pinned for the session's lifetime.
    */
  def replayToMemory(spark: SparkSession, input: Input, mode: OutputMode)(
      build: DataFrame => Dataset[_]): DataFrame = {
    val sess = stateSession(spark)
    val name = s"replay_${queryIds.incrementAndGet()}"
    try {
      replay(sess, input, None)(
        build(_).toDF().writeStream.outputMode(mode).format("memory").queryName(name))
      sess.table(name)
    } finally {
      sess.catalog.dropTempView(name)
      ()
    }
  }

  /** Replay `input` on `spark` through `perBatch(batch, batchId)`, one
    * chunk per micro-batch. `workDir`: see [[replay]].
    */
  def replayForeachBatch(spark: SparkSession, input: Input, workDir: Option[String] = None)(
      perBatch: (DataFrame, Long) => Unit): Unit =
    replay(spark, input, workDir)(_.writeStream.foreachBatch(perBatch))

  /** The batchId-keyed idempotent parquet sink: batch b's output
    * overwrites `dir/__batch=b`, so a batch retried after a crash replaces
    * its own output instead of appending it twice, and no write commits
    * across the whole dir. The schema is captured at write time (an
    * all-empty run writes no data rows, so the final read cannot rely on
    * inference); a resumed run that rewrote nothing infers it from the
    * files. `dir` defaults to a fresh [[tempDir]], kept until the JVM
    * exits because [[result]] reads it lazily.
    */
  final class BatchSink(spark: SparkSession, val dir: String = tempDir("out-").toString) {
    @volatile private var schema: StructType = _

    def write(batchId: Long, out: DataFrame): Unit = {
      schema = out.schema
      out.write.mode("overwrite").parquet(s"$dir/__batch=$batchId")
    }

    /** Every batch's rows, without the `__batch` column. */
    def result: DataFrame =
      Option(schema).fold(spark.read)(s => spark.read.schema(s.add("__batch", LongType)))
        .parquet(dir)
        .drop("__batch")
  }

  /** Spool `df` into `n` deterministic single-file parquet chunks under a
    * fresh temp dir, ordered chunk_00000…chunk_n; rows are assigned by
    * hash of `chunkKey` so replay order (file mtime = write order) is
    * stable across runs.
    */
  def stage(df: DataFrame, chunkKey: String, n: Int): Path =
    stageByColumn(df.withColumn("__chunk", hashChunk(chunkKey, n)), "__chunk", n)

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
    val dir = tempDir("stream-")
    try {
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
    } catch {
      case NonFatal(e) => deleteRecursively(dir); throw e
    }
    dir
  }

  /** Run the full streaming semi-stream join over `input`: one
    * micro-batch per chunk through `manager`, outputs appended to a
    * [[BatchSink]]. Returns the accumulated output. Bag-semantics invariant:
    * the accumulated output equals the plain `input ⋈ stored` join no matter
    * how the stream was chunked — caching only changes WHERE rows are served
    * from, never the join result (the correctness oracle relies on this).
    */
  def run(spark: SparkSession, input: Input, manager: CacheManager): DataFrame = {
    val sink = new BatchSink(spark)
    replayForeachBatch(spark, input) { (batch, batchId) =>
      manager.processBatch(batch)(sink.write(batchId, _))
      ()
    }
    sink.result
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
    val manager =
      new CacheManager(stored, cacheSeed, key, config, checkpointEvery, policy = policy,
        windowRule = windowRule, fetchOverride = fetchOverride)
    try {
      val out = run(spark, Chunked(input, hashChunk(chunkKey, chunks), chunks), manager)
      (out, manager.stats.toList)
    } finally manager.close()
  }

  private[streaming] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursively(_)) finally children.close()
    }
    Files.deleteIfExists(p)
    ()
  }
}
