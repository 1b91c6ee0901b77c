package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Sampling, SimilarityJoin}
import graft.streaming.{StreamingDedup, TransactionLogDedupState}

/** [[StreamingDedup]] end to end on its transaction-log state store:
  * brute-force equality, compaction bounds, crash-mid-compaction and
  * crash-mid-batch resume through the store's snapshot/commit/OPTIMIZE/
  * VACUUM mechanics. Every variant hands the pipeline the store a
  * different way and runs the same assertions. Physical introspection
  * (which batches have files on disk) goes through the store's on-disk
  * test hook.
  */
abstract class StreamingDedupContract extends SparkSpec {
  init()

  def variant: String
  def store: StreamingDedup.StateStoreFactory

  /** Live batch/generation ids of a state dir. */
  private def live(stateDir: String): Seq[Long] =
    TransactionLogDedupState.liveBatches(stateDir)

  private def run(
      docs: org.apache.spark.sql.DataFrame,
      chunks: Int,
      workDir: Option[String] = None,
      compactEvery: Int = 8,
      crashAtBatch: Option[Long] = None,
      crashInCompaction: Boolean = false,
      onBatch: (Long, Long) => Unit = (_, _) => ()) =
    StreamingDedup.run(docs, "doc_id", "text", tau = 0.8, chunks = chunks,
      workDir = workDir, compactEvery = compactEvery, crashAtBatch = crashAtBatch,
      crashInCompaction = crashInCompaction, onBatch = onBatch, store = store)

  /** Ordered brute-force reference: dup_of(x) = min y seen before x
    * (earlier batch, or same batch with smaller id) with J(x,y) ≥ τ.
    */
  private def bruteDedup(
      docs: org.apache.spark.sql.DataFrame,
      tau: Double,
      chunks: Int) = {
    val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      .withColumn("b", floor(Sampling.hashUniform(col("sid")) * chunks).cast("int"))
    val x = toks.select(col("sid").as("x_id"), col("toks").as("x_toks"), col("b").as("xb"))
    val y = toks.select(col("sid").as("y_id"), col("toks").as("y_toks"), col("b").as("yb"))
    val dupOf = x.crossJoin(y)
      .filter(col("yb") < col("xb") || (col("yb") === col("xb") && col("y_id") < col("x_id")))
      .withColumn("inter", size(array_intersect(col("x_toks"), col("y_toks"))))
      .filter(
        col("inter").cast("double") /
          (size(col("x_toks")) + size(col("y_toks")) - col("inter")) >= tau)
      .groupBy("x_id")
      .agg(min("y_id").as("exp_dup"))
    toks.select(col("sid").as("doc_id"))
      .join(dupOf, col("doc_id") === col("x_id"), "left")
      .select(col("doc_id"), coalesce(col("exp_dup"), lit(-1L)).as("dup_of"))
  }

  test(s"[$variant] streaming incremental dedup equals the ordered brute force at sf0.001") {
    val docs = Tables(spark, sfSmoke, "documents")
    val got = run(docs, chunks = 3)
    val expected = bruteDedup(docs, tau = 0.8, chunks = 3)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test(s"[$variant] cross-batch duplicates are found regardless of id order") {
    import spark.implicits._
    // one duplicate pair + one novel doc; whatever batches MD5 assigns,
    // the later-arriving member of the pair must point at the earlier one
    val text = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (10L, text),
      (20L, text + " w13"), // J = 12/13 ≈ 0.923 ≥ 0.8
      (30L, (100 to 120).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val got = run(docs, chunks = 4).as[(Long, Long)].collect().toMap

    val b = (id: Long) =>
      docs.sparkSession.range(1)
        .select(floor(Sampling.hashUniform(lit(id).cast("string")) * 4).cast("int"))
        .head().getInt(0)
    val (b10, b20) = (b(10L), b(20L))
    val (first, second) =
      if (b10 < b20 || (b10 == b20 && 10L < 20L)) (10L, 20L) else (20L, 10L)
    assert(got(first) == -1L)
    assert(got(second) == first)
    assert(got(30L) == -1L)
  }

  test(s"[$variant] compaction bounds the live state segments and preserves decisions") {
    val docs = Tables(spark, sfSmoke, "documents")
    val workDir = java.nio.file.Files.createTempDirectory("graft-dedup-compact-").toString
    // segment census taken DURING the final batches (onBatch fires after
    // each batch's appends)
    val liveAtEnd = collection.mutable.Map[String, Seq[Long]]()
    val got = run(docs, chunks = 8, workDir = Some(workDir), compactEvery = 2,
      onBatch = (_, _) =>
        for (state <- Seq("sigs", "toks"))
          liveAtEnd(state) = live(s"$workDir/state/$state"))
    val expected = bruteDedup(docs, tau = 0.8, chunks = 8)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // 8 batches folded every 2: live segments = generations (log-ish
    // ladder) + un-folded recent increments — strictly fewer than one per
    // batch
    for (state <- Seq("sigs", "toks")) {
      val live = liveAtEnd(state)
      assert(live.size < 8, s"$state segments not compacted: $live")
      assert(live.exists(_ < 0), s"no consolidated generation in $live")
    }
  }

  test(s"[$variant] hashed-token verify tier: identical decisions, measured toks-state bytes") {
    val docs = Tables(spark, sfSmoke, "documents")
    def bytesOf(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(dir))
    }
    val plainDir = java.nio.file.Files.createTempDirectory("graft-dedup-plain-").toString
    val hashDir = java.nio.file.Files.createTempDirectory("graft-dedup-hash-").toString
    val plain = StreamingDedup.run(docs, "doc_id", "text", tau = 0.8, chunks = 4,
      workDir = Some(plainDir), compactEvery = 0, store = store)
    val hashed = StreamingDedup.run(docs, "doc_id", "text", tau = 0.8, chunks = 4,
      workDir = Some(hashDir), compactEvery = 0, store = store, hashTokens = true)
    // candidates are signature-identical (sigs derive from the original
    // tokens) and the hash-space verify flips only on an xxhash64
    // collision — so decisions must be EXACTLY equal on this corpus
    assert(plain.exceptAll(hashed).isEmpty && hashed.exceptAll(plain).isEmpty)
    val (pB, hB) = (bytesOf(s"$plainDir/state/toks/data"), bytesOf(s"$hashDir/state/toks/data"))
    val nDocs = docs.count()
    info(f"toks state bytes/doc: plain ${pB.toDouble / nDocs}%.1f, " +
      f"hashed ${hB.toDouble / nDocs}%.1f (ratio ${hB.toDouble / pB}%.2f)")
    assert(hB > 0 && pB > 0)
  }

  test(s"[$variant] durable state survives a successful run") {
    val docs = Tables(spark, sfSmoke, "documents").limit(60)
    val workDir = java.nio.file.Files.createTempDirectory("graft-dedup-close-").toString
    run(docs, chunks = 3, workDir = Some(workDir)).count()
    for (state <- Seq("sigs", "toks"))
      assert(live(s"$workDir/state/$state").nonEmpty,
        s"durable $state state vanished after success")
  }

  test(s"[$variant] crash mid-compaction (generation published, sources unremoved) resumes identically") {
    val docs = Tables(spark, sfSmoke, "documents")
    val workDir = java.nio.file.Files.createTempDirectory("graft-dedup-compactcrash-").toString

    // crash in the widest window: the consolidated generation is visible
    // AND the folded sources still exist on disk
    val crashed = intercept[Exception] {
      run(docs, chunks = 6, workDir = Some(workDir), compactEvery = 2,
        crashInCompaction = true).count()
    }
    assert(crashed.getMessage != null)

    val resumed = run(docs, chunks = 6, workDir = Some(workDir), compactEvery = 2,
      crashInCompaction = true)
    val expected = bruteDedup(docs, tau = 0.8, chunks = 6)
    assert(resumed.exceptAll(expected).isEmpty && expected.exceptAll(resumed).isEmpty)
    assert(resumed.groupBy("doc_id").count().filter(col("count") > 1).isEmpty)
  }

  test(s"[$variant] mid-stream crash after an uncommitted batch's writes resumes to identical decisions") {
    val docs = Tables(spark, sfSmoke, "documents")
    val workDir = java.nio.file.Files.createTempDirectory("graft-dedup-restart-").toString

    // first attempt: injected driver crash AFTER batch 1 wrote its output
    // and state increments but BEFORE the checkpoint commit — the retry
    // must overwrite, not double-append
    val crashed = intercept[Exception] {
      run(docs, chunks = 3, workDir = Some(workDir), crashAtBatch = Some(1L)).count()
    }
    assert(crashed.getMessage != null)

    // resume with the same workDir: checkpoint replays batch 1 (idempotent
    // overwrite of its partitions), then finishes the stream
    val resumed = run(docs, chunks = 3, workDir = Some(workDir))

    val clean = run(docs, chunks = 3)
    assert(resumed.count() == clean.count())
    assert(resumed.exceptAll(clean).isEmpty && clean.exceptAll(resumed).isEmpty)
    // and no doc decided twice (the double-append failure mode)
    assert(resumed.groupBy("doc_id").count().filter(col("count") > 1).isEmpty)
  }
}

/** The store a stream gets by default: one warm instance per state dir. */
class StreamingDedupTxnLogSpec extends StreamingDedupContract {
  override def variant = "txnlog"
  override def store = TransactionLogDedupState.factory

  test("[txnlog] a crash without a workDir leaves no checkpoint or spooled input behind") {
    val docs = Tables(spark, sfSmoke, "documents")
    val before = replayDirs()
    val crashed = intercept[Exception] {
      StreamingDedup.run(docs, "doc_id", "text", tau = 0.8, chunks = 2, crashAtBatch = Some(0L))
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(crashed).exists(_.contains("injected crash")))
    assert(replayDirs() -- before == Set.empty)
  }
}

/** Every state operation on a fresh store instance: the pipeline's
  * decisions must not depend on a store's cached snapshot.
  */
class StreamingDedupColdStateSpec extends StreamingDedupContract {
  override def variant = "txnlog-cold"
  override def store = ColdReopenStore.of(TransactionLogDedupState.factory)
}
