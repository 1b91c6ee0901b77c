package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.sources.KeyValueStore
import graft.streaming._

/** What a run hands every pass: the session, the listeners, a scratch
  * directory inside the run's own temp root, and whether this pass is
  * traced. */
final class Ctx(
    val spark: SparkSession,
    val clock: StreamClock,
    val jobs: JobTrace,
    val tmpRoot: String,
    @volatile var traced: Boolean) {
  var lastSentinel: Option[Double] = None
  def tmp(tag: String): String = {
    val d = new java.io.File(tmpRoot, s"$tag-${Ctx.dirs.incrementAndGet()}")
    d.mkdirs()
    d.getPath
  }
}

object Ctx {
  private val dirs = new AtomicLong
}

/** One timed call's outcome, read after the timed region ends.
  * `work` holds exact counts that must repeat on every pass of one seed;
  * `layer` holds this pass's per-layer numbers. */
final case class Digest(fingerprint: String, work: Map[String, Long], layer: Map[String, Double])

/** A workload: a fixed input made from the seed once per run, a timed call
  * into the program's public entry point, and an output check that takes
  * another code path than the program. */
abstract class Workload(val name: String) {
  type R
  /** Input rows of one pass: stream rows, documents or live windows. */
  def rows: Long
  /** Wall seconds of one warm pass on the reference box (4 cores,
    * local[3]); `--seconds` over this sets the timed pass count. */
  def nominalPassS: Double
  def call(ctx: Ctx): R
  /** `quick` skips the output fingerprint (a Spark job); the work counts
    * are always read. */
  def digest(r: R, ctx: Ctx, progress: Seq[StreamingQueryProgress], quick: Boolean): Digest
  /** True when `r` equals the reference result. `corrupt` perturbs the
    * program's output first (self-test of the check). */
  def check(r: R, corrupt: Boolean): Boolean
  /** Standalone per-layer probes of the traced run. */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  val Names: Seq[String] = Seq("dsjoin_hot", "dsimjoin", "dedup_txnlog")

  def apply(name: String, spark: SparkSession, seed: Long, tiny: Boolean): Workload = name match {
    case "dsjoin_hot" => new DsJoinHot(spark, seed, tiny)
    case "dsimjoin" => new DsimJoin(spark, seed, tiny)
    case "dedup_txnlog" => new DedupTxnlog(spark, seed, tiny)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  private val M = 1000000007L

  /** Order-independent bag digest: row count and two sums of per-row
    * hashes (each reduced mod a prime, so the sums cannot overflow). */
  def bagHash(df: DataFrame, cols: Seq[String]): String = {
    val cs = cols.map(col)
    val r = df.select(
        pmod(xxhash64(cs: _*), lit(M)).as("h1"),
        pmod(hash(cs: _*).cast("long"), lit(M)).as("h2"))
      .agg(count(lit(1)), coalesce(sum("h1"), lit(0L)), coalesce(sum("h2"), lit(0L)))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** Token set as sorted distinct ids — the tokenizer the similarity
    * pipelines document (split on spaces, drop empties, distinct). */
  def tokenSets(texts: Seq[String]): Array[Array[Int]] = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    texts.map(t => t.split(" ").filter(_.nonEmpty).distinct
      .map(w => ids.getOrElseUpdate(w, ids.size)).sorted).toArray
  }

  def interSize(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  def p50(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  /** Per batch: addBatch − fetch − cache update, the part of a batch spent
    * in the sink write and the LRU upsert. Batch i's stats pair with the
    * i-th progress record (one CacheManager call per micro-batch). */
  def sinkLru(stats: Seq[CacheManager.BatchStats], progress: Seq[StreamingQueryProgress]): Double =
    p50(stats.zip(progress).map { case (s, p) =>
      StreamClock.durMs(p, "addBatch") - s.cogMs - s.fetchMs - s.cacheMs
    })
}

import Workload._

/** Semi-stream equi-join of a Zipf-skewed key stream against `part`
  * served from the key-value store, FixedRule(2). The cache is seeded with
  * every key the stream draws (the hottest quarter of `part`), so every
  * micro-batch takes CacheManager's miss-free path: no fetched rows, no
  * cache update. */
final class DsJoinHot(spark: SparkSession, seed: Long, tiny: Boolean)
    extends Workload("dsjoin_hot") {
  import spark.implicits._

  private val nParts = if (tiny) 200 else 20000
  private val chunks = if (tiny) 4 else 2
  private val perChunk = if (tiny) 50 else 1000
  private val kvBuckets = if (tiny) 4 else 8
  private val hot = Gen.hotKeys(nParts, nParts / 4, seed)
  private val part = Gen.parts(nParts, seed).toDF().persist()
  private val hotDf = hot.toSeq.toDF("p_partkey").persist()
  private val input = Gen.zipfStream(chunks * perChunk, hot, 0.99, seed).toDF().persist()
  part.count(); hotDf.count(); input.count()
  private val outCols = Seq("p_partkey", "l_orderkey", "l_quantity", "p_brand")
  private val fetchCalls = new AtomicLong

  final case class Out(
      out: DataFrame, stats: Seq[CacheManager.BatchStats], kvWriteS: Double, fetchCalls: Long)
  type R = Out

  def rows: Long = chunks.toLong * perChunk
  def nominalPassS: Double = 4

  def call(ctx: Ctx): Out = {
    val root = ctx.tmp("kv") + "/store"
    val tw = System.nanoTime()
    KeyValueStore.write(part, root, "p_partkey", "p_brand", kvBuckets)
    val kvWriteS = (System.nanoTime() - tw) / 1e9
    val kvStored = KeyValueStore.read(spark, root)
      .select(col("key").as("p_partkey"), col("value").as("p_brand"))
    val cacheSeed = kvStored.join(hotDf, Seq("p_partkey"), "left_semi")
    val calls0 = fetchCalls.get
    val fetch = (keys: DataFrame) => {
      fetchCalls.incrementAndGet()
      KeyValueStore.fetchByKeys(root, keys, "p_partkey")
        .select(col("key").as("p_partkey"), col("value").as("p_brand"))
    }
    val (out, stats) = SemiStreamRuntime.semiStreamJoin(
      input, kvStored, cacheSeed,
      key = "p_partkey", chunkKey = "l_orderkey", chunks = chunks,
      config = AdaptiveWindowController.Config(initialWindow = 2, warmupBatches = 2),
      windowRule = FixedRule(2),
      fetchOverride = Some(fetch))
    Out(out, stats, kvWriteS, fetchCalls.get - calls0)
  }

  // distinct probe keys summed over micro-batches, with the staging's own
  // chunk rule — the denominator of cache.miss_ratio
  private lazy val probeKeys: Long =
    input.select(pmod(xxhash64(col("l_orderkey")), lit(chunks)).as("c"), col("p_partkey"))
      .distinct().count()

  def digest(r: Out, ctx: Ctx, progress: Seq[StreamingQueryProgress], quick: Boolean): Digest = {
    val missed = r.stats.map(_.missed).sum
    Digest(
      if (quick) "" else bagHash(r.out, outCols),
      Map("cache.missed_keys" -> missed),
      if (!ctx.traced) Map.empty
      else Map(
        "cache.fetch_ms_p50" -> p50(r.stats.map(s => s.cogMs + s.fetchMs)),
        "cache.update_ms_p50" -> p50(r.stats.map(_.cacheMs)),
        "cache.sink_lru_ms_p50" -> sinkLru(r.stats, progress),
        "cache.missed_keys" -> missed.toDouble,
        "cache.miss_ratio" -> missed.toDouble / probeKeys,
        "kv.write_s" -> r.kvWriteS,
        "kv.fetch_calls" -> r.fetchCalls.toDouble))
  }

  def check(r: Out, corrupt: Boolean): Boolean = {
    val got = if (corrupt) r.out.filter(col("l_orderkey") =!= 0L) else r.out
    bagHash(got, outCols) == bagHash(input.join(part, "p_partkey"), outCols)
  }

  override def probes(ctx: Ctx): Map[String, Double] = {
    val t = System.nanoTime()
    SemiStreamRuntime.stage(input, "l_orderkey", chunks)
    Map("runtime.stage_s" -> (System.nanoTime() - t) / 1e9)
  }
}

/** Semi-stream set-similarity join (τ = 0.8, FixedRule(4)) over a seeded
  * document sample with ~21 % exact-token-set duplicates. */
final class DsimJoin(spark: SparkSession, seed: Long, tiny: Boolean)
    extends Workload("dsimjoin") {
  import spark.implicits._

  private val tau = 0.8
  private val nDocs = if (tiny) 60 else 300
  // one micro-batch: the cache starts empty, so every probe key misses and
  // goes through fetch and admission — the regime dsjoin_hot does not run
  private val chunks = 1
  private val docsSeq = Gen.docs(nDocs, 0.21, seed)
  private val docs = docsSeq.toDF().persist()
  docs.count()

  final case class Out(pairs: DataFrame, stats: Seq[CacheManager.BatchStats])
  type R = Out

  def rows: Long = nDocs.toLong
  def nominalPassS: Double = 4

  def call(ctx: Ctx): Out = {
    val r = SemiStreamSimilarityJoin.run(docs, "doc_id", "text", tau, chunks = chunks,
      windowRule = FixedRule(4))
    Out(r.pairs, r.stats)
  }

  def digest(r: Out, ctx: Ctx, progress: Seq[StreamingQueryProgress], quick: Boolean): Digest = {
    val missed = r.stats.map(_.missed).sum
    val fp = if (quick) "" else bagHash(r.pairs, Seq("x_id", "y_id", "inter", "uni"))
    val pairs = if (quick) 0L else fp.takeWhile(_ != ':').toLong
    Digest(fp,
      Map("cache.missed_keys" -> missed) ++ (if (quick) Map.empty else Map("simjoin.pairs_out" -> pairs)),
      if (!ctx.traced) Map.empty
      else Map(
        "cache.fetch_ms_p50" -> p50(r.stats.map(s => s.cogMs + s.fetchMs)),
        "cache.update_ms_p50" -> p50(r.stats.map(_.cacheMs)),
        "cache.sink_lru_ms_p50" -> sinkLru(r.stats, progress),
        "cache.missed_keys" -> missed.toDouble,
        "simjoin.pairs_out" -> pairs.toDouble))
  }

  /** Brute force: every ordered pair (x, y), x ≠ y, with Jaccard ≥ τ. */
  def check(r: Out, corrupt: Boolean): Boolean = {
    val sets = tokenSets(docsSeq.map(_.text))
    val ids = docsSeq.map(_.doc_id).toArray
    val want = Set.newBuilder[(Long, Long, Int, Int)]
    for (i <- sets.indices; j <- sets.indices if i != j) {
      val inter = interSize(sets(i), sets(j))
      val uni = sets(i).length + sets(j).length - inter
      if (inter.toDouble / uni >= tau) want += ((ids(i), ids(j), inter, uni))
    }
    val got = r.pairs.select("x_id", "y_id", "inter", "uni").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getInt(3)))
    val gotSet = (if (corrupt) got.drop(1) else got).toSet
    gotSet.size == got.length - (if (corrupt) 1 else 0) && gotSet == want.result()
  }

  override def probes(ctx: Ctx): Map[String, Double] = {
    val t = System.nanoTime()
    SemiStreamRuntime.stage(docs.select("doc_id", "text"), "doc_id", chunks)
    Map("runtime.stage_s" -> (System.nanoTime() - t) / 1e9)
  }
}

/** Streaming near-duplicate detection on the transaction-log state store,
  * 16 micro-batches, compaction every 4. */
final class DedupTxnlog(spark: SparkSession, seed: Long, tiny: Boolean)
    extends Workload("dedup_txnlog") {
  import spark.implicits._

  private val tau = 0.8
  private val nDocs = if (tiny) 80 else 180
  private val chunks = if (tiny) 4 else 2
  private val docsSeq = Gen.docs(nDocs, 0.21, seed)
  private val docs = docsSeq.toDF().persist()
  docs.count()

  final case class Out(out: DataFrame, timing: StateTiming)
  type R = Out

  def rows: Long = nDocs.toLong
  def nominalPassS: Double = 6

  def call(ctx: Ctx): Out = {
    val timing = new StateTiming
    val out = StreamingDedup.run(docs, "doc_id", "text", tau, chunks = chunks,
      compactEvery = 1, store = timing.wrap(TransactionLogDedupState.factory))
    Out(out, timing)
  }

  def digest(r: Out, ctx: Ctx, progress: Seq[StreamingQueryProgress], quick: Boolean): Digest = {
    val t = r.timing
    Digest(
      if (quick) "" else bagHash(r.out, Seq("doc_id", "dup_of")),
      Map("state.appends" -> t.appendMs.size.toLong, "state.compactions" -> t.compactMs.size.toLong),
      if (!ctx.traced) Map.empty
      else Map(
        "state.append_ms_p50" -> p50(t.appendMs.asScala),
        "state.compact_ms_total" -> t.compactMs.asScala.sum,
        "state.appends" -> t.appendMs.size.toDouble,
        "state.compactions" -> t.compactMs.size.toDouble,
        "state.reads" -> t.reads.get.toDouble))
  }

  /** Arrival-order replay: batch = ⌊md5-uniform(id) × chunks⌋; a document
    * duplicates the smallest earlier-seen id (earlier batch, or same batch
    * and smaller id) with Jaccard ≥ τ, else −1. */
  def check(r: Out, corrupt: Boolean): Boolean = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def batchOf(id: Long): Int = {
      val hex = md5.digest(id.toString.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
      math.floor(java.lang.Long.parseLong(hex, 16) / 4294967296.0 * chunks).toInt
    }
    val sets = tokenSets(docsSeq.map(_.text))
    val ids = docsSeq.map(_.doc_id).toArray
    val order = ids.indices.map(i => (batchOf(ids(i)), ids(i), i)).sorted
    val want = order.indices.map { a =>
      val (bx, x, i) = order(a)
      val dup = order.iterator.take(a).collect {
        case (_, y, j) if {
          val inter = interSize(sets(i), sets(j))
          inter.toDouble / (sets(i).length + sets(j).length - inter) >= tau
        } => y
      }.foldLeft(-1L)((m, y) => if (m < 0 || y < m) y else m)
      x -> dup
    }.toMap
    val got = r.out.collect().map(x => x.getLong(0) -> x.getLong(1))
    val gotMap = got.toMap
    val seen = if (corrupt) gotMap.map { case (k, v) => k -> (if (v < 0) v else v + 1) } else gotMap
    got.length == want.size && seen == want
  }

  override def probes(ctx: Ctx): Map[String, Double] = {
    // state size and directory fan-out through the store's own telemetry
    StateTelemetry.enable()
    try {
      call(ctx)
      val pts = StateTelemetry.drain()
      Map(
        "state.bytes_end" -> pts.groupBy(_.store).values.map(_.last.stateBytes).sum.toDouble,
        "state.live_dirs_max" -> (if (pts.isEmpty) 0.0 else pts.map(_.liveDirs).max.toDouble))
    } finally StateTelemetry.disable()
  }
}
