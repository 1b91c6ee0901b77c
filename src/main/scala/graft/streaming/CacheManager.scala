package graft.streaming

import scala.collection.mutable
import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.SemiStreamJoin

/** Pluggable cache-eviction policy (reference DSim-Join ships an LRU-window
  * family plus a cost-balancing variant,
  * `DSim-Join/src/main/scala/ds_join/DS_SimJoin_stream_ver3.scala:501-532`).
  */
sealed trait EvictionPolicy

/** Age-window LRU: keys unseen for `window` batches leave the cache; the
  * window adapts via [[AdaptiveWindowController]]. The reference's default
  * (`DS-Join/DS_join_step4/src/main/scala/streaming.scala:543-587`).
  */
case object LruWindow extends EvictionPolicy

/** Cost-ranked bound: the cache keeps at most `maxEntries` keys, ranked by
  * observed hit frequency then recency — the reference ver3's
  * cost-balancing eviction re-expressed as a top-k keep-set
  * (`DS_SimJoin_stream_ver3.scala:501-532` sorts cached keys by benefit and
  * drops the tail).
  */
final case class CostRanked(maxEntries: Int) extends EvictionPolicy

/** Cross-batch cache state for the semi-stream join: a bounded cache of
  * stored-side rows with a pluggable eviction policy plus the adaptive
  * caching-window controller.
  *
  * Re-expresses the reference's cache/LRU machinery
  * (`DS-Join/DS_join_step4/src/main/scala/streaming.scala`), which splits
  * one cogroup three ways per batch: hits, misses and the LRU touch set
  * (`:234-241,421-460`). Here the three come from one driver-side pass
  * over the batch's distinct keys against a driver-side key index:
  *
  *   - Key index: the cache's non-NULL keys, read by one collect of
  *     `groupBy(key).count()` that also materializes the cache
  *     (built in the first batch, refreshed on every cache update).
  *   - LRU registers (`:421-460`): key → (last-seen batch id, hits), a
  *     driver map upserted with the batch's keys; keys evicted by the
  *     window leave it with their cache rows.
  *   - Eviction (`:543-587`): [[LruWindow]] drops keys with last-seen <
  *     batchId − window; [[CostRanked]] keeps the top-`maxEntries` keys by
  *     (hits, recency, key). This batch's fetched rows (optionally
  *     filtered by an admission rule, reference `DSim-Join/src/main/scala/
  *     ds_join/DS_SimJoin_stream.scala:838`) enter the cache. A miss-free
  *     batch leaves the cache untouched (reference `:557-559`).
  *   - Lineage truncation (`:449-451,570-573`): `localCheckpoint` every
  *     `checkpointEvery` batches — cross-batch union/anti-join state grows
  *     an unbounded plan otherwise.
  *   - Adaptive window ([[AdaptiveWindowController]], `:462-540`).
  *
  * Driver round-trips per batch are the latency floor at short trigger
  * intervals, so the per-batch budget is: a hit batch runs the key
  * collect (which also materializes the persisted batch) and the output
  * consume; a miss batch adds the fetch count (its miss count feeds the
  * controller) and the cache-update collect. Spark runs only the fetch of
  * the missed keys, passed in as a local key relation, and the output
  * joins; no shuffle or persisted frame tracks the LRU.
  *
  * Driver memory: the key index holds the cache's keys (the cache is
  * broadcast-able by construction); under [[LruWindow]] the registers hold
  * the keys seen within the window, under [[CostRanked]] every key seen.
  * Keys are compared by JVM equality, so only key types where that is
  * Spark's join equality are accepted: integral, string and date. NULL
  * keys never join, so they never enter the index or the registers.
  */
final class CacheManager(
    stored: DataFrame,
    initialCache: DataFrame,
    key: String,
    config: AdaptiveWindowController.Config = AdaptiveWindowController.Config(),
    checkpointEvery: Int = 8,
    admit: DataFrame => DataFrame = identity,
    policy: EvictionPolicy = LruWindow,
    windowRule: WindowRule = HillClimbRule,
    // pluggable store backend: receives the distinct missed-key relation,
    // returns the stored rows for those keys (cache-schema'd). None = the
    // Catalyst-planned semi-join against `stored`; Some = e.g. a remote
    // point-lookup connector (KeyValueStore.fetchByKeys), the reference's
    // executor-side `$or` fetch regime
    fetchOverride: Option[DataFrame => DataFrame] = None,
    // measured hot-key salting (SURVEY D4) for the probe joins: a bounded
    // Salting.hotKeyFactors relation; the per-batch inner joins spread
    // each listed key over its factor of sub-partitions (AQE cannot help
    // here — it is disabled under stateful streaming). None = unsalted.
    saltFactors: Option[DataFrame] = None) {

  import CacheManager.BatchStats

  require(
    initialCache.columns.sameElements(stored.columns),
    "cache seed must have the stored relation's schema")

  private val keyType = initialCache.schema(key).dataType
  require(
    Seq(ByteType, ShortType, IntegerType, LongType, StringType, DateType).contains(keyType),
    s"CacheManager key `$key` is ${keyType.simpleString}: the driver key index needs a key " +
      "whose JVM equality is Spark's join equality (integral, string or date)")

  private val storage = StorageLevel.MEMORY_AND_DISK
  private val spark = stored.sparkSession
  private val fetch = fetchOverride.getOrElse(
    (keys: DataFrame) => stored.join(keys, Seq(key), "left_semi"))

  private var cache: DataFrame = initialCache.persist(storage)
  private var cachedKeys: Set[Any] = _ // built by the first batch
  // key -> (last-seen batch id, hits)
  private val lru = mutable.HashMap.empty[Any, (Long, Long)]
  private var ctrl = AdaptiveWindowController.initial(config)
  private var sizeState = AdaptiveWindowController.SizeHeuristicState()
  private var lastCacheCount = 0L
  private var batchId = 0L

  val stats: ListBuffer[BatchStats] = ListBuffer.empty

  def currentWindow: Int = ctrl.window
  def cacheSnapshot: DataFrame = cache
  def lruSnapshot: DataFrame = keyFrame(
    lru.toSeq.map { case (k, (seen, hits)) => Row(k, seen, hits) },
    StructField("last_seen", LongType), StructField("hits", LongType))

  /** Process one micro-batch: join it against stored-through-cache, hand the
    * joined output to `consume` (e.g. a sink write), then update LRU + cache
    * state and advance the controller. All per-batch intermediates are
    * persisted for the duration and released before returning.
    */
  def processBatch(batch: DataFrame)(consume: DataFrame => Unit): BatchStats = {
    require(
      batch.schema(key).dataType == keyType,
      s"batch key `$key` is ${batch.schema(key).dataType.simpleString}, the cache's is " +
        keyType.simpleString)
    batchId += 1
    val id = batchId

    val t0 = System.nanoTime()
    if (cachedKeys == null) cachedKeys = indexCache(cache)._1
    val b = batch.persist(storage)
    // one job: materializes the batch and yields its distinct keys
    val keys = b.select(key).where(col(key).isNotNull).distinct().collect().map(_.get(0))
    val missed = keys.filterNot(cachedKeys)
    val fetched =
      if (missed.isEmpty) None
      else {
        val missedKeys = keyFrame(missed.toSeq.map(Row(_)))
        Some(missedKeys -> fetch(missedKeys).persist(storage))
      }
    val missedCount = fetched.fold(0L)(_._2.count())
    val splitFetchMs = (System.nanoTime() - t0) / 1e6
    // the controller compares stage sums, and the stored-side fetch
    // dominates whenever misses exist
    val (cogMs, fetchMs) =
      if (missedCount == 0) (splitFetchMs, 0.0) else (0.0, splitFetchMs)
    val timings = AdaptiveWindowController.Timings(cogMs, fetchMs, 0)

    consume(SemiStreamJoin.assemble(b, cache, key, saltFactors, fetched))

    // --- LRU upsert (reference :421-460) ---
    keys.foreach(k => lru(k) = (id, lru.get(k).fold(0L)(_._2) + 1))

    // --- controller (reference :462-540, or DSim-final's :649-666) ---
    ctrl = windowRule match {
      case HillClimbRule =>
        AdaptiveWindowController.advance(ctrl, config, id, timings, missedCount == 0)
      case QueryCountRule(qc) =>
        // query_Count (`:642`) = incoming tuples this batch; the batch is
        // already persisted by the key collect, so this is a cheap second
        // action — and the rule is opt-in
        AdaptiveWindowController.advanceByQueryCount(
          ctrl, qc, id, b.count(), timings)
      case FixedRule(w) =>
        // non-adaptive baseline: registers still shift (policy can be
        // swapped mid-stream), the window never moves
        ctrl.copy(window = w, saved = w, prev = timings, prev2 = ctrl.prev)
      case CacheSizeRule(cfg) =>
        // myNapp_v1's frontier policy expressed in window terms: the
        // eviction threshold (id − window) IS the frontier
        sizeState = AdaptiveWindowController.advanceBySizeHeuristic(
          sizeState, cfg, id, timings, ctrl.prev, ctrl.prev2, lastCacheCount)
        val w = math.max(1L, id - sizeState.frontier)
          .min(Int.MaxValue.toLong).toInt
        ctrl.copy(window = w, saved = w, prev = timings, prev2 = ctrl.prev)
    }
    val threshold = id - ctrl.window

    // --- cache update (reference :543-587) ---
    val tc0 = System.nanoTime()
    for ((_, rows) <- fetched if missedCount > 0) {
      val admitted = admit(rows)
      val newCache = policy match {
        case LruWindow =>
          val expired = lru.collect { case (k, (seen, _)) if seen < threshold => k }.toSeq
          lru --= expired
          val kept =
            if (expired.isEmpty) cache
            else cache.join(keyFrame(expired.map(Row(_))), Seq(key), "left_anti")
          maybeCheckpoint(kept.unionByName(admitted), id)
        case CostRanked(maxEntries) =>
          val keep = lru.toSeq.sorted(byCost).take(maxEntries).map(e => Row(e._1))
          maybeCheckpoint(
            cache.unionByName(admitted).join(keyFrame(keep), Seq(key), "left_semi"),
            id)
      }
      val (newKeys, rowCount) = indexCache(newCache)
      cachedKeys = newKeys
      lastCacheCount = rowCount
      cache.unpersist()
      cache = newCache
    }
    val cacheMs = (System.nanoTime() - tc0) / 1e6
    ctrl = AdaptiveWindowController.recordCacheTime(ctrl, cacheMs)

    b.unpersist()
    fetched.foreach(_._2.unpersist())

    val s = BatchStats(id, missedCount, ctrl.window, cogMs, fetchMs, cacheMs)
    stats += s
    s
  }

  def close(): Unit = cache.unpersist()

  /** One job over the (persisted) cache: materializes it and returns its
    * non-NULL key set and row count.
    */
  private def indexCache(df: DataFrame): (Set[Any], Long) = {
    val counts = df.groupBy(key).count().collect()
    (counts.iterator.map(_.get(0)).filter(_ != null).toSet, counts.map(_.getLong(1)).sum)
  }

  /** A local relation with the key column first, then `more`. */
  private def keyFrame(rows: Seq[Row], more: StructField*): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(StructField(key, keyType) +: more))

  // hits desc, last seen desc, then key ascending (Spark's order: strings
  // compare by their UTF-8 bytes)
  private val byCost: Ordering[(Any, (Long, Long))] = {
    val keyOrder: Ordering[Any] =
      if (keyType == StringType) Ordering.by(k => UTF8String.fromString(k.asInstanceOf[String]))
      else (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    Ordering.by[(Any, (Long, Long)), (Long, Long)] { case (_, (seen, hits)) => (-hits, -seen) }
      .orElse(Ordering.by[(Any, (Long, Long)), Any](_._1)(keyOrder))
  }

  /** `localCheckpoint` (eager — also persists) on cadence batches, plain
    * persist otherwise; either way the new state is materialized by the
    * caller's action before the old one is unpersisted.
    */
  private def maybeCheckpoint(df: DataFrame, id: Long): DataFrame =
    if (checkpointEvery > 0 && id % checkpointEvery == 0) df.localCheckpoint(true)
    else df.persist(storage)
}

object CacheManager {
  final case class BatchStats(
      id: Long,
      missed: Long,
      window: Int,
      cogMs: Double,
      fetchMs: Double,
      cacheMs: Double)
}
