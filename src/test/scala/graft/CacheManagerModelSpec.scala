package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.streaming.{AdaptiveWindowController, CacheManager, CostRanked, EvictionPolicy, FixedRule, LruWindow}

/** Differential check of CacheManager's driver-side key index against a
  * plain-Scala model of the LRU registers, eviction and admission rules:
  * per micro-batch the output must equal the plain join, and the missed
  * count, cache rows and LRU registers must equal the model's.
  */
class CacheManagerModelSpec extends SparkSpec {
  init()
  import spark.implicits._

  type Key = Option[Long]

  // 0..39 in the store, 1-3 rows per key, plus one NULL-key row; batches
  // also draw 40..49, which the store lacks
  private val storedRows: Seq[(Key, String)] =
    (0L until 40L).flatMap(k => (0 until 1 + (k % 3).toInt).map(j => (Some(k): Key, s"v$k.$j"))) :+
      ((None: Key) -> "vnull")
  private val stored = storedRows.toDF("k", "v").persist()
  private val seedRows = storedRows.filter { case (k, _) => k.forall(_ % 4 == 0) }
  private val admitted = (k: Key) => k.exists(_ % 5 != 2)
  private val window = 2

  // skewed (key 1 is ~40 % of rows), duplicate, absent and NULL keys;
  // batch 4 repeats batch 3's keys
  private val batches: Seq[Seq[(Key, Long)]] = {
    val rnd = new scala.util.Random(7)
    val drawn = (0 until 5).map { b =>
      (0 until 30).map { i =>
        val u = rnd.nextDouble()
        val k: Key = if (u < 0.1) None else if (u < 0.5) Some(1L) else Some(rnd.nextInt(50).toLong)
        (k, b * 100L + i)
      }
    }
    drawn.take(3) ++ Seq(drawn(2).map { case (k, id) => (k, id + 50) }) ++ drawn.drop(3)
  }

  /** Today's rules, one batch at a time: returns the missed (fetched) row
    * count and updates the cache rows and LRU registers.
    */
  final class Model(policy: EvictionPolicy) {
    var cache: Seq[(Key, String)] = seedRows
    val lru = mutable.Map.empty[Long, (Long, Long)] // key -> (last seen, hits)

    def step(id: Long, batch: Seq[(Key, Long)]): Long = {
      val keys = batch.flatMap(_._1).distinct
      val cached = cache.flatMap(_._1).toSet
      val missed = keys.filterNot(cached).toSet
      val fetched = storedRows.filter(_._1.exists(missed))
      keys.foreach(k => lru(k) = (id, lru.get(k).fold(0L)(_._2) + 1))
      if (fetched.nonEmpty) {
        val admit = fetched.filter(r => admitted(r._1))
        policy match {
          case LruWindow =>
            val expired = lru.collect { case (k, (seen, _)) if seen < id - window => k }.toSet
            lru --= expired
            cache = cache.filterNot(_._1.exists(expired)) ++ admit
          case CostRanked(max) =>
            val keep = lru.toSeq.sortBy { case (k, (seen, hits)) => (-hits, -seen, k) }
              .take(max).map(_._1).toSet
            cache = (cache ++ admit).filter(_._1.exists(keep))
        }
      }
      fetched.size.toLong
    }
  }

  private def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  for {
    policy <- Seq[EvictionPolicy](LruWindow, CostRanked(6))
    every <- Seq(0, 2)
  } test(s"key index matches the model: $policy, checkpointEvery=$every") {
    val model = new Model(policy)
    val manager = new CacheManager(
      stored, seedRows.toDF("k", "v"), "k",
      AdaptiveWindowController.Config(initialWindow = window, warmupBatches = 1),
      checkpointEvery = every,
      admit = _.filter(pmod(col("k"), lit(5)) =!= 2),
      policy = policy,
      windowRule = FixedRule(window))
    try batches.zipWithIndex.foreach { case (rows, i) =>
      val batch = rows.toDF("k", "id")
      var out = Seq.empty[String]
      val s = manager.processBatch(batch) { o => out = bag(o.select("k", "id", "v")); () }
      val expectMissed = model.step(i + 1L, rows)
      val plain = for ((Some(k), id) <- rows; (Some(sk), v) <- storedRows if sk == k)
        yield Row(k, id, v).toString
      assert(out == plain.sorted, s"batch ${i + 1} output")
      assert(s.missed == expectMissed, s"batch ${i + 1} missed")
      assert(bag(manager.cacheSnapshot) == model.cache.map { case (k, v) =>
        Row(k.map(Long.box).orNull, v).toString
      }.sorted, s"batch ${i + 1} cache rows")
      assert(
        manager.lruSnapshot.as[(Long, Long, Long)].collect().toSet ==
          model.lru.map { case (k, (seen, hits)) => (k, seen, hits) }.toSet,
        s"batch ${i + 1} LRU registers")
    } finally manager.close()
  }

  test("a miss-free batch never calls the fetch") {
    var calls = 0
    val manager = new CacheManager(
      stored, stored.filter(col("k") < 20), "k",
      fetchOverride = Some { keys =>
        calls += 1
        stored.join(keys, Seq("k"), "left_semi")
      })
    try {
      val hot = batches.map(_.filter(_._1.forall(_ < 20)))
      hot.take(2).foreach(rows => manager.processBatch(rows.toDF("k", "id"))(_ => ()))
      assert(calls == 0 && manager.stats.map(_.missed) == Seq(0L, 0L))
      manager.processBatch(Seq[(Key, Long)]((Some(30L), 1L)).toDF("k", "id"))(_ => ())
      assert(calls == 1 && manager.stats.last.missed == 1L)
    } finally manager.close()
  }

  test("a key type without Spark's join equality fails by name") {
    val e = intercept[IllegalArgumentException] {
      new CacheManager(stored.select(col("k").cast("double").as("k"), col("v")),
        stored.select(col("k").cast("double").as("k"), col("v")), "k")
    }
    assert(e.getMessage.contains("driver key index"))
  }
}
