package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.streaming.{AdaptiveWindowController, CacheManager, CostRanked, SemiStreamRuntime}

/** End-to-end Structured Streaming semi-stream join on sf0.001: the
  * accumulated micro-batch output must equal the plain join (bag
  * semantics), and the cache/controller state must actually move.
  */
class SemiStreamRuntimeSpec extends SparkSpec {
  init()

  test("stateSession carries the parent's runtime confs and sizes only its shuffle") {
    val keys = Seq("spark.sql.session.timeZone", "spark.graft.salt.threshold")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
      spark.conf.set("spark.graft.salt.threshold", "123")
      val s = SemiStreamRuntime.stateSession(spark)
      assert(s.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata")
      assert(s.conf.get("spark.graft.salt.threshold") == "123")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "8")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    } finally {
      before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("stateSession reuses its clone until a parent conf changes") {
    val k = "spark.graft.salt.threshold"
    val before = spark.conf.getOption(k)
    try {
      val a = SemiStreamRuntime.stateSession(spark)
      assert(SemiStreamRuntime.stateSession(spark) eq a)
      spark.conf.set(k, "77")
      val b = SemiStreamRuntime.stateSession(spark)
      assert(!(b eq a))
      assert(b.conf.get(k) == "77")
      assert(SemiStreamRuntime.stateSession(spark) eq b)
    } finally before.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("streaming semi-stream join accumulates to the plain join") {
    val li = Tables(spark, sfSmoke, "lineitem")
      .select(col("l_partkey").as("p_partkey"), col("l_orderkey"), col("l_quantity"))
    val part = Tables(spark, sfSmoke, "part")
    val cache = part.filter(pmod(col("p_partkey"), lit(10)) < 3)

    val before = replayDirs()
    val (out, stats) = SemiStreamRuntime.semiStreamJoin(
      li, part, cache,
      key = "p_partkey", chunkKey = "l_orderkey", chunks = 4,
      config = AdaptiveWindowController.Config(initialWindow = 2, warmupBatches = 1),
      checkpointEvery = 2)
    // checkpoint and spooled chunks deleted; the output dir stays for `out`
    assert(replayDirs() -- before == Set.empty)

    val plain = li.join(part, "p_partkey")
    assert(out.count() == plain.count())
    assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty)

    // 4 chunks → 4 micro-batches, each produced stats
    assert(stats.map(_.id) == Seq(1L, 2L, 3L, 4L))
    // first batch must have missed (cache seeded with only ~30% of keys)
    assert(stats.head.missed > 0)
  }

  test("cache loss mid-stream is perf-only: a fresh manager resumes with identical results") {
    // simulated driver restart between batches 2 and 3: the replacement
    // manager starts from an EMPTY cache, yet the accumulated output must
    // still equal the plain join — the bag-union invariant that makes the
    // cache state non-correctness-bearing (unlike StreamingDedup's seen-set,
    // whose scaladoc documents the transactional-state requirement)
    val li = Tables(spark, sfSmoke, "lineitem")
      .select(col("l_partkey").as("p_partkey"), col("l_orderkey"), col("l_quantity"))
    val part = Tables(spark, sfSmoke, "part")
    val seed = part.filter(pmod(col("p_partkey"), lit(10)) < 3)
    val batches = (0 until 4).map(i =>
      li.filter(pmod(xxhash64(col("l_orderkey")), lit(4)) === i))

    val outputs = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
    val m1 = new CacheManager(part, seed, "p_partkey")
    try batches.take(2).foreach { b =>
      m1.processBatch(b) { out => outputs += out.localCheckpoint(true); () }
    } finally m1.close()
    val m2 = new CacheManager(part, part.limit(0), "p_partkey") // post-restart: cold cache
    try batches.drop(2).foreach { b =>
      m2.processBatch(b) { out => outputs += out.localCheckpoint(true); () }
    } finally m2.close()

    val got = outputs.reduce(_ unionByName _)
    val plain = li.join(part, "p_partkey")
    assert(got.count() == plain.count())
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
  }

  test("cache admission makes later batches hit: misses shrink after batch 1") {
    val li = Tables(spark, sfSmoke, "lineitem")
      .select(col("l_partkey").as("p_partkey"), col("l_orderkey"))
    val part = Tables(spark, sfSmoke, "part")
    // empty seed: batch 1 is all-miss; admitted rows should serve later batches
    val emptySeed = part.limit(0)

    val manager = new CacheManager(
      part, emptySeed, "p_partkey",
      AdaptiveWindowController.Config(initialWindow = 8, warmupBatches = 1),
      checkpointEvery = 0)
    try {
      // batches chunked by l_orderkey → partkeys recur across batches
      val batches = (0 until 3).map(i =>
        li.filter(pmod(xxhash64(col("l_orderkey")), lit(3)) === i))
      val counts = batches.map { b =>
        manager.processBatch(b)(_.count())
        manager.stats.last
      }
      // batch 1 fetched many keys; batches 2-3 re-see most of those partkeys
      // (600 parts, ~2000 orders/chunk) so fetch counts must drop sharply
      assert(counts(0).missed > 0)
      assert(counts(1).missed < counts(0).missed / 2,
        s"expected cache hits to cut misses: ${counts.map(_.missed)}")
      assert(counts(2).missed < counts(0).missed / 2)
    } finally manager.close()
  }

  test("LRU eviction bounds the cache under a tiny window") {
    val li = Tables(spark, sfSmoke, "lineitem")
      .select(col("l_partkey").as("p_partkey"), col("l_orderkey"))
    val part = Tables(spark, sfSmoke, "part")
    val emptySeed = part.limit(0)

    // window capped at 1: only keys touched in the last batch stay cached
    val manager = new CacheManager(
      part, emptySeed, "p_partkey",
      AdaptiveWindowController.Config(initialWindow = 1, warmupBatches = 1000, cap = 1, capTo = 1),
      checkpointEvery = 0)
    try {
      // each batch touches a DISJOINT partkey range so earlier ranges go
      // stale and must be evicted (a chunk-by-order workload touches every
      // key every batch — nothing would ever age out)
      val n = part.count()
      val span = (n / 4).toInt
      (0 until 4).foreach { i =>
        val b = li.filter(
          col("p_partkey") >= i * span && col("p_partkey") < (i + 1) * span)
        manager.processBatch(b)(_.count())
      }
      val cacheKeys = manager.cacheSnapshot.count()
      // with window 1 only the last two ranges can remain (threshold at
      // batch 4 = 3 → lastSeen ∈ {3,4} survive); an unbounded cache would
      // hold ~all touched keys
      assert(cacheKeys <= 2L * span,
        s"cache never evicted: $cacheKeys keys cached, expected <= ${2 * span}")
      assert(manager.currentWindow == 1)
    } finally manager.close()
  }

  test("cost-ranked eviction bounds the cache and keeps the hottest keys") {
    val part = Tables(spark, sfSmoke, "part")
    val emptySeed = part.limit(0)
    val maxEntries = 20

    val manager = new CacheManager(
      part, emptySeed, "p_partkey",
      AdaptiveWindowController.Config(initialWindow = 8, warmupBatches = 1000),
      checkpointEvery = 0,
      policy = CostRanked(maxEntries))
    try {
      // keys 0..19 recur EVERY batch (hot); each batch also touches a
      // disjoint cold range — the bound must evict cold keys, never hot ones
      val hot = part.filter(col("p_partkey") < 20).select("p_partkey")
      (0 until 4).foreach { i =>
        val cold = part
          .filter(col("p_partkey") >= 100 + i * 50 && col("p_partkey") < 100 + (i + 1) * 50)
          .select("p_partkey")
        manager.processBatch(hot.unionByName(cold))(_.count())
      }
      val cached = manager.cacheSnapshot.select("p_partkey")
        .collect().map(_.getLong(0)).toSet
      assert(cached.size <= maxEntries,
        s"cost-ranked cache exceeded its bound: ${cached.size} > $maxEntries")
      assert((0L until 20L).toSet.subsetOf(cached),
        s"hot keys were evicted: kept=$cached")
    } finally manager.close()
  }

  test("streaming semi-stream join under cost-ranked policy still accumulates to the plain join") {
    // correctness is policy-invariant: caching only changes WHERE rows are
    // served from, never the join result
    val li = Tables(spark, sfSmoke, "lineitem")
      .select(col("l_partkey").as("p_partkey"), col("l_orderkey"), col("l_quantity"))
    val part = Tables(spark, sfSmoke, "part")
    val cache = part.filter(pmod(col("p_partkey"), lit(10)) < 3)

    val (out, _) = SemiStreamRuntime.semiStreamJoin(
      li, part, cache,
      key = "p_partkey", chunkKey = "l_orderkey", chunks = 4,
      config = AdaptiveWindowController.Config(initialWindow = 2, warmupBatches = 1),
      checkpointEvery = 2,
      policy = CostRanked(64))

    val plain = li.join(part, "p_partkey")
    assert(out.count() == plain.count())
    assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty)
  }

  test("cache-size window rule (myNapp_v1 frontier policy) still accumulates to the plain join") {
    val li = Tables(spark, sfSmoke, "lineitem")
      .select(col("l_partkey").as("p_partkey"), col("l_orderkey"), col("l_quantity"))
    val part = Tables(spark, sfSmoke, "part")
    val cache = part.filter(pmod(col("p_partkey"), lit(10)) < 3)

    // warmup 1 so the heuristic is live from batch 2 on this 4-batch run
    val (out, stats) = SemiStreamRuntime.semiStreamJoin(
      li, part, cache,
      key = "p_partkey", chunkKey = "l_orderkey", chunks = 4,
      checkpointEvery = 2,
      windowRule = graft.streaming.CacheSizeRule(
        AdaptiveWindowController.SizeHeuristicConfig(warmupBatches = 1)))

    val plain = li.join(part, "p_partkey")
    assert(out.count() == plain.count())
    assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty)
    // frontier semantics: the window can never exceed the batch ordinal
    // (threshold = id − window = frontier ≥ 0)
    assert(stats.forall(s => s.window >= 1 && s.window <= s.id), stats.map(_.window))
  }
}
