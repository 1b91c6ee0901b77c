package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.streaming.{AdaptiveWindowController, EventTimeWindows, FixedRule, HillClimbRule, SemiStreamRuntime, WindowRule}

/** Streaming query pack: the semi-stream join run through the REAL
  * Structured Streaming runtime (readStream → foreachBatch → CacheManager),
  * not a batch analogue. Correctness leans on the bag-union invariant — the
  * accumulated per-batch outputs equal the plain join regardless of how the
  * stream was chunked or what the cache did — so the DuckDB oracle is the
  * plain-join SQL (same contract as the reference's `data|out|` count
  * checks, `DS-Join/DS_join_step4/src/main/scala/streaming.scala:607-615`).
  */
object StreamingQueries {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** Window rule for the BENCHED/ORACLED q17/q41 runs. Default is the
    * papers' fixed-interval baseline (`FixedRule(initial)`): the timing
    * hill-climb feeds measured batch latencies back into eviction volume,
    * making benched WORK nondeterministic by construction (q41's observed
    * 33-66 s solo spread, COVERAGE r8) — a fixed window removes the
    * feedback loop so cross-round bench numbers compare like-for-like.
    * The join OUTPUT is cache-policy-invariant either way (the bag-union
    * contract), so correctness is unaffected. `SPARK_GRAFT_WINDOW_RULE=
    * hillclimb` restores the adaptive controller; [[windowRuleOverride]]
    * lets Bench time the HillClimb line in-process as a second metric.
    */
  @volatile private[graft] var windowRuleOverride: Option[WindowRule] = None
  private[graft] def benchedWindowRule(initial: Int): WindowRule =
    windowRuleOverride.getOrElse(sys.env.get("SPARK_GRAFT_WINDOW_RULE") match {
      case Some("hillclimb") => HillClimbRule
      case Some(s) if s.startsWith("fixed:") => FixedRule(s.stripPrefix("fixed:").toInt)
      case _ => FixedRule(initial)
    })

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full streaming path (SURVEY S1/S2, J1–J9, §2.7): lineitem replayed as
    // 8 micro-batches (chunked by l_orderkey so partkeys recur across
    // batches and the cache serves real hits), joined against stored part
    // through the LRU cache + adaptive window, outputs accumulated and
    // aggregated exactly like batch q6.
    "q17_stream_semistream_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p_partkey"), col("l_orderkey"), col("l_quantity"))
      // project the stored side to the consumed columns BEFORE the stream:
      // the per-batch parquet sink is an optimization boundary Catalyst
      // cannot prune columns across, so an unprojected stored side would
      // write every part column per batch just to aggregate two of them
      val part = t(s, dir, "part").select("p_partkey", "p_brand")
      val cache = part.filter(pmod(col("p_partkey"), lit(10)) < 3)
      val (out, _) = SemiStreamRuntime.semiStreamJoin(
        li, part, cache,
        key = "p_partkey", chunkKey = "l_orderkey", chunks = 8,
        config = AdaptiveWindowController.Config(initialWindow = 2, warmupBatches = 2),
        windowRule = benchedWindowRule(2))
      out.groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("p_brand")
    }),

    // Streaming INCREMENTAL repeated-substring detection (q112's
    // continuous-ingestion form): each arriving doc's spans are judged
    // against every shingle occurrence seen up to and including its own
    // batch — arrival-order semantics the oracle replays with a
    // cumulative per-batch count. State = (shingle-hash, count) on the
    // DedupStateStore contract.
    "q115_stream_spans" -> ((s, dir) =>
      graft.streaming.StreamingSubstringDedup
        .run(t(s, dir, "documents"), "doc_id", "text", k = 5, minCount = 2, chunks = 4)
        .orderBy("doc_id", "start_tok")),

    // Streaming corpus-novelty monitor: each micro-batch's exact 5-shingle
    // novelty against all STRICTLY earlier batches — the per-increment
    // "how much of this crawl is new" gate before paying for downstream
    // curation. State = (shingle-hash, count) on the DedupStateStore
    // contract (fifth consumer); oracle replays arrival order with a
    // first-appearance window.
    "q126_stream_novelty" -> ((s, dir) =>
      graft.streaming.StreamingNovelty
        .run(t(s, dir, "documents"), "doc_id", "text", k = 5, chunks = 4)
        .orderBy("batch")),

    // Streaming distribution-drift monitor: per batch, the EXACT L1
    // distance (basis points of probability mass) between the batch's
    // token distribution and all strictly earlier batches — the
    // stale-mixture alarm. History-only tokens fold into a closed form,
    // so state probes stay pruned to the batch's buckets + one TOTAL
    // bucket (DedupStateStore contract, sixth consumer).
    "q134_stream_drift" -> ((s, dir) =>
      graft.streaming.StreamingDrift
        .run(t(s, dir, "documents"), "doc_id", "text", chunks = 4)
        .orderBy("batch")),

    // Streaming k-anonymity release (privacy tier, continuous-ingest
    // form): every arriving document decided at its batch's close under
    // the quasi-identifier census INCLUDING that batch — census state is
    // (comboHash, cnt) increments on the DedupStateStore contract
    // (seventh consumer), probes pruned to the batch's combo buckets.
    // Oracle replays arrival order: qi_n = combo rows with batch <= own.
    "q143_stream_kanon" -> ((s, dir) =>
      graft.streaming.StreamingKAnonymity
        .run(t(s, dir, "documents"), "doc_id", Seq("lang", "source"), k = 5, chunks = 4)
        .orderBy("doc_id")),

    // Streaming time-decayed heavy hitters ("trending now" per batch
    // close): events replayed in time order, census state (key, gen, cnt)
    // increments on the DedupStateStore contract (eighth consumer) with
    // GENERATION-keyed buckets, so the horizon window IS the probe-prune
    // predicate. Each tick equals the batch q147 operator over its event
    // prefix — the oracle replays every tick.
    "q149_stream_decayed_topk" -> ((s, dir) =>
      graft.streaming.StreamingDecay
        .run(
          t(s, dir, "events")
            .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("tsec")),
          "user_id", "tsec", genSecs = 86400L, horizon = 14, k = 10, chunks = 4)
        .orderBy("batch", "rank")),

    // Streaming Pareto front: per batch close, the skyline over every
    // document seen so far. State = the running front ITSELF (the
    // online-skyline law front(A∪B) = front(front(A)∪B) makes dominated
    // history droppable by theorem) — the smallest streaming state in
    // the repo. Oracle recomputes every batch-prefix front.
    "q157_stream_pareto" -> ((s, dir) => {
      val tk = filter(split(col("text"), " "), x => length(x) > 0)
      val crit = t(s, dir, "documents")
        .select(col("doc_id"), tk.as("__t"))
        .select(
          col("doc_id"),
          size(col("__t")).cast("long").as("n_tokens"),
          size(array_distinct(col("__t"))).cast("long").as("n_uniq"),
          (-graft.operators.TextAnalysis.topTokenCount(col("__t"))).cast("long").as("neg_top"))
      graft.streaming.StreamingSkyline
        .run(crit, "doc_id", Seq("n_tokens", "n_uniq", "neg_top"), chunks = 4)
        .orderBy("batch", "n_tokens", "n_uniq", "neg_top")
    }),

    // The q17 semi-stream join with the stored side behind the POINT-LOOKUP
    // store connector (SURVEY S5 keyed fetch in its remote regime): the
    // part dimension is published into a hash-bucketed KV store
    // (graft.sources.KeyValueStore — the reference's MongoDB stand-in,
    // `DS_join_step4/src/main/scala/streaming.scala:343-377`), and each
    // micro-batch's cache-missed keys are fetched by the EXECUTOR-SIDE
    // multi-key point lookup (fetchByKeys — per-partition `$or`-shaped,
    // no driver collect, fetch volume ∝ missed keys). Same oracle as q17:
    // the bag-union invariant holds for any store backend.
    "q111_kv_pointfetch_join" -> ((s, dir) => {
      import graft.sources.KeyValueStore
      val part = t(s, dir, "part").select("p_partkey", "p_brand")
      val root = SemiStreamRuntime.tempDir("kv-q111-").toString + "/store"
      KeyValueStore.write(part, root, "p_partkey", "p_brand", 64)
      val kvStored = KeyValueStore.read(s, root)
        .select(col("key").as("p_partkey"), col("value").as("p_brand"))
      val seed = kvStored.filter(pmod(col("p_partkey"), lit(10)) < 3)
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p_partkey"), col("l_orderkey"), col("l_quantity"))
      val fetch = (keys: org.apache.spark.sql.DataFrame) =>
        KeyValueStore.fetchByKeys(root, keys, "p_partkey")
          .select(col("key").as("p_partkey"), col("value").as("p_brand"))
      val (out, _) = SemiStreamRuntime.semiStreamJoin(
        li, kvStored, seed,
        key = "p_partkey", chunkKey = "l_orderkey", chunks = 8,
        config = AdaptiveWindowController.Config(initialWindow = 2, warmupBatches = 2),
        windowRule = benchedWindowRule(2),
        fetchOverride = Some(fetch))
      out.groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("p_brand")
    }),

    // Event-time TUMBLING windows through the real streaming runtime
    // (SURVEY §2.7 — the capability the processing-time-only reference
    // lacks): watermarked streaming aggregation in complete mode equals
    // the batch hourly rollup.
    "q32_stream_event_windows" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select("event_id", "ts", "event_type", "value")
      val staged = SemiStreamRuntime.stage(ev, "event_id", 6)
      EventTimeWindows.completeCounts(s, staged, ev.schema, "1 hour")
        .orderBy("ws", "event_type")
    }),

    // Event-time SLIDING windows (1 h window, 30 min slide): every event
    // lands in exactly two windows.
    "q33_stream_sliding_windows" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select("event_id", "ts", "event_type", "value")
      val staged = SemiStreamRuntime.stage(ev, "event_id", 6)
      EventTimeWindows.completeCounts(s, staged, ev.schema, "1 hour", Some("30 minutes"))
        .orderBy("ws", "event_type")
    }),

    // Semi-stream SIMILARITY join (SURVEY S6/J10-J12, the DSim-Join
    // streaming capability): documents replayed as micro-batches probe the
    // signature index through a sig-keyed LRU cache with frequency
    // admission; per-batch exact-Jaccard verify. Accumulated pairs equal
    // the batch similarity join in both directions (every doc streams once
    // and is also stored).
    "q41_stream_simjoin" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val r = graft.streaming.SemiStreamSimilarityJoin.run(
        docs, "doc_id", "text", tau = 0.8, chunks = 4,
        windowRule = benchedWindowRule(4))
      r.pairs
        .select(
          col("x_id"),
          col("y_id"),
          col("inter").cast("long").as("inter"),
          col("uni").cast("long").as("uni"))
        .orderBy("x_id", "y_id")
    }),

    // Streaming INCREMENTAL dedup (LLM dedup family, continuous-ingestion
    // form): documents arrive in 4 micro-batches (MD5-assigned, engine-
    // portable); each doc is tested against every previously seen doc via
    // MinHash/LSH buckets + exact-Jaccard verify, cross-batch state
    // accumulating cluster-side. dup_of = min earlier duplicate, −1 = novel.
    // The oracle replays the arrival order and the brute-force definition.
    // compactEvery=2 so the driver gate also exercises the state-compaction
    // path (batch 2 folds batches 0-1 into a generation mid-stream)
    "q49_stream_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.streaming.StreamingDedup.run(docs, "doc_id", "text", tau = 0.8, chunks = 4,
        compactEvery = 2)
        .orderBy("doc_id")
    }),

    // Transaction-log state backend end-to-end (round-14, verdict task
    // 10): q49's exact pipeline with the seen-set on the Delta/Iceberg-
    // shaped TransactionLogDedupState (snapshot reads via log-stats file
    // skipping, atomic commit appends, OPTIMIZE-style compaction, VACUUM
    // replay) — decisions must be bit-identical to the directory backend,
    // so the oracle is q49's verbatim.
    "q243_txnlog_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.streaming.StreamingDedup.run(docs, "doc_id", "text", tau = 0.8, chunks = 4,
        compactEvery = 2, store = graft.streaming.TransactionLogDedupState.factory)
        .orderBy("doc_id")
    }),

    // Skew defense ARMED through the engine-level session conf (round-14
    // verdict task 3): q49's exact pipeline with
    // `spark.graft.salt.threshold` set, so the per-batch state probe runs
    // the salted-SHUFFLE regime — measured per-key factors from the
    // batch's own (band, bsig) histogram, hot keys spread over their own
    // salt sub-partitions — instead of the broadcast probe. Bag-equal by
    // construction, so decisions are bit-identical: the oracle is q49's
    // verbatim, and this gate is what certifies the conf wiring (a knob
    // that silently failed to arm would still pass a spec that calls the
    // parameter directly).
    "q244_salted_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      s.conf.set(graft.operators.Salting.ThresholdKey, "4")
      try
        graft.streaming.StreamingDedup.run(docs, "doc_id", "text", tau = 0.8, chunks = 4,
          compactEvery = 2)
          .orderBy("doc_id")
      finally s.conf.unset(graft.operators.Salting.ThresholdKey)
    }),

    // Transaction-log backend behind the SEMANTIC dedup tier (round-14
    // verdict task 9: certify the remaining DedupStateStore consumers on
    // the txnlog backend): q56's exact pipeline, embedding state on
    // TransactionLogDedupState. Backend choice must be invisible — the
    // oracle is q56's verbatim.
    "q245_txnlog_semantic_dedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id").as("vid"), col("embedding").as("emb"))
      graft.streaming.StreamingSemanticDedup.run(emb, tau = 0.985, chunks = 4,
        nCells = 64, compactEvery = 2,
        store = graft.streaming.TransactionLogDedupState.factory)
        .select(col("vid").as("vec_id"), col("dup_of"))
        .orderBy("vec_id")
    }),

    // Transaction-log backend behind the SUM-fold state tier: q115's
    // streaming substring dedup with (shingle-hash, count) increments on
    // TransactionLogDedupState.sumFactory — compaction must SUM per key
    // through the log's OPTIMIZE path, not keep an arbitrary row. Oracle =
    // q115's verbatim.
    "q246_txnlog_spans" -> ((s, dir) =>
      graft.streaming.StreamingSubstringDedup
        .run(t(s, dir, "documents"), "doc_id", "text", k = 5, minCount = 2, chunks = 4,
          store = graft.streaming.TransactionLogDedupState.sumFactory)
        .orderBy("doc_id", "start_tok")),

    // Streaming INCREMENTAL semantic dedup (SemDeDup's continuous-ingestion
    // form — the embedding-tier sibling of q49): vectors arrive in 4
    // MD5-assigned micro-batches; each is tested against every previously
    // seen vector of the SAME IVF cell at cosine ≥ τ, cross-batch state on
    // durable storage through the DedupStateStore contract. dup_of = min
    // earlier same-cell duplicate, −1 = novel. compactEvery=2 exercises
    // mid-stream state compaction. The oracle replays q55's deterministic
    // cells + the arrival order.
    "q56_stream_semantic_dedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id").as("vid"), col("embedding").as("emb"))
      graft.streaming.StreamingSemanticDedup.run(emb, tau = 0.985, chunks = 4,
        nCells = 64, compactEvery = 2)
        .select(col("vid").as("vec_id"), col("dup_of"))
        .orderBy("vec_id")
    }),

    // STREAMING sequence packing (continuous-ingestion form of q63):
    // documents replayed as 4 ascending-id micro-batches; per-stream next
    // token offsets live in keyed state (flatMapGroupsWithState). With
    // id-ordered arrival the result is IDENTICAL to batch packing, so the
    // oracle is q63's window SQL verbatim.
    "q71_stream_packing" -> ((s, dir) =>
      graft.streaming.StreamingPacking
        .run(t(s, dir, "documents"), "doc_id", "text",
          budget = 128, nStreams = 8, chunks = 4)
        .orderBy("doc_id")),

    // AS-OF join (time-series point lookup): each click event matched to
    // the most recent view event of the SAME user at or before it — the
    // EPOCH-BUCKETED form (1-hour buckets): running-last windows per
    // (user, bucket) with a per-bucket carry relation, so parallelism is
    // users × buckets and a single user's full history never funnels into
    // one task. The oracle is DuckDB's native ASOF JOIN over the same
    // deduped right side.
    "q53_asof_attribution" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"),
          col("value").as("view_value"))
      graft.operators.AsOfJoin
        .backwardBucketed(clicks, views, Seq("user_id"), "ts", tiebreak = "view_id",
          bucketWidth = 3600L * 1000 * 1000)
        .select(
          col("click_id"),
          col("user_id"),
          coalesce(col("view_id"), lit(-1L)).as("view_id"),
          coalesce(col("view_value"), lit(-1.0)).as("view_value"))
        .orderBy("click_id")
    }),

    // RANGE join (windowed attribution): every view of the SAME user within
    // the hour before each click — bucketed equi-join (≤ 2 probe buckets
    // per click), exact window filter; no per-key cross product. Oracle is
    // the plain inequality join.
    "q54_range_attribution" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          unix_micros(col("ts")).as("vus"))
      graft.operators.RangeJoin
        .timeRange(clicks, views, Seq("user_id"), "tus", "vus",
          lower = -3600L * 1000 * 1000, upper = 0L)
        .select(col("click_id"), col("user_id"), col("view_id"))
        .orderBy("click_id", "view_id")
    }),

    // JSON ingest (SURVEY S7): parse the props JSON column with an
    // explicit schema, aggregate by the extracted key.
    "q34_json_ingest" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
            .getField("k").as("k"),
          col("value"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("k")),

    // Streaming count-min heavy hitters: token stream replayed as 4
    // micro-batches, each folding its bounded (r, cell, cnt) grid into
    // the running sketch; cell sums are associative, so the streamed
    // sketch — and therefore the est ≥ N/100 hitter set — equals the
    // batch sketch, which is what the oracle replays (no streaming in
    // the oracle, the bag-union-style invariant of this pack).
    "q84_stream_cms" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(
          col("doc_id"),
          explode(filter(split(col("text"), " "), x => length(x) > 0)).as("tok"))
      val sk = graft.streaming.StreamingCountMin
        .runSketch(toks, "tok", "doc_id", depth = 4, width = 512, chunks = 4)
      val n = sk.filter(col("r") === 0).agg(sum("cnt")).head().getLong(0)
      graft.operators.CountMin
        .estimate(toks.select("tok").distinct(), "tok", sk, depth = 4, width = 512)
        .filter(col("est") >= lit(n / 100))
        .orderBy("tok")
    }),

    // Streaming retention cohorts: first-seen period as ONE long of
    // per-user state; emitted (cohort, period) activity pairs dedupe and
    // aggregate into the same triangle as batch q83 (epoch-day domain),
    // which is the oracle.
    "q103_stream_cohorts" -> ((s, dir) =>
      graft.streaming.StreamingCohorts
        .run(
          t(s, dir, "events").withColumn("tus", unix_micros(col("ts"))),
          "user_id", "tus", periodUs = 86400000000L, chunks = 4)
        .orderBy("cohort_period", "offset")),

    // Streaming SCD type-2: dimension history maintained as ONE
    // (attrs, valid_from) state pair per key over 4 time-range
    // micro-batches — closed intervals emit exactly once, the open
    // interval is the last open snapshot. Time-ordered arrival makes the
    // fold equal batch q90, whose SQL is the oracle.
    "q102_stream_scd2" -> ((s, dir) =>
      graft.streaming.StreamingScd
        .run(
          t(s, dir, "events").withColumn("tus", unix_micros(col("ts"))),
          "user_id", "tus", "event_id", "event_type", chunks = 4)
        .orderBy("user_id", "valid_from")),

    // Streaming CDC apply (round-11): last-writer-wins keyed state over 4
    // seq-range micro-batches emitting the incremental-view-maintenance
    // DELTA stream (one row per key per batch whose visible value
    // changed); the folded deltas ARE the snapshot. Seq-ordered arrival
    // makes the fold equal the batch MERGE, whose SQL is the oracle.
    "q164_stream_cdc" -> ((s, dir) => {
      val ch = t(s, dir, "events").select(
        col("user_id"),
        unix_micros(col("ts")).as("tus"),
        col("event_id"),
        when(col("event_type") === "click", lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        col("event_type").as("value"))
      val deltas = graft.streaming.StreamingCdc
        .run(ch, "user_id", "tus", "event_id", "op", "value", chunks = 4)
      graft.streaming.StreamingCdc
        .snapshotFromDeltas(deltas, "user_id", "value")
        .orderBy("user_id")
    }),

    // Streaming constraint monitoring (round-11): per-batch quality
    // metrics in exact basis points + the cross-batch metric a single
    // batch cannot know (cumulative key uniqueness via first-seen keyed
    // state) — the Deequ metrics-repository shape on ingest.
    // Streaming CUSUM (round-12): the q206 level-shift statistic as an
    // ingest monitor — per-day counts fold into keyed state over 4
    // seq-range micro-batches, ref self-calibrates from batch 0, and
    // every batch reports the alarm frontier over the days seen so far.
    // Streaming SRM (round-13): the q235 design-ratio χ² recomputed on
    // every micro-batch over CUMULATIVE arm exposures — the alarm
    // frontier an experiment platform actually watches; per-arm keyed
    // state, (batches × 2)-bounded rollup, p < 10⁻³ alarm bar.
    // Kafka-shaped offset log ingest (round-14, verdict task 4): a bounded
    // orders feed published into a ReplayLogSource log (3 partitions × 2
    // sequenced files, producer write-then-rename), consumed through the
    // DSv2 micro-batch path and joined per batch against stored customer.
    // The output carries (log_part, file_seq, line_no) provenance, so the
    // oracle hash-checks the source's offset semantics — which file and
    // line every record was consumed from — not just the join values.
    "q241_replaylog_join" -> ((s, dir) => {
      val feed = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 7)
        .orderBy("o_orderkey").limit(2000)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("v"))
      val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      graft.streaming.ReplayLogJoin.run(feed, cust, "c_custkey")
        .select(
          col("k").as("o_orderkey"), col("v").as("o_custkey"),
          col("log_part"), col("file_seq"), col("line_no"), col("c_mktsegment"))
        .orderBy("o_orderkey")
    }),

    "q240_stream_srm" -> ((s, dir) => {
      val ch = t(s, dir, "events").select(
        when(pmod(col("user_id"), lit(2)) === 1, "a").otherwise("b").as("arm"),
        unix_micros(col("ts")).as("tus"))
      graft.streaming.StreamingSrm.run(
          ch, "arm", "tus", "a", "b", expectA = 1L, expectB = 1L, chunks = 4)
        .orderBy("batch")
    }),

    "q211_stream_cusum" -> ((s, dir) => {
      val ch = t(s, dir, "events").select(
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("tus"),
        lit(1L).as("one"))
      graft.streaming.StreamingCusum.run(
          ch, "day", "tus", "one",
          refNum = 1L, refDen = 1L, hNum = 1L, hDen = 2L, chunks = 4)
        .orderBy("batch", "t")
    }),

    "q178_stream_constraints" -> ((s, dir) => {
      val ch = t(s, dir, "events").select(
        col("user_id"),
        unix_micros(col("ts")).as("tus"),
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      graft.streaming.StreamingConstraints.run(
          ch, "user_id", "tus",
          flagChecks = Seq(
            "cents_under_2500" -> (col("cents") < 2500L),
            "type_known" -> col("event_type")
              .isInCollection(Seq("signup", "view", "click", "purchase"))),
          minBp = Map(
            "cents_under_2500" -> 2000L,
            "type_known" -> 7500L,
            "cumulative_unique" -> 100L),
          chunks = 4)
        .orderBy("batch", "check")
    }),

    // Streaming IVM (round-11): maintain `SELECT current_state,
    // sum(cents), count(*) GROUP BY current_state` over the per-user
    // last-writer-wins stream — per-batch view deltas (the Gupta–Mumick
    // counting algorithm, keyed form), folded to the final view. The
    // oracle is the batch aggregate over the arg-max snapshot.
    "q177_stream_ivm" -> ((s, dir) => {
      val ch = t(s, dir, "events").select(
        col("user_id"),
        unix_micros(col("ts")).as("tus"),
        col("event_id"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        col("event_type").as("dim"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val deltas = graft.streaming.StreamingIvmAggregate
        .run(ch, "user_id", "tus", "event_id", "op", "dim", "cents", chunks = 4)
      graft.streaming.StreamingIvmAggregate.viewFromDeltas(deltas, "dim")
        .orderBy("dim")
    }),

    // Streaming JOIN IVM (round-12): maintain `A ⋈_jk B` under a unified
    // keyed upsert/delete change stream — per-batch signed deltas via the
    // Gupta–Mumick join identity ΔV = (A'−A)⋈B ∪ A'⋈(B'−B), folded back
    // to the view. The oracle is the batch join over the two
    // last-writer-wins snapshots; per-batch delta grain is spec-pinned.
    "q186_stream_ivm_join" -> ((s, dir) => {
      val ch = t(s, dir, "events").select(
        pmod(col("user_id"), lit(50)).as("jk"),
        when(pmod(col("event_id"), lit(2)) === 0, lit("a")).otherwise(lit("b")).as("side"),
        col("user_id").as("pk"),
        unix_micros(col("ts")).as("seq"),
        col("event_id").as("tiebreak"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      val deltas = graft.streaming.StreamingIvmJoin.run(
        ch, "jk", "side", "pk", "seq", "tiebreak", "op", "v", chunks = 4)
      graft.streaming.StreamingIvmJoin.viewFromDeltas(deltas)
        .orderBy("jk", "a_pk", "b_pk")
    }),

    // Streaming boilerplate monitor (round-12): per-(source, line)
    // distinct-doc counts in keyed state over 4 doc-id-range batches;
    // one promotion row the batch a line crosses the minDocs floor —
    // the crawl-increment "new template on this site" alert. Word-grain
    // "lines" (the corpus is single-line), matching q189's fixture.
    "q194_stream_boilerplate" -> ((s, dir) =>
      graft.streaming.StreamingBoilerplate
        .run(t(s, dir, "documents"), "doc_id", "text", "source",
          delim = " ", minDocs = 20L, chunks = 4)
        .orderBy("source", "line")),

    // Streaming funnel: per-user step-time keyed state over 4 time-range
    // micro-batches. Time-ordered arrival makes the incremental greedy
    // equal the batch funnel (q87's semantics), so the oracle is the
    // batch SQL — the pack's bag-union-style invariant for keyed state.
    "q95_stream_funnel" -> ((s, dir) =>
      graft.streaming.StreamingFunnel
        .run(
          t(s, dir, "events").withColumn("tus", unix_micros(col("ts"))),
          "user_id", "tus", "event_type",
          steps = Seq("signup", "view", "click", "purchase"),
          windowUs = 7L * 24 * 3600 * 1000000,
          chunks = 4)
        .orderBy("user_id")))

  private val streamDedupOracle: String =
    """WITH t AS (
        |  SELECT doc_id,
        |         CAST(floor(
        |           CAST(list_sum(list_transform(range(0, 8), i ->
        |             CAST(instr('0123456789abcdef',
        |                        substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                  AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |             / 4294967296.0 * 4) AS INT) AS b,
        |         list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
        |  FROM documents),
        |tt AS (SELECT * FROM t WHERE len(toks) > 0),
        |m AS (
        |  SELECT x.doc_id AS doc_id, min(y.doc_id) AS dup_of
        |  FROM tt x JOIN tt y
        |    ON (y.b < x.b OR (y.b = x.b AND y.doc_id < x.doc_id))
        |   AND len(list_intersect(x.toks, y.toks)) * 1.0 /
        |       (len(x.toks) + len(y.toks) - len(list_intersect(x.toks, y.toks))) >= 0.8
        |  GROUP BY x.doc_id)
        |SELECT tt.doc_id, coalesce(m.dup_of, -1) AS dup_of
        |FROM tt LEFT JOIN m ON tt.doc_id = m.doc_id
        |ORDER BY tt.doc_id""".stripMargin

  // lazy: oraclesBase is declared below (keeping the big literal where it
  // always was) and object vals initialize in declaration order
  lazy val oracles: Map[String, String] = oraclesBase ++ Map(
    // q244 runs q49's pipeline with the salted-shuffle probe regime armed
    // through the session conf — bag-equal to the broadcast probe, so the
    // oracle is q49's verbatim. q245/q246 run q56's/q115's pipelines on
    // the transaction-log state backend — backend choice must be
    // invisible, so each shares its directory-backend sibling's oracle.
    "q244_salted_dedup" -> streamDedupOracle,
    "q245_txnlog_semantic_dedup" -> oraclesBase("q56_stream_semantic_dedup"),
    "q246_txnlog_spans" -> oraclesBase("q115_stream_spans"))

  private val oraclesBase: Map[String, String] = Map(
    // offset-provenance replay: the publish layout is a pure function of
    // the feed (partition = v mod 3, file = (k div 10) mod 2 + 1, line =
    // 0-based k-rank within the file), so the oracle reconstructs the
    // exact (partition, file, line) every record was consumed from
    "q241_replaylog_join" ->
      """WITH sel AS (
        |  SELECT o_orderkey AS k, o_custkey AS v FROM orders
        |  WHERE o_orderkey % 10 = 7 ORDER BY o_orderkey LIMIT 2000),
        |f AS (
        |  SELECT k, v,
        |         CAST(v % 3 AS INT) AS log_part,
        |         CAST((k // 10) % 2 + 1 AS BIGINT) AS file_seq
        |  FROM sel),
        |l AS (
        |  SELECT k, v, log_part, file_seq,
        |         CAST(row_number() OVER (PARTITION BY log_part, file_seq ORDER BY k) - 1
        |              AS BIGINT) AS line_no
        |  FROM f)
        |SELECT l.k AS o_orderkey, l.v AS o_custkey, l.log_part, l.file_seq,
        |       l.line_no, c.c_mktsegment
        |FROM l JOIN customer c ON c.c_custkey = l.v
        |ORDER BY o_orderkey""".stripMargin,

    // chunk from the doc-id seq-range formula; promotion batch = first
    // chunk whose cumulative distinct-doc count reaches the floor, n_docs
    // = the cumulative count at that batch's end
    "q194_stream_boilerplate" ->
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |d AS (
        |  SELECT source, doc_id, text,
        |         least((doc_id - b.lo) // ((b.hi - b.lo) // 4 + 1), 3) AS chunk
        |  FROM documents, b),
        |seg AS (
        |  SELECT DISTINCT source, doc_id, chunk, trim(s[i]) AS line
        |  FROM (SELECT source, doc_id, chunk, string_split(text, ' ') AS s FROM d),
        |       unnest(range(1, len(s) + 1)) r(i)
        |  WHERE length(trim(s[i])) > 0),
        |pc AS (
        |  SELECT source, line, chunk, CAST(count(*) AS BIGINT) AS c
        |  FROM seg GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT source, line, chunk,
        |         sum(c) OVER (PARTITION BY source, line ORDER BY chunk) AS cum
        |  FROM pc),
        |promo AS (
        |  SELECT source, line, min(CASE WHEN cum >= 20 THEN chunk END) AS batch
        |  FROM cum GROUP BY source, line)
        |SELECT CAST(p.batch AS INT) AS batch, p.source, p.line,
        |       CAST(c.cum AS BIGINT) AS n_docs
        |FROM promo p
        |JOIN cum c ON c.source = p.source AND c.line = p.line AND c.chunk = p.batch
        |WHERE p.batch IS NOT NULL
        |ORDER BY p.source, p.line""".stripMargin,

    // chunking replayed from the seq-range formula; cumulative distinct
    // = first-seen batch per key
    // chunk replay by seq range, cumulative arm counts per batch, the
    // q235 two-term goodness-of-fit floors
    "q240_stream_srm" ->
      """WITH e AS (
        |  SELECT CASE WHEN user_id % 2 = 1 THEN 'a' ELSE 'b' END AS g,
        |         epoch_us(ts) AS tus
        |  FROM events),
        |bnd AS (SELECT min(tus) AS lo, max(tus) AS hi FROM e),
        |c AS (
        |  SELECT g,
        |         CAST(least((tus - bnd.lo) // ((bnd.hi - bnd.lo) // 4 + 1), 3)
        |           AS INT) AS batch
        |  FROM e, bnd),
        |d AS (SELECT batch, g, CAST(count(*) AS BIGINT) AS dn
        |      FROM c GROUP BY batch, g),
        |bs AS (SELECT DISTINCT batch AS b FROM d),
        |cum AS (
        |  SELECT bs.b,
        |         CAST(coalesce(sum(CASE WHEN g = 'a' THEN dn END), 0) AS BIGINT)
        |           AS n_a,
        |         CAST(coalesce(sum(CASE WHEN g = 'b' THEN dn END), 0) AS BIGINT)
        |           AS n_b
        |  FROM d JOIN bs ON d.batch <= bs.b GROUP BY bs.b),
        |fin AS (
        |  SELECT b, n_a, n_b,
        |         (1000000 * (n_a::HUGEINT * 2 - (n_a + n_b))
        |                  * (n_a::HUGEINT * 2 - (n_a + n_b)))
        |         // (2 * (n_a + n_b)::HUGEINT)
        |         + (1000000 * (n_b::HUGEINT * 2 - (n_a + n_b))
        |                    * (n_b::HUGEINT * 2 - (n_a + n_b)))
        |         // (2 * (n_a + n_b)::HUGEINT) AS srm
        |  FROM cum)
        |SELECT b AS batch, n_a, n_b,
        |       CAST((1000000 * n_a) // (n_a + n_b) AS BIGINT) AS a_share_ppm,
        |       CAST(srm AS BIGINT) AS srm_ppm, srm > 10830000 AS srm_alarm
        |FROM fin ORDER BY batch""".stripMargin,

    // chunk replay by seq range, batch-0 calibration, per-batch as-of
    // snapshots, the prefix-sum-minus-prefix-min CUSUM identity
    "q211_stream_cusum" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS bucket, epoch_us(ts) AS tus
        |  FROM events),
        |bnd AS (SELECT min(tus) AS lo, max(tus) AS hi FROM e),
        |c AS (
        |  SELECT bucket,
        |         CAST(least((tus - bnd.lo) // ((bnd.hi - bnd.lo) // 4 + 1), 3)
        |           AS INT) AS batch
        |  FROM e, bnd),
        |d AS (SELECT batch, bucket, CAST(count(*) AS BIGINT) AS dx
        |      FROM c GROUP BY batch, bucket),
        |hh AS (
        |  SELECT (1 * sum(dx)) // (1 * count(DISTINCT bucket)) AS ref,
        |         ((1 * sum(dx)) // (1 * count(DISTINCT bucket))) // 2 AS h
        |  FROM d WHERE batch = 0),
        |bs AS (SELECT DISTINCT batch AS b FROM d),
        |snap AS (
        |  SELECT bs.b, d.bucket, CAST(sum(dx) AS BIGINT) AS x
        |  FROM d JOIN bs ON d.batch <= bs.b GROUP BY bs.b, d.bucket),
        |p AS (
        |  SELECT b, bucket, x,
        |         sum(x - ref) OVER (PARTITION BY b ORDER BY bucket) AS p, h
        |  FROM snap, hh),
        |m AS (
        |  SELECT b, bucket, x, p, h,
        |         min(p) OVER (PARTITION BY b ORDER BY bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mb
        |  FROM p)
        |SELECT b AS batch, bucket AS t, x,
        |       CAST(p - least(0, p, coalesce(mb, p)) AS BIGINT) AS cusum,
        |       (p - least(0, p, coalesce(mb, p))) > h AS alarm
        |FROM m ORDER BY batch, t""".stripMargin,

    "q178_stream_constraints" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT min(tus) AS lo, max(tus) AS hi FROM e),
        |c AS (
        |  SELECT user_id, event_type, cents,
        |         CAST(least((tus - b.lo) // ((b.hi - b.lo) // 4 + 1), 3) AS INT) AS batch
        |  FROM e, b),
        |pb AS (
        |  SELECT batch, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (WHERE cents < 2500) AS BIGINT) AS c0,
        |         CAST(count(*) FILTER (WHERE event_type IN
        |           ('signup', 'view', 'click', 'purchase')) AS BIGINT) AS c1
        |  FROM c GROUP BY batch),
        |fs AS (SELECT user_id, min(batch) AS fb FROM c GROUP BY user_id),
        |nw AS (SELECT fb AS batch, CAST(count(*) AS BIGINT) AS nk FROM fs GROUP BY fb),
        |cum AS (
        |  SELECT pb.batch, pb.n, pb.c0, pb.c1,
        |         CAST((SELECT sum(n) FROM pb p2 WHERE p2.batch <= pb.batch) AS BIGINT) AS cumn,
        |         CAST((SELECT COALESCE(sum(nk), 0) FROM nw
        |               WHERE nw.batch <= pb.batch) AS BIGINT) AS cumd
        |  FROM pb)
        |SELECT * FROM (
        |  SELECT batch, 'cents_under_2500' AS "check", c0 * 10000 // n AS metric_bp,
        |         CAST(2000 AS BIGINT) AS threshold_bp, c0 * 10000 // n >= 2000 AS pass
        |  FROM cum
        |  UNION ALL
        |  SELECT batch, 'type_known', c1 * 10000 // n, 7500, c1 * 10000 // n >= 7500
        |  FROM cum
        |  UNION ALL
        |  SELECT batch, 'cumulative_unique', cumd * 10000 // cumn, 100,
        |         cumd * 10000 // cumn >= 100
        |  FROM cum)
        |ORDER BY batch, "check"""".stripMargin,

    // the view over the last-writer-wins snapshot: per user the final
    // change decides presence (error = delete) and (dim, cents)
    "q177_stream_ivm" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |w AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM e),
        |snap AS (
        |  SELECT user_id, event_type AS dim, cents
        |  FROM w WHERE rn = 1 AND event_type <> 'error')
        |SELECT dim, CAST(sum(cents) AS BIGINT) AS total,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM snap GROUP BY dim ORDER BY dim""".stripMargin,

    // the folded join-view deltas must equal the batch join of the two
    // last-writer-wins side snapshots
    "q186_stream_ivm_join" ->
      """WITH e AS (
        |  SELECT user_id % 50 AS jk,
        |         CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
        |         user_id AS pk, epoch_us(ts) AS seq, event_id AS tiebreak,
        |         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |         CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY side, pk ORDER BY seq DESC, tiebreak DESC) AS rn
        |  FROM e),
        |snap AS (SELECT jk, side, pk, v FROM w WHERE rn = 1 AND op <> 'delete'),
        |a AS (SELECT jk, pk AS a_pk, v AS a_val FROM snap WHERE side = 'a'),
        |b AS (SELECT jk, pk AS b_pk, v AS b_val FROM snap WHERE side = 'b')
        |SELECT jk, a_pk, b_pk, a_val, b_val
        |FROM a JOIN b USING (jk)
        |ORDER BY jk, a_pk, b_pk""".stripMargin,

    // last change per user decides presence (delete = click) and value —
    // the batch MERGE the seq-ordered incremental fold must equal
    "q164_stream_cdc" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
        |w AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, event_type AS value
        |FROM w WHERE rn = 1 AND event_type <> 'click'
        |ORDER BY user_id""".stripMargin,
    // epoch-day retention triangle — the batch definition the streamed
    // first-seen state must reproduce
    "q103_stream_cohorts" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, d FROM e),
        |c AS (
        |  SELECT f.cohort AS cohort_period,
        |         CAST(a.d - f.cohort AS BIGINT) AS "offset",
        |         CAST(count(*) AS BIGINT) AS n_users
        |  FROM a JOIN f USING (user_id) GROUP BY 1, 2),
        |w AS (
        |  SELECT cohort_period, "offset", n_users,
        |         max(CASE WHEN "offset" = 0 THEN n_users END)
        |           OVER (PARTITION BY cohort_period) AS cohort_size
        |  FROM c)
        |SELECT cohort_period, "offset", n_users,
        |       CAST(cohort_size AS BIGINT) AS cohort_size,
        |       (n_users * 10000) // cohort_size AS retention_bp
        |FROM w ORDER BY cohort_period, "offset"""".stripMargin,

    // identical to q90's batch replay — closed-once + last-open-snapshot
    // reassembly must equal the batch lag/lead windows
    "q102_stream_scd2" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
        |d AS (
        |  SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev,
        |         row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS rn
        |  FROM e),
        |c AS (SELECT user_id, tus, event_id, event_type FROM d
        |      WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, tus AS valid_from,
        |       COALESCE(lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id), -1)
        |         AS valid_to,
        |       COALESCE(lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id), -1) = -1
        |         AS is_current
        |FROM c ORDER BY user_id, valid_from""".stripMargin,

    // identical to q87's batch replay — the streamed state machine's
    // contract is equality with the batch funnel
    "q95_stream_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |s1 AS (
        |  SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.tus) AS t2
        |  FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.tus > s1.t1 AND e.tus <= s1.t1 + 604800000000
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.tus) AS t3
        |  FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.tus > s2.t2 AND e.tus <= s1.t1 + 604800000000
        |  GROUP BY e.user_id),
        |s4 AS (
        |  SELECT e.user_id, min(e.tus) AS t4
        |  FROM e JOIN s1 USING (user_id) JOIN s3 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tus > s3.t3 AND e.tus <= s1.t1 + 604800000000
        |  GROUP BY e.user_id)
        |SELECT s1.user_id,
        |       s1.t1,
        |       COALESCE(s2.t2, -1) AS t2,
        |       COALESCE(s3.t3, -1) AS t3,
        |       COALESCE(s4.t4, -1) AS t4,
        |       CAST(1 + (s2.t2 IS NOT NULL)::INT + (s3.t3 IS NOT NULL)::INT
        |              + (s4.t4 IS NOT NULL)::INT AS BIGINT) AS reached
        |FROM s1
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |LEFT JOIN s4 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q84_stream_cms" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM t),
        |c AS (
        |  SELECT tok, r.r AS r,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(CAST(r.r AS VARCHAR) || ':' || tok),
        |                             CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
        |             << CAST(4 * (7 - i) AS INT))) % 512 AS BIGINT) AS cell
        |  FROM t, range(0, 4) r(r)),
        |sk AS (SELECT r, cell, count(*) AS cnt FROM c GROUP BY r, cell),
        |est AS (
        |  SELECT c.tok, CAST(min(sk.cnt) AS BIGINT) AS est
        |  FROM (SELECT DISTINCT tok, r, cell FROM c) c
        |  JOIN sk USING (r, cell) GROUP BY c.tok)
        |SELECT tok, est FROM est, n WHERE est >= n.n // 100 ORDER BY tok""".stripMargin,

    "q17_stream_semistream_join" ->
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // same oracle as q17: the join result is store-backend-invariant
    "q111_kv_pointfetch_join" ->
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q32_stream_event_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q33_stream_sliding_windows" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts)
        |           - s.shift * INTERVAL '30 minutes' AS ws,
        |         event_type, value
        |  FROM events, (VALUES (0), (1)) s(shift))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q34_json_ingest" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // arrival-order replay: chunk = ⌊md5-uniform(doc_id)·4⌋ (q46's
    // hex→uniform recipe); "seen earlier" = smaller chunk, or same chunk
    // and smaller id; dup_of = min earlier doc with exact Jaccard ≥ 0.8.
    // q243 runs the SAME pipeline through the transaction-log state
    // backend, so it shares this oracle verbatim: backend choice must be
    // invisible in the decisions.
    "q49_stream_dedup" -> streamDedupOracle,
    "q243_txnlog_dedup" -> streamDedupOracle,


    // q112's shingle pipeline + q49's MD5 arrival order: a shingle is hot
    // for a doc iff its occurrence count over batches ≤ the doc's batch
    // reaches minCount (cumulative per-batch window)
    "q115_stream_spans" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts,
        |         CAST(floor(
        |           CAST(list_sum(list_transform(range(0, 8), i ->
        |             CAST(instr('0123456789abcdef',
        |                        substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                  AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |             / 4294967296.0 * 4) AS INT) AS b
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, b, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(ts[i:i+4], ' ') AS shingle
        |  FROM d, unnest(range(1, greatest(len(ts) - 5 + 2, 1))) r(i)),
        |bc AS (SELECT shingle, b, count(*) AS cnt FROM sh GROUP BY 1, 2),
        |cum AS (
        |  SELECT shingle, b, sum(cnt) OVER (PARTITION BY shingle ORDER BY b) AS c
        |  FROM bc),
        |rep AS (
        |  SELECT sh.doc_id, sh.pos
        |  FROM sh JOIN cum ON sh.shingle = cum.shingle AND sh.b = cum.b
        |  WHERE cum.c >= 2),
        |isl AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM rep)
        |SELECT doc_id, min(pos) AS start_tok, max(pos) + 4 AS end_tok,
        |       CAST(count(*) AS BIGINT) AS n_shingles
        |FROM isl GROUP BY doc_id, g ORDER BY doc_id, start_tok""".stripMargin,

    // q115's MD5 batch assignment; a shingle is NEW in the batch where it
    // first appears (min b) — the strictly-earlier-state contract
    "q126_stream_novelty" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts,
        |         CAST(floor(
        |           CAST(list_sum(list_transform(range(0, 8), i ->
        |             CAST(instr('0123456789abcdef',
        |                        substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                  AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |             / 4294967296.0 * 4) AS INT) AS b
        |  FROM documents),
        |sh AS (
        |  SELECT b, array_to_string(ts[i:i+4], ' ') AS shingle
        |  FROM d, unnest(range(1, greatest(len(ts) - 5 + 2, 1))) r(i)),
        |tot AS (SELECT b, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY b),
        |dist AS (SELECT DISTINCT b, shingle FROM sh),
        |fb AS (SELECT shingle, min(b) AS fb FROM dist GROUP BY shingle),
        |agg AS (
        |  SELECT dist.b, CAST(count(*) AS BIGINT) AS n_distinct,
        |         CAST(sum(CASE WHEN fb.fb = dist.b THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM dist JOIN fb ON dist.shingle = fb.shingle GROUP BY dist.b)
        |SELECT CAST(tot.b AS BIGINT) AS batch, tot.n_shingles,
        |       agg.n_distinct, agg.n_new,
        |       CAST((10000 * agg.n_new) // agg.n_distinct AS BIGINT) AS novelty_bp
        |FROM tot JOIN agg ON tot.b = agg.b ORDER BY batch""".stripMargin,

    // q126's MD5 batch assignment; drift replayed with the operator's own
    // decomposition: Σ_{t∈batch} |cb·Nh − ch·Nb| + Nb·(Nh − Σ ch)
    "q134_stream_drift" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts,
        |         CAST(floor(
        |           CAST(list_sum(list_transform(range(0, 8), i ->
        |             CAST(instr('0123456789abcdef',
        |                        substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                  AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |             / 4294967296.0 * 4) AS INT) AS b
        |  FROM documents),
        |tk AS (SELECT b, unnest(ts) AS t FROM d),
        |bc AS (SELECT b, t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
        |nb AS (SELECT b, CAST(sum(c) AS BIGINT) AS nB,
        |              CAST(count(*) AS BIGINT) AS nDist
        |       FROM bc GROUP BY b),
        |nhh AS (SELECT b1.b,
        |               COALESCE((SELECT sum(nB) FROM nb b2 WHERE b2.b < b1.b), 0) AS nH
        |        FROM nb b1),
        |chx AS (SELECT cb.b, cb.t, cb.c, COALESCE(sum(h.c), 0) AS ch
        |        FROM bc cb LEFT JOIN bc h ON h.t = cb.t AND h.b < cb.b
        |        GROUP BY cb.b, cb.t, cb.c),
        |terms AS (
        |  SELECT chx.b,
        |         sum(abs(CAST(chx.c AS HUGEINT) * nhh.nH
        |                 - CAST(chx.ch AS HUGEINT) * nb.nB)) AS sumIn,
        |         CAST(sum(chx.ch) AS HUGEINT) AS chIn
        |  FROM chx JOIN nb ON nb.b = chx.b JOIN nhh ON nhh.b = chx.b
        |  GROUP BY chx.b)
        |SELECT CAST(nb.b AS BIGINT) AS batch, nb.nB AS n_tokens,
        |       nb.nDist AS n_distinct,
        |       CAST(CASE WHEN nhh.nH = 0 THEN 10000
        |                 ELSE (10000 * (terms.sumIn
        |                                + CAST(nb.nB AS HUGEINT) * (nhh.nH - terms.chIn)))
        |                      // (CAST(nb.nB AS HUGEINT) * nhh.nH) END AS BIGINT) AS drift_bp
        |FROM nb JOIN nhh ON nhh.b = nb.b JOIN terms ON terms.b = nb.b
        |ORDER BY batch""".stripMargin,

    // q126's MD5 batch assignment; qi_n = same-combo rows with batch <=
    // own batch (decision at own batch's close)
    "q157_stream_pareto" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |c0 AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
        |         CAST(-list_max(list_transform(list_distinct(toks),
        |           d -> len(list_filter(toks, x -> x = d)))) AS BIGINT) AS neg_top
        |  FROM t),
        |d AS (
        |  SELECT c0.*,
        |         CAST(floor(
        |           CAST(list_sum(list_transform(range(0, 8), i ->
        |             CAST(instr('0123456789abcdef',
        |                        substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                  AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |             / 4294967296.0 * 4) AS INT) AS b
        |  FROM c0),
        |bt AS (SELECT DISTINCT b FROM d),
        |v AS (
        |  SELECT DISTINCT bt.b AS batch, x.n_tokens, x.n_uniq, x.neg_top
        |  FROM bt JOIN d x ON x.b <= bt.b)
        |SELECT CAST(r.batch AS BIGINT) AS batch, r.n_tokens, r.n_uniq, r.neg_top
        |FROM v r
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM v x
        |  WHERE x.batch = r.batch
        |    AND x.n_tokens >= r.n_tokens AND x.n_uniq >= r.n_uniq
        |    AND x.neg_top >= r.neg_top
        |    AND (x.n_tokens > r.n_tokens OR x.n_uniq > r.n_uniq
        |         OR x.neg_top > r.neg_top))
        |ORDER BY batch, r.n_tokens, r.n_uniq, r.neg_top""".stripMargin,

    "q149_stream_decayed_topk" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS tsec FROM events),
        |bnd AS (SELECT min(tsec) AS lo, max(tsec) AS hi FROM e),
        |c AS (SELECT user_id, tsec,
        |             least((tsec - lo) // ((hi - lo) // 4 + 1), 3) AS ck
        |      FROM e, bnd),
        |bt AS (SELECT DISTINCT ck FROM c),
        |a AS (SELECT bt.ck AS batch, max(x.tsec // 86400) AS asof_gen
        |      FROM bt JOIN c x ON x.ck <= bt.ck GROUP BY bt.ck),
        |s AS (SELECT a.batch, x.user_id,
        |             CAST(count(*) AS BIGINT) AS n_window,
        |             CAST(sum(1::BIGINT << (14 - (a.asof_gen - (x.tsec // 86400))))
        |                  AS BIGINT) AS decayed
        |      FROM a JOIN c x
        |        ON x.ck <= a.batch
        |       AND a.asof_gen - (x.tsec // 86400) BETWEEN 0 AND 14
        |      GROUP BY a.batch, x.user_id),
        |r AS (SELECT batch, user_id, n_window, decayed,
        |             CAST(row_number() OVER (PARTITION BY batch
        |                    ORDER BY decayed DESC, user_id) AS BIGINT) AS rank
        |      FROM s)
        |SELECT CAST(batch AS BIGINT) AS batch, rank, user_id, n_window, decayed
        |FROM r WHERE rank <= 10 ORDER BY batch, rank""".stripMargin,

    "q143_stream_kanon" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |         CAST(floor(
        |           CAST(list_sum(list_transform(range(0, 8), i ->
        |             CAST(instr('0123456789abcdef',
        |                        substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                  AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |             / 4294967296.0 * 4) AS INT) AS b
        |  FROM documents),
        |cum AS (
        |  SELECT a.doc_id, a.b,
        |         CAST((SELECT count(*) FROM d x
        |               WHERE x.lang = a.lang AND x.source = a.source AND x.b <= a.b)
        |              AS BIGINT) AS qi_n
        |  FROM d a)
        |SELECT CAST(b AS BIGINT) AS batch, doc_id, qi_n < 5 AS suppressed, qi_n
        |FROM cum ORDER BY doc_id""".stripMargin,

    // q55's deterministic centroids/cells + q49's MD5 arrival order: dup_of
    // = min same-cell earlier-arriving vector at cosine >= tau
    "q56_stream_semantic_dedup" ->
      """WITH emb AS (
        |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e,
        |         CAST(floor(
        |           CAST(list_sum(list_transform(range(0, 8), i ->
        |             CAST(instr('0123456789abcdef',
        |                        substr(md5(CAST(vec_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                  AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |             / 4294967296.0 * 4) AS INT) AS b
        |  FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
        |         e AS c_e
        |  FROM emb
        |  QUALIFY cell <= 64),
        |asg AS (
        |  SELECT n_id, n_e, n_b, cell FROM (
        |    SELECT emb.vec_id AS n_id, emb.e AS n_e, emb.b AS n_b, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent) WHERE rn = 1),
        |m AS (
        |  SELECT x.n_id AS vec_id, min(y.n_id) AS dup_of
        |  FROM asg x JOIN asg y
        |    ON x.cell = y.cell
        |   AND (y.n_b < x.n_b OR (y.n_b = x.n_b AND y.n_id < x.n_id))
        |   AND list_cosine_similarity(x.n_e, y.n_e) >= 0.985
        |  GROUP BY x.n_id)
        |SELECT e.vec_id, coalesce(m.dup_of, -1) AS dup_of
        |FROM emb e LEFT JOIN m ON e.vec_id = m.vec_id
        |ORDER BY e.vec_id""".stripMargin,

    // identical to q63's batch-packing oracle: id-ordered arrival makes
    // streaming ≡ batch (the state is just each stream's running offset)
    "q71_stream_packing" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS stream,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, stream, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT doc_id, stream, n_tokens, tok_start,
        |  tok_start // 128 AS first_pack,
        |  (tok_start + greatest(n_tokens, 1) - 1) // 128 AS last_pack
        |FROM c ORDER BY doc_id""".stripMargin,

    // native ASOF JOIN; the right side deduped to max view_id per
    // (user_id, ts) — the operator's deterministic tiebreak. Both sides
    // compare in the MICROSECOND domain (epoch_us), matching the engine's
    // ns-div-1000 read path — full-ns comparison would flip <= ties if the
    // data ever carried sub-microsecond residue.
    "q53_asof_attribution" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS tus, value AS view_value
        |  FROM events WHERE event_type = 'view'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_us(ts)
        |                             ORDER BY event_id DESC) = 1),
        |c AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS tus
        |  FROM events WHERE event_type = 'click')
        |SELECT c.click_id, c.user_id,
        |       coalesce(v.view_id, -1) AS view_id,
        |       coalesce(v.view_value, -1.0) AS view_value
        |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.tus >= v.tus
        |ORDER BY c.click_id""".stripMargin,

    // microsecond domain on both sides (epoch_us(TIMESTAMP_NS) ==
    // the engine's ns-div-1000 read path, checked exact).
    "q54_range_attribution" ->
      """SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id
        |FROM events c JOIN events v
        |  ON c.event_type = 'click' AND v.event_type = 'view'
        | AND c.user_id = v.user_id
        | AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - 3600000000 AND epoch_us(c.ts)
        |ORDER BY 1, 3""".stripMargin,

    "q41_stream_simjoin" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS x_id, b.doc_id AS y_id,
        |       len(list_intersect(a.toks, b.toks)) AS inter,
        |       len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni
        |FROM tok a JOIN tok b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
        |ORDER BY 1, 2""".stripMargin)
}
