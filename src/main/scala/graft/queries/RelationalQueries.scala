package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.SemiStreamJoin

/** Relational operator coverage (SURVEY §2.2–§2.5, §2.9): scans, filters,
  * equi/semi/anti joins, the semi-stream hit/miss join, aggregations,
  * window functions, sorts/limits, set ops, sessionization and the
  * time-series delta/rolling-mean transforms (SURVEY M1/M2).
  *
  * Every query aliases output columns identically to its DuckDB oracle and
  * rounds floating aggregates (both sides) so the driver's hash compare is
  * stable across summation orders.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-shaped pricing summary: single wide scan, partial aggregation
    // (map-side combine) then one shuffle on the tiny group key space.
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Fact × small-dim join: `part` is broadcast — no shuffle of lineitem.
    "q2_join_revenue_by_brand" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    }),

    // TPC-H Q5-shaped snowflake join. Only the true dimensions
    // (nation/region — bounded, tiny) get a broadcast hint; orders and
    // customer are fact-scale (unbounded at 100 TB) and join on the shuffle
    // spine — AQE may still broadcast them at small SF, but never by decree.
    "q3_revenue_by_region_nation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    // Left-semi join (EXISTS): SURVEY S5's semi-join reduction shape.
    "q4_semi_join_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // Left-anti join (NOT EXISTS): SURVEY J4/J5 miss-side shape.
    "q5_anti_join_customers" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("bal"))
        .orderBy("c_mktsegment")
    }),

    // The DS-Join semi-stream path as a batch query: cache = 30% of `part`;
    // hits ∪ (misses ⋈ fetched) must equal the plain join (oracle).
    "q6_semistream_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p_partkey"), col("l_orderkey"), col("l_quantity"))
      val part = t(s, dir, "part")
      val cache = part.filter(pmod(col("p_partkey"), lit(10)) < 3)
      val r = SemiStreamJoin.joinWithStore(li, cache, part, "p_partkey")
      r.out.groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("p_brand")
    }),

    // Distinct keys (SURVEY A4).
    "q7_distinct_keys" -> ((s, dir) =>
      t(s, dir, "lineitem").select("l_partkey").distinct().orderBy("l_partkey")),

    // Per-group top-k (SURVEY W5): two-phase TopK — a plain
    // Window.partitionBy("o_orderpriority") would funnel all orders into 5
    // tasks; TopK shards phase 1 across the cluster.
    "q8_topk_per_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      graft.operators.TopK
        .perGroup(o, Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderpriority", "rk")
    }),

    // Bag union of two slices (SURVEY U1/J7).
    "q9_union_slices" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.filter(col("l_quantity") < 3)
      val b = li.filter(col("l_returnflag") === "R" && col("l_discount") > 0.09)
      a.unionByName(b)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // groupBy + HAVING (SURVEY A2/P8 frequency-table shape).
    "q10_brand_freq" -> ((s, dir) =>
      t(s, dir, "part")
        .groupBy("p_brand").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 10)
        .orderBy("p_brand")),

    // Tumbling event-time window aggregation (streaming W1 batch analogue).
    "q11_events_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("hour", "event_type")),

    // Global sort + limit (SURVEY W2): Spark plans TakeOrderedAndProject —
    // no full sort materialization.
    "q12_global_topk" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)),

    // Scalar function surface (SURVEY §2.6): string/math built-ins only —
    // everything stays inside whole-stage codegen.
    "q13_scalar_funcs" -> ((s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          length(col("p_name")).as("name_len"),
          upper(col("p_brand")).as("brand_uc"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          size(split(col("p_name"), " ")).as("n_tokens"),
          floor(col("p_retailprice")).cast("long").as("price_floor"),
          pmod(col("p_size"), lit(5)).as("size_mod"))
        .orderBy("p_partkey")),

    // Sessionization: gap > 30 min starts a new session (lag window).
    // event_id tiebreaks the window order — ts is µs-truncated on the Spark
    // side but ns-precise in DuckDB, so same-µs events need a deterministic
    // secondary key on both sides.
    "q14_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("gap_s",
          col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long"))
        .withColumn("brk", when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
        .filter(col("brk") === 1)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("user_id")
    }),

    // Rate-of-change transform (SURVEY M1): value − lag(value) per series.
    "q15_delta_transform" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .filter(col("user_id") < 10)
        .withColumn("delta", round(col("value") - lag(col("value"), 1).over(w), 4))
        .filter(col("delta").isNotNull)
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("delta"))
        .orderBy("user_id", "event_id")
    }),

    // Multi-width rolling mean (SURVEY M2 mean-index shape).
    "q16_rolling_mean" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
      val wn = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .filter(col("user_id") < 10)
        .withColumn("rn", row_number().over(wn))
        .withColumn("mean5", round(avg(col("value")).over(w), 4))
        .filter(col("rn") >= 5)
        .select("user_id", "rn", "mean5")
        .orderBy("user_id", "rn")
    })
  )

  /** Gap-fill pack: small reference aggregates with direct SQL oracles. */
  val gapDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CDC MERGE (round-11): base snapshot + keyed upsert/delete changelog
    // -> next snapshot via one map-side-combinable max(struct) winner
    // reduction and one full-outer key join (the minimal lakehouse MERGE
    // plan). Fixture exercises multi-version winners (k%6 gets r2 over
    // r1), deletes beating earlier upserts (k%15), deletes of absent
    // keys (k%20 ∩ k%4=0 base gaps), log-only inserts (k%12), and
    // untouched carry-through.
    // trec_eval rank metrics (round-12): each customer's orders ranked by
    // spend (bounded per-key window — orders-per-customer grain) form the
    // RUN; their urgent-priority orders form the QRELS. MRR/recall@10/
    // precision@10 per customer, exact fixed point — the general
    // rank-AWARE eval surface next to the index-specific recall
    // certificates.
    "q188_rank_eval" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val run = o.select(
        col("o_custkey").as("q"),
        col("o_orderkey").as("d"),
        row_number().over(
          Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("rnk"))
      val qrels = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("q"), col("o_orderkey").as("d"))
      graft.operators.RankEval.perQuery(run, qrels, "q", "d", "rnk", k = 10)
        .orderBy("q")
    }),

    // Theil–Sen robust trend (round-12): median pairwise slope of daily
    // event counts per event type — exact rational ordering (floor of
    // num·10¹²/den in decimal), lower median, deterministic ties; the
    // outlier-proof "is this stream trending" estimator.
    "q191_theilsen" -> ((s, dir) => {
      val pts = t(s, dir, "events")
        .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"))
      graft.operators.TheilSen.medianSlope(pts, "event_type", "day", "n")
        .orderBy("k")
    }),

    // Mergeable quantile sketch (round-12): bottom-128-by-md5 value
    // sample per event type, p50/p90/p99 estimates — the bounded-state,
    // merge-associative, DETERMINISTIC alternative to the exact histogram
    // path (KLL/GK compaction trees are arrival-order-dependent and
    // cannot be replayed by a SQL oracle; the min-k sample can).
    "q192_sketch_quantiles" -> ((s, dir) => {
      val o = t(s, dir, "events").select(
        col("event_type").as("g"),
        col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val sk = graft.operators.QuantileSketch.build(o, Seq("g"), "event_id", "cents", k = 128)
      graft.operators.QuantileSketch
        .quantiles(sk, Seq("g"), Seq((1L, 2L), (9L, 10L), (99L, 100L)))
        .orderBy("g", "q_num")
    }),

    // COEC position-bias-corrected CTR (round-12): impressions synthesized
    // from events (slot = event_id mod 10, click = value > 50); expected
    // clicks from the global per-position CTR in ppm, ratio in exact
    // basis points. One baseline groupBy + one item groupBy, no windows.
    "q193_coec" -> ((s, dir) => {
      val im = t(s, dir, "events").select(
        col("event_type").as("item"),
        (pmod(col("event_id"), lit(10)) + 1).as("pos"),
        (expr("CAST(round(value * 100) AS BIGINT)") > 5000L).cast("long").as("clk"))
      graft.operators.ClickModels.coec(im, "item", "pos", "clk").orderBy("item")
    }),

    // GDPR deletion-cascade audit (round-12): subjects = every 7th
    // customer; direct scrubs on customer/orders, the 2-hop cascade to
    // lineitem (which carries no customer key) by feeding the doomed
    // order keys as the child's subjects. One pass per table, left-join
    // audit + anti-join scrub from the same broadcastable subject set.
    "q196_forget_audit" -> ((s, dir) => {
      val subjects = t(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select("c_custkey")
      val customer = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val doomedOrders = orders.join(
        subjects.withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"), "left_semi")
      graft.operators.Forget
        .audit(subjects, "c_custkey",
          Seq(("customer", customer, "c_custkey"), ("orders", orders, "o_custkey")))
        .unionByName(graft.operators.Forget
          .audit(doomedOrders, "o_orderkey", Seq(("lineitem", li, "l_orderkey"))))
        .orderBy("table")
    }),

    // Interval-union measure (round-12): per-user sessions as
    // [ts, ts + (cents+1) ms] intervals — total covered time, island
    // count, largest gap via the gaps-and-islands running-max sweep
    // (per-key ordered window under the sessionization contract).
    "q197_interval_union" -> ((s, dir) => {
      val iv = t(s, dir, "events").select(
        col("user_id").as("k"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          (expr("CAST(round(value * 100) AS BIGINT)") + 1L) * 1000L).as("e"))
      graft.operators.Intervals.unionLength(iv, "k", "s", "e").orderBy("k")
    }),

    // Markov transition table (round-12): what users do after each event
    // type — per-user lead pairs (bounded keyed window), one
    // map-side-combinable pair count, exact basis-point conditionals.
    "q198_markov" -> ((s, dir) =>
      graft.operators.Transitions
        .matrix(
          t(s, dir, "events").withColumn("tus", unix_micros(col("ts"))),
          "user_id", "tus", "event_id", "event_type")
        .orderBy("state", "next")),

    // Kaplan–Meier survival (round-12): per-cohort retention curves over
    // user activity spans — duration = whole days between a user's first
    // and last event, event flag = the user ever errored (else
    // right-censored); grain-level suffix-sum risk sets, exact ppm
    // step-floored product.
    "q202_kaplan_meier" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          expr("(max(unix_micros(ts)) - min(unix_micros(ts))) div 86400000000")
            .as("t"),
          max(when(col("event_type") === "error", 1).otherwise(0)).as("e"))
        .select(pmod(col("user_id"), lit(3)).as("g"), col("t"), col("e"))
      graft.operators.Survival.kaplanMeier(u, "g", "t", "e")
        .orderBy("g", "t")
    }),

    // CUPED variance reduction (round-12): per-user pre-period activity
    // (first half of the timeline) as covariate for the post-period
    // metric, arms by user parity — pooled θ_ppm, per-arm adjusted means
    // and the Var(ŷ)/Var(y) reduction in bp, all from two
    // map-side-combinable moment aggregations.
    "q203_cuped" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val u = ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(
          sum(when(col("us") <= col("mid"), 1L).otherwise(0L)).as("x"),
          sum(when(col("us") > col("mid"), 1L).otherwise(0L)).as("y"))
        .select(pmod(col("user_id"), lit(2)).cast("string").as("arm"),
          col("x"), col("y"))
      graft.operators.Cuped.adjust(u, "arm", "x", "y").orderBy("arm")
    }),

    // Gini decision stump (round-12): does event value predict purchase?
    // Exact CART root-split scan — cent-quantized value grain, two
    // block-recursive prefix sums, one truncating division per
    // threshold; min(gini_ppm) is the trained stump.
    "q204_gini_stump" -> ((s, dir) => {
      val d = t(s, dir, "events").select(
        expr("CAST(round(value * 100) AS BIGINT)").as("x"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      graft.operators.GiniStump.splits(d, "x", "y").orderBy("v")
    }),

    // Mann–Whitney U (round-12): do click events carry different values
    // than views? Exact tie-corrected rank-sum at doubled-rank scale —
    // value-grain histogram, one block-recursive prefix sum, one
    // single-row aggregate; CLES ppm is the A-beats-B AUC.
    "q205_mann_whitney" -> ((s, dir) => {
      val d = t(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(
          col("event_type").as("g"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      graft.operators.MannWhitney.uTest(d, "g", "v", "click", "view")
    }),

    // CUSUM change-point (round-12): daily event volume vs the series'
    // own mean level — the sequential max(0, S+x−ref) recursion
    // distributed as prefix-sum minus prefix-min, both block-recursive
    // scans; alarm at h = ref/2 above tolerance.
    "q206_cusum" -> ((s, dir) => {
      val d = t(s, dir, "events").select(
        expr("unix_micros(ts) div 86400000000").as("day"),
        lit(1L).as("one"))
      graft.operators.ChangePoint
        .cusumMeanRef(d, "day", "one", hNum = 1L, hDen = 2L)
        .orderBy("t")
    }),

    // AMS F2 sketch vs exact (round-12): 16 tug-of-war counters over
    // lineitem part keys — self-join size estimation from fixed-size
    // mergeable state, shipped next to the exact Σf² so the estimate's
    // quality is IN the oracled output.
    "q200_ams_f2" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"))
      val est = graft.operators.AmsSketch.f2Estimate(
        graft.operators.AmsSketch.build(li, "l_partkey", 16))
      val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * n")).cast("long").as("f2_exact"))
      est.crossJoin(exact)
    }),

    // AGMS join-size estimation (round-12): how many click×purchase
    // attribution pairs WOULD a per-user join produce? Two 32-counter
    // tug-of-war sketches, inner product — the planner's
    // broadcast-vs-salt number from s-row state, shipped next to the
    // exact Σ clicks(u)·purchases(u).
    "q207_join_size" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.filter(col("event_type") === "click").select(col("user_id"))
      val b = ev.filter(col("event_type") === "purchase").select(col("user_id"))
      val est = graft.operators.AmsSketch.joinSizeEstimate(
        graft.operators.AmsSketch.build(a, "user_id", 32),
        graft.operators.AmsSketch.build(b, "user_id", 32))
      val exact = a.groupBy("user_id").agg(count(lit(1)).as("na"))
        .join(b.groupBy("user_id").agg(count(lit(1)).as("nb")), "user_id")
        .agg(coalesce(sum(expr("na * nb")), lit(0L)).cast("long").as("exact_size"))
      est.crossJoin(exact)
    }),

    // Robust means (round-12): trimmed vs winsorized vs plain mean of
    // event value cents per type at 10% per tail — value-grain rank
    // arithmetic, per-group windows, everything floored in ppm; the
    // three-way spread is the tail-weight diagnostic.
    "q208_robust_mean" -> ((s, dir) => {
      val d = t(s, dir, "events").select(
        col("event_type").as("g"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      graft.operators.RobustMean.trimmed(d, "g", "v", trimBp = 1000).orderBy("g")
    }),

    // Sequential trigram mining (round-12): three-step behavior patterns
    // vs the q198 first-order chain — surprise_bp = 10⁴·n_abc·n_b· /
    // (n_ab·n_bc), 10000 = chain-predicted; support counts distinct
    // users; alphabet-bounded relations after one keyed lag window.
    "q209_seq_patterns" -> ((s, dir) =>
      graft.operators.SeqPatterns
        .trigramSurprise(
          t(s, dir, "events").withColumn("tus", unix_micros(col("ts"))),
          "user_id", "tus", "event_id", "event_type", minSupport = 3L)
        .orderBy("a", "b", "c")),

    // Weighted exact quantiles (round-12): quantity-weighted price
    // percentiles per return flag — weights sum into the value grain so
    // the rank read-off still touches only the histogram; ⌈q·W⌉
    // thresholds in exact integer num/den arithmetic.
    "q210_weighted_quantiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("w"))
      graft.operators.Quantiles.weighted(li, "g", "v", "w",
          Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L), ("p95", 19L, 20L)))
        .orderBy("g")
    }),

    // Negative sampling (round-12): 8 deterministic non-purchased parts
    // per customer from the dense part space — md5 hash-draws off the
    // distinct-user relation, one anti-join, k lowest surviving draw
    // indices; the user×item complement never materializes.
    "q213_negative_sampling" -> ((s, dir) => {
      val inter = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), (col("l_partkey") + 1L).as("i"))
      val nItems = t(s, dir, "part").count()
      graft.operators.NegativeSampling
        .sample(inter, "u", "i", numItems = nItems, k = 8, oversample = 4)
        .orderBy("user", "draw")
    }),

    // Concentration / Lorenz-Gini (round-12): how unevenly is event
    // volume spread over users — the 80/20 report off the
    // count-of-counts histogram (no entity ranking anywhere), exact
    // Gini in ppm repeated per Lorenz row.
    "q214_concentration" -> ((s, dir) =>
      graft.operators.Concentration
        .lorenz(t(s, dir, "events").select(col("user_id").as("e")), "e")
        .orderBy("t")),

    // Difference-in-differences (round-12): odd users "treated", halves
    // of the timeline as pre/post, zero-filled (user, period) activity
    // cells — the shared trend nets out of the four floored cell means;
    // one aggregation to the 2×2 grid.
    "q217_diff_in_diff" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val cnt = ev.crossJoin(broadcast(mid))
        .groupBy(
          col("user_id"),
          when(col("us") <= col("mid"), "pre").otherwise("post").as("period"))
        .agg(count(lit(1)).as("y"))
      val full = ev.select("user_id").distinct()
        .select(col("user_id"),
          explode(array(lit("pre"), lit("post"))).as("period"))
        .join(cnt, Seq("user_id", "period"), "left")
        .na.fill(0L, Seq("y"))
        .select(
          when(pmod(col("user_id"), lit(2)) === 1, "t").otherwise("c").as("arm"),
          col("period"), col("y"))
      graft.operators.DiffInDiff
        .estimate(full, "arm", "period", "y", "t", "c", "pre", "post")
    }),

    // Burstiness (round-12): Fano factor of per-hour event counts per
    // user over the data's full hour domain (empty hours count) — 10⁶ =
    // Poisson, above = bursty; the payload-free automation fingerprint.
    "q218_burstiness" -> ((s, dir) =>
      graft.operators.Burstiness
        .fano(
          t(s, dir, "events").select(
            col("user_id").as("k"),
            expr("unix_micros(ts) div 3600000000").as("b")),
          "k", "b")
        .orderBy("k")),

    // HITS (round-12): hub/authority over the customer→supplier purchase
    // graph (supplier ids offset out of the customer key space) — two
    // unrolled unnormalized iterations, exact integer walk counts;
    // authorities = suppliers bought by well-connected customers.
    "q219_hits" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
      graft.operators.Hits.scores(e, iters = 2).orderBy("id")
    }),

    // Bucketed co-located join (round-14, verdict task 4): the D1
    // zero-Exchange contract as a DRIVER-VISIBLE query, not just a spec.
    // Both sides are written bucketed on the join key (16 buckets), the
    // sort-merge join plan is asserted shuffle-free BEFORE execution
    // (any Exchange in the join plan errors the query → a red
    // CORRECTNESS row), and the asserted count ships as a compared
    // output column — the plan shape itself is hash-checked.
    "q242_bucketed_join_plan" -> ((s, dir) => {
      val wh = graft.streaming.SemiStreamRuntime.tempDir("q242-wh-").toString
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val liT = s"q242_li_$tag"
      val pT = s"q242_part_$tag"
      t(s, dir, "lineitem")
        .filter(pmod(col("l_partkey"), lit(5)) === 0)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"))
        .write.option("path", s"$wh/li").bucketBy(16, "l_partkey").saveAsTable(liT)
      t(s, dir, "part").select("p_partkey", "p_brand")
        .write.option("path", s"$wh/part").bucketBy(16, "p_partkey").saveAsTable(pT)
      try {
        val joined = s.table(liT).hint("merge")
          .join(s.table(pT), col("l_partkey") === col("p_partkey"))
        val nEx = "Exchange".r
          .findAllIn(joined.queryExecution.executedPlan.toString).length
        if (nEx != 0) throw new IllegalStateException(
          s"q242: bucketed join must be shuffle-free (D1), found $nEx Exchange node(s)")
        joined.groupBy("p_brand")
          .agg(sum("qty").as("sum_qty"), count(lit(1)).as("n"))
          .withColumn("join_exchanges", lit(nEx).cast("long"))
          .orderBy("p_brand")
          .transform(graft.core.Materialize.apply)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $liT")
        s.sql(s"DROP TABLE IF EXISTS $pT")
        val p = java.nio.file.Paths.get(wh)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      }
    }),

    // Rank-biased overlap (round-13): price-ranked vs recency-ranked
    // order lists per customer at depth 10, p = 9/10 — the top-weighted
    // "did the ranking actually change" metric q188's label-based
    // precision cannot ask; overlap via the max(rx, ry) histogram, one
    // equi-join, driver-literal weights.
    "q233_rbo" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def ranked(ord: Column) = o.select(
        col("o_custkey").as("q"),
        col("o_orderkey").as("d"),
        row_number().over(
          Window.partitionBy("o_custkey").orderBy(ord, col("o_orderkey")))
          .as("rnk"))
      graft.operators.Rbo.perQuery(
        ranked(col("o_totalprice").desc),
        ranked(col("o_orderdate").desc),
        "q", "d", "rnk", k = 10)
        .orderBy("q")
    }),

    // Covariate balance (round-13): was q224's odd/even user split
    // balanced on pre-treatment activity? Exact squared SMD of per-user
    // event counts across arms — the randomization-health gate that
    // must pass before any CUPED/DiD/z² readout is trusted;
    // smd2_ppm < 10⁴ ⇔ |SMD| < 0.1.
    "q234_balance" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("x"))
        .select(
          when(pmod(col("user_id"), lit(2)) === 1, "a").otherwise("b").as("g"),
          col("x"))
      graft.operators.Balance.smd(u, "g", "x", "a", "b")
    }),

    // Sample-ratio mismatch (round-13): did q224's odd/even user split
    // actually deliver 1:1? The gate every experiment platform runs
    // FIRST — goodness-of-fit χ² against the DESIGN ratio in exact ppm,
    // alarm at the p < 10⁻³ practice bar (10.83·10⁶).
    "q235_srm" -> ((s, dir) => {
      val u = t(s, dir, "events").select("user_id").distinct()
        .select(
          when(pmod(col("user_id"), lit(2)) === 1, "a").otherwise("b").as("g"))
      graft.operators.SampleRatio.check(u, "g", "a", "b")
    }),

    // Mann–Kendall (round-13): is daily event volume monotonically
    // drifting? Distribution-free trend score over the bounded day
    // grain — S from the triangular grain² pair join, tie-corrected
    // variance at 18× scale, z² in exact ppm vs χ²₁ (the q224
    // convention). Complements q191's Theil–Sen slope (magnitude) and
    // q206's CUSUM (level shift) with drift significance.
    "q231_mann_kendall" -> ((s, dir) =>
      graft.operators.TrendTest.mannKendall(
        t(s, dir, "events").groupBy(
          expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("x")),
        "day", "x")),

    // Benford audit (round-13): do lineitem prices obey the first-digit
    // law? Cent-scale positive amounts, digits by string head (no
    // log/pow float path), per-digit χ² contribs against the FIXED ppm
    // expectation table — the accounting-forensics tripwire for any
    // amount column from an untrusted pipeline.
    "q232_benford" -> ((s, dir) =>
      graft.operators.Benford.firstDigit(
        t(s, dir, "lineitem").select(
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")),
        "cents")
        .orderBy("d")),

    // Converged HITS (round-13): the q219 purchase graph run to a FIXED
    // POINT — ppm-of-max renormalization after each update half keeps
    // magnitudes in [0, 10^6] for any iteration count (q219's unrolled
    // walk hits its width ceiling at k = 4); four rounds, exact floors,
    // the top authority/hub pinned at exactly 10^6.
    "q226_hits_converged" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
      graft.operators.Hits.normalizedScores(e, iters = 4).orderBy("id")
    }),

    // Bipartite projection (round-12): the supplier co-purchase graph —
    // customer-wedge join with the power-user cap, map-side-combined
    // shared counts, coincidence pairs pruned in the aggregation.
    "q222_bipartite_project" -> ((s, dir) => {
      val inter = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_suppkey").as("i"))
      graft.operators.BipartiteProject
        .project(inter, "u", "i", minShared = 3L, maxUserDegree = 10000)
        .orderBy("i", "j")
    }),

    // Exponential smoothing (round-12): one-step-ahead forecasts of
    // daily event volume per type at alpha = 1/4, integer-exact at 4x
    // scale — each row reports the PRIOR level (honest backtest) and
    // its signed error.
    "q223_exp_smoothing" -> ((s, dir) =>
      graft.operators.ExpSmoothing
        .ema(
          t(s, dir, "events").select(
            col("event_type").as("k"),
            expr("unix_micros(ts) div 86400000000").as("t"),
            lit(1L).as("x")),
          "k", "t", "x", kLog2 = 2)
        .orderBy("k", "t")),

    // Two-proportion z-test (round-12): do odd and even users purchase
    // at different rates? The pooled z² as ONE exact rational in ppm —
    // compare against χ²₁ critical values (3.84e6 ⇔ p < 0.05) with no
    // floats anywhere.
    "q224_two_proportion" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .cast("long").as("y"))
        .select(
          when(pmod(col("user_id"), lit(2)) === 1, "a").otherwise("b").as("g"),
          col("y"))
      graft.operators.Proportions.zTest(u, "g", "y", "a", "b")
    }),

    // Two-sample KS distance (round-12): click vs view value
    // distributions — the ordered-value drift test q187's bucket shares
    // dilute; exact numerator over the merged value grain, two
    // block-recursive prefix passes.
    "q225_ks_distance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def side(tp: String) = ev.filter(col("event_type") === tp)
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      graft.operators.Drift.ksStatistic(side("click"), side("view"), "v")
    }),

    // Trending rank-delta (round-11): top-25 users by event count in
    // each timeline half, full-outer joined — (rank_prev, rank_now,
    // entered/left) is the "what's moving" report a decayed-top-k
    // dashboard renders. Two-phase TopK per period, no global sort.
    "q182_trending_delta" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("tus", unix_micros(col("ts")))
      val b = e.agg(min("tus"), max("tus")).head()
      val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      val counted = e
        .withColumn("period", when(col("tus") < mid, lit("prev")).otherwise(lit("now")))
        .groupBy("period", "user_id")
        .agg(count(lit(1)).as("n"))
      val ranked = graft.operators.TopK.perGroup(
        counted, Seq("period"),
        Seq(col("n").desc, col("user_id").asc), 25, rankCol = "rk")
      val prev = ranked.filter(col("period") === "prev")
        .select(col("user_id"), col("rk").as("rank_prev"))
      val now = ranked.filter(col("period") === "now")
        .select(col("user_id"), col("rk").as("rank_now"))
      prev.join(now, Seq("user_id"), "full_outer")
        .select(
          col("user_id"),
          col("rank_prev").cast("long").as("rank_prev"),
          col("rank_now").cast("long").as("rank_now"),
          (coalesce(col("rank_prev"), lit(26L)) -
            coalesce(col("rank_now"), lit(26L))).cast("long").as("delta"))
        .orderBy("user_id")
    }),

    // Tukey IQR fences (round-11): the boxplot outlier rule next to
    // q92's MAD flag — exact percentile_disc quartiles per priority,
    // fence decisions as pure longs (×kDen, no division).
    "q181_iqr_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        col("event_id"),
        col("event_type").as("ty"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      graft.operators.Anomaly.iqrOutliers(e, "ty", "cents")
        .select("event_id", "ty", "cents", "q1", "q3")
        .orderBy("event_id")
    }),

    // Window-function catalog (round-11 breadth): the full SQL window
    // surface a migrating user expects — lag/lead with offsets, ntile,
    // percent_rank, cume_dist, nth_value, framed first/last — in one
    // oracled projection. Ratios are single divisions of the same
    // integers in both engines (no summation-order float risk).
    "q176_window_catalog" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id") < 20)
        .withColumn("tus", unix_micros(col("ts")))
      val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev.select(
          col("user_id"), col("event_id"),
          row_number().over(w).cast("long").as("rn"),
          lag("event_type", 1).over(w).as("prev_type"),
          lead("event_type", 2).over(w).as("next2_type"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"),
          nth_value(col("event_type"), 3).over(full).as("third_type"),
          first(col("event_type")).over(full).as("first_type"),
          last(col("event_type")).over(full).as("last_type"))
        .orderBy("user_id", "rn")
    }),

    // Bitemporal history (round-11): the q90 dimension history AS KNOWN
    // at transaction time T — each change commits 1-97 hours after its
    // valid time (synthetic ingest lag), and the snapshot at the 70th
    // percentile of the tx range hides the not-yet-committed tail.
    // Valid time orders intervals; transaction time only gates
    // visibility.
    "q175_bitemporal" -> ((s, dir) => {
      val ch = t(s, dir, "events").select(
        col("user_id"),
        unix_micros(col("ts")).as("tus"),
        col("event_id"),
        col("event_type"),
        (unix_micros(col("ts")) +
          (pmod(col("event_id"), lit(97)) + 1) * 3600000000L).as("txus"))
      val b = ch.agg(min("txus"), max("txus")).head()
      val asOf = b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 7L / 10L
      graft.operators.Scd.asKnownAt(
          ch, "user_id", "tus", "txus", "event_id", Seq("event_type"), asOf)
        .orderBy("user_id", "valid_from")
    }),

    // MATCH_RECOGNIZE-lite (round-11): each user's events spell a symbol
    // string in (ts, id) order; a regex over symbols finds CEP matches —
    // here "two or more views, an optional click, then a purchase".
    // Row-pattern recognition (SQL:2016) without a window chain.
    "q172_event_pattern" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("tus", unix_micros(col("ts")))
      graft.operators.EventPattern.matchPattern(
          ev, "user_id", "tus", "event_id", "event_type",
          symbols = Map(
            "signup" -> "s", "view" -> "v", "click" -> "c", "purchase" -> "p"),
          pattern = "v{2,}c?p")
        .orderBy("user_id")
    }),

    // Multi-touch attribution (round-11): view/click touches credit the
    // NEXT purchase of the same user within 7 days, in exact basis
    // points (Σ = 10000 per conversion; floor remainders to the earliest
    // touches). Windowed assignment — one user exchange, no range join.
    // Linear and U-shaped models side by side.
    "q169_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("tus", unix_micros(col("ts")))
      def run(model: String) = graft.operators.Attribution.multiTouch(
        ev, "user_id", "tus", "event_id", "event_type",
        touchTypes = Seq("view", "click"), convType = "purchase",
        windowUs = 7L * 24 * 3600 * 1000000, model = model)
        .withColumn("model", lit(model))
      run("linear").unionByName(run("u"))
        .orderBy("model", "user_id", "conv_tus", "conv_id", "touch_rank")
    }),

    // Deequ-shaped constraint validation (round-11): eight declarative
    // checks compile into ONE scan-level aggregation (melted via stack +
    // broadcast spec join), two uniqueness groupings, and one FK
    // anti-join — passes scale with check KINDS, not check count.
    "q165_constraints" -> ((s, dir) => {
      import graft.operators.Constraints._
      val o = t(s, dir, "orders")
      graft.operators.Constraints.validate(o, Seq(
          Complete("o_custkey", 9999L),
          InRange("o_custkey", 1L, 100000000L, 10000L),
          InSet("o_orderstatus", Seq("F", "O", "P"), 10000L),
          MatchesRegex("o_orderpriority", "^[1-5]-", 10000L),
          RowCount(1L, 100000000L),
          Unique("o_orderkey"),
          Unique("o_custkey", 1L),
          ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
        .orderBy("check", "target")
    }),

    "q162_cdc_apply" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        col("o_custkey").as("cust"),
        col("o_orderstatus").as("status"))
      val base = o.filter(pmod(col("k"), lit(4)) =!= 0)
      val up1 = o.filter(pmod(col("k"), lit(3)) === 0).select(
        col("k"), lit(1L).as("seq"), lit("upsert").as("op"),
        col("cust"), concat(col("status"), lit("-r1")).as("status"))
      val up2 = o.filter(pmod(col("k"), lit(6)) === 0).select(
        col("k"), lit(2L).as("seq"), lit("upsert").as("op"),
        (col("cust") + 1000000L).as("cust"),
        concat(col("status"), lit("-r2")).as("status"))
      val del = o.filter(pmod(col("k"), lit(5)) === 0).select(
        col("k"), lit(3L).as("seq"), lit("delete").as("op"),
        lit(null).cast("long").as("cust"), lit(null).cast("string").as("status"))
      graft.operators.Cdc.applyChangelog(
          base, up1.unionByName(up2).unionByName(del),
          "k", "seq", "op", Seq("cust", "status"))
        .orderBy("k")
    }),
    // min/max/count/avg stats (SURVEY A5 — the multigroup stats pass as a
    // first-class query) + MSE between value and the global mean (A8).
    "q38_table_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // double sums are partition-order-dependent and can flip the last
      // rounded digit between engines (observed: 208.4444 vs 208.4443) —
      // aggregate exactly in DECIMAL, convert once at the end
      val qDec = col("l_quantity").cast("decimal(20,6)")
      val sqDec = pow(col("l_quantity") - lit(25.0), 2).cast("decimal(25,6)")
      li.agg(
          count(lit(1)).as("n"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          sum(qDec).as("sq"),
          sum(sqDec).as("ssq"))
        .select(
          col("n"),
          col("min_qty"),
          col("max_qty"),
          // exact sums, no division: ssq/n here is EXACTLY 208.44435 — a
          // perfect tie at the 4-decimal boundary, and engines break
          // rounding ties differently; the mean/MSE derive from (sum, n)
          col("sq").cast("double").as("sum_qty"),
          col("ssq").cast("double").as("sse_vs_25"))
    }),

    // Token canonicalization (SURVEY P6): sorted-token normal form, the
    // reference's `sortByValue` quicksort as one expression.
    "q39_canonicalize" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          concat_ws(" ",
            array_sort(filter(split(col("text"), " "), x => length(x) > 0)))
            .as("canonical"))
        .orderBy("doc_id")),

    // Java String.hashCode-compatible hash (SURVEY §2.6/§2.10): the
    // reference keys signatures by `(seg,i,l).hashCode`
    // (`BuildSig.scala:280`); this exposes the same 32-bit rolling hash as
    // an engine function so a migrating user gets identical keys. The
    // oracle re-implements the wrap-around arithmetic in SQL over
    // codepoints — identical to Java's UTF-16 units for all BMP text
    // (verified incl. accented chars); only surrogate pairs (non-BMP)
    // would diverge.
    "q40_java_hash" -> ((s, dir) => {
      graft.functions.JavaStringHash.register(s)
      t(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(
          col("doc_id"),
          graft.functions.JavaStringHash.java_hash(col("text")).cast("long").as("jhash"))
        .orderBy("doc_id")
    }),

    // Retention-cohort triangle over raw events: first-activity-day
    // cohorts × day offsets, sizes from the offset-0 row, basis-point
    // retention in exact integer floor division. Two hash aggs + one
    // user-keyed join; activity is deduplicated per (user, day) BEFORE
    // the join.
    "q83_retention_cohorts" -> ((s, dir) =>
      graft.operators.Cohorts
        .retention(t(s, dir, "events"), "user_id", "ts", "day", 1)
        .select(
          date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
          col("offset"),
          col("n_users"),
          col("cohort_size"),
          col("retention_bp"))
        .orderBy("cohort_day", "offset")),

    // Z-order clustering key (native codegen interleave): the Morton key
    // a table would be range-partitioned/sorted by so file min/max stats
    // prune on user_id AND time. The oracle replays the interleave as a
    // 31-term bit sum; ZOrderSpec pins the layout-locality win itself.
    "q86_zorder_layout" -> ((s, dir) => {
      graft.functions.InterleaveBits.register(s)
      t(s, dir, "events")
        .filter(col("event_id") < 500)
        .select(
          col("event_id"),
          graft.functions.InterleaveBits.interleave_bits(
            pmod(col("user_id"), lit(2147483648L)),
            pmod(expr("unix_micros(ts) div 1000000"), lit(2147483648L))).as("z"))
        .orderBy("event_id")
    }),

    // Ordered-step funnel: earliest signup → view → click → purchase per
    // user within 7 days of signup; each step a map-side-combined MIN
    // over a type-pruned slice, stitched by user-keyed joins. Exact µs
    // integer arithmetic end to end.
    "q87_funnel" -> ((s, dir) =>
      graft.operators.Funnel
        .analyze(
          t(s, dir, "events").withColumn("tus", unix_micros(col("ts"))),
          "user_id", "tus", "event_type",
          steps = Seq("signup", "view", "click", "purchase"),
          windowUs = 7L * 24 * 3600 * 1000000)
        .orderBy("user_id")),

    // SCD type-2 dimension history: each user's event_type treated as a
    // tracked attribute — no-op repeats compressed away, one validity
    // interval per effective change, −1 = open. Two windows over one
    // (key × time) sort; exact µs integers.
    "q90_scd2_history" -> ((s, dir) =>
      graft.operators.Scd
        .type2History(
          t(s, dir, "events").withColumn("tus", unix_micros(col("ts"))),
          "user_id", "tus", "event_id", Seq("event_type"))
        .orderBy("user_id", "valid_from")),

    // Zone-map data skipping over a z-ordered layout: 64 z-range buckets,
    // per-bucket min/max stats on BOTH interleaved dims, a 2-d range
    // query answered through bucket pruning + exact re-filter. Pruning
    // only over-approximates, so the oracle is the plain filter; the
    // spec pins that the z layout actually skips buckets.
    "q91_zonemap_prune" -> ((s, dir) => {
      graft.functions.InterleaveBits.register(s)
      val ev = t(s, dir, "events")
        .withColumn("tus", unix_micros(col("ts")))
        .withColumn("tsec", expr("tus div 1000000"))
        .withColumn(
          "z",
          graft.functions.InterleaveBits.interleave_bits(
            pmod(col("user_id"), lit(2147483648L)),
            pmod(col("tsec"), lit(2147483648L))))
      val maxZ = ev.agg(max("z")).head().getLong(0)
      val per = maxZ / 64 + 1
      val bucketed = ev.withColumn("zb", expr(s"z div ${per}L"))
      val stats = graft.operators.ZoneMap.collect(bucketed, "zb", Seq("user_id", "tsec"))
      // user band inside every SF's id range (sf0.001 has users 0-14) so
      // the gate checks nonzero rows at every SF
      val loSec = 1704067200L + 5L * 86400 // 2024-01-06
      val hiSec = loSec + 5L * 86400
      graft.operators.ZoneMap
        .prunedFilter(bucketed, stats, "zb",
          Seq(("user_id", 3L, 9L), ("tsec", loSec, hiSec)))
        .select(col("event_id"), col("user_id"), col("tsec"))
        .orderBy("event_id")
    }),

    // Robust anomaly detection: per-type median/MAD over exact integer
    // cents, flag |v − med| > 3·MAD — two histogram-first quantile
    // passes, group-keyed joins of ≤ |types|-row relations, no floats.
    "q92_anomaly_mad" -> ((s, dir) =>
      graft.operators.Anomaly
        .madOutliers(
          t(s, dir, "events")
            .select(
              col("event_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("cents")),
          "event_type", "cents", k = 3)
        .select(col("event_id"), col("event_type"), col("cents"),
          col("med"), col("mad"), col("dev"))
        .orderBy("event_id")),

    // ROLLUP subtotal hierarchy (region → nation → grand total): revenue
    // summed in DECIMAL (the q38 exactness recipe — subtotal/grand-total
    // sums span enough rows that double-order effects could flip the
    // rounded cent), level derived from nullness identically in both
    // engines.
    "q93_rollup_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(30,6)")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("r_name"), col("n_name"), rev.as("__rev"))
        .createOrReplaceTempView("q93_joined")
      // SQL ROLLUP: the Dataset rollup API trips Spark's ambiguous-self-
      // join detector on the Expand-duplicated grouping attributes (a
      // known false positive); the SQL path plans the identical Expand.
      s.sql(
        """SELECT r_name, n_name,
          |       round(CAST(sum(__rev) AS DOUBLE), 2) AS revenue,
          |       count(1) AS n,
          |       CAST(CASE WHEN r_name IS NULL THEN 2 ELSE 0 END
          |            + CASE WHEN n_name IS NULL THEN 1 ELSE 0 END AS INT) AS lvl
          |FROM q93_joined
          |GROUP BY ROLLUP (r_name, n_name)
          |ORDER BY lvl, r_name, n_name""".stripMargin)
    }),

    // PIVOT: revenue per region × order priority as fixed columns —
    // Spark's pivot plans the same conditional aggregation the oracle
    // writes out; one shuffle on the row key.
    "q94_pivot_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .pivot("o_orderpriority", priorities)
        .agg(round(sum(col("o_totalprice").cast("decimal(30,6)")).cast("double"), 2))
        .select(
          col("r_name") +: priorities.map(p =>
            coalesce(col(s"`$p`"), lit(0.0)).as(p.toLowerCase.replaceAll("[^a-z0-9]+", "_"))): _*)
        .orderBy("r_name")
    }),

    // Sliding-window distinct users via HLL register ALGEBRA: hourly
    // registers computed once from the data, then each hour's registers
    // explode to the 3 trailing windows they belong to and fold with MAX
    // — the raw events are never re-touched per window. Registers are
    // exact integers; only the (non-oracled) estimate is float.
    "q97_windowed_hll" -> ((s, dir) => {
      val hourly = graft.operators.Hll.registers(
        t(s, dir, "events")
          .select(
            expr("unix_micros(ts) div 3600000000").as("ehour"),
            col("user_id")),
        "user_id", p = 6, groupCols = Seq("ehour"))
      graft.operators.Hll.mergeRegisters(
          hourly.withColumn("whour", explode(sequence(col("ehour"), col("ehour") + 2))),
          Seq("whour"))
        .orderBy("whour", "bucket")
    }),

    // Period-over-period growth (the BI delta report): daily event
    // counts per type, previous-period lag, and day-over-day change in
    // exact basis points (floor division; -1 sentinel when no previous
    // period). The window runs over the AGGREGATED (type, day) relation
    // — days × types rows, never event-sized.
    "q110_growth_dod" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(
          col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("prev_n", lag("n", 1).over(w))
        .withColumn(
          "growth_bp",
          when(col("prev_n").isNull, lit(-1L))
            .otherwise(expr("((n - prev_n) * 10000) div prev_n")))
        .withColumn("prev_n", coalesce(col("prev_n"), lit(-1L)))
        .orderBy("event_type", "day")
    }),

    // Exponentially time-decayed heavy hitters ("what is hot NOW"): daily
    // generations, weight 2^(14−age) in exact integers — recency
    // dominance without float-decay order sensitivity. One map-side-
    // combining agg over the key, global head via TakeOrderedAndProject.
    "q147_decayed_topk" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("tsec"))
      val asOf = ev.agg(max("tsec")).head().getLong(0)
      graft.operators.Decay
        .decayedTopK(ev, Seq("user_id"), "tsec", asOf,
          genSecs = 86400L, horizon = 14, k = 25)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }),

    // Functional-dependency profile over the orders header: o_orderkey
    // (the key) determines everything; nothing determines it back — a
    // mixed holds/fails audit discovered from the data, not the schema.
    "q152_fd_profile" -> ((s, dir) =>
      graft.operators.Profiling
        .functionalDependencies(t(s, dir, "orders"), fdCols)
        .orderBy("a", "b")),

    // RFM segmentation: per-user recency/frequency/monetary with exact
    // population quintiles from the percentile-rank path — the classic
    // no-model customer scoring, composed from this round's pieces.
    "q160_rfm" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(
          col("user_id"),
          expr("unix_micros(ts) div 1000000").as("tsec"),
          round(col("value") * 100).cast("long").as("cents"))
      val asOf = ev.agg(max("tsec")).head().getLong(0)
      graft.operators.Cohorts
        .rfm(ev, "user_id", "tsec", "cents", asOf)
        .orderBy("user_id")
    }),

    // Quantile normalization: within-event-type percentile rank (exact
    // basis points) of every distinct value — cross-source score
    // alignment through the histogram + recursive-prefix-sum path (no
    // data-sized windows anywhere).
    "q158_quantile_norm" -> ((s, dir) =>
      graft.operators.Quantiles
        .percentileRanks(
          t(s, dir, "events")
            .select(col("event_type"), round(col("value") * 100).cast("long").as("cents")),
          "event_type", "cents")
        .orderBy("event_type", "value")),

    // Inclusion-dependency (FK) discovery across lineitem/orders/customer
    // keys: the TPC-H referential arrows come out of the DATA (l_orderkey
    // ⊆ o_orderkey, o_custkey ⊆ c_custkey hold; c_custkey ⊄ o_custkey —
    // customers without orders — with the exact dangling count).
    "q153_ind_profile" -> ((s, dir) =>
      graft.operators.Profiling
        .inclusionDependencies(Seq(
          ("lineitem.l_orderkey", t(s, dir, "lineitem"), "l_orderkey"),
          ("orders.o_orderkey", t(s, dir, "orders"), "o_orderkey"),
          ("orders.o_custkey", t(s, dir, "orders"), "o_custkey"),
          ("customer.c_custkey", t(s, dir, "customer"), "c_custkey")))
        .orderBy("a", "b")),

    // Interval-overlap join (the two-sided sibling of as-of/range): user
    // sessions × ±5-minute error windows of the same user, bucketed on
    // 30-minute (key, bucket) equi-join cells — no θ-join explosion —
    // pair-dedup then exact overlap verify; sessions with ≥1 window kept.
    "q99_interval_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(
          col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val sess = ev
        .withColumn(
          "brk",
          when(lag("tus", 1).over(w).isNull ||
            col("tus") - lag("tus", 1).over(w) > 1800000000L, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(w))
        .groupBy("user_id", "sid")
        .agg(min("tus").as("s_start"), max("tus").as("s_end"))
        .drop("sid")
      val errw = ev.filter(col("event_type") === "error")
        .select(
          col("user_id"),
          (col("tus") - 300000000L).as("w_start"),
          (col("tus") + 300000000L).as("w_end"))
      graft.operators.IntervalJoin
        .overlap(sess, errw, Seq("user_id"), "s_start", "s_end", "w_start", "w_end",
          bucketWidth = 1800000000L)
        .groupBy("user_id", "s_start", "s_end")
        .agg(count(lit(1)).as("n_error_windows"))
        .orderBy("user_id", "s_start")
    }))

  /** q152's profiled column set — one source of truth for the Spark query
    * and the generated pair-by-pair oracle.
    */
  private val fdCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** Generated FD-audit oracle: one UNION ALL arm per ordered pair,
    * n_lhs/n_pairs from DISTINCT subqueries with the operator's null
    * exclusion replayed per pair.
    */
  private def fdOracle(table: String, cols: Seq[String]): String = {
    val arms = for { a <- cols; b <- cols if a != b } yield
      s"""SELECT '$a' AS a, '$b' AS b,
         |  CAST((SELECT count(DISTINCT $a) FROM $table
         |        WHERE $a IS NOT NULL AND $b IS NOT NULL) AS BIGINT) AS n_lhs,
         |  CAST((SELECT count(*) FROM (SELECT DISTINCT $a, $b FROM $table
         |        WHERE $a IS NOT NULL AND $b IS NOT NULL)) AS BIGINT) AS n_pairs""".stripMargin
    arms.mkString("WITH u AS (\n", "\nUNION ALL\n", "\n)\n") +
      "SELECT a, b, n_lhs, n_pairs, n_pairs = n_lhs AS holds,\n" +
      "       n_pairs - n_lhs AS violations\nFROM u ORDER BY a, b"
  }

  /** q153's profiled (label, table, column) sources — shared by the Spark
    * query's source list and the generated oracle.
    */
  private val indSources = Seq(
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("orders.o_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("customer.c_custkey", "customer", "c_custkey"))

  /** Generated IND oracle: per ordered pair, n_lhs_values = distinct
    * non-null values of a; n_missing = |values(a) EXCEPT values(b)| on
    * the same string-cast identity the operator uses.
    */
  private def indOracle(sources: Seq[(String, String, String)]): String = {
    val arms = for {
      (la, ta, ca) <- sources; (lb, tb, cb) <- sources if la != lb
    } yield
      s"""SELECT '$la' AS a, '$lb' AS b,
         |  CAST((SELECT count(DISTINCT CAST($ca AS VARCHAR)) FROM $ta
         |        WHERE $ca IS NOT NULL) AS BIGINT) AS n_lhs_values,
         |  CAST((SELECT count(*) FROM (
         |          SELECT DISTINCT CAST($ca AS VARCHAR) AS v FROM $ta WHERE $ca IS NOT NULL
         |          EXCEPT
         |          SELECT DISTINCT CAST($cb AS VARCHAR) FROM $tb WHERE $cb IS NOT NULL))
         |       AS BIGINT) AS n_missing""".stripMargin
    arms.mkString("WITH u AS (\n", "\nUNION ALL\n", "\n)\n") +
      "SELECT a, b, n_lhs_values, n_missing, n_missing = 0 AS holds\n" +
      "FROM u ORDER BY a, b"
  }

  val gapOracles: Map[String, String] = Map(

    "q226_hits_converged" -> hitsConvergedOracle(4),

    // the join values; join_exchanges = 0 is the PLAN contract (the Spark
    // side errors the query if the bucketed join ever shuffles)
    "q242_bucketed_join_plan" ->
      """SELECT p_brand,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(0 AS BIGINT) AS join_exchanges
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_partkey % 5 = 0
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    // RBO replay: two row_number runs, max-rank histogram, the
    // precomputed 9^(d−1)·10^(10−d) weight VALUES table, // floors
    "q233_rbo" ->
      """WITH x AS (
        |  SELECT o_custkey AS q, o_orderkey AS d,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS r
        |  FROM orders),
        |y AS (
        |  SELECT o_custkey AS q, o_orderkey AS d,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate DESC, o_orderkey) AS r
        |  FROM orders),
        |xk AS (SELECT * FROM x WHERE r <= 10),
        |yk AS (SELECT * FROM y WHERE r <= 10),
        |mm AS (SELECT xk.q, greatest(xk.r, yk.r) AS m
        |       FROM xk JOIN yk ON xk.q = yk.q AND xk.d = yk.d),
        |h AS (SELECT q, m, CAST(count(*) AS BIGINT) AS c FROM mm GROUP BY q, m),
        |w AS (SELECT * FROM (VALUES (1, 1000000000), (2, 900000000),
        |      (3, 810000000), (4, 729000000), (5, 656100000), (6, 590490000),
        |      (7, 531441000), (8, 478296900), (9, 430467210), (10, 387420489))
        |      t(depth, w)),
        |terms AS (
        |  SELECT h.q, w.depth, w.w, sum(h.c) AS ov
        |  FROM h JOIN w ON h.m <= w.depth GROUP BY h.q, w.depth, w.w),
        |tq AS (
        |  SELECT q, sum((w::HUGEINT * 1000000 * ov) // depth) AS tsum,
        |         max(CASE WHEN depth = 10 THEN ov END) AS n_matched
        |  FROM terms GROUP BY q),
        |qs AS (SELECT q FROM xk UNION SELECT q FROM yk)
        |SELECT qs.q, CAST(coalesce(tq.n_matched, 0) AS BIGINT) AS n_matched,
        |       CAST(coalesce(
        |         (tq.tsum + (3486784401::HUGEINT * 1000000 * tq.n_matched) // 10)
        |           // 10000000000, 0) AS BIGINT) AS rbo_ppm
        |FROM qs LEFT JOIN tq ON tq.q = qs.q
        |ORDER BY qs.q""".stripMargin,

    // SMD replay: per-arm sufficient statistics, defined floors for the
    // per-arm ppm means and population variances, the 2Δ²/(σ²a+σ²b) bar
    "q234_balance" ->
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x
        |           FROM events GROUP BY user_id),
        |d AS (SELECT CASE WHEN user_id % 2 = 1 THEN 'a' ELSE 'b' END AS g, x
        |      FROM u),
        |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS HUGEINT) AS sx,
        |             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS qx
        |      FROM d GROUP BY g),
        |a AS (SELECT n AS n_a, sx AS s_a, qx AS q_a FROM s WHERE g = 'a'),
        |b AS (SELECT n AS n_b, sx AS s_b, qx AS q_b FROM s WHERE g = 'b'),
        |c AS (
        |  SELECT n_a, n_b,
        |         (1000000 * s_a) // n_a AS mean_a_ppm,
        |         (1000000 * s_b) // n_b AS mean_b_ppm,
        |         (n_a * q_a - s_a * s_a) // (n_a::HUGEINT * n_a) AS var_a,
        |         (n_b * q_b - s_b * s_b) // (n_b::HUGEINT * n_b) AS var_b
        |  FROM a, b),
        |c2 AS (
        |  SELECT n_a, n_b, mean_a_ppm, mean_b_ppm, var_a, var_b,
        |         CASE WHEN var_a + var_b = 0 AND mean_a_ppm = mean_b_ppm THEN 0
        |              ELSE (2 * (mean_a_ppm - mean_b_ppm)
        |                      * (mean_a_ppm - mean_b_ppm))
        |                   // (1000000 * (var_a + var_b)) END AS smd2
        |  FROM c)
        |SELECT n_a, n_b,
        |       CAST(mean_a_ppm AS BIGINT) AS mean_a_ppm,
        |       CAST(mean_b_ppm AS BIGINT) AS mean_b_ppm,
        |       CAST(var_a AS BIGINT) AS var_a, CAST(var_b AS BIGINT) AS var_b,
        |       CAST(smd2 AS BIGINT) AS smd2_ppm, smd2 < 10000 AS balanced
        |FROM c2""".stripMargin,

    // SRM replay: distinct-user arms, the two goodness-of-fit terms at
    // design ratio 1:1, ppm floors
    "q235_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |d AS (SELECT CASE WHEN user_id % 2 = 1 THEN 'a' ELSE 'b' END AS g FROM u),
        |s AS (
        |  SELECT CAST(sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM d),
        |c AS (
        |  SELECT n_a, n_b,
        |         (1000000 * (n_a::HUGEINT * 2 - (n_a + n_b))
        |                  * (n_a::HUGEINT * 2 - (n_a + n_b)))
        |         // (2 * (n_a + n_b)::HUGEINT)
        |         + (1000000 * (n_b::HUGEINT * 2 - (n_a + n_b))
        |                    * (n_b::HUGEINT * 2 - (n_a + n_b)))
        |         // (2 * (n_a + n_b)::HUGEINT) AS srm
        |  FROM s)
        |SELECT n_a, n_b, CAST(1 AS BIGINT) AS expect_a, CAST(1 AS BIGINT) AS expect_b,
        |       CAST((1000000 * n_a) // (n_a + n_b) AS BIGINT) AS a_share_ppm,
        |       CAST(500000 AS BIGINT) AS expected_a_ppm,
        |       CAST(srm AS BIGINT) AS srm_ppm, srm > 10830000 AS srm_alarm
        |FROM c""".stripMargin,

    // MK replay: day grain, triangular sign join, tie groups, 18× var
    "q231_mann_kendall" ->
      """WITH g AS (
        |  SELECT epoch_us(ts) // 86400000000 AS t, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY t),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
        |sv AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN b.x > a.x THEN 1
        |                                WHEN b.x < a.x THEN -1 ELSE 0 END), 0)
        |    AS BIGINT) AS s
        |  FROM g a JOIN g b ON a.t < b.t),
        |tie AS (
        |  SELECT CAST(coalesce(sum(tg::HUGEINT * (tg - 1) * (2 * tg + 5)), 0)
        |    AS HUGEINT) AS tie18
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS tg FROM g GROUP BY x)),
        |v AS (SELECT nn.n, nn.n::HUGEINT * (nn.n - 1) * (2 * nn.n + 5) - tie.tie18
        |        AS var18
        |      FROM nn, tie)
        |SELECT v.n, sv.s, CAST(v.var18 AS BIGINT) AS var18,
        |       CAST(CASE WHEN v.var18 = 0 THEN 0
        |            ELSE (1000000 * 18 * sv.s::HUGEINT * sv.s) // v.var18
        |            END AS BIGINT) AS z2_ppm
        |FROM v, sv""".stripMargin,

    // Benford replay: string-head digits, the fixed ppm expectation
    // VALUES table, per-digit χ² floors
    "q232_benford" ->
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |dd AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS d FROM v),
        |obs AS (SELECT d, CAST(count(*) AS BIGINT) AS o FROM dd GROUP BY d),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
        |expd AS (SELECT * FROM (VALUES (1, 301034), (2, 176091), (3, 124938),
        |         (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
        |         (9, 45757)) e(d, expected_ppm)),
        |cells AS (
        |  SELECT e.d, coalesce(o.o, 0) AS o,
        |         CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |         (1000000 * coalesce(o.o, 0)) // nn.n AS observed_ppm,
        |         ((1000000 * coalesce(o.o, 0)::HUGEINT - nn.n::HUGEINT * e.expected_ppm)
        |          * (1000000 * coalesce(o.o, 0)::HUGEINT - nn.n::HUGEINT * e.expected_ppm))
        |         // (nn.n::HUGEINT * e.expected_ppm) AS contrib_ppm
        |  FROM expd e LEFT JOIN obs o ON o.d = e.d, nn),
        |tot AS (SELECT CAST(sum(contrib_ppm) AS BIGINT) AS chi2_ppm FROM cells)
        |SELECT d, o, expected_ppm, CAST(observed_ppm AS BIGINT) AS observed_ppm,
        |       CAST(contrib_ppm AS BIGINT) AS contrib_ppm, tot.chi2_ppm
        |FROM cells, tot ORDER BY d""".stripMargin,

    // bottom-k-by-md5 sample replayed literally: same hex ordering, same
    // ceil-rank selection
    "q192_sketch_quantiles" ->
      """WITH o AS (
        |  SELECT event_type AS g, CAST(event_id AS VARCHAR) AS id,
        |         md5(CAST(event_id AS VARCHAR)) AS hkey,
        |         CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |sk AS (
        |  SELECT g, hkey, id, v FROM (
        |    SELECT g, hkey, id, v,
        |           row_number() OVER (PARTITION BY g ORDER BY hkey, id) AS rk
        |    FROM o) WHERE rk <= 128),
        |r AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v, id) AS vrk,
        |         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_sample
        |  FROM sk),
        |q AS (SELECT CAST(q_num AS BIGINT) AS q_num, CAST(q_den AS BIGINT) AS q_den
        |      FROM (VALUES (1, 2), (9, 10), (99, 100)) t(q_num, q_den))
        |SELECT g, q_num, q_den, n_sample, v AS est
        |FROM r, q
        |WHERE vrk = greatest(1, (n_sample * q_num + q_den - 1) // q_den)
        |ORDER BY g, q_num""".stripMargin,

    "q193_coec" ->
      """WITH im AS (
        |  SELECT event_type AS item, event_id % 10 + 1 AS pos,
        |         CASE WHEN CAST(round(value * 100) AS BIGINT) > 5000
        |              THEN 1 ELSE 0 END AS clk
        |  FROM events),
        |base AS (
        |  SELECT pos, (1000000 * CAST(sum(clk) AS BIGINT)) // count(*) AS base_ppm
        |  FROM im GROUP BY pos),
        |a AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS n_imp,
        |         CAST(sum(clk) AS BIGINT) AS n_clicks,
        |         CAST(sum(base_ppm) AS BIGINT) AS expected_ppm
        |  FROM im JOIN base USING (pos) GROUP BY item)
        |SELECT item, n_imp, n_clicks, expected_ppm,
        |       CASE WHEN expected_ppm = 0 THEN NULL
        |            ELSE (10000 * n_clicks * 1000000) // expected_ppm END AS coec_bp
        |FROM a ORDER BY item""".stripMargin,

    "q200_ams_f2" ->
      """WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
        |c AS (
        |  SELECT r,
        |         CAST(sum(CASE WHEN substr(md5(k), CAST(r + 1 AS INT), 1)
        |                       IN ('0','1','2','3','4','5','6','7')
        |                  THEN 1 ELSE -1 END) AS BIGINT) AS counter
        |  FROM k, range(0, 16) t(r) GROUP BY r),
        |e AS (SELECT CAST(count(*) AS BIGINT) AS s,
        |             CAST(sum(counter * counter) AS BIGINT) AS ss FROM c),
        |x AS (SELECT CAST(sum(n * n) AS BIGINT) AS f2_exact
        |      FROM (SELECT count(*) AS n FROM k GROUP BY k))
        |SELECT e.s, ss // e.s AS f2_est, x.f2_exact FROM e, x""".stripMargin,

    // AGMS replay: the q200 sign family on both relations, counters
    // joined on r, inner product // s; exact from the per-user grain
    "q207_join_size" ->
      """WITH ka AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
        |            WHERE event_type = 'click'),
        |kb AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
        |       WHERE event_type = 'purchase'),
        |ca AS (
        |  SELECT r, CAST(sum(CASE WHEN substr(md5(k), CAST(r + 1 AS INT), 1)
        |                          IN ('0','1','2','3','4','5','6','7')
        |                     THEN 1 ELSE -1 END) AS BIGINT) AS ca
        |  FROM ka, range(0, 32) t(r) GROUP BY r),
        |cb AS (
        |  SELECT r, CAST(sum(CASE WHEN substr(md5(k), CAST(r + 1 AS INT), 1)
        |                          IN ('0','1','2','3','4','5','6','7')
        |                     THEN 1 ELSE -1 END) AS BIGINT) AS cb
        |  FROM kb, range(0, 32) t(r) GROUP BY r),
        |e AS (SELECT CAST(count(*) AS BIGINT) AS s,
        |             CAST(sum(ca.ca * cb.cb) AS BIGINT) AS ip
        |      FROM ca JOIN cb USING (r)),
        |x AS (
        |  SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS exact_size
        |  FROM (SELECT k, count(*) AS na FROM ka GROUP BY k) a
        |  JOIN (SELECT k, count(*) AS nb FROM kb GROUP BY k) b USING (k))
        |SELECT e.s, ip // e.s AS join_size_est, x.exact_size FROM e, x""".stripMargin,

    // robust-mean replay: per-group value grain, survivor-count identity
    // greatest(0, least(cum, n−c) − greatest(before, c)), boundary
    // clamps, ppm floors
    "q208_robust_mean" ->
      """WITH d AS (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |grain AS (SELECT g, v, CAST(count(*) AS HUGEINT) AS cnt
        |          FROM d GROUP BY g, v),
        |pre AS (
        |  SELECT g, v, cnt,
        |         sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum
        |  FROM grain),
        |pre2 AS (SELECT g, v, cnt, cum, cum - cnt AS before FROM pre),
        |tot AS (SELECT g, max(cum) AS n, (max(cum) * 1000) // 10000 AS cut
        |        FROM pre2 GROUP BY g),
        |agg AS (
        |  SELECT p.g, max(t.n) AS n, max(t.cut) AS cut,
        |         sum(v * greatest(0, least(cum, t.n - t.cut)
        |                             - greatest(before, t.cut))) AS tsum,
        |         sum(v * cnt) AS fsum,
        |         min(CASE WHEN cum > t.cut THEN v END) AS lo,
        |         max(CASE WHEN before < t.n - t.cut THEN v END) AS hi
        |  FROM pre2 p JOIN tot t USING (g) GROUP BY p.g)
        |SELECT g, CAST(n AS BIGINT) AS n, CAST(cut AS BIGINT) AS cut,
        |       CAST(CASE WHEN n - 2 * cut <= 0 THEN 0
        |            ELSE (1000000 * tsum) // (n - 2 * cut) END AS BIGINT)
        |         AS trimmed_mean_ppm,
        |       CAST(CASE WHEN n - 2 * cut <= 0 THEN 0
        |            ELSE (1000000 * (tsum + cut * (lo + hi))) // n END AS BIGINT)
        |         AS winsor_mean_ppm,
        |       CAST((1000000 * fsum) // n AS BIGINT) AS mean_ppm
        |FROM agg ORDER BY g""".stripMargin,

    // trigram replay: keyed lead windows, pair/out-degree counts, the
    // 10⁴-scaled Markov-ratio in HUGEINT floored to BIGINT
    "q209_seq_patterns" ->
      """WITH ev AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS tb,
        |         event_type AS a
        |  FROM events),
        |base AS (
        |  SELECT k, a,
        |         lead(a, 1) OVER (PARTITION BY k ORDER BY t, tb) AS b,
        |         lead(a, 2) OVER (PARTITION BY k ORDER BY t, tb) AS c
        |  FROM ev),
        |pairs AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM base WHERE b IS NOT NULL GROUP BY a, b),
        |outof AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_out
        |          FROM pairs GROUP BY a),
        |tris AS (
        |  SELECT a, b, c, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(DISTINCT k) AS BIGINT) AS users
        |  FROM base WHERE c IS NOT NULL GROUP BY a, b, c)
        |SELECT t.a, t.b, t.c, t.n, t.users,
        |       CAST((10000 * t.n::HUGEINT * o.n_out)
        |            // (p1.n_ab::HUGEINT * p2.n_ab) AS BIGINT) AS surprise_bp
        |FROM tris t
        |JOIN pairs p1 ON p1.a = t.a AND p1.b = t.b
        |JOIN pairs p2 ON p2.a = t.b AND p2.b = t.c
        |JOIN outof o ON o.a = t.b
        |WHERE t.users >= 3
        |ORDER BY t.a, t.b, t.c""".stripMargin,

    // weighted-quantile replay: weight-summed value grain, per-group
    // cumulative weights, ⌈q·W⌉ = (num·W + den − 1) // den thresholds
    "q210_weighted_quantiles" ->
      """WITH d AS (
        |  SELECT l_returnflag AS g,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |         CAST(round(l_quantity) AS BIGINT) AS w
        |  FROM lineitem),
        |h AS (SELECT g, v, CAST(sum(w) AS BIGINT) AS c FROM d GROUP BY g, v),
        |r AS (
        |  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY g) AS n
        |  FROM h)
        |SELECT g, CAST(max(n) AS BIGINT) AS w_total,
        |       CAST(min(CASE WHEN cum >= (1 * n + 3) // 4 THEN v END) AS BIGINT) AS p25,
        |       CAST(min(CASE WHEN cum >= (1 * n + 1) // 2 THEN v END) AS BIGINT) AS p50,
        |       CAST(min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS BIGINT) AS p75,
        |       CAST(min(CASE WHEN cum >= (19 * n + 19) // 20 THEN v END) AS BIGINT) AS p95
        |FROM r GROUP BY g ORDER BY g""".stripMargin,

    // negative-sampling replay: the q199 8-hex md5 uniform as hash-draws,
    // NOT EXISTS anti-join, min-draw dedup, k lowest per user
    "q213_negative_sampling" ->
      """WITH inter AS (
        |  SELECT DISTINCT o_custkey AS u, l_partkey + 1 AS i
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ni AS (SELECT CAST(count(*) AS BIGINT) AS n FROM part),
        |users AS (SELECT DISTINCT u FROM inter),
        |prop AS (
        |  SELECT u, CAST(j AS BIGINT) AS draw,
        |         (CAST(list_sum(list_transform(range(0, 8), x ->
        |            CAST(instr('0123456789abcdef',
        |                 substr(md5(CAST(u AS VARCHAR) || ':' || CAST(j AS VARCHAR)),
        |                        CAST(x + 1 AS INT), 1)) - 1 AS BIGINT)
        |            << CAST(4 * (7 - x) AS INT))) AS BIGINT) % ni.n) + 1 AS item
        |  FROM users, range(0, 32) t(j), ni),
        |neg AS (
        |  SELECT u, item, CAST(min(draw) AS BIGINT) AS draw
        |  FROM prop p
        |  WHERE NOT EXISTS (SELECT 1 FROM inter
        |                    WHERE inter.u = p.u AND inter.i = p.item)
        |  GROUP BY u, item),
        |r AS (SELECT u, item, draw,
        |             row_number() OVER (PARTITION BY u ORDER BY draw) AS rk
        |      FROM neg)
        |SELECT u AS "user", item, draw FROM r WHERE rk <= 8
        |ORDER BY "user", draw""".stripMargin,

    // Lorenz replay: count-of-counts histogram, exclusive prefixes, the
    // grouped-Gini identity S = Σ(2·m·w_before + t·m²)
    "q214_concentration" ->
      """WITH pe AS (SELECT user_id AS e, CAST(count(*) AS BIGINT) AS t
        |            FROM events GROUP BY user_id),
        |h AS (SELECT t, CAST(count(*) AS HUGEINT) AS m FROM pe GROUP BY t),
        |p AS (
        |  SELECT t, m,
        |         coalesce(sum(m) OVER (ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS m_before,
        |         coalesce(sum(t * m) OVER (ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS w_before
        |  FROM h),
        |tt AS (SELECT sum(m) AS n, sum(t * m) AS bigw FROM h),
        |g AS (
        |  SELECT CAST(CASE WHEN n * bigw = 0 THEN 0
        |         ELSE 1000000 - (1000000 * sum(2 * m * w_before + t * m * m))
        |              // (n * bigw) END AS BIGINT) AS gini_ppm
        |  FROM p, tt GROUP BY n, bigw)
        |SELECT p.t, CAST(p.m AS BIGINT) AS m,
        |       CAST(m_before + m AS BIGINT) AS cum_entities,
        |       CAST(w_before + t * m AS BIGINT) AS cum_weight,
        |       CAST((10000 * (m_before + m)) // n AS BIGINT) AS entity_share_bp,
        |       CAST(CASE WHEN bigw = 0 THEN 0
        |            ELSE (10000 * (w_before + t * m)) // bigw END AS BIGINT)
        |         AS weight_share_bp,
        |       g.gini_ppm
        |FROM p, tt, g ORDER BY t""".stripMargin,

    // DiD replay: zero-filled 2×2 cells, ppm-floored means, the
    // double difference
    "q217_diff_in_diff" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |cnt AS (
        |  SELECT user_id, CASE WHEN us <= mid THEN 'pre' ELSE 'post' END AS period,
        |         count(*) AS y
        |  FROM ev, mid GROUP BY 1, 2),
        |users AS (SELECT DISTINCT user_id FROM ev),
        |per AS (SELECT 'pre' AS period UNION ALL SELECT 'post'),
        |full0 AS (
        |  SELECT u.user_id, p.period, coalesce(y, 0) AS y
        |  FROM users u CROSS JOIN per p
        |  LEFT JOIN cnt ON cnt.user_id = u.user_id AND cnt.period = p.period),
        |d AS (
        |  SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS tr,
        |         CASE WHEN period = 'pre' THEN 0 ELSE 1 END AS post,
        |         CAST(y AS HUGEINT) AS y
        |  FROM full0),
        |cells AS (SELECT tr, post, CAST(count(*) AS HUGEINT) AS n, sum(y) AS s
        |          FROM d GROUP BY tr, post),
        |a AS (
        |  SELECT
        |    CAST(max(CASE WHEN tr = 1 AND post = 0 THEN n END) AS BIGINT) AS n_treat_pre,
        |    CAST(max(CASE WHEN tr = 1 AND post = 1 THEN n END) AS BIGINT) AS n_treat_post,
        |    CAST(max(CASE WHEN tr = 0 AND post = 0 THEN n END) AS BIGINT) AS n_ctrl_pre,
        |    CAST(max(CASE WHEN tr = 0 AND post = 1 THEN n END) AS BIGINT) AS n_ctrl_post,
        |    CAST(max(CASE WHEN tr = 1 AND post = 0 THEN (1000000 * s) // n END)
        |      AS BIGINT) AS mean_treat_pre_ppm,
        |    CAST(max(CASE WHEN tr = 1 AND post = 1 THEN (1000000 * s) // n END)
        |      AS BIGINT) AS mean_treat_post_ppm,
        |    CAST(max(CASE WHEN tr = 0 AND post = 0 THEN (1000000 * s) // n END)
        |      AS BIGINT) AS mean_ctrl_pre_ppm,
        |    CAST(max(CASE WHEN tr = 0 AND post = 1 THEN (1000000 * s) // n END)
        |      AS BIGINT) AS mean_ctrl_post_ppm
        |  FROM cells)
        |SELECT a.*,
        |       (mean_treat_post_ppm - mean_treat_pre_ppm)
        |         - (mean_ctrl_post_ppm - mean_ctrl_pre_ppm) AS did_ppm
        |FROM a""".stripMargin,

    // Fano replay: (key, hour) grain, global hour domain, the
    // (B·SS − S²)/(B·S) dispersion identity
    "q218_burstiness" ->
      """WITH d AS (
        |  SELECT user_id AS k, epoch_us(ts) // 3600000000 AS b FROM events),
        |grain AS (SELECT k, b, CAST(count(*) AS HUGEINT) AS c
        |          FROM d GROUP BY k, b),
        |dom AS (SELECT CAST(max(b) - min(b) + 1 AS HUGEINT) AS bb FROM grain),
        |per AS (
        |  SELECT k, sum(c) AS s, sum(c * c) AS ss,
        |         CAST(count(*) AS BIGINT) AS n_active_buckets
        |  FROM grain GROUP BY k)
        |SELECT k, CAST(s AS BIGINT) AS n_events, n_active_buckets,
        |       CAST((1000000 * (bb * ss - s * s)) // (bb * s) AS BIGINT) AS fano_ppm
        |FROM per, dom ORDER BY k""".stripMargin,

    // HITS replay: two unrolled rounds in HUGEINT, pure-side zeros
    "q219_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |a1 AS (SELECT dst AS id, CAST(count(*) AS HUGEINT) AS a
        |       FROM e GROUP BY dst),
        |h1 AS (SELECT e.src AS id, sum(a1.a) AS h
        |       FROM e JOIN a1 ON a1.id = e.dst GROUP BY e.src),
        |a2 AS (SELECT e.dst AS id, sum(h1.h) AS a
        |       FROM e JOIN h1 ON h1.id = e.src GROUP BY e.dst),
        |h2 AS (SELECT e.src AS id, sum(a2.a) AS h
        |       FROM e JOIN a2 ON a2.id = e.dst GROUP BY e.src)
        |SELECT n.id, CAST(coalesce(a2.a, 0) AS BIGINT) AS auth,
        |       CAST(coalesce(h2.h, 0) AS BIGINT) AS hub
        |FROM nodes n
        |LEFT JOIN a2 ON a2.id = n.id
        |LEFT JOIN h2 ON h2.id = n.id
        |ORDER BY n.id""".stripMargin,

    // bipartite replay: capped users, wedge join, HAVING prune
    "q222_bipartite_project" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS u, l_suppkey AS i
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |keep AS (
        |  SELECT e.u, e.i FROM e
        |  JOIN (SELECT u, count(*) AS d FROM e GROUP BY u) g ON g.u = e.u
        |  WHERE g.d <= 10000)
        |SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS n_shared
        |FROM keep a JOIN keep b ON a.u = b.u AND a.i < b.i
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY i, j""".stripMargin,

    // EMA replay: recursive CTE over per-key day rank, level at 4x
    // scale with truncating division exactly as the engine floors
    "q223_exp_smoothing" ->
      """WITH RECURSIVE g AS (
        |  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS t,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT k, t, x,
        |             CAST(row_number() OVER (PARTITION BY k ORDER BY t) AS BIGINT) AS rn
        |      FROM g),
        |rec AS (
        |  SELECT k, t, x, rn, x * 4 AS fc, CAST(0 AS BIGINT) AS err, x * 4 AS level
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r2.k, r2.t, r2.x, r2.rn, rec.level,
        |         r2.x * 4 - rec.level,
        |         rec.level + (r2.x * 4 - rec.level) // 4
        |  FROM rec JOIN r r2 ON r2.k = rec.k AND r2.rn = rec.rn + 1)
        |SELECT k, t, x, CAST(fc AS BIGINT) AS forecast_x2k,
        |       CAST(err AS BIGINT) AS err_x2k, CAST(level AS BIGINT) AS level_x2k
        |FROM rec ORDER BY k, t""".stripMargin,

    // z² replay: per-user success flags, the single pooled rational
    "q224_two_proportion" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS HUGEINT) AS y
        |  FROM events GROUP BY user_id),
        |d AS (SELECT CASE WHEN user_id % 2 = 1 THEN 'a' ELSE 'b' END AS g, y
        |      FROM u),
        |s AS (
        |  SELECT CAST(sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS HUGEINT) AS na,
        |         CAST(sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS HUGEINT) AS nb,
        |         sum(CASE WHEN g = 'a' THEN y ELSE 0 END) AS xa,
        |         sum(CASE WHEN g = 'b' THEN y ELSE 0 END) AS xb
        |  FROM d)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       CAST(xa AS BIGINT) AS x_a, CAST(xb AS BIGINT) AS x_b,
        |       CAST(CASE WHEN na = 0 THEN 0
        |            ELSE (1000000 * xa) // na END AS BIGINT) AS rate_a_ppm,
        |       CAST(CASE WHEN nb = 0 THEN 0
        |            ELSE (1000000 * xb) // nb END AS BIGINT) AS rate_b_ppm,
        |       CAST(CASE WHEN na * nb * (xa + xb) * (na + nb - xa - xb) = 0 THEN 0
        |            ELSE (1000000 * (xa * nb - xb * na) * (xa * nb - xb * na)
        |                  * (na + nb))
        |                 // (na * nb * (xa + xb) * (na + nb - xa - xb))
        |            END AS BIGINT) AS z2_ppm
        |FROM s""".stripMargin,

    // KS replay: merged value grain, running counts, max cross product
    "q225_ks_distance" ->
      """WITH a AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |           FROM events WHERE event_type = 'click'),
        |b AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
        |      FROM events WHERE event_type = 'view'),
        |ga AS (SELECT v, CAST(count(*) AS HUGEINT) AS ca FROM a GROUP BY v),
        |gb AS (SELECT v, CAST(count(*) AS HUGEINT) AS cb FROM b GROUP BY v),
        |m AS (
        |  SELECT coalesce(ga.v, gb.v) AS v, coalesce(ca, 0) AS ca,
        |         coalesce(cb, 0) AS cb
        |  FROM ga FULL OUTER JOIN gb ON ga.v = gb.v),
        |c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS fa,
        |             sum(cb) OVER (ORDER BY v) AS fb FROM m),
        |t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM m)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       CAST(max(abs(fa * nb - fb * na)) AS BIGINT) AS d_num,
        |       CAST(CASE WHEN na = 0 OR nb = 0 THEN 0
        |            ELSE (10000 * max(abs(fa * nb - fb * na))) // (na * nb)
        |            END AS BIGINT) AS d_bp
        |FROM c, t GROUP BY na, nb""".stripMargin,

    // KM replay: user spans → (g, t) grain → suffix-sum risk sets →
    // the step-floored ppm product as a recursive CTE over step rank
    "q202_kaplan_meier" ->
      """WITH RECURSIVE u AS (
        |  SELECT user_id % 3 AS g,
        |         (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS t,
        |         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e
        |  FROM events GROUP BY user_id),
        |grain AS (
        |  SELECT g, t, CAST(sum(e) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS al
        |  FROM u GROUP BY g, t),
        |risk AS (
        |  SELECT g, t, d,
        |         CAST(sum(al) OVER (PARTITION BY g ORDER BY t DESC) AS BIGINT) AS n
        |  FROM grain),
        |steps AS (
        |  SELECT g, t, n, d,
        |         CAST(row_number() OVER (PARTITION BY g ORDER BY t) AS BIGINT) AS rn
        |  FROM risk WHERE d > 0),
        |rec AS (
        |  SELECT g, t, n, d, rn, CAST((1000000 * (n - d)) // n AS BIGINT) AS s
        |  FROM steps WHERE rn = 1
        |  UNION ALL
        |  SELECT s2.g, s2.t, s2.n, s2.d, s2.rn,
        |         CAST((rec.s * (s2.n - s2.d)) // s2.n AS BIGINT)
        |  FROM rec JOIN steps s2 ON s2.g = rec.g AND s2.rn = rec.rn + 1)
        |SELECT g, t, n AS n_risk, d AS n_events, s AS s_ppm
        |FROM rec ORDER BY g, t""".stripMargin,

    // stump replay: value grain, inclusive prefix sums (distinct keys so
    // RANGE ties are moot), the 2·10⁶-scaled weighted-Gini identity
    "q204_gini_stump" ->
      """WITH d AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS x,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |grain AS (
        |  SELECT x, CAST(count(*) AS HUGEINT) AS cnt,
        |         CAST(sum(y) AS HUGEINT) AS pos
        |  FROM d GROUP BY x),
        |c AS (
        |  SELECT x, sum(cnt) OVER (ORDER BY x) AS nl,
        |         sum(pos) OVER (ORDER BY x) AS pl
        |  FROM grain),
        |t AS (SELECT sum(cnt) AS n, sum(pos) AS p FROM grain)
        |SELECT x AS v, CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
        |       CAST((2000000 * (pl * (nl - pl) * (n - nl)
        |                        + (p - pl) * ((n - nl) - (p - pl)) * nl))
        |            // (nl * (n - nl) * n) AS BIGINT) AS gini_ppm
        |FROM c, t WHERE nl < n ORDER BY v""".stripMargin,

    // CUSUM replay: day grain, windows over the 30-row grain stand in
    // for the engine's block-recursive scans; mean ref, h = ref // 2
    "q206_cusum" ->
      """WITH g AS (
        |  SELECT epoch_us(ts) // 86400000000 AS k, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY k),
        |st AS (SELECT sum(x) // count(*) AS ref,
        |              (1 * (sum(x) // count(*))) // 2 AS h FROM g),
        |p AS (SELECT k, x, sum(x - ref) OVER (ORDER BY k) AS p, h FROM g, st),
        |m AS (
        |  SELECT k, x, p, h,
        |         min(p) OVER (ORDER BY k
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mb
        |  FROM p)
        |SELECT k AS t, x,
        |       CAST(p - least(0, p, coalesce(mb, p)) AS BIGINT) AS cusum,
        |       (p - least(0, p, coalesce(mb, p))) > h AS alarm
        |FROM m ORDER BY t""".stripMargin,

    // rank-sum replay: value grain, exclusive prefix counts, doubled
    // midranks, tie-corrected variance at 12·n·(n−1) scale
    "q205_mann_whitney" ->
      """WITH d AS (
        |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'view')),
        |grain AS (
        |  SELECT v, CAST(count(*) AS HUGEINT) AS cnt,
        |         CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS HUGEINT) AS ca
        |  FROM d GROUP BY v),
        |c AS (
        |  SELECT v, cnt, ca,
        |         coalesce(sum(cnt) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM grain),
        |s AS (
        |  SELECT sum(ca) AS na, sum(cnt) AS n,
        |         sum(ca * (2 * before + cnt + 1)) AS r2a,
        |         sum(cnt * cnt * cnt - cnt) AS ties
        |  FROM c)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(n - na AS BIGINT) AS n_b,
        |       CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
        |       CAST(2 * na * (n - na) - (r2a - na * (na + 1)) AS BIGINT) AS u2_b,
        |       CAST(CASE WHEN na = 0 OR n - na = 0 THEN 0
        |            ELSE (1000000 * (r2a - na * (na + 1)))
        |                 // (2 * na * (n - na)) END AS BIGINT) AS cles_ppm,
        |       CAST(na * (n - na) * ((n + 1) * n * (n - 1) - ties)
        |         AS VARCHAR) AS var12s
        |FROM s""".stripMargin,

    // CUPED replay in HUGEINT: pooled θ, per-arm moment sums, single
    // truncating divisions exactly as the engine floors them
    "q203_cuped" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |u AS (
        |  SELECT CAST(user_id % 2 AS VARCHAR) AS arm,
        |         CAST(sum(CASE WHEN us <= mid THEN 1 ELSE 0 END) AS HUGEINT) AS x,
        |         CAST(sum(CASE WHEN us > mid THEN 1 ELSE 0 END) AS HUGEINT) AS y
        |  FROM ev, mid GROUP BY user_id),
        |g AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * x) AS sxx, sum(x * y) AS sxy
        |  FROM u),
        |a AS (
        |  SELECT arm, CAST(count(*) AS HUGEINT) AS na, sum(x) AS sxa,
        |         sum(y) AS sya, sum(x * x) AS sxxa, sum(x * y) AS sxya,
        |         sum(y * y) AS syya
        |  FROM u GROUP BY arm),
        |th AS (
        |  SELECT CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0 AS HUGEINT)
        |         ELSE (1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
        |         END AS theta, n, sx
        |  FROM g)
        |SELECT a.arm, CAST(a.na AS BIGINT) AS n,
        |       CAST(th.theta AS BIGINT) AS theta_ppm,
        |       CAST((1000000 * sya) // na AS BIGINT) AS mean_y_ppm,
        |       CAST((1000000 * sya) // na
        |            - (th.theta * (th.n * sxa - na * th.sx)) // (na * th.n)
        |         AS BIGINT) AS mean_ycup_ppm,
        |       CAST(CASE WHEN na * syya - sya * sya = 0 THEN 0
        |            ELSE (10000 * (2 * th.theta * (na * sxya - sxa * sya) * 1000000
        |                           - th.theta * th.theta * (na * sxxa - sxa * sxa)))
        |                 // ((na * syya - sya * sya) * 1000000000000)
        |            END AS BIGINT) AS varred_bp
        |FROM a, th ORDER BY arm""".stripMargin,

    "q197_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id AS k, epoch_us(ts) AS s,
        |         epoch_us(ts) + (CAST(round(value * 100) AS BIGINT) + 1) * 1000 AS e
        |  FROM events),
        |w AS (
        |  SELECT k, s, e,
        |         max(e) OVER (PARTITION BY k ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |f AS (
        |  SELECT k, s, e,
        |         CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nw,
        |         CASE WHEN pmax IS NOT NULL AND s > pmax THEN s - pmax ELSE 0 END AS gap
        |  FROM w),
        |g AS (SELECT *, sum(nw) OVER (PARTITION BY k ORDER BY s, e) AS island FROM f),
        |isl AS (
        |  SELECT k, island, count(*) AS nn, min(s) AS lo, max(e) AS hi, max(gap) AS gg
        |  FROM g GROUP BY k, island)
        |SELECT k, CAST(sum(nn) AS BIGINT) AS n_intervals,
        |       CAST(count(*) AS BIGINT) AS n_islands,
        |       CAST(sum(hi - lo) AS BIGINT) AS covered,
        |       CAST(max(gg) AS BIGINT) AS max_gap
        |FROM isl GROUP BY k ORDER BY k""".stripMargin,

    "q198_markov" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type AS state
        |  FROM events),
        |p AS (
        |  SELECT state,
        |         lead(state) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS next
        |  FROM e),
        |c AS (SELECT state, next, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE next IS NOT NULL GROUP BY state, next),
        |t AS (SELECT state, CAST(sum(n) AS BIGINT) AS n_state FROM c GROUP BY state)
        |SELECT c.state, c.next, c.n, (10000 * c.n) // t.n_state AS p_bp
        |FROM c JOIN t USING (state)
        |ORDER BY c.state, c.next""".stripMargin,

    "q196_forget_audit" ->
      """WITH s AS (
        |  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 7 = 0),
        |doomed AS (
        |  SELECT DISTINCT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT k FROM s)),
        |a AS (
        |  SELECT 'customer' AS "table", CAST(count(*) AS BIGINT) AS n_before,
        |         CAST(sum(CASE WHEN c_custkey IN (SELECT k FROM s)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |  FROM customer
        |  UNION ALL
        |  SELECT 'orders', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN o_custkey IN (SELECT k FROM s)
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM doomed)
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem)
        |SELECT "table", n_before, n_removed, n_before - n_removed AS n_after
        |FROM a ORDER BY "table"""".stripMargin,

    "q188_rank_eval" ->
      """WITH run AS (
        |  SELECT o_custkey AS q, o_orderkey AS d,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders),
        |rels AS (
        |  SELECT DISTINCT o_custkey AS q, o_orderkey AS d
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |nr AS (SELECT q, CAST(count(*) AS BIGINT) AS n_rel FROM rels GROUP BY q),
        |h AS (
        |  SELECT r.q, CAST(count(*) AS BIGINT) AS n_rel_ret,
        |         CAST(min(rnk) AS BIGINT) AS first_rel_rank
        |  FROM run r JOIN rels USING (q, d) WHERE rnk <= 10 GROUP BY r.q)
        |SELECT nr.q, nr.n_rel,
        |       coalesce(h.n_rel_ret, 0) AS n_rel_ret,
        |       h.first_rel_rank,
        |       coalesce(1000000 // h.first_rel_rank, 0) AS rr_ppm,
        |       (10000 * coalesce(h.n_rel_ret, 0)) // nr.n_rel AS recall_bp,
        |       (10000 * coalesce(h.n_rel_ret, 0)) // 10 AS precision_bp,
        |       coalesce(h.n_rel_ret, 0) > 0 AS hit
        |FROM nr LEFT JOIN h USING (q) ORDER BY q""".stripMargin,

    // pairwise slopes, exact floor(num*1e12/den) sort key in HUGEINT
    // (positive mod mirrors Spark's pmod), lower median, (num, den) ties
    "q191_theilsen" ->
      """WITH pts AS (
        |  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |np AS (SELECT k, CAST(count(*) AS BIGINT) AS n_points FROM pts GROUP BY k),
        |pr AS (
        |  SELECT a.k, b.y - a.y AS num, b.x - a.x AS den
        |  FROM pts a JOIN pts b ON a.k = b.k AND b.x > a.x),
        |sk AS (
        |  SELECT k, num, den,
        |         (num::HUGEINT * 1000000000000
        |          - ((num::HUGEINT * 1000000000000 % den::HUGEINT) + den::HUGEINT)
        |            % den::HUGEINT) // den::HUGEINT AS s
        |  FROM pr),
        |r AS (
        |  SELECT k, num, den,
        |         row_number() OVER (PARTITION BY k ORDER BY s, num, den) AS rn,
        |         CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n_pairs
        |  FROM sk)
        |SELECT r.k, np.n_points, r.n_pairs,
        |       CAST(num AS BIGINT) AS slope_num, CAST(den AS BIGINT) AS slope_den,
        |       CAST((num::HUGEINT * 1000000
        |             - ((num::HUGEINT * 1000000 % den::HUGEINT) + den::HUGEINT)
        |               % den::HUGEINT) // den::HUGEINT AS BIGINT) AS slope_ppm
        |FROM r JOIN np USING (k)
        |WHERE rn = (n_pairs + 1) // 2 ORDER BY k""".stripMargin,

    "q182_trending_delta" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus FROM events),
        |b AS (SELECT min(tus) AS lo, max(tus) AS hi FROM e),
        |c AS (
        |  SELECT user_id,
        |         CASE WHEN tus < b.lo + (b.hi - b.lo) // 2
        |              THEN 'prev' ELSE 'now' END AS period
        |  FROM e, b),
        |g AS (SELECT period, user_id, count(*) AS n FROM c GROUP BY 1, 2),
        |r AS (
        |  SELECT period, user_id,
        |         row_number() OVER (PARTITION BY period
        |                            ORDER BY n DESC, user_id) AS rk
        |  FROM g),
        |t AS (SELECT period, user_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 25),
        |p AS (SELECT user_id, rk AS rank_prev FROM t WHERE period = 'prev'),
        |q AS (SELECT user_id, rk AS rank_now FROM t WHERE period = 'now')
        |SELECT coalesce(p.user_id, q.user_id) AS user_id,
        |       rank_prev, rank_now,
        |       coalesce(rank_prev, 26) - coalesce(rank_now, 26) AS delta
        |FROM p FULL OUTER JOIN q ON p.user_id = q.user_id
        |ORDER BY user_id""".stripMargin,

    "q181_iqr_outliers" ->
      """WITH o AS (
        |  SELECT event_id, event_type AS ty,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |h AS (SELECT ty, cents, count(*) AS c FROM o GROUP BY 1, 2),
        |cum AS (
        |  SELECT ty, cents,
        |         sum(c) OVER (PARTITION BY ty ORDER BY cents) AS cl,
        |         sum(c) OVER (PARTITION BY ty) AS n
        |  FROM h),
        |q AS (
        |  SELECT ty,
        |         CAST(min(CASE WHEN cl >= (n + 3) // 4 THEN cents END) AS BIGINT) AS q1,
        |         CAST(min(CASE WHEN cl >= (3 * n + 3) // 4 THEN cents END) AS BIGINT) AS q3
        |  FROM cum GROUP BY ty)
        |SELECT o.event_id, o.ty, o.cents, q.q1, q.q3
        |FROM o JOIN q USING (ty)
        |WHERE 2 * o.cents < 2 * q.q1 - 3 * (q.q3 - q.q1)
        |   OR 2 * o.cents > 2 * q.q3 + 3 * (q.q3 - q.q1)
        |ORDER BY o.event_id""".stripMargin,

    "q176_window_catalog" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
        |  FROM events WHERE user_id < 20)
        |SELECT user_id, event_id,
        |       CAST(row_number() OVER w AS BIGINT) AS rn,
        |       lag(event_type, 1) OVER w AS prev_type,
        |       lead(event_type, 2) OVER w AS next2_type,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cdist,
        |       nth_value(event_type, 3) OVER wf AS third_type,
        |       first_value(event_type) OVER wf AS first_type,
        |       last_value(event_type) OVER wf AS last_type
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id),
        |       wf AS (PARTITION BY user_id ORDER BY tus, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, rn""".stripMargin,

    "q175_bitemporal" ->
      """WITH e0 AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type,
        |         epoch_us(ts) + (event_id % 97 + 1) * 3600000000 AS txus
        |  FROM events),
        |ao AS (SELECT min(txus) + (max(txus) - min(txus)) * 7 // 10 AS t FROM e0),
        |e AS (SELECT user_id, tus, event_id, event_type
        |      FROM e0, ao WHERE txus <= ao.t),
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

    "q172_event_pattern" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |         CASE event_type WHEN 'signup' THEN 's' WHEN 'view' THEN 'v'
        |              WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p' END AS sym
        |  FROM events
        |  WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
        |s AS (
        |  SELECT user_id,
        |         string_agg(sym, '' ORDER BY tus, event_id) AS seq,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY user_id)
        |SELECT user_id, seq, n_events,
        |       CAST(len(regexp_extract_all(seq, 'v{2,}c?p')) AS BIGINT) AS n_matches,
        |       CASE WHEN len(regexp_extract_all(seq, 'v{2,}c?p')) > 0
        |            THEN regexp_extract(seq, 'v{2,}c?p') ELSE '' END AS first_match
        |FROM s ORDER BY user_id""".stripMargin,

    "q169_attribution" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id AS id, event_type AS ty
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |a AS (
        |  SELECT *,
        |         min(CASE WHEN ty = 'purchase'
        |                  THEN struct_pack(tus := tus, id := id) END)
        |           OVER (PARTITION BY user_id ORDER BY tus DESC, id DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv
        |  FROM e),
        |t2 AS (
        |  SELECT user_id, conv.tus AS conv_tus, conv.id AS conv_id,
        |         id AS event_id, tus
        |  FROM a
        |  WHERE ty <> 'purchase' AND conv IS NOT NULL
        |    AND conv.tus - tus <= 604800000000),
        |rk AS (
        |  SELECT user_id, conv_tus, conv_id, event_id,
        |         CAST(row_number() OVER
        |           (PARTITION BY user_id, conv_tus, conv_id
        |            ORDER BY tus, event_id) AS BIGINT) AS touch_rank,
        |         CAST(count(*) OVER
        |           (PARTITION BY user_id, conv_tus, conv_id) AS BIGINT) AS n_touches
        |  FROM t2),
        |lin AS (
        |  SELECT user_id, conv_tus, conv_id, event_id, touch_rank, n_touches,
        |         CAST(10000 // n_touches
        |              + CASE WHEN touch_rank <= 10000 % n_touches THEN 1 ELSE 0 END
        |              AS BIGINT) AS credit_bp,
        |         'linear' AS model
        |  FROM rk),
        |uu AS (
        |  SELECT user_id, conv_tus, conv_id, event_id, touch_rank, n_touches,
        |         CAST(CASE
        |           WHEN n_touches = 1 THEN 10000
        |           WHEN n_touches = 2 THEN 5000
        |           WHEN touch_rank = 1 THEN 4000
        |           WHEN touch_rank = n_touches THEN 4000
        |           ELSE 2000 // (n_touches - 2)
        |                + CASE WHEN touch_rank - 1 <= 2000 % (n_touches - 2)
        |                       THEN 1 ELSE 0 END
        |         END AS BIGINT) AS credit_bp,
        |         'u' AS model
        |  FROM rk)
        |SELECT * FROM (SELECT * FROM lin UNION ALL SELECT * FROM uu)
        |ORDER BY model, user_id, conv_tus, conv_id, touch_rank""".stripMargin,

    "q165_constraints" ->
      """WITH t AS (SELECT count(*) AS n FROM orders)
        |SELECT * FROM (
        |  SELECT 'complete' AS "check", 'o_custkey' AS target,
        |         (SELECT count(o_custkey) FROM orders) * 10000 // n AS metric_bp,
        |         CAST(9999 AS BIGINT) AS threshold_bp,
        |         (SELECT count(o_custkey) FROM orders) * 10000 // n >= 9999 AS pass
        |  FROM t
        |  UNION ALL
        |  SELECT 'in_range', 'o_custkey[1,100000000]',
        |         (SELECT count(*) FROM orders
        |          WHERE o_custkey BETWEEN 1 AND 100000000) * 10000 // n,
        |         10000,
        |         (SELECT count(*) FROM orders
        |          WHERE o_custkey BETWEEN 1 AND 100000000) * 10000 // n >= 10000
        |  FROM t
        |  UNION ALL
        |  SELECT 'in_set', 'o_orderstatus{F|O|P}',
        |         (SELECT count(*) FROM orders
        |          WHERE o_orderstatus IN ('F','O','P')) * 10000 // n,
        |         10000,
        |         (SELECT count(*) FROM orders
        |          WHERE o_orderstatus IN ('F','O','P')) * 10000 // n >= 10000
        |  FROM t
        |  UNION ALL
        |  SELECT 'regex', 'o_orderpriority~^[1-5]-',
        |         (SELECT count(*) FROM orders
        |          WHERE o_orderpriority IS NOT NULL
        |            AND regexp_matches(o_orderpriority, '^[1-5]-')) * 10000 // n,
        |         10000,
        |         (SELECT count(*) FROM orders
        |          WHERE o_orderpriority IS NOT NULL
        |            AND regexp_matches(o_orderpriority, '^[1-5]-')) * 10000 // n >= 10000
        |  FROM t
        |  UNION ALL
        |  SELECT 'row_count', '[1,100000000]', n, 1, n BETWEEN 1 AND 100000000 FROM t
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey',
        |         ((SELECT count(DISTINCT o_orderkey) FROM orders)
        |          + (SELECT CASE WHEN count(*) > count(o_orderkey) THEN 1 ELSE 0 END
        |             FROM orders)) * 10000 // n,
        |         10000,
        |         ((SELECT count(DISTINCT o_orderkey) FROM orders)
        |          + (SELECT CASE WHEN count(*) > count(o_orderkey) THEN 1 ELSE 0 END
        |             FROM orders)) * 10000 // n >= 10000
        |  FROM t
        |  UNION ALL
        |  SELECT 'unique', 'o_custkey',
        |         ((SELECT count(DISTINCT o_custkey) FROM orders)
        |          + (SELECT CASE WHEN count(*) > count(o_custkey) THEN 1 ELSE 0 END
        |             FROM orders)) * 10000 // n,
        |         1,
        |         ((SELECT count(DISTINCT o_custkey) FROM orders)
        |          + (SELECT CASE WHEN count(*) > count(o_custkey) THEN 1 ELSE 0 END
        |             FROM orders)) * 10000 // n >= 1
        |  FROM t
        |  UNION ALL
        |  SELECT 'foreign_key', 'o_custkey->c_custkey',
        |         (SELECT count(*) FROM orders o
        |          WHERE o.o_custkey IS NOT NULL
        |            AND NOT EXISTS (SELECT 1 FROM customer c
        |                            WHERE c.c_custkey = o.o_custkey)),
        |         0,
        |         (SELECT count(*) FROM orders o
        |          WHERE o.o_custkey IS NOT NULL
        |            AND NOT EXISTS (SELECT 1 FROM customer c
        |                            WHERE c.c_custkey = o.o_custkey)) = 0
        |  FROM t)
        |ORDER BY "check", target""".stripMargin,

    "q162_cdc_apply" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_custkey AS cust, o_orderstatus AS status
        |  FROM orders),
        |base AS (SELECT k, cust, status FROM o WHERE k % 4 <> 0),
        |changes AS (
        |  SELECT k, 1 AS seq, 'upsert' AS op, cust, status || '-r1' AS status
        |  FROM o WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k, 2, 'upsert', cust + 1000000, status || '-r2'
        |  FROM o WHERE k % 6 = 0
        |  UNION ALL
        |  SELECT k, 3, 'delete', NULL, NULL FROM o WHERE k % 5 = 0),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM changes),
        |l AS (SELECT k, op, cust, status FROM w WHERE rn = 1),
        |m AS (
        |  SELECT coalesce(b.k, l.k) AS k,
        |         CASE WHEN l.k IS NOT NULL THEN l.cust ELSE b.cust END AS cust,
        |         CASE WHEN l.k IS NOT NULL THEN l.status ELSE b.status END AS status,
        |         l.op AS op
        |  FROM base b FULL OUTER JOIN l ON b.k = l.k)
        |SELECT k, cust, status FROM m
        |WHERE op IS NULL OR op <> 'delete' ORDER BY k""".stripMargin,

    "q152_fd_profile" -> fdOracle("orders", fdCols),
    "q153_ind_profile" -> indOracle(indSources),

    "q160_rfm" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS tsec,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |ao AS (SELECT max(tsec) AS a FROM e),
        |m AS (
        |  SELECT user_id,
        |         CAST((ao.a - max(tsec)) // 86400 AS BIGINT) AS r_days,
        |         CAST(count(*) AS BIGINT) AS f,
        |         CAST(sum(cents) AS BIGINT) AS m_cents
        |  FROM e, ao GROUP BY user_id, ao.a),
        |q AS (
        |  SELECT user_id, r_days, f, m_cents,
        |    count(*) OVER () AS n,
        |    count(*) OVER (ORDER BY r_days DESC) AS cr,
        |    count(*) OVER (ORDER BY f) AS cf,
        |    count(*) OVER (ORDER BY m_cents) AS cm
        |  FROM m)
        |SELECT user_id, r_days, f, m_cents,
        |  CAST((5 * cr + n - 1) // n AS INT) AS r_q,
        |  CAST((5 * cf + n - 1) // n AS INT) AS f_q,
        |  CAST((5 * cm + n - 1) // n AS INT) AS m_q
        |FROM q ORDER BY user_id""".stripMargin,

    "q158_quantile_norm" ->
      """WITH v AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |h AS (
        |  SELECT event_type, cents AS value, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM v GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, value, n_rows,
        |         CAST(sum(n_rows) OVER (PARTITION BY event_type ORDER BY value)
        |              AS BIGINT) AS cum_le,
        |         CAST(sum(n_rows) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM h)
        |SELECT event_type, value, n_rows, cum_le,
        |       CAST((cum_le * 10000) // n AS BIGINT) AS pct_bp
        |FROM c ORDER BY event_type, value""".stripMargin,

    "q38_table_stats" ->
      """SELECT count(*) AS n, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(pow(l_quantity - 25.0, 2) AS DECIMAL(25,6))) AS DOUBLE) AS sse_vs_25
        |FROM lineitem""".stripMargin,

    "q39_canonicalize" ->
      """SELECT doc_id,
        |       array_to_string(list_sort(list_filter(string_split(text, ' '), x -> x <> '')), ' ')
        |         AS canonical
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q40_java_hash" ->
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split_regex(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |         (h, c) -> ((h * 31 + c + 2147483648) % 4294967296 + 4294967296) % 4294967296 - 2147483648)
        |         AS jhash
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "q83_retention_cohorts" ->
      """WITH f AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS cohort FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS p FROM events),
        |c AS (
        |  SELECT f.cohort AS cohort,
        |         CAST(date_diff('day', f.cohort, a.p) AS BIGINT) AS "offset",
        |         CAST(count(*) AS BIGINT) AS n_users
        |  FROM a JOIN f USING (user_id) GROUP BY 1, 2),
        |w AS (
        |  SELECT cohort, "offset", n_users,
        |         max(CASE WHEN "offset" = 0 THEN n_users END)
        |           OVER (PARTITION BY cohort) AS cohort_size
        |  FROM c)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day, "offset", n_users,
        |       CAST(cohort_size AS BIGINT) AS cohort_size,
        |       (n_users * 10000) // cohort_size AS retention_bp
        |FROM w ORDER BY cohort_day, "offset"""".stripMargin,

    "q86_zorder_layout" ->
      """SELECT event_id,
        |       CAST(list_sum(list_transform(range(0, 31), i ->
        |         (((a >> i) & 1) << (2 * i + 1)) + (((b >> i) & 1) << (2 * i))))
        |         AS BIGINT) AS z
        |FROM (
        |  SELECT event_id,
        |         user_id % 2147483648 AS a,
        |         (epoch_us(ts) // 1000000) % 2147483648 AS b
        |  FROM events WHERE event_id < 500)
        |ORDER BY event_id""".stripMargin,

    "q87_funnel" ->
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

    // null-safe compression (IS DISTINCT FROM + explicit first-row keep),
    // pinning the operator's `<=>` nulls-as-values reading: NULL→NULL
    // compresses, NULL→x / x→NULL open intervals
    "q90_scd2_history" ->
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

    "q91_zonemap_prune" ->
      """SELECT event_id, user_id, epoch_us(ts) // 1000000 AS tsec
        |FROM events
        |WHERE user_id BETWEEN 3 AND 9
        |  AND epoch_us(ts) // 1000000 BETWEEN 1704499200 AND 1704931200
        |ORDER BY event_id""".stripMargin,

    // Spark's `div` TRUNCATES toward zero while DuckDB's `//` floors —
    // they disagree exactly on negative growth, so the oracle truncs
    // explicitly via a sign case (prev_n is always positive).
    "q110_growth_dod" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day, n,
        |         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
        |  FROM d)
        |SELECT event_type, day, n,
        |       COALESCE(prev_n, -1) AS prev_n,
        |       CASE WHEN prev_n IS NULL THEN -1
        |            WHEN n >= prev_n THEN ((n - prev_n) * 10000) // prev_n
        |            ELSE -(((prev_n - n) * 10000) // prev_n) END AS growth_bp
        |FROM l ORDER BY event_type, day""".stripMargin,

    "q147_decayed_topk" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS tsec FROM events),
        |m AS (SELECT max(tsec) // 86400 AS asof_gen FROM e),
        |w AS (SELECT user_id, asof_gen - (tsec // 86400) AS age
        |      FROM e, m
        |      WHERE asof_gen - (tsec // 86400) BETWEEN 0 AND 14),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_window,
        |             CAST(sum(1::BIGINT << (14 - age)) AS BIGINT) AS decayed
        |      FROM w GROUP BY user_id)
        |SELECT user_id, n_window, decayed,
        |       CAST(row_number() OVER (ORDER BY decayed DESC, user_id) AS BIGINT) AS rank
        |FROM s ORDER BY rank LIMIT 25""".stripMargin,

    // percentile_disc replay (q70's ceil-rank recipe) for median and MAD,
    // then the integer 3-MAD flag.
    "q92_anomaly_mad" ->
      """WITH v AS (
        |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |medh AS (
        |  SELECT event_type, cents AS val, count(*) AS c FROM v GROUP BY 1, 2),
        |medr AS (
        |  SELECT event_type, val,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY val) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM medh),
        |med AS (
        |  SELECT event_type, min(val) AS med
        |  FROM medr WHERE cum >= (n + 1) // 2 GROUP BY event_type),
        |d AS (
        |  SELECT v.*, med.med, abs(cents - med.med) AS dev
        |  FROM v JOIN med USING (event_type)),
        |madh AS (
        |  SELECT event_type, dev AS val, count(*) AS c FROM d GROUP BY 1, 2),
        |madr AS (
        |  SELECT event_type, val,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY val) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM madh),
        |mad AS (
        |  SELECT event_type, min(val) AS mad
        |  FROM madr WHERE cum >= (n + 1) // 2 GROUP BY event_type)
        |SELECT d.event_id, d.event_type, d.cents,
        |       CAST(d.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad,
        |       CAST(d.dev AS BIGINT) AS dev
        |FROM d JOIN mad USING (event_type)
        |WHERE d.dev > 3 * mad.mad
        |ORDER BY d.event_id""".stripMargin,

    "q93_rollup_revenue" ->
      """SELECT r_name, n_name,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
        |                  AS DOUBLE), 2) AS revenue,
        |       count(*) AS n,
        |       CAST(CASE WHEN r_name IS NULL THEN 2 ELSE 0 END
        |            + CASE WHEN n_name IS NULL THEN 1 ELSE 0 END AS INT) AS lvl
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY lvl, r_name, n_name""".stripMargin,

    "q94_pivot_priority" ->
      """SELECT r_name,
        |  COALESCE(round(CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE), 2), 0.0) AS "1_urgent",
        |  COALESCE(round(CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'
        |    THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE), 2), 0.0) AS "2_high",
        |  COALESCE(round(CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
        |    THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE), 2), 0.0) AS "3_medium",
        |  COALESCE(round(CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
        |    THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE), 2), 0.0) AS "4_not_specified",
        |  COALESCE(round(CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
        |    THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE), 2), 0.0) AS "5_low"
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    // hourly registers (q85's md5 bucket/rank recipe over user ids), then
    // the window explode + MAX fold.
    "q97_windowed_hll" ->
      """WITH h AS (
        |  SELECT epoch_us(ts) // 3600000000 AS ehour, user_id FROM events),
        |r AS (
        |  SELECT ehour,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(CAST(user_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                AS BIGINT) << CAST(4 * (7 - i) AS INT))) % 64 AS BIGINT) AS bucket,
        |         CAST(list_sum(list_transform(range(8, 16), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(CAST(user_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                AS BIGINT) << CAST(4 * (15 - i) AS INT))) AS BIGINT) AS x
        |  FROM h),
        |rk AS (
        |  SELECT ehour, bucket,
        |         max(CASE WHEN x = 0 THEN 33 ELSE CAST(33 - len(bin(x)) AS INT) END) AS maxrank
        |  FROM r GROUP BY ehour, bucket),
        |w AS (
        |  SELECT ehour + i.i AS whour, bucket, maxrank
        |  FROM rk, range(0, 3) i(i))
        |SELECT whour, bucket, CAST(max(maxrank) AS INT) AS maxrank
        |FROM w GROUP BY whour, bucket ORDER BY whour, bucket""".stripMargin,

    // sessionize (q14's recipe in the µs domain) + plain inequality
    // overlap join + per-session window count.
    "q99_interval_overlap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
        |d AS (
        |  SELECT user_id, tus, event_id,
        |         CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (
        |  SELECT user_id, tus,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid
        |  FROM d),
        |iv AS (
        |  SELECT user_id, sid, min(tus) AS s_start, max(tus) AS s_end
        |  FROM s GROUP BY user_id, sid),
        |ew AS (
        |  SELECT user_id, tus - 300000000 AS w_start, tus + 300000000 AS w_end
        |  FROM e WHERE event_type = 'error')
        |SELECT iv.user_id, iv.s_start, iv.s_end,
        |       CAST(count(*) AS BIGINT) AS n_error_windows
        |FROM iv JOIN ew ON iv.user_id = ew.user_id
        |  AND iv.s_start <= ew.w_end AND ew.w_start <= iv.s_end
        |GROUP BY iv.user_id, iv.s_start, iv.s_end
        |ORDER BY iv.user_id, iv.s_start""".stripMargin)

  /** Converged-HITS replay (q226): `iters` unrolled rounds of the
    * ppm-of-max-normalized power iteration in HUGEINT — each round is the
    * q219 walk step plus a `(v * scale) // max(v)` renormalization per
    * side, matching [[graft.operators.Hits.normalizedScores]] floor for
    * floor (the q183 emRound idiom: generate the mechanical unroll, keep
    * the recursion readable in one place).
    */
  private def hitsConvergedOracle(iters: Int): String = {
    val sb = new StringBuilder(
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT id, CAST(1000000 AS HUGEINT) AS h FROM nodes)""".stripMargin)
    // each round's raw side is MATERIALIZED and its max lives in its own
    // one-row CTE: the scalar-subquery form makes DuckDB re-evaluate the
    // whole recursion per reference and exhausts file handles at depth 4
    for (r <- 1 to iters) {
      val ph = if (r == 1) "h0" else s"h${r - 1}"
      sb ++= s""",
        |a${r}r AS MATERIALIZED (
        |  SELECT n.id, CAST(coalesce(s.v, 0) AS HUGEINT) AS v
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst AS id, sum(p.h) AS v
        |    FROM e JOIN $ph p ON p.id = e.src GROUP BY e.dst) s ON s.id = n.id),
        |a${r}m AS (SELECT max(v) AS m FROM a${r}r),
        |a$r AS MATERIALIZED (
        |  SELECT id, CASE WHEN m = 0 THEN 0
        |       ELSE (v * 1000000) // m END AS a
        |  FROM a${r}r, a${r}m),
        |h${r}r AS MATERIALIZED (
        |  SELECT n.id, CAST(coalesce(s.v, 0) AS HUGEINT) AS v
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.src AS id, sum(p.a) AS v
        |    FROM e JOIN a$r p ON p.id = e.dst GROUP BY e.src) s ON s.id = n.id),
        |h${r}m AS (SELECT max(v) AS m FROM h${r}r),
        |h$r AS MATERIALIZED (
        |  SELECT id, CASE WHEN m = 0 THEN 0
        |       ELSE (v * 1000000) // m END AS h
        |  FROM h${r}r, h${r}m)""".stripMargin
    }
    sb ++= s"""
      |SELECT n.id, CAST(a$iters.a AS BIGINT) AS auth_ppm,
      |       CAST(h$iters.h AS BIGINT) AS hub_ppm
      |FROM nodes n JOIN a$iters ON a$iters.id = n.id
      |JOIN h$iters ON h$iters.id = n.id
      |ORDER BY n.id""".stripMargin
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q2_join_revenue_by_brand" ->
      """SELECT p_brand,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q3_revenue_by_region_nation" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q4_semi_join_priority" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q5_anti_join_customers" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q6_semistream_join" ->
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q7_distinct_keys" ->
      "SELECT DISTINCT l_partkey FROM lineitem ORDER BY 1",

    "q8_topk_per_priority" ->
      """SELECT o_orderpriority, rk, o_orderkey, round(o_totalprice, 2) AS price
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders) t
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,

    "q9_union_slices" ->
      """SELECT l_returnflag, count(*) AS n FROM (
        |  SELECT * FROM lineitem WHERE l_quantity < 3
        |  UNION ALL
        |  SELECT * FROM lineitem WHERE l_returnflag = 'R' AND l_discount > 0.09
        |) u GROUP BY 1 ORDER BY 1""".stripMargin,

    "q10_brand_freq" ->
      """SELECT p_brand, count(*) AS cnt FROM part
        |GROUP BY 1 HAVING count(*) > 10 ORDER BY 1""".stripMargin,

    "q11_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q12_global_topk" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem
        |ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,

    "q13_scalar_funcs" ->
      """SELECT p_partkey,
        |  length(p_name) AS name_len,
        |  upper(p_brand) AS brand_uc,
        |  concat_ws('-', p_brand, p_type) AS brand_type,
        |  len(string_split(p_name, ' ')) AS n_tokens,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |  p_size % 5 AS size_mod
        |FROM part ORDER BY 1""".stripMargin,

    "q14_sessionize" ->
      """SELECT user_id, count(*) AS n_sessions FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id) IS NULL
        |           OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id), ts) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events) t
        |WHERE brk = 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_delta_transform" ->
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  round(value - lag(value) OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id), 4) AS delta
        |FROM events WHERE user_id < 10
        |QUALIFY delta IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,

    "q16_rolling_mean" ->
      """SELECT user_id, rn, mean5 FROM (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id) AS rn,
        |    round(avg(value) OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id
        |                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS mean5
        |  FROM events WHERE user_id < 10) t
        |WHERE rn >= 5 ORDER BY 1, 2""".stripMargin
  )
}
