package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver.
  *
  * Hygiene (round-1 verdict): a throwaway warm-up query absorbs JVM/codegen
  * startup before anything is timed, and evaluation forces EVERY output
  * column — `count()` would let Catalyst prune unreferenced projections, so
  * projection-only queries (e.g. scalar-function surfaces) would never
  * execute their expressions. Load adjudication is automatic (round-10
  * verdict): lines whose noise sentinel ran >= 2x the floor re-run up to
  * twice, and the JSON ships both the final min and the pre-retry number
  * (`retried`), so no round spends its verdict on load forensics.
  */
object Bench {

  /** Force full evaluation: hash every column of every row into one long.
    * `max` (not `sum`) folds the hashes — summing 64-bit hashes overflows
    * under ANSI mode.
    */
  private def exhaust(df: DataFrame): Unit = {
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(max("h")).collect()
    ()
  }

  /** `Bench compare curA.json curB.json prevA.json prevB.json` — the
    * close-report arithmetic, EMITTED instead of hand-computed (round-14
    * verdict: a close note compared this round's min-of-two against last
    * round's single run A and claimed −11 % where the honest min-of-two
    * comparison was +1 %). Restricting to the queries common to all four
    * files, it prints per-index (A-vs-A, B-vs-B) and min-of-two-vs-
    * min-of-two totals plus the top movers, so no close note ever picks
    * its own operands again.
    */
  private def runCompare(files: Seq[String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def queriesOf(path: String): Map[String, Double] = {
      import scala.jdk.CollectionConverters._
      val node = mapper.readTree(new java.io.File(path)).get("queries")
      node.fieldNames().asScala.map(k => k -> node.get(k).asDouble()).toMap
    }
    val Seq(curA, curB, prevA, prevB) = files.map(queriesOf)
    val common = curA.keySet & curB.keySet & prevA.keySet & prevB.keySet
    def sum(m: Map[String, Double]) = common.toSeq.map(m).sum
    def pct(cur: Double, prev: Double) =
      math.rint((cur / prev - 1) * 1000) / 10
    val curMin = common.map(k => k -> math.min(curA(k), curB(k))).toMap
    val prevMin = common.map(k => k -> math.min(prevA(k), prevB(k))).toMap
    val movers = common.toSeq
      .map(k => k -> (math.rint((curMin(k) - prevMin(k)) * 10) / 10))
      .filter(kv => math.abs(kv._2) >= 0.5)
      .sortBy { case (_, d) => (-math.abs(d), d) }.take(10)
      .map { case (k, d) => s"\"$k\":$d" }.mkString("{", ",", "}")
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    println(
      s"""{"metric":"close_compare","common_lines":${common.size},""" +
        s""""min2_cur_sec":${r3(sum(curMin))},"min2_prev_sec":${r3(sum(prevMin))},""" +
        s""""min2_delta_pct":${pct(sum(curMin), sum(prevMin))},""" +
        s""""a_vs_a_pct":${pct(sum(curA), sum(prevA))},"b_vs_b_pct":${pct(sum(curB), sum(prevB))},""" +
        s""""top_movers_min2":$movers}""")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("compare")) { runCompare(args.drop(1).toSeq); return }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up: one untimed pass of a join+agg touching the usual fact tables.
    try {
      val li = graft.core.Tables(spark, sfDir, "lineitem")
      val part = graft.core.Tables(spark, sfDir, "part")
      exhaust(li.join(part, li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand").count())
    } catch { case _: Throwable => () }

    // Optional A/B filter: SPARK_GRAFT_BENCH_ONLY=q41,q45 runs only queries
    // whose name starts with one of the comma-separated prefixes. Unset (the
    // driver's mode) runs everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.isEmpty || only.exists(name.startsWith)
    }

    // Min-of-2 protocol (round-5 verdict: single runs on a co-tenant box
    // flagged phantom 2× cross-round swings): every query ≥ 1 s runs twice
    // and reports the MIN — the best observable proxy for the noise-free
    // time. Sub-second queries skip the rerun (their absolute noise is
    // bounded by their size), keeping total bench time in check.
    //
    // Every timed run starts from a CLEARED persist cache: queries persist
    // internals (tokenized corpora, signature indexes) without
    // unpersisting, and Spark's cache matches by plan equality — so a
    // rerun (or a later query sharing a subplan) would silently read the
    // previous run's cached blocks and report a fantasy number (observed:
    // the similarity-join family at 0.4-1.5 s vs its real 15-30 s).
    // failures are NOT silent: the name ships in the JSON's "failed" list
    // (round-11: an overflow-guarded query printed a plausible 1.3 s line
    // and the failure was only caught by an A/B probe)
    val failedQueries = collection.mutable.SortedSet[String]()
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try exhaust(fn(spark, sfDir))
      catch { case e: Throwable =>
        failedQueries += name.takeWhile(_ != '_')
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }

    // NOISE SENTINEL (round-7 verdict: three rounds burned adjudicating
    // phantom cross-round regressions — q45 r6, q33 r5, q41 r7 — that were
    // co-tenant box load). A fixed calibration query (scan+agg, q13-class)
    // runs between the two timed passes of every heavy query and again
    // after; each heavy query reports max(sentinel-around-it) / min(all
    // sentinels this run) — a LOCAL load denominator, so a cross-round
    // delta can be read as regression vs noise without a rerun.
    def sentinel(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        val li = graft.core.Tables(spark, sfDir, "lineitem")
        exhaust(li.groupBy("l_returnflag").agg(
          sum("l_quantity").as("s"), avg("l_extendedprice").as("a"), count(lit(1)).as("c")))
      } catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }
    val allSentinels = collection.mutable.Buffer(sentinel())
    val querySentinel = collection.mutable.Map[String, Double]()
    val results0 = selected.map { case (name, fn) =>
      val first = timeOnce(name, fn)
      val best =
        if (first < 1.0) first
        else {
          val sBefore = sentinel()
          val second = timeOnce(name, fn)
          val sAfter = sentinel()
          allSentinels += sBefore += sAfter
          querySentinel(name) = math.max(sBefore, sAfter)
          math.min(first, second)
        }
      name -> best
    }

    // AUTO-ADJUDICATION (round-10 verdict: every round burned its verdict
    // on load forensics for lines whose sentinel ran hot): any line whose
    // surrounding sentinel hit >= 2x the floor re-runs — up to 2 retries,
    // stopping as soon as a retry's own sentinels come back clean. The
    // reported number is the min across all runs; `retried` carries the
    // pre-retry number so both sides of the adjudication ship in the JSON.
    val retriedOrig = collection.mutable.Map[String, Double]()
    val results = results0.map { case (name, best) =>
      var cur = best
      var attempts = 0
      while (attempts < 2 &&
        querySentinel.get(name).exists(_ / allSentinels.min >= 2.0)) {
        val fn = SparkEntry.queries(name)
        val sBefore = sentinel()
        val again = timeOnce(name, fn)
        val sAfter = sentinel()
        allSentinels += sBefore += sAfter
        if (!retriedOrig.contains(name)) retriedOrig(name) = cur
        cur = math.min(cur, again)
        querySentinel(name) = math.max(sBefore, sAfter)
        attempts += 1
      }
      name -> cur
    }

    // Second tracked line for the adaptive controller (round-8 verdict):
    // q17/q41 now bench under FixedRule (deterministic work — the timing
    // hill-climb feeds measured latencies back into eviction volume, so
    // its total work varies run-to-run by construction), and the HillClimb
    // configuration is timed HERE as its own metric so the adaptive path
    // stays perf-tracked without polluting the comparable q17/q41 series.
    val hillClimbLines: Seq[(String, Double)] =
      Seq("q17hc" -> "q17_stream_semistream_join", "q41hc" -> "q41_stream_simjoin")
        .filter { case (hcName, base) =>
          selected.exists(_._1 == base) || only.exists(hcName.startsWith)
        }
        .map { case (hcName, base) =>
          graft.queries.StreamingQueries.windowRuleOverride =
            Some(graft.streaming.HillClimbRule)
          // min-of-2 is LOAD-BEARING here, not just noise hygiene: the
          // hill-climb steers by measured batch latencies, so a single
          // cold draw can wander to 2-2.5× its warm time (observed 83 s
          // vs a 33-35 s warm band on an idle box)
          try hcName -> math.min(
            timeOnce(hcName, SparkEntry.queries(base)),
            timeOnce(hcName, SparkEntry.queries(base)))
          finally graft.queries.StreamingQueries.windowRuleOverride = None
        }

    // Dedicated per-batch latency of the streaming semi-stream join —
    // apples-to-apples with the reference's recorded ~2.1 s mean batch
    // latency (BASELINE.md, DSim-Join/log): per-batch stage times from the
    // CacheManager, staging/setup excluded.
    // gate mirrors the query-selection predicate (metric-name startsWith
    // prefix), so e.g. SPARK_GRAFT_BENCH_ONLY=str still measures it.
    //
    // Round-12 (r11 verdict ask 3): these two lines were the ONLY numbers
    // outside the sentinel/retry adjudication, and the r11 close run
    // recorded a 15× disagreement with the driver's run on identical code.
    // They now run min-of-2 with sentinels around each pass and the same
    // hot-sentinel retry loop as heavy queries; pre-retry numbers ship in
    // `retried` under their full metric names.
    val streamMetricNames = Seq("stream_mean_batch_sec", "stream_max_batch_sec")
    val streamBatch: Seq[(String, Double)] =
      if (only.nonEmpty && !streamMetricNames.exists(n => only.exists(n.startsWith)))
        Seq.empty
      else {
        def once(): Option[(Double, Double)] = try {
          spark.catalog.clearCache()
          val li = graft.core.Tables(spark, sfDir, "lineitem")
            .select(col("l_partkey").as("p_partkey"), col("l_orderkey"), col("l_quantity"))
          val part = graft.core.Tables(spark, sfDir, "part")
          val cache = part.filter(pmod(col("p_partkey"), lit(10)) < 3)
          val (_, stats) = graft.streaming.SemiStreamRuntime.semiStreamJoin(
            li, part, cache,
            key = "p_partkey", chunkKey = "l_orderkey", chunks = 8)
          val perBatch = stats.map(s => (s.cogMs + s.fetchMs + s.cacheMs) / 1e3)
          Some((perBatch.sum / math.max(perBatch.size, 1), perBatch.max))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] stream batch failed: ${e.getMessage}")
            None
        }
        def minPair(a: (Double, Double), b: (Double, Double)): (Double, Double) =
          (math.min(a._1, b._1), math.min(a._2, b._2))
        // One DISCARDED warmup pass first: on a fresh JVM both min-of-2
        // passes otherwise land inside JIT warmup of the whole streaming
        // stack and the metric swings ~4× run-to-run; the reference
        // envelope (2.1 s mean over 413 batches) is a steady-state
        // number, so steady-state is the honest comparison.
        once()
        // min-of-2 unconditionally (the run itself is multi-second even when
        // the per-batch mean is sub-second), sentinels bracketing each pass
        val first = once()
        val sB = sentinel()
        val second = once()
        val sA = sentinel()
        allSentinels += sB += sA
        var cur = (first, second) match {
          case (Some(a), Some(b)) => Some(minPair(a, b))
          case (a, b)             => a.orElse(b)
        }
        var sHot = math.max(sB, sA)
        var attempts = 0
        while (attempts < 2 && cur.nonEmpty && sHot / allSentinels.min >= 2.0) {
          val sb = sentinel()
          val again = once()
          val sa = sentinel()
          allSentinels += sb += sa
          if (!retriedOrig.contains("stream_mean_batch_sec")) cur.foreach { case (m, x) =>
            retriedOrig("stream_mean_batch_sec") = m
            retriedOrig("stream_max_batch_sec") = x
          }
          cur = (cur, again) match {
            case (Some(a), Some(b)) => Some(minPair(a, b))
            case (a, b)             => a.orElse(b)
          }
          sHot = math.max(sb, sa)
          attempts += 1
        }
        if (sHot / allSentinels.min >= 1.5)
          querySentinel("stream_batch") = sHot
        cur.toSeq.flatMap { case (m, x) =>
          Seq("stream_mean_batch_sec" -> m, "stream_max_batch_sec" -> x)
        }
      }

    // SOAK GATE (round-13 verdict task 7): many-batch stateful replays
    // with state telemetry — catches unbounded state/file growth and
    // per-batch cost drift that 4-8-batch gates cannot see. Batch counts
    // scale via SPARK_GRAFT_SOAK_BATCHES (default 24/16 keeps the bench
    // line ~1 min; a 30-min production soak is the same gates at a higher
    // count — they are batch-count-relative, not wall-clock-relative).
    val soakBatches = sys.env.get("SPARK_GRAFT_SOAK_BATCHES").map(_.toInt)
    def soakDocs = graft.core.Tables(spark, sfDir, "documents")
      .filter(pmod(col("doc_id"), lit(4)) === 0)
    val soakRes: Option[graft.streaming.Soak.Result] =
      if (only.nonEmpty && !only.exists("soak_gate".startsWith)) None
      else try {
        spark.catalog.clearCache()
        val li = graft.core.Tables(spark, sfDir, "lineitem")
          .select(col("l_partkey").as("p_partkey"), col("l_orderkey"), col("l_quantity"))
        val part = graft.core.Tables(spark, sfDir, "part")
        Some(graft.streaming.Soak.run(
          soakDocs, li, part,
          dedupBatches = soakBatches.getOrElse(24),
          joinBatches = soakBatches.map(_ * 2 / 3).getOrElse(16)))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] soak failed: ${e.getMessage}")
          None
      }

    // TXNLOG SOAK: a second many-batch dedup replay. The transaction-log
    // store is now the only state store, so this leg runs the same code as
    // soak_gate's dedup leg; its line fields and gate are kept so the bench
    // line's shape is unchanged. The log-checkpoint + cached-snapshot work
    // is what it certifies (per-batch cost must NOT grow with commit count).
    val soakTxn: Option[graft.streaming.Soak.DedupResult] =
      if (only.nonEmpty && !only.exists("soak_txnlog".startsWith)) None
      else try {
        spark.catalog.clearCache()
        Some(graft.streaming.Soak.dedupSoak(soakDocs, soakBatches.getOrElse(24)))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] txnlog soak failed: ${e.getMessage}")
          None
      }

    // SCALE GATE (round-13 verdict task 2): the flagship family's
    // sf-vs-sf/10 scaling exponent, recorded per line every round instead
    // of ad hoc. exponent = log10(T_sf / T_sf/10): ~1 = linear in data,
    // < 1 = fixed-overhead-dominated at the small SF, > 1 = super-linear.
    // The gate FAILs when any line exceeds SCALE_EXP_MAX — a candidate
    // blow-up (all-pairs regression, broken pruning) shows up here as
    // exponent → 2 long before a wall-clock line looks alarming. The
    // lo-SF pass is one timed run per line (the exponent tolerates noise
    // that the min-of-2 wall-clock lines cannot); family cost at sf0.01
    // is seconds per line.
    val ScaleFamily = Seq(
      "q17_stream_semistream_join", "q41_stream_simjoin",
      "q45_simjoin_deletion", "q49_stream_dedup", "q50_containment",
      "q111_kv_pointfetch_join", "q112_repeated_spans", "q113_duplication_load",
      "q114_span_removal", "q115_stream_spans", "q243_txnlog_dedup")
    val ScaleExpMax = 1.6
    val loDir = {
      val m = "sf([0-9.]+)$".r.findFirstMatchIn(sfDir)
      m.flatMap { mm =>
        val lo = sfDir.dropRight(mm.group(1).length) + (mm.group(1).toDouble / 10)
        if (new java.io.File(lo).isDirectory) Some(lo) else None
      }
    }
    // in driver mode (no filter) the whole family runs; a filtered A/B run
    // still gates whatever family lines it selected
    val scaleExps: Seq[(String, Double)] =
      if (loDir.isEmpty) Seq.empty
      else ScaleFamily.filter(n => selected.exists(_._1 == n)).flatMap { name =>
        (SparkEntry.queries.get(name), results.find(_._1 == name)) match {
          case (Some(fn), Some((_, hi))) if hi > 0 =>
            // min-of-2 lo runs (round-14 verdict task 6): the hi side is
            // already min-of-2, and a single noisy lo draw can push an
            // exponent over the gate on a healthy round
            def loOnce(): Option[Double] = {
              spark.catalog.clearCache()
              val t0 = System.nanoTime()
              val ok = try { exhaust(fn(spark, loDir.get)); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] scale-gate $name@lo failed: ${e.getMessage}")
                false
              }
              val lo = (System.nanoTime() - t0) / 1e9
              if (ok && lo > 0) Some(lo) else None
            }
            (loOnce(), loOnce()) match {
              case (Some(a), Some(b)) => Some(name -> math.log10(hi / math.min(a, b)))
              case (a, b)             => a.orElse(b).map(lo => name -> math.log10(hi / lo))
            }
          case _ => None
        }
      }
    val scaleGate =
      if (scaleExps.isEmpty) "\"skipped\""
      else if (scaleExps.forall(_._2 <= ScaleExpMax)) "\"pass\"" else "\"FAIL\""

    // One SHORT JSON line: values rounded to 3 decimals and sentinel keys
    // abbreviated to the qNN prefix — BENCH_r07's full-precision line
    // overflowed the driver's fixed-size stdout tail capture, truncating
    // the line start and failing the parse ("parsed": null).
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // stream-metric keys keep their full names in `sentinels`/`retried`:
    // the qNN abbreviation would collapse both onto the prefix "stream"
    def abbrev(k: String): String =
      if (k.startsWith("stream")) k else k.takeWhile(_ != '_')
    // query keys abbreviate to their unique qNN prefix (stream metrics stay
    // full): 73 full names (~2.4 KB) would crowd the capture window again.
    // Entries are ordered CHEAPEST-FIRST: the driver tails the LAST 2000
    // chars of stdout (observed: every BENCH_rNN.json's `tail` field is
    // exactly 2000 chars), so whatever the window truncates should be the
    // least informative lines — the expensive queries land at the dict end,
    // inside the captured window, next to the summary fields below.
    val qs = (results.map { case (k, v) => k.takeWhile(_ != '_') -> v } ++
      hillClimbLines ++ streamBatch)
      .sortBy(_._2)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val floor = allSentinels.min
    // only ELEVATED ratios are reported (absent = clean, ratio < 1.5):
    // with ~30 heavy queries a full dict pushed the line back over the
    // capture window, and only the elevated entries carry information
    val sent = querySentinel.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> math.rint(v / floor * 10) / 10 }
      .filter(_._2 >= 1.5)
      .map { case (k, v) => s"\"" + abbrev(k) + "\":" + v }
      .mkString("{", ",", "}")
    // pre-retry numbers for auto-adjudicated lines (absent = no retry)
    val retriedJson = retriedOrig.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + abbrev(k) + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = r3(results.map(_._2).sum)
    val sfName = sfDir.split('/').last
    val failedJson = failedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Explicit envelope gate (round-12 verdict ask 6): the reference's
    // recorded mean batch latency is ~2.1 s (BASELINE.md, DSim-Join/log);
    // the gate asserts HALF that (1.05 s) so a streaming regression fails
    // loudly in the bench line instead of drifting toward the envelope.
    // Observed headroom: driver r12 0.605 s, idle close runs 0.31-0.54 s.
    val streamGate = streamBatch.find(_._1 == "stream_mean_batch_sec")
      .map { case (_, m) => if (m < 1.05) "\"pass\"" else "\"FAIL\"" }
      .getOrElse("\"skipped\"")
    val scaleJson = scaleExps
      .map { case (k, v) => s"\"" + abbrev(k) + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val soakJson = soakRes
      .map(s => s"""{"batches":${s.dedupBatches},"live_dirs_max":${s.dedupLiveDirsMax},"live_dirs_bound":${s.dedupLiveDirsBound},"bytes_ratio":${r3(s.dedupBytesRatio)},"dedup_drift":${r3(s.dedupDrift)},"join_drift":${r3(s.joinDrift)}}""")
      .getOrElse("{}")
    val soakGate = soakRes
      .map(s => if (s.pass) "\"pass\"" else "\"FAIL\"")
      .getOrElse("\"skipped\"")
    val soakTxnJson = soakTxn
      .map(s => s"""{"batches":${s.batches},"live_dirs_max":${s.liveDirsMax},"live_dirs_bound":${s.liveDirsBound},"bytes_ratio":${r3(s.bytesRatio)},"drift":${r3(s.drift)}}""")
      .getOrElse("{}")
    val soakTxnGate = soakTxn
      .map(s => if (s.pass) "\"pass\"" else "\"FAIL\"")
      .getOrElse("\"skipped\"")
    // Field ORDER is load-bearing (round-15 measurement fix): the driver
    // captures only the trailing 2000 chars of stdout, and with 240+ query
    // entries the line is ~3.5 KB — every round since r07 lost the line
    // START (`"metric":"total","value":…`) to that truncation ("parsed":
    // null in every BENCH_rNN.json). `queries` (cheapest-first) goes FIRST
    // and every summary field (total, gates, scale, soak, sf) goes LAST,
    // so the captured tail always holds the complete summary plus the most
    // expensive query lines. Same keys, same values, same one-line JSON.
    println(s"""{"queries":$qs,"sentinel_floor_sec":${r3(floor)},"sentinels":$sent,"retried":$retriedJson,"failed":$failedJson,"stream_gate":$streamGate,"scale":$scaleJson,"scale_gate":$scaleGate,"soak":$soakJson,"soak_gate":$soakGate,"soak_txnlog":$soakTxnJson,"soak_txnlog_gate":$soakTxnGate,"metric":"total","value":$total,"unit":"sec","sf":"$sfName"}""")
    spark.stop()
    // spark.stop() does not end the JVM: streaming-harness non-daemon
    // threads (observed post-print in solo runs) keep it alive until the
    // harness timeout kills it — and a lingering 32-thread JVM contends
    // with whatever runs next on the box. The line is printed; exit.
    sys.exit(0)
  }
}
