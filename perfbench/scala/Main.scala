package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One benchmark run in one fresh JVM: two untimed warm-up passes (the
  * JIT plateau), then timed passes of the same fixed work, each bracketed by a
  * host-load sentinel. Medians over the timed passes are the run's numbers.
  * Timing is read from outside the program: around the public call, and
  * from Spark's public listeners.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores K
  *             --result FILE --tmp DIR --state DIR [--warm-bound B]
  *             [--tiny] [--corrupt]
  */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10,
      trace: Boolean = false,
      cores: Int = 1,
      result: String = "",
      tmp: String = "",
      state: String = "",
      warmBound: Double = 0.1,
      tiny: Boolean = false,
      corrupt: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--result" :: v :: t => parse(t, o.copy(result = v))
    case "--tmp" :: v :: t => parse(t, o.copy(tmp = v))
    case "--state" :: v :: t => parse(t, o.copy(state = v))
    case "--warm-bound" :: v :: t => parse(t, o.copy(warmBound = v.toDouble))
    case "--tiny" :: t => parse(t, o.copy(tiny = true))
    case "--corrupt" :: t => parse(t, o.copy(corrupt = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** One pass, as measured. `ops` = micro-batches or window groups. */
  final case class Pass(
      setupS: Double,
      wallS: Double,
      rowsPerS: Double,
      opMs: Seq[Double],
      sentinelMs: Seq[Double],
      ops: Int,
      digest: Digest,
      layer: Map[String, Double],
      host: Seq[(String, String)])

  def session(cores: Int, tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    require(Workload.Names.contains(o.workload), s"unknown workload ${o.workload}")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(o.cores, o.tmp)
    val jvmStartS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val clock = new StreamClock
    val jobs = new JobTrace
    def attach(s: SparkSession): Unit = {
      s.streams.addListener(clock); s.sparkContext.addSparkListener(jobs)
    }
    attach(spark)
    def mark(what: String): Unit =
      System.err.println(f"TIMELINE $what%s ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s")
    mark("session")
    val wl = Workload(o.workload, spark, o.seed, o.tiny)
    mark("inputs")
    val ctx = new Ctx(spark, clock, jobs, o.tmp, traced = false)

    // fixed work per run: the pass counts depend only on the arguments,
    // never on measured speed, so every run of a seed does the same work
    // in the same order (the live heap grows with passes run, and the JIT
    // state at the timed passes depends on the passes before them)
    // about 8 s of warm-up, two passes at least (the last warm-up pass must
    // be a warm one for the warm-up proof)
    val warmPasses = if (o.tiny) 1 else math.max(2, math.ceil(8 / wl.nominalPassS).toInt)
    // three timed passes at least, so the median drops one pass that a load
    // spike on the host slowed
    val timedPasses = if (o.tiny) 1 else math.max(3, math.ceil(o.seconds / wl.nominalPassS).toInt)

    def runN(w: Workload, c: Ctx, cores: Int, n: Int, warm: Boolean = false): Seq[(Pass, w.R)] =
      (1 to n).map { _ =>
        val (p, r) = pass(w, c, cores, warm)
        mark("pass")
        info("pass", Seq(
          "traced" -> c.traced.toString, "cores" -> cores.toString,
          "setup_s" -> num(p.setupS), "wall_s" -> num(p.wallS), "rows_per_s" -> num(p.rowsPerS),
          "ops" -> p.ops.toString, "op_ms_p50" -> num(Stats.median(p.opMs)),
          "sentinel_ms" -> p.sentinelMs.map(num).mkString("[", ", ", "]")) ++ p.host ++ Seq(
          "work" -> p.digest.work.toSeq.sorted.map { case (k, v) => s"\"$k=$v\"" }.mkString("[", ", ", "]")))
        (p, r)
      }

    val warm = runN(wl, ctx, o.cores, warmPasses, warm = true)
    val timed = runN(wl, ctx, o.cores, timedPasses)
    // once, after the last timed pass: a forced collection between passes
    // would leave Spark's ContextCleaner deleting files during the next one
    val heapMb = Host.liveHeapMb()
    val traced =
      if (!o.trace) Seq.empty
      else {
        ctx.traced = true; jobs.detail = true
        runN(wl, ctx, o.cores, if (o.tiny) 1 else 2)
      }
    val measured = timed ++ traced

    // output check, outside every timed region, on the last pass; every
    // other pass must have produced the identical output
    val fps = measured.map(_._1.digest.fingerprint).distinct
    mark("passes")
    val checked = wl.check(measured.last._2, o.corrupt)
    mark("check")
    val correct = checked && fps.size == 1
    if (fps.size != 1) System.err.println(s"OUTPUT DRIFT across passes: ${fps.mkString(", ")}")

    val drift = workDrift(o, (warm ++ measured).map(_._1))
    val e2e = endToEnd(timed.map(_._1), heapMb)
    val lastWarm = warm.last._1.rowsPerS
    val warmRatio = lastWarm / e2e("rows_per_s")
    info("settings", Seq(
      "java" -> s"\"${System.getProperty("java.version")}\"",
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "master" -> s"\"local[${o.cores}]\"",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "scale" -> (if (o.tiny) "\"tiny\"" else "\"full\""),
      "rows_per_pass" -> wl.rows.toString,
      "warmup_passes" -> warm.size.toString,
      "timed_passes" -> timed.size.toString,
      "traced_passes" -> traced.size.toString))
    info("warmup", Seq(
      "last_warmup_rows_per_s" -> num(lastWarm),
      "timed_rows_per_s" -> num(e2e("rows_per_s")),
      "ratio" -> num(warmRatio),
      "bound" -> num(o.warmBound),
      "within_bound" -> (math.abs(warmRatio - 1) <= o.warmBound).toString))

    // values by metric name; run.py orders them and adds the units from
    // BENCHMARK.json
    val values: Map[String, Double] =
      if (!o.trace) e2e
      else {
        val layer = perLayer(traced.map(_._1))
        val probes = wl.probes(ctx)
        val tracedRps = Stats.median(traced.map(_._1.rowsPerS))
        // single-threaded baseline: the same pass at local[1], in this
        // already warm JVM
        spark.stop()
        spark = session(1, o.tmp)
        attach(spark)
        val wl1 = Workload(o.workload, spark, o.seed, o.tiny)
        val ctx1 = new Ctx(spark, clock, jobs, o.tmp, traced = false)
        val one = runN(wl1, ctx1, 1, 1, warm = true).last._1
        layer ++ probes ++ Map(
          "jvm.start_s" -> jvmStartS,
          "host.sentinel_ms" -> Stats.median(measured.flatMap(_._1.sentinelMs)),
          "scale.k_over_1" -> e2e("rows_per_s") / one.rowsPerS,
          "tracing.overhead_pct" -> (e2e("rows_per_s") / tracedRps - 1) * 100,
          "warmup.last_over_timed" -> warmRatio,
          "work.drift_counters" -> drift.toDouble)
      }

    val attempted = measured.map(_._1.ops).sum
    val body = values.toSeq.sortBy(_._1).map { case (n, v) => s"\"$n\": ${num(v)}" }.mkString(", ")
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": ${if (correct) 0 else attempted}, "values": {$body}}"""
    Files.write(Paths.get(o.result), (json + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    mark("stopped")
  }

  /** One call into the program, timed; `warm` passes skip the output
    * fingerprint. */
  private def pass(wl: Workload, ctx: Ctx, cores: Int, warm: Boolean): (Pass, wl.R) = {
    val spark = ctx.spark
    // the previous pass's closing sentinel opens this one
    val s0 = ctx.lastSentinel.getOrElse(Host.sentinel(spark, ctx.jobs))
    val gc0 = Host.gcMs
    val cpu0 = Host.processCpuMs
    val jit0 = Host.jitMs
    val term0 = ctx.clock.terminatedCount
    val t0 = System.currentTimeMillis()
    val r = wl.call(ctx)
    val t1 = System.currentTimeMillis()
    val gcMs = Host.gcMs - gc0
    // where a slow pass's time went: this JVM's CPU (all threads), its
    // collector and its JIT, over the timed call
    val host = Seq(
      "cpu_ms" -> (Host.processCpuMs - cpu0).toString,
      "gc_ms" -> gcMs.toString,
      "jit_ms" -> (Host.jitMs - jit0).toString)
    ctx.clock.awaitTerminated(term0 + 1)
    val s1 = Host.sentinel(spark, ctx.jobs)
    ctx.lastSentinel = Some(s1)
    val progress: Seq[StreamingQueryProgress] = ctx.clock.drain()
    val passJobs = ctx.jobs.jobsIn(t0, t1)

    require(progress.nonEmpty, "streaming query reported no progress")
    val first = StreamClock.startMs(progress.head)
    val opMs = progress.map(StreamClock.durMs(_, "triggerExecution"))
    val ops = opMs.size
    val wallS = (t1 - first) / 1000.0
    val digest = wl.digest(r, ctx, progress, warm)

    val opJobs = passJobs.filter(_._1.start >= first)
    val layer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val w = ctx.jobs.workOfJobs(opJobs.map(_._1.id))
        val cpuMs = w.cpuNs.get / 1e6
        val add = progress.map(StreamClock.durMs(_, "addBatch"))
        val base = Map(
          "spark.jobs_per_batch" -> opJobs.size.toDouble / ops,
          "spark.stages_per_batch" -> w.stages.get.toDouble / ops,
          "spark.tasks_per_batch" -> w.tasks.get.toDouble / ops,
          "spark.cpu_ms_per_batch" -> cpuMs / ops,
          "spark.run_ms_per_batch" -> w.runMs.get.toDouble / ops,
          "spark.shuffle_bytes_per_batch" -> w.shuffleBytes.get.toDouble / ops,
          "spark.outside_job_ms_per_batch" ->
            JobTrace.uncoveredMs(opJobs.map { case (j, e) => (j.start, e) }, first, t1).toDouble / ops,
          "spark.cpu_busy_ratio" -> cpuMs / ((t1 - first) * cores.toDouble),
          "runtime.trigger_ms_p50" -> Stats.median(opMs),
          "runtime.add_batch_ms_p50" -> Stats.median(add),
          "runtime.overhead_ms_p50" -> Stats.median(opMs.zip(add).map { case (a, b) => a - b }),
          "jvm.gc_ms_per_batch" -> gcMs.toDouble / ops)
        val pairs = digest.layer.get("simjoin.pairs_out")
          .map(p => "simjoin.pairs_per_cpu_s" -> p / math.max(cpuMs / 1000, 1e-9))
        base ++ digest.layer ++ pairs
      }
    val work = digest.work + ("spark.jobs" -> passJobs.size.toLong)
    (Pass((first - t0) / 1000.0, wallS, wl.rows / wallS, opMs, Seq(s0, s1), ops,
      digest.copy(work = work), layer, host), r)
  }

  private def endToEnd(ps: Seq[Pass], heapMb: Double): Map[String, Double] = Map(
    "setup_s" -> Stats.median(ps.map(_.setupS)),
    "rows_per_s" -> Stats.median(ps.map(_.rowsPerS)),
    // median over passes of the pass's mean trigger time: a pass mixes
    // batch kinds (first batch vs later, compacting vs not), and a median
    // over the pooled batches would fall between the kinds
    "batch_ms_p50" -> Stats.median(ps.map(p => p.opMs.sum / p.opMs.size)),
    "heap_mb_live" -> heapMb)

  private def perLayer(ps: Seq[Pass]): Map[String, Double] =
    ps.flatMap(_.layer.keys).distinct.map(k => k -> Stats.median(ps.flatMap(_.layer.get(k)))).toMap

  /** Exact work counts must repeat on every pass, and pass by pass across
    * runs of one seed. The reference is kept per seed in the state dir,
    * which run.py keys by the hash of the sources, so only runs of the same
    * code are compared. Returns the number of drifts: counters that differ
    * between passes, plus passes whose counts differ from the reference. */
  private def workDrift(o: Opts, ps: Seq[Pass]): Int = {
    def line(p: Pass) = p.digest.work.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
    val within = ps.flatMap(_.digest.work.keys).distinct.count { k =>
      val vs = ps.flatMap(_.digest.work.get(k)).distinct
      if (vs.size > 1) System.err.println(s"WORK DRIFT within run: $k = ${vs.mkString(", ")}")
      vs.size > 1
    }
    val now = ps.map(line)
    val f = Paths.get(o.state, s"work-${o.workload}-seed${o.seed}-k${o.cores}" +
      s"${if (o.trace) "-traced" else ""}${if (o.tiny) "-tiny" else ""}.txt")
    val across =
      if (Files.exists(f)) {
        val before = new String(Files.readAllBytes(f), StandardCharsets.UTF_8).split("\n").toSeq
        val drifted = before.zipAll(now, "", "").zipWithIndex.filter { case ((a, b), _) => a != b }
        drifted.foreach { case ((a, b), i) =>
          System.err.println(s"WORK DRIFT across runs of one seed, pass ${i + 1}: was [$a], now [$b]")
        }
        drifted.size
      } else {
        Files.createDirectories(f.getParent)
        Files.write(f, now.mkString("\n").getBytes(StandardCharsets.UTF_8)); 0
      }
    within + across
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else v.toString

  private def info(tag: String, kv: Seq[(String, String)]): Unit =
    println(s"""{"$tag": {${kv.map { case (k, v) => s"\"$k\": $v" }.mkString(", ")}}}""")
}
