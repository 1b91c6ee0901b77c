package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{DedupStateStore, StreamingDedup}

/** Progress of every streaming query the program starts, through Spark's
  * public listener. Always on: `setup_s`, `rows_per_s` and `batch_ms_p50`
  * are read from the trigger timestamps and `durationMs` it records. */
final class StreamClock extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val terminated = new AtomicInteger(0)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    terminated.incrementAndGet(); ()
  }

  def terminatedCount: Int = terminated.get()

  /** Waits until `n` queries have terminated in total (the listener bus is
    * asynchronous; progress events precede the termination event). */
  def awaitTerminated(n: Int): Unit = {
    val until = System.nanoTime() + 30L * 1000000000L
    while (terminated.get() < n && System.nanoTime() < until) Thread.sleep(2)
    require(terminated.get() >= n, "streaming query termination event never arrived")
  }

  def drain(): Seq[StreamingQueryProgress] = {
    val out = Seq.newBuilder[StreamingQueryProgress]
    var p = progress.poll()
    while (p != null) { out += p; p = progress.poll() }
    out.result().sortBy(_.batchId)
  }
}

object StreamClock {
  private val iso = java.time.format.DateTimeFormatter.ISO_DATE_TIME

  /** Trigger start of a progress record, epoch ms. */
  def startMs(p: StreamingQueryProgress): Long =
    java.time.ZonedDateTime.parse(p.timestamp, iso).toInstant.toEpochMilli

  def durMs(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
}

/** Job boundaries (always on: cheap, one event per job) plus, when
  * `detail` is set, stage and task metrics attributed to their job — the
  * per-layer `spark.*` numbers of the traced run. */
final class JobTrace extends SparkListener {
  import JobTrace._

  @volatile var detail: Boolean = false
  private val starts = new ConcurrentLinkedQueue[Job]()
  private val ends = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val work = new java.util.concurrent.ConcurrentHashMap[Int, Work]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    starts.add(Job(e.jobId, e.time,
      props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
    if (detail) e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.put(e.jobId, e.time); () }

  private def workOf(stageId: Int): Option[Work] =
    Option(stageJob.get(stageId)).map(j => work.computeIfAbsent(j.intValue, _ => new Work))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detail) workOf(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (detail && e.taskMetrics != null) workOf(e.stageId).foreach { w =>
      val m = e.taskMetrics
      w.tasks.incrementAndGet()
      w.cpuNs.addAndGet(m.executorCpuTime)
      w.runMs.addAndGet(m.executorRunTime)
      w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      ()
    }

  /** Waits until the job described `marker` has ended: events are
    * delivered in order, so every earlier job's events are in too. */
  def awaitJob(marker: String): Unit = {
    val until = System.nanoTime() + 30L * 1000000000L
    def done = starts.asScala.exists(j => j.description == marker && ends.containsKey(j.id))
    while (!done && System.nanoTime() < until) Thread.sleep(2)
    require(done, s"listener never saw job $marker")
  }

  /** The program's jobs started in [from, to] (epoch ms), with end times. */
  def jobsIn(from: Long, to: Long): Seq[(Job, Long)] =
    starts.asScala.toSeq
      .filter(j => j.start >= from && j.start <= to && !j.description.startsWith("perfbench"))
      .sortBy(_.id)
      .map(j => j -> Option(ends.get(j.id)).map(_.longValue).getOrElse(to))

  /** Summed stage/task work of the given jobs (traced runs only). */
  def workOfJobs(ids: Seq[Int]): Work = {
    val total = new Work
    ids.flatMap(i => Option(work.get(i))).foreach { w =>
      total.stages.addAndGet(w.stages.get); total.tasks.addAndGet(w.tasks.get)
      total.cpuNs.addAndGet(w.cpuNs.get); total.runMs.addAndGet(w.runMs.get)
      total.shuffleBytes.addAndGet(w.shuffleBytes.get)
    }
    total
  }
}

object JobTrace {
  final case class Job(id: Int, start: Long, description: String)

  final class Work {
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val runMs = new AtomicLong
    val shuffleBytes = new AtomicLong
  }

  /** Milliseconds of [from, to] covered by no job interval. */
  def uncoveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var cur = from
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > cur) { covered += e - math.max(s, cur); cur = e }
      }
    (to - from) - covered
  }
}

/** Timing decorator around a [[DedupStateStore]] factory: the `state.*`
  * per-layer numbers of `dedup_txnlog`, measured at the store contract
  * without touching the store. */
final class StateTiming {
  val appendMs = new ConcurrentLinkedQueue[Double]()
  val compactMs = new ConcurrentLinkedQueue[Double]()
  val reads = new AtomicLong

  def wrap(f: StreamingDedup.StateStoreFactory): StreamingDedup.StateStoreFactory =
    (s, dir, schema, keys) => {
      val inner = f(s, dir, schema, keys)
      new DedupStateStore {
        override def read(batchId: Long, buckets: Seq[Int]): DataFrame = {
          reads.incrementAndGet(); inner.read(batchId, buckets)
        }
        override def append(df: DataFrame, batchId: Long): Unit = {
          val t = System.nanoTime()
          inner.append(df, batchId)
          appendMs.add((System.nanoTime() - t) / 1e6); ()
        }
        override def compact(upTo: Long, afterPublish: () => Unit): Unit = {
          val t = System.nanoTime()
          inner.compact(upTo, afterPublish)
          compactMs.add((System.nanoTime() - t) / 1e6); ()
        }
        override def close(): Unit = inner.close()
      }
    }
}

object Host {
  private val marker = new AtomicInteger(0)

  /** A fixed calibration job (scan + hash aggregate over a constant range).
    * Run before and after every pass, it reads the host's load: a pass that
    * ran slow on a busy machine shows a slow sentinel next to it. Its end
    * also flushes the listener bus (see [[JobTrace.awaitJob]]). */
  def sentinel(spark: SparkSession, jobs: JobTrace): Double = {
    val tag = s"perfbench-sentinel-${marker.incrementAndGet()}"
    spark.sparkContext.setJobDescription(tag)
    val t = System.nanoTime()
    try spark.range(0L, 2000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(hash(id) % 1000) AS s").collect()
    finally spark.sparkContext.setJobDescription(null)
    val ms = (System.nanoTime() - t) / 1e6
    jobs.awaitJob(tag)
    ms
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** CPU time of this JVM, all threads, ms (-1 where the platform does not
    * report it). */
  def processCpuMs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1000000L
    case _ => -1L
  }

  /** Time the JIT compilers have spent, ms. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Used heap after a forced collection, MiB. The pause between the two
    * collections lets Spark's ContextCleaner drop what the first one freed. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
