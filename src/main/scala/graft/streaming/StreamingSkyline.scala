package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, Skyline}

/** Streaming Pareto front — the continuous form of [[Skyline]]: each
  * micro-batch close emits the front over everything seen so far (the
  * live "best documents so far" board a curation pass polls).
  *
  * State is the RUNNING FRONT ITSELF, carried through the online-skyline
  * law: front(A ∪ B) = front(front(A) ∪ B) — once a criteria vector is
  * dominated it can never re-enter any later front, so the dominated
  * history is droppable BY THEOREM, not by policy. The carried state is
  * therefore front-sized (not corpus-sized, not census-sized — the
  * smallest state of any consumer in this repo), held as a
  * localCheckpointed plan per batch (the CacheManager cadence; a
  * DedupStateStore would be wrong here — its append-only contract keeps
  * dominated rows forever while the front REMOVES them).
  *
  * ==Crash-resume contract (round-11)==
  * The in-memory front is a cache, not the durable state: the OUTPUT
  * rows of batch b ARE the front as of batch b, already parquet. On
  * restart (fresh process, `front = None`) the first batch b rebuilds its
  * prior front by reading batch b−1's rows — which must exist, because the
  * checkpoint only admits batch b after b−1 committed, and b−1's write
  * precedes its commit. Each batch's write overwrites its own batch dir
  * ([[SemiStreamRuntime.BatchSink]]), so re-running a batch whose write
  * landed but whose commit didn't is idempotent. Recovery I/O is
  * front-sized, like the state itself: each batch's file holds one
  * `batch` value, so parquet min/max statistics skip every other file.
  * Spec-proven by a kill-at-batch / same-root restart run equal to an
  * uninterrupted run.
  *
  * Output: one row per (batch, front vector): (batch, dims…).
  */
object StreamingSkyline {

  /** Run over `df` replayed as `chunks` MD5-assigned micro-batches.
    *
    * @param resumeRoot  reuse this working directory (input staging,
    *                    checkpoint, output) instead of a fresh temp dir —
    *                    the restart handle for crash-resume
    * @param failAtBatch TEST HOOK: throw before processing this batchId,
    *                    simulating a crash (the injected run dies with a
    *                    StreamingQueryException; a second run on the same
    *                    `resumeRoot` without the hook resumes it)
    */
  def run(
      df: DataFrame,
      idCol: String,
      dims: Seq[String],
      chunks: Int = 4,
      buckets: Int = 64,
      resumeRoot: Option[String] = None,
      failAtBatch: Option[Long] = None): DataFrame = {
    require(chunks > 0 && dims.nonEmpty)
    val spark = df.sparkSession

    val root = resumeRoot.getOrElse(SemiStreamRuntime.tempDir("streamsky-").toString)
    val sink = new SemiStreamRuntime.BatchSink(spark, s"$root/out")

    var front: Option[DataFrame] = None

    val perBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      failAtBatch.filter(_ == batchId).foreach { b =>
        throw new IllegalStateException(s"injected failure at batch $b")
      }
      // crash recovery: a fresh process carries no in-memory front — the
      // last committed batch's output partition is the durable copy
      val prior = front.orElse {
        if (batchId == 0L) None
        else Some(
          sink.result
            .filter(col("batch") === (batchId - 1))
            .select(dims.map(col): _*))
      }
      val vecs = batch.toDF().select(dims.map(col): _*).distinct()
      val union = prior.map(_.unionByName(vecs).distinct()).getOrElse(vecs)
      // localCheckpoint cuts the growing lineage — the carried plan would
      // otherwise nest one anti-join pair per batch forever
      val next = Skyline.frontVectors(union, dims, buckets).transform(graft.core.Materialize.apply)
      front = Some(next)
      // state telemetry: the running front IS this consumer's state, so
      // its size is the growth curve a deployment alarms on (opt-in,
      // by-name — the count reads the fresh local checkpoint)
      StateTelemetry.record(StateTelemetry.StatePoint(
        sink.dir, batchId, next.count(), -1L, 1L))
      sink.write(batchId, next.select(lit(batchId).as("batch") +: dims.map(col): _*))
      ()
    }

    SemiStreamRuntime.replayForeachBatch(
      spark,
      SemiStreamRuntime.Chunked(
        df.select((idCol +: dims).map(col): _*),
        floor(Sampling.hashUniform(col(idCol)) * chunks).cast("int"),
        chunks),
      resumeRoot)(perBatch)
    sink.result
  }
}
