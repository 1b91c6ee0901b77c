package graft.streaming

import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable keyed state for [[StreamingDedup]] and the other semi-stream
  * consumers — the storage contract behind a seen-set or a count state,
  * implemented by [[TransactionLogDedupState]]. The four operations are
  * the ones a transactional table (Delta/Iceberg) offers:
  *
  *   - [[read]]    → a snapshot-isolated scan pruned by bucket, hiding any
  *     in-flight batch (`batch < batchId` ≙ reading the last committed
  *     snapshot);
  *   - [[append]]  → an idempotent per-batch upsert keyed by `batchId`
  *     (≙ `REPLACE WHERE batch = id` / a transactional overwrite);
  *   - [[compact]] → table maintenance (`OPTIMIZE` / rewrite-data-files),
  *     folding small per-batch increments so scan metadata stays bounded.
  *
  * Rows carry the data columns plus `pb` (bucket id — the clustering key)
  * and `batch` (visibility watermark).
  */
trait DedupStateStore {

  /** State visible to `batchId`: every committed row (`batch < batchId` —
    * a batch retried after a crash never sees its failed attempt's writes)
    * restricted to the given bucket ids.
    */
  def read(batchId: Long, buckets: Seq[Int]): DataFrame

  /** Write batch `batchId`'s increment (`df` = data columns + `pb`).
    * MUST be idempotent: re-appending the same `batchId` replaces the
    * earlier attempt's rows.
    */
  def append(df: DataFrame, batchId: Long): Unit

  /** Fold committed increments (`batch < upTo`) into a consolidated
    * generation so the partition/file count stops growing with batch
    * count. MUST preserve visibility: folded rows stay visible to every
    * `read(batchId ≥ upTo)` and invisible to none. MUST be crash-safe:
    * interrupted anywhere, a re-run (same or larger `upTo`) converges and
    * no state row is ever lost.
    */
  def compact(upTo: Long): Unit = compact(upTo, () => ())

  /** [[compact]] with a crash-injection point: `afterPublish` runs between
    * the moment the consolidated generation becomes visible and the
    * physical removal of the folded sources — the widest crash window
    * (folded rows on storage twice). Part of the contract because
    * crash-safety is a contract obligation, and the obligation is only
    * testable if the store exposes the window.
    */
  def compact(upTo: Long, afterPublish: () => Unit): Unit

  /** Release every NON-DURABLE resource this store holds once its stream
    * has COMPLETED successfully; durable state is untouched. Callers must
    * NOT close after a failed run: a crash-resume reads the state back
    * through the same dir.
    */
  def close(): Unit = ()
}

/** Move a staged directory into place, falling back to copy+delete when
  * source and destination live on different filesystems (rename returns
  * false across schemes — e.g. local staging into an HDFS work dir).
  */
object FsMove {
  def into(spark: SparkSession, src: HPath, dst: HPath): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    val renamed = srcFs.getUri == dstFs.getUri && srcFs.rename(src, dst)
    if (!renamed && !FileUtil.copy(srcFs, src, dstFs, dst, true, conf))
      throw new IllegalStateException(s"could not move $src -> $dst")
  }
}
