package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Semi-stream equi-join: join a (micro-)batch of streamed rows against a
  * large stored relation through a bounded cache, fetching only cache-missed
  * keys from the store.
  *
  * Capability re-expressed from the reference's DS-Join
  * (`DS-Join/DS_join_step4/src/main/scala/streaming.scala:234-615`): the
  * reference hand-builds a cogroup that is split three ways (hits, misses,
  * LRU touch set, `:234-241,254,283`), fetches missed keys from MongoDB with
  * executor-side `$or` queries (`:343-377`), joins and unions (`:397,607`).
  *
  * Spark-first restatement: the missed keys are a key relation (a local
  * one when [[graft.streaming.CacheManager]] splits on its driver-side key
  * index); the keyed fetch is a `left_semi` join of the stored DataFrame
  * against it, which Catalyst plans as the "send only missed keys to the
  * store" semi-join reduction; [[assemble]] joins and unions.
  *
  * Scale notes (100 TB stored side): the stored relation is only ever touched
  * through `left_semi` on the key column — with a partitioned/bucketed store
  * that is partition-pruned + dynamic-filtered, never a full scan. The cache
  * is a bounded DataFrame (see [[graft.streaming.CacheManager]]) that stays
  * broadcast-able by construction.
  */
object SemiStreamJoin {

  /** Hit/miss splitter (SURVEY J1/J4): one batch, split by cache membership.
    * Caller should persist `batch` if both sides are consumed — Catalyst does
    * not share one shuffle between the inner and anti join.
    */
  final case class Split(hits: DataFrame, misses: DataFrame)

  def split(batch: DataFrame, cache: DataFrame, key: String): Split =
    Split(
      hits = batch.join(cache, Seq(key), "inner"),
      misses = batch.join(cache, Seq(key), "left_anti"))

  /** Result of [[joinWithStore]]: `out` is the joined batch, `fetched` is
    * what a cache manager admits for the next batch (reference `:543-567`).
    * Call `release()` once both have been consumed — the operator persists
    * the batch and `fetched` so neither recomputes; each recompute of
    * `fetched` would be a fresh stored-side scan, which at 100 TB is the
    * whole cost of the operator (reference caches exactly these,
    * `streaming.scala:237,400`).
    */
  final case class JoinResult(out: DataFrame, fetched: DataFrame, release: () => Unit)

  /** Full semi-stream join (SURVEY J1–J7): hits served from cache, missed
    * keys fetched from the stored relation by semi-join reduction, output is
    * the bag union.
    *
    * Invariant: `cache` rows must be complete copies of `stored` rows for
    * their keys (same schema) — a projected or partial cache would silently
    * undercount hits or break the union. Asserted at entry.
    */
  def joinWithStore(
      batch: DataFrame,
      cache: DataFrame,
      stored: DataFrame,
      key: String,
      saltFactors: Option[DataFrame] = None): JoinResult = {
    require(
      cache.columns.sameElements(stored.columns),
      s"cache schema ${cache.columns.mkString(",")} must equal stored schema " +
        s"${stored.columns.mkString(",")} — the cache holds verbatim stored rows")
    val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
    val missedKeys = b.join(cache, Seq(key), "left_anti").select(key).distinct()
    val fetched = stored.join(missedKeys, Seq(key), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = assemble(b, cache, key, saltFactors, Some(missedKeys -> fetched))
    JoinResult(out, fetched, () => { b.unpersist(); fetched.unpersist() })
  }

  /** The one output assembly: the batch's hits against `cache` ∪ the
    * batch rows whose key is in the missed-key relation joined with the
    * rows fetched for them (`missed` = (missed keys, fetched rows), None
    * when no key missed). Restricting the miss side to the missed keys
    * means a fetch that returns extra keys cannot duplicate rows.
    *
    * `saltFactors` (SURVEY D4): an optional measured hot-key factor
    * relation ([[Salting.hotKeyFactors]] shape) applied to the two INNER
    * joins — the ones whose output is a per-key PRODUCT and therefore the
    * ones a celebrity key funnels through a single task. None is the
    * unsalted plan.
    */
  def assemble(
      batch: DataFrame,
      cache: DataFrame,
      key: String,
      saltFactors: Option[DataFrame],
      missed: Option[(DataFrame, DataFrame)]): DataFrame = {
    def inner(probe: DataFrame, build: DataFrame): DataFrame = saltFactors match {
      case Some(f) => Salting.adaptiveSaltedJoin(probe, build, key, f)
      case None => probe.join(build, Seq(key), "inner")
    }
    val hits = inner(batch, cache)
    missed.fold(hits) { case (keys, fetched) =>
      require(
        cache.columns.sameElements(fetched.columns),
        s"fetched schema ${fetched.columns.mkString(",")} must equal cache schema " +
          s"${cache.columns.mkString(",")} — the cache holds verbatim stored rows")
      hits.unionByName(inner(batch.join(keys, Seq(key), "left_semi"), fetched))
    }
  }
}
