package graft.core

/** Registry of every `.collect()` site in main source, each with the
  * invariant that bounds what reaches the driver (round-13 verdict task 5:
  * the bounded-collect discipline lived only in comments — this makes it a
  * TEST, so operator #300 cannot silently ship a data-sized driver pull).
  *
  * `BoundedCollectSpec` scans `src/main/scala` and fails when a file's
  * `.collect()` site count differs from this registry — adding a collect
  * anywhere forces the author to state its bound here (and removing one
  * forces the stale entry out). Bounds are per FILE (ordered top-to-bottom
  * by line) so the registry survives line drift.
  *
  * `head()`/`first()`/`take(n)`/`isEmpty` are bounded by construction and
  * not registered.
  */
object BoundedCollects {

  /** file (repo-relative under src/main/scala/) → one bound statement per
    * `.collect()` site in that file, in source order.
    */
  val sites: Map[String, Seq[String]] = Map(
    "graft/Bench.scala" -> Seq(
      "1-row max(hash) aggregate — the bench's result-exhaust action"),
    "graft/GraftExtensions.scala" -> Seq(
      "subsequence-match TVF query window: one probe sequence, driver-sized by definition"),
    "graft/ml/OnlineLinearRegression.scala" -> Seq(
      "per-step gradient: ≤ nFeatures rows (feature grain, not row grain)"),
    "graft/ml/S3MPipeline.scala" -> Seq(
      "query-window values: ≤ nQueries·windowLen cells (query grain)",
      "per-query horizon deltas: ≤ nQueries·horizon cells",
      "prequential replay features: ≤ query-window count rows (reference-faithful driver-held model, s3m.scala:97-130)",
      "one probe window: windowLen values",
      "one horizon read: horizon values",
      "one delayed label: ≤ 1 row by construction (idx equality)",
      "popped queue entries: ≤ horizon in flight at once"),
    "graft/operators/BpeTrain.scala" -> Seq(
      "argmax pair per merge round: limit(1) upstream"),
    "graft/operators/Hll.scala" -> Seq(
      "HLL registers: ≤ 2^p rows (sketch grid, p ≤ 16 asserted)"),
    "graft/operators/LmScore.scala" -> Seq(
      "score histogram: ≤ 10001 rows (score_bp ∈ [0, 10000])",
      "score histogram: ≤ 10001 rows (score_bp ∈ [0, 10000])"),
    "graft/operators/Quantiles.scala" -> Seq(
      "per-partition count stats: ≤ shuffle-partition count rows"),
    "graft/operators/RecordLinkage.scala" -> Seq(
      "u-counts: ≤ |attrs| rows (attribute grain)",
      "u-counts agreement split: ≤ |attrs| rows",
      "m-counts: ≤ |attrs| rows",
      "m-counts agreement split: ≤ |attrs| rows",
      "agreement-pattern histogram: ≤ 3^|attrs| rows (attrs is a short hand-picked list)"),
    "graft/operators/SimilaritySearch.scala" -> Seq(
      "distinct probed IVF cells: ≤ nCells"),
    "graft/operators/SubsequenceMatch.scala" -> Seq(
      "phase-1 candidate counts per query offset: ≤ |query|−w+1 rows",
      "phase-1 candidate counts per query offset: ≤ |query|−w+1 rows",
      "band-probe candidate counts: ≤ |query|−w+1 rows"),
    "graft/operators/ZoneMap.scala" -> Seq(
      "surviving zone ids: ≤ nBuckets (zone grain)"),
    "graft/queries/SeqMatchQueries.scala" -> Seq(
      "one query window: len values (driver-sized by definition)"),
    "graft/streaming/CacheManager.scala" -> Seq(
      "one micro-batch's distinct non-NULL join keys: ≤ batch rows (key grain)",
      "cache key counts: one row per cached key, and the cache is broadcast-able by construction"),
    "graft/streaming/DedupState.scala" -> Seq(
      "in-memory backend append: batch increment held in the JVM commit log BY DESIGN (the simulation/service stand-in backend; the parquet backend never collects)"),
    "graft/streaming/ReplayLogJoin.scala" -> Seq(
      "producer simulation feed: bounded by the caller's contract (gate query feeds ≤ 2000 rows)"),
    "graft/streaming/StreamingCountMin.scala" -> Seq(
      "CMS increment: ≤ depth·width rows whatever the batch holds"),
    "graft/streaming/StreamingDedup.scala" -> Seq(
      "distinct sig probe buckets: ≤ nBuckets",
      "distinct tok probe buckets: ≤ nBuckets"),
    "graft/streaming/StreamingDrift.scala" -> Seq(
      "distinct probe buckets: ≤ nBuckets"),
    "graft/streaming/StreamingKAnonymity.scala" -> Seq(
      "distinct probe buckets: ≤ nBuckets"),
    "graft/streaming/StreamingNovelty.scala" -> Seq(
      "distinct probe buckets: ≤ nBuckets"),
    "graft/streaming/StreamingSemanticDedup.scala" -> Seq(
      "distinct probe cells: ≤ nCells"),
    "graft/streaming/StreamingSubstringDedup.scala" -> Seq(
      "distinct probe buckets: ≤ nBuckets"),
    "graft/streaming/TransactionLogDedupState.scala" -> Seq(
      "pb-domain→partition layout map: ≤ pbDomainMax (4096) rows, computed ONCE per partition count — per-file pbs stats derive from this layout, never from a read-back job"))
}
