package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03) —
  * content-defined fingerprint SELECTION for partial-duplicate and
  * containment detection at corpus scale.
  *
  * Per document: hash every k-token shingle (positional, duplicates kept),
  * slide a window of `w` consecutive shingle hashes, select each window's
  * minimum. The winnowing guarantee: any shared token run of length
  * ≥ `w + k − 1` between two documents produces a SHARED selected
  * fingerprint — so fingerprint-bucket candidates are complete for
  * long-enough overlaps, at ~2/(w+1) of the shingle volume (the paper's
  * density bound) instead of a full inverted index. This is the scale
  * alternative to [[SimilarityJoin.containmentJoin]]'s exact prefix
  * scheme: bounded emission on BOTH sides, with recall governed by (k, w)
  * rather than exact completeness.
  *
  * The shingle hash is the first 8 hex chars of MD5 (the
  * [[Sampling.hashUniform]] recipe) — engine-portable, so the selected
  * fingerprint sets are exactly SQL-oracle-able, unlike an engine-specific
  * 64-bit hash.
  *
  * Scale shape: fingerprinting is a pure projection (no shuffle);
  * candidates come from a fingerprint equi-join with a mega-bucket guard
  * (same policy as [[Dedup.lshCandidates]]); verification is
  * [[SimilarityJoin.verify]]. All codegen'd built-ins, no UDFs.
  */
object Winnowing {

  /** Per-document winnowed fingerprint set. Documents with fewer than
    * `k + w − 1` tokens (no full window) are dropped — winnow parameters
    * target runs of at least that length by construction.
    * Output: (sid, fps) with `fps` the DISTINCT selected hashes (the
    * first-8-hex-of-MD5 shingle hash), computed by the one-pass
    * [[graft.functions.WinnowSelect]] codegen expression — the
    * declarative HOF form built two array slices and a string per shingle
    * in interpreted lambdas (152 s at sf0.1).
    */
  def fingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1: k=$k w=$w")
    graft.functions.WinnowSelect.register(df.sparkSession)
    val words = filter(split(col(textCol), " "), t => length(t) > 0)
    df.select(col(idCol).as("sid"), words.as("wd"))
      .filter(size(col("wd")) >= k + w - 1)
      .select(
        col("sid"),
        graft.functions.WinnowSelect.winnow_select(col("wd"), k, w).as("fps"))
  }

  /** Candidate pairs: documents sharing any winnowed fingerprint
    * (x_id < y_id, deduped). Buckets over `maxQuadBucket` members emit
    * star edges to the bucket minimum — the [[Dedup.lshCandidates]]
    * mega-bucket policy, linear instead of quadratic on boilerplate
    * fingerprints shared by thousands of docs.
    */
  def candidatePairs(fps: DataFrame, maxQuadBucket: Int = 64): DataFrame = {
    val ex = fps.select(col("sid"), explode(col("fps")).as("fp"))
    val win = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val annotated = ex
      .withColumn("bmin", min("sid").over(win))
      .withColumn("bcount", count(lit(1)).over(win))
    val small = annotated.filter(col("bcount") <= maxQuadBucket)
      .select("sid", "fp")
    val smallPairs = small
      .join(small.select(col("sid").as("y_id"), col("fp")), Seq("fp"))
      .filter(col("sid") < col("y_id"))
      .select(col("sid").as("x_id"), col("y_id"))
    val starPairs = annotated
      .filter(col("bcount") > maxQuadBucket && col("sid") =!= col("bmin"))
      .select(col("bmin").as("x_id"), col("sid").as("y_id"))
    smallPairs.unionByName(starPairs).dropDuplicates("x_id", "y_id")
  }

  /** Winnowing-bucketed near-duplicate pairs with EXACT Jaccard ≥ τ verify
    * over token sets — recall from the winnowing guarantee (dups sharing a
    * run ≥ w+k−1 tokens are always candidates), precision exact. Because
    * this returns PAIRS (not clusters, where star edges suffice), the
    * default candidate pass is exhaustive — every bucket emits all its
    * pairs, so the guarantee holds unconditionally. Pass a finite
    * `maxQuadBucket` to trade recall inside oversized boilerplate buckets
    * for the linear star-edge guard of [[candidatePairs]]; with a bound,
    * a pair whose only shared fingerprints sit in over-bound buckets (and
    * where neither doc is a bucket minimum) can be missed.
    * Output: (x_id, y_id, inter, uni, jacc) like [[SimilarityJoin.joinSets]].
    */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double,
      k: Int = 3,
      w: Int = 4,
      maxQuadBucket: Int = Int.MaxValue): DataFrame = {
    val toks = SimilarityJoin.tokenize(docs, idCol, textCol)
    val cand = candidatePairs(fingerprints(docs, idCol, textCol, k, w), maxQuadBucket)
    SimilarityJoin.verify(cand, SimilarityJoin.xSide(toks), SimilarityJoin.ySide(toks), tau)
  }
}
