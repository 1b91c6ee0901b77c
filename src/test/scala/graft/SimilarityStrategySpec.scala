package graft

import graft.core.Tables
import graft.operators.SimilarityJoin

/** Cost-based similarity-strategy selection: [[SimilarityJoin.choose]]
  * must reproduce the MEASURED regime outcomes (round-7 same-session
  * alternating A/Bs at sf0.1) from corpus statistics alone — segment on
  * the dup-dense hot-token documents corpus (candidate volume, not
  * emission count, drives cost: segment won at every τ), prefix on a
  * near-unique vocabulary (q21's shingle shape, where prefix candidates
  * collapse to its emissions) — and the auto dispatch must return the
  * same pairs as the strategy it picked.
  */
class SimilarityStrategySpec extends SparkSpec {
  init()

  private def docToks = SimilarityJoin.tokenize(
    Tables(spark, sfSmoke, "documents"), "doc_id", "text")

  test("chooser picks segment on the dup-dense documents corpus (batch regime)") {
    val est = SimilarityJoin.choose(docToks, tau = 0.8)
    assert(est.strategy == SimilarityJoin.SegmentStrategy, est.toString)
    // the decisive statistic: emission ratio well under the crossover
    assert(est.segEmitPerRec / est.prefixEmitPerRec <
      SimilarityJoin.SegmentEmissionRatioBound, est.toString)
  }

  test("chooser picks prefix on the long-set shingle corpus (q21's shape)") {
    val grams = graft.operators.Dedup.ngramTokens(
      Tables(spark, sfSmoke, "documents"), "doc_id", "text", 2)
    val est = SimilarityJoin.choose(grams, tau = 0.6)
    assert(est.strategy == SimilarityJoin.PrefixStrategy, est.toString)
    assert(est.segEmitPerRec / est.prefixEmitPerRec >
      SimilarityJoin.SegmentEmissionRatioBound, est.toString)
  }

  test("auto self-join output equals both underlying strategies") {
    val docs = Tables(spark, sfSmoke, "documents")
    val auto = SimilarityJoin.selfJoinAuto(docs, "doc_id", "text", 0.8)
      .select("x_id", "y_id", "inter", "uni")
    val prefix = SimilarityJoin.prefixSelfJoin(docs, "doc_id", "text", 0.8)
      .select("x_id", "y_id", "inter", "uni")
    val segment = SimilarityJoin.selfJoin(docs, "doc_id", "text", 0.8)
      .select("x_id", "y_id", "inter", "uni")
    assert(auto.exceptAll(prefix).isEmpty && prefix.exceptAll(auto).isEmpty)
    assert(auto.exceptAll(segment).isEmpty && segment.exceptAll(auto).isEmpty)
  }

  test("q21 routing: auto dispatch on the shingle corpus equals prefixJoin (the picked branch)") {
    val grams = graft.operators.Dedup.ngramTokens(
      Tables(spark, sfSmoke, "documents"), "doc_id", "text", 2)
    val auto = SimilarityJoin.selfJoinAutoTokens(grams, tau = 0.6)
      .select("x_id", "y_id", "inter", "uni")
    val prefix = SimilarityJoin.prefixJoin(grams, grams, tau = 0.6, selfJoin = true)
      .select("x_id", "y_id", "inter", "uni")
    assert(auto.exceptAll(prefix).isEmpty && prefix.exceptAll(auto).isEmpty)
  }

  test("degenerate corpora fall through safely") {
    import spark.implicits._
    val empty = SimilarityJoin.tokenize(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    val est = SimilarityJoin.choose(empty, tau = 0.8)
    assert(est.segEmitPerRec == 0.0 && est.prefixEmitPerRec == 0.0)

    val tiny = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val pairs = SimilarityJoin.selfJoinAuto(tiny, "doc_id", "text", 0.8).collect()
    assert(pairs.length == 1 && pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }
}
