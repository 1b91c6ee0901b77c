package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.SimilarityJoin
import graft.streaming.SemiStreamSimilarityJoin

class SemiStreamSimilarityJoinSpec extends SparkSpec {
  init()

  test("streaming similarity join accumulates to the batch similarity join (both directions)") {
    val docs = Tables(spark, sfSmoke, "documents")
    val r = SemiStreamSimilarityJoin.run(docs, "doc_id", "text", tau = 0.8, chunks = 3)

    val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
    val expected = SimilarityJoin.joinSets(toks, toks, 0.8)
      .filter(col("x_id") =!= col("y_id"))
      .select("x_id", "y_id")
    val got = r.pairs.select("x_id", "y_id")
    assert(got.count() == expected.count(),
      s"stream=${got.count()} batch=${expected.count()}")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // later batches must hit the sig cache: total missed sigs shrink
    assert(r.stats.size == 3)
    assert(r.stats.head.missed > 0)
  }

  test("query-count window rule drives the q41 path to the same verified pairs") {
    val docs = Tables(spark, sfSmoke, "documents")
    // warmup 1, so the count rule actually fires on batches 2-3 (each
    // sf0.001 batch carries > 150 probe-sig rows → the short window)
    val r = SemiStreamSimilarityJoin.run(
      docs, "doc_id", "text", tau = 0.8, chunks = 3,
      windowRule = graft.streaming.QueryCountRule(
        graft.streaming.AdaptiveWindowController.QueryCountConfig(warmupBatches = 1)))

    val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
    val expected = SimilarityJoin.joinSets(toks, toks, 0.8)
      .filter(col("x_id") =!= col("y_id"))
      .select("x_id", "y_id")
    val got = r.pairs.select("x_id", "y_id")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // the rule actually engaged: post-warmup batches run one of the three
    // reference windows (probe-sig volume at sf0.001 lands in the heavy band)
    assert(r.stats.drop(1).forall(s => Seq(30, 40, 50).contains(s.window)),
      r.stats.map(_.window).mkString(","))
  }

  test("fixed window rule (non-adaptive baseline) pins the window and matches the oracle") {
    val docs = Tables(spark, sfSmoke, "documents")
    val r = SemiStreamSimilarityJoin.run(
      docs, "doc_id", "text", tau = 0.8, chunks = 3,
      windowRule = graft.streaming.FixedRule(2))

    val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
    val expected = SimilarityJoin.joinSets(toks, toks, 0.8)
      .filter(col("x_id") =!= col("y_id"))
      .select("x_id", "y_id")
    val got = r.pairs.select("x_id", "y_id")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // the whole point of the rule: zero timing feedback into the window
    assert(r.stats.forall(_.window == 2), r.stats.map(_.window).mkString(","))
  }

  test("hot signatures are never admitted to the cache (frequency rule)") {
    val docs = Tables(spark, sfSmoke, "documents")
    // maxSigFrequency=1: NOTHING with >1 index row may be cached
    val r = SemiStreamSimilarityJoin.run(
      docs, "doc_id", "text", tau = 0.8, chunks = 2, maxSigFrequency = 1)
    // correctness must hold regardless — hot sigs are simply fetched every
    // time instead of cached
    val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
    val expected = SimilarityJoin.joinSets(toks, toks, 0.8)
      .filter(col("x_id") =!= col("y_id")).count()
    assert(r.pairs.count() == expected)
  }
}
