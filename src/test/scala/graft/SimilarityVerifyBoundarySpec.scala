package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DeletionJoin, Dedup, SimilarityJoin, Winnowing}
import graft.streaming.{SemiStreamSimilarityJoin, StreamingDedup}

/** The exact-Jaccard boundary through every caller of
  * [[SimilarityJoin.verify]]: hand-built documents where pair (1, 2) sits
  * exactly at J = τ (8 shared tokens, union 10, τ = 0.8; doc 1 ⊂ doc 2, so
  * doc 2's length is also the top of doc 1's length window) and pair
  * (3, 4) just below it (11 shared tokens, union 14, J ≈ 0.786, lengths
  * inside each other's window). Both pairs share a contiguous run of ≥ 8
  * tokens, so winnowing (k = 3, w = 4) sees both as candidates. Every
  * caller must keep the pair at τ and drop the one below.
  */
class SimilarityVerifyBoundarySpec extends SparkSpec {
  init()

  private val Tau = 0.8

  private def docs: DataFrame = {
    import spark.implicits._
    val atTau = (1 to 8).map(i => s"a$i")
    val below = (1 to 11).map(i => s"b$i")
    Seq(
      1L -> atTau,
      2L -> (atTau ++ Seq("a9", "a10")),
      3L -> (below :+ "bx"),
      4L -> (below ++ Seq("by", "bz")))
      .map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def toks = SimilarityJoin.tokenize(docs, "doc_id", "text")

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("x_id"), col("y_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private val KeptOnly = Set((1L, 2L))

  test("verify keeps J = τ exactly and drops the pair just below") {
    import spark.implicits._
    val cand = Seq((1L, 2L), (3L, 4L)).toDF("x_id", "y_id")
    val got = SimilarityJoin
      .verify(cand, SimilarityJoin.xSide(toks), SimilarityJoin.ySide(toks), Tau)
      .select("x_id", "y_id", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == Set((1L, 2L, 8, 10)))
  }

  test("batch strategies: segment, prefix and deletion joins keep only the pair at τ") {
    assert(pairs(SimilarityJoin.joinSets(toks, toks, Tau, selfJoin = true)) == KeptOnly)
    assert(pairs(SimilarityJoin.prefixJoin(toks, toks, Tau, selfJoin = true)) == KeptOnly)
    assert(pairs(DeletionJoin.joinSets(toks, toks, Tau, selfJoin = true)) == KeptOnly)
  }

  test("MinHash and winnowing near-duplicate pairs keep only the pair at τ") {
    assert(pairs(Dedup.minhashDuplicatePairs(toks, Tau)) == KeptOnly)
    assert(pairs(Winnowing.nearDupPairs(docs, "doc_id", "text", Tau)) == KeptOnly)
  }

  test("semi-stream similarity join keeps only the pair at τ, both directions") {
    val r = SemiStreamSimilarityJoin.run(docs, "doc_id", "text", Tau, chunks = 2)
    assert(pairs(r.pairs) == Set((1L, 2L), (2L, 1L)))
  }

  for (hashTokens <- Seq(false, true))
    test(s"streaming dedup flags only the pair at τ (hashTokens=$hashTokens)") {
      val got = StreamingDedup.run(docs, "doc_id", "text", Tau, chunks = 2, hashTokens = hashTokens)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // whichever of docs 1 and 2 arrives later is the duplicate
      assert(got.keySet == Set(1L, 2L, 3L, 4L))
      val pair = (got(1L), got(2L))
      assert(pair == (-1L, 1L) || pair == (2L, -1L), got.toString)
      assert(got(3L) == -1L && got(4L) == -1L, got.toString)
    }
}
