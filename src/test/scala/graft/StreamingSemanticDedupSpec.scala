package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Sampling, SimilaritySearch}
import graft.streaming.StreamingSemanticDedup

/** Streaming semantic dedup vs the ordered brute force: dup_of(x) = min
  * same-IVF-cell y seen before x (earlier MD5 batch, or same batch with
  * smaller id) with cosine ≥ τ — q55's cells + q49's arrival order.
  */
class StreamingSemanticDedupSpec extends SparkSpec {
  init()

  private def emb = Tables(spark, sfSmoke, "embeddings")
    .select(col("vec_id").as("vid"), col("embedding").as("emb"))

  /** Cells exactly as the operator (and q55) derive them. */
  private def assigned(vecs: org.apache.spark.sql.DataFrame, nCells: Int) = {
    val idHash = md5(col("c_src").cast("string"))
    val centroids = vecs
      .select(col("vid").as("c_src"), col("emb").as("c_emb"))
      .orderBy(idHash, col("c_src"))
      .limit(nCells)
      .withColumn(
        "cell",
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(idHash, col("c_src"))))
      .select("cell", "c_emb")
    vecs.crossJoin(broadcast(centroids))
      .groupBy("vid")
      .agg(
        first(col("emb")).as("emb"),
        max_by(
          col("cell"),
          struct(SimilaritySearch.cosine(col("emb"), col("c_emb")), -col("cell"))).as("cell"))
  }

  private def brute(
      vecs: org.apache.spark.sql.DataFrame, tau: Double, chunks: Int, nCells: Int) = {
    val a = assigned(vecs, nCells)
      .withColumn("b", floor(Sampling.hashUniform(col("vid")) * chunks).cast("int"))
    val x = a.select(col("vid").as("x_id"), col("emb").as("x_emb"),
      col("cell"), col("b").as("xb"))
    val y = a.select(col("vid").as("y_id"), col("emb").as("y_emb"),
      col("cell"), col("b").as("yb"))
    val dupOf = x.join(y, Seq("cell"))
      .filter(col("yb") < col("xb") || (col("yb") === col("xb") && col("y_id") < col("x_id")))
      .filter(SimilaritySearch.cosine(col("x_emb"), col("y_emb")) >= tau)
      .groupBy("x_id")
      .agg(min("y_id").as("exp_dup"))
    a.select(col("vid"))
      .join(dupOf, col("vid") === col("x_id"), "left")
      .select(col("vid"), coalesce(col("exp_dup"), lit(-1L)).as("dup_of"))
  }

  test("streaming semantic dedup equals the ordered same-cell brute force at sf0.001") {
    val got = StreamingSemanticDedup.run(emb, tau = 0.985, chunks = 3, nCells = 16,
      compactEvery = 2)
    val expected = brute(emb, tau = 0.985, chunks = 3, nCells = 16)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("planted duplicates are caught across batches (synthetic corpus)") {
    import spark.implicits._
    // 3 identical-embedding pairs + 4 novel vectors: identical vectors land
    // in the same cell by construction, so the later-arriving member of
    // each pair MUST be flagged whatever batches MD5 assigns
    val base = (0 until 10).map(i => (100L + i, Array.fill(8)(0.0f).updated(i % 8, 1.0f)))
    val pairs = Seq(
      (200L, base(0)._2), (201L, base(1)._2), (202L, base(2)._2))
    val vecs = (base ++ pairs).toDF("vid", "emb")
    val got = StreamingSemanticDedup.run(vecs, tau = 0.985, chunks = 3, nCells = 4,
      compactEvery = 2)
    val expected = brute(vecs, tau = 0.985, chunks = 3, nCells = 4)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    assert(got.filter(col("dup_of") >= 0).count() >= 3)
  }
}
