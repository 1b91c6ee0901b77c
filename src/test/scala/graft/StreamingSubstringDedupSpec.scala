package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Sampling, SubstringDedup}
import graft.streaming.StreamingSubstringDedup

/** Arrival-order contract of the streamed substring pass: each doc's
  * spans reflect shingle occurrences over batches ≤ its own; a
  * single-batch stream equals the batch operator.
  */
class StreamingSubstringDedupSpec extends SparkSpec {
  init()
  import spark.implicits._

  /** Ordered brute force: shingle hot for a doc iff occurrences over
    * batches ≤ the doc's batch ≥ minCount.
    */
  private def brute(
      docs: Seq[(Long, String)],
      k: Int,
      minCount: Int,
      chunks: Int): Seq[(Long, Long, Long, Long)] = {
    def md5u(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val withB = docs.map { case (id, tx) => (id, tx, (md5u(id) * chunks).toInt) }
    val sh = withB.flatMap { case (id, tx, b) =>
      val ts = tx.split(" ").filter(_.nonEmpty)
      (0 to ts.length - k).map(i => (id, b, i.toLong, ts.slice(i, i + k).mkString(" ")))
    }
    val byShingleBatch = sh.groupBy(s => (s._4, s._2)).view.mapValues(_.size).toMap
    def cumCount(shingle: String, b: Int): Int =
      (0 to b).map(bb => byShingleBatch.getOrElse((shingle, bb), 0)).sum
    val rep = sh.filter { case (_, b, _, s) => cumCount(s, b) >= minCount }
    rep.groupBy(_._1).toSeq.flatMap { case (id, ss) =>
      val ps = ss.map(_._3).sorted
      val groups = ps.foldLeft(Vector.empty[Vector[Long]]) { (acc, p) =>
        if (acc.nonEmpty && acc.last.last == p - 1) acc.init :+ (acc.last :+ p)
        else acc :+ Vector(p)
      }
      groups.map(g => (id, g.head, g.last + k - 1, g.size.toLong))
    }.sortBy(t => (t._1, t._2))
  }

  private val corpus: Seq[(Long, String)] = {
    val tpl = "the quick brown fox jumps over the lazy dog tonight"
    (0 until 40).map { i =>
      val tail = s"unique$i tail$i words$i"
      if (i % 3 == 0) (i.toLong, s"$tpl $tail") else (i.toLong, s"alpha$i beta$i $tail gamma$i")
    }
  }

  test("streamed spans equal the arrival-order brute force across chunkings") {
    for (chunks <- Seq(1, 4)) {
      val got = StreamingSubstringDedup
        .run(corpus.toDF("doc_id", "text"), "doc_id", "text", k = 5, minCount = 2,
          chunks = chunks, compactEvery = 2)
        .orderBy("doc_id", "start_tok")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val want = brute(corpus, k = 5, minCount = 2, chunks = chunks)
      assert(got == want, s"chunks=$chunks: got ${got.size} spans, want ${want.size}")
      assert(want.nonEmpty)
    }
  }

  test("a single-batch stream equals the batch operator") {
    val streamed = StreamingSubstringDedup
      .run(corpus.toDF("doc_id", "text"), "doc_id", "text", k = 5, minCount = 2, chunks = 1)
      .orderBy("doc_id", "start_tok")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val batch = SubstringDedup
      .repeatedSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", k = 5, minCount = 2)
      .orderBy("doc_id", "start_tok")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("arrival order matters: a later copy is flagged, the earlier original is not") {
    // find two doc ids landing in DIFFERENT batches under the MD5 assign
    val tpl = "w1 w2 w3 w4 w5 w6 w7"
    def md5u(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(8), 16).toDouble / 4294967296.0
    }
    val ids = (0L until 50L).map(i => i -> (md5u(i) * 4).toInt)
    val (earlyId, _) = ids.minBy(_._2)
    val (lateId, _) = ids.maxBy(_._2)
    assert(ids.toMap.apply(earlyId) < ids.toMap.apply(lateId))
    val docs = Seq((earlyId, s"$tpl only0"), (lateId, s"$tpl only1"))
    val got = StreamingSubstringDedup
      .run(docs.toDF("doc_id", "text"), "doc_id", "text", k = 5, minCount = 2, chunks = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(lateId), s"expected only the later copy flagged: $got")
  }
}
