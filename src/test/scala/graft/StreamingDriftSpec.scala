package graft

import graft.streaming.StreamingDrift

/** Arrival-order contract of the drift monitor: batch b's drift is the
  * exact L1 distance (bp of probability mass) vs batches < b; empty
  * history reads the 10000 sentinel; identical distributions read 0.
  */
class StreamingDriftSpec extends SparkSpec {
  init()
  import spark.implicits._

  private def md5u(id: Long): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
  }

  /** Exact BigInt brute force of the per-batch L1 decomposition. */
  private def brute(docs: Seq[(Long, String)], chunks: Int): Seq[(Long, Long, Long, Long)] = {
    val withB = docs.map { case (id, tx) => ((md5u(id) * chunks).toInt, tx) }
    val toks = withB.flatMap { case (b, tx) => tx.split(" ").filter(_.nonEmpty).map(b -> _) }
    val batches = toks.map(_._1).distinct.sorted
    var hist = Map.empty[String, Long]
    var nH = 0L
    batches.map { b =>
      val cb = toks.filter(_._1 == b).map(_._2)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nB = cb.values.sum
      val support = cb.keySet ++ hist.keySet
      val drift =
        if (nH == 0L) 10000L
        else {
          val num = support.toSeq.map { t =>
            (BigInt(cb.getOrElse(t, 0L)) * nH - BigInt(hist.getOrElse(t, 0L)) * nB).abs
          }.sum
          (BigInt(10000) * num / (BigInt(nB) * nH)).toLong
        }
      val out = (b.toLong, nB, cb.size.toLong, drift)
      cb.foreach { case (t, c) => hist += t -> (hist.getOrElse(t, 0L) + c) }
      nH += nB
      out
    }
  }

  private val corpus: Seq[(Long, String)] = (0 until 60).map { i =>
    // drifting mixture: later ids skew toward a different token family
    val common = "alpha beta gamma delta"
    val shifted = s"omega$i psi$i chi"
    (i.toLong, if (i % 4 == 0) s"$common $shifted" else s"$common epsilon zeta")
  }

  test("per-batch drift equals the exact brute force; first batch reads 10000") {
    for (chunks <- Seq(1, 4)) {
      val got = StreamingDrift
        .run(corpus.toDF("doc_id", "text"), "doc_id", "text",
          chunks = chunks, compactEvery = 2)
        .orderBy("batch")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == brute(corpus, chunks), s"chunks=$chunks got $got")
      assert(got.head._4 == 10000L)
    }
  }

  test("an identically-distributed second batch reads near-zero drift") {
    // two batches with the same token distribution (ids only differ)
    val same = (0 until 40).map(i => (i.toLong, "alpha beta beta gamma"))
    val got = StreamingDrift
      .run(same.toDF("doc_id", "text"), "doc_id", "text", chunks = 4)
      .orderBy("batch")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == brute(same, 4))
    got.tail.foreach(r => assert(r._4 == 0L, got.toString))
  }
}
