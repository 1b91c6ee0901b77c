package graft

import graft.streaming.StreamingKAnonymity

/** Arrival-order contract of the streaming k-anonymity release: a row's
  * qi_n counts same-combo rows in batches ≤ its own (decision at its
  * batch's close), and suppression flips as a combo's census clears k.
  */
class StreamingKAnonymitySpec extends SparkSpec {
  init()
  import spark.implicits._

  private def md5u(id: Long): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
  }

  private def brute(
      docs: Seq[(Long, String, String)], k: Long, chunks: Int): Set[(Long, Long, Boolean, Long)] =
    docs.map { case (id, lang, src) =>
      val b = (md5u(id) * chunks).toInt
      val n = docs.count { case (id2, l2, s2) =>
        l2 == lang && s2 == src && (md5u(id2) * chunks).toInt <= b
      }.toLong
      (b.toLong, id, n < k, n)
    }.toSet

  private val corpus: Seq[(Long, String, String)] =
    (0 until 60).map { i =>
      // a few big combos that clear k mid-stream and a tail of rare ones
      val lang = if (i % 2 == 0) "en" else "fr"
      val src = if (i < 40) s"s${i % 3}" else s"rare$i"
      (i.toLong, lang, src)
    }

  test("per-row decisions equal the arrival-order brute force") {
    val got = StreamingKAnonymity
      .run(corpus.toDF("doc_id", "lang", "source"), "doc_id",
        Seq("lang", "source"), k = 5, chunks = 4, compactEvery = 2)
      .as[(Long, Long, Boolean, Long)].collect().toSet
    assert(got == brute(corpus, 5, 4))
  }

  test("a combo below k in early batches is released once its census clears k") {
    val got = StreamingKAnonymity
      .run(corpus.toDF("doc_id", "lang", "source"), "doc_id",
        Seq("lang", "source"), k = 5, chunks = 4)
      .as[(Long, Long, Boolean, Long)].collect().toSeq
    val bigCombos = got.filter(r => corpus(r._2.toInt)._3.startsWith("s"))
    // early rows of the big combos are suppressed, late ones released
    assert(bigCombos.exists(_._3), "expected some early suppressed rows")
    assert(bigCombos.exists(!_._3), "expected some released rows")
    // rare singleton combos stay suppressed forever
    val rares = got.filter(r => corpus(r._2.toInt)._3.startsWith("rare"))
    assert(rares.nonEmpty && rares.forall(_._3))
  }
}
