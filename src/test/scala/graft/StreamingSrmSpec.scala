package graft

import graft.operators.SampleRatio
import graft.streaming.StreamingSrm

class StreamingSrmSpec extends SparkSpec {
  init()
  import spark.implicits._

  // 400 exposures over seq 0..399 in 4 chunks of 100: chunks 0-1 are a
  // clean 1:1; chunks 2-3 are all-'a' (the splitter breaks mid-stream)
  private val rows: Seq[(String, Long)] =
    (0L until 200L).map(i => (if (i % 2 == 0) "a" else "b", i)) ++
      (200L until 400L).map(i => ("a", i))

  private def brute: Seq[(Int, Long, Long, Long, Long, Boolean)] =
    (0 until 4).map { b =>
      val seen = rows.filter(_._2 / 100 <= b)
      val na = BigInt(seen.count(_._1 == "a"))
      val nb = BigInt(seen.count(_._1 == "b"))
      val n = na + nb
      def term(o: BigInt) = {
        val z = o * 2 - n
        BigInt(1000000) * z * z / (2 * n)
      }
      val srm = term(na) + term(nb)
      (b, na.toLong, nb.toLong, (BigInt(1000000) * na / n).toLong,
        srm.toLong, srm > 10830000L)
    }

  test("the alarm frontier fires on the batch where the splitter breaks") {
    val before = replayDirs()
    val out = StreamingSrm.run(rows.toDF("arm", "seq"),
        "arm", "seq", "a", "b", expectA = 1L, expectB = 1L, chunks = 4)
    // the replay's checkpoint and spooled chunks are gone; the frame,
    // which holds the memory sink itself, still reads
    assert(replayDirs() -- before == Set.empty)
    val got = out.orderBy("batch").as[(Int, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got == brute)
    // batches 0-1 clean; the all-'a' flood alarms from batch 2 onward
    assert(!got(0)._6 && !got(1)._6)
    assert(got(2)._6 && got(3)._6)
  }

  test("the final batch equals the batch operator on the whole relation") {
    val streamed = StreamingSrm.run(rows.toDF("arm", "seq"),
        "arm", "seq", "a", "b", 1L, 1L, chunks = 4)
      .filter($"batch" === 3)
      .select("n_a", "n_b", "a_share_ppm", "srm_ppm", "srm_alarm")
      .head()
    val batch = SampleRatio.check(rows.toDF("arm", "seq"), "arm", "a", "b")
      .select("n_a", "n_b", "a_share_ppm", "srm_ppm", "srm_alarm")
      .head()
    assert(streamed == batch)
  }

  test("foreign labels fail by name") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val bad = Seq(("x", 0L), ("a", 1L)).toDF("arm", "seq")
    val before = replayDirs()
    val ex = intercept[Exception] {
      StreamingSrm.run(bad, "arm", "seq", "a", "b", 1L, 1L, chunks = 2)
    }
    assert(msgs(ex).exists(_.contains("arm must be")))
    assert(replayDirs() -- before == Set.empty)
  }
}
