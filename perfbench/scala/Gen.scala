package perfbench

import java.util.Random

/** Seeded input generators. Every input of a run derives from `--seed`
  * alone; the program under test only ever sees the generated relations.
  * Shapes follow the sf0.1 tables the workloads were designed on: `part`
  * keys 0..n-1 with a short string payload, `documents` drawn from a
  * 30-word vocabulary (which makes Jaccard ≥ 0.8 pairs dense).
  */
object Gen {

  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")

  final case class PartRow(p_partkey: Long, p_brand: String)

  final case class StreamRow(p_partkey: Long, l_orderkey: Long, l_quantity: Long)

  final case class Doc(doc_id: Long, text: String)

  def parts(n: Int, seed: Long): Seq[PartRow] = {
    val r = new Random(seed ^ 0x5eedL)
    (0 until n).map(i => PartRow(i.toLong, s"Brand#${1 + r.nextInt(25)}${1 + r.nextInt(5)}"))
  }

  /** The `hot` keys of `0 until nKeys` a Zipf stream draws from, hottest
    * first: a seeded permutation's head, so they are not simply 0, 1, 2, ... */
  def hotKeys(nKeys: Int, hot: Int, seed: Long): Array[Long] =
    shuffle(Array.range(0, nKeys), new Random(seed ^ 0x407L)).take(hot).map(_.toLong)

  /** `n` stream rows whose part keys follow Zipf(`s`) over `keys` (hottest
    * first); `s` = 0.99 is YCSB's default request skew. */
  def zipfStream(n: Int, keys: Array[Long], s: Double, seed: Long): Seq[StreamRow] = {
    val r = new Random(seed ^ 0x21bfL)
    val cdf = new Array[Double](keys.length)
    var acc = 0.0
    var i = 0
    while (i < keys.length) { acc += 1.0 / math.pow(i + 1, s); cdf(i) = acc; i += 1 }
    (0 until n).map { o =>
      val u = r.nextDouble() * acc
      var idx = java.util.Arrays.binarySearch(cdf, u)
      if (idx < 0) idx = -idx - 1
      StreamRow(keys(math.min(idx, keys.length - 1)), o.toLong, 1L + r.nextInt(50))
    }
  }

  /** `n` documents; a `dupRate` share repeats an earlier document's exact
    * token set in a new order and multiplicity (the sf0.1 set has ~21 %).
    *
    * The set structure (lengths, which documents repeat which) comes from a
    * fixed generator, so the similarity work (pairs at any τ) is the same
    * for every seed; with a 30-word vocabulary it is dominated by a few long
    * documents and would otherwise swing by ±20 % between seeds. The seed
    * renames the vocabulary, shuffles token order and assigns the ids, which
    * decide batch membership and arrival order. */
  def docs(n: Int, dupRate: Double, seed: Long): Seq[Doc] = {
    val base = new Random(0x5eedd0c5L)
    val r = new Random(seed ^ 0xd0c5L)
    val words = shuffle(Vocab.clone(), r)
    val ids = shuffle(Array.range(0, n), r)
    val sets = new Array[Array[Int]](n)
    (0 until n).map { i =>
      val toks =
        if (i > 0 && base.nextDouble() < dupRate) {
          val src = sets(base.nextInt(i))
          src ++ Array.fill(base.nextInt(10))(src(base.nextInt(src.length)))
        } else Array.fill(10 + base.nextInt(90))(base.nextInt(Vocab.length))
      sets(i) = toks.distinct
      Doc(ids(i).toLong, shuffle(toks.map(words), r).mkString(" "))
    }.sortBy(_.doc_id)
  }

  private def shuffle[T](a: Array[T], r: Random): Array[T] = {
    for (j <- a.length - 1 to 1 by -1) {
      val k = r.nextInt(j + 1); val t = a(j); a(j) = a(k); a(k) = t
    }
    a
  }
}
