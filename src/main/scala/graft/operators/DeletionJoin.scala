package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Set-similarity join via DELETION signatures with min-heap V-greedy probe
  * allocation — the reference's full Dima scheme
  * (`DSim-Join/src/main/scala/ds_join/BuildSig.scala:187-200`
  * `createDeletion`; `DimaJoin.scala:70-77` `CalculateH`/`CalculateH1`;
  * `DimaJoin.scala:330-479` `calculateVsl` min-heap greedy), the third
  * batch similarity-join strategy next to [[SimilarityJoin.joinSets]]
  * (segment-only) and [[SimilarityJoin.prefixJoin]] (PPJoin prefixes).
  *
  * Scheme:
  *
  *   - Records length-group as in [[SimilarityJoin.multigroup]]; a group of
  *     max length `hi` uses `H = ⌊(1−τ)·hi/τ⌋ + 1` segments (the
  *     reference's `CalculateH1` — FEWER segments than the segment-only
  *     scheme because deletions absorb one mismatch per segment).
  *   - Index side emits, per segment: the segment signature plus one
  *     1-DELETION signature per token (`createDeletion`).
  *   - Probe side allocates `V(i) ∈ {0,1,2}` per segment with
  *     `Σ V = Hls = ⌊(1−τ)(s+hi)/(1+τ)⌋ + 1` (the reference's
  *     `CalculateH`), choosing WHICH segments via the reference's two-phase
  *     min-heap greedy over estimated candidate counts: step 0→1 costs the
  *     exact-segment frequency, step 1→2 adds the deletion-match
  *     frequencies. The reference priced reducer load into the same heap
  *     (`calculateVsl`'s `deata_distribute`) because it hand-partitioned
  *     its inverted index; Spark's AQE owns that concern, so the cost here
  *     is candidate volume only. The reference also collected the
  *     frequency map to the driver and broadcast it (`indexNum`); at 100 TB
  *     that map is index-sized, so the SAME costs are obtained by joining
  *     the signature-frequency TABLE and running the greedy inside an
  *     aggregation — nothing driver-side.
  *   - A probe segment with `V ≥ 1` joins index segments (exact match);
  *     with `V = 2` it additionally joins index deletions with its own
  *     segment, and index segments with each of its deletions. The
  *     reference also matches deletion×deletion (`DimaJoin.scala:764-787`)
  *     — that combo only serves the balanced-substitution case the
  *     completeness bound never needs (the proof below charges sd = 2 for
  *     it), so it is OFF by default; `delDel = true` enables the fourth
  *     arm, and DeletionJoinSpec proves its verified output IDENTICAL at
  *     two τ while measuring the extra candidate volume it pays.
  *
  * Completeness: for J(x,y) ≥ τ with probe length s and index length
  * `ly ≤ hi`, the symmetric difference satisfies
  * `D = |x△y| ≤ (1−τ)(s+ly)/(1+τ) ≤ Hls − 1`. Let `sd_i` be the
  * symmetric-difference tokens falling in segment i, and `u_i` the largest
  * V that fails to detect segment i: `sd=0 → u=0` (any V ≥ 1 matches the
  * segments exactly), `sd=1 → u=1` (V=2 matches via one deletion side),
  * `sd≥2 → u=2`. Then `Σ u_i ≤ Σ sd_i = D < Hls = Σ V_i`, so some segment
  * has `V_i > u_i` and the pair is emitted. Hash collisions only ever ADD
  * candidates; the exact-Jaccard verify removes them.
  */
object DeletionJoin {

  import SimilarityJoin.{Eps, lengthWindow, matchLenHi, matchLenLo}

  /** Segments per group under the deletion scheme (reference `CalculateH1`):
    * `⌊(1−τ)·hi/τ⌋ + 1`.
    */
  def deletionSegmentCount(hi: Int, tau: Double): Int =
    (math.floor((1 - tau) * hi / tau + Eps) + 1).toInt

  /** Probe allocation size (reference `CalculateH`):
    * `⌊(1−τ)(s+hi)/(1+τ)⌋ + 1`; always ≤ the group's segment count for
    * admissible s (τ·s ≤ hi).
    */
  def allocationSize(s: Int, hi: Int, tau: Double): Int =
    (math.floor((1 - tau) * (s + hi) / (1 + tau) + Eps) + 1).toInt

  /** Group table with the deletion-scheme segment count. */
  def groupTable(tokens: DataFrame, tau: Double, alpha: Double): DataFrame = {
    val spark = tokens.sparkSession
    val stats = tokens.agg(min("slen"), max("slen")).head()
    val rows =
      if (stats.isNullAt(0)) Seq.empty
      else SimilarityJoin.multigroup(stats.getInt(0), stats.getInt(1), alpha)
        .map { case (g, lo, hi) => (g, lo, hi, deletionSegmentCount(hi, tau)) }
    spark.createDataFrame(rows).toDF("gid", "lo", "hi", "h")
  }

  /** Sorted token array of segment `seg` (token-hash mod h — reference
    * `segNum`).
    */
  private def segToks(toks: Column, h: Column, seg: Column): Column =
    array_sort(filter(toks, t => pmod(xxhash64(t), h) === seg))

  private def sigOf(gid: Column, seg: Column, content: Column): Column =
    xxhash64(gid, seg, content)

  /** Per (record ⋈ group) segment rows: (sid, slen, gid, seg, sig, dels)
    * where `dels` are the 1-deletion signatures of the segment (empty
    * segment → no deletions; reference `createDeletion`).
    */
  private def segmentRows(joined: DataFrame): DataFrame =
    joined
      .withColumn("seg", explode(sequence(lit(0), col("h") - 1)))
      .withColumn("st", segToks(col("toks"), col("h"), col("seg")))
      .select(
        col("sid"),
        col("slen"),
        col("gid"),
        col("hi"),
        col("seg"),
        sigOf(col("gid"), col("seg"), concat_ws(" ", col("st"))).as("sig"),
        transform(
          col("st"),
          (_, i) =>
            sigOf(
              col("gid"),
              col("seg"),
              concat_ws(
                " ",
                concat(
                  slice(col("st"), lit(1), i),
                  slice(col("st"), i + 2, size(col("st")) - i - 1))))).as("dels"))

  /** Index-side emissions: every segment signature plus every 1-deletion
    * signature. Output: (sid, slen, sig, kind ∈ {seg, del}).
    */
  def indexSignatures(tokens: DataFrame, groups: DataFrame): DataFrame = {
    val rows = segmentRows(
      tokens.join(broadcast(groups), col("slen").between(col("lo"), col("hi"))))
    rows.select(col("sid"), col("slen"), col("sig"), lit("seg").as("kind"))
      .unionByName(
        rows.select(
          col("sid"),
          col("slen"),
          explode(col("dels")).as("sig"),
          lit("del").as("kind")))
  }

  /** The reference's two-phase min-heap greedy (`calculateVsl:455-466`)
    * without the reducer-load terms: `hls` units over segments, step 0→1
    * priced `c01(i)`, step 1→2 priced `c12(i)` and available only after
    * 0→1. Deterministic tie-break on (cost, step, seg). Returns V per
    * position of `costs`.
    */
  def allocateV(costs: Seq[(Int, Long, Long)], hls: Int): Array[Int] = {
    val v = Array.fill(costs.length)(0)
    // (cost, step, position-in-costs)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Int, Int)](
      Ordering[(Long, Int, Int)].reverse)
    costs.zipWithIndex.foreach { case ((_, c01, _), p) => heap.enqueue((c01, 0, p)) }
    var left = math.min(hls, 2 * costs.length)
    while (left > 0 && heap.nonEmpty) {
      val (_, step, p) = heap.dequeue()
      v(p) += 1
      if (step == 0) heap.enqueue((costs(p)._3, 1, p))
      left -= 1
    }
    v
  }

  private val allocateUdf = udf { (segs: Seq[Row], hls: Int) =>
    val ordered = segs.sortBy(_.getInt(0))
    val v = allocateV(
      ordered.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))),
      hls)
    ordered.zip(v).map { case (r, vi) => (r.getInt(0), vi) }
  }

  /** Probe-side emissions under the greedy allocation. Output:
    * (sid, slen, sig, tkind) joining index rows with `kind = tkind`.
    */
  def probeSignatures(
      tokens: DataFrame,
      groups: DataFrame,
      tau: Double,
      sigFreq: DataFrame,
      exactCosts: Boolean = false,
      delDel: Boolean = false): DataFrame = {
    val admissible = tokens.join(
      broadcast(groups),
      col("hi") >= matchLenLo(col("slen"), tau) && col("lo") <= matchLenHi(col("slen"), tau))
    val rows = segmentRows(admissible)

    // candidate-count costs from the distributed frequency table:
    // c01 = exact-segment matches; c12 = index-deletion matches of the
    // segment (+ index-segment matches of each deletion when
    // `exactCosts`). Costs only RANK segments for the greedy — ΣV = Hls
    // is spent either way, so completeness is cost-independent; see
    // joinSets for the measured default.
    val fSeg = sigFreq.filter(col("kind") === "seg")
      .select(col("sig"), col("n").as("n_seg"))
    val fDel = sigFreq.filter(col("kind") === "del")
      .select(col("sig"), col("n").as("n_del"))
    val withCosts = rows
      .join(fSeg, Seq("sig"), "left")
      .join(fDel, Seq("sig"), "left")
      .withColumn("c01", coalesce(col("n_seg"), lit(0L)))

    val costed =
      if (!exactCosts)
        withCosts.withColumn("c12", coalesce(col("n_del"), lit(0L)))
      else {
        // deletion→index-segment frequencies need a join per deletion
        // hash: explode, look up, sum back
        val delCosts = rows
          .select(col("sid"), col("gid"), col("seg"), explode(col("dels")).as("sig"))
          .join(fSeg, Seq("sig"), "left")
          .groupBy("sid", "gid", "seg")
          .agg(sum(coalesce(col("n_seg"), lit(0L))).as("c_del_inv"))
        withCosts
          .join(delCosts, Seq("sid", "gid", "seg"), "left")
          .withColumn(
            "c12",
            coalesce(col("n_del"), lit(0L)) + coalesce(col("c_del_inv"), lit(0L)))
      }

    val allocated = costed
      .groupBy("sid", "slen", "gid", "hi")
      .agg(collect_list(struct(col("seg"), col("c01"), col("c12"))).as("segcosts"))
      .withColumn(
        "hls",
        (floor((lit(1) - tau) * (col("slen") + col("hi")) / (1 + tau) + Eps) + 1)
          .cast("int"))
      .select(
        col("sid"),
        col("gid"),
        explode(allocateUdf(col("segcosts"), col("hls"))).as("sv"))
      .select(col("sid"), col("gid"), col("sv._1").as("seg"), col("sv._2").as("v"))

    val withV = costed.join(allocated, Seq("sid", "gid", "seg"))

    // V ≥ 1: probe segment ⋈ index segments; V = 2: + probe segment ⋈ index
    // deletions, probe deletions ⋈ index segments (del×del OFF by default —
    // see object scaladoc; `delDel = true` adds it as the reference's
    // fourth arm, `DimaJoin.scala:764-787`). `src` tags the probe-side
    // origin (ss/sd/ds/dd) for candidate-volume accounting; the candidate join keys
    // on (sig, tkind) only.
    val segVsSeg = withV.filter(col("v") >= 1)
      .select(col("sid"), col("slen"), col("sig"), lit("seg").as("tkind"),
        lit("ss").as("src"))
    val segVsDel = withV.filter(col("v") === 2)
      .select(col("sid"), col("slen"), col("sig"), lit("del").as("tkind"),
        lit("sd").as("src"))
    val delVsSeg = withV.filter(col("v") === 2)
      .select(col("sid"), col("slen"), explode(col("dels")).as("sig"), lit("seg").as("tkind"),
        lit("ds").as("src"))
    val base = segVsSeg.unionByName(segVsDel).unionByName(delVsSeg)

    if (!delDel) base
    else base.unionByName(
      // deletion×deletion: a probe deletion matching an INDEX deletion —
      // the balanced-substitution case (sd_i = 2 with one differing token
      // each side). Adds candidates only; the completeness bound already
      // charges 2 to D for that segment, so the verified OUTPUT is
      // unchanged (DeletionJoinSpec pins equality at two τ).
      withV.filter(col("v") === 2)
        .select(col("sid"), col("slen"), explode(col("dels")).as("sig"),
          lit("del").as("tkind"), lit("dd").as("src")))
  }

  /** All pairs with Jaccard ≥ τ under the deletion scheme; same output
    * contract as [[SimilarityJoin.joinSets]].
    */
  def joinSets(
      probe: DataFrame,
      index: DataFrame,
      tau: Double,
      alpha: Double = 0.95,
      selfJoin: Boolean = false,
      exactCosts: Boolean = false,
      delDel: Boolean = false): DataFrame = {
    val groups = groupTable(index, tau, alpha)
    val iSigs = indexSignatures(index, groups)
    val sigFreq = iSigs.groupBy("sig", "kind").agg(count(lit(1)).as("n"))
    val pSigs =
      probeSignatures(
        if (selfJoin) index else probe, groups, tau, sigFreq, exactCosts, delDel)

    val pairFilter =
      if (selfJoin) col("x_id") < col("y_id")
      else lit(true)

    val candidates = pSigs
      .select(col("sid").as("x_id"), col("slen").as("x_len"), col("sig"), col("tkind"))
      .join(
        iSigs.select(col("sid").as("y_id"), col("slen").as("y_len"), col("sig"),
          col("kind").as("tkind")),
        Seq("sig", "tkind"))
      .filter(lengthWindow(tau) && pairFilter)
      .select("x_id", "y_id")
      .dropDuplicates("x_id", "y_id")

    SimilarityJoin.verify(candidates, SimilarityJoin.xSide(probe), SimilarityJoin.ySide(index), tau)
  }

  /** Self-join convenience over a raw document table. */
  def selfJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double,
      exactCosts: Boolean = false,
      delDel: Boolean = false): DataFrame = {
    val toks = SimilarityJoin.tokenize(docs, idCol, textCol)
    joinSets(toks, toks, tau, selfJoin = true, exactCosts = exactCosts, delDel = delDel)
  }
}
