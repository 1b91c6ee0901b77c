package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed set-similarity join: all pairs (x, y) with
  * `Jaccard(tokens(x), tokens(y)) ≥ τ`, computed without any cross join via
  * partition-based segment signatures — the DSim-Join capability
  * (`DSim-Join/src/main/scala/ds_join/BuildSig.scala:98-325`,
  * `DimaJoin.scala:481-574`, `JaccardIndex.scala:27-109`) re-expressed as
  * DataFrame transforms.
  *
  * Scheme (same structure as the reference, simplified bound):
  *
  *   - Records are tokenized to distinct token sets and length-grouped by
  *     the reference's multigroup rule: groups `[lo, ⌊lo/α⌋]` covering
  *     [minLen, maxLen] (`BuildSig.scala:125-137`).
  *   - Tokens are assigned to `H` segments by token-hash mod `H`
  *     (reference `segNum`, `BuildSig.scala:60-68`); a record's signature
  *     for segment `i` is the hash of its (sorted) tokens in that segment,
  *     keyed by (group, segment) — reference `createInverse`
  *     (`BuildSig.scala:70-95`).
  *   - Per group we take `H = ⌊(1−τ)/(1+τ)·(hi + ⌊hi/τ⌋)⌋ + 1`. Any match
  *     (J ≥ τ, index side in the group, probe length ≤ ⌊hi/τ⌋) has
  *     `|x△y| ≤ (1−τ)/(1+τ)·(|x|+|y|) ≤ H−1`, so by pigeonhole some
  *     segment contains no symmetric-difference token — on that segment the
  *     two token subsets are identical and the signatures collide.
  *     Completeness therefore needs segment signatures only; the
  *     reference's 1-deletion signatures (`createDeletion`) buy a smaller
  *     `H` at the cost of ~len extra signatures per segment — that full
  *     scheme (deletions + min-heap V-greedy allocation) is
  *     [[DeletionJoin]], and [[prefixJoin]] is the third strategy for
  *     low τ.
  *   - Probe side mirrors the index side over every group overlapping the
  *     probe's admissible length range `[⌈τ·s⌉, ⌊s/τ⌋]` (reference
  *     `DimaJoin.scala:500-503`).
  *   - Candidates = equi-join on the signature hash (Catalyst
  *     shuffle/broadcast hash join replaces the reference's hand-built
  *     inverted index and zip-merge, `DimaJoin.scala:872-893`), deduped per
  *     pair (the reference's compareSimilarity gate,
  *     `JaccardIndex.scala:99-109`, exists to suppress duplicate verify
  *     work; `dropDuplicates` on the pair id is the declarative form).
  *   - Verify = exact Jaccard by [[verify]], the one verify every
  *     set-similarity caller shares (batch strategies, MinHash, winnowing
  *     and both streams), replacing the reference's positional-overlap
  *     merge count (`JaccardIndex.scala:27-97`).
  *
  * Scale notes: the only shuffles are the signature equi-join and the pair
  * dedup, both keyed by hash — AQE handles skewed signatures (the
  * reference's `SimilarityQueryPartitioner` load balancing). The frequency
  * table (`BuildSig.scala:294-301`) is exposed via [[signatureFrequencies]]
  * for cache-admission policies (reference `DS_SimJoin_stream.scala:838`).
  * The semi-stream form, [[graft.streaming.SemiStreamSimilarityJoin]],
  * always probes these segment signatures through its keyed cache.
  */
object SimilarityJoin {

  /** Length groups `[lo, ⌊lo/α⌋]` covering [minLen, maxLen]
    * (reference multigroup, `BuildSig.scala:125-137`).
    */
  def multigroup(minLen: Int, maxLen: Int, alpha: Double): Seq[(Int, Int, Int)] = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    val out = Seq.newBuilder[(Int, Int, Int)]
    var lo = math.max(minLen, 1)
    var gid = 0
    while (lo <= maxLen) {
      val hi = math.floor(lo / alpha + Eps).toInt
      out += ((gid, lo, hi))
      gid += 1
      lo = hi + 1
    }
    out.result()
  }

  /** Segment count for a group with max indexed length `hi`: covers the
    * worst-case symmetric difference of any admissible match (see scheme
    * note above).
    */
  def segmentCount(hi: Int, tau: Double): Int =
    (math.floor((1 - tau) / (1 + tau) * (hi + math.floor(hi / tau + Eps)) + Eps) + 1).toInt

  /** Float guard on length/τ arithmetic (the reference's `+0.0001`,
    * `BuildSig.scala:57,140`): `8/0.8 = 9.999…` would otherwise floor to 9
    * and silently drop exact-boundary matches (J = τ subset pairs).
    */
  private[graft] val Eps = 1e-4

  /** The exact admissible length window of a set of length `len` at τ:
    * any `y` with `J(x, y) ≥ τ` has `|y| ∈ [⌈τ·|x|⌉, ⌊|x|/τ⌋]`.
    */
  private[graft] def matchLenLo(len: Column, tau: Double): Column = ceil(len * tau - Eps)
  private[graft] def matchLenHi(len: Column, tau: Double): Column = floor(len / tau + Eps)

  /** Candidate-pair length prune: `y_len` inside `x_len`'s window. */
  private[graft] def lengthWindow(tau: Double): Column =
    col("y_len") >= matchLenLo(col("x_len"), tau) && col("y_len") <= matchLenHi(col("x_len"), tau)

  /** Tokenize to distinct token sets: split on single spaces, drop empties,
    * dedupe (Jaccard is over SETS). Output: (`sid`, `toks`, `slen`).
    * Mirrors the reference's tokenize + canonicalize
    * (`BuildSig.scala:75`, `sortByValue :38-53`) — we sort lazily inside
    * the signature hash instead of materializing a canonical string.
    */
  def tokenize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
        col(idCol).as("sid"),
        array_distinct(filter(split(col(textCol), " "), t => length(t) > 0)).as("toks"))
      .withColumn("slen", size(col("toks")))
      .filter(col("slen") > 0)

  /** Small broadcastable group table (gid, lo, hi, h) for the given token
    * table; the min/max scan is the reference's stats pass
    * (`BuildSig.scala:245-253`, SURVEY A5).
    */
  def groupTable(spark: SparkSession, tokens: DataFrame, tau: Double, alpha: Double): DataFrame = {
    val stats = tokens.agg(min("slen"), max("slen")).head()
    val rows =
      if (stats.isNullAt(0)) Seq.empty // empty index → empty group table
      else multigroup(stats.getInt(0), stats.getInt(1), alpha).map { case (g, lo, hi) =>
        (g, lo, hi, segmentCount(hi, tau))
      }
    spark.createDataFrame(rows).toDF("gid", "lo", "hi", "h")
  }

  /** Per-segment signature: hash of the (gid, seg, sorted tokens falling in
    * the segment). Collisions only add candidates — verify removes them.
    */
  private def segSig(toks: Column, gid: Column, h: Column, seg: Column): Column =
    xxhash64(
      gid,
      seg,
      concat_ws(" ", array_sort(filter(toks, t => pmod(xxhash64(t), h) === seg))))

  /** Index-side signatures: each record lands in ITS length group and emits
    * one signature per segment (reference `createInverse` + explode,
    * SURVEY J17). Output: (sid, slen, sig).
    */
  def indexSignatures(tokens: DataFrame, groups: DataFrame): DataFrame =
    tokens
      .join(broadcast(groups), col("slen").between(col("lo"), col("hi")))
      .withColumn("seg", explode(sequence(lit(0), col("h") - 1)))
      .select(
        col("sid"),
        col("slen"),
        segSig(col("toks"), col("gid"), col("h"), col("seg")).as("sig"))

  /** Probe-side signatures: each record probes EVERY group overlapping its
    * admissible match-length range (reference `createInverseForquery` +
    * `partition_r`, SURVEY J16/J18). Output: (sid, slen, sig).
    */
  def probeSignatures(tokens: DataFrame, groups: DataFrame, tau: Double): DataFrame =
    tokens
      .join(
        broadcast(groups),
        col("hi") >= matchLenLo(col("slen"), tau) && col("lo") <= matchLenHi(col("slen"), tau))
      .withColumn("seg", explode(sequence(lit(0), col("h") - 1)))
      .select(
        col("sid"),
        col("slen"),
        segSig(col("toks"), col("gid"), col("h"), col("seg")).as("sig"))

  /** Signature frequency table (reference `BuildSig.scala:294-301`,
    * SURVEY A2/P8): sigs occurring more than once, for admission policies
    * and hot-key inspection.
    */
  def signatureFrequencies(indexSigs: DataFrame): DataFrame =
    indexSigs.groupBy("sig").count().filter(col("count") > 1)

  /** All pairs of (probe x, index y) with Jaccard ≥ τ.
    * Output: (x_id, y_id, inter, uni, jacc). `selfJoin=true` keeps only
    * x_id < y_id (each unordered pair once, no self-pairs).
    */
  def joinSets(
      probe: DataFrame,
      index: DataFrame,
      tau: Double,
      alpha: Double = 0.95,
      selfJoin: Boolean = false): DataFrame = {
    val spark = index.sparkSession
    val groups = groupTable(spark, index, tau, alpha)

    val iSigs = indexSignatures(index, groups)
      .select(col("sid").as("y_id"), col("slen").as("y_len"), col("sig"))
    val pSigs = probeSignatures(probe, groups, tau)
      .select(col("sid").as("x_id"), col("slen").as("x_len"), col("sig"))

    val pairFilter =
      if (selfJoin) col("x_id") < col("y_id")
      else lit(true)

    // Candidate pairs: sig equality + exact length window; dedup before the
    // (more expensive) verify — the reference's compareSimilarity gate.
    val candidates = pSigs
      .join(iSigs, "sig")
      .filter(lengthWindow(tau) && pairFilter)
      .select("x_id", "y_id")
      .dropDuplicates("x_id", "y_id")

    verify(candidates, xSide(probe), ySide(index), tau)
  }

  /** A token table (`sid`, `toks`) as the verify's probe / index side. */
  def xSide(tokens: DataFrame): DataFrame =
    tokens.select(col("sid").as("x_id"), col("toks").as("x_toks"))
  def ySide(tokens: DataFrame): DataFrame =
    tokens.select(col("sid").as("y_id"), col("toks").as("y_toks"))

  /** Exact-Jaccard verify of candidate pairs — the one verify behind every
    * set-similarity caller (the three batch strategies, MinHash LSH,
    * winnowing and both streams), replacing the reference's
    * positional-overlap merge count (`JaccardIndex.scala:27-97`) with the
    * fused [[graft.functions.ArrayIntersectSize]] codegen expression
    * (counts the intersection without materializing it; no UDF).
    *
    * `pairs` holds DISTINCT (`x_id`, `y_id`) candidates; `xToks`
    * (`x_id`, `x_toks`) and `yToks` (`y_id`, `y_toks`) arrive already
    * shaped by the caller — broadcast, pre-partitioned, persisted or
    * fetched — and the verify adds no hints or exchanges of its own, so
    * each caller keeps its tuned layout. Keeps `inter/uni ≥ τ`.
    * Output: (x_id, y_id, inter, uni, jacc).
    */
  def verify(pairs: DataFrame, xToks: DataFrame, yToks: DataFrame, tau: Double): DataFrame = {
    graft.functions.ArrayIntersectSize.register(pairs.sparkSession)
    pairs
      .join(xToks, "x_id")
      .join(yToks, "y_id")
      .withColumn(
        "inter",
        graft.functions.ArrayIntersectSize.intersect_size(col("x_toks"), col("y_toks")))
      .withColumn("uni", size(col("x_toks")) + size(col("y_toks")) - col("inter"))
      .withColumn("jacc", col("inter").cast("double") / col("uni"))
      .filter(col("jacc") >= tau)
      .select("x_id", "y_id", "inter", "uni", "jacc")
  }

  // ------------------------------------------------------ prefix filtering

  /** Index-side token document frequencies — the canonical token order for
    * prefix filtering (AllPairs/PPJoin: Bayardo et al. WWW'07, Xiao et al.
    * WWW'08). Output: (tok, df).
    */
  def tokenFrequencies(index: DataFrame): DataFrame =
    index.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))

  /** Reorder each record's token set rarest-first by (df asc, token asc) —
    * the same total order on both sides (probe tokens absent from the index
    * get df 0). Output: (sid, slen, otoks).
    */
  def orderByFrequency(tokens: DataFrame, freq: DataFrame): DataFrame =
    tokens
      .select(col("sid"), col("slen"), explode(col("toks")).as("tok"))
      .join(freq, Seq("tok"), "left")
      .groupBy("sid", "slen")
      .agg(
        transform(
          array_sort(collect_list(struct(coalesce(col("df"), lit(0L)).as("df"), col("tok")))),
          s => s.getField("tok")).as("otoks"))

  /** All pairs with Jaccard ≥ τ via PPJoin-style prefix filtering — the
    * low-τ batch path where the segment scheme's `H ≈ (1−τ)/(1+τ)·2·hi/τ`
    * signature count explodes (the reference buys this back with deletion
    * signatures, `BuildSig.scala:187-200`; prefix filtering is the
    * published alternative with strictly smaller emission).
    *
    * Scheme: tokens sorted rarest-first under one global order; a record of
    * length s emits only its first `s − ⌈τ·s⌉ + 1` tokens. Any pair with
    * J ≥ τ (and therefore overlap ≥ ⌈τ·max(|x|,|y|)⌉) must share a prefix
    * token under the common order, so the token equi-join is complete.
    * Candidates are then pruned by the exact length window and the PPJoin
    * positional bound `min(i−1,j−1) + 1 + min(|x|−i, |y|−j) ≥
    * ⌈τ/(1+τ)·(|x|+|y|)⌉` (a valid overlap upper bound for every shared
    * token occurrence, so per-row filtering never drops a true match),
    * deduped, and verified with exact Jaccard.
    *
    * Scale: rare-first ordering bounds the join fan-out per token by its
    * document frequency — the frequent tokens that would dominate an
    * inverted index sit in suffixes and are never emitted. The shuffles are
    * all keyed equi-joins (freq groupBy, order rebuild, prefix-token join,
    * pair dedup); AQE covers residual skew.
    */
  /** Prefix emission of an ordered token table: one row per (record,
    * prefix position) — the first `s − ⌈τ·s⌉ + 1` tokens under the
    * rarest-first order. Exposed so the skew spec can assert what the
    * join actually emits. Output: (sid, slen, pos, tok).
    */
  def orderedPrefixes(ord: DataFrame, tau: Double): DataFrame = {
    val prefixLen = (col("slen") - matchLenLo(col("slen"), tau) + 1).cast("int")
    ord.select(
      col("sid"),
      col("slen"),
      posexplode(slice(col("otoks"), lit(1), prefixLen)).as(Seq("pos", "tok")))
  }

  def prefixJoin(
      probe: DataFrame,
      index: DataFrame,
      tau: Double,
      selfJoin: Boolean = false): DataFrame = {
    val freq = tokenFrequencies(index)
    val iOrd = orderByFrequency(index, freq)
    val pOrd = if (selfJoin) iOrd else orderByFrequency(probe, freq)

    val px = orderedPrefixes(pOrd, tau).select(
      col("sid").as("x_id"),
      col("slen").as("x_len"),
      col("pos").as("x_pos"),
      col("tok"))
    val iy = orderedPrefixes(iOrd, tau).select(
      col("sid").as("y_id"),
      col("slen").as("y_len"),
      col("pos").as("y_pos"),
      col("tok"))

    val pairFilter =
      if (selfJoin) col("x_id") < col("y_id")
      else lit(true)

    // required overlap for a (|x|,|y|) pair at threshold τ
    val alphaReq = ceil((col("x_len") + col("y_len")) * (tau / (1 + tau)) - Eps)
    val posBound =
      least(col("x_pos"), col("y_pos")) + 1 +
        least(col("x_len") - col("x_pos") - 1, col("y_len") - col("y_pos") - 1)

    val candidates = px
      .join(iy, "tok")
      .filter(lengthWindow(tau) && pairFilter && posBound >= alphaReq)
      .select("x_id", "y_id")
      .dropDuplicates("x_id", "y_id")

    verify(candidates, xSide(probe), ySide(index), tau)
  }

  // --------------------------------------------------------- containment

  /** Asymmetric CONTAINMENT join: ordered pairs (x, y), x ≠ y, with
    * `|x ∩ y| ≥ ⌈γ·|x|⌉` — x's token set near-contained in y. The partial-dup
    * detector of a curation pipeline (boilerplate, quoted passages,
    * subset documents) that a symmetric Jaccard threshold misses: a short
    * doc fully inside a long one has low Jaccard but containment 1.
    *
    * Prefix filter, containment form: order tokens rarest-first under the
    * index-side global frequency order. If `|x ∩ y| ≥ o = ⌈γ·|x|⌉` then y
    * holds all but at most `|x| − o` of x's tokens, so among the first
    * `|x| − o + 1` ordered tokens of x at least one is in y — joining x's
    * PREFIX against y's full inverted list is complete. Only x pays a
    * prefix: containment puts no lower bound on `|y|`'s share of y, so the
    * index side must emit every token — but fan-out per emitted x-token is
    * its document frequency, and the rarest-first order makes prefix
    * tokens exactly the low-df ones. The `|y| ≥ o` length prune and pair
    * dedup run before the exact-intersection verify.
    *
    * The γ-threshold compare is INTEGER (`inter ≥ ⌈γ·|x|⌉`) — no double
    * ratio at the boundary, so oracles agree bit-for-bit.
    * Output: (x_id, y_id, inter, x_len).
    */
  def containmentJoin(
      probe: DataFrame,
      index: DataFrame,
      gamma: Double,
      selfTable: Boolean = false): DataFrame = {
    // parallelism repair (core.Spread): the candidate join below explodes
    // doc-grain relations and, with the prefix side broadcast, the whole
    // produce stage otherwise runs inside the index side's (few-split)
    // scan stage — measured on q50 as ONE task emitting 15.8 M pairs
    val probe0 = graft.core.Spread.spread(probe, "sid")
    val index0 = if (selfTable && (index eq probe)) probe0
      else graft.core.Spread.spread(index, "sid")
    val freq = tokenFrequencies(index0)
    val pOrd = orderByFrequency(probe0, freq)

    val reqOverlap = ceil(col("x_len") * gamma - Eps)
    val px = pOrd.select(
      col("sid").as("x_id"),
      col("slen").as("x_len"),
      explode(
        slice(
          col("otoks"),
          lit(1),
          (col("slen") - ceil(col("slen") * gamma - Eps) + 1).cast("int"))).as("tok"))
    val iy = index0.select(
      col("sid").as("y_id"),
      col("slen").as("y_len"),
      explode(col("toks")).as("tok"))

    val pairFilter =
      if (selfTable) col("x_id") =!= col("y_id")
      else lit(true)

    val candidates = px
      .join(iy, "tok")
      .filter(col("y_len") >= reqOverlap && pairFilter)
      .select("x_id", "y_id")
      .dropDuplicates("x_id", "y_id")

    graft.functions.ArrayIntersectSize.register(index.sparkSession)
    val xT = probe.select(col("sid").as("x_id"), col("toks").as("x_toks"))
    val yT = index.select(col("sid").as("y_id"), col("toks").as("y_toks"))
    candidates
      .join(xT, "x_id")
      .join(yT, "y_id")
      .withColumn(
        "inter",
        graft.functions.ArrayIntersectSize.intersect_size(col("x_toks"), col("y_toks")))
      .withColumn("x_len", size(col("x_toks")))
      .filter(col("inter") >= ceil(col("x_len") * gamma - Eps))
      .select("x_id", "y_id", "inter", "x_len")
  }

  /** Containment self-join convenience over a raw document table. */
  def containmentSelfJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      gamma: Double): DataFrame = {
    val toks = tokenize(docs, idCol, textCol)
    containmentJoin(toks, toks, gamma, selfTable = true)
  }

  /** Self-join convenience over a raw document table. */
  def selfJoin(docs: DataFrame, idCol: String, textCol: String, tau: Double): DataFrame = {
    val toks = tokenize(docs, idCol, textCol)
    joinSets(toks, toks, tau, selfJoin = true)
  }

  /** Prefix-filtered self-join convenience over a raw document table. */
  def prefixSelfJoin(docs: DataFrame, idCol: String, textCol: String, tau: Double): DataFrame = {
    val toks = tokenize(docs, idCol, textCol)
    prefixJoin(toks, toks, tau, selfJoin = true)
  }

  // ------------------------------------------------- strategy auto-selection

  /** The three equality-proven strategies a similarity join can run as.
    * [[DeletionJoin]] is never auto-picked: it reproduces the reference's
    * full deletion-signature scheme for fidelity. The round-6 A/B measured
    * it 2.4× the prefix path; the round-14 re-measure (sf0.1, alternating
    * fresh-plan runs, identical 2.97 M-pair output) shows WARM parity
    * (16.7–17.6 s vs 17.4–20.9 s) — the gap closed as the shared
    * verify/output tier became the cost. It stays opt-in because its
    * first-plan compile is heavier (~26 s cold vs ~19 s) and the prefix
    * path remains the simpler default, not because it rots.
    */
  sealed trait Strategy
  case object SegmentStrategy extends Strategy
  case object PrefixStrategy extends Strategy

  /** Cost inputs behind [[choose]]:
    *
    *   - `segEmitPerRec`: segment signatures a PROBE record emits —
    *     `Σ H(group)` over multigroup groups overlapping the admissible
    *     length window `[τ·s, s/τ]`;
    *   - `prefixEmitPerRec`: prefix tokens a record emits,
    *     `s − ⌈τ·s⌉ + 1`.
    */
  final case class StrategyEstimate(
      strategy: Strategy,
      segEmitPerRec: Double,
      prefixEmitPerRec: Double)

  /** Emission-ratio crossover (`segEmitPerRec / prefixEmitPerRec`) above
    * which the segment scheme's signature volume outweighs prefix's
    * candidate fan-out. Calibrated from six round-7 same-session
    * alternating A/Bs at sf0.1 (see [[choose]]): segment won every point
    * with ratio ≤ 24.6, prefix won at 31.8 — the threshold sits in the
    * measured gap.
    */
  val SegmentEmissionRatioBound = 28.0

  /** Cost-based strategy choice from corpus statistics, calibrated by
    * same-session alternating A/Bs at sf0.1 (round 7; cleared persist
    * cache before every timed run):
    *
    *   - **documents corpus** (dup-dense, 31-token vocabulary): segment
    *     wins at EVERY τ — 10.5 vs 16.2 s (τ=0.8, ratio 11), 13.6/28.9
    *     (0.7, ratio 13.5), 16.8/38.5 (0.6, ratio 17.9), 20.4/49.3
    *     (0.5, ratio 24.6). Prefix emits 10-25× fewer rows but each
    *     prefix token fans out by its df in the candidate join (28.7M
    *     raw candidates vs the segment scheme's ~6M at τ=0.8) —
    *     candidate volume, not emission count, drives this corpus. (The
    *     round-5 "prefix wins batch" record compared prefix against the
    *     DELETION path only; segment was never in that A/B.)
    *   - **2-gram shingle corpus** (q21's shape: 931-token vocabulary,
    *     token sets ~2× longer): prefix wins 2.3× (10.7 vs 24.5 s at
    *     τ=0.6, ratio 31.8) — the segment scheme pays `Σ H ≈ 700`
    *     signature hashes per record over long token arrays while
    *     prefix's 22 emissions/record stay candidate-light.
    *   - **index-reuse regime** (the q41 semi-stream shape) is not a
    *     choice: [[graft.streaming.SemiStreamSimilarityJoin]] always
    *     probes segment signatures, whose index caches by key (its
    *     prefix-token mode was measured slower, 49.6/56.3 s vs 42.3/49.3 s
    *     in the round-6 streaming A/B, and removed).
    *
    * The decision: segment unless the emission ratio crosses
    * [[SegmentEmissionRatioBound]] — the one statistic that separates
    * every measured point.
    */
  def choose(tokens: DataFrame, tau: Double, alpha: Double = 0.95): StrategyEstimate = {
    val row = tokens.agg(avg("slen"), min("slen"), max("slen")).head()
    if (row.isNullAt(0)) // empty corpus: nothing to join either way
      return StrategyEstimate(PrefixStrategy, 0.0, 0.0)
    val meanLen = row.getDouble(0)
    val minLen = row.getInt(1)
    val maxLen = row.getInt(2)

    val groups = multigroup(minLen, maxLen, alpha)
    val sLo = math.ceil(meanLen * tau - Eps)
    val sHi = math.floor(meanLen / tau + Eps)
    val overlapping = groups.filter { case (_, lo, hi) => hi >= sLo && lo <= sHi }
    val segEmit = overlapping.map { case (_, _, hi) => segmentCount(hi, tau).toDouble }.sum
    val preEmit = meanLen - sLo + 1

    val strategy =
      if (preEmit > 0 && segEmit / preEmit > SegmentEmissionRatioBound) PrefixStrategy
      else SegmentStrategy
    StrategyEstimate(strategy, segEmit, preEmit)
  }

  /** Self-join that picks its strategy by [[choose]] — the cost-based
    * dispatch over the equality-proven implementations (identical output
    * either way; only the plan differs).
    */
  def selfJoinAuto(docs: DataFrame, idCol: String, textCol: String, tau: Double): DataFrame =
    selfJoinAutoTokens(tokenize(docs, idCol, textCol), tau)

  /** [[selfJoinAuto]] over an already-tokenized corpus (`id, toks, slen`) —
    * the entry point for non-whitespace tokenizations (n-gram shingles,
    * q21) so every self-join regime runs the production chooser dispatch.
    */
  def selfJoinAutoTokens(toks: DataFrame, tau: Double): DataFrame =
    choose(toks, tau).strategy match {
      case SegmentStrategy => joinSets(toks, toks, tau, selfJoin = true)
      case PrefixStrategy  => prefixJoin(toks, toks, tau, selfJoin = true)
    }
}
