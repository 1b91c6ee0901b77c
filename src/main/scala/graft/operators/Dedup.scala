package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Large-scale document deduplication: exact, MinHash+LSH, and SimHash —
  * the LLM-pipeline dedup family, built on the same tokenize/verify core as
  * [[SimilarityJoin]] (the reference's signature machinery is the natural
  * substrate for MinHash dedup; see DSim-Join, `BuildSig.scala`).
  *
  * Every path is bucketed — candidates come from `groupBy`-shaped
  * equi-joins on band/block signatures, never an all-pairs comparison. At
  * 100 TB the only shuffles are: the signature explode-join (k·n rows of a
  * few longs), the pair dedup, and the iterative min-label propagation for
  * connected components (each iteration one shuffle of the label table;
  * iteration count = cluster diameter, small for near-dup graphs).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: survivors keep the minimum id per identical normalized
    * text (whitespace-collapsed). Output: (sid, rep) for every input row.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = regexp_replace(trim(col(textCol)), " +", " ")
    df.select(col(idCol).as("sid"), xxhash64(norm).as("thash"))
      .withColumn("rep", min("sid").over(
        org.apache.spark.sql.expressions.Window.partitionBy("thash")))
      .select("sid", "rep")
  }

  // -------------------------------------------------------------- minhash

  /** Banded LSH signatures: one row per (record, band) with the band's
    * signature folding its `rowsPerBand` MinHash slice. Two records with
    * Jaccard J share a band with probability 1−(1−J^r)^b. All bands come
    * from ONE native codegen pass ([[graft.functions.MinHashBands]] — one
    * string hash per token + cheap per-permutation mixes; the declarative
    * nested-HOF form re-hashed every token k times).
    * Output: (sid, band, bsig).
    */
  def bandSignatures(
      tokens: DataFrame,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    graft.functions.MinHashBands.register(tokens.sparkSession)
    tokens.select(
      col("sid"),
      posexplode(graft.functions.MinHashBands.minhash_bands(col("toks"), bands, rowsPerBand))
        .as(Seq("band", "bsig")))
  }

  /** Candidate pairs: records sharing any LSH bucket (`groupBy(band, sig)`
    * shape — the bucket self-join IS the groupBy clustering; no cross
    * join). Buckets up to `maxQuadBucket` members emit all pairs; MEGA
    * buckets (near-identical content clusters — on dup-dense corpora a
    * bucket can hold thousands of docs, making the self-join quadratic)
    * emit star edges to the bucket minimum instead: linear in bucket size
    * and connectivity-equivalent for duplicate CLUSTERING, with the b-band
    * redundancy still generating direct pairs through any smaller bucket.
    * Output: (x_id, y_id) with x_id < y_id, deduped.
    */
  def lshCandidates(
      tokens: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      maxQuadBucket: Int = 64): DataFrame = {
    val sigs = bandSignatures(tokens, bands, rowsPerBand)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bsig")
    val annotated = sigs
      .withColumn("bmin", min("sid").over(w))
      .withColumn("bcount", count(lit(1)).over(w))

    val small = annotated.filter(col("bcount") <= maxQuadBucket)
      .select(col("sid"), col("band"), col("bsig"))
    val smallPairs = small
      .join(
        small.select(col("sid").as("y_id"), col("band"), col("bsig")),
        Seq("band", "bsig"))
      .filter(col("sid") < col("y_id"))
      .select(col("sid").as("x_id"), col("y_id"))

    val starPairs = annotated
      .filter(col("bcount") > maxQuadBucket && col("sid") =!= col("bmin"))
      .select(col("bmin").as("x_id"), col("sid").as("y_id"))

    smallPairs.unionByName(starPairs).dropDuplicates("x_id", "y_id")
  }

  /** MinHash duplicate pairs, verified with EXACT Jaccard ≥ τ (verification
    * removes LSH false positives; false-negative rate is set by b/r — at
    * b=32, r=3 the miss probability at J=0.8 is (1−0.8³)^32 ≈ 1e-10).
    * Output: (x_id, y_id, jacc).
    */
  def minhashDuplicatePairs(
      tokens: DataFrame,
      tau: Double,
      bands: Int = 32,
      rowsPerBand: Int = 3,
      maxQuadBucket: Int = 64): DataFrame = {
    val cand = lshCandidates(tokens, bands, rowsPerBand, maxQuadBucket)
    SimilarityJoin.verify(cand, SimilarityJoin.xSide(tokens), SimilarityJoin.ySide(tokens), tau)
      .select("x_id", "y_id", "jacc")
  }

  // ------------------------------------------------ connected components

  /** Connected components by iterative min-label propagation: every node's
    * label converges to the minimum id reachable through `edges`. One
    * shuffle per iteration; iterations = graph diameter. State is
    * checkpointed each round to truncate lineage (same discipline as the
    * streaming cache state).
    * Input: `nodes(id)`, `edges(a, b)` undirected pairs. Output: (id, rep).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val und = edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    und.count()

    var labels = nodes.select(col("id"), col("id").as("rep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // convergence check: the sum of labels strictly decreases while any
    // label can still shrink (min-propagation is monotone), so one cheap
    // agg per iteration replaces a join+filter+count. Summed in
    // DECIMAL(38,0): a Long sum overflows (ANSI-mode exception) once id
    // ranges × row counts pass ~2⁶³ — 38 digits cover any realistic table.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val viaNeighbor = und
        .join(labels, und("b") === labels("id"))
        .select(und("a").as("id"), col("rep"))
      val next = labels.select("id", "rep").unionByName(viaNeighbor)
        .groupBy("id").agg(min("rep").as("rep"))
        .transform(graft.core.Materialize.apply) // truncate lineage every round
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist()
      labels = next
      iter += 1
    }
    und.unpersist()
    labels
  }

  /** Full MinHash dedup: every record labeled with its duplicate-cluster
    * representative (minimum reachable id through verified J ≥ τ pairs;
    * singletons map to themselves). Output: (sid, rep).
    */
  def minhashDedup(
      tokens: DataFrame,
      tau: Double,
      bands: Int = 32,
      rowsPerBand: Int = 3): DataFrame = {
    val pairs = minhashDuplicatePairs(tokens, tau, bands, rowsPerBand)
      .select(col("x_id").as("a"), col("y_id").as("b"))
    connectedComponents(tokens.select(col("sid").as("id")), pairs)
      .select(col("id").as("sid"), col("rep"))
  }

  /** Dedup with a QUALITY-AWARE survivor policy: cluster as in
    * [[minhashDedup]], then keep per cluster the record with the highest
    * `score` (ties → smaller id) instead of the smallest id — the policy
    * real curation pipelines run (keep the longest / highest-quality copy
    * of a near-duplicate group, drop the rest).
    *
    * `scores` is (sid, score) with an integer score so survivor choice is
    * exact. Scale shape: clusters come from the bucketed LSH + CC passes;
    * the survivor argmax is one groupBy(rep) over (id, rep, score) rows —
    * cluster count ∝ corpus, so the best-table joins back by rep
    * (hash-partitioned both sides), never a broadcast.
    * Output: (sid, rep, keep) — keep = 1 on each cluster's survivor.
    */
  def minhashDedupKeepBest(
      tokens: DataFrame,
      scores: DataFrame,
      tau: Double,
      bands: Int = 32,
      rowsPerBand: Int = 3): DataFrame = {
    val clusters = minhashDedup(tokens, tau, bands, rowsPerBand)
    val scored = clusters.join(scores, "sid")
    val best = scored
      .groupBy("rep")
      .agg(max_by(col("sid"), struct(col("score"), -col("sid"))).as("best_sid"))
    scored
      .join(best, "rep")
      .select(
        col("sid"),
        col("rep"),
        (col("sid") === col("best_sid")).cast("long").as("keep"))
  }

  /** HYBRID dedup: duplicate clusters over the UNION of two evidence
    * tiers — token-set near-duplication (MinHash candidates + exact
    * Jaccard ≥ `tauText`) and semantic near-duplication (same-IVF-cell
    * embedding cosine ≥ `tauSem`). A lightly-paraphrased copy fails the
    * token test but keeps high cosine; a template with swapped entities
    * keeps the tokens but drifts semantically — each tier catches what the
    * other misses, and connected components merge the evidence (a doc
    * token-dup of A and semantic-dup of B puts A, B, and the doc in one
    * cluster).
    *
    * `vectors` may cover only part of the corpus (docs without embeddings
    * get the token tier only). Both edge generators are the existing
    * bucketed passes — the union adds no new shuffle shape.
    * Output: (sid, rep) for every row of `tokens`.
    */
  def hybridDedup(
      tokens: DataFrame,
      vectors: DataFrame,
      tauText: Double,
      tauSem: Double,
      nCells: Int = 64): DataFrame = {
    val textEdges = minhashDuplicatePairs(tokens, tauText)
      .select(col("x_id").as("a"), col("y_id").as("b"))
    val semEdges = SimilaritySearch.cellPairs(vectors, tauSem, nCells)
      .select(col("x_id").as("a"), col("y_id").as("b"))
    val edges = textEdges.unionByName(semEdges).dropDuplicates("a", "b")
    connectedComponents(tokens.select(col("sid").as("id")), edges)
      .select(col("id").as("sid"), col("rep"))
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash fingerprint: bit p is set iff the sum over tokens of
    * ±1 (bit p of the token's MD5-derived hash, mapped to a sign) is
    * positive. One native codegen'd pass per record
    * ([[graft.functions.SimHash64]] — the declarative nested-fold form
    * re-hashed every token 64× in interpreted HOFs, 489 s at sf0.1); MD5
    * keeps the fingerprint engine-portable, so the pair output is
    * SQL-oracle-able. Callers must [[graft.functions.SimHash64.register]]
    * the session first ([[simhashPairs]] does).
    */
  def simhashColumn(toks: Column): Column =
    graft.functions.SimHash64.simhash64(toks)

  /** Near-duplicate pairs by SimHash: fingerprints within Hamming distance
    * ≤ `maxHamming`. Candidates by the block-pigeonhole trick: split 64
    * bits into maxHamming+1 blocks — pairs within distance d agree on at
    * least one block — then filter on exact `bit_count(xor)`.
    * Output: (x_id, y_id, hamming).
    */
  def simhashPairs(tokens: DataFrame, maxHamming: Int = 3): DataFrame = {
    graft.functions.SimHash64.register(tokens.sparkSession)
    val fp = tokens.select(col("sid"), simhashColumn(col("toks")).as("fp"))
    fingerprintPairs(fp, maxHamming)
  }

  /** Near-duplicate pairs over ANY 64-bit fingerprint relation (sid, fp):
    * the block-pigeonhole candidate join + exact `bit_count(xor)` verify
    * shared by [[simhashPairs]] and the multimodal perceptual-hash dedup
    * ([[Multimodal.phashPairs]]). Pairs within Hamming distance d agree
    * exactly on at least one of the maxHamming+1 bit blocks, so candidates
    * form on a (block index, block value) EQUI-join — never all-pairs.
    * Output: (x_id, y_id, hamming).
    */
  def fingerprintPairs(fp: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nBlocks = maxHamming + 1
    val blockBits = 64 / nBlocks
    val blocks = fp.withColumn("bi", explode(sequence(lit(0), lit(nBlocks - 1))))
      .withColumn(
        "bv",
        call_function("shiftright", col("fp"), col("bi") * blockBits)
          .bitwiseAND(lit((1L << blockBits) - 1)))
    val a = blocks.select(col("sid").as("x_id"), col("fp").as("x_fp"), col("bi"), col("bv"))
    val b = blocks.select(col("sid").as("y_id"), col("fp").as("y_fp"), col("bi"), col("bv"))
    a.join(b, Seq("bi", "bv"))
      .filter(col("x_id") < col("y_id"))
      .select(
        col("x_id"),
        col("y_id"),
        bit_count(col("x_fp").bitwiseXOR(col("y_fp"))).as("hamming"))
      // filter BEFORE the pair dedup: hamming is a pure function of the
      // pair so the order is semantically free, survivors are fewer, and
      // a filter on a non-key column after dropDuplicates trips a
      // Catalyst attribute-binding bug under exceptAll-style rewrites
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("x_id", "y_id")
  }

  // ------------------------------------------------------------- n-grams

  /** Word n-gram (shingle) token sets: consecutive n-token windows joined
    * with '_'. Feed to [[SimilarityJoin.joinSets]] or
    * [[minhashDuplicatePairs]] for shingle-Jaccard dedup.
    * Output: (sid, toks, slen) like [[SimilarityJoin.tokenize]].
    */
  def ngramTokens(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val words = filter(split(col(textCol), " "), t => length(t) > 0)
    df.select(col(idCol).as("sid"), words.as("w"))
      .filter(size(col("w")) >= n)
      .withColumn(
        "toks",
        array_distinct(transform(
          sequence(lit(0), size(col("w")) - n),
          i => concat_ws("_", slice(col("w"), i + 1, lit(n))))))
      .withColumn("slen", size(col("toks")))
      .select("sid", "toks", "slen")
  }

  // --------------------------------------------------- recall certificate

  /** RECALL certificate for a MinHash-LSH configuration: the measured
    * fraction of TRUE Jaccard-≥-τ pairs the banded signatures actually
    * surface, reported per similarity band — the audit a pipeline runs
    * before trusting (bands, rowsPerBand) on a new corpus, because LSH
    * recall degrades exactly where it hurts most (pairs just above τ,
    * where 1−(1−J^r)^b is smallest). Mirrors the quantization tier's
    * recall certificate (q130) on the dedup side.
    *
    * Ground truth comes from [[SimilarityJoin.joinSets]] — the exact,
    * scale-safe segment join (no brute force anywhere): both sides are
    * corpus-parallel algorithms, so the certificate itself runs at corpus
    * scale. Verified LSH pairs are a SUBSET of the exact pairs by
    * construction (verification is exact), so recall is the only axis.
    *
    * Output: one row per `bandBp`-wide Jaccard band,
    * (jacc_band_bp = band floor in basis points, n_true, n_found,
    * recall_bp = ⌊10⁴·n_found/n_true⌋).
    *
    * At corpus scale, run it over a deterministic hash stratum of the
    * documents (recall is a per-pair property, so a 1-in-s document sample
    * estimates it at 1/s² of the pair volume) — the q138 query is that
    * shape. Pass `maxQuadBucket = Int.MaxValue`: the certificate audits
    * PAIRS, and the default star-edge mega-bucket cap is a
    * clustering-only contract that would read as missing recall here.
    */
  def lshRecallCertificate(
      tokens: DataFrame,
      tau: Double,
      bands: Int = 32,
      rowsPerBand: Int = 3,
      bandBp: Int = 250,
      maxQuadBucket: Int = 64): DataFrame = {
    require(bandBp > 0 && bandBp <= 10000, s"bandBp out of range: $bandBp")
    val exact = SimilarityJoin.joinSets(tokens, tokens, tau, selfJoin = true)
      .select(col("x_id"), col("y_id"), expr("(10000 * inter) div uni").as("jacc_bp"))
    val found = minhashDuplicatePairs(tokens, tau, bands, rowsPerBand, maxQuadBucket)
      .select(col("x_id"), col("y_id"), lit(1L).as("hit"))
    exact
      .join(found, Seq("x_id", "y_id"), "left")
      .withColumn("jacc_band_bp", col("jacc_bp") - pmod(col("jacc_bp"), lit(bandBp)))
      .groupBy("jacc_band_bp")
      .agg(
        count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .withColumn("recall_bp", expr("(10000 * n_found) div n_true"))
  }
}
